"""spark-submit entry point: full KG construction with resumable stages.

    spark-submit --py-files dist/coap_rfc_knowledge_graph_spark.zip \\
        jobs/run_pipeline.py --pages <parquet path> --out <state root> \\
        [--url-partitions N] [--resume] [pre-pass and crawl-stage flags]

Runs the declared stages (``job_stages``: optional crawl stages,
curated_pages when a pre-pass flag is set, the seven KG stages) through
the lineage-manifest StageStore (plans/checkpointing.py). A stage is
reused iff its params, the files it reads (--pages, --robots,
--domain-blocklist, --decontaminate, --lm-reference, --delta-against)
and its upstream stages' content are unchanged, so a re-run into the
same --out with other flags or rewritten inputs recomputes exactly the
dependent stages. --url-partitions and --app-name are not part of
identity: output content does not depend on them, and a killed run may
resume at another parallelism.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True, help="pages table parquet path")
    ap.add_argument("--out", required=True, help="stage-store root (checkpoints + outputs)")
    ap.add_argument("--url-partitions", type=int, default=None)
    ap.add_argument("--app-name", default="kg-construct")
    ap.add_argument(
        "--resume",
        action="store_true",
        help="accepted for explicitness; resume is automatic — a stage "
        "whose identity is unchanged is skipped via its manifest either way",
    )
    ap.add_argument(
        "--from-warc",
        action="store_true",
        help="treat --pages as a directory of WARC/WARC.GZ crawl files "
        "(Common-Crawl layout) instead of a parquet pages table; records "
        "are parsed into the pages schema at ingest (text/lang NULL)",
    )
    ap.add_argument(
        "--html-extract",
        action="store_true",
        help="fill NULL text from the html column via the jusText-lite "
        "block gate (rows already carrying text pass through); runs "
        "before every text pre-pass",
    )
    ap.add_argument(
        "--normalize-unicode",
        nargs="?",
        const="NFC",
        default=None,
        metavar="FORM",
        choices=["NFC", "NFKC", "NFD", "NFKD"],
        help="strip C0/C1 controls, Unicode-normalize text (default "
        "NFC), and collapse whitespace BEFORE the dedup family — exact "
        "dedup, shingles and line hashes key on text bytes, so mixed "
        "compositions silently fragment them",
    )
    ap.add_argument(
        "--clean",
        action="store_true",
        help="run the C4/Gopher-style clean_corpus pre-pass (quality + "
        "repetition gates, exact-dedup keep-first by url) on the pages "
        "table before extraction",
    )
    ap.add_argument(
        "--url-curation",
        action="store_true",
        help="canonicalize URLs, drop blocklisted/over-cap domains, and "
        "collapse re-crawls to the latest snapshot before any text op "
        "(RefinedWeb/CCNet-style ingest pre-pass)",
    )
    ap.add_argument(
        "--domain-blocklist",
        metavar="HOSTS_FILE",
        default=None,
        help="newline-delimited host blocklist for --url-curation",
    )
    ap.add_argument(
        "--head-cap-frac",
        type=float,
        default=None,
        help="with --url-curation: drop any domain holding more than "
        "this fraction of the (post-blocklist) corpus",
    )
    ap.add_argument(
        "--cap-by-registered-domain",
        action="store_true",
        help="with --head-cap-frac: apply the cap per registrable "
        "domain (public-suffix aware) instead of per host, so a "
        "site's subdomains cannot dodge it",
    )
    ap.add_argument(
        "--decontaminate",
        metavar="EVAL_PARQUET",
        default=None,
        help="path to a held-out eval table (eval_id, text); training "
        "pages sharing a 13-token-gram with it are anti-joined away "
        "before extraction (GPT-3-style benchmark decontamination)",
    )
    ap.add_argument(
        "--pii-redact",
        action="store_true",
        help="mask emails/IPv4s/phones in the text column before "
        "extraction (Dolma/RefinedWeb-style PII scrub; zero-shuffle "
        "regexp projections)",
    )
    ap.add_argument(
        "--line-dedup",
        action="store_true",
        help="drop repeated lines WITHIN each page (RefinedWeb-style "
        "per-page boilerplate removal: nav rows, footers, list spam), "
        "keeping each page's first occurrence; independent of "
        "--paragraph-dedup, which dedups across the whole corpus",
    )
    ap.add_argument(
        "--link-graph",
        action="store_true",
        help="also materialize the hyperlink graph (src, dst, anchor) "
        "extracted from the RAW ingested pages' html as a 'link_graph' "
        "stage (resumable like every other stage)",
    )
    ap.add_argument(
        "--robots",
        metavar="ROBOTS_PARQUET",
        default=None,
        help="RFC 9309 compliance gate: drop pages disallowed by this "
        "(host, payload) robots.txt table BEFORE any other pre-pass "
        "(a pipeline must not process content it may not fetch); "
        "longest-prefix-match, Allow wins ties, hosts with no rules "
        "are allowed",
    )
    ap.add_argument(
        "--canonical-collapse",
        action="store_true",
        help="collapse pages onto their rel=canonical target: group by "
        "coalesce(canonical_url, url) keeping the max-(warc_ts, url) "
        "row — removes syndicated / tracking-parameter duplicates "
        "BEFORE any content hashing; runs right after the robots gate",
    )
    ap.add_argument(
        "--delta-against",
        metavar="OLD_SNAPSHOT",
        default=None,
        help="incremental re-crawl: keep only pages whose content "
        "fingerprint is new or changed relative to this previous "
        "(url, text) snapshot, so the run costs O(delta) not "
        "O(corpus); removed urls are reported, not processed",
    )
    ap.add_argument(
        "--host-ranks",
        type=int,
        nargs="?",
        const=4,
        default=None,
        metavar="ITERS",
        help="also materialize host-level domain ranks: aggregate the "
        "hyperlink graph to the weighted host graph and run weighted "
        "fixed-point PageRank for ITERS iterations (default 4) as a "
        "'host_ranks' stage (the Common-Crawl host-webgraph product); "
        "implies --link-graph",
    )
    ap.add_argument(
        "--wet-out",
        metavar="DIR",
        default=None,
        help="also export the (curated) pages' text as Common-Crawl-"
        "style WET files (WARC conversion records, one gzip member per "
        "record, one segment file per task) into DIR — the archive-"
        "format product downstream text consumers already read",
    )
    ap.add_argument(
        "--frontier",
        type=int,
        nargs="?",
        const=100,
        default=None,
        metavar="K",
        help="also materialize the next-crawl frontier as a 'frontier' "
        "stage: top-K (default 100) not-yet-crawled outlink urls per "
        "host, scored host_rank*1000 + inlinks*10 - depth with exact "
        "BIGINT arithmetic (host ranks come from the --host-ranks "
        "stage when enabled, else 0); implies --link-graph",
    )
    ap.add_argument(
        "--substring-dedup",
        type=int,
        nargs="?",
        const=50,
        default=None,
        metavar="MIN_SPAN",
        help="excise corpus-duplicated token runs of at least MIN_SPAN "
        "tokens (default 50, Lee et al.'s threshold) via content-"
        "defined chunking; runs after the page-level dedups, before "
        "--clean",
    )
    ap.add_argument(
        "--lm-select-permille",
        type=int,
        default=None,
        metavar="P",
        help="CCNet-style selection: keep only the P permille of pages "
        "whose bigram LM coverage ranks highest (the low-perplexity "
        "head). Runs LAST among the pre-passes, over the already "
        "cleaned/deduped text. Pages with fewer than two tokens are "
        "unscoreable and dropped.",
    )
    ap.add_argument(
        "--lm-reference",
        metavar="REF_PARQUET",
        default=None,
        help="with --lm-select-permille: train the LM on this trusted "
        "reference table (url, text) instead of the page corpus itself",
    )
    ap.add_argument(
        "--paragraph-dedup",
        action="store_true",
        help="drop every paragraph except its global first occurrence "
        "(Dolma-style boilerplate removal; paragraphs = blank-line "
        "blocks, falling back to 64-word windows for unmarked text), "
        "rewriting each page's text to the surviving paragraphs",
    )
    args = ap.parse_args()
    if not args.url_curation and (
        args.domain_blocklist or args.head_cap_frac is not None or args.cap_by_registered_domain
    ):
        ap.error(
            "--domain-blocklist/--head-cap-frac/--cap-by-registered-domain "
            "require --url-curation (they would otherwise be silently ignored)"
        )
    if args.lm_select_permille is not None and not 0 < args.lm_select_permille <= 1000:
        ap.error("--lm-select-permille must be in (0, 1000]")
    if args.substring_dedup is not None and args.substring_dedup < 1:
        # min_span 0 would excise every duplicated 1-token chunk of a
        # common anchored word — shredding ordinary text corpus-wide
        ap.error("--substring-dedup MIN_SPAN must be >= 1")
    if args.lm_reference and args.lm_select_permille is None:
        ap.error("--lm-reference requires --lm-select-permille")
    if args.host_ranks is not None and args.host_ranks < 1:
        ap.error("--host-ranks ITERS must be >= 1")
    if args.frontier is not None and args.frontier < 1:
        ap.error("--frontier K must be >= 1")

    from pyspark.sql import SparkSession

    from coap_rfc_knowledge_graph_spark.plans.checkpointing import Source, StageStore, run_stages
    from coap_rfc_knowledge_graph_spark.sources import warc

    # under spark-submit there is no session yet and we own the one we
    # create; when embedded (tests, notebooks) getOrCreate returns the
    # caller's session, which is not ours to stop
    owns_session = SparkSession.getActiveSession() is None
    spark = SparkSession.builder.appName(args.app_name).getOrCreate()

    def load_pages():
        return warc.read_warc(spark, args.pages) if args.from_warc else spark.read.parquet(args.pages)

    sources = {"pages": Source(args.pages, load_pages)}
    sources.update({p: Source(getattr(args, p)) for p in PREPASS_PATHS if getattr(args, p)})
    stages = job_stages(args)
    store = StageStore(args.out)
    get = run_stages(spark, store, stages, sources)
    if args.wet_out:
        from pyspark.sql import functions as F

        # the pages the KG stages read: curated when any pre-pass runs
        wet_pages = get("curated_pages" if any(s.name == "curated_pages" for s in stages) else "pages")
        if "warc_ts" not in wet_pages.columns:
            wet_pages = wet_pages.withColumn("warc_ts", F.lit(None).cast("timestamp"))
        manifest = warc.write_wet(wet_pages, args.wet_out).collect()
        n_rec = sum(r.n_records for r in manifest)
        n_files = sum(1 for r in manifest if r.path)
        print(f"wet_out: files={n_files} records={n_rec} dir={args.wet_out}")
    for stage in stages:
        m = store.manifest(stage.name)
        print(f"{stage.name}: rows={m['row_count']} hash={m['table_hash']}")
    if owns_session:
        spark.stop()


# the pre-pass flags; those naming a file or table are inputs of the
# curated_pages stage, the rest its params
PREPASS_FLAGS = (
    "robots", "canonical_collapse", "delta_against", "url_curation", "domain_blocklist", "head_cap_frac",
    "cap_by_registered_domain", "html_extract", "normalize_unicode", "pii_redact", "paragraph_dedup",
    "line_dedup", "substring_dedup", "clean", "decontaminate", "lm_select_permille", "lm_reference",
)
PREPASS_PATHS = ("robots", "delta_against", "domain_blocklist", "decontaminate", "lm_reference")


def job_stages(args) -> list:
    """The job's stages, in run order: the optional crawl stages
    (link_graph, host_ranks, frontier), curated_pages when any pre-pass
    flag is set, then the seven KG stages over the (curated) pages."""
    from coap_rfc_knowledge_graph_spark.plans.checkpointing import Stage, kg_stages

    stages = []
    if args.link_graph or args.host_ranks is not None or args.frontier is not None:
        # from the RAW ingested pages: curation may rewrite text, but
        # the link graph is a property of the crawl itself
        stages.append(Stage("link_graph", ("pages",), _link_graph))
    if args.host_ranks is not None:
        stages.append(Stage("host_ranks", ("link_graph",), _host_ranks, {"iterations": args.host_ranks}))
    if args.frontier is not None:
        # ranked when --host-ranks runs; Crawl-delay-scheduled from the
        # same robots table the compliance gate reads when --robots is given
        inputs = ("link_graph", "pages") + ("host_ranks",) * (args.host_ranks is not None)
        inputs += ("robots",) * bool(args.robots)
        stages.append(Stage("frontier", inputs, _frontier, {"k": args.frontier}))
    curating = any(getattr(args, f) not in (None, False) for f in PREPASS_FLAGS)
    if curating:
        # the curation pre-passes run through the SAME lineage-manifest
        # store as the extraction stages: at 100 TB a crashed curation
        # pass must resume from its committed snapshot, not recompute
        params = {f: getattr(args, f) for f in PREPASS_FLAGS if f not in PREPASS_PATHS}
        paths = tuple(p for p in PREPASS_PATHS if getattr(args, p))
        stages.append(Stage("curated_pages", ("pages",) + paths, _curate, params))
    return stages + kg_stages("curated_pages" if curating else "pages", args.url_partitions)


def _link_graph(pages):
    from coap_rfc_knowledge_graph_spark.operators.html_extract import html_links

    return html_links(pages)


def _host_ranks(link_graph, iterations):
    from coap_rfc_knowledge_graph_spark.operators.webgraph import host_graph, pagerank_weighted

    return pagerank_weighted(
        host_graph(link_graph), iterations=iterations, src_col="src_host", dst_col="dst_host"
    ).withColumnRenamed("node", "host")


def _frontier(link_graph, pages, k, host_ranks=None, robots=None):
    from coap_rfc_knowledge_graph_spark.operators.frontier import crawl_frontier, schedule_fetches
    from coap_rfc_knowledge_graph_spark.operators.robots import parse_crawl_delays

    frontier = crawl_frontier(link_graph, pages.select("url"), host_ranks, k=k)
    if robots is None:
        return frontier
    # politeness scheduling: fetch_at_ms spaces each host's fetches
    # Crawl-delay apart in priority order
    return schedule_fetches(frontier, parse_crawl_delays(pages.sparkSession.read.parquet(robots)))


def _curate(pages, **flags):
    from pyspark.sql import functions as F

    args = argparse.Namespace(**{**dict.fromkeys(PREPASS_PATHS), **flags})
    return _apply_prepasses(pages.sparkSession, pages, args, F)


def _apply_prepasses(spark, pages, args, F):
    if getattr(args, "robots", None):
        # compliance FIRST: nothing downstream may see disallowed pages
        from coap_rfc_knowledge_graph_spark.operators.robots import (
            parse_robots,
            robots_filter,
        )

        rules = parse_robots(spark.read.parquet(args.robots))
        pages = (
            robots_filter(pages, rules)
            .filter(F.col("robots_allowed"))
            .drop("robots_allowed")
        )
    if getattr(args, "canonical_collapse", False):
        # one row per canonical target: syndicated / tracking-parameter
        # variants collapse BEFORE any content hashing, via the same
        # packed-struct max aggregate as re-crawl collapse (no window)
        from coap_rfc_knowledge_graph_spark.operators.html_extract import html_head_meta
        from coap_rfc_knowledge_graph_spark.operators.webtext import latest_snapshot

        original_cols = list(pages.columns)
        canon = html_head_meta(pages).select("url", "canonical_url")
        keyed = (
            pages.join(canon, "url", "left")
            .withColumn("__ckey", F.coalesce("canonical_url", "url"))
            .drop("canonical_url")
        )
        order = tuple(c for c in ("warc_ts",) if c in original_cols) + ("url",)
        payload = tuple(c for c in original_cols if c not in order)
        pages = latest_snapshot(
            keyed, key_col="__ckey", order_cols=order, payload_cols=payload
        ).select(*original_cols)
    if getattr(args, "delta_against", None):
        # O(delta) re-crawl: only new/changed content re-enters the
        # pipeline (fingerprint = md5 of the text bytes; the old
        # snapshot needs (url, text))
        from coap_rfc_knowledge_graph_spark.operators.webtext import crawl_delta

        fp = lambda df: df.select(  # noqa: E731
            "url", F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("fingerprint")
        )
        keep = (
            crawl_delta(fp(spark.read.parquet(args.delta_against)), fp(pages))
            .filter(F.col("status").isin("added", "changed"))
            .select("url")
        )
        pages = pages.join(keep, "url")
    if args.url_curation:
        from coap_rfc_knowledge_graph_spark.operators.webtext import curate_urls

        blocklist: tuple[str, ...] = ()
        if args.domain_blocklist:
            with open(args.domain_blocklist, encoding="utf-8") as fh:
                # normalized like the parsed host column (lowercase, no
                # trailing dot) — a mixed-case file entry would
                # otherwise silently block nothing
                blocklist = tuple(
                    ln.strip().lower().rstrip(".") for ln in fh if ln.strip()
                )
        pages = curate_urls(
            pages,
            blocklist=blocklist,
            head_cap_frac=args.head_cap_frac,
            cap_by_registered_domain=args.cap_by_registered_domain,
        )
    # getattr: embedded callers (tests) build partial Namespaces
    if getattr(args, "html_extract", False):
        from coap_rfc_knowledge_graph_spark.operators.html_extract import fill_text_from_html

        pages = fill_text_from_html(pages)
    if getattr(args, "normalize_unicode", None) is not None:
        from coap_rfc_knowledge_graph_spark.operators.normalize import normalize_corpus

        pages = normalize_corpus(pages, form=args.normalize_unicode)
    if args.pii_redact:
        from coap_rfc_knowledge_graph_spark.operators.pii import redact_pii

        pages = (
            redact_pii(pages)
            .drop("text", "n_emails", "n_ips", "n_phones")
            .withColumnRenamed("redacted", "text")
        )
    if args.paragraph_dedup or args.line_dedup:
        from coap_rfc_knowledge_graph_spark.operators.dedup import (
            dedup_lines_in_doc,
            paragraph_dedup,
            split_paragraphs,
        )

        # blank-line blocks when the corpus has them; 64-word windows
        # otherwise (one cheap existence probe per pass — the line pass
        # rejoins survivors with spaces, so the paragraph pass must
        # re-probe rather than trust the pre-line-dedup answer)
        def _split(pages):
            has_marks = pages.filter(F.col("text").contains("\n\n")).limit(1).count() > 0
            return split_paragraphs(
                pages, id_col="url", sep=r"\n{2,}" if has_marks else None, words=64
            )

        if args.line_dedup:
            kept = dedup_lines_in_doc(_split(pages), id_col="url")
            pages = pages.drop("text").join(
                kept.select("url", F.col("text_kept").alias("text")), "url"
            )
        if args.paragraph_dedup:
            kept = paragraph_dedup(_split(pages), id_col="url")
            pages = pages.drop("text").join(
                kept.select("url", F.col("text_kept").alias("text")), "url"
            )
    if getattr(args, "substring_dedup", None) is not None:
        from coap_rfc_knowledge_graph_spark.operators.substring_dedup import (
            remove_duplicate_spans,
        )

        # one checkpoint serves all three consumers (span derivation,
        # rewrite join inside the operator, and the join-back here) —
        # upstream prepasses must not re-evaluate
        pages = pages.localCheckpoint(eager=False)
        kept = remove_duplicate_spans(pages, min_span=args.substring_dedup, id_col="url")
        pages = pages.drop("text").join(
            kept.select(F.col("doc_id").alias("url"), F.col("text_kept").alias("text")), "url"
        )
    if args.clean:
        from coap_rfc_knowledge_graph_spark.operators.text_stats import clean_corpus

        pages = clean_corpus(pages, id_col="url").drop("quality_score")
    if args.decontaminate:
        from coap_rfc_knowledge_graph_spark.operators.dedup import decontaminate

        ev = spark.read.parquet(args.decontaminate)
        flagged = decontaminate(pages, ev, id_col="url").select(
            F.col("doc_id").alias("url")
        )
        pages = pages.join(flagged, on="url", how="left_anti")
    if args.lm_select_permille is not None:
        from coap_rfc_knowledge_graph_spark.operators.corpus_lm import (
            prune_top_bigrams,
            train_bigram_lm,
        )
        from coap_rfc_knowledge_graph_spark.operators.data_selection import (
            coverage_buckets,
        )

        # checkpoint first: LM training (when self-referenced), scoring,
        # and the final semi join all consume `pages` — without this the
        # whole upstream pre-pass lineage (PII regexes, paragraph dedup,
        # clean gates, decontamination) would re-evaluate three times
        pages = pages.localCheckpoint(eager=False)
        # production shape: top-1M vocabulary cut + broadcast LM, so the
        # scoring pass never shuffles the page corpus
        ref = spark.read.parquet(args.lm_reference) if args.lm_reference else pages
        lm = prune_top_bigrams(train_bigram_lm(ref, id_col="url"), 1_000_000)
        buckets = coverage_buckets(pages, lm, n_buckets=1000, id_col="url", broadcast_lm=True)
        keep = buckets.filter(F.col("bucket") < args.lm_select_permille).select("url")
        pages = pages.join(keep, on="url", how="left_semi")
    return pages


if __name__ == "__main__":
    main()
