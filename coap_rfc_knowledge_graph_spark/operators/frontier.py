"""Crawl-frontier prioritization — turning this pipeline's own
products (the hyperlink graph, the crawled-page set, the host ranks)
into the NEXT crawl's fetch list.

Not in the reference (SURVEY.md §2.6 extension list); this is the
closing arc of the web-ingest family: ``html_extract.html_links``
discovers outlinks, ``webgraph.host_graph`` + ``pagerank_weighted``
rank hosts, ``webtext.crawl_delta`` scopes the re-crawl — and this
operator composes them into a per-host top-k frontier of UNCRAWLED
urls, scored with exact BIGINT arithmetic (floats don't cross-engine
hash and a frontier must be reproducible run-to-run):

    priority = host_rank * rank_scale + n_inlinks * inlink_scale - depth

- host_rank: the fixed-point BIGINT rank from ``pagerank_weighted``
  over the host graph (missing hosts score 0 — new hosts still enter
  the frontier through their inlink count).
- n_inlinks: how many discovered edges point at the url — the classic
  crawl-ordering signal (Cho, Garcia-Molina & Page, "Efficient
  crawling through URL ordering", WWW 1998).
- depth: path-segment count; shallow urls first within a tie
  (breadth-ish ordering is the strongest simple frontier heuristic in
  the same literature).

Scale shape (10^12 discovered edges):
- the candidate set is one hash aggregate on dst (map-side partial
  combine carries one row per distinct url per map task);
- the crawled-set subtraction is a left-anti join on the url key —
  at production scale both sides bucket on url, so it co-locates;
- the host-rank join is host-keyed (rank tables are host-bounded:
  millions of rows — broadcast under the session threshold);
- the per-host cut uses ``ranking.two_level_topk_per_key``: a plain
  per-host window would sort the whole head host in ONE task (the
  fan-in skew class `tests/test_kg_build.py` pins for salted_top1);
  the two-level form keeps a head host's rows spread across their
  input partitions until only k * n_partitions survivors remain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def crawl_frontier(
    edges: DataFrame,
    crawled: DataFrame,
    host_ranks: DataFrame | None = None,
    k: int = 100,
    rank_scale: int = 1000,
    inlink_scale: int = 10,
    url_col: str = "url",
) -> DataFrame:
    """(src, dst) discovered-edge table + crawled url table
    (+ optional (host, rank) table) -> per-host top-``k`` frontier:

        (host, url, n_inlinks, depth, host_rank, priority)

    ordered within each host by (priority desc, url asc) — a
    deterministic total order, so the frontier is identical under any
    partitioning. Urls already in ``crawled`` are excluded; hosts
    absent from ``host_ranks`` rank 0."""
    from .webtext import url_parts

    # no .distinct() on the crawled side: left_anti tests membership, so
    # duplicates are harmless and a pre-dedup would add a second full
    # shuffle+aggregate of a corpus-sized table for nothing
    candidates = (
        edges.groupBy(F.col("dst").alias("url"))
        .agg(F.count(F.lit(1)).alias("n_inlinks"))
        .join(crawled.select(F.col(url_col).alias("url")), "url", "left_anti")
    )
    parts = url_parts(candidates, "url")
    scored = parts.select(
        "host",
        "url",
        "n_inlinks",
        F.size(F.filter(F.split("path", "/"), lambda s: s != "")).cast("long").alias("depth"),
    )
    if host_ranks is not None:
        scored = scored.join(
            host_ranks.select("host", F.col("rank").alias("__hr")), "host", "left"
        )
    else:
        scored = scored.withColumn("__hr", F.lit(None).cast("long"))
    scored = scored.select(
        "host",
        "url",
        "n_inlinks",
        "depth",
        F.coalesce("__hr", F.lit(0)).alias("host_rank"),
        (
            F.coalesce("__hr", F.lit(0)) * rank_scale
            + F.col("n_inlinks") * inlink_scale
            - F.col("depth")
        ).alias("priority"),
    )
    from ..functions.ranking import two_level_topk_per_key

    return two_level_topk_per_key(
        scored, ["host"], [F.desc("priority"), F.asc("url")], k
    )


def schedule_fetches(
    frontier: DataFrame,
    delays: DataFrame | None = None,
    default_delay_ms: int = 1000,
) -> DataFrame:
    """Politeness scheduling over a :func:`crawl_frontier` output:
    adds ``fetch_at_ms`` — the host-relative fetch offset spacing
    requests ``delay_millis`` apart in priority order (the de-facto
    Crawl-delay contract; see ``robots.parse_crawl_delays``). Hosts
    absent from ``delays`` use ``default_delay_ms``; a host with several
    delay rows (e.g. re-crawled robots files) uses the largest, matching
    ``parse_crawl_delay_text``'s max-wins convention.

        fetch_at_ms = (rank_within_host - 1) * delay_millis

    The per-host window here is SAFE at any corpus size — unlike the
    pre-cut candidate set, the frontier is already bounded to k rows
    per host by construction, so the window input per key is k, not
    the head host's fan-in. All BIGINT, total order (priority desc,
    url asc): engine-exact."""
    from pyspark.sql import Window

    out = frontier
    if delays is not None:
        # one row per host before the join: several would fan out the frontier
        per_host = delays.groupBy("host").agg(F.max("delay_millis").alias("delay_millis"))
        out = out.join(per_host, "host", "left")
    else:
        out = out.withColumn("delay_millis", F.lit(None).cast("long"))
    w = Window.partitionBy("host").orderBy(F.desc("priority"), F.asc("url"))
    return out.select(
        "host",
        "url",
        "priority",
        F.coalesce("delay_millis", F.lit(default_delay_ms)).alias("delay_millis"),
        (
            (F.row_number().over(w) - 1)
            * F.coalesce("delay_millis", F.lit(default_delay_ms))
        ).cast("long").alias("fetch_at_ms"),
    )
