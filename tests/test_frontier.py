"""Crawl-frontier prioritization + the skew-safe per-key top-k."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from coap_rfc_knowledge_graph_spark.functions.ranking import two_level_topk_per_key
from coap_rfc_knowledge_graph_spark.operators.frontier import crawl_frontier


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_two_level_topk_per_key_equals_naive_window(spark):
    # deterministic congruential values; key g0 is a head key (half
    # the rows) so the parity also covers the skew shape
    df = spark.range(3000).select(
        F.when(F.col("id") % 2 == 0, "g0")
        .otherwise(F.concat(F.lit("g"), (F.col("id") % 7 + 1).cast("string")))
        .alias("key"),
        ((F.col("id") * 2654435761) % 1000).alias("v"),
        F.col("id").alias("tie"),
    )
    order = [F.desc("v"), F.asc("tie")]
    naive = (
        df.withColumn("__r", F.row_number().over(Window.partitionBy("key").orderBy(*order)))
        .filter(F.col("__r") <= 5)
        .drop("__r")
    )
    for parts in (1, 4, 32):
        got = two_level_topk_per_key(df.repartition(parts), ["key"], order, 5)
        assert _rows(got) == _rows(naive), parts


def test_crawl_frontier_semantics(spark):
    edges = spark.createDataFrame(
        [
            # big.example: 3 candidates, one of them crawled
            ("https://x/1", "https://big.example/a/b/p1"),
            ("https://x/2", "https://big.example/a/b/p1"),
            ("https://x/3", "https://big.example/p2"),
            ("https://x/4", "https://big.example/done"),
            # tiny.example: no rank row -> host_rank 0
            ("https://x/5", "https://tiny.example/q"),
        ],
        "src string, dst string",
    )
    crawled = spark.createDataFrame([("https://big.example/done",)], "url string")
    ranks = spark.createDataFrame([("big.example", 7)], "host string, rank long")
    got = {r.url: r for r in crawl_frontier(edges, crawled, ranks, k=2).collect()}
    assert set(got) == {
        "https://big.example/a/b/p1",
        "https://big.example/p2",
        "https://tiny.example/q",
    }
    p1 = got["https://big.example/a/b/p1"]
    assert (p1.n_inlinks, p1.depth, p1.host_rank) == (2, 3, 7)
    assert p1.priority == 7 * 1000 + 2 * 10 - 3
    q = got["https://tiny.example/q"]
    assert (q.host_rank, q.priority) == (0, 0 * 1000 + 1 * 10 - 1)


def test_job_frontier_stage(spark, tmp_path):
    """--frontier materializes a 'frontier' stage from the job's own
    link_graph + host_ranks stages, excluding already-crawled urls and
    cutting to K per host."""
    import os
    import sys

    def page(i):
        # every page links to two c.example leaves and one crawled peer
        html = (
            f'<a href="https://c.example/new{i % 4}">n</a>'
            f'<a href="https://c.example/deep/new{i % 4}">d</a>'
            f'<a href="https://s{(i + 1) % 2}.example/p{(i + 1) % 6}">peer</a>'
        ).encode()
        return (f"https://s{i % 2}.example/p{i % 6}", html, f"Doc {i} MUST parse.", "en")

    rows = [page(i) for i in range(12)]
    src = str(tmp_path / "pages_src")
    spark.createDataFrame(rows, "url string, html binary, text string, lang string").write.parquet(src)
    out = str(tmp_path / "state")

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))
    import run_pipeline

    def run(*flags):
        old = sys.argv
        try:
            sys.argv = ["run_pipeline.py", "--pages", src, "--out", out, "--frontier", "3", *flags]
            run_pipeline.main()
        finally:
            sys.argv = old

    from coap_rfc_knowledge_graph_spark.plans.checkpointing import StageStore

    run("--host-ranks", "2")
    store = StageStore(out)
    assert store.has("frontier")
    m = store.manifest("frontier")
    assert m["inputs"] == ["link_graph", "pages", "host_ranks"] and m["params"] == {"k": 3}
    got = store.read(spark, "frontier").collect()
    # the host ranks' content is part of the frontier's identity: a
    # frontier built from different host_ranks must not be reused
    link_graph = store.manifest("link_graph")
    run("--host-ranks", "50")
    assert store.manifest("link_graph")["written_at"] == link_graph["written_at"]
    assert store.manifest("host_ranks")["params"] == {"iterations": 50}
    assert store.manifest("frontier")["written_at"] != m["written_at"]
    # peer links point at crawled pages (excluded); all 8 c.example
    # leaves tie on inlinks (3 each), shallow beats deep via -depth,
    # and the url-asc tiebreak picks new0..new2 of the 4 shallow ones
    assert sorted(r.url for r in got) == [f"https://c.example/new{j}" for j in range(3)]
    assert all(r.host == "c.example" and r.n_inlinks == 3 and r.depth == 1 for r in got)


def test_crawl_frontier_plan_shape(spark):
    """Scale guards, pinned on the physical plan: (a) the crawled side
    feeds the anti-join WITHOUT a pre-dedup aggregate (left_anti tests
    membership; a distinct would add a second full shuffle of a
    corpus-sized table), (b) no window runs without a partition spec
    (a global sort), (c) every window partitions on more than just the
    host until the bounded level-2 cut."""
    edges = spark.range(100).select(
        F.lit("https://s/p").alias("src"),
        F.concat(F.lit("https://h.example/f"), (F.col("id") % 9).cast("string")).alias("dst"),
    )
    crawled = spark.range(10).select(
        F.concat(F.lit("https://h.example/f"), (F.col("id") % 3).cast("string")).alias("url")
    )
    plan = (
        crawl_frontier(edges, crawled, None, k=2)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    # one Aggregate for the inlink count; none on the crawled branch
    assert plan.count("Aggregate") == 1, plan
    assert "windowspecdefinition()" not in plan.lower(), plan  # no empty spec
    # level 1 partitions on (host, __pid); level 2 on host alone
    assert plan.count("windowspecdefinition") == 2, plan


def test_crawl_frontier_k_cut_and_determinism(spark):
    # 40 candidate urls on one host, distinct inlink counts via
    # triangular fan-in; k=3 keeps the 3 most-linked
    edges = spark.range(40).select(
        F.explode(F.sequence(F.lit(0), F.col("id"))).alias("i"),
        F.concat(F.lit("https://h.example/f"), F.col("id").cast("string")).alias("dst"),
    ).select(F.concat(F.lit("https://s/"), F.col("i").cast("string")).alias("src"), "dst")
    crawled = spark.createDataFrame([], "url string")
    a = sorted(r.url for r in crawl_frontier(edges.repartition(1), crawled, None, k=3).collect())
    b = sorted(r.url for r in crawl_frontier(edges.repartition(16), crawled, None, k=3).collect())
    assert a == b == [
        "https://h.example/f37",
        "https://h.example/f38",
        "https://h.example/f39",
    ]


def test_schedule_fetches(spark):
    frontier = spark.createDataFrame(
        [
            ("a.example", "https://a.example/1", 900),
            ("a.example", "https://a.example/2", 500),
            ("a.example", "https://a.example/3", 500),  # tie -> url asc
            ("b.example", "https://b.example/1", 100),
        ],
        "host string, url string, priority long",
    )
    delays = spark.createDataFrame([("a.example", 2000)], "host string, delay_millis long")
    from coap_rfc_knowledge_graph_spark.operators.frontier import schedule_fetches

    got = {r.url: r for r in schedule_fetches(frontier, delays, default_delay_ms=700).collect()}
    assert got["https://a.example/1"].fetch_at_ms == 0
    assert got["https://a.example/2"].fetch_at_ms == 2000
    assert got["https://a.example/3"].fetch_at_ms == 4000
    # b.example has no delay row: default applies
    assert (got["https://b.example/1"].delay_millis,
            got["https://b.example/1"].fetch_at_ms) == (700, 0)


def test_schedule_fetches_host_with_two_robots_rows(spark):
    """A robots table with two files for one host (a re-crawl) must not
    fan out the frontier: the host keeps one row per url, spaced by the
    larger Crawl-delay."""
    from coap_rfc_knowledge_graph_spark.operators.frontier import schedule_fetches
    from coap_rfc_knowledge_graph_spark.operators.robots import parse_crawl_delays

    frontier = spark.createDataFrame(
        [("a.example", f"https://a.example/{i}", 10 - i) for i in range(3)],
        "host string, url string, priority long",
    )
    robots = spark.createDataFrame(
        [("a.example", b"User-agent: *\nCrawl-delay: 1\n"),
         ("a.example", b"User-agent: *\nCrawl-delay: 2.5\n")],
        "host string, payload binary",
    )
    got = sorted((r.url, r.delay_millis, r.fetch_at_ms)
                 for r in schedule_fetches(frontier, parse_crawl_delays(robots)).collect())
    assert got == [(f"https://a.example/{i}", 2500, 2500 * i) for i in range(3)]

def test_zip_with_rank_per_key_equals_naive_window(spark):
    """Per-key dense rank without a per-key window: exactly the naive
    row_number()-1 per key, at several partitionings, with a 50%-skew
    head key."""
    from coap_rfc_knowledge_graph_spark.functions.ranking import zip_with_rank_per_key

    df = spark.range(2000).select(
        F.when(F.col("id") % 2 == 0, "head")
        .otherwise(F.concat(F.lit("k"), (F.col("id") % 5 + 1).cast("string")))
        .alias("key"),
        ((F.col("id") * 48271) % 100000).alias("ent"),
    ).distinct()
    naive = df.withColumn(
        "idx",
        F.row_number().over(Window.partitionBy("key").orderBy("ent")).cast("long") - 1,
    )
    for parts in (1, 7, 32):
        got = zip_with_rank_per_key(df.repartition(parts), ["key"], ["ent"])
        assert _rows(got.select("key", "ent", "idx")) == _rows(
            naive.select("key", "ent", "idx")
        ), parts


def test_job_frontier_scheduled_with_robots(spark, tmp_path):
    """--frontier + --robots: the stage folds Crawl-delay in —
    fetch_at_ms spaces each host's fetches the declared delay apart."""
    import os
    import sys

    def page(i):
        html = "".join(
            f'<a href="https://c.example/new{j}">n</a>' for j in range(4)
        ).encode()
        return (f"https://s{i % 2}.example/p{i % 6}", html, f"Doc {i} MUST parse.", "en")

    src = str(tmp_path / "pages_src")
    spark.createDataFrame([page(i) for i in range(12)],
                          "url string, html binary, text string, lang string").write.parquet(src)
    robots = str(tmp_path / "robots_src")
    spark.createDataFrame(
        [("c.example", b"User-agent: *\nCrawl-delay: 2.5\n")],
        "host string, payload binary",
    ).write.parquet(robots)
    out = str(tmp_path / "state")

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))
    import run_pipeline

    old = sys.argv
    try:
        sys.argv = ["run_pipeline.py", "--pages", src, "--out", out,
                    "--frontier", "3", "--robots", robots]
        run_pipeline.main()
    finally:
        sys.argv = old
    from coap_rfc_knowledge_graph_spark.plans.checkpointing import StageStore

    got = sorted(StageStore(out).read(spark, "frontier").collect(),
                 key=lambda r: r.fetch_at_ms)
    assert [r.fetch_at_ms for r in got] == [0, 2500, 5000]
    assert all(r.delay_millis == 2500 and r.host == "c.example" for r in got)
