"""Kill/resume lineage test (north rule) + coref operator tests."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from coap_rfc_knowledge_graph_spark.operators.coref import find_pronouns, resolve_coreferences
from coap_rfc_knowledge_graph_spark.plans.checkpointing import StageStore, run_resumable
from coap_rfc_knowledge_graph_spark.sources.pages import synthetic_pages


def test_kill_resume_identical_output(spark, tmp_path):
    """Crash after the 'triples' stage; resume must (a) skip completed
    stages, (b) produce byte-identical final tables (manifest table_hash
    equality certifies it, partitioning-insensitively)."""
    pages = synthetic_pages(spark, 12, seed=21)
    root_a = str(tmp_path / "run_a")
    root_b = str(tmp_path / "run_b")

    # uninterrupted reference run
    store_a = run_resumable(spark, pages, root_a, url_partitions=4)

    # killed run + resume at different parallelism
    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, pages, root_b, url_partitions=4, fail_after="triples")
    # stages after the crash are absent
    sb = StageStore(root_b)
    assert sb.has("sentences") and sb.has("triples")
    assert not sb.has("entities") and not sb.has("rules")
    # resume (different url_partitions must not change content hashes)
    mtimes = {s: os.path.getmtime(sb.manifest_path(s)) for s in ["sentences", "mentions", "triples"]}
    store_b = run_resumable(spark, pages, root_b, url_partitions=8)
    # completed stages were not recomputed
    for s, t in mtimes.items():
        assert os.path.getmtime(sb.manifest_path(s)) == t, f"stage {s} was recomputed"
    for stage in ["sentences", "mentions", "triples", "entities", "rules", "edges", "contradictions"]:
        ma, mb = store_a.manifest(stage), store_b.manifest(stage)
        assert ma["row_count"] == mb["row_count"], stage
        assert ma["table_hash"] == mb["table_hash"], stage
        assert mb["inputs"] == ma["inputs"]


def test_manifest_contents(spark, tmp_path):
    store = StageStore(str(tmp_path))
    df = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))
    store.write(df, "demo", inputs=["src"])
    m = store.manifest("demo")
    assert m["row_count"] == 100
    assert m["complete"] is True
    assert m["inputs"] == ["src"]
    assert sum(p["rows"] for p in m["partitions"]) == 100
    assert isinstance(m["table_hash"], int)
    # re-read round-trip
    assert store.read(spark, "demo").count() == 100


# --- coref -------------------------------------------------------------------


def test_find_pronouns_occurrences(spark):
    rows = [
        ("u", 0, "The Server sends a Token."),
        ("u", 1, "It stores it in the field and they read it."),
    ]
    sents = spark.createDataFrame(rows, "url string, sent_id int, sentence string")
    got = {
        (r["sent_id"], r["pronoun"], r["occurrence"])
        for r in find_pronouns(sents, pronouns=["it", "they"]).collect()
    }
    # 'It' (capitalized) + 2 lowercase 'it' -> occurrences 1..3
    assert (1, "it", 1) in got and (1, "it", 2) in got and (1, "it", 3) in got
    assert (1, "they", 1) in got
    assert not any(s == 0 for s, _, _ in got)


def test_resolve_coreferences(spark):
    rows = [
        ("u", 0, "The CoAP Server accepts requests."),
        ("u", 1, "It MUST reply promptly."),
    ]
    sents = spark.createDataFrame(rows, "url string, sent_id int, sentence string")
    got = resolve_coreferences(sents, pronouns=["it"]).collect()
    assert len(got) == 1
    r = got[0]
    assert r["sent_id"] == 1 and r["pronoun"] == "it"
    assert "CoAP Server" in r["antecedent"]


def test_job_prepass_runs_through_stage_store(spark, tmp_path):
    """jobs/run_pipeline.py with curation flags must write the composed
    pre-pass as a 'curated_pages' stage (lineage manifest + committed
    parquet) and SKIP it on resume — a crashed 100-TB curation pass
    restarts from its snapshot, not from scratch."""
    import os
    import sys

    base = "the quick brown fox is happy to run for miles in the field with a friend today"
    rows = [
        (f"https://s{i % 3}.com/p{i}", None, f"mail u{i}@x.com and then {base} episode number {i}", "en")
        for i in range(20)
    ]
    src = str(tmp_path / "pages_src")
    spark.createDataFrame(rows, "url string, html binary, text string, lang string").write.parquet(src)
    out = str(tmp_path / "state")

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))
    import run_pipeline

    argv = ["run_pipeline.py", "--pages", src, "--out", out, "--pii-redact", "--clean"]
    old = sys.argv
    try:
        sys.argv = argv
        run_pipeline.main()
        from coap_rfc_knowledge_graph_spark.plans.checkpointing import StageStore

        store = StageStore(out)
        assert store.has("curated_pages")
        m1 = store.manifest("curated_pages")
        assert m1["row_count"] > 0 and m1["inputs"] == ["pages"]
        # masked text committed in the snapshot
        snap = store.read(spark, "curated_pages")
        assert snap.filter(snap.text.contains("@")).count() == 0
        written_at = m1["written_at"]
        sys.argv = argv
        run_pipeline.main()  # resume: stage must be skipped, not rewritten
        assert store.manifest("curated_pages")["written_at"] == written_at
        # DIFFERENT flags must NOT reuse the stale snapshot: dropping
        # --pii-redact changes the curated output, so the stage recomputes
        # and the committed text carries the (unmasked) emails again
        sys.argv = ["run_pipeline.py", "--pages", src, "--out", out, "--clean"]
        run_pipeline.main()
        m2 = store.manifest("curated_pages")
        assert m2["written_at"] != written_at and m2["identity"] != m1["identity"]
        assert m2["params"]["pii_redact"] is False
        snap2 = store.read(spark, "curated_pages")
        assert snap2.filter(snap2.text.contains("@")).count() > 0
    finally:
        sys.argv = old
