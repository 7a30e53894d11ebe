"""Stage identity of the job's resumable stages: a stage is reused iff
its params, the source files it reads and its upstream stages' content
are unchanged — so a re-run with one input changed rebuilds exactly the
stages that depend on it, and every other stage keeps its snapshot."""

from __future__ import annotations

import os
import shutil
import sys

import pytest

from coap_rfc_knowledge_graph_spark.plans.checkpointing import StageStore

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))

KG = ["sentences", "mentions", "triples", "entities", "rules", "edges", "contradictions"]
CRAWL = ["link_graph", "host_ranks", "frontier", "curated_pages"]


def _run(*argv: str) -> None:
    import run_pipeline

    old = sys.argv
    try:
        sys.argv = ["run_pipeline.py", *argv]
        run_pipeline.main()
    finally:
        sys.argv = old


def _written_at(out: str, stages: list[str]) -> dict[str, float]:
    store = StageStore(out)
    return {s: store.manifest(s)["written_at"] for s in stages}


def _write_pages(spark, path: str, variant: str = "") -> None:
    """Three linked hosts; every page has a rule carrying an email, so
    masking it changes every KG stage's content."""
    rows = []
    for i in range(12):
        html = (
            f'<a href="https://s{(i + 1) % 3}.example/p{(i + 1) % 12}">peer</a>'
            f'<a href="https://c.example/new{i % 4}{variant}">n</a>'
        ).encode()
        text = (
            # a page's first rule sentence is boilerplate to the rules stage
            f"The client MUST parse the header. "
            f"The CoAP server MUST send the token{variant} to u{i}@x.com before the client retries. "
            f"The quick brown fox is happy to run for miles in the field with a friend today, episode {i}."
        )
        rows.append((f"https://s{i % 3}.example/p{i}", html, text, "en"))
    spark.createDataFrame(rows, "url string, html binary, text string, lang string").write.mode(
        "overwrite"
    ).parquet(path)


def _write_robots(spark, path: str, delay: str = "1") -> None:
    rows = [
        ("s0.example", b"User-agent: *\nDisallow: /p9\n"),
        ("c.example", f"User-agent: *\nCrawl-delay: {delay}\n".encode()),
    ]
    spark.createDataFrame(rows, "host string, payload binary").write.mode("overwrite").parquet(path)


def test_dropping_a_prepass_flag_rebuilds_the_kg(spark, tmp_path):
    """Re-running without --pii-redact into the same --out rebuilds the
    curated pages AND every KG stage over them: the KG must not stay
    built from the masked text."""
    src, out = str(tmp_path / "pages"), str(tmp_path / "state")
    _write_pages(spark, src)
    _run("--pages", src, "--out", out, "--pii-redact", "--clean")
    store = StageStore(out)
    sentences = store.read(spark, "sentences")
    assert sentences.count() > 0 and sentences.filter(sentences.sentence.contains("@x.com")).count() == 0
    before = _written_at(out, ["curated_pages"] + KG)

    _run("--pages", src, "--out", out, "--clean")
    after = _written_at(out, ["curated_pages"] + KG)
    assert [s for s in before if before[s] == after[s]] == []
    sentences = store.read(spark, "sentences")
    assert sentences.filter(sentences.sentence.contains("@x.com")).count() == 12


@pytest.fixture(scope="module")
def base_run(spark, tmp_path_factory):
    """One job run over pages + robots with every crawl stage."""
    d = str(tmp_path_factory.mktemp("identity_base"))
    _write_pages(spark, os.path.join(d, "pages"))
    _write_robots(spark, os.path.join(d, "robots"))
    _run(*_argv(d))
    return d


def _argv(d: str, *extra: str) -> list[str]:
    return ["--pages", os.path.join(d, "pages"), "--robots", os.path.join(d, "robots"),
            "--out", os.path.join(d, "out"), "--host-ranks", "2", "--frontier", "3", *extra]


# changed input -> (flags added to the base run, files rewritten, stages
# that must rerun). A rebuilt stage whose content is unchanged keeps its
# dependents: a robots table whose Crawl-delay changes rebuilds
# curated_pages (same pages survive) and frontier, and nothing else.
CASES = {
    "host_ranks": (["--host-ranks", "3"], None, {"host_ranks", "frontier"}),
    "frontier": (["--frontier", "2"], None, {"frontier"}),
    "pii_redact": (["--pii-redact"], None, {"curated_pages", *KG}),
    "robots": ([], lambda spark, d: _write_robots(spark, os.path.join(d, "robots"), delay="2"),
               {"curated_pages", "frontier"}),
    "pages": ([], lambda spark, d: _write_pages(spark, os.path.join(d, "pages"), variant="v2"),
              set(CRAWL + KG)),
}


@pytest.mark.parametrize("case", list(CASES))
def test_changing_one_input_reruns_exactly_its_dependents(spark, base_run, tmp_path, case):
    extra, rewrite, expected = CASES[case]
    d = str(tmp_path / "run")
    shutil.copytree(base_run, d)  # copies keep mtimes: the same file digests
    before = _written_at(os.path.join(d, "out"), CRAWL + KG)
    _run(*_argv(d))  # unchanged inputs: every stage is reused
    assert _written_at(os.path.join(d, "out"), CRAWL + KG) == before
    if rewrite:
        rewrite(spark, d)
    _run(*_argv(d, *extra))  # a repeated flag overrides: argparse keeps the last
    after = _written_at(os.path.join(d, "out"), CRAWL + KG)
    assert {s for s in after if after[s] != before[s]} == expected
