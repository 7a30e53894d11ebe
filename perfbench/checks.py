"""Output checks: stage manifests against pins, and seed-independent
invariants of the crawl cycle's outputs."""

from __future__ import annotations

import json
import os
import re
from urllib.parse import urljoin, urlsplit

import pyarrow.parquet as pq

PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


def load_pins() -> dict:
    with open(PINS_PATH) as fh:
        return json.load(fh)


def manifests(out_dir: str, stages: list[str]) -> dict[str, dict]:
    """stage -> {rows, hash, partitions, written_at} from the job's manifests."""
    out = {}
    for stage in stages:
        with open(os.path.join(out_dir, stage, "manifest.json")) as fh:
            m = json.load(fh)
        out[stage] = {"rows": m["row_count"], "hash": str(m["table_hash"]),
                      "partitions": len(m["partitions"]), "written_at": m["written_at"]}
    return out


def against_pins(observed: dict[str, dict], pinned: dict[str, list]) -> list[str]:
    errors = []
    for stage, (rows, digest) in pinned.items():
        got = observed.get(stage)
        if got is None or (got["rows"], got["hash"]) != (rows, digest):
            errors.append(f"{stage}: expected rows={rows} hash={digest}, got {got and (got['rows'], got['hash'])}")
    return errors


def robots_allows(rules: list[tuple[bool, str]], url: str) -> bool:
    """RFC 9309 verdict from the generator's ground truth: the longest
    matching prefix wins, Allow wins ties, no match allows."""
    path = urlsplit(url).path or "/"
    best = None
    for allow, prefix in rules:
        if path.startswith(prefix) and (best is None or (len(prefix), allow) > (len(best[1]), best[0])):
            best = (allow, prefix)
    return best is None or best[0]


def _rows(out_dir: str, stage: str) -> list[dict]:
    return pq.read_table(os.path.join(out_dir, stage, "data")).to_pylist()


def frontier_candidates(crawl) -> set[str]:
    """Every link target of the generated records that was not crawled:
    the job's frontier (`--frontier` keeps the top 100 urls per host; the
    generator never gives a host more than 30 candidates)."""
    records = [r for f in crawl.files for r in f]
    crawled = {url for url, _, _ in records}
    targets = {urljoin(url, href.decode()) for url, _, html in records
               for href in re.findall(rb'<a href="([^"]*)"', html)}
    return targets - crawled


def crawl_invariants(out_dir: str, crawl, wet_records: int, observed: dict[str, dict]) -> tuple[list[str], dict]:
    """Seed-independent checks of a crawl-cycle output directory. Returns
    (errors, known_defects); see NOTES.md for the frontier's known defect."""
    errors = [f"{s}: empty" for s, m in observed.items() if m["rows"] == 0]
    curated = _rows(out_dir, "curated_pages")
    for r in curated:
        host = urlsplit(r["url"]).hostname or ""
        if not robots_allows(crawl.rules.get(host, []), r["url"]):
            errors.append(f"curated_pages keeps a robots-disallowed url: {r['url']}")
            break
    with_text = sum(1 for r in curated if r["text"] is not None)
    if wet_records != with_text:
        errors.append(f"wet records {wet_records} != curated pages with text {with_text}")
    frontier = _rows(out_dir, "frontier")
    by_host: dict[str, list[dict]] = {}
    for r in frontier:
        by_host.setdefault(r["host"], []).append(r)
    for host, rows in by_host.items():
        delay = crawl.delay_ms.get(host, 1000)
        got = sorted(r["fetch_at_ms"] for r in rows)
        if got != [i * delay for i in range(len(rows))] or any(r["delay_millis"] != delay for r in rows):
            errors.append(f"frontier {host}: fetch_at_ms not spaced by Crawl-delay {delay} ms")
    # Every frontier url should pass robots (ROADMAP #9). The job does not
    # gate the frontier, so today it holds exactly the ungated candidates.
    # Accept that recorded state or the robots-gated one, nothing else:
    # the defect can neither grow nor shrink unnoticed on any seed.
    urls = [r["url"] for r in frontier]
    ungated = frontier_candidates(crawl)
    gated = {u for u in ungated if robots_allows(crawl.rules.get(urlsplit(u).hostname or "", []), u)}
    if len(urls) != len(set(urls)) or set(urls) not in (ungated, gated):
        errors.append(f"frontier: {len(urls)} urls, expected the {len(gated)} robots-allowed candidates"
                      f" (or the {len(ungated)} ungated ones of the known defect)")
    disallowed = sum(1 for u in urls if u not in gated)
    return errors, {"frontier_robots_disallowed": disallowed, "frontier_rows": len(frontier)}
