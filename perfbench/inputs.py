"""Seeded input generators for the workloads.

Everything here is the benchmark's own code: it calls nothing in the
program package, so a change to the program cannot change the inputs.
The same (workload, seed) always yields the same bytes; `digest_*`
functions give a content digest that the runner pins and re-checks.

- docs_kg:     a documents-shaped pages table (short word-salad pages,
               no RFC-2119 keywords). The content is fixed; the seed
               only permutes the row order.
- crawl_cycle: gzip WARC segments from ~60 hosts with cross-host links,
               re-crawls and rel=canonical duplicates, plus a robots
               table with Disallow and Crawl-delay lines.
"""

from __future__ import annotations

import datetime as dt
import gzip
import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

PAGES_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
ROBOTS_SCHEMA = pa.schema([("host", pa.string()), ("payload", pa.string())])

_EPOCH = dt.datetime(2024, 1, 1)


# --- docs_kg ------------------------------------------------------------------

DOCS_CONTENT_SEED = 20240101  # content is fixed; --seed only permutes rows
_DOC_WORDS = (
    "batch part spark line column order small sort fast value scan a hash slow "
    "group agg filter query big key window row table stream merge data the join "
    "vector customer"
).split()
_DOC_LANGS = ["en"] * 8 + ["zh", "zh", "es", "es", "fr", "fr", "de", "de"] + ["en"] * 2


def docs_pages(n_docs: int, seed: int) -> pa.Table:
    """`n_docs` short pages over a 30-word vocabulary, 20 sources."""
    rng = random.Random(DOCS_CONTENT_SEED)
    rows = []
    for doc_id in range(n_docs):
        words = [rng.choice(_DOC_WORDS) for _ in range(rng.randint(15, 95))]
        rows.append(
            (
                f"https://synth.example/src{doc_id % 20}/{doc_id}",
                _EPOCH + dt.timedelta(seconds=doc_id % 86400),
                None,
                " ".join(words),
                rng.choice(_DOC_LANGS),
            )
        )
    random.Random(seed).shuffle(rows)
    return _pages_table(rows)


# --- crawl_cycle --------------------------------------------------------------

_CRAWL_WORDS = (
    "the a of to and in for with on at is it this that be are as by from "
    "client server message option token request response payload value field "
    "version packet endpoint header broker session protocol sender receiver "
    "format error code number length size byte order time data stream frame "
    "block window transfer control state machine action event handler retry"
).split()

_SECTIONS = ["docs", "spec", "news", "private", "tmp"]


class CrawlInputs:
    """One crawl segment: WARC records grouped into files, the robots
    table, and the ground truth the output checks need."""

    def __init__(self, n_hosts: int, n_pages: int, n_files: int, seed: int):
        rng = random.Random(seed)
        self.hosts = [f"h{i:02d}.crawl{seed % 7}.example" for i in range(n_hosts)]
        # ground truth: robots rules as (allow, path prefix) and Crawl-delay (ms)
        self.rules: dict[str, list[tuple[bool, str]]] = {}
        self.delay_ms: dict[str, int] = {}
        self.robots = []
        for j, host in enumerate(self.hosts):
            if j % 5 == 4:
                continue  # no robots.txt: everything allowed, default delay
            lines = ["User-agent: *", "Disallow: /private/"]
            rules = [(False, "/private/")]
            if j % 3 == 0:
                lines += ["Disallow: /tmp", "Allow: /tmp/public"]
                rules += [(False, "/tmp"), (True, "/tmp/public")]
            if j % 2 == 0:
                secs = 1 + j % 4
                lines.append(f"Crawl-delay: {secs}")
                self.delay_ms[host] = secs * 1000
            lines += ["", "User-agent: evilbot", "Disallow: /"]
            self.rules[host] = rules
            self.robots.append((host, "\n".join(lines) + "\n"))

        # crawled urls, a third of them on a few head hosts; links also
        # point at urls never crawled (the frontier's candidates)
        urls = []
        for _ in range(n_pages):
            if rng.random() < 0.3:
                host = self.hosts[min(int(rng.paretovariate(1.2)) - 1, n_hosts - 1)]
            else:
                host = rng.choice(self.hosts)
            sec = rng.choice(_SECTIONS) if rng.random() < 0.25 else rng.choice(_SECTIONS[:3])
            urls.append(f"https://{host}/{sec}/{rng.randrange(10_000)}.html")
        recrawled = set(rng.sample(range(n_pages), n_pages // 10))
        duplicated = set(rng.sample(range(n_pages), n_pages // 20))
        records = []
        for k, url in enumerate(urls):
            ts = _EPOCH + dt.timedelta(seconds=rng.randrange(86400 * 30))
            records.append((url, ts, self._html(rng, url, urls, canonical=None)))
            if k in recrawled:  # same url, later snapshot, new text
                records.append((url, ts + dt.timedelta(days=3), self._html(rng, url, urls, canonical=None)))
            if k in duplicated:  # tracking-parameter copy naming its canonical url
                records.append((url + f"?utm_source=feed{k}", ts, self._html(rng, url, urls, canonical=url)))
        self.n_records = len(records)
        rng.shuffle(records)
        self.files = [records[i::n_files] for i in range(n_files)]

    def _html(self, rng: random.Random, url: str, urls: list[str], canonical: str | None) -> bytes:
        paras = []
        for _ in range(rng.randint(2, 5)):
            sents = []
            for _ in range(rng.randint(3, 7)):
                words = [rng.choice(_CRAWL_WORDS) for _ in range(rng.randint(8, 18))]
                if rng.random() < 0.15:
                    words.insert(rng.randrange(1, len(words)), "MUST")
                words[0] = words[0].capitalize()
                sents.append(" ".join(words) + ".")
            paras.append("<p>" + " ".join(sents) + "</p>")
        links = []
        for _ in range(rng.randint(3, 10)):
            if rng.random() < 0.5:
                dst = rng.choice(urls)
            else:  # an uncrawled url, on any host, any section
                host = rng.choice(self.hosts)
                sec = rng.choice(_SECTIONS + ["tmp/public"])
                dst = f"https://{host}/{sec}/{rng.randrange(10_000)}.html"
            links.append(f'<li><a href="{dst}">see {rng.choice(_CRAWL_WORDS)} notes</a></li>')
        head = f"<title>{url}</title>"
        if canonical:
            head += f'<link rel="canonical" href="{canonical}">'
        return (
            f"<html><head>{head}</head><body><nav><a href=\"/\">home</a></nav>"
            + "".join(paras)
            + "<ul>" + "".join(links) + "</ul></body></html>"
        ).encode()


def warc_bytes(records: list[tuple[str, dt.datetime, bytes]]) -> bytes:
    """WARC/1.0 response records, one gzip member per record."""
    out = []
    for url, ts, html in records:
        body = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" + f"Content-Length: {len(html)}\r\n\r\n".encode() + html
        head = (
            "WARC/1.0\r\nWARC-Type: response\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: {ts.strftime('%Y-%m-%dT%H:%M:%SZ')}\r\n"
            "Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode()
        out.append(gzip.compress(head + body + b"\r\n\r\n", mtime=0))
    return b"".join(out)


def write_crawl(crawl: CrawlInputs, warc_dir: str, robots_path: str) -> None:
    os.makedirs(warc_dir, exist_ok=True)
    for i, recs in enumerate(crawl.files):
        with open(os.path.join(warc_dir, f"seg-{i:03d}.warc.gz"), "wb") as fh:
            fh.write(warc_bytes(recs))
    write_table(pa.Table.from_pylist([{"host": h, "payload": p} for h, p in crawl.robots], ROBOTS_SCHEMA), robots_path)


# --- files and digests --------------------------------------------------------


def _pages_table(rows) -> pa.Table:
    cols = list(zip(*rows))
    return pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(cols, PAGES_SCHEMA)], schema=PAGES_SCHEMA)


def write_table(table: pa.Table, path: str) -> None:
    """One parquet file inside directory `path` (a Spark-readable table)."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def digest_table(path: str) -> str:
    """Content digest of a parquet table directory (row order matters:
    the order is part of the input)."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        if name.endswith(".parquet"):
            for row in pq.read_table(os.path.join(path, name)).to_pylist():
                h.update(repr(sorted(row.items())).encode())
    return h.hexdigest()


def digest_files(path: str) -> str:
    """Digest of every file's name and bytes under directory `path`."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()
