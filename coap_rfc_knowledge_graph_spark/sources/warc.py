"""WARC ingest: Common-Crawl-style archive files -> the pages table.

The north-rule input table (url, warc_ts, html, text, lang) is an
Iceberg table of crawled pages, but the upstream artifact a crawl
actually delivers is WARC (ISO 28500): a concatenation of records,
each a ``WARC/1.0`` header block, CRLFCRLF, ``Content-Length`` octets
of body, CRLFCRLF. Common Crawl ships ``.warc.gz`` with ONE GZIP
MEMBER PER RECORD so readers can split on member boundaries; plain
``.warc`` also exists. This module reads both with only the stdlib.

Scale shape: ``spark.read.format("binaryFile")`` lists the files and
gives (path, content) rows — one task per file, which is exactly the
Common-Crawl parallelism model (a crawl segment is ~10^4-10^5 files of
~1 GiB; the *files*, not the bytes inside one, are the unit of
parallelism — record offsets inside a gzip stream are not splittable
without an external index). Parsing is a column-pruned ``mapInPandas``
emitting pages rows; no shuffle. At real scale, follow with
``repartition(url)`` or the bucketed Iceberg write in
``sources/catalog.py`` — a WARC file's records are crawl-order, not
url-order.

Only ``WARC-Type: response`` records become pages (requests, metadata
and warcinfo records are skipped, matching every public CC consumer).
The HTTP response headers are stripped; ``html`` is the raw payload
bytes, ``text``/``lang`` are left NULL for the downstream extractor
(``operators/html_extract.main_content`` / ``strip_html``) — ingest
must not guess at content.

``write_warc`` is the inverse (used by tests and the deterministic
synthesiser): it emits spec-shaped records so the reader is exercised
against real framing, including multi-member gzip.
"""

from __future__ import annotations

import gzip
import io
import zlib
from collections.abc import Iterator
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .pages import PAGES_SCHEMA

_CRLF2 = b"\r\n\r\n"


_GZ_CHUNK = 1 << 16


def _gunzip_all(data: bytes) -> bytes:
    """Decompress EVERY gzip member in a concatenated stream (CC's
    member-per-record layout), linearly and salvaging.

    Two traps shaped this loop: (a) feeding a decompressobj the whole
    remaining tail copies that tail into ``unused_data`` once PER
    MEMBER — quadratic on ~100k-member archives (measured 4x time per
    2x members before the fix); (b) ``gzip.GzipFile.read(n)`` crosses
    member boundaries internally but raises AWAY the data it already
    decompressed in the failing call, so a corrupt member loses prior
    valid records. Bounded chunks + per-member leftover handoff keep
    the copies O(chunk) per member, and the except clause implements
    the tolerance contract: a corrupt/truncated member costs the
    file's remaining records, never the task."""
    out = []
    mv = memoryview(data)
    n = len(mv)
    pos = 0  # next unread offset
    buf: bytes = b""  # post-member leftover handed to the next member
    try:
        while buf or pos < n:
            d = zlib.decompressobj(wbits=47)  # 32+15: auto gzip header
            if buf:
                out.append(d.decompress(buf))
                buf = b""
            while not d.eof and pos < n:
                out.append(d.decompress(mv[pos : pos + _GZ_CHUNK]))
                pos += min(_GZ_CHUNK, n - pos)
            if not d.eof:
                break  # truncated final member
            buf = d.unused_data
    except zlib.error:
        pass  # corrupt member: keep everything decompressed before it
    return b"".join(out)


def parse_warc(
    data: bytes, record_types: tuple[str, ...] = ("response",)
) -> list[tuple[str, datetime | None, bytes]]:
    """One WARC file's bytes -> [(url, warc_ts, payload)] for records
    whose ``WARC-Type`` is in ``record_types`` (default: response —
    the pages-ingest case; pass ``("conversion",)`` to read WET
    extracted-text files). Pure function (no Spark) so tests and the
    synthesiser share it. Tolerant: a malformed record ends the file's
    parse (truncated tail of an interrupted crawl upload) rather than
    raising — one bad file must cost its remaining records, not the task.
    """
    if data[:2] == b"\x1f\x8b":
        data = _gunzip_all(data)
    pages: list[tuple[str, datetime | None, bytes]] = []
    pos = 0
    n = len(data)
    while pos < n:
        # skip inter-record CRLFs
        while pos < n and data[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            break
        hdr_end = data.find(_CRLF2, pos)
        if hdr_end < 0:
            break
        head = data[pos:hdr_end].decode("utf-8", errors="replace")
        lines = head.split("\r\n")
        if not lines or not lines[0].startswith("WARC/"):
            break
        fields: dict[str, str] = {}
        for ln in lines[1:]:
            k, sep, v = ln.partition(":")
            if sep:
                fields[k.strip().lower()] = v.strip()
        try:
            length = int(fields.get("content-length", ""))
        except ValueError:
            break
        body_start = hdr_end + 4
        body = data[body_start : body_start + length]
        if len(body) < length:
            break  # truncated record
        pos = body_start + length
        if fields.get("warc-type", "").lower() in record_types:
            url = fields.get("warc-target-uri", "")
            ts: datetime | None = None
            raw_ts = fields.get("warc-date", "")
            try:
                ts = datetime.strptime(raw_ts, "%Y-%m-%dT%H:%M:%SZ").replace(tzinfo=timezone.utc)
            except ValueError:
                # WARC 1.1 permits fractional seconds (and any ISO-8601
                # offset); don't silently drop the timestamp for those.
                try:
                    ts = datetime.fromisoformat(raw_ts.replace("Z", "+00:00"))
                    if ts.tzinfo is None:
                        ts = ts.replace(tzinfo=timezone.utc)
                    else:
                        ts = ts.astimezone(timezone.utc)
                except ValueError:
                    ts = None
            payload = body
            if fields.get("content-type", "").lower().startswith("application/http"):
                # strip the HTTP response head (status line + headers)
                split = body.find(_CRLF2)
                if split >= 0:
                    payload = body[split + 4 :]
            if url:
                pages.append((url, ts, payload))
    return pages


def pages_from_warc_files(files: DataFrame) -> DataFrame:
    """(content: binary) rows of whole WARC files -> pages rows. Shared
    by the batch reader and the streaming source — the parse is
    identical; only the file source differs."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, tss, htmls = [], [], []
            for content in pdf["content"]:
                for url, ts, payload in parse_warc(bytes(content)):
                    urls.append(url)
                    tss.append(ts)
                    htmls.append(payload)
            # tz-AWARE UTC series: Arrow maps it to the correct instant
            # on any session timezone; a naive series would be
            # reinterpreted in spark.sql.session.timeZone, shifting
            # every warc_ts on a non-UTC cluster
            yield pd.DataFrame(
                {
                    "url": urls,
                    "warc_ts": pd.Series(tss, dtype="datetime64[us, UTC]"),
                    "html": htmls,
                    "text": pd.Series([None] * len(urls), dtype="object"),
                    "lang": pd.Series([None] * len(urls), dtype="object"),
                }
            )

    return files.select("content").mapInPandas(fn, PAGES_SCHEMA)


def read_warc(spark: SparkSession, path: str, glob: str = "*.warc*") -> DataFrame:
    """WARC files under ``path`` -> pages DataFrame (text/lang NULL —
    extraction is a downstream operator, not an ingest guess)."""
    files = spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)
    return pages_from_warc_files(files)


def stream_warc_pages(
    spark: SparkSession,
    input_dir: str,
    glob: str = "*.warc*",
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """Continuous crawl ingest: WARC files dropped into ``input_dir``
    become a pages STREAM (binaryFile is a streaming file source, so
    exactly-once file tracking comes from the checkpoint for free; the
    unit of incremental work is one archive file — the same unit the
    crawler produces). Compose with ``operators.html_extract.
    fill_text_from_html`` and the stateful dedup downstream."""
    files = (
        spark.readStream.format("binaryFile")
        # streaming file sources need the schema up front; binaryFile's
        # is fixed by the format
        .schema("path string, modificationTime timestamp, length long, content binary")
        .option("pathGlobFilter", glob)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(input_dir)
    )
    return pages_from_warc_files(files)


def write_warc(
    path: str,
    records: list[tuple[str, datetime, bytes]],
    compress: bool = True,
    with_http_headers: bool = True,
) -> None:
    """Spec-shaped WARC writer (one gzip member per record when
    ``compress``, the Common-Crawl layout). Test/synthesis helper —
    the 100-TB write path is the Iceberg pages table, not WARC."""
    out = io.BytesIO()
    for url, ts, html in records:
        body = html
        if with_http_headers:
            body = (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                + f"Content-Length: {len(html)}\r\n".encode()
                + b"\r\n"
                + html
            )
        head = (
            "WARC/1.0\r\n"
            "WARC-Type: response\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: {ts.strftime('%Y-%m-%dT%H:%M:%SZ')}\r\n"
            "Content-Type: application/http; msgtype=response\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode()
        rec = head + body + _CRLF2
        out.write(gzip.compress(rec, mtime=0) if compress else rec)
    with open(path, "wb") as fh:
        fh.write(out.getvalue())


WET_MANIFEST_SCHEMA = (
    "path string, n_records bigint, n_bytes bigint"
)


def write_wet(
    pages: DataFrame,
    out_dir: str,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    text_col: str = "text",
    compress: bool = True,
) -> DataFrame:
    """Extracted-text export as WARC *conversion* records — the
    Common-Crawl WET product (`*.warc.wet.gz`), closing the archive
    loop: WARC in (:func:`read_warc`), curated text out in the same
    family of containers downstream crawlers/tools already consume.

    Distributed sink: EACH TASK writes one ``part-{pid:05d}.warc.wet
    [.gz]`` segment file (one gzip member per record, CC's splittable
    layout) — the object-store pattern; nothing funnels through the
    driver. Returns a lazy one-row-per-partition manifest
    ``(path, n_records, n_bytes)`` (path NULL for empty partitions);
    the caller's action on it triggers the write. Rows with NULL text
    are skipped (WET carries extractions, not absences); a NULL
    timestamp writes the epoch (WARC-Date is mandatory in the spec).

    Filenames are partition-id-derived, so a retried task OVERWRITES
    its own file rather than duplicating records — idempotent locally;
    a production object-store deployment fronts this with the usual
    temp-name + commit rename. Segment files of an earlier export into
    ``out_dir`` are deleted when this is called, so after the action the
    directory holds exactly the manifest's files even when the earlier
    export had more (or now-empty) partitions. ``out_dir`` must be a
    filesystem the driver and every executor can reach (shared mount /
    fuse'd object store) — each task creates it and writes its own
    segment with plain file IO;
    records stream to disk as they are framed, so executor memory
    stays O(one record), not O(segment).

    Timestamps: Arrow hands the worker SESSION-LOCAL NAIVE datetimes
    (Spark renders timestamps in ``spark.sql.session.timeZone`` and
    drops the zone), so the session zone is captured on the driver and
    each value is localized back to it before converting to the UTC
    wall time WARC-Date requires — under a non-UTC session a naive
    strftime would silently shift every exported timestamp.
    """
    import os

    tz = pages.sparkSession.conf.get("spark.sql.session.timeZone", "UTC")
    ext = ".warc.wet.gz" if compress else ".warc.wet"
    for name in os.listdir(out_dir) if os.path.isdir(out_dir) else []:
        if name.startswith("part-") and ".warc.wet" in name:
            os.remove(os.path.join(out_dir, name))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(out_dir, exist_ok=True)
        fpath = os.path.join(out_dir, f"part-{pid:05d}{ext}")
        fh = None
        n = 0
        try:
            for pdf in batches:
                for url, ts, text in zip(pdf[url_col], pdf[ts_col], pdf[text_col]):
                    if text is None or url is None:
                        continue
                    # NULL timestamps arrive as pandas NaT, not None
                    if pd.isna(ts):
                        when = datetime(1970, 1, 1)
                    else:
                        t = pd.Timestamp(ts)
                        t = t.tz_localize(tz) if t.tzinfo is None else t
                        when = t.tz_convert("UTC").tz_localize(None).to_pydatetime()
                    payload = str(text).encode("utf-8")
                    # a url carrying CR/LF would inject header lines and
                    # break record framing (WARC forbids them in the
                    # target-URI, but an export sink must not trust
                    # crawled urls): percent-encode the two control bytes
                    safe_url = str(url).replace("\r", "%0D").replace("\n", "%0A")
                    head = (
                        "WARC/1.0\r\n"
                        "WARC-Type: conversion\r\n"
                        f"WARC-Target-URI: {safe_url}\r\n"
                        f"WARC-Date: {when.strftime('%Y-%m-%dT%H:%M:%SZ')}\r\n"
                        "Content-Type: text/plain\r\n"
                        f"Content-Length: {len(payload)}\r\n\r\n"
                    ).encode()
                    rec = head + payload + _CRLF2
                    if fh is None:
                        fh = open(fpath, "wb")
                    fh.write(gzip.compress(rec, mtime=0) if compress else rec)
                    n += 1
            n_bytes = fh.tell() if fh is not None else 0
        finally:
            if fh is not None:
                fh.close()
        yield pd.DataFrame(
            [(fpath if n else None, n, n_bytes)],
            columns=["path", "n_records", "n_bytes"],
        )

    return pages.select(url_col, ts_col, text_col).mapInPandas(fn, WET_MANIFEST_SCHEMA)
