"""M4-M5: entity-pair generation + [E1]/[E2] marker insertion.

Reference: all C(n,2) ordered combinations of a sentence's entity spans,
markers inserted into the token list at offset-adjusted positions
(``src/relation_extractor.py:25-39``), then special tokens dropped and
the text re-decoded / space-collapsed (``:79-84``).

Spark shape: the pair fan-out is ARRAY-LOCAL — each sentence row carries
its mention array, and one Arrow-batched UDF tokenizes the sentence ONCE
and emits every marked pair, which is then ``posexplode``d. No shuffle
at all: this replaces the naive theta self-join on (url, sent_id) (an
equi-join + filter that reshuffles the corpus and re-tokenizes per
pair). At 10^12 documents the blowup is bounded per row (mentions per
sentence <= tens), never per partition, and the stage stays narrow —
pipelined straight from the mention stage.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import tokenizer

PAIRS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("sent_id", T.IntegerType()),
        T.StructField("e1", T.StringType()),
        T.StructField("e2", T.StringType()),
        T.StructField("marked_sentence", T.StringType()),
    ]
)


def _mark_tokens(toks: list[str], b1: int, e1: int, b2: int, e2: int) -> str:
    """Marker insertion replicating the reference's ``list.insert``
    sequence (offsets +2/+4 after earlier inserts,
    ``src/relation_extractor.py:25-39``)."""
    t = list(toks)
    t.insert(b1, "[E1]")
    t.insert(e1 + 2, "[/E1]")
    t.insert(b2 + 2, "[E2]")
    t.insert(e2 + 4, "[/E2]")
    kept = [x for x in t if x not in (tokenizer.PAD, tokenizer.CLS, tokenizer.SEP)]
    return re.sub(" +", " ", tokenizer.decode(kept, skip_special_tokens=False))


def make_sentence_marker(toks: list[str]):
    """Per-sentence factory returning ``mark(b1, e1, b2, e2) -> str``,
    byte-identical to :func:`_mark_tokens` but ~10x faster per pair.

    ``_mark_tokens`` re-copies the token list, re-runs the per-token
    decode loop, and re-applies the space-collapse regex for EVERY pair
    — O(sentence_len) work per pair, and the profiled hot spot of the
    whole flagship (90% of relation-stage CPU). This factory does the
    O(sentence_len) work ONCE: it decodes the sentence once, records
    each word's character offsets in the decoded string, and then builds
    each pair's marked sentence from O(1) string slices plus the four
    marker tokens with the same adjacency spacing rules ``decode`` uses.
    The trailing ``re.sub(" +", " ")`` in ``_mark_tokens`` is a no-op on
    ``decode`` output (tokens never contain spaces and ``decode`` emits
    at most one separator per junction), so slicing the decoded string
    preserves bytes exactly — pinned by the equivalence property test in
    tests/test_extraction_spark.py and by the content-pinned kg_triples
    hashes.

    The fast path covers the canonical layout the tagger emits
    (``1 <= b1 <= e1 < b2 <= e2 <= len(toks) - 2`` with [CLS]/[SEP]
    bracketing and no [PAD]); anything else — overlapping spans, spans
    touching the special tokens, padded input — falls back to
    ``_mark_tokens`` so the reference ``insert`` arithmetic stays the
    single source of truth for edge cases."""
    n = len(toks)
    canonical = n >= 2 and toks[0] == tokenizer.CLS and toks[-1] == tokenizer.SEP
    if canonical and tokenizer.PAD in toks:
        canonical = False
    if not canonical:
        return lambda b1, e1, b2, e2: _mark_tokens(toks, b1, e1, b2, e2)

    words = toks[1:-1]
    m = len(words)
    nsb = [w in tokenizer._NO_SPACE_BEFORE for w in words]
    nsa = [w[-1] in tokenizer._NO_SPACE_AFTER for w in words]
    # decoded sentence + per-word [start, end) char offsets within it
    off = [0] * m
    endc = [0] * m
    parts: list[str] = []
    pos = 0
    for k, w in enumerate(words):
        if k and not (nsb[k] or nsa[k - 1]):
            pos += 1
            parts.append(" ")
        off[k] = pos
        pos += len(w)
        endc[k] = pos
        parts.append(w)
    dec = "".join(parts)

    def mark(b1: int, e1: int, b2: int, e2: int) -> str:
        if not (1 <= b1 <= e1 < b2 <= e2 <= m):
            return _mark_tokens(toks, b1, e1, b2, e2)
        # word-index space (CLS removed)
        a1, z1, a2, z2 = b1 - 1, e1 - 1, b2 - 1, e2 - 1
        out: list[str] = []
        tail_nsa = False  # last emitted token ends with an opener char

        def run(a: int, b: int) -> None:  # words[a:b], b > a
            nonlocal tail_nsa
            sep = "" if (not out or nsb[a] or tail_nsa) else " "
            out.append(sep + dec[off[a] : endc[b - 1]])
            tail_nsa = nsa[b - 1]

        def marker(tok: str) -> None:
            nonlocal tail_nsa
            out.append(tok if (not out or tail_nsa) else " " + tok)
            tail_nsa = False  # ']' is not an opener

        if a1 > 0:
            run(0, a1)
        marker("[E1]")
        run(a1, z1 + 1)
        marker("[/E1]")
        if a2 > z1 + 1:
            run(z1 + 1, a2)
        marker("[E2]")
        run(a2, z2 + 1)
        marker("[/E2]")
        if z2 + 1 < m:
            run(z2 + 1, m)
        return "".join(out)

    return mark


def generate_pairs_from_arrays(mentions_arr: DataFrame) -> DataFrame:
    """mentions in array form (url, sent_id, sentence, mentions) ->
    pairs(url, sent_id, e1, e2, marked_sentence). Narrow, shuffle-free.

    The fan-out happens INSIDE ``mapInPandas`` (the UDF emits exploded
    rows directly) instead of UDF->array->``explode``: a Generate over a
    fat UDF-produced array<struct> column costs ~4x the UDF itself in
    copy overhead, measured at sf0.1 (35.6s -> 8s for 448k pairs).

    NOTE deliberately no ``filter(size(mentions) >= 2)`` here: a native
    filter on a UDF-produced column makes Catalyst evaluate the mention
    UDF TWICE (once for the predicate, once for the projection — two
    ArrowEvalPython nodes); the <2-mention rows are skipped inside the
    loop instead (tests/test_plans.py pins the single-evaluation shape)."""
    pruned = mentions_arr.select("url", "sent_id", "sentence", "mentions")

    def fn(batches):
        for pdf in batches:
            urls: list[str] = []
            sids: list[int] = []
            e1s: list[str] = []
            e2s: list[str] = []
            marked: list[str] = []
            for url, sid, sent, ms in zip(pdf["url"], pdf["sent_id"], pdf["sentence"], pdf["mentions"]):
                if ms is None or len(ms) < 2:
                    continue
                toks = tokenizer.tokenize(sent, pad=False)
                mark = make_sentence_marker(toks)  # O(len) once, O(1)/pair
                spans = sorted(
                    ((int(m["begin"]), int(m["end"]), m["surface"]) for m in ms),
                    key=lambda x: (x[0], x[1]),
                )
                for i in range(len(spans)):
                    b1, e1, s1 = spans[i]
                    for j in range(i + 1, len(spans)):
                        b2, e2, s2 = spans[j]
                        urls.append(url)
                        sids.append(sid)
                        e1s.append(s1)
                        e2s.append(s2)
                        marked.append(mark(b1, e1, b2, e2))
            yield pd.DataFrame(
                {
                    "url": urls,
                    "sent_id": pd.array(sids, dtype="int32"),
                    "e1": e1s,
                    "e2": e2s,
                    "marked_sentence": marked,
                }
            )

    return pruned.mapInPandas(fn, PAIRS_SCHEMA)


def generate_pairs(mentions: DataFrame, sentences: DataFrame) -> DataFrame:
    """Compatibility entry: exploded mentions + sentences -> pairs.

    Regroups mentions per sentence (one url-keyed shuffle both inputs
    already share) then runs the array-local path. Callers holding the
    array form should use :func:`generate_pairs_from_arrays` directly.
    """
    arr = (
        mentions.groupBy("url", "sent_id")
        .agg(F.collect_list(F.struct("begin", "end", "surface")).alias("mentions"))
        .join(sentences.select("url", "sent_id", "sentence"), on=["url", "sent_id"])
    )
    return generate_pairs_from_arrays(arr)

