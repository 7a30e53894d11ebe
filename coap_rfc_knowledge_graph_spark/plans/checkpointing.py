"""Per-stage checkpoint / lineage manifests + resume-from-failure.

North rule: "resumable from checkpoint with per-partition lineage +
metrics". Every pipeline stage writes its output table plus a manifest:

    <root>/<stage>/data/...parquet      the stage output
    <root>/<stage>/manifest.json        stage-level lineage + metrics
                                        incl. per-partition rows + an
                                        order-insensitive content hash

A stage is COMPLETE iff its manifest exists and carries ``complete``;
the manifest is written AFTER the parquet commit (write-then-publish),
so a crash mid-stage leaves no manifest and the stage re-runs cleanly
from its (complete) inputs — the reference's pickle-per-stage hand-off
(``src/entity_extractor.py:61-62`` et al.) as audited table snapshots.

Stages are declared (:class:`Stage`) and run by one loop
(:func:`run_stages`). A stage's IDENTITY is a digest of its params, the
``table_hash`` of each upstream stage and the :func:`file_digest` of
each source path it reads (empty for an in-memory source DataFrame). A
complete stage is reused iff its manifest carries the same identity, so
a re-run with different flags or rewritten input tables recomputes
exactly the stages whose params, source files or upstream content
changed. Partition counts and the application name are not part of
identity: output content does not depend on them, and a killed job may
resume at a different parallelism.

In production these directories are Iceberg tables and the manifest
content lives in snapshot summary metadata; the layout here is plain
parquet + JSON so the mechanism is testable in-sandbox. The content
hash is ``sum(xxhash64(row))`` — order- and partitioning-insensitive,
so equality across runs at different parallelism certifies identical
output tables (used by the kill/resume test).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def file_digest(path: str | None) -> str:
    """Content key of a source file or table directory: a digest of each
    data file's (relative name, size, mtime_ns) — cheap at any table
    size, and it changes on any rewrite, in place or not. Empty for no
    path (an in-memory source)."""
    if not path:
        return ""
    entries = []
    if os.path.isdir(path):
        for root, _, files in os.walk(path):
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                entries.append(f"{os.path.relpath(p, path)}\x1f{st.st_size}\x1f{st.st_mtime_ns}")
    else:
        st = os.stat(path)
        entries.append(f".\x1f{st.st_size}\x1f{st.st_mtime_ns}")
    return hashlib.sha256("\x1e".join(sorted(entries)).encode()).hexdigest()


def stage_identity(params: dict | None, inputs: dict) -> str:
    """Digest of a stage's params and its inputs' content keys."""
    blob = json.dumps({"params": params, "inputs": sorted(inputs.items())}, sort_keys=True, default=str)
    return hashlib.sha256(blob.encode()).hexdigest()


class StageStore:
    """Filesystem-backed store of stage outputs + manifests."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def manifest_path(self, stage: str) -> str:
        return os.path.join(self._dir(stage), "manifest.json")

    def has(self, stage: str) -> bool:
        """True iff the stage committed completely (current or not)."""
        try:
            return bool(self.manifest(stage).get("complete"))
        except (OSError, json.JSONDecodeError):
            return False

    def read(self, spark: SparkSession, stage: str) -> DataFrame:
        return spark.read.parquet(os.path.join(self._dir(stage), "data"))

    def manifest(self, stage: str) -> dict:
        with open(self.manifest_path(stage)) as fh:
            return json.load(fh)

    def write(
        self,
        df: DataFrame,
        stage: str,
        inputs: list[str] | dict | None = None,
        params: dict | None = None,
    ) -> DataFrame:
        """Materialize ``df`` as the stage output; publish the manifest
        last, with ``params`` and the :func:`stage_identity` of ``params``
        and ``inputs`` (names, or names mapped to content keys). Returns
        the re-read DataFrame (so downstream stages consume the committed
        snapshot, not the live lineage)."""
        keys = dict(inputs) if isinstance(inputs, dict) else dict.fromkeys(inputs or [])
        data_dir = os.path.join(self._dir(stage), "data")
        t0 = time.time()
        df.write.mode("overwrite").parquet(data_dir)
        compute_sec = time.time() - t0  # plan execution + parquet commit

        spark = df.sparkSession
        committed = spark.read.parquet(data_dir)
        hashed = committed.withColumn("__pid", F.spark_partition_id()).withColumn(
            "__h", F.xxhash64(*[F.col(c).cast("string") for c in committed.columns])
        )
        stats = (
            hashed.groupBy("__pid")
            .agg(
                F.count("*").alias("rows"),
                # decimal sum: multiset digest (xor would cancel duplicate
                # rows), overflow-safe to ~10^19 rows per partition
                F.sum(F.col("__h").cast("decimal(38,0)")).alias("content_hash"),
            )
            .collect()
        )
        partitions = [
            {"partition_id": int(r["__pid"]), "rows": int(r["rows"]), "content_hash": int(r["content_hash"])}
            for r in sorted(stats, key=lambda r: r["__pid"])
        ]
        manifest = {
            "stage": stage,
            "inputs": list(keys),
            "params": params,
            "identity": stage_identity(params, keys),
            "schema": committed.schema.simpleString(),
            "row_count": sum(p["rows"] for p in partitions),
            # order- AND partitioning-insensitive multiset digest
            "table_hash": int(sum(p["content_hash"] for p in partitions)),
            "partitions": partitions,
            # metrics: wall time of the stage's plan execution + parquet
            # commit (the audit pass below is bookkeeping, not stage cost)
            "compute_sec": round(compute_sec, 3),
            "written_at": time.time(),
            "complete": True,
        }
        tmp = self.manifest_path(stage) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=2)
        os.replace(tmp, self.manifest_path(stage))
        return committed


# --- declared stages + the one runner ----------------------------------------


@dataclass(frozen=True)
class Stage:
    """One resumable stage: ``build(**inputs, **params)`` returns its
    output, so all it reads besides its closure is in its identity."""

    name: str
    inputs: tuple[str, ...]
    build: Callable[..., DataFrame]
    params: dict = field(default_factory=dict)


@dataclass(frozen=True)
class Source:
    """An input from outside the store, keyed by ``path`` (None when in
    memory). Builds receive ``load()`` (called once), else the path."""

    path: str | None
    load: Callable[[], object] | None = None


def run_stages(
    spark: SparkSession,
    store: StageStore,
    stages: list[Stage],
    sources: dict[str, Source],
    fail_after: str | None = None,
) -> Callable[[str], object]:
    """Run ``stages`` in order: skip each complete stage whose identity
    is unchanged (decided from manifests and file stats alone), build and
    commit the rest, reading inputs only when a build needs them.
    ``fail_after`` crashes after the named stage commits (the kill/resume
    test hook). Returns ``get(name)``: a stage's or source's value."""
    digests = {name: file_digest(src.path) for name, src in sources.items()}
    values: dict[str, object] = {}

    def get(name: str):
        if name not in values:
            src = sources.get(name)
            if src is None:
                values[name] = store.read(spark, name)
            else:
                values[name] = src.load() if src.load else src.path
        return values[name]

    for stage in stages:
        keys = {n: digests[n] if n in sources else store.manifest(n)["table_hash"] for n in stage.inputs}
        identity = stage_identity(stage.params, keys)
        if store.has(stage.name) and store.manifest(stage.name).get("identity") == identity:
            continue
        df = stage.build(**{n: get(n) for n in stage.inputs}, **stage.params)
        values[stage.name] = store.write(df, stage.name, inputs=keys, params=stage.params)
        if fail_after == stage.name:
            raise RuntimeError(f"injected failure after stage {stage.name!r}")
    return get


def kg_stages(pages: str, url_partitions: int | None) -> list[Stage]:
    """The seven KG stages over the pages input named ``pages``. Operator
    imports stay inside the builds: a function patched on its module at
    run time is the one called."""

    def sentences(**inputs):
        from ..operators.sentences import extract_sentences
        return extract_sentences(inputs[pages], url_partitions=url_partitions)

    def mentions(sentences):
        from ..operators.mentions import extract_mentions
        return extract_mentions(sentences, explode=False)

    def triples(mentions):
        from ..operators.relations import extract_triples_from_arrays
        return extract_triples_from_arrays(mentions)

    def entities(mentions):
        from ..operators.linking import canonical_entities
        from ..operators.mentions import _explode_mentions
        return canonical_entities(_explode_mentions(mentions))  # explode_outer: no UDF re-eval

    def rules(sentences, mentions, entities):
        from ..operators.mentions import _explode_mentions
        from ..operators.rule_filter import rule_sentences
        from .pipeline import KGResult, rules_stage

        res = KGResult(sentences=sentences, rule_sentences=rule_sentences(sentences),
                       mentions=_explode_mentions(mentions), triples=None, entities=entities)
        return rules_stage(res).rules  # which does not read triples

    def edges(rules):
        from ..operators.rules import build_edges
        return build_edges(rules)

    def contradictions(rules):
        from ..operators.contradictions import check_entity_contradiction
        return check_entity_contradiction(rules)

    return [
        Stage("sentences", (pages,), sentences),
        Stage("mentions", ("sentences",), mentions),
        Stage("triples", ("mentions",), triples),
        Stage("entities", ("mentions",), entities),
        Stage("rules", ("sentences", "mentions", "entities"), rules),
        Stage("edges", ("rules",), edges),
        Stage("contradictions", ("rules",), contradictions),
    ]


def run_resumable(
    spark: SparkSession,
    pages: DataFrame,
    root: str,
    url_partitions: int | None = None,
    fail_after: str | None = None,
) -> StageStore:
    """The KG stages over the in-memory ``pages``, resumable in the
    StageStore at ``root`` (see :func:`run_stages`)."""
    store = StageStore(root)
    sources = {"pages": Source(None, lambda: pages)}
    run_stages(spark, store, kg_stages("pages", url_partitions), sources, fail_after)
    return store
