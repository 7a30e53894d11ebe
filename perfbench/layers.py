"""The traced run's layer map: which program functions are wrapped, the
per-layer metric names, and how spans and Spark task metrics turn into
`<module>.<metric>` values."""

from __future__ import annotations

import functools
import json
import os
import statistics

from probe import Tracer, busy_ms

PKG = "coap_rfc_knowledge_graph_spark"

# (module, attribute, layer): functions the job imports inside its
# function bodies (so a patched module attribute is what it calls), plus
# the two pipeline-module globals `rules_stage` reaches.
WRAPPED = [
    (f"{PKG}.sources.warc", "read_warc", "sources.warc.read"),
    (f"{PKG}.operators.robots", "parse_robots", "operators.robots"),
    (f"{PKG}.operators.robots", "robots_filter", "operators.robots"),
    (f"{PKG}.operators.robots", "parse_crawl_delays", "operators.robots"),
    (f"{PKG}.operators.html_extract", "html_links", "operators.html_extract"),
    (f"{PKG}.operators.html_extract", "html_head_meta", "operators.html_extract"),
    (f"{PKG}.operators.html_extract", "fill_text_from_html", "operators.html_extract"),
    (f"{PKG}.operators.webtext", "latest_snapshot", "operators.webtext"),
    (f"{PKG}.operators.webtext", "curate_urls", "operators.webtext"),
    (f"{PKG}.operators.text_stats", "clean_corpus", "operators.text_stats"),
    (f"{PKG}.operators.webgraph", "host_graph", "operators.webgraph"),
    (f"{PKG}.operators.webgraph", "pagerank_weighted", "operators.webgraph"),
    (f"{PKG}.operators.frontier", "crawl_frontier", "operators.frontier"),
    (f"{PKG}.operators.frontier", "schedule_fetches", "operators.frontier"),
    (f"{PKG}.operators.sentences", "extract_sentences", "operators.sentences"),
    (f"{PKG}.operators.mentions", "extract_mentions", "operators.mentions"),
    (f"{PKG}.operators.relations", "extract_triples_from_arrays", "operators.relations"),
    (f"{PKG}.operators.linking", "canonical_entities", "operators.linking"),
    (f"{PKG}.operators.rule_filter", "rule_sentences", "operators.rules"),
    (f"{PKG}.plans.pipeline", "rules_stage", "operators.rules"),
    (f"{PKG}.plans.pipeline", "parse_atomic_rules", "operators.rules"),
    (f"{PKG}.operators.rules", "build_edges", "operators.rules"),
    (f"{PKG}.operators.contradictions", "check_entity_contradiction", "operators.contradictions"),
]

_FULL = ["self_s", "rows_out", "driver_s", "tasks", "max_task_s", "gc_s",
         "shuffle_write_bytes", "spill_bytes", "py_init_s", "py_run_s"]
_PY = ["self_s", "rows_out", "tasks", "py_init_s", "py_run_s"]
_SHUFFLE = ["self_s", "rows_out", "tasks", "shuffle_write_bytes", "spill_bytes"]

# layer -> metric suffixes, in report order
LAYER_METRICS = {
    "operators.sentences": _FULL + ["py_boot_s"],
    "operators.mentions": _FULL,
    "operators.relations": _FULL + ["pairs", "triples_per_pair"],
    "operators.linking": _FULL + ["entities_per_surface"],
    "operators.rules": _FULL + ["rule_sentences", "atomic_rules"],
    "operators.contradictions": _FULL + ["findings"],
    "sources.warc.read": _PY + ["input_bytes"],
    "operators.html_extract": _PY + ["links_out"],
    "operators.text_stats": _PY + ["kept_frac"],
    "operators.robots": _SHUFFLE + ["kept_frac"],
    "operators.webtext": _SHUFFLE + ["kept_frac"],
    "operators.webgraph": _SHUFFLE,
    "operators.frontier": _SHUFFLE,
    "plans.checkpointing": ["write_s", "compute_s", "audit_s", "read_s", "bytes_written",
                            "files_written", "partition_skew"],
    "sources.warc.write_wet": ["self_s", "bytes_written", "files_written"],
    "session": ["start_s", "warm_s"],
    "trace": ["overhead_ratio"],
}

UNITS = {
    "rows_out": "count", "tasks": "count", "pairs": "count", "rule_sentences": "count",
    "atomic_rules": "count", "findings": "count", "links_out": "count",
    "files_written": "count", "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "input_bytes": "bytes", "bytes_written": "bytes", "triples_per_pair": "ratio",
    "entities_per_surface": "ratio", "kept_frac": "ratio", "partition_skew": "ratio",
    "overhead_ratio": "ratio",
}


def metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit)."""
    return [(f"{layer}.{m}", UNITS.get(m, "s")) for layer, ms in LAYER_METRICS.items() for m in ms]


def _dir_files(path: str) -> list[str]:
    out = []
    for root, _, files in os.walk(path):
        out.extend(os.path.join(root, f) for f in files if not f.startswith((".", "_")))
    return out


# functions whose output is the layer's `rows_out`: the one that feeds
# the layer's stage (the last of a chain, the outermost of nested calls)
OUTPUTS = {
    "read_warc", "robots_filter", "fill_text_from_html", "curate_urls", "clean_corpus",
    "pagerank_weighted", "schedule_fetches", "extract_sentences", "extract_mentions",
    "extract_triples_from_arrays", "canonical_entities", "rules_stage",
    "check_entity_contradiction",
}


def install_layers(tracer: Tracer) -> None:
    """Wrap every layer function and `write_wet`. Each wrapped call opens
    a span named after its layer; a DataFrame it returns is persisted and
    counted inside that span, so the layer's own Spark jobs run under its
    job group. This changes the job's plan (downstream stages read the
    cache), so checkpointing figures come from `install_store` in an
    untraced job instead. Counts are taken while `tracer.counting`."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    spark = tracer.spark

    def layer_wrapper(layer: str):
        def factory(fn):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                outermost = not tracer.inside(layer)
                with tracer.span(layer, fn=fn.__name__):
                    out = fn(*args, **kwargs)
                    # rules_stage returns a KGResult: its layer output is .rules
                    df = out if isinstance(out, DataFrame) else getattr(out, "rules", None)
                    n = None
                    if isinstance(df, DataFrame):
                        df.persist()
                        n = df.count()
                if n is not None and tracer.counting:
                    if outermost and fn.__name__ in OUTPUTS:
                        tracer.add(f"{layer}.rows_out", n)
                    _extras(layer, fn.__name__, args, df, n)
                return out

            return wrapper

        return factory

    def _extras(layer: str, name: str, args, df, n: int) -> None:
        with tracer.span("perfbench.counts"):
            if name == "html_links":
                tracer.add(f"{layer}.links_out", n)
            elif name == "robots_filter":
                tracer.add(f"{layer}.kept", df.filter(F.col("robots_allowed")).count())
                tracer.add(f"{layer}.seen", n)
            elif name in ("curate_urls", "clean_corpus"):
                tracer.add(f"{layer}.kept", n)
                tracer.add(f"{layer}.seen", args[0].count())
            elif name == "extract_triples_from_arrays":
                sizes = F.size("mentions")
                pairs = args[0].filter(sizes >= 2).agg(F.sum(sizes * (sizes - 1) / 2)).first()[0]
                tracer.add(f"{layer}.pairs", pairs or 0)
            elif name == "canonical_entities":
                surfaces = args[0].select(F.lower("surface")).distinct().count()
                tracer.add(f"{layer}.surfaces", surfaces)
            elif name == "rule_sentences":
                tracer.add(f"{layer}.rule_sentences", n)
            elif name == "parse_atomic_rules":
                tracer.add(f"{layer}.atomic_rules", n)

    for module, attr, layer in WRAPPED:
        tracer.patch(module, attr, layer_wrapper(layer))

    def wet_factory(fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span("sources.warc.write_wet"):
                df = fn(*args, **kwargs)
                rows = df.collect()
            if tracer.counting:
                tracer.add("sources.warc.write_wet.files_written", sum(1 for r in rows if r.path))
                tracer.add("sources.warc.write_wet.bytes_written", sum(r.n_bytes for r in rows))
            return spark.createDataFrame(rows, df.schema)

        return wrapper

    tracer.patch(f"{PKG}.sources.warc", "write_wet", wet_factory)


def install_store(tracer: Tracer) -> None:
    """Spans around `StageStore.write/has/read` only: the job's plan is
    unchanged, so an untraced job keeps its own partitioning."""

    def store_wrapper(kind: str):
        def factory(fn):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                with tracer.span("plans.checkpointing", kind=kind):
                    return fn(*args, **kwargs)

            return wrapper

        return factory

    for kind in ("write", "has", "read"):
        tracer.patch(f"{PKG}.plans.checkpointing:StageStore", kind, store_wrapper(kind))


def store_values(tracer: Tracer, out_dir: str, stages: list[str]) -> dict[str, float]:
    """`plans.checkpointing.*` of an untraced job into the empty `out_dir`
    and its re-run: span times from `install_store`, the rest from the
    committed stages' manifests and files."""
    ck = [s for s in tracer.spans if s["name"] == "plans.checkpointing"]
    write_s = sum(s["end"] - s["start"] for s in ck if s["kind"] == "write")
    compute_s, files, skew = 0.0, [], 0.0
    for stage in stages:
        with open(os.path.join(out_dir, stage, "manifest.json")) as fh:
            m = json.load(fh)
        compute_s += m["compute_sec"]
        files += _dir_files(os.path.join(out_dir, stage, "data"))
        rows = [p["rows"] for p in m["partitions"]]
        if rows and statistics.median(rows) > 0:
            skew = max(skew, max(rows) / statistics.median(rows))
    return {
        "plans.checkpointing.write_s": write_s,
        "plans.checkpointing.compute_s": compute_s,
        "plans.checkpointing.audit_s": write_s - compute_s,
        "plans.checkpointing.read_s": sum(s["end"] - s["start"] for s in ck if s["kind"] != "write"),
        "plans.checkpointing.bytes_written": sum(os.path.getsize(f) for f in files),
        "plans.checkpointing.files_written": len(files),
        "plans.checkpointing.partition_skew": skew,
    }


def layer_values(tracer: Tracer, groups: dict, session: dict, store: dict[str, float],
                 overhead_ratio: float) -> dict[str, float]:
    """Per-layer metric values from the tracer's spans and counts, the
    status-store `groups` (see probe.spark_metrics) and the untraced
    job's `store` values (see store_values)."""
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}
    child_s: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] = child_s.get(s["parent"], 0) + s["end"] - s["start"]
    c = tracer.counts
    out: dict[str, float] = {}
    for layer, metrics in LAYER_METRICS.items():
        mine = [s for s in spans if s["name"] == layer]
        top = [s for s in mine if s["parent"] is None or by_id[s["parent"]]["name"] != layer]
        g = groups.get(layer, {})
        jobs = g.get("jobs", [])
        kept, seen = c.get(f"{layer}.kept", 0), c.get(f"{layer}.seen", 0)
        derived = {
            "self_s": sum(s["end"] - s["start"] - child_s.get(s["id"], 0) for s in mine),
            "rows_out": c.get(f"{layer}.rows_out", 0),
            "driver_s": sum(
                (s["end"] - s["start"]) - busy_ms(jobs, s["start"] * 1000, s["end"] * 1000) / 1000
                for s in top
            ),
            "kept_frac": kept / seen if seen else 0.0,
            "findings": c.get(f"{layer}.rows_out", 0),
            "triples_per_pair": c.get(f"{layer}.rows_out", 0) / c[f"{layer}.pairs"]
            if c.get(f"{layer}.pairs") else 0.0,
            "entities_per_surface": c.get(f"{layer}.rows_out", 0) / c[f"{layer}.surfaces"]
            if c.get(f"{layer}.surfaces") else 0.0,
        }
        for m in metrics:
            if m in derived:
                out[f"{layer}.{m}"] = derived[m]
            elif m in g and m != "jobs":
                out[f"{layer}.{m}"] = g[m]
            else:
                out[f"{layer}.{m}"] = c.get(f"{layer}.{m}", 0)
    out.update(store)
    out["session.start_s"] = session["start_s"]
    out["session.warm_s"] = session["warm_s"]
    out["trace.overhead_ratio"] = overhead_ratio
    return out
