"""Benchmark of the KG construction job, driven through its public entry
point `jobs/run_pipeline.main` in one driver process at local[nproc].

    python3 perfbench/run.py --workload docs_kg --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Run from the repository root. One run is: set-up (session start, inputs
generated and written three times with digest checks, a warm-up read), one
fresh job into an empty output directory, then identical re-runs into
the same directory until --seconds have passed (at least five). The
program sees only the written inputs and its own defaults: no
--url-partitions, no Spark conf.

With --trace 1 a child process first runs an untraced cold job and its
re-run with only StageStore in spans (plans.checkpointing figures, stage
partitions, the tracing-overhead divisor); then the fresh job and one
re-run are traced (spans around every layer call, see layers.py), and
their outputs must equal the untraced ones.

Prints one compact line for the workload and, as the last line, one
JSON object {"correct", "attempted", "failed", "metrics"}. Full detail
(every sample, manifests, task metrics, spans) goes to
.perfbench_work/results/. Exits 1 when an output or input check fails,
2 when the program's sources are missing. Every process a run starts (the
JVM, its Python workers, the traced run's child) has ended when it exits.
"""

from __future__ import annotations

import argparse
import contextlib
import gzip
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
RESULTS = os.path.join(WORK, "results")
sys.path.insert(0, HERE)

WORKLOADS = ["docs_kg", "crawl_cycle"]
DEFAULT_SEED = 1
DOCS = 2000
CRAWL = {"n_hosts": 60, "n_pages": 180, "n_files": 6}
INPUT_SETUPS = 3
MIN_RERUNS = 5
KG_STAGES = ["sentences", "mentions", "triples", "entities", "rules", "edges", "contradictions"]
CRAWL_STAGES = ["link_graph", "host_ranks", "frontier", "curated_pages"] + KG_STAGES


class Workload:
    """Inputs, job arguments and output checks of one named workload."""

    def __init__(self, name: str, seed: int):
        import inputs

        self.name, self.seed = name, seed
        self.crawl = inputs.CrawlInputs(seed=seed, **CRAWL) if name == "crawl_cycle" else None
        self.stages = CRAWL_STAGES if self.crawl else KG_STAGES
        self.n_inputs = self.crawl.n_records if self.crawl else DOCS

    def write_inputs(self, d: str) -> str:
        """Write the inputs under `d`; return their digest, re-read from disk."""
        import inputs

        if self.crawl:
            # generated again each time, so set-up time includes generation
            crawl = inputs.CrawlInputs(seed=self.seed, **CRAWL)
            inputs.write_crawl(crawl, os.path.join(d, "warc"), os.path.join(d, "robots"))
        else:
            inputs.write_table(inputs.docs_pages(DOCS, self.seed), os.path.join(d, "pages"))
        return self.digest(d)

    def digest(self, d: str) -> str:
        """Content digest of the inputs under `d`."""
        import inputs

        if self.crawl:
            return inputs.digest_files(os.path.join(d, "warc")) + inputs.digest_table(os.path.join(d, "robots"))[:16]
        return inputs.digest_table(os.path.join(d, "pages"))

    def job_argv(self, d: str, out: str) -> list[str]:
        if not self.crawl:
            return ["--pages", os.path.join(d, "pages"), "--out", out]
        return ["--pages", os.path.join(d, "warc"), "--from-warc",
                "--robots", os.path.join(d, "robots"), "--canonical-collapse", "--url-curation",
                "--html-extract", "--clean", "--host-ranks", "--frontier",
                "--wet-out", os.path.join(out, "wet"), "--out", out]

    def warm_up(self, spark, d: str) -> None:
        """First Spark jobs of the session: read the inputs once."""
        if self.crawl:
            spark.read.format("binaryFile").load(os.path.join(d, "warc")).select("path").count()
            spark.read.parquet(os.path.join(d, "robots")).count()
        else:
            spark.read.parquet(os.path.join(d, "pages")).count()

    def check(self, out: str, pins: dict) -> tuple[list[str], dict, dict]:
        """(errors, known_defects, observed) for a finished output dir."""
        import checks

        observed = checks.manifests(out, self.stages)
        pinned = pins[self.name]
        errors: list[str] = []
        defects: dict = {}
        wet = wet_records(os.path.join(out, "wet")) if self.crawl else None
        # docs_kg's content does not depend on the seed, so its pins hold for all
        if self.crawl is None or self.seed == pinned["seed"]:
            errors += checks.against_pins(observed, pinned["stages"])
            if self.crawl and wet != pinned["wet_records"]:
                errors.append(f"wet records: expected {pinned['wet_records']}, got {wet}")
        if self.crawl:
            more, defects = checks.crawl_invariants(out, self.crawl, wet, observed)
            errors += more
        return errors, defects, {"stages": observed, "wet_records": wet}


def wet_records(d: str) -> int:
    n = 0
    for name in sorted(os.listdir(d)) if os.path.isdir(d) else []:
        with open(os.path.join(d, name), "rb") as fh:
            n += gzip.decompress(fh.read()).count(b"WARC-Type: conversion\r\n")
    return n


def run_job(argv: list[str], log: str) -> float:
    """One call of the job's main() with `argv`; its stdout goes to `log`."""
    from jobs import run_pipeline

    sys.argv = ["run_pipeline.py", *argv]
    with open(log, "a") as fh, contextlib.redirect_stdout(fh):
        t0 = time.perf_counter()
        run_pipeline.main()
        return time.perf_counter() - t0


def summary(values: list[float]) -> dict:
    """Sample count, median and quartiles (a single sample is all three)."""
    if len(values) > 1:
        q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    else:
        q1 = med = q3 = values[0]
    return {"n": len(values), "median": med, "q1": q1, "q3": q3}


def run_name(args) -> str:
    return f"{args.workload}-s{args.seed}-t{args.trace}"


def settle(spark) -> None:
    """Collect garbage in the driver and the JVM, so every timed pass
    starts from the same heap state."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.System.gc()


# sessions started by set_up and not yet stopped
LIVE_SESSIONS: list = []


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    LIVE_SESSIONS.remove(spark)
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def become_subreaper() -> None:
    """Make this process the parent of every orphaned descendant (Python
    workers that outlive their JVM, a child's JVM), so `reap` sees them."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER


def reap(grace: float = 30.0) -> None:
    """Stop the sessions still running, then wait until every process this
    one started has ended: after `grace` seconds terminate what is left,
    five seconds later kill it."""
    from probe import process_tree

    for spark in list(LIVE_SESSIONS):
        with contextlib.suppress(Exception):
            stop_session(spark)
    deadline = time.monotonic() + grace
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0]:
                continue
        except ChildProcessError:
            return
        late = time.monotonic() - deadline
        if late > 0:
            for pid in process_tree()[1:]:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL if late > 5 else signal.SIGTERM)
        time.sleep(0.05)


def prepare(workload: str) -> str:
    """Fresh work directory; every file the run (and the JVM it starts)
    writes stays inside the checkout."""
    wdir = os.path.join(WORK, workload)
    shutil.rmtree(wdir, ignore_errors=True)
    for d in (wdir, RESULTS, os.path.join(WORK, "tmp"), os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    # the job's Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    return wdir


def set_up(wl: Workload, wdir: str, pinned_digest: str | None, cpus: int, writes: int = INPUT_SETUPS):
    """Session start, inputs written `writes` times (each re-read and
    digested), warm-up read. Returns (spark, input dir, timings, errors)."""
    from coap_rfc_knowledge_graph_spark.session import build_session

    t0 = time.time()
    spark = build_session(app_name="perfbench", cpus=cpus)
    LIVE_SESSIONS.append(spark)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.time()
    input_s, digests = [], []
    for i in range(writes):
        s = time.perf_counter()
        digests.append(wl.write_inputs(os.path.join(wdir, f"inputs{i}")))
        input_s.append(time.perf_counter() - s)
    for i in range(writes - 1):
        shutil.rmtree(os.path.join(wdir, f"inputs{i}"))
    data = os.path.join(wdir, f"inputs{writes - 1}")
    errors = []
    if len(set(digests)) != 1 or (pinned_digest and digests[0] != pinned_digest):
        errors.append(f"input digest mismatch: {digests} vs pinned {pinned_digest}")
    t2 = time.time()
    spark.sparkContext.setJobGroup("session.warm", "session.warm")
    wl.warm_up(spark, data)
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    t3 = time.time()
    setup = {"t": (t0, t1, t2, t3), "start_s": t1 - t0, "warm_s": t3 - t2, "input_s": input_s,
             "digest": digests[0]}
    setup["setup_s"] = setup["start_s"] + statistics.median(input_s) + setup["warm_s"]
    return spark, data, setup, errors


def timed_passes(spark, wl: Workload, data: str, wdir: str, pins: dict, args, setup: dict) -> dict:
    """The untraced run: one fresh job, then re-runs into the same dir."""
    from probe import TreeSampler

    out = os.path.join(wdir, "out")
    argv = wl.job_argv(data, out)
    log = os.path.join(wdir, "job.log")
    settle(spark)
    measured0 = time.perf_counter()
    with TreeSampler() as tree:
        fresh_s = run_job(argv, log)
    errors, known, fresh = wl.check(out, pins)
    wrong = int(bool(errors))
    settle(spark)
    rerun = []
    while len(rerun) < MIN_RERUNS or time.perf_counter() - measured0 < args.seconds:
        rerun.append(run_job(argv, log))
    if wl.check(out, pins)[2] != fresh:
        errors.append("re-run changed the committed outputs")
        wrong += len(rerun)
    samples = {"pages_per_s": ([wl.n_inputs / fresh_s], "pages/s"), "rerun_s": (rerun, "s"),
               "setup_s": ([setup["setup_s"]], "s"), "cpu_s": ([tree.cpu_s], "s"),
               "peak_rss_mb": ([tree.peak_rss_bytes / 2**20], "MB")}
    parts = []
    for k, (vals, unit) in samples.items():
        s = summary(vals)
        parts.append(f"{k}={s['median']:.4g} {unit} (n={s['n']} q1={s['q1']:.4g} q3={s['q3']:.4g})")
    return {
        "errors": errors, "wrong_passes": wrong, "passes": 1 + len(rerun), "known_defects": known,
        "metrics": {k: {"value": statistics.median(v), "unit": u} for k, (v, u) in samples.items()},
        "compact": " | ".join(parts),
        "detail": {"samples": {"fresh_s": [fresh_s], "rerun_s": rerun, "setup_s": [setup["setup_s"]]},
                   "peak_rss_by_command": tree.peak_by_comm, "steal_s": tree.steal_s,
                   "stage_partitions": {s: m["partitions"] for s, m in fresh["stages"].items()},
                   "outputs": fresh},
    }


def plain_job(name: str, seed: int, wdir: str, pinned_digest: str | None, cpus: int, path: str) -> None:
    """The traced run's untraced part, in a process and JVM of its own: a
    cold job into an empty dir and its re-run, with only StageStore calls
    in spans (which leaves the job's plan as it is). Writes its result to
    `path`."""
    import checks
    import layers
    from probe import Tracer

    os.makedirs(wdir, exist_ok=True)
    wl = Workload(name, seed)
    pins = checks.load_pins()
    spark, data, _, errors = set_up(wl, wdir, pinned_digest, cpus, writes=1)
    out = os.path.join(wdir, "out")
    argv = wl.job_argv(data, out)
    log = os.path.join(wdir, "job.log")
    tracer = Tracer(spark, run_id=f"{name}-s{seed}-untraced")
    layers.install_store(tracer)
    try:
        settle(spark)
        fresh_s = run_job(argv, log)
        run_job(argv, log)
    finally:
        tracer.restore()
    more, _, outputs = wl.check(out, pins)
    store = layers.store_values(tracer, out, wl.stages)
    stop_session(spark)
    with open(path, "w") as fh:
        json.dump({"fresh_s": fresh_s, "errors": errors + more,
                   "outputs": outputs, "store": store,
                   "stage_partitions": {s: m["partitions"] for s, m in outputs["stages"].items()}}, fh)


def untraced_child(wl: Workload, wdir: str, pinned_digest: str | None, cpus: int) -> dict:
    """Run `plain_job` in a child process, before this process starts
    Spark, and return its result."""
    path = os.path.join(wdir, "untraced.json")
    call = (f"import sys; sys.path.insert(0, {HERE!r}); import run; run.child_main("
            f"{wl.name!r}, {wl.seed!r}, {os.path.join(wdir, 'untraced')!r}, {pinned_digest!r}, {cpus!r}, {path!r})")
    code = subprocess.run([sys.executable, "-c", call], cwd=ROOT).returncode
    if code != 0:
        raise RuntimeError(f"untraced job failed (exit {code})")
    with open(path) as fh:
        return json.load(fh)


def child_main(*args) -> None:
    """Entry point of the untraced child: `plain_job`, then stop what it started."""
    try:
        plain_job(*args)
    finally:
        reap()


def traced_passes(spark, wl: Workload, data: str, wdir: str, pins: dict, args, setup: dict,
                  plain: dict) -> dict:
    """The traced run: a traced fresh job and re-run, whose outputs must
    equal those of the untraced job `plain` (see plain_job)."""
    import layers
    from probe import Tracer, spark_metrics

    out = os.path.join(wdir, "out")
    argv = wl.job_argv(data, out)
    log = os.path.join(wdir, "job.log")
    tracer = Tracer(spark, run_id=f"{wl.name}-s{args.seed}")
    t0, t1, t2, t3 = setup["t"]
    tracer.spans += [
        {"name": "session", "id": 0, "parent": None, "run_id": tracer.run_id, "start": t0, "end": t1, "kind": "start"},
        {"name": "session", "id": 1, "parent": None, "run_id": tracer.run_id, "start": t2, "end": t3, "kind": "warm"},
    ]
    layers.install_layers(tracer)
    try:
        settle(spark)
        with tracer.span("job", kind="fresh"):
            fresh_s = run_job(argv, log)
        tracer.counting = False  # counts describe the fresh job
        with tracer.span("job", kind="rerun"):
            rerun_s = run_job(argv, log)
    finally:
        tracer.restore()
    errors, known, traced = wl.check(out, pins)
    errors += plain["errors"]
    for stage, m in traced["stages"].items():
        p = plain["outputs"]["stages"][stage]
        if (m["rows"], m["hash"]) != (p["rows"], p["hash"]):
            errors.append(f"{stage}: traced output differs from the untraced run")
    if traced["wet_records"] != plain["outputs"]["wet_records"]:
        errors.append("wet records: traced output differs from the untraced run")
    # tracing overhead: against the untraced cold job of the same run
    ratio = fresh_s / plain["fresh_s"]
    overhead = {"ratio": ratio, "traced_fresh_s": fresh_s, "untraced_fresh_s": plain["fresh_s"]}
    values = layers.layer_values(tracer, spark_metrics(spark), setup, plain["store"], ratio)
    stem = os.path.join(RESULTS, f"{wl.name}-s{args.seed}")
    with open(stem + "-spans.jsonl", "w") as fh:
        for s in tracer.spans:
            fh.write(json.dumps(s) + "\n")
    partitions = plain["stage_partitions"]
    with open(stem + "-layers.json", "w") as fh:
        json.dump({"workload": wl.name, "seed": args.seed, "overhead": overhead,
                   "stage_partitions": partitions, "layers": values}, fh, indent=1)
    busiest = sorted(((values.get(k + ".self_s", 0), k) for k in layers.LAYER_METRICS), reverse=True)[:8]
    return {
        "errors": errors, "wrong_passes": int(bool(errors)), "passes": 2, "known_defects": known,
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit in layers.metric_names()},
        "compact": f"overhead_ratio={ratio:.3f} | self_s: "
                   + " ".join(f"{k}={v:.2f}" for v, k in busiest if v > 0),
        "detail": {"samples": {"fresh_s": [fresh_s], "rerun_s": [rerun_s]},
                   "overhead": overhead, "stage_partitions": partitions, "untraced": plain,
                   "outputs": traced, "layers": values},
    }


def run_one(args) -> int:
    import checks
    from probe import spark_metrics

    cpus = len(os.sched_getaffinity(0))
    wdir = prepare(args.workload)
    pins = checks.load_pins()
    wl = Workload(args.workload, args.seed)
    pinned_digest = pins[wl.name]["digests"].get(str(args.seed))
    plain = untraced_child(wl, wdir, pinned_digest, cpus) if args.trace else None
    spark, data, setup, errors = set_up(wl, wdir, pinned_digest, cpus, writes=1 if args.trace else INPUT_SETUPS)
    if args.trace:
        res = traced_passes(spark, wl, data, wdir, pins, args, setup, plain)
    else:
        res = timed_passes(spark, wl, data, wdir, pins, args, setup)
    errors += res["errors"]
    if wl.digest(data) != setup["digest"]:
        errors.append("inputs changed during the run")
    groups = spark_metrics(spark)
    stop_session(spark)
    # failed_frac: failed Spark task attempts plus passes with wrong output,
    # over all task attempts plus passes
    attempted = sum(g["tasks"] for g in groups.values()) + res["passes"]
    failed = sum(g["failed"] for g in groups.values()) + max(res["wrong_passes"], int(bool(errors)))
    detail = {"workload": wl.name, "seed": args.seed, "trace": args.trace, "cpus": cpus,
              "n_inputs": wl.n_inputs, "input_digest": setup["digest"],
              "setup": {k: v for k, v in setup.items() if k != "t"},
              **res["detail"], "spark_groups": groups, "correct": not errors, "errors": errors,
              "known_defects": res["known_defects"], "attempted": attempted, "failed": failed,
              "metrics": res["metrics"]}
    with open(os.path.join(RESULTS, run_name(args) + ".json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    for e in errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr)
    print(f"{wl.name} seed={args.seed} trace={args.trace} cpus={cpus} correct={not errors} | {res['compact']}"
          f" | failed_frac={failed / attempted:.4g} ratio (failed={failed} attempted={attempted})")
    print(json.dumps({"correct": not errors, "attempted": attempted, "failed": failed, "metrics": res["metrics"]}))
    return 1 if errors else 0


def run_all(args) -> int:
    """Every workload in its own process (each job launch gets a fresh JVM)."""
    code, lines = 0, []
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        out = p.stdout.strip().splitlines()
        lines.append(out[-2] if len(out) >= 2 else f"{name}: no result (exit {p.returncode})")
        code = code or p.returncode or (0 if out and json.loads(out[-1])["correct"] else 1)
    print("\n".join(lines))
    return code


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "jobs", "run_pipeline.py"))
            and os.path.isdir(os.path.join(ROOT, "coap_rfc_knowledge_graph_spark"))):
        print(f"program sources not found under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    become_subreaper()
    # a terminated run still stops what it started (see reap)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run_all(args) if args.workload == "all" else run_one(args)
    finally:
        reap()


if __name__ == "__main__":
    sys.exit(main())
