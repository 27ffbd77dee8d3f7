"""Extraction benchmark: one workload, one seed, one local[4] Spark session.

    python3 perfbench/run.py --workload chat_mix --seed 1 --seconds 10 --trace 0

Run from the repository root.  Set-up (timed as ``setup_s``) starts the
session, generates the seeded corpus to parquet three times and runs the
job untimed on a quarter of the input, then once in full.  The job then repeats for ``--seconds``; end-to-end
metrics come from the median repetition.  With ``--trace 1`` the run
interleaves untraced and traced repetitions, adds one repetition pinned to
one CPU, and reports per-layer metrics (see perfbench/README.md).  Outputs
are checked after timing; the last line of stdout is the JSON result.
Scratch files live under ``.perfbench_tmp/`` in the working directory and
are removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

from perfbench import corpus, procstat, tracer, workloads  # noqa: E402

SLOTS = 4
SPARK_CONF = {
    "spark.master": f"local[{SLOTS}]",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.adaptive.enabled": "true",
    # with 8 equal input files this splits the scan one file per task,
    # two tasks per slot (the default packs them into fewer, unequal tasks)
    "spark.sql.files.minPartitionNum": "8",
}
SETUP_GENERATIONS = 3
WATCHDOG_S = 170.0
QUARTER = "pmod(xxhash64(conv_id, turn_idx), 4) = 0"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def start_session(tmp: str):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("perfbench")
    conf = dict(SPARK_CONF)
    conf["spark.local.dir"] = os.path.join(tmp, "spark-local")
    conf["spark.sql.warehouse.dir"] = os.path.join(tmp, "warehouse")
    for key, value in conf.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    procstat.reap_descendants()


def isolate_scratch(tmp: str) -> None:
    "Keep every file Spark, the JVMs and the workers write under ``tmp``."
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # both the launcher and the driver JVM: no /tmp/hsperfdata_*, temp files in tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = tmp


def start_watchdog(seconds: float) -> None:
    "Kill the process tree and exit 3 if the run overstays ``seconds``."

    def fire():
        log(f"watchdog: run exceeded {seconds:.0f} s")
        for pid in procstat.descendants(os.getpid()):
            with contextlib.suppress(OSError):
                os.kill(pid, signal.SIGKILL)
        os._exit(3)

    timer = threading.Timer(seconds, fire)
    timer.daemon = True
    timer.start()


def setup(spark_tmp: str, wl, ctx) -> tuple:
    "Session start + median corpus generation + the untimed warm-up jobs."
    t0 = time.perf_counter()
    spark = start_session(spark_tmp)
    session_s = time.perf_counter() - t0
    gen_s = []
    for i in range(SETUP_GENERATIONS):
        path = f"{ctx.path}-{i}"
        t0 = time.perf_counter()
        ctx.n_turns, ctx.n_convs, ctx.key_sum = corpus.write_parquet(corpus.CORPORA[wl.corpus](ctx.seed), path)
        gen_s.append(time.perf_counter() - t0)
    os.rename(f"{ctx.path}-0", ctx.path)
    for i in range(1, SETUP_GENERATIONS):
        shutil.rmtree(f"{ctx.path}-{i}")
    ctx.sample_mod = max(1, ctx.n_turns // workloads.SAMPLE_TURNS[wl.corpus])
    # the job on a quarter of the input (the JVM's cold start), then once in
    # full: the JIT, the Python workers and their heaps are warm before the
    # first timed repetition
    t0 = time.perf_counter()
    wl.job(spark, ctx, workloads.read_input(spark, ctx, QUARTER))
    wl.job(spark, ctx)
    warm_s = time.perf_counter() - t0
    log(f"setup: session {session_s:.2f}s, generation {[round(g, 2) for g in gen_s]}, warm-up {warm_s:.2f}s")
    return spark, session_s + statistics.median(gen_s) + warm_s


def verify(ctx, results: list, problems: list) -> int:
    """Checks the first result fully and every other against its checksums;
    returns the failed turns summed over all results."""
    first = results[0]
    failed = workloads.check(ctx, first, problems)
    for agg in results[1:]:
        failed += agg["n_failed"] + max(0, ctx.n_turns - agg["n"])
        if (agg["n"], agg["key_sum"], agg["out_sum"]) != (first["n"], first["key_sum"], first["out_sum"]):
            problems.append("repetitions disagree on the output checksum")
            failed += max(1, abs(first["n"] - agg["n"]))
    return failed


def noop_batch(iterator):
    "The extraction operator's output shape with no extraction: the Arrow boundary alone."
    import pandas as pd

    for pdf in iterator:
        out = pdf[["conv_id", "turn_idx"]].copy()
        out["extracted_text"] = pd.Series([None] * len(pdf), dtype=object)
        out["tier"] = "noop"
        out["chars_kept"] = pd.array([0] * len(pdf), dtype="int32")
        yield out


def boundary_s(spark, ctx, reps: int = 3) -> float:
    from trafilatura_spark.operators.extract import extract_result_schema

    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        df = workloads.read_input(spark, ctx)
        workloads.aggregate(df.mapInPandas(noop_batch, extract_result_schema(df)), ctx, meta=False)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def run_untraced(spark, wl, ctx, seconds: float, cpus: set, results: list) -> dict:
    "Repeats the job until ``seconds`` have passed."
    sampler = procstat.TreeSampler(cpus)
    walls = []
    end = time.perf_counter() + seconds
    while not walls or time.perf_counter() < end:
        with sampler:
            wall, result = wl.job(spark, ctx)
        walls.append(wall)
        results.append(result)
    log(f"reps: {[round(w, 3) for w in walls]} s")
    return {
        "turns_per_s": ctx.n_turns / statistics.median(walls),
        "worker_rss_peak_mb": sampler.workers_peak / 2**20,
    }


def one_cpu_wall(spark, wl, ctx, cpus: set, results: list) -> float:
    "One untraced repetition with the whole process tree pinned to one CPU."
    procstat.pin_tree({min(cpus)})
    try:
        wall, result = wl.job(spark, ctx)
    finally:
        procstat.pin_tree(cpus)
    results.append(result)
    return wall


def run_traced(spark, wl, ctx, seconds: float, cpus: set, results: list) -> dict:
    """Interleaves untraced and traced repetitions for ``seconds``, then
    runs the job once pinned to one CPU.  Layer metrics come from the
    traced repetitions; the CPU share and the 4-CPU side of the scaling
    pair from the untraced ones."""
    trace_dir = os.path.join(ctx.tmp, "trace")
    os.makedirs(trace_dir)
    m = {"extract.boundary_s": boundary_s(spark, ctx)}
    sampler = procstat.TreeSampler(cpus)
    plain, traced = [], []
    end = time.perf_counter() + seconds
    while not traced or time.perf_counter() < end:
        with sampler:
            wall, result = wl.job(spark, ctx)
        plain.append(wall)
        results.append(result)
        with tracer.tracing(trace_dir):
            wall, result = wl.job(spark, ctx)
        traced.append(wall)
        results.append(result)
    wall1 = one_cpu_wall(spark, wl, ctx, cpus, results)
    log(f"untraced reps {[round(w, 3) for w in plain]} s, traced reps {[round(w, 3) for w in traced]} s, 1-cpu {wall1:.3f} s")

    m.update(tracer.summarize(trace_dir, len(traced)))
    tps_plain = ctx.n_turns / statistics.median(plain)
    tps_traced = ctx.n_turns / statistics.median(traced)
    m.update(
        {
            "scaling_eff_1to4": tps_plain * wall1 / ctx.n_turns / SLOTS,
            "trace.turns_per_s_untraced": tps_plain,
            "trace.turns_per_s_1cpu": ctx.n_turns / wall1,
            "trace.turns_per_s_traced": tps_traced,
            "trace.overhead_share": 1.0 - tps_traced / tps_plain,
            "spark.scan_tasks": float(spark.read.parquet(ctx.path).rdd.getNumPartitions()),
            "host.cpu_busy_share": sampler.busy_share,
            "spark.jvm_rss_peak_mb": sampler.jvm_peak / 2**20,
        }
    )
    return m


@contextlib.contextmanager
def timed_writes(timers: dict):
    "Adds the driver-side time of each lineage ``DataFrameWriter.parquet`` call to ``timers``."
    from pyspark.sql import readwriter

    parquet = readwriter.DataFrameWriter.parquet

    def timed(self, path, *args, **kwargs):
        t0 = time.perf_counter()
        try:
            return parquet(self, path, *args, **kwargs)
        finally:
            kind = "manifest" if "_lineage_manifest" in path else "data" if path.endswith("data") else None
            if kind:
                timers[kind] = timers.get(kind, 0.0) + time.perf_counter() - t0

    readwriter.DataFrameWriter.parquet = timed
    try:
        yield
    finally:
        readwriter.DataFrameWriter.parquet = parquet


def pipeline_layers(spark, ctx, problems: list) -> tuple:
    """The lineage and conversation-stage layers: the pipeline job over the
    same input, warmed on a quarter of it, then one untraced repetition
    whose committed output is read back and checked.
    Returns (metrics, failed turns)."""
    workloads.pipeline_job(spark, ctx, workloads.read_input(spark, ctx, QUARTER))
    timers: dict = {}
    with timed_writes(timers):
        wall, result = workloads.pipeline_job(spark, ctx)
    log(f"pipeline rep: {wall:.3f} s")
    agg = workloads.pipeline_output(spark, ctx, result)
    failed = workloads.check(ctx, agg, problems)
    return {
        "pipeline.turns_per_s": ctx.n_turns / wall,
        "lineage.run_s": result["lineage.run_s"],
        "lineage.data_write_s": timers.get("data", 0.0),
        "lineage.manifest_write_s": timers.get("manifest", 0.0),
        "lineage.waves": float(result["waves"]),
        "pipeline.conversation_stage_s": result["pipeline.conversation_stage_s"],
        "lineage.output_bytes": float(agg["output_bytes"]),
        "pipeline.conversations": float(agg["conversations"]),
    }, failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    start_watchdog(WATCHDOG_S)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wl = workloads.WORKLOADS[args.workload]
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    isolate_scratch(tmp)
    allowed = sorted(os.sched_getaffinity(0))
    if len(allowed) < SLOTS:
        raise SystemExit(f"needs {SLOTS} CPUs, has {len(allowed)}")
    cpus = set(allowed[:SLOTS])
    os.sched_setaffinity(0, cpus)

    ctx = workloads.Context(corpus=wl.corpus, seed=args.seed, path=os.path.join(tmp, "input"), tmp=tmp, meta=wl.meta)
    spark = None
    try:
        spark, setup_s = setup(tmp, wl, ctx)
        results: list = []
        problems: list = []
        if args.trace:
            metrics = run_traced(spark, wl, ctx, args.seconds, cpus, results)
        else:
            metrics = run_untraced(spark, wl, ctx, args.seconds, cpus, results)
            metrics["setup_s"] = setup_s
        failed = verify(ctx, results, problems)
        checked = len(results)
        if args.trace and wl.pipeline_layers:
            layers, pipe_failed = pipeline_layers(spark, ctx, problems)
            metrics.update(layers)
            failed += pipe_failed
            checked += 1
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    attempted = ctx.n_turns * checked
    if not args.trace:
        metrics["ok_turn_share"] = 1.0 - failed / attempted
    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    out = {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]} for m in names}
    for problem in problems:
        log(f"CHECK FAILED: {problem}")
    for name, v in out.items():
        log(f"{name:42s} {v['value']:14.6g} {v['unit']}")
    correct = not problems
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
