#!/usr/bin/env python3
"""The repository benchmark: one workload per run, timed end to end and,
with ``--trace 1``, layer by layer.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

A run generates its corpus from ``--seed`` (``tools/gen_scale_corpus.py``;
not part of any metric), boots a session on ``local[<nproc>]`` and does
the workload's untimed set-up: Python worker pool, registry, substrates
and, except on ``streaming``, two warm passes over the operations. It then
repeats passes over the operations until ``--seconds`` have elapsed, at
least as often as the workload measures, and takes the fastest of the
measured passes. Outputs are checked after the timed window.
Standard output ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
give every figure by name and unit, and the provenance of the run.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

from workloads import LIFECYCLES

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# Pinned driver heap: the value tests/conftest.py uses. The session's
# shipped 16g default pre-touches 14g at boot, and on a 4-core, 15.7 GB
# host that driver was OOM-killed.
HEAP = "6g"
HEAP_REASON = (
    "pinned to 6g as in tests/conftest.py: the shipped 16g default"
    " pre-touches 14g at boot and was OOM-killed on a 15.7 GB host"
)

# name -> unit. The first list is what ``--trace 0`` prints, the second
# what ``--trace 1`` prints (0 where the workload has no such layer);
# BENCHMARK.json lists the same names.
END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.boot_s": "s",
    "session.py_workers_s": "s",
    "registry.load_s": "s",
    "substrate.build_s": "s",
    "harness.warm_pass_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "spark.exec_s": "s",
    "spark.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_run_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.sched_overhead_s": "s",
    "harness.self_s": "s",
    "trace.run_s": "s",
    "streaming.self_s": "s",
    "streaming.microbatches": "count",
    "streaming.checkpoint_mb": "MB",
    **{f"streaming.{name}_s": "s" for name in LIFECYCLES},
}
# Printed in the report, not in the JSON line. op_p50_s is the median of
# about 10 operations, and its spread between seeds reached 0.19-0.22 of
# the median on a shared host; the others are 0 or undefined on some
# workloads, or measure the benchmark itself.
CONDITIONAL = {
    "op_p50_s": "s",
    "op_p90_s": "s",  # only with >= 100 operations: 10 beyond it
    "op_count": "count",
    "op_samples": "count",
    "passes": "count",
    "failed_ratio": "ratio",
    "pipeline.write_amp": "ratio",
    "spark.spill_mb": "MB",
    "pipeline.self_s": "s",
    "trace.bookkeeping_s": "s",
}

# Which end-to-end metric each layer should move, and where. Printed
# with the traced report so a later claim names its layer and workload.
LAYER_MAP = {
    "session": "setup_s, peak_rss_mb on every workload (heap pre-touch)",
    "registry": "setup_s on every workload",
    "substrate": "setup_s on curation (dedup, ann) and relational"
                 " (bucketed_facts, dpp_snapshot); not medallion, streaming",
    "operators": "op_p50_s, run_s on curation (eager checkpoints), less on"
                 " relational",
    "spark": "op_p50_s, run_s on relational (tasks, scheduling); gc moves"
             " peak_rss_mb everywhere",
    "pipeline": "run_s on medallion; lookups move op_p50_s there; not the"
                " query workloads",
    "streaming": "run_s on streaming",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["relational", "curation", "medallion", "streaming"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument(
        "--wrong-expected", action="store_true",
        help="replace the first operation's expected output with a wrong"
        " one; the smoke test uses it to see the mismatch counted",
    )
    return ap.parse_args(argv)


def configure_env(work: str, trace: bool) -> str:
    """Point every scratch location of the session inside ``work`` and
    pin the settings the provenance records. Returns the event-log dir."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]  # measure the shipped defaults, not the caller's
    tmp = os.path.join(work, "tmp")
    events = os.path.join(work, "eventlog")
    for d in (tmp, events):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_GRAFT_CHECKPOINT_DIR=os.path.join(work, "checkpoints"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(
            [REPO] + [p for p in [os.environ.get("PYTHONPATH")] if p]
        ),
        # JVM temp files inside the run directory; no hsperfdata in /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    tempfile.tempdir = None
    if trace:
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true"
            f" --conf spark.eventLog.dir=file://{events}"
            " --conf spark.eventLog.compress=false"
            " --conf spark.eventLog.rolling.enabled=false pyspark-shell"
        )
    else:
        os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    return events


def provenance(wl, ops, args, java_version: str) -> dict:
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "-C", REPO, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=30, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = None  # a checkout without git: source_sha256 identifies it
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal"))
    return {
        "workload": wl.name,
        "why": wl.why,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "git_commit": commit,
        "source_sha256": sources_sha256("lakehouse_weather_spark", "tools"),
        "benchmark_sha256": sources_sha256("perfbench"),
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": round(mem_kb / 1024),
        "pyspark": pyspark.__version__,
        "java": java_version,
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "driver_heap": HEAP,
        "driver_heap_reason": HEAP_REASON,
        "corpus_sf": wl.sf,
        "ops": [op.name for op in ops],
        "op_list_count": len(ops),
    }


def sources_sha256(*tops: str) -> str:
    """SHA-256 of the ``.py`` files under the given repo directories."""
    h = hashlib.sha256()
    for top in tops:
        for root, dirs, files in sorted(os.walk(os.path.join(REPO, top))):
            dirs[:] = sorted(d for d in dirs if not d.startswith("."))
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(root, f)
                    h.update(os.path.relpath(path, REPO).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def stop_session(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def percentile(values: list[float], q: int) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def main(argv=None) -> int:
    args = parse_args(argv)
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    try:
        return run(args, work, configure_env(work, bool(args.trace)))
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str, events_dir: str) -> int:
    sys.path.insert(0, REPO)
    # The program under test; without it the benchmark fails here.
    from lakehouse_weather_spark.registry import load_all
    from lakehouse_weather_spark.session import get_spark, warm_python_workers
    from tools.gen_scale_corpus import ensure

    from procmem import PeakRss, steal_seconds
    from spans import Tracer, fold_events, layer_self_times, read_event_log, spark_totals
    from workloads import WORKLOADS, Ctx

    cls = WORKLOADS[args.workload]
    t_corpus = time.perf_counter()
    with open(os.path.join(REPO, "tools", "gen_scale_corpus.py"), "rb") as fh:
        gen = hashlib.sha256(fh.read()).hexdigest()[:12]
    corpus = ensure(
        cls.sf,
        os.path.join(WORK, "corpus", f"sf{cls.sf}-seed{args.seed}-{gen}"),
        args.seed,
    )
    corpus_s = time.perf_counter() - t_corpus
    tracer = Tracer(tag_jobs=bool(args.trace))
    timed: list[tuple] = []  # (op, seconds, error)
    steal0 = steal_seconds()
    with PeakRss() as rss:
        t0 = time.perf_counter()
        with tracer.span("get_spark", "session") as boot:
            spark = get_spark("perfbench")
        try:
            tracer.sc = spark.sparkContext
            with tracer.span("warm_python_workers", "session") as pyw:
                warm_python_workers(spark)
            with tracer.span("load_all", "registry") as reg:
                specs = load_all()
            wl = cls(specs)
            ctx = Ctx(spark, tracer, corpus, work, args.seed)
            subs = []
            for name, fn, _ in wl.substrates:
                with tracer.span(name, "substrate") as s:
                    fn(spark, corpus)
                subs.append(s)
            with tracer.span("prepare", "pipeline"):
                wl.prepare(ctx)
            ops = wl.ops(ctx)
            observed: dict[str, object] = {}
            with tracer.span("warm_pass", "harness") as warm:
                for op in [op for i in range(wl.warm_passes) for op in ops]:
                    try:
                        if op.observed_in_warm_pass and op.name not in observed:
                            observed[op.name] = op.observe(ctx)
                        else:
                            op.run(ctx)
                    except Exception as exc:  # noqa: BLE001 - fails its check
                        observed[op.name] = exc
            setup_s = time.perf_counter() - t0

            passes = []
            t_run = time.perf_counter()
            while (len(passes) < wl.measured_passes
                   or time.perf_counter() - t_run < args.seconds):
                with tracer.span("pass", "harness") as p:
                    for op in ops:
                        t = time.perf_counter()
                        err = None
                        try:
                            with tracer.span(op.name, "harness"):
                                op.run(ctx)
                        except Exception as exc:  # noqa: BLE001 - counted as failed
                            err = first_line(exc)
                        timed.append((op, time.perf_counter() - t, err))
                passes.append(p)

            t_check = time.perf_counter()
            wrong = check_outputs(ops, ctx, observed, args.wrong_expected)
            check_s = time.perf_counter() - t_check
            extra = wl.report(ctx)
            java = spark.sparkContext._jvm.System.getProperty("java.version")
        finally:
            stop_session(spark)
    prov = provenance(wl, ops, args, java)

    # ---- end-to-end figures ------------------------------------------------
    # The fastest measured pass gives run_s and, in a traced run, the
    # layer split, so the layer self times add up to run_s exactly.
    best = min(passes[:wl.measured_passes], key=lambda p: p.dur)
    fastest: dict[str, float] = {}
    for op, sec, err in timed[:wl.measured_passes * len(ops)]:
        if op.kind in ("query", "lookup") and err is None and op.name not in wrong:
            fastest[op.name] = min(sec, fastest.get(op.name, sec))
    lat = sorted(fastest.values())
    failed = sum(1 for op, _, err in timed if err or op.name in wrong)
    figures: dict[str, float] = {
        "setup_s": setup_s,
        "run_s": best.dur,
        "passes": len(passes),
        "peak_rss_mb": rss.peak_mb,
        "op_count": len(lat),
        "op_samples": sum(1 for op, _, _ in timed if op.name in fastest),
        "failed_ratio": failed / len(timed),
    }
    if lat:
        figures["op_p50_s"] = statistics.median(lat)
    if len(lat) >= 100:
        figures["op_p90_s"] = percentile(lat, 90)

    # ---- per-layer figures -------------------------------------------------
    self_times = layer_self_times([best])
    figures.update({
        "session.boot_s": boot.dur,
        "session.py_workers_s": pyw.dur,
        "registry.load_s": reg.dur,
        "substrate.build_s": sum(s.dur for s in subs),
        "harness.warm_pass_s": warm.dur,
        "operators.build_s": self_times.get("operators", 0.0),
        "spark.exec_s": self_times.get("spark", 0.0),
        "pipeline.self_s": self_times.get("pipeline", 0.0),
        "streaming.self_s": self_times.get("streaming", 0.0),
        "harness.self_s": self_times.get("harness", 0.0),
        "trace.run_s": best.dur,
        "trace.bookkeeping_s": tracer.bookkeeping_s,
        "harness.corpus_s": corpus_s,
        "harness.check_s": check_s,
        "host.cpu_steal_s": steal_seconds() - steal0,
    })
    for s in subs:
        figures[f"substrate.{s.name}_s"] = s.dur
    for s in tracer.walk([best]):
        if s.layer in ("pipeline", "streaming"):
            key = f"{s.layer}.{s.name}_s"
            figures[key] = figures.get(key, 0.0) + s.dur
    figures.update(extra)
    if args.trace:
        fold_events(tracer, read_event_log(events_dir))
        cores = int(prov["spark_graft_cpus"])
        spans = list(tracer.walk([best]))
        build = spark_totals([s for s in spans if s.layer == "operators"], cores)
        figures["operators.build_jobs"] = build["jobs"]
        exe = spark_totals([s for s in spans if s.layer != "operators"], cores)
        exec_only = spark_totals([s for s in spans if s.layer == "spark"], cores)
        for k, v in exe.items():
            figures[f"spark.{k}"] = v
        figures["spark.plan_s"] = exec_only["plan_s"]
        figures["spark.sched_overhead_s"] = exec_only["sched_overhead_s"]

    # ---- report ------------------------------------------------------------
    units = {**END_TO_END, **PER_LAYER, **CONDITIONAL}
    print(f"provenance: {json.dumps(prov)}")
    print(f"workload {wl.name}: {len(passes)} timed passes, {len(timed)} operations,"
          f" {failed} failed")
    for name in sorted(wrong):
        print(f"  check failed: {name}: {wrong[name]}")
    for name, err in sorted({op.name: err for op, _, err in timed if err}.items()):
        print(f"  raised: {name}: {err}")
    shown = END_TO_END if not args.trace else PER_LAYER
    for name, val in sorted(figures.items()):
        gated = "*" if name in shown else " "
        print(f" {gated} {name:<34} {val:>14.4f} {units.get(name, unit_of(name))}")
    if args.trace:
        print("layer -> end-to-end metric it should move:")
        for layer, where in LAYER_MAP.items():
            print(f"  {layer:<10} {where}")
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    record = {
        "provenance": prov,
        "figures": figures,
        "failed": failed,
        "attempted": len(timed),
        "raised": {op.name: err for op, _, err in timed if err},
        "wrong": wrong,
        "latencies": [(op.name, s) for op, s, _ in timed],
    }
    out = os.path.join(
        WORK, "results",
        f"{wl.name}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json",
    )
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if args.trace:
        report_overhead(prov, figures["trace.run_s"])

    metrics = {
        name: {"value": float(figures.get(name, 0.0)), "unit": unit}
        for name, unit in shown.items()
    }
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(timed),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def check_outputs(ops, ctx, observed: dict, wrong_expected: bool) -> dict[str, str]:
    """Compare each operation's output with its expected output and
    return the mismatches. Queries were observed in the warm-up; the
    other operations are observed now, while a second thread computes
    the expected outputs (DuckDB, NumPy)."""
    wrong: dict[str, str] = {}
    with ThreadPoolExecutor(max_workers=1) as pool:
        futures = [pool.submit(op.expect, ctx) for op in ops]
        for i, (op, fut) in enumerate(zip(ops, futures)):
            try:
                got = (observed[op.name] if op.observed_in_warm_pass
                       else op.observe(ctx))
                if isinstance(got, Exception):
                    raise got
                expected = fut.result()
            except Exception as exc:  # noqa: BLE001 - counted as failed
                wrong[op.name] = f"check raised {first_line(exc)}"
                continue
            if wrong_expected and i == 0:
                expected = ("deliberately wrong", expected)
            if got != expected:
                wrong[op.name] = "output differs from expected"
    return wrong


def first_line(exc: BaseException) -> str:
    msg = str(exc).strip().splitlines()
    return f"{type(exc).__name__}: {msg[0] if msg else ''}"[:300]


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def report_overhead(prov: dict, traced_run_s: float) -> None:
    """Tracing overhead = traced run_s - untraced run_s, against the
    untraced runs recorded here of the same workload, seed, window
    length, program sources and benchmark sources."""
    import glob

    base = []
    for path in glob.glob(os.path.join(
            WORK, "results", f"{prov['workload']}-seed{prov['seed']}-trace0-*.json")):
        with open(path) as fh:
            rec = json.load(fh)
        same = all(rec["provenance"].get(k) == prov[k]
                   for k in ("source_sha256", "benchmark_sha256", "seconds"))
        if same:
            base.append(rec["figures"]["run_s"])
    if base:
        untraced = statistics.median(base)
        print(f"tracing overhead: {traced_run_s - untraced:+.4f} s"
              f" ({traced_run_s:.4f} traced - {untraced:.4f} untraced run_s,"
              f" {len(base)} untraced run(s) of seed {prov['seed']})")
    else:
        print(f"tracing overhead: no matching untraced run of {prov['workload']}"
              f" seed {prov['seed']} recorded yet (same sources and --seconds);"
              " run it with --trace 0 to compare")


if __name__ == "__main__":
    sys.exit(main())
