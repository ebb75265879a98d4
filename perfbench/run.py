#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload build_wide --seed 1 --seconds 10 --trace 0

Runs one seeded workload (see ``perfbench/workloads.py`` and
``BENCHMARK.json``) against the engine on ``local[<cores>]`` and prints,
as its last line, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. ``--trace 0`` reports the end-to-end metrics; ``--trace
1`` turns on spans and the Spark event log and reports the per-layer
metrics instead, and prints the tracing overhead against the untraced
run of the same workload and seed when this checkout holds one.

A run whose inputs are not cached yet first generates them in a child
process (``--prepare``) with a Spark session of its own, so that the
measured session has the same history either way.

Everything the run writes stays under ``.perfbench/`` in the checkout:
the input cache (``cache/``), per-run scratch (``run-<pid>/``, removed at
exit), and the untraced results per workload and seed and the spans of
the latest traced run per workload (``out/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
#: driver JVM heap: local mode runs every task inside it; well under the RAM
#: of a 4-core / 15 GB box, which other processes share
DRIVER_MEM = "4g"

E2E_UNITS = {
    "setup_s": "s",
    "packed_bytes_per_point": "B",
    "live_bytes_per_row": "B",
    "ingest_cpu_s": "s",
    "query_cpu_ms": "ms",
}


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def ram_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    return 0.0


def start_session(n: int, work: str, event_dir: str | None):
    """The engine's session factory, sized for this box: ``local[n]``,
    ``2n`` shuffle partitions, UI off, every scratch path in the checkout."""
    from ingestr_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # no context cleaner: it removes the shuffles and broadcasts of
        # earlier operations whenever a collection finds them unreachable,
        # so its work lands in whichever operation runs next
        "spark.cleaner.referenceTracking": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # the heap starts at full size, so it is not resized during a run;
        # the JIT compiler threads stay alive, so perfbench.cpu can read
        # their counters at every operation
        "spark.driver.extraJavaOptions":
            f"-XX:+UseParallelGC -XX:-UsePerfData -Xms{DRIVER_MEM} "
            f"-XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={tmp}",
    }
    if event_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=2 * n,
                     extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def e2e_metrics(res) -> tuple[dict[str, float], dict]:
    from statistics import fmean

    from perfbench.stats import median, tail

    m = {
        "setup_s": res.setup_cpu_s,
        "packed_bytes_per_point": res.packed_bytes / max(1, res.codec_points),
        "live_bytes_per_row": res.live_bytes / max(1, res.tier_rows),
        "ingest_cpu_s": fmean(res.ingest_cpu_s),
        "query_cpu_ms": 1000 * fmean(res.query_cpu_s),
    }
    ingest_tail, ingest_pct = tail(res.ingest_s)
    query_tail, query_pct = tail(res.query_s)
    info = {
        "ingest_samples": len(res.ingest_s), "query_samples": len(res.query_s),
        "codec_points": res.codec_points, "tier_rows": res.tier_rows,
        "wall_ingest_p50_s": median(res.ingest_s),
        f"wall_ingest_p{ingest_pct:.0f}_s": ingest_tail,
        "wall_query_p50_ms": 1000 * median(res.query_s),
        f"wall_query_p{query_pct:.0f}_ms": 1000 * query_tail,
        "mseq_per_cpu_s": res.ingest_rows[0] / m["ingest_cpu_s"] / 1e6,
    }
    return m, info


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--prepare", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "ingestr_spark")):
        print(f"error: no ingestr_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    traced = args.trace == 1
    work = os.path.join(STATE, f"run-{os.getpid()}")
    cache = os.path.join(STATE, "cache")
    out = os.path.join(STATE, "out")
    event_dir = os.path.join(work, "events") if traced else None
    for d in (work, cache, out, os.path.join(work, "tmp"), event_dir):
        if d:
            os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers unpickle UDFs that reference the engine package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    from perfbench.inputs import SEED_RANGES

    ready = os.path.join(cache, f"{args.workload}-r{args.seed % SEED_RANGES}.ready")
    if not args.prepare and not os.path.exists(ready):
        # inputs are generated (with Spark) in a process of their own
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", "0", "--prepare"],
            stdout=sys.stderr, check=True,
        )

    import pyspark

    from perfbench.cpu import cpu_s, snapshot
    from perfbench.trace import Tracer, instrument

    n = cores()
    tracer = Tracer(traced)
    instrument(tracer)
    try:
        c0, t0 = snapshot(), time.perf_counter()
        spark = start_session(n, work, event_dir)
        session_s = time.perf_counter() - t0
        session_cpu_s = cpu_s(c0, snapshot())
        try:
            spark.sparkContext.setLogLevel("ERROR")
            tracer.sc = spark.sparkContext
            java = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
            print(f"env: cores={n} ram_gb={ram_gb():.1f} pyspark={pyspark.__version__} "
                  f"java={java} master=local[{n}] shuffle_partitions={2 * n} "
                  f"driver_mem={DRIVER_MEM}", flush=True)
            ctx = workloads.Ctx(spark, tracer, work, cache, args.seed, args.seconds, n)
            if args.prepare:
                workloads.PREPARE[args.workload](ctx)
                open(ready, "w").close()
                return 0
            res = workloads.WORKLOADS[args.workload](ctx, session_cpu_s)
        finally:
            stop_session(spark)

        metrics, info = e2e_metrics(res)
        print("samples: " + " ".join(f"{k}={v:g}" for k, v in info.items()), flush=True)
        print("ingest_s: " + " ".join(f"{x:.3f}" for x in res.ingest_s), flush=True)
        print("query_ms: " + " ".join(f"{1000 * x:.0f}" for x in res.query_s), flush=True)
        print("ingest_cpu_s: " + " ".join(f"{x:.2f}" for x in res.ingest_cpu_s), flush=True)
        print("query_cpu_ms: " + " ".join(f"{1000 * x:.0f}" for x in res.query_cpu_s), flush=True)
        print(f"phases_s: session={session_s:.2f} session_cpu={session_cpu_s:.2f} " + " ".join(
            f"{k}={v:.2f}" for k, v in res.phases.items()), flush=True)
        for line in res.failures:
            print(f"FAILED {line}", flush=True)
        print(f"ops_failed_frac={res.failed / max(1, res.attempted):g} "
              f"({res.failed}/{res.attempted})", flush=True)
        ref_path = os.path.join(out, f"{args.workload}-s{args.seed}-untraced.json")
        if traced:
            from perfbench.layers import PER_LAYER

            report = layer_report(tracer, event_dir, res, metrics)
            overhead_report(metrics, ref_path)
            tracer.dump(os.path.join(out, f"{args.workload}-spans.json"))
            units = dict(PER_LAYER)
        else:
            report = metrics
            with open(ref_path, "w") as fh:
                json.dump({"seed": args.seed, "metrics": metrics}, fh)
            units = E2E_UNITS
        for k, v in report.items():
            print(f"  {k:44s} {v:14.6g} {units[k]}", flush=True)
        print(json.dumps({
            "correct": res.failed == 0,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in report.items()},
        }), flush=True)
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def layer_report(tracer, event_dir, res, metrics) -> dict[str, float]:
    """Per-layer metrics from the spans and the event log, plus this traced
    run's own ingest and query medians, in CPU and wall time."""
    from perfbench import eventlog, layers
    from perfbench.stats import median

    logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
    log = eventlog.parse_file(max(logs, key=os.path.getmtime))
    owned = eventlog.attribute(log, tracer.spans)
    facts = dict(res.facts)
    facts["trace.ingest_cpu_s"] = metrics["ingest_cpu_s"]
    facts["trace.query_cpu_ms"] = metrics["query_cpu_ms"]
    facts["trace.ingest_p50_s"] = median(res.ingest_s)
    facts["trace.query_p50_ms"] = 1000 * median(res.query_s)
    return layers.per_layer(tracer.spans, owned, facts)


def overhead_report(metrics, ref_path) -> None:
    """Print the tracing overhead: this run's e2e CPU times minus those of
    the untraced run of the same workload and seed, if one was recorded."""
    if not os.path.exists(ref_path):
        print("trace overhead: no untraced run of this workload and seed in "
              "this checkout; run it with --trace 0 first", flush=True)
        return
    with open(ref_path) as fh:
        ref = json.load(fh)["metrics"]
    print("trace overhead: " + " ".join(
        f"{k}={metrics[k] - ref[k]:+.4g}" for k in
        ("setup_s", "ingest_cpu_s", "query_cpu_ms") if k in ref
    ), flush=True)


if __name__ == "__main__":
    sys.exit(main())
