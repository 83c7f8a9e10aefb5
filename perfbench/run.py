#!/usr/bin/env python3
"""fhirflat_spark benchmark: ingest and read workloads.

Run from the root of a checkout:

    python3 perfbench/run.py --workload read --seed 1 --seconds 20 --trace 0

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` also runs the
same loop a second time in a session with the Spark event log on and
every job labelled with the benchmark span that started it, then prints
the per-layer metrics (see perfbench/README.md). The last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it records the
layout the program produced and any failed op.
"""

from __future__ import annotations

import argparse
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


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["ingest", "read"])
    p.add_argument("--seed", type=int, required=True,
                   help="datagen seed; 1-10 for tuning, 11 held out for claims")
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A sixth of physical memory, at most 4 GiB: the driver JVM holds
    only shuffle blocks and small metadata here, and the host has no
    swap (``get_spark`` would otherwise ask for 48g)."""
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                return max(1024, min(4096, total_mb // 6))
    return 2048


def prepare_env(work: str) -> None:
    for sub in ("local", "tmp", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEMORY"] = f"{driver_memory_mb()}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # no hsperfdata files in the system temp dir from either JVM
    # (spark-submit's launcher, then the driver)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(work: str, cores: int, event_log: bool):
    from fhirflat_spark.session import get_spark
    from fhirflat_spark.sources.datasource import register

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.eventLog.enabled": str(event_log).lower(),
    }
    if event_log:
        conf.update({
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    register(spark)
    return spark


def stop_jvm() -> None:
    """Stop any active SparkContext and the gateway JVM (it exits when
    its stdin closes), and wait for the JVM to end. Idempotent."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(ctx, wl, seconds: float) -> list[tuple[float, int]]:
    """Closed loop from one client, in whole cycles of the workload's op
    mix and at least ``wl.min_ops`` ops: (wall seconds, raw bytes) per op."""
    samples = []
    deadline = time.monotonic() + seconds
    i = 0
    while (i < wl.min_ops or i % wl.cycle
           or time.monotonic() < deadline):
        t = time.perf_counter()
        _, raw = wl.op(ctx, i)
        samples.append((time.perf_counter() - t, raw))
        i += 1
    return samples


def kind_medians(wl, samples) -> list[tuple[float, int]]:
    """Per op kind (slot of the cycle): (median wall, raw bytes per op)."""
    out = []
    for k in range(wl.cycle):
        ks = samples[k::wl.cycle]
        out.append((statistics.median(w for w, _ in ks), max(r for _, r in ks)))
    return out


def op_p50(wl, samples) -> float:
    return statistics.geometric_mean(m for m, _ in kind_medians(wl, samples))


def end_to_end(wl, setup_s: float, samples) -> dict:
    """Each op kind contributes the median of its walls, so one slow op
    moves neither timing metric. ``op_p50_ms`` is the geometric mean of
    the kinds' medians; ``raw_mbps`` is the raw bytes of one cycle's
    whole-table ops over the sum of those kinds' medians."""
    full = [(m, r) for m, r in kind_medians(wl, samples) if r]
    bpr, vs_parquet = wl.footprint()
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (op_p50(wl, samples) * 1e3, "ms"),
        "raw_mbps": (sum(r for _, r in full) / 1e6
                     / sum(m for m, _ in full), "MB/s"),
        "bytes_per_raw_byte": (bpr, "ratio"),
        "footprint_vs_parquet_zstd": (vs_parquet, "ratio"),
    }


def run(args, work: str) -> tuple[dict, dict, list, int]:
    from ops import Ctx
    from spans import Tracer
    from workloads import WORKLOADS

    cores = host_cores()
    t0 = time.perf_counter()
    spark = start_session(work, cores, event_log=False)
    start_s = time.perf_counter() - t0
    wl = WORKLOADS[args.workload]()
    ctx = Ctx(spark, Tracer(), work, args.seed)
    wl.fixtures(ctx)
    fixtures_s = time.perf_counter() - t0 - start_s
    wl.warm(ctx)
    setup_s = time.perf_counter() - t0
    samples = measure(ctx, wl, args.seconds)
    info = {"workload": args.workload, "seed": args.seed, "cores": cores,
            "ops": len(samples), "layout": wl.layout,
            "setup_phases_s": {"session": round(start_s, 3),
                               "fixtures": round(fixtures_s, 3),
                               "warm": round(setup_s - start_s - fixtures_s, 3)},
            "op_walls_s": [round(w, 4) for w, _ in samples],
            "kind_median_s": {k: round(m, 4) for k, (m, _) in
                              zip(wl.kinds, kind_medians(wl, samples))}}
    if not args.trace:
        stop_jvm()
        return end_to_end(wl, setup_s, samples), info, ctx.failures, \
            ctx.attempted

    # traced pass: a fresh SparkContext in the same JVM with the event
    # log on; the untraced loop above is the overhead baseline
    spark.stop()
    from fhirflat_spark.codecs import CODECS

    import layers
    from spans import read_event_log

    spark = start_session(work, cores, event_log=True)
    tracer = Tracer(spark.sparkContext)
    tctx = Ctx(spark, tracer, work, args.seed)
    wl.warm(tctx)  # this context's Python workers start here
    traced = measure(tctx, wl, args.seconds)
    wl.tour(tctx)
    stop_jvm()
    log = read_event_log(os.path.join(work, "eventlog"))
    m = layers.layer_metrics(tracer.spans, log, sorted(CODECS))
    m.update(layers.codec_bench(wl.src.dir))
    m["manifest.parts_total"] = wl.layout["partitions"]
    m["session.start_s"] = start_s
    m["trace.overhead_frac"] = op_p50(wl, traced) / op_p50(wl, samples) - 1

    info["traced_op_walls_s"] = [round(w, 4) for w, _ in traced]
    return ({k: (v, layers.unit(k)) for k, v in m.items()}, info,
            ctx.failures + tctx.failures, ctx.attempted + tctx.attempted)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "fhirflat_spark", "__init__.py")):
        print(f"error: no fhirflat_spark package under {ROOT}; run from the "
              "root of a checkout", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", str(os.getpid()))
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        prepare_env(work)
        metrics, info, failures, attempted = run(args, work)
    finally:
        if "pyspark" in sys.modules:
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still owns a work dir
    info["failed_op_frac"] = len(failures) / max(attempted, 1)
    info["failures"] = failures[:20]
    print(json.dumps(info, sort_keys=True))
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in sorted(metrics.items())},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
