"""Benchmark of the sync engine: one closed-loop client, one driver process.

Usage, from the repository root::

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

Workloads (``BENCHMARK.json`` says why each exists):

- ``query_mix``: one pass over ``mix.MIX`` on the bundled sf0.01 lake, in a
  seed-permuted order: per query a build, its first collect and warm
  re-collects.
- ``sync``: one epoch (a copy, a delta and three no-op cycles) of three
  generated tables into the parquet lake and a fresh local Postgres, plus a
  file-set sync.

Both measure first executions in a fresh session: the first collect of each
query and the first copy and delta of the sync engine. A second pass or
epoch in the same session would no longer be cold, so a run does a fixed
amount of work (about 25 s on ``query_mix``, 40 s on ``sync``, on 4 vCPUs)
and ``--seconds`` does not change it.

End-to-end metrics (``--trace 0``), the same names on both workloads:

============  =========================================  =====================
metric        query_mix                                  sync
============  =========================================  =====================
setup_s       session start, ``warm_engine``, staging of  session and Postgres
              the streaming replay files                 start, ``warm_engine``
peak_rss_mb   RSS high-water mark of the Spark JVM plus this Python process
cold_s        build + first collect, summed over the mix  initial full copy
work_s        geometric mean of query build + first       the delta cycle
              collect
repeat_s      warm re-collects, summed over the mix       median of the no-op
                                                          cycles after the delta
============  =========================================  =====================

Each run starts from a fresh work directory under ``.perfbench/`` and removes
it at the end. Input generation is timed separately and kept out of every
metric.

The second-to-last line of output is a provenance record; the last is the
result: ``correct``, ``attempted``, ``failed`` (operations that raised or
returned a wrong result, checked against the DuckDB oracle or the
generator) and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics of ``layers.py`` with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import random
import resource
import shutil
import signal
import socket
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "database_synchronize_tool_spark"
WORKLOADS = ("query_mix", "sync")
LAKE = "sf0.01"
DRIVER_MEMORY = "2g"  # the package default, 16g, exceeds a 15 GB machine; sf0.01 needs far less
REPLAY_GLOB = "/tmp/spark_graft_replay_*"


def metric_units(trace: int) -> dict[str, str]:
    """The metrics a run reports, with their units, from ``BENCHMARK.json``:
    the end-to-end ones untraced, the per-layer ones traced."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: str) -> dict[str, str]:
    """Every environment variable the package reads, set for this run.

    Spark gets one core fewer than the run may use: the last one is left to
    the JVM's compiler and GC threads, this Python process and Postgres. With
    every core running tasks, a run measured the scheduler: on 4 vCPUs a
    CPU-bound process beside a query_mix run slowed cold_s by 60% at
    local[4] and by 20% at local[3].
    """
    pinned = {
        "SPARK_GRAFT_CPUS": str(max(len(os.sched_getaffinity(0)) - 1, 1)),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
    }
    for k in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(pinned[k], exist_ok=True)
    os.environ.pop("SPARK_MASTER_URL", None)
    os.environ.update(pinned)
    return pinned


def cpu_sample() -> dict[str, float]:
    """1-minute load average and cumulative idle, steal and total jiffies."""
    with open("/proc/loadavg") as f:
        load = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    idle = cpu[3] + cpu[4]
    return {"loadavg": load, "idle": idle, "steal": cpu[7], "total": sum(cpu)}


def busy_share(a: dict, b: dict) -> float:
    return 1 - (b["idle"] - a["idle"]) / max(b["total"] - a["total"], 1)


def noise(idle_probe: float, before: dict, after: dict) -> dict:
    """A run is noisy when the machine was more than a quarter busy in the
    second before it started, or when the hypervisor stole more than 2% of
    CPU time during it."""
    steal = (after["steal"] - before["steal"]) / max(after["total"] - before["total"], 1)
    return {
        "busy_before": idle_probe,
        "loadavg_before": before["loadavg"],
        "loadavg_after": after["loadavg"],
        "steal_share": steal,
        "noisy_run": idle_probe > 0.25 or steal > 0.02,
    }


def source_digest() -> str:
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, PACKAGE, "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        r = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return r.stdout.strip() if r.returncode == 0 else None


def free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def peak_rss_mb(spark) -> float:
    """High-water RSS of the Spark JVM plus this Python process."""
    jvm_kb = 0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def start_session(work: str):
    from database_synchronize_tool_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        extra_conf={
            # a fixed-size heap: the RSS high-water mark then tracks what the
            # run touches, not when G1 decided to grow the heap
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            ),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def warm_engine(spark) -> None:
    """The session's first jobs: a shuffle, a join and a Python UDF on
    generated rows, so that the first measured operation does not also pay
    the engine's own first-use costs (JIT of the scheduler and shuffle
    paths, Python worker start-up). It runs none of the measured code."""
    from pyspark.sql import functions as F

    plus_one = F.udf(lambda v: v + 1, "long")
    sums = spark.range(100_000).groupBy((F.col("id") % 97).alias("k")).agg(F.sum("id").alias("s"))
    keys = spark.range(97).withColumnRenamed("id", "k")
    sums.join(keys, "k").select(plus_one("s")).collect()


def spans_path(args) -> str:
    return os.path.join(ROOT, ".perfbench", f"spans-{args.workload}-{args.seed}.json")


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers) to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    proc.wait(timeout=60)


def run_query_mix(args, work, tracer_factory, prov, plant=None, lake_name=LAKE):
    import layers
    import mix

    from database_synchronize_tool_spark.streaming.events import read_events_stream_multibatch

    t = time.perf_counter()
    lake = os.path.join(work, lake_name)
    shutil.copytree(os.path.join(HERE, "lake", lake_name), lake)
    prov["generate_s"] = time.perf_counter() - t
    expected = mix.load_expected(lake_name)
    order = list(mix.MIX)
    random.Random(args.seed).shuffle(order)

    t0 = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t0
    try:
        warm_engine(spark)
        # stage the lake's streaming replay files, as t7's first build would
        read_events_stream_multibatch(spark, lake)
        setup_s = time.perf_counter() - t0
        tracer = tracer_factory(spark)
        out = mix.Outcome()
        mix.run_pass(spark, lake, order, expected, tracer, out, plant)
        rss = peak_rss_mb(spark)
        prov["spark_version"] = spark.version
        if tracer.enabled:
            tracer.close(spans_path(args))
            metrics = layers.mix_layers(tracer.spans, tracer.stream, out)
            metrics.update({f"trace.{k}": v for k, v in mix.end_to_end(out).items()})
            metrics["session.start_s"] = session_s
        else:
            metrics = {"setup_s": setup_s, "peak_rss_mb": rss, **mix.end_to_end(out)}
    finally:
        stop_session(spark)
    return metrics, out.attempted, out.failed, out.errors


def run_sync(args, work, tracer_factory, prov, size=None):
    import gen
    import layers
    import sync

    t = time.perf_counter()
    data = gen.generate(os.path.join(work, "data"), args.seed, size or gen.FULL)
    prov["generate_s"] = time.perf_counter() - t

    t0 = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - t0
    pg = None
    try:
        pg = sync.start_postgres(free_port())
        prov["postgres"] = sync.pg_settings(pg)
        warm_engine(spark)
        setup_s = time.perf_counter() - t0
        w = sync.SyncWorkload(spark, data, os.path.join(work, "sync"), pg, tracer_factory(spark))
        pg_before = layers.pg_stats(w.connect)
        out = sync.Outcome()
        with sync.traced_layers(w.tracer):
            w.epoch(out)
        rss = peak_rss_mb(spark)
        prov["spark_version"] = spark.version
        epochs = len(out.seconds("copy"))
        prov["epochs"] = epochs
        if w.tracer.enabled:
            time.sleep(0.5)  # backends flush their counters on exit
            after = layers.pg_stats(w.connect)
            pg_delta = {k: after[k] - pg_before[k] for k in after}
            w.tracer.close(spans_path(args))
            metrics = layers.sync_layers(w.tracer.spans, out, epochs, pg_delta)
            metrics.update({f"trace.{k}": v for k, v in sync.end_to_end(out).items()})
            metrics["session.start_s"] = session_s
        else:
            metrics = {"setup_s": setup_s, "peak_rss_mb": rss, **sync.end_to_end(out)}
    finally:
        if pg is not None:
            pg.stop()
        stop_session(spark)
    return metrics, out.attempted, out.failed, out.errors


def execute(args, **hooks) -> tuple[dict, dict]:
    """Run one workload; returns the result record and the provenance."""
    from tracing import NullTracer, Tracer

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prov = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    prov["env"] = pin_environment(work)
    replay_before = set(glob.glob(REPLAY_GLOB))
    probe = cpu_sample()
    time.sleep(1.0)
    before = cpu_sample()
    factory = Tracer if args.trace else (lambda spark: NullTracer())
    try:
        if args.workload == "query_mix":
            metrics, attempted, failed, errors = run_query_mix(args, work, factory, prov, **hooks)
        else:
            metrics, attempted, failed, errors = run_sync(args, work, factory, prov, **hooks)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        for d in set(glob.glob(REPLAY_GLOB)) - replay_before:
            shutil.rmtree(d, ignore_errors=True)
    prov.update(noise(busy_share(probe, before), before, cpu_sample()))
    prov.update(nproc=os.cpu_count(), git_commit=git_commit(), source_digest=source_digest())
    prov["errors"] = errors[:20]
    names = metric_units(args.trace)
    # a layer this workload does not call reads 0; the self-test checks
    # that every name is computed by some workload
    prov["unmeasured"] = sorted(set(names) - set(metrics))
    record = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics.get(k, 0), "unit": u} for k, u in names.items()},
    }
    return record, prov


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE} not found next to {HERE}: run from a full checkout", file=sys.stderr)
        return 2
    metric_units(args.trace)  # fail before the run if BENCHMARK.json is unreadable
    sys.path[:0] = [ROOT, HERE]
    # a terminated run still stops Postgres and Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    record, prov = execute(args)
    print(json.dumps({"provenance": prov}))
    print(json.dumps(record))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
