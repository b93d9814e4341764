"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 1 --trace 0

Run from the repository root.  One process drives one
``local[<nproc>]`` SparkSession and issues calls serially (a closed loop
with one client).  Inputs are generated from ``--seed`` under
``.perfbench/work/``; the program only sees those files.  The run sets
up, runs a cold pass, then warm passes for ``--seconds`` (at least
the workload's ``WARM_PASSES``), checks every result, and prints the
metrics named in ``BENCHMARK.json``: end-to-end ones with ``--trace 0``,
per-layer ones from a traced run with ``--trace 1``.  The last line of
standard output is one JSON object ``{"correct", "attempted", "failed", "metrics"}``; a full
record (environment stamp, spans, per-stage event-log records) is
written under ``.perfbench/records/`` with a per-run name.
"""

from __future__ import annotations

import argparse
import datetime
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

PROCESS_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import stats  # noqa: E402
from tracing import PssSampler, Tracer, descendants  # noqa: E402

# past this many seconds since the process started, stop after the first
# warm pass, so that a slow machine still ends the run well within 180 s
DEADLINE_S = 110
DRIVER_MEMORY = "2g"


def workload_classes():
    from wl_build import KgBuild
    from wl_docs import JsonldDocs
    from wl_query import KgQuery

    return {"kg_build": KgBuild, "kg_query": KgQuery, "jsonld_docs": JsonldDocs}


def make_session(work: str, cpus: int, traced: bool):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        # one shuffle partition per core: the inputs are small, and the
        # pandas-UDF stages must not be coalesced below the core count
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
    )
    if traced:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", f"file:{logdir}")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def reap_children(timeout: float = 20.0) -> None:
    """Wait for every process this run started to end; kill stragglers."""
    deadline = time.monotonic() + timeout
    while descendants(os.getpid()) and time.monotonic() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while True:
        try:
            if os.waitpid(-1, 0)[0] == 0:
                break
        except ChildProcessError:
            break


def env_stamp(root: str, args, cpus: int) -> dict:
    import pyarrow
    import pyspark

    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        sha = "unknown"
    return {
        "git_sha": sha, "nproc": cpus, "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0], "seed": args.seed, "workload": args.workload,
        "traced": bool(args.trace), "seconds": args.seconds, "driver_memory": DRIVER_MEMORY,
        "utc": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
    }


def measure(wl, seconds: float, traced: bool) -> dict:
    """Cold pass, then warm passes for ``seconds`` (at least the
    workload's ``WARM_PASSES``).  Traced, one warm pass untraced and one traced,
    then the workload's own layer split."""
    t = time.perf_counter()
    cold_lat = wl.run_pass("cold" if traced else None)
    cold_s = time.perf_counter() - t
    start = time.perf_counter()
    warm_lat, walls = [], []
    while len(walls) < wl.WARM_PASSES or time.perf_counter() - start < seconds:
        if walls and time.perf_counter() - PROCESS_START > DEADLINE_S:
            break
        t = time.perf_counter()
        warm_lat.append(wl.run_pass())
        walls.append(time.perf_counter() - t)
        if traced:
            break
    out = {"cold_s": cold_s, "cold_latencies": cold_lat, "warm_latencies": warm_lat, "warm_pass_s": walls}
    if traced:
        t = time.perf_counter()
        wl.run_pass("warm")
        out["traced_pass_s"] = time.perf_counter() - t
        wl.trace_layers()
    return out


def end_to_end(wl, m: dict, setup_s: float, peak_mb: float) -> tuple[dict, dict]:
    """The end-to-end values, plus the latency median and tail with the
    tail's percentile and sample count.  ``throughput_per_s`` is the
    items of a pass over the fastest warm pass (the repository's min-of-N
    timing rule: a stall of a few seconds on a shared machine does not
    move the fastest of several passes)."""
    lat = [x for xs in m["warm_latencies"] for x in xs]
    values = {
        "setup_s": setup_s,
        "cold_s": m["cold_s"],
        "throughput_per_s": wl.items / min(m["warm_pass_s"]),
        "peak_pss_mb": peak_mb,
    }
    extra = {"p50_s": statistics.median(lat), "warm_samples": len(lat), "warm_passes": len(m["warm_pass_s"])}
    got = stats.tail(lat)
    if got is not None:
        extra["tail_s"], extra["tail_percentile"], extra["tail_n"] = got
    return values, extra


def per_layer(wl, m: dict, names: list[str], records: list[dict], jobs: dict) -> dict:
    """Every per-layer metric; a workload reports 0 for a layer its run
    never calls."""

    def summarize(labels: list[str], scope: str | None = None) -> dict:
        stages = [r for r in records if scope is None or scope in r["scopes"]]
        parts = [eventlog.summarize(stages, lb, jobs) for lb in labels]
        return {k: sum(p[k] for p in parts) for k in parts[0]}

    out = dict.fromkeys(names, 0.0)
    out.update(wl.per_layer(summarize))
    out["tracing_overhead_ratio"] = m["traced_pass_s"] / statistics.median(m["warm_pass_s"])
    return out


def metric_units(root: str, kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics in
    ``BENCHMARK.json``, in its order."""
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "jsonld_ex_spark")):
        print("perfbench: no jsonld_ex_spark/ here; run from the repository root", file=sys.stderr)
        return 2
    classes = workload_classes()
    if args.workload not in classes:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(classes)}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    traced = bool(args.trace)
    cpus = len(os.sched_getaffinity(0))  # what nproc prints

    base = os.path.join(root, ".perfbench")
    run_name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}-{os.getpid()}"
    work = os.path.join(base, "work", run_name)
    os.makedirs(work, exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the program from the checkout; every
    # temporary file stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, HERE] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    )
    # a fixed string-hash seed for the Python workers, so set and dict
    # iteration orders (and the work that follows them) repeat run to run
    os.environ["PYTHONHASHSEED"] = "0"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp

    spark = None
    record = {"env": env_stamp(root, args, cpus)}
    try:
        with PssSampler() as pss:
            t0 = time.perf_counter()
            spark = make_session(work, cpus, traced)
            tracer = Tracer(traced, spark)
            wl = classes[args.workload](spark, work, args.seed, tracer)
            wl.setup()
            setup_s = time.perf_counter() - t0
            m = measure(wl, args.seconds, traced)
            stop_session(spark)
            spark = None
            peak_mb = pss.peak_mb
        reap_children()
        record.update(info=wl.info, passes=m, failures=wl.failures)
        if traced:
            logs = [os.path.join(work, "eventlog", f) for f in os.listdir(os.path.join(work, "eventlog"))]
            lines = [ln for f in logs for ln in eventlog.read_log(f)]
            stages = eventlog.parse_events(lines)
            jobs = eventlog.jobs_by_label(lines)
            units = metric_units(root, "per_layer")
            values = per_layer(wl, m, list(units), stages, jobs)
            record.update(spans=tracer.spans, stages=stages, per_layer=values)
        else:
            units = metric_units(root, "end_to_end")
            values, extra = end_to_end(wl, m, setup_s, peak_mb)
            record.update(end_to_end=values, latency=extra)
    finally:
        if spark is not None:
            stop_session(spark)
        reap_children()
        shutil.rmtree(work, ignore_errors=True)

    os.makedirs(os.path.join(base, "records"), exist_ok=True)
    with open(os.path.join(base, "records", run_name + ".json"), "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, default=str)

    correct = wl.failed == 0
    print(f"workload={wl.name} seed={args.seed} traced={traced} attempted={wl.attempted} "
          f"failed={wl.failed} failed_ratio={wl.failed / max(wl.attempted, 1):.6f}")
    for why in wl.failures[:20]:
        print(f"  FAILED {why}")
    if not traced:
        lat = record["latency"]
        print(f"  warm passes={lat['warm_passes']} samples={lat['warm_samples']} p50_s={lat['p50_s']:.6f} s")
        if "tail_s" in lat:
            print(f"  tail_s={lat['tail_s']:.6f} s at p{lat['tail_percentile']:.1f} of n={lat['tail_n']}")
        else:
            print(f"  tail_s: n/a (fewer than {stats.MIN_BEYOND + 1} samples)")
    for name, unit in units.items():
        print(f"  {name} = {values[name]:.6g} {unit}")
    print(json.dumps({
        "correct": correct,
        "attempted": wl.attempted,
        "failed": wl.failed,
        # a value is only non-finite when every try of an operation
        # failed, and then "correct" is already false
        "metrics": {n: {"value": values[n] if math.isfinite(values[n]) else 0.0, "unit": units[n]}
                    for n in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
