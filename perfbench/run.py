"""The repository benchmark: one workload per run, one JSON result line.

Usage (from the repository root):

    python3 perfbench/run.py --workload candy_etl --seed 1 --seconds 8 --trace 0

Each run builds a ``local[N]`` session (N = number of CPUs, capped at
4), sets the workload up (inputs from ``--seed``, fixtures, warm-up
passes), then runs whole timed passes until ``--seconds`` of pass time
have elapsed, checks the timed passes' outputs, and prints as its last
stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones that
``BENCHMARK.json`` declares (tracing off). With ``--trace 1`` the run
is the separate traced run: an untraced pass, then a traced pass, and
the metrics are the per-layer ones, from spans recorded around each
call into a package layer plus Spark's event log for the jobs those
spans launched. The line before the result holds the run's conditions
(CPUs, commit, seed, foreign CPU and hypervisor steal during the run,
dataset sizes). See README.md in this directory.

Everything the run writes goes under ``.perfbench_work/`` at the
repository root; the sf0.1 workloads read the read-only sf0.1 test
tables (TESTDATA.md).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

WORKLOAD_NAMES = ("candy_etl", "curation_sf0.1")
DRIVER_MEM = "2g"


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json
    declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return tuple(
        {m["name"]: m["unit"] for m in bench[key]}
        for key in ("end_to_end", "per_layer")
    )


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def source_commit() -> str:
    """The git commit when run from a clone, else a digest of the
    package and benchmark sources."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha256()
    for sub in ("candy_store_etl_spark", "perfbench"):
        for dirpath, dirs, files in sorted(os.walk(os.path.join(ROOT, sub))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(dirpath, f), "rb") as fh:
                        h.update(f.encode() + fh.read())
    return "src-sha256:" + h.hexdigest()[:16]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment() -> int:
    """Point every scratch location of the driver, the JVM and the
    Python workers into the work directory, and put the repository on
    the workers' import path. Returns the local[N] core count."""
    if not os.path.isdir(os.path.join(ROOT, "candy_store_etl_spark")):
        sys.exit(f"candy_store_etl_spark package not found under {ROOT}")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    # The driver heap is set through the package's own knob (default 8g)
    # and fixed at that size (-Xms, in main): left to size itself, G1
    # grew the heap from its pause history and the JVM's peak RSS ranged
    # 2.3-4.3 GB (1.5-2.1 GB under a 2 GB cap) between runs of the same
    # code. The live heap after a collection stays near 0.75 GB.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    return min(4, len(os.sched_getaffinity(0)))


def main(argv=None) -> int:
    args = parse_args(argv)
    cpus = prepare_environment()

    import meters
    import spans as tracing
    from candy_store_etl_spark.session import build_session
    from workloads import WORKLOADS, Context, log

    ambient = meters.ambient_meter()
    conf = {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        # the heap fixed at the driver memory, see prepare_environment
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -Xms{DRIVER_MEM}"
        ),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    event_dir = os.path.join(WORK, "eventlog")
    if args.trace:
        shutil.rmtree(event_dir, ignore_errors=True)
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    tr = tracing.Tracer() if args.trace else tracing.NoTracer()
    with tr.span("session.build") as s_session:
        spark = build_session("perfbench", cpus=cpus, extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
    tr.bind(spark)
    wl = WORKLOADS[args.workload]()
    ctx = Context(spark=spark, seed=args.seed, work=WORK)
    try:
        log(f"session up at {time.perf_counter() - T_START:.2f} s")
        wl.setup(ctx)
        log(f"set-up done at {time.perf_counter() - T_START:.2f} s, checks {ctx.check_s:.2f} s")
        setup_s = time.perf_counter() - T_START - ctx.check_s
        if args.trace:
            metrics, attempted, failed = traced_run(ctx, wl, tr, s_session)
        else:
            metrics, attempted, failed = timed_run(ctx, wl, args.seconds)
            metrics["setup_s"] = setup_s
    finally:
        stop_spark(spark)
    if args.trace:
        metrics.update(engine_metrics(tr, event_dir))
        tr.dump(os.path.join(WORK, f"spans_{args.workload}_{args.seed}.jsonl"))
    foreign_s, steal_s = ambient()
    end_to_end, per_layer = declared_metrics()
    units = per_layer if args.trace else end_to_end
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    print(json.dumps({
        "run_info": {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": os.cpu_count(),
            "master": f"local[{cpus}]",
            "commit": source_commit(),
            "foreign_cpu_s": round(foreign_s, 2),
            "steal_cpu_s": round(steal_s, 2),
            "check_s": round(ctx.check_s, 3),
            **ctx.info,
        }
    }))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": metrics[k], "unit": u} for k, u in units.items()
        },
    }))
    return 0


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=120)


def timed_run(ctx, wl, seconds: float):
    """Whole passes until ``seconds`` of pass time; medians per pass."""
    import meters
    from workloads import log

    walls, cpus, lat = [], [], []
    attempted = failed = 0
    with meters.PeakRss() as rss:
        while not walls or sum(walls) < seconds:
            c0 = meters.subtree_cpu_s()
            t0 = time.perf_counter()
            res = wl.run_pass(ctx)
            walls.append(time.perf_counter() - t0)
            cpus.append(meters.subtree_cpu_s() - c0)
            log(f"timed pass {len(walls)}: {walls[-1]:.2f} s, {cpus[-1]:.1f} cpu-s")
            lat += res.latencies
            attempted += res.attempted
            failed += res.failed
    log("peak rss by process: " + ", ".join(
        f"{k} {v / 2**20:.0f} MB" for k, v in sorted(rss.by_comm.items())
    ))
    failed += wl.check(ctx)
    if not lat:
        raise RuntimeError("no op completed in the timed passes")
    ctx.info["passes"] = len(walls)
    return {
        "run_s": statistics.median(walls),
        "op_geomean_s": geomean(lat),
        "cpu_s": statistics.median(cpus),
        "peak_rss_mb": rss.peak / 2**20,
    }, attempted, failed


def traced_run(ctx, wl, tr, s_session):
    """An untraced pass, then a traced one; per-layer metrics from the
    traced pass's spans."""
    import spans as tracing

    t0 = time.perf_counter()
    res = wl.run_pass(ctx)
    untraced_s = time.perf_counter() - t0
    with tr.span("pass") as root:
        m = wl.traced_pass(ctx, tr)
    attempted = res.attempted + m.pop("attempted", 0)
    failed = res.failed + wl.check(ctx)
    spans = tracing.subtree(tr.spans, root)
    selfs = tracing.self_times(spans)
    layer_self = tracing.layer_self_times(spans)
    out = {f"{k}.self_s": v for k, v in layer_self.items()}

    def total(name):
        return sum(s.duration for s in spans if s.name == name)

    plan_spans = [s for s in spans if s.name == "plans.plan"]
    out.update({
        "session.build_s": s_session.duration,
        "plans.build_s": total("plans.build"),
        "plans.analysis_ms": sum(s.attrs["analysis"] for s in plan_spans),
        "plans.optimization_ms": sum(s.attrs["optimization"] for s in plan_spans),
        "plans.planning_ms": sum(s.attrs["planning"] for s in plan_spans),
        "sinks.write_s": total("sinks.write"),
        # counted on the untraced pass: the program's own caches
        "caching.tracked": res.tracked,
        "caching.release_s": total("caching.release"),
        "sources.candy_scan_s": m.get("sources.candy_scan_s", 0.0),
        "operators.allocation_s": m.get("operators.allocation_s", 0.0),
        "timeseries.forecast_s": m.get("timeseries.forecast_s", 0.0),
        "sinks.bytes_written": m.get("sinks.bytes_written", 0),
        "trace.run_s": root.duration,
        "trace.untraced_run_s": untraced_s,
        "trace.overhead_s": root.duration - untraced_s,
        "trace.attributed_ratio": 1 - selfs[root.id] / root.duration,
    })
    return out, attempted, failed


def engine_metrics(tr, event_dir: str) -> dict:
    """Spark accounting for the traced pass's spans from the event log."""
    import spans as tracing

    log = tracing.EventLog(event_dir)
    root = next(s for s in tr.spans if s.name == "pass")
    spans = tracing.subtree(tr.spans, root)
    groups = {tracing.span_group(s) for s in spans}
    out = log.stats(groups).metrics()
    build = {tracing.span_group(s) for s in spans if s.name == "plans.build"}
    out["plans.build_jobs"] = log.stats(build).jobs
    scan = {tracing.span_group(s) for s in spans if s.name == "sources.candy_scan"}
    out["sources.candy_scan_tasks"] = log.stats(scan).tasks if scan else 0
    return out


if __name__ == "__main__":
    sys.exit(main())
