"""Run one feature-store benchmark workload in this process.

    python3 perfbench/run.py --workload online_serve --seed 1 --seconds 15 --trace 0

Builds nothing: the engine package is imported from the checkout root.
Prints the workload's named metrics one per line, then one JSON object
as the last line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are BENCHMARK.json's end-to-end metrics; with
--trace 1 the run wraps the engine's public layer functions, enables the
Spark event log, and reports the per-layer metrics instead, writing the
spans and the per-layer table under perfbench/out/.
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
OUT = os.path.join(HERE, "out")
ENGINE = "cust_sagemaker_feature_store_spark"
HEAP = "1g"
LAYER_UNITS = {"calls": "count", "jobs": "count", "ms": "ms", "self_ms": "ms", "driver_gap_ms": "ms",
               "executor_cpu_s": "s", "gc_s": "s", "shuffle_write_mb": "MB"}


def pin_environment(cpus: int, local_dir: str) -> None:
    """Same core count, shuffle width, scratch disk and heap on every
    run; must happen before the engine is imported (it reads
    SPARK_GRAFT_CPUS at import time)."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local_dir
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = local_dir
    os.environ.pop("SPARK_GRAFT_MASTER", None)


def environment_record(spark, seed: int, cpus: int) -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_cpus": cpus,
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "commit": commit,
        "seed": seed,
    }


def host_loop_ms() -> float:
    """Wall of a fixed pure-Python loop: a probe of how fast the host runs
    this process right now, printed beside the metrics so that a shift
    of the whole machine can be told apart from a change of the engine."""
    t = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i
    return (time.perf_counter() - t) * 1000


def become_subreaper() -> None:
    """Have descendants that lose their parent (the Spark JVM's Python
    workers once the JVM is gone) re-parented to this process, so that
    stop_children can wait for them too. Linux only; elsewhere a no-op."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    me = str(os.getpid())
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the fields after the ")" that closes the command name: state, ppid, ...
        if stat[stat.rfind(")") + 2:].split()[1] == me:
            kids.append(int(entry))
    return kids


def stop_children(grace_s: float = 10.0) -> None:
    """Wait until every process this run started has ended: first for
    them to exit on their own, then SIGTERM, then SIGKILL."""
    start = time.monotonic()
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return  # no child left
            if pid == 0:
                break
        waited = time.monotonic() - start
        if waited > grace_s:
            sig = signal.SIGKILL if waited > 2 * grace_s else signal.SIGTERM
            for pid in _children():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def stop_spark(spark) -> None:
    """Stop the session and its JVM. SparkSession.stop() leaves the
    gateway JVM running until it sees this process's stdin pipe close,
    which otherwise happens only as this process exits."""
    gateway = spark.sparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def main() -> int:
    # exit through the finally blocks below when the caller stops the run
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    become_subreaper()
    try:
        return _main()
    finally:
        stop_children()


def _main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("default", "tiny"), default="default",
                    help="tiny is for the self-test")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"engine package {ENGINE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(OUT, "work", tag)
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    cpus = min(len(os.sched_getaffinity(0)), 4)
    pin_environment(cpus, local)
    try:
        return _run(args, workloads, tag, work, cpus)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, workloads, tag: str, work: str, cpus: int) -> int:
    import numpy as np

    import tracing
    from cust_sagemaker_feature_store_spark import session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a heap fixed at its maximum from the start: a growable heap
        # expands differently from run to run, and peak RSS with it
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={work}",
    }
    event_dir = os.path.join(work, "events")
    if args.trace:
        os.makedirs(event_dir)
        conf.update(tracing.event_log_conf(event_dir))
    host_before = host_loop_ms()
    t = time.perf_counter()
    spark = session.get_spark("perfbench", shuffle_partitions=cpus, extra_conf=conf)
    session_s = time.perf_counter() - t
    try:
        env = environment_record(spark, args.seed, cpus)
        tracer = None
        if args.trace:
            tracer = tracing.Tracer(spark.sparkContext)
            tracing.install_wrappers(tracer)
            tracer.enabled = True  # set-up spans too; the loop then alternates
        ctx = workloads.Ctx(spark, tracer, np.random.default_rng(args.seed), args.seconds,
                            args.size, work)
        e2e = workloads.WORKLOADS[args.workload](ctx)
        if tracer is not None:
            tracer.enabled = False
        e2e["setup_s"] = session_s + sum(ctx.setup.values())
        e2e["peak_rss_mb"] = tracing.peak_rss_mb(spark)
        span_jobs = tracer.job_ids() if tracer is not None else None
        app_id = spark.sparkContext.applicationId
    finally:
        stop_spark(spark)

    named = dict(ctx.named)
    named["host.loop_ms.before"] = (host_before, "ms")
    named["host.loop_ms.after"] = (host_loop_ms(), "ms")
    named["session.get_spark_s"] = (session_s, "s")
    for phase, secs in ctx.setup.items():
        named[f"setup.{phase}"] = (secs, "s")
    named["fail_ratio"] = (ctx.failed / max(ctx.attempted, 1), "ratio")
    named["peak_rss_mb"] = (e2e["peak_rss_mb"], "MB")
    named["setup_s"] = (e2e["setup_s"], "s")

    units = {m["name"]: m["unit"] for m in _spec()["end_to_end"] + _spec()["per_layer"]}
    record = {"workload": args.workload, "trace": args.trace, "size": args.size,
              "seconds": args.seconds, "env": env}
    if args.trace:
        jobs = tracing.read_event_log(event_dir, app_id)
        layers = tracing.summarize(tracer.spans, span_jobs, jobs)
        metrics = per_layer_metrics(tracer.spans, ctx.primary, workloads.PRIMARY_SPAN[args.workload])
        for name, row in layers.items():
            for k, v in row.items():
                named[f"{name}.{k}"] = (v, LAYER_UNITS[k])
        record.update(layers=layers, spans=tracer.spans,
                      breakdown=breakdown(tracer.spans, workloads.PRIMARY_SPAN[args.workload]))
        for child, ms in record["breakdown"].items():
            named[f"{workloads.PRIMARY_SPAN[args.workload]}.breakdown.{child}"] = (ms, "ms")
    else:
        metrics = {k: e2e[k] for k in units if k in e2e}

    for name, (value, unit) in sorted(named.items()):
        print(f"{name} {value} {unit}")
    for p in ctx.problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    record.update(result=result, named={k: v for k, (v, _) in named.items()})
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(OUT, "results", f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps(result))
    return 0


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def per_layer_metrics(spans: list[dict], primary: list, name: str) -> dict:
    """Generic per-layer metrics over the traced primary requests of the
    timed loop, so every workload reports the same names."""
    ss = [s for s in spans if s["name"] == name and s["request"] is not None
          and s["parent"] is None]

    def med(k):
        return statistics.median(s[k] for s in ss)

    # traced over untraced median wall, per request kind (a query name on
    # batch_analytics), then the median over kinds
    ratios = []
    for kind in sorted({k for k, _, _ in primary}):
        traced = [dt for k, dt, tr in primary if k == kind and tr]
        untraced = [dt for k, dt, tr in primary if k == kind and not tr]
        if traced and untraced:
            ratios.append(statistics.median(traced) / statistics.median(untraced))
    return {
        "op_jobs": med("jobs"),
        "op_driver_gap_ms": med("driver_gap_ms"),
        "op_executor_cpu_ms": med("executor_cpu_s") * 1000,
        "op_self_ms": med("self_ms"),
        "op_shuffle_write_kb": med("shuffle_write_mb") * 1000,
        "tracing_overhead_pct": (statistics.median(ratios) - 1) * 100,
    }


def breakdown(spans: list[dict], name: str) -> dict:
    """Median per call of the primary span's wall, split into each direct
    child layer and self time."""
    by_parent: dict[int, list[dict]] = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    calls = [s for s in spans if s["name"] == name and s["request"] is not None]
    names = sorted({c["name"] for s in calls for c in by_parent.get(s["id"], [])})
    out = {n: statistics.median(
        sum(c["ms"] for c in by_parent.get(s["id"], []) if c["name"] == n) for s in calls
    ) for n in names} if calls else {}
    out["self"] = statistics.median(s["self_ms"] for s in calls) if calls else 0.0
    out["total"] = statistics.median(s["ms"] for s in calls) if calls else 0.0
    return out


if __name__ == "__main__":
    sys.exit(main())
