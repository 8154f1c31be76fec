"""Same-host benchmark of the extraction engine.

    python3 perfbench/run.py --workload extract-full --seed 1 --seconds 10 --trace 0

Run from the repository root. One process is the Spark driver at
local[<usable cores>]: it starts the session, stages the workload's input
from the seed, warms up, then calls the workload's product entry point
closed-loop until the timed calls add up to ``--seconds``. Every call's
output is checked against the pure-Python oracle. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` — the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. A report with the host shape, the
input properties, every call and (traced) every span is written to
``.perfbench/reports/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

DEFAULT_SEED = 42         # the seed whose output digests are recorded
# The driver JVM's heap, fixed from start to ceiling. Left to grow (the
# session default is an 8g ceiling over a small start) the heap follows
# G1's heuristics, and a call's wall, CPU and peak RSS wander by a third
# between runs.
DRIVER_MEM = "2g"
EXPECTED = os.path.join(HERE, "expected.json")
MIB = 1 << 20

END_TO_END = {"docs_per_s": "docs/s", "cpu_s_per_kdoc": "CPU-s/kdoc",
              "peak_rss_mb": "MiB", "setup_s": "s"}


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record", action="store_true",
                   help="store this run's output digest as the expected "
                        "one for the default seed")
    return p.parse_args(argv)


def _configure(work: str) -> None:
    """Keep every scratch file of Spark, the JVM and Python in ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-java-options "
        + shlex.quote(f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}")
        + " pyspark-shell")


def _host(spark, cores: int) -> dict:
    import pyarrow
    import pyspark

    model = mem = None
    with open("/proc/cpuinfo", encoding="utf-8") as f:
        model = next((ln.split(":", 1)[1].strip() for ln in f
                      if ln.startswith("model name")), None)
    with open("/proc/meminfo", encoding="utf-8") as f:
        mem = next((int(ln.split()[1]) * 1024 for ln in f
                    if ln.startswith("MemTotal")), None)
    return {
        "nproc": os.cpu_count(), "cores_used": cores,
        "memory_bytes": mem, "cpu_model": model,
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
    }


def _session(cores: int):
    from ocr_platform_spark.session import build_spark

    spark = build_spark("perfbench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark) -> list[int]:
    """Stop Spark and the JVM, then wait for every process they started."""
    import procs
    from pyspark import SparkContext

    pids = list(procs.tree())
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    return procs.wait_ended(pids)


def measure(wl, seconds: float, tracer=None, expect=None) -> list[dict]:
    """Closed loop: call, check, discard, repeat until the timed calls add
    up to ``seconds``. The last call's result is kept in ``wl.last``."""
    import procs

    calls, spent = [], 0.0
    while not calls or spent < seconds:
        failed, notes, dig = 0, [], None
        host0 = procs.host_cpu()
        with procs.PeakSampler() as peak:
            cpu0, t0 = procs.cpu_seconds(), time.perf_counter()
            try:
                if tracer is None:
                    res = wl.call()
                else:
                    with tracer.span("call"):
                        res = wl.call()
            except Exception:                      # a raising job fails
                res = None                         # all of its rows
                failed, notes = wl.ops, [traceback.format_exc(limit=3)]
            wall = time.perf_counter() - t0
            cpu = procs.cpu_seconds() - cpu0
        host = [b - a for a, b in zip(host0, procs.host_cpu())]
        if res is not None or not notes:
            try:
                failed, notes, dig = wl.check(res)
            except Exception:                      # unreadable output
                failed, notes = wl.ops, [traceback.format_exc(limit=3)]
            if expect and dig != expect:
                failed = wl.ops
                notes = notes + ["output digest differs from the recorded "
                                 "one for the default seed"]
        calls.append({"wall_s": wall, "cpu_s": cpu, "peak": dict(peak.peak),
                      "host_steal_share": host[1] / host[0] if host[0] else 0,
                      "failed": failed, "notes": notes, "digest": dig})
        spent += wall
        if spent >= seconds:
            wl.last = res
        elif res is not None:                      # no result may outlive
            wl.discard(res)                        # its call into the next
    return calls


def _window_metrics(wl, calls: list[dict]) -> dict:
    return {
        "docs_per_s": wl.ops / statistics.median(c["wall_s"] for c in calls),
        "cpu_s_per_kdoc": statistics.median(c["cpu_s"] for c in calls)
        / wl.ops * 1000,
        "peak_rss_mb": max(c["peak"]["tree"] for c in calls) / MIB,
    }


def traced(wl, cores: int, work: str, tracer, untraced_dps: float) -> dict:
    """Restart the session with the event log on, make one traced call
    and run the workload's layer probes; returns per-layer metrics and
    extra report fields. The JVM, and with it the JIT-compiled code,
    outlives the restart; only the new Python workers are warmed up, by
    one unshuffled extraction pass over the workload's pages."""
    import layers
    from pyspark import SparkContext

    from ocr_platform_spark.plans.extract_job import extract_pages

    if wl.last is not None:
        wl.discard(wl.last)
    wl.spark.stop()
    events = os.path.join(work, "events")
    os.makedirs(events, exist_ok=True)
    system = SparkContext._jvm.java.lang.System
    for k, v in (("spark.eventLog.enabled", "true"),
                 ("spark.eventLog.dir", "file://" + events),
                 ("spark.eventLog.compress", "false"),
                 ("spark.eventLog.rolling.enabled", "false")):
        system.setProperty(k, v)
    wl.spark = _session(cores)
    tracer.sc = wl.spark.sparkContext
    wl.load(wl.input_path)
    with tracer.span("warmup"):
        layers.noop(extract_pages(wl.pages, shuffle=False))
    calls = measure(wl, 0, tracer)
    dps = wl.ops / statistics.median(c["wall_s"] for c in calls)
    with tracer.span("probes"):
        m = wl.probes(tracer, wl.last, cores, dps)
    if wl.last is not None:
        wl.discard(wl.last)
    wl.spark.stop()
    tasks = layers.read_event_log(events)
    window = set(tracer.names_under("call"))
    m.update(layers.engine_metrics(
        [t for d, ts in tasks.items() if d in window for t in ts], len(calls)))
    m.update(layers.exchange_metrics(tasks.get("probe.shuffle", [])))
    peak = {k: max(c["peak"][k] for c in calls)
            for k in ("jvm", "pyworker", "pyworkers")}
    m["proc.jvm_peak_rss_mb"] = peak["jvm"] / MIB
    m["proc.pyworker_peak_rss_mb"] = peak["pyworker"] / MIB
    m["proc.pyworkers"] = peak["pyworkers"]
    m["trace.overhead"] = untraced_dps / dps
    extra = {"traced_calls": calls, "traced_docs_per_s": dps,
             "probe_ops": [m.get("struct.ops", 0), m.get("struct.failed", 0)],
             "untraced_docs_per_s": untraced_dps,
             "spans": tracer.spans, "self_s": tracer.self_times(),
             "event_log": {d: layers.engine_metrics(ts, 1)
                           for d, ts in tasks.items()},
             "wall_shares": layers.wall_shares(m, wl.ops, calls)}
    metrics = {k: float(m.get(k, 0.0)) for k in layers.PER_LAYER}
    return metrics, extra


def run(args) -> dict:
    import layers
    import procs
    from workloads import WORKLOADS

    root = os.getcwd()
    work = os.path.join(root, ".perfbench", "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _configure(work)
    sys.path.insert(0, root)
    cores = len(os.sched_getaffinity(0))

    host0 = procs.host_cpu()
    t0 = time.perf_counter()
    spark = _session(cores)
    launch_s = time.perf_counter() - t0
    tracer = layers.Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")
    wl = WORKLOADS[args.workload](spark, work, args.seed)
    wl.digests = args.seed == DEFAULT_SEED
    try:
        host = _host(spark, cores)
        wl.input_path = os.path.join(work, "input")
        t = time.perf_counter()
        wl.stage(wl.input_path)
        stage_s = time.perf_counter() - t
        wl.load(wl.input_path)
        t = time.perf_counter()
        wl.build_oracle()
        oracle_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.discard(wl.call())
        warm_s = time.perf_counter() - t
        setup_s = launch_s + stage_s + warm_s
        host = [b - a for a, b in zip(host0, procs.host_cpu())]

        expect = None
        if args.seed == DEFAULT_SEED and not args.record:
            with open(EXPECTED, encoding="utf-8") as f:
                expect = json.load(f)[args.workload]
        calls = measure(wl, args.seconds, expect=expect)
        e2e = _window_metrics(wl, calls)
        e2e["setup_s"] = setup_s
        report = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "host": host,
            "input": wl.props,
            "setup": {"launch_s": launch_s, "stage_s": stage_s,
                      "warmup_s": warm_s, "oracle_s": oracle_s,
                      "host_steal_share": host[1] / host[0]},
            "calls": calls, "end_to_end": e2e,
        }
        if args.record:
            _record(args.workload, calls)
        if args.trace:
            metrics, extra = traced(wl, cores, work, tracer,
                                    e2e["docs_per_s"])
            report.update(extra)
            units = layers.PER_LAYER
            calls = calls + extra["traced_calls"]
        else:
            metrics, units = e2e, END_TO_END
    finally:
        leftover = _shutdown(wl.spark)
    probe_ops, probe_failed = report.get("probe_ops", (0, 0))
    attempted = wl.ops * len(calls) + probe_ops
    failed = sum(c["failed"] for c in calls) + probe_failed
    report.update({"run_wall_s": time.perf_counter() - t0,
                   "attempted": attempted, "failed": failed,
                   "failed_ratio": failed / attempted,
                   "leftover_pids_killed": leftover})
    _write_report(root, report)
    shutil.rmtree(work, ignore_errors=True)
    for name, value in metrics.items():
        print(f"{args.workload}  {name:32s} {value:16.6f} {units[name]}")
    print(f"{args.workload}  {'failed_ratio':32s} {failed / attempted:16.6f}"
          f" fraction ({failed}/{attempted} ops, {len(calls)} calls)")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()}}


def _record(workload: str, calls: list[dict]) -> None:
    digests = {c["digest"] for c in calls}
    if len(digests) != 1 or any(c["failed"] for c in calls):
        raise RuntimeError(f"cannot record: {len(digests)} digests")
    data = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED, encoding="utf-8") as f:
            data = json.load(f)
    data[workload] = digests.pop()
    with open(EXPECTED, "w", encoding="utf-8") as f:
        json.dump(data, f, indent=2, sort_keys=True)
        f.write("\n")


def _write_report(root: str, report: dict) -> None:
    out = os.path.join(root, ".perfbench", "reports")
    os.makedirs(out, exist_ok=True)
    name = f"{report['workload']}-trace{report['trace']}.json"
    with open(os.path.join(out, name), "w", encoding="utf-8") as f:
        json.dump(report, f, indent=1, default=str)


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(os.getcwd(), "ocr_platform_spark")):
        print("perfbench: run from the repository root "
              "(ocr_platform_spark/ not found)", file=sys.stderr)
        return 2
    args = parse_args(argv)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
