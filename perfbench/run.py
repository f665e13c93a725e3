"""The repo benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload build --seed 1 --seconds 25 --trace 0

Run from the repository root. The run generates its inputs from the
seed, starts a local Spark session, sets the workload up, runs as many
loop iterations as take about ``--seconds`` on a 4-vCPU host (see
workloads.py), checks every output, stops every process it started and prints, as the last
line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end
metrics of BENCHMARK.json; ``--trace 1`` reports its per-layer metrics,
from spans around every layer call plus the Spark event log. Earlier
stdout lines carry the detail: workload-specific figures, load
validity, span self times and the tracing overhead.

Everything a run writes stays under ``.perfbench_work/`` in the
repository root, and the run's own directory there is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import signal
import sys
import tempfile
import time

ROOT = os.getcwd()
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
LOAD_VALID_MAX = 4.0  # bench.py's rule for a load-skewed reading
DRIVER_MEMORY = "2g"  # ample for these corpora; keeps the JVM small on a shared host


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "cloudvectordb_spark")) or not os.path.isfile(spec_path):
        print("perfbench: run from the repository root (cloudvectordb_spark/ and BENCHMARK.json)", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    layer_names = [m["name"] for m in spec["per_layer"]]
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        report = run(args, work, layer_names)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics = {}
    for m in wanted:
        v = report["metrics"].get(m["name"])
        if v is None or not math.isfinite(v):
            print(f"perfbench: metric {m['name']} was not measured ({v})", file=sys.stderr)
            return 3
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for line in report["detail"]:
        print(json.dumps(line))
    print(
        json.dumps(
            {
                "correct": report["failed"] == 0,
                "attempted": report["attempted"],
                "failed": report["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


def isolate(work: str, trace: bool) -> str:
    """Fresh TMPDIR and SPARK_LOCAL_DIRS under ``work``, and a Spark conf
    dir of the benchmark's own (event log on only for a traced run).
    The engine caches built artifacts under tempfile.gettempdir(), so a
    fresh TMPDIR per run keeps every build cold."""
    for d in ("tmp", "spark-local", "conf", "events"):
        os.makedirs(os.path.join(work, d))
    # keep the JVMs' own temp files (the launcher's and the driver's)
    # inside the run directory too
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    conf = [
        f"spark.driver.extraJavaOptions {jvm_opts}",
        "spark.ui.showConsoleProgress false",
    ]
    if trace:
        conf += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{os.path.join(work, 'events')}",
            "spark.eventLog.compress false",
        ]
    with open(os.path.join(work, "conf", "spark-defaults.conf"), "w") as f:
        f.write("\n".join(conf) + "\n")
    with open(os.path.join(work, "conf", "log4j2.properties"), "w") as f:
        f.write(
            "rootLogger.level = warn\n"
            "rootLogger.appenderRef.stderr.ref = console\n"
            "appender.console.type = Console\n"
            "appender.console.name = console\n"
            "appender.console.target = SYSTEM_ERR\n"
            "appender.console.layout.type = PatternLayout\n"
            "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n"
        )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_CONF_DIR"] = os.path.join(work, "conf")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for k in ("SPARK_GRAFT_SCHEDULER", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        os.environ.pop(k, None)
    tempfile.tempdir = None
    return os.path.join(work, "events")


def run(args, work: str, layer_names: list[str]) -> dict:
    from perfbench.trace import EventLog, Tracer, find_event_log
    from perfbench.workloads import WORKLOADS, Run

    events = isolate(work, bool(args.trace))
    load0 = (os.getloadavg()[0], count_java())
    cores = min(4, os.cpu_count() or 1)

    t0 = time.perf_counter()
    from cloudvectordb_spark.session import get_session, ship_package

    # shuffle width per the session factory's own rule of thumb (about
    # 2x the cores); the engine's default of 32 is sized for real data
    spark = get_session("perfbench", cpus=cores, shuffle_partitions=2 * cores)
    ship_package(spark)
    session_s = time.perf_counter() - t0
    gateway = spark.sparkContext._gateway
    jvm = gateway.proc
    tracer = Tracer(bool(args.trace))
    tracer.attach(spark)
    cls = WORKLOADS[args.workload]
    iterations = max(1, round(args.seconds / cls.NOMINAL_S))
    r = Run(spark, tracer, work, args.seed, iterations, cores)
    wl = cls(r)
    phases = {"session_start": session_s}
    try:
        t1 = time.perf_counter()
        wl.setup()
        setup_s = session_s + time.perf_counter() - t1
        setup_walls = {s.name: s.duration for s in tracer.spans if s.parent is None}
        t1 = time.perf_counter()
        wl.loop()
        phases["loop"] = time.perf_counter() - t1
        t1 = time.perf_counter()
        wl.finish()
        phases["finish"] = time.perf_counter() - t1
        jvm_hwm_mb = vm_hwm_mb(jvm.pid)
    finally:
        t1 = time.perf_counter()
        helpers = descendants(os.getpid())
        stop(spark, gateway, jvm, helpers)
        phases["stop"] = time.perf_counter() - t1
    py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

    head = wl.headline()
    metrics = {
        "setup_s": setup_s,
        "peak_rss_mb": py_mb + jvm_hwm_mb,
        **head,
    }
    lat = sorted(o["s"] for o in r.ops if o["kind"] != "compact")
    detail = [
        {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "units": "seconds unless named otherwise",
            "ops": [[o["kind"], o["s"]] for o in r.ops],
            "measured_s": r.measured(),
            "error_rate": r.failed / max(1, r.attempted),
            "tail": tail(lat),
            "peak_rss_mb": {"driver_python": py_mb, "jvm": jvm_hwm_mb},
            "setup_breakdown_s": {"session_start": session_s, **setup_walls},
            "phases_s": phases,
            **r.e2e,
        },
        validity(load0, r.loads),
    ]
    if r.problems:
        detail.append({"problems": r.problems[:10]})

    results = os.path.join(WORK_ROOT, "results")
    os.makedirs(results, exist_ok=True)
    untraced_path = os.path.join(results, f"{args.workload}.json")
    if not args.trace:
        with open(untraced_path, "w") as f:
            json.dump(metrics, f)
        return {"metrics": metrics, "detail": detail, "attempted": r.attempted, "failed": r.failed}

    log = find_event_log(events)
    if not log:
        raise RuntimeError("traced run wrote no Spark event log")
    ev = EventLog(log)
    layer = dict.fromkeys(layer_names, 0.0)
    layer.update(r.layer)
    layer.update(wl.layers(ev))
    ops = [s for s in tracer.spans if s.name.startswith("op.")]
    tot = ev.totals(j for s in ops for j in s.job_ids())
    layer.update(
        {
            "spark.jobs": tot["jobs"],
            "spark.stages": tot["stages"],
            "spark.tasks": tot["tasks"],
            "spark.failed_tasks": tot["failed_tasks"],
            "spark.executor_run_s": tot["run_ms"] / 1000.0,
            "spark.spill_bytes": tot["spill_bytes"],
            "trace.overhead_s": tracer.overhead_s,
        }
    )
    overhead = {"job_id_queries_s": tracer.overhead_s}
    if os.path.exists(untraced_path):
        with open(untraced_path) as f:
            base = json.load(f)
        overhead["traced_minus_untraced"] = {k: metrics[k] - base[k] for k in metrics if k in base}
    else:
        overhead["traced_minus_untraced"] = "no untraced run of this workload in this checkout yet"
    detail.append({"traced_end_to_end": metrics, "tracing_overhead": overhead})
    detail.append({"span_self_times": tracer.self_times()})
    tracer.dump(os.path.join(results, f"{args.workload}.spans.jsonl"))
    return {"metrics": layer, "detail": detail, "attempted": r.attempted, "failed": r.failed}


def tail(lat: list[float]) -> dict:
    """The highest percentile of per-operation latency with at least ten
    samples beyond it, or why there is none."""
    n = len(lat)
    if n < 11:
        return {"value": None, "samples": n, "why": "fewer than 11 operations in the run"}
    return {"value": lat[n - 11], "percentile": 100.0 * (n - 10) / n, "samples": n}


def validity(load0: tuple[float, int], loads: list[float]) -> dict:
    """bench.py's rule: a run that starts with another JVM on the box or
    with 1-minute loadavg above 4.0 is load-skewed. Load is sampled after
    every timed operation, failed ones included."""
    la, jvms = load0
    reasons = []
    if jvms:
        reasons.append(f"{jvms} other JVM(s) running at start")
    if la > LOAD_VALID_MAX:
        reasons.append(f"loadavg_1m at start {la:.2f} > {LOAD_VALID_MAX}")
    return {
        "valid": not reasons,
        "invalid_reason": "; ".join(reasons) or None,
        "loadavg_1m_start": la,
        "java_procs_start": jvms,
        "loadavg_1m_max": max(loads, default=la),
        "ops_over_load_limit": sum(x > LOAD_VALID_MAX for x in loads),
    }


def count_java() -> int:
    n = 0
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/comm") as f:
                    n += f.read().strip() == "java"
            except OSError:
                continue
    return n


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def descendants(pid: int) -> set[int]:
    parent = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                with open(f"/proc/{p}/stat") as f:
                    parent[int(p)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = set(), {pid}
    while frontier:
        frontier = {c for c, pp in parent.items() if pp in frontier} - out
        out |= frontier
    return out


def stop(spark, gateway, jvm, helpers: set[int]) -> None:
    """Stop Spark, close the gateway so the JVM exits, then wait until
    every process the run started (Python workers included) has ended."""
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        try:
            jvm.stdin.close()  # the gateway JVM exits at EOF on its stdin
            jvm.wait(timeout=60)
        except Exception:  # noqa: BLE001 — fall through to the kill below
            jvm.kill()
            jvm.wait()
        deadline = time.monotonic() + 20
        while time.monotonic() < deadline:
            alive = {p for p in helpers if os.path.exists(f"/proc/{p}") and not _zombie(p)}
            if not alive:
                return
            time.sleep(0.2)
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


if __name__ == "__main__":
    sys.exit(main())
