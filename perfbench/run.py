"""Benchmark entry point.

    python3 perfbench/run.py --workload <hourly_sync|reads> --seed N \
        --seconds S --trace <0|1>

Runs one workload closed-loop (one client thread) against the program's
public API on ``local[<cpus>]``, checks every output, and prints one JSON
object as the last line of standard output.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` wraps the program's public functions
in spans and reports the per-layer metrics.  Exits non-zero when the
program cannot be imported or an output is wrong.

Every run works in a fresh directory under ``.perfbench/`` at the root
of the checkout (its own TMPDIR, Spark local dirs and table root) and
removes it at the end, leaving ``.perfbench/<run>.json`` with the run
record and, for traced runs, the spans.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def host_sample() -> dict:
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return {"loadavg": list(os.getloadavg()), "steal_ticks": int(cpu[8]) if len(cpu) > 8 else 0}


def rss_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except FileNotFoundError:
        pass
    return 0


CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and every
    process under it, reaped children included: the Python driver, the
    Spark JVM and its Python workers.  Time the hypervisor steals is
    not counted, so the figure depends far less than wall time on how
    busy the host's other tenants are."""
    stats = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except (FileNotFoundError, ProcessLookupError):
                continue
            stats[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, ()))
    return ticks / CLK_TCK


def reset_rss_hwm() -> None:
    """Restart this process's VmHWM, so it leaves out input generation."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="change one output before it is checked (tests the checks)")
    args = ap.parse_args()
    # A TERM signal unwinds like an exception, so the Spark JVM is
    # stopped and the run directory removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cpus = len(os.sched_getaffinity(0))
    host = {"nproc": cpus, "start": host_sample()}
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    out_dir = os.path.join(ROOT, ".perfbench")
    rundir = os.path.join(out_dir, run_id)
    os.makedirs(rundir)
    tmp = os.path.join(rundir, "tmp")
    local = os.path.join(rundir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    # Run isolation: registry state the program keeps under
    # tempfile.gettempdir() lives and dies with this run.
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TZ"] = "UTC"
    time.tzset()
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    import tempfile

    tempfile.tempdir = None
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        from workloads import WORKLOADS

        wl = WORKLOADS[args.workload](args.seed)
        from shopify_youtube_etl_spark.session import get_spark
    except (ImportError, KeyError) as exc:
        print(f"cannot run workload {args.workload!r}: {exc!r}", file=sys.stderr)
        shutil.rmtree(rundir, ignore_errors=True)
        return 2

    try:
        wl.prepare(rundir)
        reset_rss_hwm()
        return measure(args, wl, get_spark, cpus, host, rundir, out_dir, run_id)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)


def measure(args, wl, get_spark, cpus, host, rundir, out_dir, run_id) -> int:
    from pyspark import SparkContext
    from workloads import QUERIES, SETUP_REPEATS, label

    conf = {
        "spark.local.dir": os.path.join(rundir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(rundir, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.ui.showConsoleProgress": "false",
    }
    event_dir = os.path.join(rundir, "eventlog")
    if args.trace:
        os.makedirs(event_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    phases = {}
    t_phase = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    gateway = SparkContext._gateway
    jvm_pid = gateway.proc.pid
    pid = os.getpid()

    tracer = None
    if args.trace:
        from spans import Tracer, install

        tracer = Tracer(spark.sparkContext)
        install(tracer)
    try:
        phases["session_s"] = time.perf_counter() - t_phase
        setup_wall, setup_cpu = [], []
        for i in range(SETUP_REPEATS):
            c0, t0 = tree_cpu_s(pid), time.perf_counter()
            wl.setup(spark, i)
            setup_wall.append(time.perf_counter() - t0)
            setup_cpu.append(tree_cpu_s(pid) - c0)
        t_phase = time.perf_counter()
        wl.warmup()
        phases["warmup_s"] = time.perf_counter() - t_phase
        latencies: list[float] = []
        cpu: list[float] = []
        labels: list[str] = []
        primary: list[bool] = []
        bookkeeping0 = tracer.bookkeeping_s if tracer else 0.0
        t_start = time.perf_counter()
        for i, spec in enumerate(wl.schedule(args.seconds)):
            c0 = tree_cpu_s(pid)
            if tracer is not None:
                tracer.op = i
                with tracer.span("op"):
                    t0 = time.perf_counter()
                    wl.run(i, spec, tracer)
                    latencies.append(time.perf_counter() - t0)
            else:
                t0 = time.perf_counter()
                wl.run(i, spec)
                latencies.append(time.perf_counter() - t0)
            cpu.append(tree_cpu_s(pid) - c0)
            labels.append(label(spec))
            primary.append(wl.primary(spec))
        wall = time.perf_counter() - t_start
        # Memory high-water marks of the program's processes, read before
        # the checks add the benchmark's own allocations.
        jvm_mb, python_mb = rss_hwm_kb(jvm_pid) / 1024.0, rss_hwm_kb(os.getpid()) / 1024.0
        if args.corrupt:
            wl.corrupt_outputs = True
        if tracer is not None:
            tracer.op = None
            bookkeeping = tracer.bookkeeping_s - bookkeeping0
        t_phase = time.perf_counter()
        failed_ops, problems = wl.check()
        phases["check_s"] = time.perf_counter() - t_phase
        layout = wl.layer_counts()
    finally:
        t_phase = time.perf_counter()
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
        phases["stop_s"] = time.perf_counter() - t_phase

    host["end"] = host_sample()
    host["steal_ticks_delta"] = host["end"]["steal_ticks"] - host["start"]["steal_ticks"]
    attempted = len(latencies)
    failed = len(failed_ops)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "setup_wall_s": setup_wall,
        "setup_cpu_s": setup_cpu,
        "phases_s": phases,
        "latencies_s": latencies,
        "cpu_s": cpu,
        "labels": labels,
        "primary": primary,
        "rss_hwm_mb": {"jvm": jvm_mb, "python": python_mb},
        "problems": problems[:50],
    }
    if args.trace:
        from spans import layer_metrics

        (log_name,) = os.listdir(event_dir)
        metrics = layer_metrics(tracer, os.path.join(event_dir, log_name), wl, latencies, cpu,
                                labels, primary, wall, cpus, bookkeeping, QUERIES)
        extra = dict(layout, error_rate=failed / attempted, peak_rss_mb=jvm_mb + python_mb)
        for k, v in extra.items():
            metrics[k] = (v, metrics[k][1])
        tracer.dump(os.path.join(out_dir, run_id + ".trace.json"), {"metrics": metrics})
    else:
        # Mean, not median, CPU per op: the ops of a reads round are 16
        # different queries, and the median flips between neighbouring
        # ones while their sum stays put.
        main = [x for x, p in zip(cpu, primary) if p]
        metrics = {
            "setup_s": (statistics.median(setup_cpu), "s"),
            "op_cpu_s": (sum(main) / len(main), "s"),
        }
    record["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    with open(os.path.join(out_dir, run_id + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for p in problems[:20]:
        print("CHECK FAILED:", p, file=sys.stderr)
    print(json.dumps({
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": record["metrics"],
    }))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
