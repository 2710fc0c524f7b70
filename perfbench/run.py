"""Benchmark of sneller_spark: ``agg``, ``ingest`` and ``query`` workloads.

Usage (from the repository root)::

    python3 perfbench/run.py --workload agg --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

One run makes the seed's inputs and their expected results (untimed,
cached under ``.perfbench/``), sets up a host-fitted Spark session
``SETUP_CYCLES`` times, each in a newly launched JVM, warms the workload
up, then runs it in a closed loop for ``--seconds`` and checks every
result.  The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The end-to-end metrics: ``setup_s``, the median set-up (JVM launch,
``get_spark`` and the workload's small warm-up job); ``op_p50_s``, the
median operation (one agg pass, one ingest, or one pass over every
headline query); ``footprint_mb``, the memory the session holds (see
``tracing.memory_mb``).

With ``--trace 0`` the metrics are the end-to-end ones (``END_TO_END``),
measured without tracing.  With ``--trace 1`` they are the per-layer
ones (``_per_layer()``): spans around every call into a layer tag the Spark
jobs with ``setJobGroup`` and Spark's event log attributes its counters
to them.  A layer a workload does not run reads 0.  The lines before the
JSON print the workload's named metrics (``agg_seq_per_s``,
``ingest_seq_per_s``, ``stored_bytes_per_input_byte``, ``query_p50_s``,
``query_p90_s``, ``op_fail_ratio`` ...) with their units; a record of the
run with its settings, CPU probe and load average, and the spans of a
traced run, are written under ``.perfbench/records/``.

The benchmark runs in a child of the process started by the command
above; that process waits for every process the run started, the ones
re-parented to it included, before it exits (``supervise``).
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_DIR = os.path.join(ROOT, ".perfbench")
TMP_DIR = os.path.join(DATA_DIR, "tmp")  # TMPDIR, Spark's local dirs, the event log
WORKLOADS = ("agg", "ingest", "query")
SETUP_CYCLES = 2
CHILD_ENV = "PERFBENCH_RUN"  # set in the supervised process
PR_SET_CHILD_SUBREAPER = 36
REAP_GRACE_S = 20.0

# name -> unit; lower is better for all of them
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "footprint_mb": "MB",
}


def _per_layer() -> dict[str, str]:
    from tracing import SPAN_COUNTERS

    from bench import HEADLINE_QUERIES

    names = {
        "session.start_s": "s", "session.warm_s": "s",
        "session.jvm_peak_rss_mb": "MB", "session.jvm_heap_peak_mb": "MB",
        "session.jvm_heap_retained_mb": "MB", "session.jvm_non_heap_mb": "MB",
        "session.python_workers_peak_rss_mb": "MB",
        "scan.s": "s", "scan.input_bytes": "B",
        "parse.s": "s", "parse.kernel_s": "s", "parse.python_run_s": "s",
        "parse.python_boot_s": "s", "parse.python_sent_bytes": "B",
        "parse.python_received_bytes": "B",
        "enrich.s": "s", "route.s": "s", "aggregate.s": "s",
        "runner.transform_jobs": "count", "runner.transform_s": "s",
        "runner.unit_p50_s": "s", "runner.unit_max_s": "s",
        "runner.final_aggregate_s": "s", "runner.jobs_per_unit": "count",
        "route.write_s": "s", "route.files": "count", "route.bytes": "B",
        "lineage.read_s": "s", "lineage.manifests": "count",
        "compact.s": "s", "compact.bytes_rewritten": "B",
        "compact.files_before": "count", "compact.files_after": "count",
        "ingest.stored_bytes_per_input_byte": "ratio",
        "trace.op_p50_s": "s",
    }
    for q in HEADLINE_QUERIES:
        names[f"query.{q}.s"] = "s"
        names[f"query.{q}.jobs"] = "count"
    for layer in ("scan", "parse", "enrich", "route", "aggregate", "runner", "compact",
                  "query"):
        for k in SPAN_COUNTERS:
            names[f"{layer}.{k}"] = "s" if k.endswith("_s") else "B"
    return names


def host_settings() -> dict:
    """Spark settings fitted to this host: one task slot and one shuffle
    partition per usable core, a driver heap of an eighth of the memory
    (1 to 4 GiB)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem = next(int(line.split()[1]) * 1024 for line in f if line.startswith("MemTotal:"))
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
        if limit.isdigit():
            mem = min(mem, int(limit))
    except OSError:
        pass
    driver_mb = max(1024, min(4096, mem // 8 // (1 << 20)))
    return {"cpus": cpus, "mem_bytes": mem, "master": f"local[{cpus}]",
            "shuffle_partitions": cpus, "driver_memory": f"{driver_mb}m"}


class Run:
    """State of one benchmark run: the session, the tracer and the tally
    of checked operations.  A failed check is reported, never dropped."""

    def __init__(self, data_dir: str, tracer):
        self.data_dir = data_dir
        self.tracer = tracer
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[dict] = []

    def record(self, workload: str, what: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append({"workload": workload, "op": what, "detail": detail})
            print(f"perfbench: FAILED {workload} {what}: {detail}", file=sys.stderr)
        return ok


def _stop_spark() -> None:
    """Stop the active session, then the gateway JVM, and wait for it to
    exit (its Python workers end with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits when this pipe closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _probe() -> dict:
    from bench import calibration_probe

    return {"calibration_probe_s": calibration_probe(), "load1": os.getloadavg()[0]}


def run_one(args) -> dict:
    from inputs import UNITS, query_tables, token_units
    from tracing import Tracer, fold_event_log, memory_mb
    from workloads import Agg, Ingest, Query

    from sneller_spark.session import get_spark

    settings = host_settings()
    records = os.path.join(DATA_DIR, "records")
    os.makedirs(records, exist_ok=True)
    event_dir = os.path.join(TMP_DIR, "eventlog")
    shutil.rmtree(event_dir, ignore_errors=True)
    os.makedirs(event_dir)

    tracer = Tracer(enabled=bool(args.trace))
    run = Run(DATA_DIR, tracer)
    t_prep = time.monotonic()
    if args.workload == "query":
        inputs = query_tables(DATA_DIR, args.seed, args.scale)
        workload = Query(run, inputs, args.seed)
    else:
        inputs = token_units(DATA_DIR, args.seed, args.rows, settings["cpus"])
        workload = (Agg if args.workload == "agg" else Ingest)(run, inputs)
    # the traced agg run also traces one ingest of the same units, so the
    # runner, write, lineage and compaction layers have numbers too
    extra = [Ingest(run, inputs)] if args.trace and args.workload == "agg" else []
    prepare_s = time.monotonic() - t_prep

    conf = {
        "spark.driver.memory": settings["driver_memory"],
        "spark.ui.showConsoleProgress": "false",
        # JVM files stay in the checkout
        "spark.driver.defaultJavaOptions": f"-Djava.io.tmpdir={TMP_DIR} -XX:-UsePerfData",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    meta = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "settings": settings, "spark_conf": conf,
            "rows": args.rows, "units": UNITS, "scale": args.scale,
            "probe_before": _probe()}

    from pyspark import SparkContext

    starts, warms, stopped = [], [], []
    try:
        # set-up: JVM launch + session start + a small warm-up job, SETUP_CYCLES
        # times; every cycle but the last stops the JVM again, so each one
        # pays the cold start a new get_spark caller pays
        for cycle in range(SETUP_CYCLES):
            t0 = time.monotonic()
            spark = get_spark(app_name=f"perfbench-{args.workload}", master=settings["master"],
                              shuffle_partitions=settings["shuffle_partitions"],
                              extra_conf=conf)
            t1 = time.monotonic()
            workload.warm_job(spark)
            warms.append(time.monotonic() - t1)
            starts.append(t1 - t0)
            if cycle < SETUP_CYCLES - 1:
                stopped.append(spark.sparkContext)  # keeps context ids unique
                spark.stop()
                _stop_spark()
        run.spark = spark
        tracer.bind(spark)
        jvm_pid = SparkContext._gateway.proc.pid
        t0 = time.monotonic()
        workload.warm_up()
        meta["warm_up_s"] = time.monotonic() - t0
        step = workload.traced_round if args.trace else workload.op
        meta["probe_start"] = _probe()
        deadline = time.monotonic() + args.seconds
        t0 = time.monotonic()
        while True:
            step()
            if time.monotonic() >= deadline:
                break
        meta["measured_s"] = time.monotonic() - t0
        t0 = time.monotonic()
        for w in extra:
            w.warm_up()
            w.traced_round()
        meta["extra_s"] = time.monotonic() - t0
        meta["probe_end"] = _probe()
        mem = meta["memory_mb"] = memory_mb(spark, jvm_pid)
    finally:
        _stop_spark()
    setups = [a + b for a, b in zip(starts, warms)]

    if not workload.latencies():
        raise RuntimeError(f"{args.workload}: no operation completed; see the failures above")
    done = [w for w in [workload, *extra] if w.op_times]
    named = {}
    for w in done:
        named.update(w.named())
    named["setup_s"] = (statistics.median(setups), "s")
    named["peak_rss_mb"] = (mem["jvm_peak_rss"] + mem["python_workers_peak_rss"], "MB")
    named["footprint_mb"] = (mem["footprint"], "MB")
    named["op_fail_ratio"] = (run.failed / max(1, run.attempted), "ratio")
    if args.trace:
        groups, executions = fold_event_log(event_dir)
        values = dict.fromkeys(_per_layer(), 0.0)
        for w in done:
            values.update(w.layers(groups, executions))
        values["session.start_s"] = statistics.median(starts)
        values["session.warm_s"] = statistics.median(warms)
        for k in ("jvm_peak_rss", "jvm_heap_peak", "jvm_heap_retained", "jvm_non_heap",
                  "python_workers_peak_rss"):
            values[f"session.{k}_mb"] = mem[k]
        values["trace.op_p50_s"] = statistics.median(workload.latencies())
        units = _per_layer()
        tracer.write(os.path.join(records, f"{args.workload}-s{args.seed}.spans.jsonl"))
        meta["self_times_s"] = tracer.self_times()
    else:
        values = {"setup_s": named["setup_s"][0],
                  "op_p50_s": statistics.median(workload.latencies()),
                  "footprint_mb": mem["footprint"]}
        units = END_TO_END
    shutil.rmtree(TMP_DIR, ignore_errors=True)
    metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    meta.update({"prepare_s": prepare_s, "setup_cycles_s": setups, "session_start_s": starts,
                 "session_warm_s": warms, "op_times_s": workload.op_times,
                 "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
                 "attempted": run.attempted, "failed": run.failed, "failures": run.failures,
                 "metrics": metrics})
    with open(os.path.join(records, f"{args.workload}-s{args.seed}-t{args.trace}.json"),
              "w") as f:
        json.dump(meta, f, indent=1)

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"ops={len(workload.op_times)} attempted={run.attempted} failed={run.failed}")
    for k, (v, u) in named.items():
        print(f"  {k:<30} {v:.6g} {u}")
    return {"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed,
            "metrics": metrics}


def run_all(args) -> dict:
    """Each workload in its own process, one after the other."""
    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--rows", str(args.rows),
               "--scale", str(args.scale)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1])
        out["correct"] &= res["correct"]
        out["attempted"] += res["attempted"]
        out["failed"] += res["failed"]
        out["metrics"].update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--rows", type=int, default=64_000,
                   help="sequences per seed for agg and ingest")
    p.add_argument("--scale", type=float, default=0.01,
                   help="scale factor of the query tables (lineitem = 6M x scale)")
    args = p.parse_args(argv)
    from inputs import UNITS

    if args.seed < 0 or args.rows < UNITS:
        p.error(f"need seed >= 0 and rows >= {UNITS}")

    # the program, the bench.py query list and probe, and the catalog
    # checker all come from the checkout; fail before any work without them
    sys.path[1:1] = [ROOT, os.path.join(ROOT, "tools")]
    import bench  # noqa: F401
    import check_correctness  # noqa: F401
    import sneller_spark  # noqa: F401

    # keep every file the run and Spark write inside the checkout
    os.makedirs(TMP_DIR, exist_ok=True)
    os.environ["TMPDIR"] = TMP_DIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(TMP_DIR, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None  # re-read TMPDIR

    result = run_all(args) if args.workload == "all" else run_one(args)
    print(json.dumps(result))
    return 0


def _children() -> list[int]:
    me = os.getpid()
    kids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            kids.append(int(d))
    return kids


def _reap_all() -> None:
    """Wait until this process has no children left; after
    ``REAP_GRACE_S`` kill whichever remain."""
    deadline = time.monotonic() + REAP_GRACE_S
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() >= deadline:
            for kid in _children():
                try:
                    os.kill(kid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def supervise(argv: list[str]) -> int:
    """Run the benchmark in a child process and wait for every process it
    started.  This process becomes a child subreaper, so a process that
    outlives its parent (multiprocessing's resource tracker, the Python
    workers of a stopped JVM) is re-parented here and reaped before the
    benchmark exits.  The child's output is the benchmark's output."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")
    child = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv],
                             env={**os.environ, CHILD_ENV: "1"})

    def forward(signum, _frame):
        child.send_signal(signum)

    for sig in (signal.SIGINT, signal.SIGTERM):
        signal.signal(sig, forward)
    try:
        code = child.wait()
    finally:
        _reap_all()
    return code


if __name__ == "__main__":
    sys.exit(main() if os.environ.get(CHILD_ENV) else supervise(sys.argv[1:]))
