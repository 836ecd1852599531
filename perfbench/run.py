"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload scan --seed 1 --seconds 10 --trace 0

Everything runs in this process on ``local[n]``, n = the CPUs this
process may use. The corpora are built from ``--seed`` on every run
(untimed). Then the session is restarted and the workload set up
``SETUP_REPS`` times, the JVM's peak RSS is reset, the workload's
warm-up pass runs, and ops run back to back for ``--seconds`` (at least
one); every op's outputs are checked. ``setup_s`` is the median set-up
plus the warm-up pass: what a caller pays before the first warm op.
The warm-up, a pass of large jobs, also keeps ``setup_s`` from
following the host's scheduling latency as the short set-ups alone do.

With ``--trace 0`` the last line holds the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` the session also writes a Spark
event log and the line holds the per-layer metrics. Comparing
``trace.docs_per_s`` with ``docs_per_s`` of an untraced run gives the
tracing overhead. A record of the run (spans, Spark counts per span,
host capacity before and after, Spark's stderr) is written under
``.perfbench_out/``; scratch data goes to ``.perfbench_work/`` and is
removed when the run ends. perfbench/LAYERS.md maps each per-layer
metric to the end-to-end metric it should move.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
ERROR_LINE = re.compile(r"\bERROR\b|^Traceback")


_BURN = """\
import sys, time
n, best = int(sys.argv[1]), 0.0
for _ in range(3):
    t0 = time.perf_counter()
    s = 0
    for i in range(n):
        s += i * i
    best = max(best, n / (time.perf_counter() - t0))
print(best)
"""


def host_capacity(workers: int, per_task: int = 800_000) -> float:
    """M loop iterations/s that ``workers`` Python processes get right
    now: the sum of each worker's best of three rounds, so that worker
    start-up is not counted. Plain child processes, each waited for."""
    procs = [subprocess.Popen([sys.executable, "-c", _BURN, str(per_task)],
                              stdout=subprocess.PIPE, text=True)
             for _ in range(workers)]
    return sum(float(p.communicate()[0]) for p in procs) / 1e6


def start_session(workload: str, nproc: int, work: str, trace: bool):
    from json_schema_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.executorEnv.PYTHONPATH": ROOT,
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name=f"perfbench-{workload}", master=f"local[{nproc}]",
                     shuffle_partitions=nproc, extra_conf=conf)


def _descendants(pid: int) -> list[int]:
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except FileNotFoundError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids = [int(k) for k in f.read().split()]
        except FileNotFoundError:
            continue
        for k in kids:
            out += [k, *_descendants(k)]
    return out


def stop_jvm() -> None:
    """Shut down the gateway JVM and wait until it and the Python
    workers it started have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    workers = _descendants(proc.pid)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the gateway server exits on EOF
    proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    for pid in workers:
        while _running(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _running(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _running(pid: int) -> bool:
    """Whether ``pid`` still runs; reaps it first if it is an exited
    child (orphaned workers become children of this subreaper)."""
    try:
        os.waitpid(pid, os.WNOHANG)
    except ChildProcessError:
        pass
    return os.path.exists(f"/proc/{pid}")


def reap_all(grace: float = 30.0) -> None:
    """Wait until every process this one started has ended. The process
    is a child subreaper (see ``main``), so descendants orphaned on the
    way are its children too; any still running after ``grace`` seconds
    are killed."""
    deadline = time.monotonic() + grace
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for k in _descendants(os.getpid()):
                try:
                    os.kill(k, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def reset_peak_rss(spark) -> None:
    """Start the JVM's peak-RSS count afresh, so that the prepare step's
    allocations do not count as the workload's: a full GC lets the
    heap shrink, then ``/proc/<pid>/clear_refs`` resets VmHWM to the
    current RSS."""
    spark._jvm.java.lang.System.gc()
    with open(f"/proc/{_jvm_pid(spark)}/clear_refs", "w") as f:
        f.write("5")


def jvm_peak_rss_mb(spark) -> float:
    with open(f"/proc/{_jvm_pid(spark)}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def measure(args, nproc: int, work: str) -> dict:
    """Prepare, set up and run one workload; returns the run record."""
    from perfbench.tracing import Tracer
    from perfbench.workloads import WORKLOADS, OpResult

    tr = Tracer(enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](work, args.seed, nproc, tr)
    rec = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
           "nproc": nproc, "host_m_iters_s_before": host_capacity(nproc)}
    phase_s = rec["phase_s"] = {}
    mark = time.perf_counter()

    def lap(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phase_s[name] = now - mark
        mark = now

    tr.phase = "prepare"
    t0 = time.perf_counter()
    spark = start_session(args.workload, nproc, work, tr.enabled)
    rec["session_launch_s"] = time.perf_counter() - t0
    tr.bind(spark)
    wl.prepare(spark)
    lap("prepare")

    tr.phase = "setup"
    setups = []
    for _ in range(SETUP_REPS):
        tr.bind(None)
        spark.stop()
        t0 = time.perf_counter()
        with tr.span("session.start"):
            spark = start_session(args.workload, nproc, work, tr.enabled)
            tr.bind(spark)
        wl.setup(spark)
        setups.append(time.perf_counter() - t0)

    reset_peak_rss(spark)

    tr.phase = "warmup"
    t0 = time.perf_counter()
    with tr.span("warmup"):
        wl.warmup(spark)
    rec["warmup_s"] = time.perf_counter() - t0
    lap("setup_and_warmup")

    tr.phase = "loop"
    ops: list[OpResult] = []
    walls: list[float] = []
    start = time.perf_counter()
    # closed loop, one caller; stop before an op that would overrun --seconds
    while not ops or time.perf_counter() - start + statistics.median(walls) <= args.seconds:
        t0 = time.perf_counter()
        with tr.span("op"):
            try:
                ops.append(wl.op(spark))
            except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
                traceback.print_exc()
                ops.append(OpResult(0, 0.0, attempted=1, failed=1))
        walls.append(time.perf_counter() - t0)
    lap("loop")
    rec["jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
    if tr.enabled:
        tr.phase = "breakdown"
        wl.breakdown(spark)
    app_id = spark.sparkContext.applicationId
    tr.bind(None)
    spark.stop()
    stop_jvm()
    lap("breakdown_and_stop")
    rec["host_m_iters_s_after"] = host_capacity(nproc)

    rates = [o.docs / o.seconds for o in ops if o.docs and not o.failed]
    rec.update(
        setup_s=setups,
        ops=[{"docs": o.docs, "seconds": o.seconds, "attempted": o.attempted,
              "failed": o.failed, "notes": o.notes} for o in ops],
        attempted=sum(o.attempted for o in ops),
        failed=sum(o.failed for o in ops),
        end_to_end={
            "setup_s": _median(setups) + rec["warmup_s"],
            "docs_per_s": _median(rates),
            "jvm_peak_rss_mb": rec["jvm_peak_rss_mb"],
        },
        samples={k: _median(v) for k, v in wl.samples.items()},
        spans=tr.spans,
    )
    if tr.enabled:
        rec["layers"] = per_layer(tr, len(ops), rec, os.path.join(work, "eventlog", app_id),
                                  nproc)
    return rec


def per_layer(tr, n_ops: int, rec: dict, event_log: str, nproc: int) -> dict:
    from perfbench.tracing import parse_event_log, total
    from perfbench.workloads import RunnerIncremental, TypedScan

    groups = parse_event_log(event_log)
    rec["span_counts"] = {g: c.as_dict() for g, c in sorted(groups.items())}

    def span_s(stem: str) -> float:
        for phases in (("loop", "breakdown"), ("setup",), ("prepare",)):
            d = [s["end"] - s["start"] for s in tr.spans
                 if s["name"] == stem and s["phase"] in phases]
            if d:
                return statistics.median(d)
        return 0.0

    def per_call(stem: str, field: str) -> float:
        """A span's Spark count per occurrence of the span."""
        calls = [s for s in tr.spans if s["name"] == stem and s["phase"] in ("loop", "breakdown")]
        if not calls:
            return 0.0
        gc = groups.get(f"{calls[0]['phase']}:{stem}")
        return getattr(gc, field) / len(calls) if gc else 0.0

    loop = total(groups, lambda g: g.startswith("loop:"))
    mdocs = TypedScan.N_DOCS / 1e6
    out = {
        "session.launch_s": rec["session_launch_s"],
        "warmup_s": rec["warmup_s"],
        "compiler.cpu_s_per_mdoc": (
            per_call("compiler.verdict", "cpu_ns") + per_call("compiler.violations", "cpu_ns"))
            / 1e9 / mdocs,
        "pyvalidator.python_eval_s": per_call("pyvalidator.validate", "python_ms") / 1e3,
        "operators.tdigest.python_eval_s": per_call("operators.tdigest.digest", "python_ms") / 1e3,
        "operators.unique.shuffle_bytes": per_call("operators.unique.verdict",
                                                   "shuffle_write_bytes"),
        "runner.jobs_per_partition": (per_call("runner.interrupted", "jobs")
                                      + per_call("runner.resume", "jobs"))
                                     / RunnerIncremental.N_PARTS,
        "spark.jobs": loop.jobs / n_ops,
        "spark.stages": loop.stages / n_ops,
        "spark.tasks": loop.tasks / n_ops,
        "spark.shuffle_write_bytes": loop.shuffle_write_bytes / n_ops,
        "spark.spill_bytes": loop.spill_bytes / n_ops,
        "spark.gc_s": loop.gc_ms / 1000.0 / n_ops,
        "spark.task_skew": loop.task_skew(min_tasks=nproc),
        "trace.docs_per_s": rec["end_to_end"]["docs_per_s"],
    }
    out.update(rec["samples"])
    for stem in {s["name"] for s in tr.spans}:
        out.setdefault(f"{stem}_s", span_s(stem))
    return out


def count_error_lines(path: str) -> int:
    with open(path, errors="replace") as f:
        return sum(1 for line in f if ERROR_LINE.search(line))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "json_schema_spark", "__init__.py")):
        print(f"perfbench: no json_schema_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = {w["name"] for w in bench["workloads"]}
    if args.workload not in names:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(names)}",
              file=sys.stderr)
        return 2

    # Become a child subreaper (PR_SET_CHILD_SUBREAPER), so that reap_all
    # can wait for descendants whose parent exits before they do.
    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    nproc = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", tag)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "eventlog"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(out_dir, exist_ok=True)
    # Python workers import the engine from this checkout whatever the
    # working directory; temp files and shuffle data stay in the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)

    # Spark's and the workers' stderr go to a per-run log, so stdout
    # stays parseable and error lines can be counted.
    log_path = os.path.join(out_dir, f"{tag}.log")
    saved_stderr = os.dup(2)
    try:
        with open(log_path, "w") as log:
            os.dup2(log.fileno(), 2)
            try:
                rec = measure(args, nproc, work)
            except Exception:  # noqa: BLE001 - reported below without a result line
                traceback.print_exc()
                rec = None
            finally:
                try:
                    stop_jvm()
                finally:
                    reap_all()
                sys.stderr.flush()
                os.dup2(saved_stderr, 2)
    finally:
        os.close(saved_stderr)
        shutil.rmtree(work, ignore_errors=True)

    errors = count_error_lines(log_path)
    if rec is None:
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        print(f"perfbench: run failed; log in {log_path}", file=sys.stderr)
        return 1
    rec["error_lines"] = errors
    if args.trace:
        rec["layers"]["spark.error_lines"] = errors
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(rec, f, indent=1, default=str)

    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    values = rec["layers"] if args.trace else rec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"host_m_iters_s": [rec["host_m_iters_s_before"],
                                         rec["host_m_iters_s_after"]],
                      "error_lines": errors}), file=sys.stderr)
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
