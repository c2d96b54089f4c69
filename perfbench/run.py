"""Benchmark entry point.

    python3 perfbench/run.py --workload bulk_ingest --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It builds nothing: the engine is the
``data_ingestion_spark`` package beside this directory. All files it
writes go under ``.perfbench_work/`` in the checkout and are removed at
exit.

The command supervises: the run itself is a child process, and the
command is a child subreaper, so every process the run starts (the
JVM, and the Python daemon and workers the JVM forks) stays its
descendant even once orphaned. On every way out (the run's end, a
raise, SIGTERM/SIGINT/SIGHUP, or ``RUN_LIMIT_S`` passing) it stops all
of them and waits until each has ended. The last stdout line is the
result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, measured with
tracing off; with ``--trace 1`` they are the per-layer ledger. The line
before it is a JSON detail record: host annotations (1-min load average
and the 16-way md5 scaling probe that ``bench.py`` records), sample
counts and the run's setup breakdown.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("bulk_ingest", "serve_topk")
#: local[n] with n < nproc: each task drives a Python worker, and the
#: JVM's own threads need a core too, so n = nproc would queue work on
#: the scheduler. A small driver heap keeps the process tree modest on
#: a host whose memory other jobs share
MAX_CPUS = 3
DRIVER_MEM = "1g"
#: a run that has not ended by then is stopped and fails without a
#: result, well inside the 180 s a run may take
RUN_LIMIT_S = 168.0
#: time the run gets to stop Spark itself, then the time every process
#: left gets between SIGTERM and SIGKILL
STOP_GRACE_S, KILL_GRACE_S = 5.0, 3.0
PR_SET_PDEATHSIG, PR_SET_CHILD_SUBREAPER = 1, 36


def _descendants(pid: int) -> list[int]:
    """Pids of every live descendant of ``pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree_rss_mb(pid: int) -> float:
    """Resident set of ``pid`` and all its descendants (Python, JVM and
    the Python workers the JVM forks)."""
    return sum(_rss_kb(p) for p in [pid, *_descendants(pid)]) / 1024.0


class RssSampler:
    """Samples the process tree's RSS every 200 ms; keeps the peak."""

    def __init__(self):
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_mb(os.getpid()))
            self._stop.wait(0.2)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, _tree_rss_mb(os.getpid()))


def _configure_env(work: str) -> None:
    """Keep Spark, the JVM and Python temp files inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "--conf spark.ui.showConsoleProgress=false",
            # the tracer reads every job and stage back from the status store
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            f"--driver-java-options -Djava.io.tmpdir={tmp}",
            "pyspark-shell",
        ]
    )


def _stop_spark(spark) -> None:
    """Stop the session and the JVM (it exits when its stdin closes),
    then wait until every process started under this one has ended,
    the Python workers the JVM forked included."""
    started = _descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    # a later session in this process launches a fresh JVM
    type(spark.sparkContext)._gateway = None
    type(spark.sparkContext)._jvm = None
    deadline = time.monotonic() + 60
    while any(map(_running, started)) and time.monotonic() < deadline:
        time.sleep(0.2)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _cpu_times() -> list[int]:
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_pct(a: list[int], b: list[int]) -> float:
    d = [y - x for x, y in zip(a, b)]
    return 100.0 * d[7] / max(sum(d), 1)


def _prctl(option: int, value: int) -> None:
    ctypes.CDLL(None, use_errno=True).prctl(option, value, 0, 0, 0)


class _Stopped(Exception):
    pass


def _raise_stopped(signum, _frame):
    raise _Stopped(signum)


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _end_all(grace: float) -> None:
    """SIGTERM every descendant, SIGKILL what is left after ``grace``
    seconds, and return once none exists any more, not even as a
    zombie."""
    deadline = time.monotonic() + grace
    termed: set[int] = set()
    while True:
        _reap()
        rest = _descendants(os.getpid())
        if not rest:
            return
        late = time.monotonic() > deadline
        for pid in rest:
            if not _running(pid) or (pid in termed and not late):
                continue
            try:
                os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
            except ProcessLookupError:
                pass
            termed.add(pid)
        time.sleep(0.1)


def supervise(cmd: list[str], limit: float = RUN_LIMIT_S) -> int:
    """Run ``cmd`` as a child process; whatever happens, stop every
    process it started before returning its exit code."""
    _prctl(PR_SET_CHILD_SUBREAPER, 1)
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, _raise_stopped)
    child = None
    try:
        child = subprocess.Popen(
            cmd,
            # the run gets SIGTERM if this process dies first
            preexec_fn=lambda: _prctl(PR_SET_PDEATHSIG, signal.SIGTERM),
        )
        return child.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run passed {limit:.0f} s; stopped", file=sys.stderr)
        return 124
    except _Stopped as e:
        return 128 + e.args[0]
    finally:
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, signal.SIG_IGN)
        if child is not None and child.poll() is None:
            # the run stops Spark on SIGTERM; the grace covers that
            child.terminate()
            try:
                child.wait(timeout=STOP_GRACE_S)
            except subprocess.TimeoutExpired:
                pass
        _end_all(KILL_GRACE_S)


def _work_dir(tag: str) -> str:
    return os.path.join(ROOT, ".perfbench_work", tag)


def _remove_work(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass  # another run still uses it


def main(argv: list[str] | None = None, work: str | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # SIGTERM unwinds the run, so Spark is stopped on the way out
    signal.signal(signal.SIGTERM, lambda signum, _f: sys.exit(128 + signum))

    if not os.path.isfile(os.path.join(ROOT, "data_ingestion_spark", "__init__.py")):
        print(
            f"perfbench: no data_ingestion_spark package under {ROOT}; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    from bench import _host_probe

    load_start = os.getloadavg()[0]
    cpu_start = _cpu_times()
    host = _host_probe()
    t_setup0 = time.perf_counter()

    work = work or _work_dir(f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _configure_env(work)
    spark = None
    try:
        with RssSampler() as rss:
            from data_ingestion_spark.session import get_spark

            from perfbench.workloads import Run

            spark = get_spark("perfbench", cpus=min(MAX_CPUS, os.cpu_count() or 1))
            t_session = time.perf_counter() - t_setup0
            run = Run(spark, work, args.seed, args.seconds)
            marks: dict[str, float] = {}

            def setup_done() -> float:
                marks["setup_end"] = time.perf_counter()
                return marks["setup_end"]

            if args.trace:
                run.traced(args.workload, setup_done)
            else:
                getattr(run, args.workload)(setup_done)
            t_loop = time.perf_counter() - marks["setup_end"]
        setup_s = marks["setup_end"] - t_setup0
    finally:
        if spark is not None:
            _stop_spark(spark)
        _remove_work(work)

    q = sorted(run.query_ms)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "load_avg_start": round(load_start, 2),
        "load_avg_end": round(os.getloadavg()[0], 2),
        # share of CPU time the hypervisor gave to other guests
        "steal_pct": round(_steal_pct(cpu_start, _cpu_times()), 2),
        "host_probe": host,
        "session_s": round(t_session, 3),
        "host_probe_s": round(t_setup0 - T_START, 3),
        "loop_s": round(t_loop, 3),
        "query_samples": len(q),
        "ingest_rates": [round(x, 1) for x in run.ingest_rates],
        **run.detail,
    }
    if args.trace:
        t0 = min((sp.start for sp in run.tracer.spans), default=0.0)
        detail["spans"] = [
            [sp.name, sp.parent, sp.run_id, round(sp.start - t0, 3), round(sp.end - t0, 3), sp.jobs]
            for sp in run.tracer.spans
        ]
    print(json.dumps(detail))
    if args.trace:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in run.layer.items()}
    else:
        from statistics import median

        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "ingest_chunks_per_s": {"value": median(run.ingest_rates), "unit": "chunks/s"},
            "query_p50_ms": {"value": median(q), "unit": "ms"},
            "peak_rss_mb": {"value": rss.peak, "unit": "MB"},
        }
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--run"]:
        sys.exit(main(sys.argv[3:], work=sys.argv[2]))
    work = _work_dir(f"run-{os.getpid()}")
    code = supervise([sys.executable, os.path.abspath(__file__), "--run", work, *sys.argv[1:]])
    # a run that was stopped may not have removed its files itself
    _remove_work(work)
    sys.exit(code)
