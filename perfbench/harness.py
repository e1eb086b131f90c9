"""Shared machinery of the benchmark: host-safe launch settings, the Spark
session, the operation ledger, spans, percentiles and the Spark event-log
parser that turns job-group-tagged calls into per-call counters.

Nothing here imports pyspark at module level, so the pure helpers (the
percentile rule, the event-log parser) are testable without a JVM.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".bench_work")
_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on stderr, stamped with seconds since the process started."""
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


# -- host-safe launch -------------------------------------------------------

def host_ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap_mb(ram_bytes: int) -> int:
    """A quarter of host RAM, capped at 8 GiB: the library default (16g)
    exceeds small hosts, and the benchmark's inputs need far less."""
    return max(1024, min(8192, ram_bytes // 4 // (1 << 20)))


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def launch_env() -> dict:
    """Environment every run sets before pyspark is imported."""
    return {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_DRIVER_MEMORY": f"{driver_heap_mb(host_ram_bytes())}m",
    }


def provenance(workload: str, seed: int, trace: bool, scale: dict) -> dict:
    """Host, cores, RAM, commit, scale and seed stamped on every result."""
    commit = None
    with contextlib.suppress(OSError, subprocess.SubprocessError):
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        commit = out.stdout.strip() or None
    return {
        "host": platform.node(),
        "nproc": nproc(),
        "ram_gb": round(host_ram_bytes() / 2**30, 1),
        "driver_heap": os.environ.get("SPARK_DRIVER_MEMORY"),
        "commit": commit,
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "scale": scale,
    }


# -- statistics -------------------------------------------------------------

def pct(values, q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least a ``q``
    share of the samples at or below it.  ``q=0.5`` of an even-sized list is
    the lower middle sample, so every reported value was observed."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def median(values) -> float:
    return statistics.median(values)


# -- operation ledger -------------------------------------------------------

def error_class(error: BaseException) -> str:
    """The most specific class name of a failure: the JVM exception behind a
    Py4J error (``SparkFileNotFoundException``), else the Python class."""
    java = getattr(error, "java_exception", None)
    if java is not None:
        from py4j.protocol import Py4JError

        try:
            return java.getClass().getSimpleName()
        except Py4JError:  # the gateway is already gone
            pass
    return type(error).__name__


class Ledger:
    """Counts attempted and failed operations by kind; failures keep their
    exception class.  Nothing is retried."""

    def __init__(self):
        self.attempted: dict[str, int] = {}
        self.failed: dict[str, dict[str, int]] = {}

    def record(self, kind: str, error: BaseException | None = None) -> None:
        self.attempted[kind] = self.attempted.get(kind, 0) + 1
        if error is not None:
            by_cls = self.failed.setdefault(kind, {})
            name = error_class(error)
            by_cls[name] = by_cls.get(name, 0) + 1

    def n_attempted(self) -> int:
        return sum(self.attempted.values())

    def n_failed(self) -> int:
        return sum(sum(by_cls.values()) for by_cls in self.failed.values())


# -- spans ------------------------------------------------------------------

class Tracer:
    """Times calls into the program.  Every call is timed (the end-to-end
    metrics need it); with ``enabled`` the call is also tagged with its own
    Spark job group and kept as a span, written out when the run ends."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.steady = False  # set when the measured window opens
        self._n = 0

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Yields a dict; after the block it holds ``wall_s`` and, when
        tracing, the job-group id the block's Spark jobs ran under."""
        rec = {"name": name, "steady": self.steady, **attrs}
        sc = self.spark.sparkContext
        if self.enabled:
            self._n += 1
            rec["group"] = f"{name}#{self._n}"
            sc.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["wall_s"]
            if self.enabled:
                sc.setJobGroup("bench", "benchmark harness")
                self.spans.append(rec)


# -- Spark session ----------------------------------------------------------

def start_session(work: str, trace: bool, app: str):
    """The engine's own session factory, pointed at the run's work dir; with
    ``trace`` the Spark event log goes to ``work/eventlog``."""
    from mysql_cdc_debezium_starrocks_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": tmp,
        # keep the JVM's temp files (and its perf-data file) out of /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + logdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    t0 = time.perf_counter()
    spark = get_spark(app, extra_conf=conf)
    get_spark_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("FATAL")
    return spark, get_spark_s


def stop_spark() -> None:
    """Stop the session, then the JVM it launched, and wait for the JVM to
    exit: it ends when the gateway's stdin pipe closes."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.poll() is None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (local mode: driver == executors)."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing")


def make_work(workload: str) -> str:
    work = os.path.join(WORK_ROOT, f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    return work


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, skipping checksums and markers."""
    total = files = 0
    for dp, _dn, fns in os.walk(path):
        for fn in fns:
            if fn.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(dp, fn))
            files += 1
    return total, files


# -- Spark event log --------------------------------------------------------

_GROUP = "spark.jobGroup.id"
_STREAM_BATCH = "streaming.sql.batchId"


def _group_of(props: dict | None) -> str | None:
    """A job's group; a streaming query's jobs (grouped under its run id)
    are split per micro-batch as ``<run id>#batch<id>``."""
    props = props or {}
    g = props.get(_GROUP)
    if g is not None and _STREAM_BATCH in props:
        g = f"{g}#batch{props[_STREAM_BATCH]}"
    return g


def parse_event_log(lines) -> dict[str, dict]:
    """Per-job-group counters from Spark event-log JSON lines.

    Returns ``{group: {"jobs", "tasks", "intervals", "executor_cpu_s",
    "executor_run_s", "jvm_gc_s", "input_b", "shuffle_b", "spill_b",
    "output_b"}}`` where ``intervals`` lists each job's (submit, complete)
    epoch seconds.  Jobs are assigned by their JobStart properties, tasks by
    the job group of the stage they ran in (see ``_group_of``).
    """
    groups: dict[str, dict] = {}
    job_group: dict[int, str] = {}
    job_submit: dict[int, float] = {}
    stage_group: dict[int, str] = {}

    def acc(g: str) -> dict:
        return groups.setdefault(g, {
            "jobs": 0, "tasks": 0, "intervals": [], "executor_cpu_s": 0.0,
            "executor_run_s": 0.0, "jvm_gc_s": 0.0, "input_b": 0,
            "shuffle_b": 0, "spill_b": 0, "output_b": 0,
        })

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = _group_of(ev.get("Properties"))
            if g is None:
                continue
            jid = ev["Job ID"]
            job_group[jid] = g
            job_submit[jid] = ev["Submission Time"] / 1000
            acc(g)["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                acc(job_group[jid])["intervals"].append(
                    (job_submit[jid], ev["Completion Time"] / 1000)
                )
        elif kind == "SparkListenerStageSubmitted":
            g = _group_of(ev.get("Properties"))
            if g is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = g
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if g is None or not m:
                continue
            a = acc(g)
            a["tasks"] += 1
            a["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            a["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
            a["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            a["output_b"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            a["shuffle_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            a["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    return groups


def read_event_logs(logdir: str) -> dict[str, dict]:
    """Parse every event-log file under ``logdir`` (after the session stops)."""
    def lines():
        for dp, _dn, fns in os.walk(logdir):
            for fn in sorted(fns):
                if fn.startswith(".") or fn.endswith(".crc"):
                    continue
                with open(os.path.join(dp, fn)) as f:
                    yield from f
    return parse_event_log(lines())


def job_time_split(span: dict, intervals) -> tuple[float, float]:
    """(job_s, driver_gap_s) of one span: seconds covered by at least one of
    its Spark jobs, and seconds of the span between and around them.  The
    two are computed separately so their sum checks the event-log clock and
    job attribution against the span's own wall time."""
    job_s = gap_s = 0.0
    cursor = span["start"]
    for a, b in sorted(intervals):
        if a > cursor:
            gap_s += a - cursor
        if b > cursor:
            job_s += b - max(a, cursor)
            cursor = b
    gap_s += max(0.0, span["end"] - cursor)
    return job_s, gap_s


def call_counters(spans, groups) -> list[dict]:
    """Each span joined with its job group's counters and job/gap split."""
    out = []
    for s in spans:
        g = groups.get(s.get("group"), {})
        job_s, gap_s = job_time_split(s, g.get("intervals", []))
        row = {k: v for k, v in g.items() if k != "intervals"}
        row.setdefault("jobs", 0)
        row.setdefault("tasks", 0)
        out.append(s | row | {"job_s": job_s, "driver_gap_s": gap_s})
    return out
