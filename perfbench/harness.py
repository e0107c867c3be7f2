"""Shared machinery: the Spark session, spans, memory sampling, event-log
reduction and summary statistics.

Everything the benchmark writes goes under the work directory inside
the checkout (Spark local dirs, JVM temp dir, event logs, staged
inputs), and the work directory is removed when the run ends.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from typing import Optional

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: driver heap for every session: small enough for a 15 GB host shared
#: with other jobs, large enough for every workload.  The heap is
#: reserved at its full size (-Xms) but not touched in advance, so the
#: JVM's resident memory is the part of it the workload has used; the
#: young generation has a fixed size, so that does not depend on how the
#: collector resizes generations from its pause times.
DRIVER_MEMORY = "3g"
YOUNG_GEN = "512m"
SHUFFLE_PARTITIONS = 4


# -- statistics --------------------------------------------------------------------

def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]) of a non-empty list."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty list")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


# -- spans -------------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, request id), written
    out once at the end.  When disabled, ``span`` records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._local = threading.local()   # per-thread parent stack
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, req: Optional[int] = None):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": stack[-1] if stack else None, "req": req}
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def durations(self, name: str) -> list[float]:
        """Wall seconds of every closed span with this name."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# -- memory --------------------------------------------------------------------------

def _tree_pids(root_pid: int) -> dict:
    """{pid: command name} of ``root_pid`` and all its descendants (the
    driver Python, the JVM and its Python workers), from /proc."""
    parent, comm = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(d)] = int(stat[stat.rindex(")") + 2:].split()[1])
        comm[int(d)] = stat[stat.index("(") + 1:stat.rindex(")")]
    children: dict[int, list] = {}
    for p, pp in parent.items():
        children.setdefault(pp, []).append(p)
    out, todo = {}, [root_pid]
    while todo:
        p = todo.pop()
        if p in out:
            continue
        out[p] = comm.get(p, "")
        todo.extend(children.get(p, ()))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by
    n processes counted 1/n in each, so forked Python workers do not
    count their shared pages several times."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_memory(root_pid: int) -> dict:
    """Proportional set size of the process tree, split into the JVM
    and the Python processes."""
    by_kind = {"jvm": 0, "python": 0}
    for pid, comm in _tree_pids(root_pid).items():
        by_kind["jvm" if comm == "java" else "python"] += _pss_bytes(pid)
    return by_kind


class MemSampler:
    """Background sampler of the process tree's memory."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.samples: list[int] = []
        self.peak = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            parts = tree_memory(os.getpid())
            total = sum(parts.values())
            self.samples.append(total)
            if total > self.peak:
                self.peak, self.peak_parts = total, parts
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def p95_mb(self) -> float:
        """95th percentile of the samples: the run's high-water level
        without the sub-second spikes of short-lived worker processes."""
        return percentile(self.samples, 95) / (1 << 20) if self.samples else 0.0


# -- inputs --------------------------------------------------------------------------

def stage(src_paths: list[str], dst_dir: str) -> list[str]:
    """Publish generated files into a fresh input directory: hard-link
    them into a staging directory, then rename it into place, so no
    reader ever sees a partial directory.  Returns the published paths."""
    tmp = dst_dir + ".staging"
    os.makedirs(tmp)
    for p in src_paths:
        os.link(p, os.path.join(tmp, os.path.basename(p)))
    os.rename(tmp, dst_dir)
    return [os.path.join(dst_dir, os.path.basename(p)) for p in src_paths]


# -- Spark session ---------------------------------------------------------------------

def prepare_env(work: str) -> None:
    """Process environment for the JVM and Python workers: temp files
    stay inside the work directory, and workers import ``jepl_spark``
    from the checkout whatever the current directory is."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the spark-submit launcher included, keeps its temp and
    # perf-data files out of the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))


def start_session(work: str, cores: int = 4, event_log: Optional[str] = None,
                  audio_heavy: bool = False):
    """Start a SparkSession.  The first call launches the JVM; later
    calls after ``stop_session`` start a new SparkContext in the same
    JVM (a traced phase with the event log on, or ``local[1]``)."""
    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", f"-Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN}")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true" if event_log else "false")
    )
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (b.config("spark.eventLog.dir", "file://" + event_log)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    if audio_heavy:
        # the clips_stream_run session shape: row-based parquet reader
        # and bounded Arrow batches for wide audio blobs
        b = (b.config("spark.sql.parquet.enableVectorizedReader", "false")
             .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    if spark is not None:
        spark.stop()


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM (and with it the
    Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the gateway may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()   # the JVM exits on EOF from its parent
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- event log ---------------------------------------------------------------------------

#: accumulables summed per label from every task's updates
_TASK_ACCUMS = {
    "data sent to Python workers": "py_bytes_sent",
    "data returned from Python workers": "py_bytes_returned",
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
}


def _event_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(os.path.join(path, f) for f in os.listdir(path)
                      if f.startswith("events_"))
    return [path]


def read_event_log(log_dir: str) -> dict:
    """Reduce Spark's uncompressed event log(s) under ``log_dir`` to
    per-label totals, where a job's label is its job description (the
    benchmark sets one per layer call) or ``stream:<query id>:<batch id>``
    for Structured Streaming micro-batch jobs.

    Returns {label: {"jobs", "stages", "tasks", "input_bytes",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "result_bytes", "py_*": ..., "shuffle_read_per_task": {stage: [..]}}}."""
    stage_label: dict[int, str] = {}
    out: dict[str, dict] = {}

    def bucket(label: str) -> dict:
        return out.setdefault(label, {
            "jobs": 0, "stages": 0, "tasks": 0, "input_bytes": 0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "spill_bytes": 0, "result_bytes": 0,
            **{v: 0 for v in _TASK_ACCUMS.values()},
            "shuffle_read_per_task": {},
        })

    logs = []
    if os.path.isdir(log_dir):
        for name in sorted(os.listdir(log_dir)):
            logs.extend(_event_files(os.path.join(log_dir, name)))
    for path in logs:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    if "streaming.sql.batchId" in props:
                        label = "stream:{}:{}".format(
                            props.get("sql.streaming.queryId", "?"),
                            props["streaming.sql.batchId"])
                    else:
                        label = props.get("spark.job.description") or "unlabelled"
                    b = bucket(label)
                    b["jobs"] += 1
                    for sid in e.get("Stage IDs", []):
                        stage_label.setdefault(sid, label)
                elif kind == "SparkListenerStageCompleted":
                    sid = e["Stage Info"]["Stage ID"]
                    if sid in stage_label:
                        bucket(stage_label[sid])["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    label = stage_label.get(e.get("Stage ID"))
                    if label is None:
                        continue
                    b = bucket(label)
                    b["tasks"] += 1
                    m = e.get("Task Metrics") or {}
                    b["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    b["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    read = sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    b["shuffle_read_bytes"] += read
                    if read:
                        b["shuffle_read_per_task"].setdefault(e["Stage ID"], []).append(read)
                    b["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    b["result_bytes"] += m.get("Result Size", 0)
                    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                        key = _TASK_ACCUMS.get(acc.get("Name"))
                        if key is not None:
                            try:
                                b[key] += int(acc.get("Update", 0))
                            except (TypeError, ValueError):
                                pass
    return out


def merge_labels(summary: dict, match) -> dict:
    """Sum the per-label totals of every label for which ``match(label)``."""
    tot = {"jobs": 0, "stages": 0, "tasks": 0, "input_bytes": 0,
           "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
           "spill_bytes": 0, "result_bytes": 0,
           **{v: 0 for v in _TASK_ACCUMS.values()}}
    skews = []
    for label, b in summary.items():
        if not match(label):
            continue
        for k in tot:
            tot[k] += b[k]
        for reads in b["shuffle_read_per_task"].values():
            if len(reads) > 1:
                skews.append(max(reads) / max(1.0, statistics.median(reads)))
    tot["shuffle_skew"] = median(skews)
    return tot
