"""Measurement plumbing shared by the workloads: the Spark session's
lifecycle, the span recorder, the timed sink wrapper, and readers for
the file-source log, listener output, JVM status store and /proc."""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import math
import os
import statistics
import tempfile
import threading
import time
from urllib.parse import unquote, urlparse

now = time.perf_counter


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


# -- spans --------------------------------------------------------------------


class Tracer:
    """In-memory spans (id, name, start, end, parent, run id, attrs).
    Disabled, ``span`` costs one branch and records nothing. The parent
    defaults to the innermost open span of the calling thread; callbacks
    that run on another thread (``foreach_batch``) pass it explicitly."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[tuple] = []
        self._stack = threading.local()
        self._ids = itertools.count(1)  # next() on a count is atomic under the GIL

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack.__dict__.setdefault("ids", [])
        sid = next(self._ids)
        if parent is None and stack:
            parent = stack[-1]
        stack.append(sid)
        t0 = now()
        try:
            yield sid
        finally:
            stack.pop()
            self.spans.append((sid, name, t0, now(), parent, self.run_id, attrs))

    def write(self, path: str, extra: dict) -> None:
        keys = ("id", "name", "start", "end", "parent", "run_id", "attrs")
        with open(path, "w") as f:
            json.dump({"spans": [dict(zip(keys, s)) for s in self.spans], **extra}, f)


class TimedSink:
    """Wraps a sink's ``foreach_batch`` to record when each micro-batch
    call started and returned, the times every latency sample ends at."""

    def __init__(self, sink, tracer: Tracer, parent: int | None = None):
        self.sink = sink
        self.tracer = tracer
        self.parent = parent
        self.calls: list[tuple[int, float, float]] = []

    def foreach_batch(self, df, batch_id: int) -> None:
        with self.tracer.span("streaming.sink.foreach_batch", self.parent, batch_id=batch_id):
            t0 = now()
            self.sink.foreach_batch(df, batch_id)
            self.calls.append((batch_id, t0, now()))

    def returned_at(self) -> dict[int, float]:
        return {b: t1 for b, _, t1 in self.calls}


# -- Spark session ------------------------------------------------------------


def start_spark(cores: int, work: str):
    """``session.get_spark`` at ``local[cores]``, with every scratch
    directory inside ``work``."""
    from auto_data_tokenize_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    # read at JVM launch; a SPARK_LOCAL_DIRS from the caller would send
    # shuffle files outside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = local
    # keep temporary files in the checkout: PySpark's gateway hand-off
    # directory (tempfile), and every JVM's hsperfdata file, the
    # spark-submit launcher's included
    os.environ["TMPDIR"] = tempfile.tempdir = local
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    return get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
        },
    )


def shutdown_jvm() -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to exit
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


# -- /proc --------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    return kids


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Summed VmHWM of this process, the JVM and everything under it
    (the Python worker daemon and its workers)."""
    pids = [os.getpid()]
    root = jvm_pid()
    if root is not None:
        kids = _children()
        todo = [root]
        while todo:
            p = todo.pop()
            pids.append(p)
            todo.extend(kids.get(p, []))
    return sum(_vm_hwm_kb(p) for p in pids) / 1024


# -- streaming logs -------------------------------------------------------------


def source_batches(checkpoint: str) -> dict[str, int]:
    """Input file path -> micro-batch id, from every file source's
    metadata log (``sources/<n>/<batch>`` and its ``.compact`` rollups)."""
    out: dict[str, int] = {}
    for p in glob.glob(os.path.join(checkpoint, "sources", "*", "*")):
        if os.path.basename(p).startswith("."):
            continue
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[unquote(urlparse(e["path"]).path)] = int(e["batchId"])
    return out


DURATION_KEYS = (
    "queryPlanning", "latestOffset", "getBatch", "walCommit",
    "commitOffsets", "addBatch", "triggerExecution",
)


LISTENER_TIMEOUT_S = 30.0


def wait_listener(path: str, queries: int) -> list[dict]:
    """Listener events arrive on Spark's async bus: poll until every
    query's ``terminated`` event is in the file. Raises if they do not
    all arrive, rather than sum a partial record."""
    deadline = now() + LISTENER_TIMEOUT_S
    while now() < deadline:
        if os.path.exists(path):
            with open(path) as f:
                recs = [json.loads(line) for line in f if line.strip()]
            if sum(r["event"] == "terminated" for r in recs) >= queries:
                return recs
        time.sleep(0.1)
    raise RuntimeError(f"listener: {queries} terminated events not in {path} after {LISTENER_TIMEOUT_S} s")


def listener_metrics(recs: list[dict]) -> dict[str, float]:
    prog = [r for r in recs if r["event"] == "progress" and "addBatch" in r["duration_ms"]]
    rows = sum(r["num_input_rows"] for r in prog)
    out = {
        "streaming.batches": float(len(prog)),
        "streaming.rows_per_batch": rows / len(prog) if prog else 0.0,
    }
    for k in DURATION_KEYS:
        out[f"streaming.{k}_ms"] = float(sum(r["duration_ms"].get(k, 0) for r in prog))
    return out


def state_metrics(name: str, progress: list[dict]) -> dict[str, float]:
    """Peak state rows and memory, summed commit time and watermark
    drops over one query's micro-batches (``StreamingQuery.recentProgress``)."""
    ops = [[s for s in p.get("stateOperators", [])] for p in progress]
    per_batch = [
        (
            sum(s["numRowsTotal"] for s in b),
            sum(s["memoryUsedBytes"] for s in b),
            sum(s["commitTimeMs"] for s in b),
            sum(s["numRowsDroppedByWatermark"] for s in b),
        )
        for b in ops
    ] or [(0, 0, 0, 0)]
    return {
        f"state.{name}.rows_total": float(max(b[0] for b in per_batch)),
        f"state.{name}.memory_bytes": float(max(b[1] for b in per_batch)),
        f"state.{name}.commit_ms": float(sum(b[2] for b in per_batch)),
        f"state.{name}.rows_dropped_by_watermark": float(sum(b[3] for b in per_batch)),
    }


# -- JVM status store ------------------------------------------------------------


def _stages(spark) -> list:
    sc = spark.sparkContext
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    seq = sc._jsc.sc().statusStore().stageList(
        None, False, False, no_quantiles, sc._jvm.java.util.ArrayList()
    )
    return [seq.apply(i) for i in range(seq.length())]


def last_stage_id(spark) -> int:
    return max((s.stageId() for s in _stages(spark)), default=-1)


def stage_metrics(spark, after_stage: int) -> dict[str, float]:
    """Task counts and times of every stage after ``after_stage``, and
    the max/median task run time of the heaviest of them."""
    ss = spark._jsc.sc().statusStore()
    stages = [s for s in _stages(spark) if s.stageId() > after_stage]
    out = {
        "spark.tasks": float(sum(s.numCompleteTasks() for s in stages)),
        "spark.executor_run_s": sum(s.executorRunTime() for s in stages) / 1000,
        "spark.gc_s": sum(s.jvmGcTime() for s in stages) / 1000,
        "spark.shuffle_write_bytes": float(sum(s.shuffleWriteBytes() for s in stages)),
        "spark.task_skew": 0.0,
    }
    if stages:
        top = max(stages, key=lambda s: s.executorRunTime())
        tasks = ss.taskList(top.stageId(), top.attemptId(), 1 << 20)
        times = []
        for i in range(tasks.length()):
            m = tasks.apply(i).taskMetrics()
            if m.isDefined():
                times.append(m.get().executorRunTime())
        med = statistics.median(times) if times else 0
        out["spark.task_skew"] = max(times) / med if med else 1.0
    return out
