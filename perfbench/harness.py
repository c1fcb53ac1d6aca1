"""Spark-side plumbing shared by the workloads: the session, the progress
listener that detects completion from outside, commit-visibility times
read from the commit files, and the memory sampler."""

from __future__ import annotations

import glob
import json
import os
import signal
import subprocess
import tempfile
import threading
import time

#: local[N] cores for the measured runs (at most 4)
CORES = min(4, os.cpu_count() or 1)
#: shuffle width of the benchmark's session: a Spark setting of the
#: session the benchmark owns, not an engine key (see workloads.engine)
SHUFFLE_PARTITIONS = 1


def start_session(work: str, cores: int = CORES):
    """A local[cores] session whose scratch space (shuffle files, Python
    worker temp, warehouse) stays under ``work``."""
    from pyspark.sql import SparkSession

    from cdc_apache_cassandra_spark.session import tune

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM (spark-submit's launcher too) and every Python worker
    # inherits these: no scratch file outside the work directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "1g")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    tune(spark)
    # tune() sets the width to nproc; the engine's query.executors only
    # ever raises it (CdcPipelineConfig.apply takes the max)
    spark.conf.set("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
    return spark


class ProgressLog:
    """Collects every StreamingQueryProgress (as its JSON dict) and every
    query failure. Completion is detected from
    the source end offsets these carry, not from processAllAvailable():
    the mutation cache's TTL timers keep scheduling batches, so that call
    does not settle. ``cpu_s`` is the CPU time the callbacks took (the
    benchmark's own, not the program's)."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        self.lock = threading.Lock()
        self.progress: list[dict] = []
        self.failures: list[str] = []
        self.cpu_s = 0.0
        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                t = time.thread_time()
                p = json.loads(event.progress.json)
                with log.lock:
                    log.progress.append(p)
                    log.cpu_s += time.thread_time() - t

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                if event.exception:
                    with log.lock:
                        log.failures.append(event.exception)

        self.listener = _Listener()

    def of(self, query_id: str) -> list[dict]:
        with self.lock:
            return [p for p in self.progress if p["id"] == query_id]

    def segments_done(self, query_id: str) -> int:
        """Segments the query has consumed (the source's end offset)."""
        done = 0
        for p in self.of(query_id):
            if p["sources"] and p["sources"][0].get("endOffset"):
                done = max(done, offset(p["sources"][0]["endOffset"])["n"])
        return done

    def batch_ranges(self, query_id: str) -> dict[int, tuple[int, int]]:
        """batchId -> [first, end) segment ids of each data batch."""
        out = {}
        for p in self.of(query_id):
            src = p["sources"][0] if p["sources"] else None
            if not src or not src.get("endOffset"):
                continue
            start = offset(src["startOffset"])["n"] if src.get("startOffset") else 0
            end = offset(src["endOffset"])["n"]
            if end > start:
                out[p["batchId"]] = (start, end)
        return out


def offset(value) -> dict | None:
    """A source offset from a progress event: the JSON object itself, or
    its string form."""
    if value is None or isinstance(value, dict):
        return value
    return json.loads(value)


def wait_for(pred, timeout: float, poll: float = 0.02) -> bool:
    deadline = time.time() + timeout
    while time.time() < deadline:
        if pred():
            return True
        time.sleep(poll)
    return pred()


def wait_next_batch(log: ProgressLog, query, timeout: float) -> bool:
    """Wait until the query completes one more micro-batch. After a data
    batch that advances the watermark, Spark runs a no-data batch to
    evict state; waiting it out lets the next phase start from an idle
    stream instead of landing on it part-way through."""
    seen = len(log.of(query.id))
    return wait_for(lambda: len(log.of(query.id)) > seen, timeout)


def delta_commit_times(delta_path: str) -> dict[int, float]:
    """foreachBatch batchId -> time its Delta commit became visible (the
    commit file's mtime). The materialize sink records the batch id as
    the commit's ``txn`` version."""
    out = {}
    for f in glob.glob(os.path.join(delta_path, "_delta_log", "*.json")):
        with open(f) as fh:
            for line in fh:
                a = json.loads(line)
                if "txn" in a:
                    out[int(a["txn"]["version"])] = os.stat(f).st_mtime_ns / 1e9
    return out


def topic_commit_times(topic: str) -> dict[int, float]:
    """Sink batchId -> time its ``_manifest`` file (the commit point)
    became visible."""
    out = {}
    for f in glob.glob(os.path.join(topic, "_manifest", "batch-*.json")):
        bid = int(os.path.basename(f)[len("batch-"):-len(".json")])
        out[bid] = os.stat(f).st_mtime_ns / 1e9
    return out


def read_delta_table(path: str, version: int | None = None):
    """The Delta table's rows at ``version`` (default: the latest) as
    pandas, by replaying its JSON log (add/remove actions) and reading the
    live files with pyarrow: an independent reader for checking what the
    export published."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from urllib.parse import unquote

    live: dict[str, bool] = {}
    for f in sorted(glob.glob(os.path.join(path, "_delta_log", "*.json"))):
        if version is not None and int(os.path.basename(f).split(".")[0]) > version:
            break
        with open(f) as fh:
            for line in fh:
                a = json.loads(line)
                if "add" in a:
                    live[a["add"]["path"]] = True
                elif "remove" in a:
                    live.pop(a["remove"]["path"], None)
    tables = [pq.read_table(os.path.join(path, unquote(p))) for p in live]
    tables = [t for t in tables if t.num_rows]
    if not tables:
        return None
    return pa.concat_tables(tables, promote_options="default").to_pandas()


def read_topic_records(topic: str):
    """Every record of the topic's manifest-committed files, as pandas."""
    import pandas as pd

    rows = []
    for mf in sorted(glob.glob(os.path.join(topic, "_manifest", "batch-*.json"))):
        with open(mf) as f:
            meta = json.load(f)
        for name in meta["files"]:
            with open(os.path.join(topic, name)) as fh:
                rows.extend(json.loads(line) for line in fh)
    return pd.DataFrame(rows)


def segment_visibility(
    ranges: dict[int, tuple[int, int]], commit_times: dict[int, float]
) -> dict[int, float]:
    """segment id -> visibility time of the commit of the batch that read it."""
    out = {}
    for bid, (lo, hi) in ranges.items():
        if bid in commit_times:
            for s in range(lo, hi):
                out[s] = commit_times[bid]
    return out


def stop_spark(spark, timeout: float = 60) -> None:
    """Stop the session, then the JVM it runs in, and wait until every
    process this one started (the JVM, its Python workers) has ended:
    the JVM exits when its stdin pipe closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + timeout
    while _descendants(os.getpid()):
        if time.time() > deadline:
            for pid in _descendants(os.getpid()):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            break
        time.sleep(0.1)


def _descendants(root_pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [root_pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by ``root_pid`` and its live descendants. Python workers that exited
    were reaped by their daemon, so their time is in its children's
    share; time stolen by the host is in nobody's."""
    ticks = 0
    for pid in [root_pid, *_descendants(root_pid)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_pss_bytes(root_pid: int) -> int:
    """Proportional set size of ``root_pid`` and all its descendants (the
    Spark JVM and its Python workers are descendants of the benchmark
    process). PSS splits each shared page among the processes mapping
    it, so Python workers forked from one daemon are not counted twice,
    as summed RSS would count them."""
    total = 0
    for pid in [root_pid, *_descendants(root_pid)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


class MemorySampler:
    """Samples the process tree's PSS every ``every`` seconds; ``peak``
    is the largest sum seen, ``cpu_s`` the CPU time the sampling has
    taken so far (the benchmark's own, not the program's)."""

    def __init__(self, every: float = 0.5):
        self.every = every
        self.peak = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(pid))
            self.cpu_s = time.thread_time()
            self._stop.wait(self.every)

    def start(self):
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_pss_bytes(os.getpid()))
