"""The benchmark's workloads.

Both run the same seeded generator through the same three steps, each on
its own pipeline:

1. set-up: the Spark session, then ``SETUP_REPS`` fresh pipelines one
   after the other, each started over ``CORES`` small segments and run
   until the commit of its first micro-batch is visible (the first is
   cold; the last is the pipeline measured below);
2. phase 1, open loop: one generator thread creates ``RATE`` mutations/s
   on a fixed schedule and cuts a segment every ``SEGMENT_EVERY`` s, for
   ``--seconds`` s, well below either pipeline's capacity; every
   mutation's latency runs from its writetime (when it was due) to the
   visibility of the commit that published it;
3. phase 2, catch-up: ``BURST_SEGMENTS`` segments published at once,
   once phase 1 is drained, until the commit of the batch holding the
   last one is visible.

The gated numbers are set-up time, CPU time per event in each phase and
peak memory; wall-clock latency and catch-up rate go to the per-layer
output (``wall.*``) because the host's steal time spreads them wider
than any bound the benchmark may set (see README.md).

``upsert_stream``: cdc_commitlog -> CdcEngine.dedup (watermark-bounded)
-> CdcEngine.materialize(delta_path=...), the bucket MERGE plus a Delta
export per micro-batch. Visibility = the Delta commit file.

``publish_stream``: cdc_commitlog -> CdcEngine.pipeline (watermark dedup
-> read-after-event stream-static join -> key/value records) -> cdc_topic.
Visibility = the topic's ``_manifest`` file.

The traced run (``--trace 1``) adds spans around the engine's public
calls and, after the measured phases: on upsert_stream the change-feed
drain and a mutation-cache run; on publish_stream the fused-operator
replay, the store-serving loop (backfill, point reads, small commits) and
the catch-up at local[1]. See README.md.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import sys
import threading
import time

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen
import harness
import oracle
import tracing

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")
N_KEYS = 20_000
N_BUCKETS = 8
SETUP_REPS = 3
WARMUP_MUTATIONS = 100  # per set-up segment
RATE = 200  # mutations/s in phase 1, x RF=2 copies
TICK = 0.05
SEGMENT_EVERY = 0.5
BURST_SEGMENTS = 10
BURST_MUTATIONS = 500  # per burst segment: 10 x 500 x 2 = 10k events
SERVE_OPS = 8  # traced store-serving loop: operations, every 4th a commit
SERVE_COMMIT_EVERY = 4
SERVE_COMMIT_MUTATIONS = 50
READ_KEYS = 4
DEADLINE_S = 165  # the run must end within 180 s


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def _mean(xs, default=0.0):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else default


def _tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def _manifest(path: str) -> dict | None:
    try:
        with open(os.path.join(path, "_MANIFEST.json")) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


class Upsert:
    def __init__(self, bench):
        self.b = bench
        self.store = os.path.join(bench.work, "store")
        self.delta = os.path.join(bench.work, "delta")

    def start(self, events, tag="", dedup=None):
        b = self.b
        return b.eng.materialize(
            (dedup or b.eng.dedup)(events),
            self.store + tag,
            os.path.join(b.work, "ckpt" + tag),
            pk_cols=["pk"],
            delta_path=self.delta + tag,
            n_buckets=N_BUCKETS,
        )

    def commit_times(self, tag=""):
        return harness.delta_commit_times(self.delta + tag)

    def check(self, events: pd.DataFrame) -> tuple[int, int]:
        """The Delta export (the store's active view as published)."""
        got = harness.read_delta_table(self.delta)
        if got is None:
            got = pd.DataFrame(columns=["pk", *gen.VALUE_COLS])
        self.b.active_rows = len(got)
        return oracle.active_mismatches(got, events), len(got)


class Publish:
    def __init__(self, bench):
        self.b = bench
        self.topic = os.path.join(bench.work, "topic")

    def start(self, events, tag=""):
        from pyspark.sql import functions as F

        b = self.b
        snap = b.spark.read.parquet(b.snapshot_path)
        records = b.eng.pipeline(events, snap, ["pk"], gen.VALUE_COLS).select(
            F.col("key.pk").alias("pk"),
            F.col("value").isNull().alias("tombstone"),
            *[F.col(f"value.{c}").alias(c) for c in gen.VALUE_COLS],
        )
        return (
            records.writeStream.format("cdc_topic")
            .option("path", self.topic + tag)
            .option("checkpointLocation", os.path.join(b.work, "ckpt" + tag))
            .start()
        )

    def commit_times(self, tag=""):
        return harness.topic_commit_times(self.topic + tag)

    def check(self, events: pd.DataFrame) -> tuple[int, int]:
        got = harness.read_topic_records(self.topic)
        self.b.topic_records = got
        return oracle.topic_mismatches(got, events, self.b.snapshot_pd), len(got)


PIPELINES = {"upsert_stream": Upsert, "publish_stream": Publish}


def engine(spark):
    """The engine on a session whose shuffle width is 1. The width is a
    Spark setting of the session the benchmark owns
    (``harness.start_session``), not an engine key: the reference key
    ``query.executors`` (default 10) only raises the width, never lowers
    it, so it is set to 1 here to leave the session's width alone. At
    these batch sizes (hundreds to thousands of events) one partition is
    the fastest width measured: a publish_stream data batch takes ~2 s at
    1 against ~3.5 s at 4 and ~4 s at 10, and the run budget has no room
    for the slower batches."""
    from cdc_apache_cassandra_spark.engine import CdcEngine

    return CdcEngine.from_config_keys(
        spark, {"query.executors": str(harness.SHUFFLE_PARTITIONS)}
    )


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.t_start = time.time()
        self.seg_dir = os.path.join(work, "segments")
        self.snapshot_path = os.path.join(work, "snapshot.parquet")
        os.makedirs(self.seg_dir)
        self.tables: list[pa.Table] = []  # every segment written, in order
        self.seg_bytes = 0
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.layer: dict[str, float] = {}
        self.tracer = tracing.Tracer() if trace else None
        self.active_rows = 0
        self.topic_records = None

    # --- helpers ----------------------------------------------------------

    def remaining(self, cap: float) -> float:
        return max(1.0, min(cap, self.t_start + DEADLINE_S - time.time()))

    def write(self, seg_id: int, table: pa.Table) -> None:
        path = gen.write_segment(self.seg_dir, seg_id, table)
        self.tables.append(table)
        self.seg_bytes += os.path.getsize(path)

    def mark(self, what: str) -> None:
        """Phase timeline on stderr (seconds since the run started)."""
        print(f"perfbench: {time.time() - self.t_start:7.2f}s {what}", file=sys.stderr, flush=True)

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.notes.append(what)

    def wait_consumed(self, query, n_segments: int, cap: float) -> bool:
        ok = harness.wait_for(
            lambda: self.log.segments_done(query.id) >= n_segments
            or not query.isActive,
            self.remaining(cap),
        )
        ok = ok and self.log.segments_done(query.id) >= n_segments
        if not ok:
            self.fail(f"stream did not consume {n_segments} segments in time")
        return ok

    def open_loop(self, g: gen.Generator) -> tuple[list[int], float, float]:
        """Phase 1 on the generator thread: ``RATE`` mutations/s, due on a
        fixed schedule (a stalled write delays nothing that follows).
        Returns (segment ids, how late the loop ran at most, the
        generator thread's CPU seconds)."""
        per_tick = round(RATE * TICK)
        per_seg = round(SEGMENT_EVERY / TICK)
        n_ticks = max(1, round(self.seconds / SEGMENT_EVERY)) * per_seg
        segs: list[int] = []
        late = [0.0]
        cpu = [0.0]

        def loop():
            start = time.time() + 0.05
            for k in range(n_ticks):
                due = start + k * TICK
                d = due - time.time()
                if d > 0:
                    time.sleep(d)
                late[0] = max(late[0], time.time() - due)
                g.add(per_tick, int(due * 1e6))
                if (k + 1) % per_seg == 0:
                    sid, tbl = g.flush(last=k + 1 == n_ticks)
                    self.write(sid, tbl)
                    segs.append(sid)
            cpu[0] = time.thread_time()

        t = threading.Thread(target=loop, name="perfbench-generator")
        t.start()
        t.join()
        return segs, late[0], cpu[0]

    def stage_burst(self, g: gen.Generator, seg_dir: str) -> list:
        """Phase 2, first half: generate the burst and write it under
        names the source does not list yet."""
        due = gen.now_us()
        cut = []
        for i in range(BURST_SEGMENTS):
            g.add(BURST_MUTATIONS, due)
            cut.append(g.flush(last=i == BURST_SEGMENTS - 1))
        return [(sid, tbl, gen.stage_segment(seg_dir, sid, tbl)) for sid, tbl in cut]

    def publish(self, staged: list, seg_dir: str) -> tuple[list[int], float, int]:
        """Phase 2, second half: publish the staged burst at once (renames
        only); returns (segment ids, publish time, events)."""
        t0 = time.time()
        for _, _, (tmp, final) in staged:
            os.replace(tmp, final)
        for sid, tbl, (_, final) in staged:
            if seg_dir == self.seg_dir:
                self.tables.append(tbl)
                self.seg_bytes += os.path.getsize(final)
        return [s for s, _, _ in staged], t0, sum(t.num_rows for _, t, _ in staged)

    def catchup_rate(self, burst, vis: dict[int, float]) -> float:
        """Burst events over the wall time from publishing the burst to the
        visibility of the commit holding its last segment."""
        segs, t0, n = burst
        ends = [vis[s] for s in segs if s in vis]
        if len(ends) < len(segs):
            self.fail("a burst segment never became visible")
            return 0.0
        return n / (max(ends) - t0)

    def events(self, seg_dir: str):
        return self.spark.readStream.format("cdc_commitlog").option("path", seg_dir).load()

    def program_cpu_s(self) -> float:
        """CPU seconds the process tree has used so far, less the
        benchmark's own threads that run inside a measured window: this
        (main) thread, which only publishes and waits there, the memory
        sampler and the progress listener. The generator thread's time is
        taken off by the caller."""
        own = time.thread_time() + self.mem.cpu_s + self.log.cpu_s
        return harness.tree_cpu_s(os.getpid()) - own

    def write_warmup(self, g: gen.Generator, seg_dir: str) -> None:
        """``CORES`` set-up segments: a pipeline's first micro-batch reads
        them at once, so every reader task slot starts its Python worker."""
        for _ in range(harness.CORES):
            g.add(WARMUP_MUTATIONS, gen.now_us())
            sid, tbl = g.flush(last=True)
            if seg_dir == self.seg_dir:
                self.write(sid, tbl)
            else:
                gen.write_segment(seg_dir, sid, tbl)

    def connect(self, cores: int = harness.CORES) -> None:
        """A session with the engine, its formats registered and the
        progress listener attached."""
        from cdc_apache_cassandra_spark.sources import commitlog_source, topic_sink

        self.spark = spark = harness.start_session(self.work, cores)
        self.eng = engine(spark)
        commitlog_source.register(spark)
        topic_sink.register(spark)
        spark.streams.addListener(self.log.listener)

    def visibility(self, query, tag: str = "") -> dict[int, float]:
        """segment id -> visibility time of its micro-batch's commit."""
        return harness.segment_visibility(
            self.log.batch_ranges(query.id), self.pipe.commit_times(tag)
        )

    # --- the run ----------------------------------------------------------

    def run(self) -> dict:
        self.mem = harness.MemorySampler().start()
        try:
            e2e = self._run()
        finally:
            self.mem.stop()
        e2e["peak_pss_mb"] = self.mem.peak / 2**20
        return self._result(e2e)

    def _run(self) -> dict:
        g = gen.Generator(self.seed, N_KEYS)
        snap = g.snapshot()
        pq.write_table(snap, self.snapshot_path)
        self.snapshot_pd = snap.to_pandas()
        self.pipe = PIPELINES[self.workload](self)
        if self.tracer:
            self.install_wrappers()
        self.log = harness.ProgressLog()

        # set-up: the session (once: it launches the JVM, and restarting
        # Spark inside it costs 10-15 s), then SETUP_REPS fresh pipelines
        # (each with its own source directory, checkpoint and output), each
        # until its first commit is visible; the first is cold, the last is
        # the pipeline measured below
        t0 = time.time()
        self.connect()
        session_s = time.time() - t0
        setups = []
        for rep in range(SETUP_REPS):
            measured = rep == SETUP_REPS - 1
            tag = "" if measured else f"_setup{rep}"
            seg_dir = self.seg_dir if measured else os.path.join(self.work, "segments" + tag)
            rg = g if measured else gen.Generator(self.seed + 1 + rep, N_KEYS)
            os.makedirs(seg_dir, exist_ok=True)
            self.write_warmup(rg, seg_dir)
            t0 = time.time()
            q = self.pipe.start(self.events(seg_dir), tag)
            self.wait_consumed(q, rg.next_segment, 120)
            setups.append(time.time() - t0)
            if not measured:
                q.stop()
                self.attempted += len(self.log.of(q.id))
        self.mark(f"session {session_s:.2f}s, pipeline set-ups " + " ".join(f"{s:.2f}s" for s in setups))

        # phase 1: open loop
        if self.tracer:
            self.tracer.phase = "stream"
        cpu0 = self.program_cpu_s()
        phase1, late, gen_cpu = self.open_loop(g)
        backlog = len(self.tables) - self.log.segments_done(q.id)
        self.wait_consumed(q, len(self.tables), 60)
        openloop_cpu = self.program_cpu_s() - cpu0 - gen_cpu
        harness.wait_next_batch(self.log, q, self.remaining(5))
        self.mark("phase 1 drained")

        # phase 2: catch-up, once phase 1 is drained; the window opens
        # once the burst is generated and staged
        staged = self.stage_burst(g, self.seg_dir)
        cpu0 = self.program_cpu_s()
        burst = self.publish(staged, self.seg_dir)
        self.wait_consumed(q, len(self.tables), 60)
        catchup_cpu = self.program_cpu_s() - cpu0
        q.stop()
        self.mark("phase 2 drained, query stopped")
        for f in self.log.failures:
            self.fail(f"query failed: {f.splitlines()[0]}")

        vis = self.visibility(q)
        events_pd = pa.concat_tables(self.tables).to_pandas()
        latency = self.latencies(events_pd, set(phase1), vis)
        p50, p90 = oracle.percentile(latency, 50), oracle.percentile(latency, 90)
        if p90 is None:
            self.fail(f"{len(latency)} latency samples cannot support p90")
        e2e = {
            "setup_s": session_s + statistics.median(setups),
            "openloop_cpu_ms_per_kevent": openloop_cpu * 1e6 / sum(self.tables[s].num_rows for s in phase1),
            "catchup_cpu_ms_per_kevent": catchup_cpu * 1e6 / burst[2],
        }
        wall = {
            "wall.catchup_events_per_s": self.catchup_rate(burst, vis),
            "wall.replication_latency_p50_ms": p50 or 0.0,
            "wall.replication_latency_p90_ms": p90 or 0.0,
        }
        self.layer.update(wall)
        self.mark(" ".join(f"{k}={v:.1f}" for k, v in wall.items()))

        mism, checked = self.pipe.check(events_pd)
        self.attempted += checked
        if mism:
            self.fail(f"{self.workload} output: {mism} rows differ from the oracle", mism)
        self.stream_layers(q, backlog, late)
        self.mark(
            "batches (rows/ms): "
            + " ".join(f"{p['numInputRows']}/{p['durationMs'].get('triggerExecution')}" for p in self.log.of(q.id))
        )
        self.layer["session.start_s"] = session_s
        self.layer["session.pipeline_setup_s"] = statistics.median(setups)
        self.layer["session.cold_pipeline_setup_s"] = setups[0]
        if self.tracer:
            self.layer["traced.openloop_cpu_ms_per_kevent"] = e2e["openloop_cpu_ms_per_kevent"]
            self.layer["traced.catchup_cpu_ms_per_kevent"] = e2e["catchup_cpu_ms_per_kevent"]
            self.traced(events_pd, q)
        return e2e

    def latencies(self, events_pd, phase1: set[int], vis: dict[int, float]) -> list[float]:
        """Per phase-1 mutation: the earliest visibility of any of its
        copies minus its writetime, in ms. A mutation none of whose
        copies became visible is lost and counts as failed."""
        ev = events_pd[events_pd["segment"].isin(phase1)].copy()
        ev["vis"] = ev["segment"].map(vis)
        per = ev.groupby("digest").agg(vis=("vis", "min"), wt=("writetime", "first"))
        lost = int(per["vis"].isna().sum())
        if lost:
            self.fail(f"{lost} phase-1 mutations never became visible", lost)
        per = per.dropna()
        return list((per["vis"] - per["wt"] / 1e6) * 1000)

    # --- per-layer numbers from outside ------------------------------------

    def stream_layers(self, q, backlog: int, late: float) -> None:
        prog = self.log.of(q.id)
        self.attempted += len(prog)
        data = [p for p in prog if p["numInputRows"] > 0]
        L = self.layer
        dur = lambda ps, k: _mean(p["durationMs"].get(k, 0) for p in ps)  # noqa: E731
        L["generator.late_ms_max"] = late * 1000
        L["stream.trigger_ms"] = dur(data, "triggerExecution")
        L["stream.planning_ms"] = dur(data, "queryPlanning")
        L["stream.add_batch_ms"] = dur(data, "addBatch")
        L["stream.wal_commit_ms"] = dur(data, "walCommit")
        L["stream.no_data_batches"] = sum(1 for p in prog[1:] if p["numInputRows"] == 0)
        ranges = self.log.batch_ranges(q.id)
        L["stream.segments_per_batch"] = _mean(hi - lo for lo, hi in ranges.values())
        L["stream.backlog_segments_end"] = backlog
        L["commitlog.latest_offset_ms"] = dur(prog, "latestOffset")
        ops = [o for p in prog for o in p.get("stateOperators", [])]
        dedup = [o for o in ops if "dedupe" in o.get("operatorName", "").lower()]
        dropped = sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
        if dropped:
            # a watermark drop is a lost mutation
            self.fail(f"{dropped} rows dropped by the watermark", dropped)
        L["dedup.state_rows_total"] = dedup[-1].get("numRowsTotal", 0) if dedup else 0
        L["dedup.dropped_by_watermark"] = dropped
        if self.workload == "publish_stream":
            self.topic_layers()
        else:
            self.store_layers()

    def topic_layers(self) -> None:
        topic = self.pipe.topic
        commit_ms, files, rows, nbytes = [], [], 0, 0
        for mf in glob.glob(os.path.join(topic, "_manifest", "batch-*.json")):
            with open(mf) as f:
                meta = json.load(f)
            if not meta["rows"]:
                continue
            paths = [os.path.join(topic, n) for n in meta["files"]]
            staged = max(os.stat(p).st_mtime_ns for p in paths) / 1e9
            commit_ms.append((os.stat(mf).st_mtime_ns / 1e9 - staged) * 1000)
            files.append(len(paths))
            rows += meta["rows"]
            nbytes += sum(os.path.getsize(p) for p in paths)
        L = self.layer
        L["topic.commit_ms"] = _mean(commit_ms)
        L["topic.bytes_per_record"] = nbytes / rows if rows else 0.0
        L["topic.files_per_batch"] = _mean(files)
        recs = self.topic_records
        L["lookup.tombstone_frac"] = float(recs["tombstone"].mean()) if recs is not None and len(recs) else 0.0

    def store_layers(self) -> None:
        m = _manifest(self.pipe.store)
        live = 0
        if m:
            from cdc_apache_cassandra_spark.streaming.materialize import version_dir

            for b, v in m["buckets"].items():
                live += _tree_bytes(os.path.join(self.pipe.store, version_dir(m, v), f"__bucket={b}"))
        L = self.layer
        L["materialize.table_bytes_per_live_row"] = live / self.active_rows if self.active_rows else 0.0
        L["delta.log_bytes"] = _tree_bytes(os.path.join(self.pipe.delta, "_delta_log"))

    # --- the traced run ------------------------------------------------------

    def install_wrappers(self) -> None:
        from cdc_apache_cassandra_spark.engine import CdcEngine
        from cdc_apache_cassandra_spark.streaming import delta_log, materialize

        tr = self.tracer

        def before_merge(args, kwargs):
            path = args[1] if len(args) > 1 else kwargs["path"]
            return path, _manifest(path)

        def after_merge(ctx, rec, args, kwargs):
            path, old = ctx
            if tr.phase == "state":
                # rows the mutation cache let through (the foreachBatch
                # input is persisted, so counting it is cheap)
                rec["rows_in"] = (args[2] if len(args) > 2 else kwargs["batch"]).count()
            new = _manifest(path)
            if not new:
                return
            old_b = (old or {}).get("buckets", {})
            touched = [b for b, v in new["buckets"].items() if old_b.get(b) != v]
            rec["touched"] = len(touched)
            rec["n_buckets"] = new["n_buckets"]
            rec["bytes_written"] = sum(
                _tree_bytes(os.path.join(path, materialize.version_dir(new, new["buckets"][b]), f"__bucket={b}"))
                for b in touched
            )

        tr.wrap(materialize, "merge_into", "materialize.merge_into", before_merge, after_merge)
        tr.wrap(delta_log, "delta_export", "delta_log.delta_export")
        tr.wrap(CdcEngine, "point_read", "engine.point_read")
        tr.wrap(CdcEngine, "backfill", "engine.backfill")
        tr.wrap(CdcEngine, "export_delta", "engine.export_delta")

    def traced(self, events_pd, q) -> None:
        tr = self.tracer
        L = self.layer
        merges = tr.named("materialize.merge_into", "stream")
        exports = tr.named("delta_log.delta_export", "stream")
        L["materialize.merge_ms"] = _mean((s["end"] - s["start"]) * 1000 for s in merges)
        n_b = [s["touched"] / s["n_buckets"] for s in merges if s.get("n_buckets")]
        L["materialize.touched_bucket_frac"] = _mean(n_b)
        written = sum(s.get("bytes_written", 0) for s in merges)
        L["materialize.bytes_written_per_input_byte"] = written / self.seg_bytes if merges else 0.0
        L["delta.export_ms"] = _mean((s["end"] - s["start"]) * 1000 for s in exports)
        tracing.progress_spans(tr, self.log.of(q.id), self.workload)
        self._reparent("stream")

        if self.workload == "upsert_stream":
            tr.phase = "changefeed"
            self.change_feed(events_pd)
            tr.phase = "state"
            self.mutation_cache_run()
        else:
            tr.phase = "replay"
            self.replay()
            tr.phase = "serve"
            self.serve()
            tr.phase = "scaling"
            self.scaling()
        L["materialize.commit_retries"] = sum(1 for s in tr.spans if s.get("error") == "CommitConflict")
        tr.uninstall()
        L["trace.spans"] = len(tr.spans)
        n_wrapped = sum(
            1 for s in tr.spans if s["phase"] == "stream" and not s["name"].startswith(self.workload)
        )
        L["trace.overhead_ms"] = n_wrapped * tr.record_cost_s() * 1000
        tr.dump(os.path.join(self.work, "..", f"trace-{self.workload}-{self.seed}.json"))

    def _reparent(self, phase: str) -> None:
        """Wrapper spans recorded on Spark's callback thread have no
        parent; hang each under the addBatch span whose interval holds it."""
        tr = self.tracer
        adds = [s for s in tr.spans if s["name"].endswith(".addBatch")]
        for s in tr.spans:
            if s["phase"] == phase and s["parent"] is None and not s["name"].startswith(self.workload):
                for a in adds:
                    if a["start"] <= s["start"] and s["end"] <= a["end"] + 0.01:
                        s["parent"] = a["id"]
                        break

    def replay(self) -> None:
        """Fused operators: read the recorded input once (cached), then run
        it through growing prefixes of the same public functions in batch
        mode, each ended by a noop write; a stage's self time is the
        difference between consecutive prefixes (clamped at 0: below that
        it is noise)."""
        from cdc_apache_cassandra_spark.operators.lookup import read_after_event

        spark, eng = self.spark, self.eng
        base = spark.read.format("cdc_commitlog").option("path", self.seg_dir).load().persist()
        n_in = sum(t.num_rows for t in self.tables)
        snap = spark.read.parquet(self.snapshot_path)
        pk, vc = ["pk"], gen.VALUE_COLS
        stages = [
            ("commitlog.read", lambda: base),  # fills the cache
            ("cached", lambda: base),
            ("dedup", lambda: eng.dedup(base)),
            ("lookup", lambda: read_after_event(eng.dedup(base), snap, pk, vc)),
            ("records", lambda: eng.pipeline(base, snap, pk, vc)),
        ]
        times = {}
        for name, build in stages:
            with self.tracer.span(f"replay.{name}", request="replay") as rec:
                build().write.format("noop").mode("overwrite").save()
            times[name] = rec["end"] - rec["start"]
        per_mev = 1e9 / n_in  # ms per million events, from seconds
        L = self.layer
        L["commitlog.read_ms_per_mevent"] = times["commitlog.read"] * per_mev
        L["dedup.kept_per_event"] = eng.dedup(base).count() / n_in
        base.unpersist()
        L["lookup.ms_per_mevent"] = max(times["lookup"] - times["dedup"], 0) * per_mev
        L["records.ms_per_mevent"] = max(times["records"] - times["lookup"], 0) * per_mev

    def change_feed(self, events_pd) -> None:
        """Phase 3 (traced upsert_stream): drain the Delta export with
        stream_changes from version 0 and check its net effect."""
        spark, eng = self.spark, self.eng
        logs = glob.glob(os.path.join(self.pipe.delta, "_delta_log", "*.json"))
        last = max(int(os.path.basename(f).split(".")[0]) for f in logs)
        with self.tracer.span("changefeed.drain", request="changefeed") as rec:
            cq = (
                eng.stream_changes(self.pipe.delta, ["pk"], starting_version=0)
                .writeStream.format("memory")
                .queryName("perfbench_changes")
                .start()
            )

            def done():
                return any(
                    harness.offset(p["sources"][0]["endOffset"])["version"] >= last
                    for p in self.log.of(cq.id)
                    if p["sources"] and p["sources"][0].get("endOffset")
                ) or not cq.isActive

            if not harness.wait_for(done, self.remaining(60)) or not cq.isActive:
                self.fail("change feed drain did not finish")
            cq.stop()
        drain_s = rec["end"] - rec["start"]
        changes = spark.table("perfbench_changes").toPandas()
        prog = [p for p in self.log.of(cq.id) if p["numInputRows"] > 0]
        self.attempted += len(prog) + len(changes)
        # startingVersion is the last version taken as consumed: the feed
        # carries the changes after it, applied to the table as of it
        base = harness.read_delta_table(self.pipe.delta, version=0)
        mism = oracle.changefeed_mismatches(changes, events_pd, base)
        if mism:
            self.fail(f"change feed net effect: {mism} rows differ", mism)
        L = self.layer
        L["changefeed.rows_per_s"] = len(changes) / drain_s
        L["changefeed.batch_ms"] = _mean(p["durationMs"].get("triggerExecution", 0) for p in prog)
        L["delta.replay_ms"] = _mean(
            p["durationMs"].get("latestOffset", 0) + p["durationMs"].get("getBatch", 0) for p in prog
        )
        L["changefeed.partitions_per_batch"] = _mean(
            self._changed_buckets(p) for p in prog
        )
        tracing.progress_spans(self.tracer, self.log.of(cq.id), "changefeed")

    def mutation_cache_run(self) -> None:
        """The state layer (traced upsert_stream): the recorded segments
        streamed once more through CdcEngine.mutation_cache
        (transformWithState, TTL on) into a side store; its state-operator
        progress gives the state.* numbers."""
        q = self.pipe.start(self.events(self.seg_dir), tag="_tws", dedup=self.eng.mutation_cache)
        n = len(self.tables)
        if not harness.wait_for(
            lambda: self.log.segments_done(q.id) >= n or not q.isActive, self.remaining(60)
        ) or self.log.segments_done(q.id) < n:
            self.fail("mutation-cache stream did not finish")
        q.stop()
        prog = self.log.of(q.id)
        self.attempted += len(prog)
        state = [
            o
            for p in prog
            for o in p.get("stateOperators", [])
            if "transformWithState" in o.get("operatorName", "")
        ]
        busy = [o for o in state if o.get("numRowsUpdated", 0)]
        L = self.layer
        kept = sum(s.get("rows_in", 0) for s in self.tracer.named("materialize.merge_into", "state"))
        L["state.kept_per_event"] = kept / sum(t.num_rows for t in self.tables)
        L["state.update_ms"] = _mean(o.get("allUpdatesTimeMs", 0) for o in busy)
        L["state.commit_ms"] = _mean(o.get("commitTimeMs", 0) for o in busy)
        L["state.rows_total"] = state[-1].get("numRowsTotal", 0) if state else 0
        L["state.memory_bytes"] = state[-1].get("memoryUsedBytes", 0) if state else 0
        tracing.progress_spans(self.tracer, prog, "mutation_cache")

    def _changed_buckets(self, p) -> int:
        """Buckets added by the Delta versions a change-feed batch covered:
        the source plans one input partition per changed bucket."""
        src = p["sources"][0]
        lo = harness.offset(src["startOffset"])["version"] if src.get("startOffset") else -1
        hi = harness.offset(src["endOffset"])["version"]
        buckets = set()
        for v in range(lo + 1, hi + 1):
            f = os.path.join(self.pipe.delta, "_delta_log", f"{v:020d}.json")
            if not os.path.exists(f):
                continue
            with open(f) as fh:
                for line in fh:
                    a = json.loads(line)
                    if "add" in a and (a["add"].get("tags") or {}).get("bucket") is not None:
                        buckets.add(a["add"]["tags"]["bucket"])
        return len(buckets)

    def serve(self) -> None:
        """Store serving (traced publish_stream): backfill the snapshot into
        a fresh store, then a closed loop with one client: Zipf-keyed point
        reads, every SERVE_COMMIT_EVERY-th operation a small merge_into
        commit plus Delta export. Checked against the LWW oracle."""
        from cdc_apache_cassandra_spark.sources.backfill import BACKFILL_DIGEST
        from cdc_apache_cassandra_spark.streaming import materialize

        spark, eng, tr = self.spark, self.eng, self.tracer
        store = os.path.join(self.work, "serve_store")
        delta = os.path.join(self.work, "serve_delta")
        snap = spark.read.parquet(self.snapshot_path)
        with tr.span("backfill.merge", request="backfill") as m:
            materialize.merge_into(spark, store, eng.backfill(snap, "pk", gen.VALUE_COLS), ["pk"], n_buckets=N_BUCKETS)
        with tr.span("backfill.export", request="backfill") as x:
            eng.export_delta(store, delta)
        L = self.layer
        L["backfill.merge_ms"] = (m["end"] - m["start"]) * 1000
        L["backfill.export_ms"] = (x["end"] - x["start"]) * 1000
        L["backfill.rows_per_s"] = len(self.snapshot_pd) / (x["end"] - m["start"])
        g = gen.Generator(self.seed + 1, N_KEYS)
        committed: list[pa.Table] = []
        plan, execs, files, routed, commits = [], [], [], [], []
        for op in range(SERVE_OPS):
            self.attempted += 1
            try:
                if op % SERVE_COMMIT_EVERY == SERVE_COMMIT_EVERY - 1:
                    g.add(SERVE_COMMIT_MUTATIONS, gen.now_us())
                    _, tbl = g.flush(last=True)
                    tbl = tbl.filter(pc.equal(tbl["node_id"], 1))
                    with tr.span("store_commit", request=f"op{op}") as c:
                        materialize.merge_into(spark, store, spark.createDataFrame(tbl), ["pk"], n_buckets=N_BUCKETS)
                        eng.export_delta(store, delta)
                    committed.append(tbl)
                    commits.append((c["end"] - c["start"]) * 1000)
                else:
                    keys = [int(k) for k in g.draw_keys(READ_KEYS)]
                    with tr.span("point_read", request=f"op{op}") as r:
                        t0 = time.time()
                        df = eng.point_read(store, keys)
                        t1 = time.time()
                        df.collect()
                        t2 = time.time()
                    inputs = df.inputFiles()
                    plan.append((t1 - t0) * 1000)
                    execs.append((t2 - t1) * 1000)
                    files.append(len(inputs))
                    routed.append(len({p.split("__bucket=")[1].split("/")[0] for p in inputs if "__bucket=" in p}))
            except Exception as e:  # noqa: BLE001 — a failed operation is counted, the loop goes on
                self.fail(f"serving op {op}: {type(e).__name__}: {e}")
        L["point_read.plan_ms"] = _median(plan)
        L["point_read.exec_ms"] = _median(execs)
        L["point_read.files_read"] = _mean(files)
        L["point_read.buckets_routed"] = _mean(routed)
        L["store_commit.ms"] = _median(commits)
        small = {s["id"] for s in tr.named("store_commit")}
        L["store_commit.touched_bucket_frac"] = _mean(
            s["touched"] / s["n_buckets"]
            for s in tr.named("materialize.merge_into", "serve")
            if s.get("n_buckets") and s["parent"] in small
        )
        backfilled = self.snapshot_pd.assign(
            op="INSERT", writetime=-1, digest=BACKFILL_DIGEST, segment=-1, position=-1
        )
        events = pd.concat([backfilled] + [t.to_pandas() for t in committed], ignore_index=True)
        got = eng.read_store(store).toPandas()
        self.attempted += len(got)
        mism = oracle.active_mismatches(got, events)
        if mism:
            self.fail(f"served store: {mism} rows differ from the oracle", mism)

    def scaling(self) -> None:
        """The catch-up phase on a fresh local[1] session: the
        single-threaded baseline of the same job."""
        self.spark.stop()
        self.connect(cores=1)
        seg_dir = os.path.join(self.work, "segments_1core")
        os.makedirs(seg_dir)
        g = gen.Generator(self.seed, N_KEYS)
        q = self.pipe.start(self.events(seg_dir), tag="_1core")
        g.add(WARMUP_MUTATIONS, gen.now_us())
        gen.write_segment(seg_dir, *g.flush(last=True))
        ok = harness.wait_for(lambda: self.log.segments_done(q.id) >= 1, self.remaining(60))
        burst = self.publish(self.stage_burst(g, seg_dir), seg_dir)
        ok = ok and harness.wait_for(
            lambda: self.log.segments_done(q.id) >= burst[0][-1] + 1, self.remaining(60)
        )
        q.stop()
        rate = self.catchup_rate(burst, self.visibility(q, "_1core")) if ok else 0.0
        self.layer["scaling.catchup_1core_events_per_s"] = rate

    # --- result ------------------------------------------------------------

    def _result(self, e2e: dict) -> dict:
        """The result line, with every metric BENCHMARK.json declares for
        this kind of run (name -> unit)."""
        with open(SPEC) as f:
            spec = json.load(f)
        names = {m["name"]: m["unit"] for m in spec["per_layer" if self.trace else "end_to_end"]}
        values = {k: self.layer.get(k, 0.0) for k in names} if self.trace else e2e
        missing = set(names) - set(values)
        if missing:
            raise RuntimeError(f"metrics not computed: {sorted(missing)}")
        for n in self.notes:
            print(f"perfbench: {n}", file=sys.stderr)
        return {
            "correct": self.failed == 0,
            "attempted": max(self.attempted, 1),
            "failed": self.failed,
            "metrics": {
                k: {"value": float(values[k]), "unit": unit} for k, unit in names.items()
            },
        }


def run(workload: str, seed: int, seconds: int, trace: bool, root: str) -> dict:
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    bench = Bench(workload, seed, seconds, trace, work)
    try:
        return bench.run()
    finally:
        spark = getattr(bench, "spark", None)
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
