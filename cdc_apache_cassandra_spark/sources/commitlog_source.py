"""Custom Spark streaming source for CDC commitlog segments — the
BASELINE.json approach ("Structured Streaming + custom source for CDC
events") built on the PySpark 4 Python DataSource API.

Models the agent's source machinery (SURVEY §2.1) as a first-class Spark
source instead of a generic file stream:

- S1 directory watcher: ``latestOffset`` lists the segment directory.
- S2 segment replay: each micro-batch packs its NEW segments, in
  ascending order, into contiguous runs of at most a per-batch split size
  (see "Scale:"; a larger segment gets a run to itself); each run is one
  InputPartition and ``read`` replays its segments in order.
- S3/O3 offset resume: the offset is the count of segments consumed in
  ascending segment order — JSON-serializable, checkpoint-managed by
  Structured Streaming (the reference's ``<segment>_offset.dat`` files).
- O1 segment-order sort: segments are processed in ascending segment-id
  order (zero-padded file names), like the reference's
  PriorityBlockingQueue ordered by segment id
  (agent/.../CommitLogUtil.java:64-76).

Schema is DYNAMIC, like the reference's — the connector derives key/value
schemas from live table metadata and rebuilds them on DDL
(CassandraSource.java:346-366,666-698). Three resolution modes, by option:

- ``tableDescriptor``: JSON list of ``{name, cql_type, kind}`` column
  descriptors (kind ∈ partition_key|clustering|static|regular). The event
  schema is DERIVED through functions/cql_types.py::key_value_schemas —
  the same §1.2 type table the rest of the engine uses — and wrapped in
  the mutation envelope (op, ptype, key…, writetime, value…, node_id,
  digest, segment, position).
- ``schema``: an explicit Spark DDL string.
- neither: the single-PK customer stream layout (EVENT_SCHEMA), matching
  sources.event_source.mutation_events.

Segments are parquet files named ``segment-<id>.parquet`` (append-only,
ids ascending — the commitlog contract). ``write_segments`` produces them
from any mutation-event DataFrame.

Scale: the reference replays one task per segment
(CommitLogReaderService.java:198-212), which is cheap in a JVM. A Python
DataSource task is not: on a 4-core VM under PySpark 4.1 each one costs
about 250–300 ms of worker CPU (``setup_spark_files`` re-scanning
pyspark.zip) against 3–4 ms of ``read`` for a 200-row segment. So a
batch's segments are packed by parquet file bytes with Spark's file-source
split rule: split = min(MAX_PARTITION_BYTES, max(MIN_PARTITION_BYTES,
batch bytes / cores)), i.e. 128 MB, 4 MB and ``os.cpu_count()``. A batch
of at most 4 MB is one task — the measured case: the perfbench workloads'
segments and batches are well under that floor. A larger batch is cut
into 4 MB runs up to cores × 4 MB and into about one run per core above
that, so a large backlog still reads on every core. Traffic with large
segments (tens of MB each) has not been measured. A batch with no new
segments plans no partition and starts no task. ``read`` yields
``pyarrow.RecordBatch`` objects — the scan stays Arrow-vectorized across
the Python↔JVM boundary instead of materializing per-row tuples. The
batch reader exposes the SAME directory for backfill — one source, two
run modes (§7.1).
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from cdc_apache_cassandra_spark.functions.cql_types import (
    CqlColumn,
    key_value_schemas,
)

#: default event schema (single-PK customer stream layout — matches
#: sources.event_source.mutation_events)
EVENT_SCHEMA = (
    "op string, pk bigint, writetime bigint, c_name string, "
    "c_nationkey int, c_acctbal double, c_mktsegment string, "
    "node_id bigint, digest string, segment bigint, position bigint"
)

#: mutation envelope around the table-derived key/value columns
#: (AbstractMutation.java:32-50 + Constants.java:18-33 properties)
_ENVELOPE_HEAD = [
    T.StructField("op", T.StringType(), False),
    T.StructField("ptype", T.StringType(), True),
]
_ENVELOPE_TAIL = [
    T.StructField("node_id", T.LongType(), True),
    T.StructField("digest", T.StringType(), True),
    T.StructField("segment", T.LongType(), True),
    T.StructField("position", T.LongType(), True),
]


def schema_from_descriptor(descriptor: str | list) -> T.StructType:
    """Derive the mutation-event schema for a table descriptor — the
    engine's analogue of the reference's metadata-driven schema build
    (CassandraSource.java:346-366): key columns keep PK nullability
    rules, value columns are nullable (deletes carry null values)."""
    cols = descriptor
    if isinstance(cols, str):
        cols = json.loads(cols)
    cql_cols = [
        CqlColumn(c["name"], c["cql_type"], c.get("kind", "regular"))
        for c in cols
    ]
    key_schema, value_schema = key_value_schemas(cql_cols)
    value_names = {f.name for f in key_schema.fields}
    fields = list(_ENVELOPE_HEAD) + list(key_schema.fields)
    fields.append(T.StructField("writetime", T.LongType(), True))
    for f in value_schema.fields:
        if f.name not in value_names:  # PK-only tables repeat key cols
            fields.append(T.StructField(f.name, f.dataType, True))
    fields += _ENVELOPE_TAIL
    return T.StructType(fields)


def _declared_schema(options) -> T.StructType | str:
    """Descriptor mode yields a StructType (built session-free); DDL mode
    returns the string — Spark resolves it and hands the final StructType
    to the readers."""
    descriptor = options.get("tabledescriptor") or options.get("tableDescriptor")
    if descriptor:
        return schema_from_descriptor(descriptor)
    return options.get("schema") or EVENT_SCHEMA


def _list_segments(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "segment-*.parquet")))


#: upper bound on parquet segment bytes per read partition — Spark's
#: default ``spark.sql.files.maxPartitionBytes``
MAX_PARTITION_BYTES = 128 * 1024 * 1024
#: lower bound on the split size — Spark's default
#: ``spark.sql.files.openCostInBytes``
MIN_PARTITION_BYTES = 4 * 1024 * 1024


class _SegmentRun(InputPartition):
    """Contiguous segments, ascending, replayed by one read task."""

    def __init__(self, files: list[str]):
        self.files = files


def _pack_segments(files: list[str]) -> list[_SegmentRun]:
    """Cut the ascending segment list into contiguous runs of at most
    ``split`` bytes; a segment larger than the split is its own run.

    ``split`` follows Spark's file-source rule (FilePartition
    .maxSplitBytes): min(MAX_PARTITION_BYTES, max(MIN_PARTITION_BYTES,
    batch bytes / cores)). A small burst fits under the floor and is one
    task; a large backlog is spread over the cores."""
    sizes = [os.path.getsize(f) for f in files]
    split = min(
        MAX_PARTITION_BYTES,
        max(MIN_PARTITION_BYTES, sum(sizes) // (os.cpu_count() or 1)),
    )
    runs: list[_SegmentRun] = []
    run: list[str] = []
    size = 0
    for f, n in zip(files, sizes):
        if run and size + n > split:
            runs.append(_SegmentRun(run))
            run, size = [], 0
        run.append(f)
        size += n
    if run:
        runs.append(_SegmentRun(run))
    return runs


def _read_segments(run: _SegmentRun, schema: T.StructType):
    """Arrow-vectorized segment replay: RecordBatches cross the boundary
    whole (no per-row Python tuples). Each parquet file is cast to the
    source's arrow schema so field order/width always match the plan.

    BACKWARD-compatible read (CassandraSource.java:666-698 rebuild-on-DDL
    semantics): a segment written before an ALTER TABLE ADD lacks the new
    column — those fields surface as nulls, exactly like the reference
    re-reading an old row under the evolved schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    wanted = [f.name for f in schema.fields]
    for file in run.files:
        with pq.ParquetFile(file) as pf:
            present = set(pf.schema_arrow.names)
            table = pf.read(columns=[c for c in wanted if c in present])
        for field in arrow_schema:
            if field.name not in present:
                table = table.append_column(
                    field.name, pa.nulls(table.num_rows, type=field.type)
                )
        table = table.select(wanted).cast(arrow_schema)
        yield from table.to_batches()


class CommitLogStreamReader(DataSourceStreamReader):
    """Offset = {"n": segments consumed}; a batch covers segments
    [start.n, end.n) in ascending id order."""

    def __init__(self, options, schema: T.StructType):
        self.path = options.get("path")
        self.schema = schema
        if not self.path:
            raise ValueError("cdc_commitlog requires option 'path'")

    def initialOffset(self) -> dict:
        return {"n": 0}

    def latestOffset(self) -> dict:
        return {"n": len(_list_segments(self.path))}

    def partitions(self, start: dict, end: dict):
        return _pack_segments(_list_segments(self.path)[start["n"] : end["n"]])

    def read(self, partition: _SegmentRun):
        return _read_segments(partition, self.schema)

    def commit(self, end: dict) -> None:
        # segments are immutable; nothing to GC here (the reference's
        # archive/delete transfer is the cleanSource analogue)
        pass

    def stop(self) -> None:
        pass


class CommitLogBatchReader(DataSourceReader):
    """Backfill twin: the whole directory as one batch relation."""

    def __init__(self, options, schema: T.StructType):
        self.path = options.get("path")
        self.schema = schema
        if not self.path:
            raise ValueError("cdc_commitlog requires option 'path'")

    def partitions(self):
        return _pack_segments(_list_segments(self.path))

    def read(self, partition: _SegmentRun | None):
        # an empty directory plans no partition; Spark then calls read(None)
        if partition is None:
            return iter(())
        return _read_segments(partition, self.schema)


class CommitLogDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "cdc_commitlog"

    def schema(self):
        return _declared_schema(self.options)

    def streamReader(self, schema) -> CommitLogStreamReader:
        return CommitLogStreamReader(self.options, schema)

    def reader(self, schema) -> CommitLogBatchReader:
        return CommitLogBatchReader(self.options, schema)


def register(spark: SparkSession) -> None:
    spark.dataSource.register(CommitLogDataSource)


def write_segments(events_df, path: str, n_segments: int = 4) -> list[str]:
    """Lay a mutation-event DataFrame down as ascending commitlog
    segments (segment id = the event's segment column % n_segments so
    replay order interleaves keys like a real commitlog). Test fixture:
    driver-side pandas is fine at fixture scale."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    os.makedirs(path, exist_ok=True)
    arrow_schema = to_arrow_schema(events_df.schema)
    pdf = events_df.toPandas()
    seg_of = pdf["segment"] % n_segments
    out = []
    for sid in range(n_segments):
        part = pdf[seg_of == sid]
        f = os.path.join(path, f"segment-{sid:05d}.parquet")
        tbl = pa.Table.from_pandas(part, preserve_index=False).cast(arrow_schema)
        pq.write_table(tbl, f)
        out.append(f)
    return out
