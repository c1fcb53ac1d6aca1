"""Custom cdc_commitlog Python data source (S1-S3/O1/O3 as a first-class
Spark source): stream == batch == generator, segment-ordered replay, and
checkpoint resume without duplicates when new segments land."""

from __future__ import annotations

import os
import uuid
from collections import Counter

import pytest
from pyspark.sql import functions as F

from cdc_apache_cassandra_spark.sources import commitlog_source
from cdc_apache_cassandra_spark.sources.commitlog_source import (
    CommitLogBatchReader,
    CommitLogStreamReader,
    register,
    write_segments,
)
from cdc_apache_cassandra_spark.sources.event_source import mutation_events
from cdc_apache_cassandra_spark.streaming.pipeline import run_to_memory

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def seg_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("commitlog"))
    write_segments(mutation_events(spark, SF), d, n_segments=4)
    register(spark)
    return d


def test_batch_read_equals_generator(spark, seg_dir):
    got = spark.read.format("cdc_commitlog").option("path", seg_dir).load()
    want = mutation_events(spark, SF)
    assert sorted(got.columns) == sorted(want.columns)
    cols = sorted(got.columns)
    assert Counter(map(tuple, got.select(*cols).collect())) == Counter(
        map(tuple, want.select(*cols).collect())
    )


def test_batch_read_is_one_task_replaying_segments_in_order(spark, seg_dir):
    """4 small segments pack into one read partition, replayed in
    ascending segment order (file k holds the rows with segment % 4 == k)."""
    df = spark.read.format("cdc_commitlog").option("path", seg_dir).load()
    assert df.rdd.getNumPartitions() == 1
    seg_ids = [r[0] for r in df.select(F.col("segment") % 4).collect()]
    assert seg_ids == sorted(seg_ids)
    assert set(seg_ids) == {0, 1, 2, 3}


# --- read-partition packing (planning only: no Spark, no parquet) ----------


def _fake_segments(d, sizes):
    """Segment files of the given byte sizes, created in reverse id order
    so the planner's ascending sort is what orders them."""
    files = [
        os.path.join(d, f"segment-{i:05d}.parquet") for i in range(len(sizes))
    ]
    for f, n in reversed(list(zip(files, sizes))):
        with open(f, "wb") as fh:
            fh.write(b"x" * n)
    return files


def _stream_reader(d):
    return CommitLogStreamReader({"path": str(d)}, None)


@pytest.mark.parametrize(
    "sizes, bound, floor, start, end, want",
    [
        # several small segments: one partition, ascending
        ([100] * 5, None, None, 0, 5, [[0, 1, 2, 3, 4]]),
        # a run may fill the bound exactly, never exceed it
        ([100] * 5, 200, None, 0, 5, [[0, 1], [2, 3], [4]]),
        # a segment larger than the bound is a run of its own
        ([50, 50, 500, 50, 50], 200, None, 0, 5, [[0, 1], [2], [3, 4]]),
        # batch / cores (200) above the floor: one run per core
        ([100] * 8, None, 100, 0, 8, [[0, 1], [2, 3], [4, 5], [6, 7]]),
        # the floor (300) above batch / cores: fewer, fuller runs
        ([100] * 8, None, 300, 0, 8, [[0, 1, 2], [3, 4, 5], [6, 7]]),
        # offsets {"n":2}..{"n":5} cover exactly segments 2-4
        ([100] * 6, None, None, 2, 5, [[2, 3, 4]]),
        # no new segments: no partition, so no Python read task
        ([100] * 3, None, None, 3, 3, []),
    ],
    ids=[
        "small",
        "split_at_bound",
        "oversize",
        "per_core",
        "floor",
        "offset_range",
        "empty",
    ],
)
def test_partitions_pack_contiguous_runs(
    tmp_path, monkeypatch, sizes, bound, floor, start, end, want
):
    """Split = min(bound, max(floor, batch bytes / cores)), cores = 4."""
    if bound is not None:
        monkeypatch.setattr(commitlog_source, "MAX_PARTITION_BYTES", bound)
    if floor is not None:
        monkeypatch.setattr(commitlog_source, "MIN_PARTITION_BYTES", floor)
    monkeypatch.setattr(commitlog_source.os, "cpu_count", lambda: 4)
    f = _fake_segments(tmp_path, sizes)
    parts = _stream_reader(tmp_path).partitions({"n": start}, {"n": end})
    assert [p.files for p in parts] == [[f[i] for i in run] for run in want]


def test_batch_reader_packs_like_stream_reader(tmp_path):
    files = _fake_segments(tmp_path, [100] * 5)
    batch = CommitLogBatchReader({"path": str(tmp_path)}, None)
    assert [p.files for p in batch.partitions()] == [files]


def test_batch_read_of_empty_directory_is_empty(spark, tmp_path):
    """No segments plans no partition; Spark then hands read() a None."""
    register(spark)
    df = spark.read.format("cdc_commitlog").option("path", str(tmp_path)).load()
    assert df.count() == 0


def test_stream_read_equals_batch(spark, seg_dir):
    stream = (
        spark.readStream.format("cdc_commitlog").option("path", seg_dir).load()
    )
    assert stream.isStreaming
    name = f"cls_{uuid.uuid4().hex[:8]}"
    run_to_memory(stream, name)
    got = spark.table(name)
    want = spark.read.format("cdc_commitlog").option("path", seg_dir).load()
    cols = sorted(got.columns)
    assert Counter(map(tuple, got.select(*cols).collect())) == Counter(
        map(tuple, want.select(*cols).collect())
    )


def test_checkpoint_resume_picks_up_new_segments_once(
    spark, tmp_path_factory
):
    """Run to completion, stop, land a NEW segment, restart from the same
    checkpoint: output gains exactly the new segment's rows — offsets
    resumed, no replay of consumed segments (O3)."""
    base = tmp_path_factory.mktemp("resume")
    d = str(base / "segments")
    ck = str(base / "ckpt")
    out_dir = str(base / "out")
    ev = mutation_events(spark, SF)
    first = ev.filter(F.col("pk") % 2 == 0)
    second = ev.filter(F.col("pk") % 2 == 1)
    write_segments(first, d, n_segments=2)
    register(spark)

    def run_once():
        q = (
            spark.readStream.format("cdc_commitlog")
            .option("path", d)
            .load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == first.count()

    # land one more segment (higher id than existing)
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = second.toPandas()
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        os.path.join(d, "segment-00099.parquet"),
    )
    run_once()
    n2 = spark.read.parquet(out_dir).count()
    assert n2 == n1 + second.count()
    # and no duplicates of the first run's rows
    dup = (
        spark.read.parquet(out_dir)
        .groupBy("pk", "digest", "node_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0


# --- dynamic schema: descriptor-derived compound-PK table (S2 dynamic) ------

ORDERS_DESCRIPTOR = [
    {"name": "pk_p", "cql_type": "bigint", "kind": "partition_key"},
    {"name": "pk_c", "cql_type": "bigint", "kind": "clustering"},
    {"name": "s_mktsegment", "cql_type": "text", "kind": "static"},
    {"name": "v_totalprice", "cql_type": "double", "kind": "regular"},
    {"name": "v_orderstatus", "cql_type": "text", "kind": "regular"},
]


def _compound_with_envelope(spark):
    """Compound-PK mutation stream + segment/position envelope, shaped to
    the descriptor-derived schema."""
    from cdc_apache_cassandra_spark.sources.commitlog_source import (
        schema_from_descriptor,
    )
    from cdc_apache_cassandra_spark.sources.compound_event_source import (
        compound_events,
    )

    schema = schema_from_descriptor(ORDERS_DESCRIPTOR)
    ev = (
        compound_events(spark, SF)
        .withColumn(
            "segment", F.coalesce(F.col("pk_c"), F.col("pk_p")) % 4
        )
        .withColumn("position", F.coalesce(F.col("pk_c"), F.lit(0)))
    )
    return ev.select(
        *[F.col(f.name).cast(f.dataType) for f in schema.fields]
    ), schema


def test_descriptor_schema_matches_cql_rules(spark):
    from cdc_apache_cassandra_spark.sources.commitlog_source import (
        schema_from_descriptor,
    )

    schema = schema_from_descriptor(ORDERS_DESCRIPTOR)
    names = [f.name for f in schema.fields]
    assert names == [
        "op", "ptype", "pk_p", "pk_c", "writetime",
        "s_mktsegment", "v_totalprice", "v_orderstatus",
        "node_id", "digest", "segment", "position",
    ]
    by_name = {f.name: f for f in schema.fields}
    assert not by_name["pk_p"].nullable  # partition key required
    assert by_name["pk_c"].nullable  # clustering nullable (partition events)
    assert by_name["v_totalprice"].dataType.typeName() == "double"


def test_second_table_stream_through_same_source(spark, tmp_path_factory):
    """The SAME cdc_commitlog source replays a second, compound-PK table
    whose schema comes from its table descriptor — the reference's
    metadata-driven schema derivation (CassandraSource.java:346-366),
    not a recompiled source class."""
    import json

    d = str(tmp_path_factory.mktemp("compound_segments"))
    ev, schema = _compound_with_envelope(spark)
    write_segments(ev, d, n_segments=4)
    register(spark)

    reader = (
        spark.readStream.format("cdc_commitlog")
        .option("path", d)
        .option("tableDescriptor", json.dumps(ORDERS_DESCRIPTOR))
        .load()
    )
    assert reader.isStreaming
    assert [f.name for f in reader.schema.fields] == [
        f.name for f in schema.fields
    ]
    name = f"cpd_{uuid.uuid4().hex[:8]}"
    run_to_memory(reader, name)
    got = spark.table(name)
    assert got.count() == ev.count()
    # partition-level deletes survive with null clustering keys (P8)
    assert (
        got.filter(
            (F.col("ptype") == "PARTITION_KEY_ROW_DELETION")
            & F.col("pk_c").isNull()
        ).count()
        > 0
    )
    # value columns round-trip bit-exact through the Arrow scan
    cols = sorted(got.columns)
    assert Counter(map(tuple, got.select(*cols).collect())) == Counter(
        map(tuple, ev.select(*cols).collect())
    )


def test_descriptor_ddl_evolution_old_segments_read_as_null(
    spark, tmp_path_factory
):
    """ALTER TABLE ADD through the descriptor source: segments written
    BEFORE the DDL lack the new column and must surface it as NULL under
    the evolved descriptor — the reference's rebuild-on-DDL semantics
    (CassandraSource.java:666-698), with checkpointed resume consuming
    only the post-DDL segment."""
    import json

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = tmp_path_factory.mktemp("ddl_evolve")
    d = str(base / "segments")
    ck = str(base / "ckpt")
    out_dir = str(base / "out")
    ev, _ = _compound_with_envelope(spark)
    write_segments(ev.filter(F.col("segment") < 2), d, n_segments=2)
    register(spark)

    evolved = ORDERS_DESCRIPTOR + [
        {"name": "v_comment", "cql_type": "text", "kind": "regular"}
    ]

    def run_once():
        q = (
            spark.readStream.format("cdc_commitlog")
            .option("path", d)
            .option("tableDescriptor", json.dumps(evolved))
            .load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ck)
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run_once()
    n_old = spark.read.parquet(out_dir).count()
    assert n_old == ev.filter(F.col("segment") < 2).count()
    # every pre-DDL row carries a NULL for the post-DDL column
    assert (
        spark.read.parquet(out_dir).filter(F.col("v_comment").isNull()).count()
        == n_old
    )

    # post-DDL segment WITH the new column lands after the watermark
    from cdc_apache_cassandra_spark.sources.commitlog_source import (
        schema_from_descriptor,
    )
    from pyspark.sql.pandas.types import to_arrow_schema

    schema2 = schema_from_descriptor(evolved)
    new_rows = (
        ev.filter(F.col("segment") >= 2)
        .withColumn("v_comment", F.concat(F.lit("c"), F.col("pk_p")))
        .select(*[F.col(f.name).cast(f.dataType) for f in schema2.fields])
    )
    pdf = new_rows.toPandas()
    tbl = pa.Table.from_pandas(pdf, preserve_index=False).cast(
        to_arrow_schema(schema2)
    )
    pq.write_table(tbl, os.path.join(d, "segment-00090.parquet"))
    run_once()
    got = spark.read.parquet(out_dir)
    assert got.count() == ev.count()
    # exactly the post-DDL rows carry values
    assert got.filter(F.col("v_comment").isNotNull()).count() == new_rows.count()
