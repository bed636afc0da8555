"""Direct tests for the source/sink helpers (SURVEY §2.1-2.2) not
already covered by the round-trip tests."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from flink_anomaly_spark.sinks import write_parquet, write_text
from flink_anomaly_spark.sources.readers import from_elements, read_text, stream_rate
from flink_anomaly_spark.tables import load_table
from tests.conftest import SF_SMOKE


def test_from_elements_schema(spark):
    """S1/S2: in-memory source with explicit schema."""
    df = from_elements(
        spark,
        [("a", 0, 250), ("b", 0, 250), ("d", 1, 250)],
        "name string, failure_times int, wait_millis long",
    )
    assert df.count() == 3
    assert df.schema.simpleString() == (
        "struct<name:string,failure_times:int,wait_millis:bigint>"
    )


def test_write_text_rolling_policy(spark, tmp_path):
    """K2's rolling policy analog: maxRecordsPerFile must split output
    into multiple part files (the reference rolls on size/time,
    TestFlinkStreams.java:107-115)."""
    docs = load_table(spark, SF_SMOKE, "documents").select(
        F.col("text").cast("string").alias("value")
    )
    out = str(tmp_path / "rolled")
    write_text(docs.coalesce(1), out, max_records_per_file=100)
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    # 500 docs / 100 per file → 5 part files from a single task
    assert len(parts) == 5, parts
    back = spark.read.text(out)
    assert back.count() == docs.count()


def test_write_parquet_partitioned_layout(spark, tmp_path):
    events = load_table(spark, SF_SMOKE, "events")
    out = str(tmp_path / "by_type")
    write_parquet(events, out, partition_by=["event_type"])
    dirs = {d for d in os.listdir(out) if d.startswith("event_type=")}
    assert len(dirs) == 5  # one directory per event type


def test_rate_source_is_streaming(spark):
    df = stream_rate(spark, rows_per_second=5)
    assert df.isStreaming
    assert set(df.columns) == {"timestamp", "value"}


def test_read_text_lines(spark, tmp_path):
    p = tmp_path / "x.txt"
    p.write_text("alpha\nbeta\n")
    got = sorted(r.value for r in read_text(spark, str(p)).collect())
    assert got == ["alpha", "beta"]


def test_binary_file_source_feeds_media_dedup(spark, tmp_path):
    """binaryFile source: one row per file with the opaque content
    column; glob filtering prunes at listing time; and the content
    flows straight into the sha256 exact-dedup used by the multimodal
    family (two identical payloads collapse to one group)."""
    from flink_anomaly_spark.sources.readers import read_binary_files

    payload = bytes(range(256))
    (tmp_path / "a.bin").write_bytes(payload)
    (tmp_path / "b.bin").write_bytes(payload)          # exact duplicate
    (tmp_path / "c.bin").write_bytes(payload[::-1])
    (tmp_path / "skip.txt").write_bytes(b"not media")
    df = read_binary_files(spark, str(tmp_path), glob="*.bin")
    assert {"path", "modificationTime", "length", "content"} <= set(df.columns)
    rows = df.collect()
    assert len(rows) == 3  # skip.txt pruned by the glob
    assert all(r.length == 256 for r in rows)
    groups = (
        df.groupBy(F.sha2("content", 256).alias("fp"))
        .agg(F.count("*").alias("n"), F.min("path").alias("keep_path"))
        .collect()
    )
    assert sorted(g.n for g in groups) == [1, 2]


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Schema evolution across table versions (a column added later):
    reading the whole directory with mergeSchema must union the
    schemas, null-filling the old files - the lake behavior a 100 TB
    table accumulated over months depends on. Without mergeSchema,
    Spark picks an arbitrary file's schema, silently dropping the new
    column for some read orders."""
    root = tmp_path / "evolving"
    spark.createDataFrame([(1, "a")], "id long, name string").write.parquet(
        str(root / "batch=1")
    )
    spark.createDataFrame(
        [(2, "b", 0.9)], "id long, name string, quality double"
    ).write.parquet(str(root / "batch=2"))
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("basePath", str(root))
        .parquet(str(root / "batch=*"))
    )
    assert set(merged.columns) == {"id", "name", "quality", "batch"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].quality is None and rows[2].quality == 0.9
    assert rows[1].batch == 1 and rows[2].batch == 2


def test_ignore_corrupt_files_salvages_scan(spark, tmp_path):
    """A single corrupt parquet file must not kill a scan spanning
    thousands of files: with ignoreCorruptFiles the valid files'
    rows survive (a 10-hour 100 TB job should not die at hour 9 on one
    bad object); without it the scan raises, which is the safe
    default (silent data loss must be opted into)."""
    import pytest as _pytest

    root = tmp_path / "lake"
    spark.range(0, 50).write.parquet(str(root))
    # a truncated/corrupt part file inside the same table directory
    (root / "part-zz-corrupt.snappy.parquet").write_bytes(
        b"PAR1 this is not a real parquet file"
    )
    key = "spark.sql.files.ignoreCorruptFiles"
    old = spark.conf.get(key)
    try:
        # explicit schema: footers are then only read at SCAN time,
        # which is where ignoreCorruptFiles applies (schema inference
        # would die on the corrupt footer during analysis either way)
        spark.conf.set(key, "true")
        got = spark.read.schema("id long").parquet(str(root))
        assert got.count() == 50
        spark.conf.set(key, "false")
        with _pytest.raises(Exception):
            spark.read.schema("id long").parquet(str(root)).count()
    finally:
        spark.conf.set(key, old)


def test_permissive_json_quarantines_malformed(spark, tmp_path):
    """PERMISSIVE JSON parsing: malformed lines land in
    _corrupt_record instead of failing the job — the ingest contract
    for scraped/third-party feeds where some fraction of lines is
    always broken. FAILFAST raises, for pipelines that prefer to halt."""
    import pytest as _pytest

    p = tmp_path / "feed.jsonl"
    p.write_text('{"id": 1, "v": "ok"}\n{broken json!!\n{"id": 2, "v": "fine"}\n')
    schema = "id long, v string, _corrupt_record string"
    df = spark.read.schema(schema).option("mode", "PERMISSIVE").json(str(p))
    rows = df.collect()
    good = {r.id: r.v for r in rows if r.id is not None}
    bad = [r for r in rows if r._corrupt_record is not None]
    assert good == {1: "ok", 2: "fine"}
    assert len(bad) == 1 and "broken" in bad[0]._corrupt_record
    with _pytest.raises(Exception):
        spark.read.schema("id long, v string").option("mode", "FAILFAST").json(str(p)).collect()


def test_write_parquet_codec_and_file_size_bounds(spark, tmp_path):
    """Per-write codec selection (zstd files carry the codec in their
    names and round-trip) and maxRecordsPerFile (the batch rolling
    policy: a single task's output splits into bounded files)."""
    docs = load_table(spark, SF_SMOKE, "documents").coalesce(1)
    out = str(tmp_path / "zstd_rolled")
    write_parquet(docs, out, compression="zstd", max_records_per_file=100)
    parts = [f for f in os.listdir(out) if f.startswith("part-")]
    assert len(parts) == 5  # 500 docs / 100 per file, single task
    assert all(".zstd.parquet" in f for f in parts), parts
    assert spark.read.parquet(out).count() == docs.count()


def _load_in_own_group(spark, sf_dir, name):
    """``load_table`` in its own job group: (frame, jobs it ran)."""
    import uuid

    group = f"load_table.{name}.{uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df = load_table(spark, sf_dir, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_infers_each_schema_once(spark, monkeypatch):
    """A table file's parquet schema is inferred on its first load only:
    the second load of each catalog table runs no Spark job and has the
    schema a from-scratch inference gives."""
    from flink_anomaly_spark import resources
    from flink_anomaly_spark.tables import TABLE_NAMES

    monkeypatch.setattr(resources, "_FILE_MEMO", {})
    first = {name: _load_in_own_group(spark, SF_SMOKE, name) for name in TABLE_NAMES}
    assert all(jobs >= 1 for _, jobs in first.values())
    for name in TABLE_NAMES:
        df, jobs = _load_in_own_group(spark, SF_SMOKE, name)
        assert jobs == 0, name
        assert df.schema == first[name][0].schema, name


def test_load_table_reinfers_a_rewritten_file(spark, tmp_path):
    """The schema memo keys on the file's identity: rewriting a table
    file with another column set makes the next load infer again and
    return the new schema and rows."""
    import shutil

    import duckdb

    path = tmp_path / "region.parquet"
    shutil.copy(os.path.join(SF_SMOKE, "region.parquet"), path)
    old_columns = load_table(spark, str(tmp_path), "region").columns
    assert load_table(spark, str(tmp_path), "region").columns == old_columns
    duckdb.sql(f"COPY (SELECT 7::BIGINT AS r_id, 'x' AS r_label) TO '{path}' (FORMAT PARQUET)")
    df, jobs = _load_in_own_group(spark, str(tmp_path), "region")
    assert jobs >= 1
    assert df.columns == ["r_id", "r_label"] != old_columns
    assert [tuple(r) for r in df.collect()] == [(7, "x")]
    df, jobs = _load_in_own_group(spark, str(tmp_path), "region")
    assert (jobs, df.columns) == (0, ["r_id", "r_label"])


def test_events_ts_in_a_new_session(spark, duck):
    """A fresh session (no ``nanosAsLong``, default time zone) reads
    ``events`` with the memoized schema, runs no inference job, and
    gets ``ts`` with the tuned session's timestamp type and the oracle's
    values."""
    ts_type = dict(load_table(spark, SF_SMOKE, "events").dtypes)["ts"]
    assert ts_type.startswith("timestamp")
    fresh = spark.newSession()
    assert fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "false"
    df, jobs = _load_in_own_group(fresh, SF_SMOKE, "events")
    assert jobs == 0
    assert dict(df.dtypes)["ts"] == ts_type
    # the NTZ -> LTZ cast reads the wall clock in the pinned UTC zone
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    got = sorted(tuple(r) for r in df.select("event_id", micros).collect())
    want = sorted(duck.execute("SELECT event_id, epoch_us(ts) FROM events").fetchall())
    assert got == want and len(got) > 0
