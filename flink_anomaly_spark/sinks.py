"""Sinks — the reference's K1-K3 (SURVEY §2.2) in Spark form.

- K1 ``.print()`` → ``df.show()`` batch / console sink streaming;
- K2 ``StreamingFileSink.forRowFormat`` with rolling policy →
  text/parquet writers; rolling ≈ trigger interval + maxRecordsPerFile;
- K3 custom ``RichSinkFunction`` → ``foreachBatch`` (the Spark place
  for side-effecting sinks; documented at-least-once, see
  ``streaming.recovery.count_foreach_side_effects``). The one
  exactly-once path is Spark's transactional file sink
  (``streaming.recovery.run_file_sink_with_restarts``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def write_text(df: DataFrame, path: str, max_records_per_file: int | None = None) -> None:
    """K2 batch: row-format text files; ``maxRecordsPerFile`` stands in
    for the reference's 1 GiB rolling policy (TestFlinkStreams.java:107-115)."""
    writer = df.write.mode("overwrite")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.text(path)


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    compression: str | None = None,
    max_records_per_file: int | None = None,
) -> None:
    """Columnar sink; ``partition_by`` gives partition pruning to every
    downstream reader — the default layout choice at 100 TB.

    ``compression``: parquet codec per write ('zstd', 'snappy', 'gzip',
    'lz4', 'none'); at 100 TB zstd typically stores ~25-30% smaller
    than snappy for similar scan CPU — that difference is tens of TB
    of storage and network. ``max_records_per_file`` bounds file size
    (the batch analog of the streaming rolling policy) so a skewed
    partition can't produce one multi-GB file that serializes a
    downstream task."""
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if compression is not None:
        writer = writer.option("compression", compression)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.parquet(path)


def sink_split_stream(
    df: DataFrame,
    routes: dict[str, "Column"],
    paths: dict[str, str],
    checkpoint: str,
):
    """Side-output analog (Flink's DataStream side outputs have no
    direct Spark node): route one stream to multiple parquet sinks by
    predicate inside a single foreachBatch — the batch is cached once,
    each route filters from the cache, so the source micro-batch is
    read exactly once per trigger.

    ``routes``: {name: boolean Column}; ``paths``: {name: output dir}.
    """

    def route(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            for name, predicate in routes.items():
                batch_df.filter(predicate).write.mode("append").parquet(paths[name])
        finally:
            batch_df.unpersist()

    return (
        df.writeStream.foreachBatch(route)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
