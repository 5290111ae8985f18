"""Streaming flow-log converter — the reference's Lambda-per-event loop
(main.go:67-85, SURVEY §3.1) as one long-lived Structured Streaming query.

Reference posture: one Lambda invocation per S3 notification, concurrency
capped at 5 (template.yml:35-37,61-62), errors swallowed → **at-most-once**
(main.go:77-83). Spark-first posture: a file-source streaming query over
the drop directory with ``maxFilesPerTrigger`` as the concurrency analogue
and a checkpoint, so every file is converted — a deliberate upgrade
documented in SURVEY §7. Each micro-batch *appends* its rows; a committed
batch is never re-run. A batch that dies between its write and its commit
is re-run on restart and appended again, so that window is at-least-once.

The per-batch body reuses the exact batch operators (parse → dt/account →
partitioned parquet; operators/convert.py), so batch and streaming cannot
drift semantically — the Kappa-architecture property Structured Streaming
is built around.
"""

from __future__ import annotations

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.convert import add_partitions, with_partition_columns
from ..schema import PARTITION_COLUMNS
from ..sources.flowlog import parse_flowlog_lines


def start_flowlog_stream(
    spark: SparkSession,
    src_dir: str,
    dst_path: str,
    checkpoint_dir: str,
    table: str | None = None,
    max_files_per_trigger: int = 5,
) -> StreamingQuery:
    """Watch ``src_dir`` for flow-log text files; convert each micro-batch.

    ``max_files_per_trigger=5`` mirrors the reference's reserved
    concurrency of 5 Lambdas (template.yml:61-62). Partition registration
    (the reference's ALTER TABLE, main.go:175-196) happens inside
    ``foreachBatch`` against the session catalog when ``table`` is given:
    one statement per micro-batch for all of its keys.
    """
    lines = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(src_dir)
    )
    parsed = with_partition_columns(parse_flowlog_lines(lines)).drop("start_time")

    def write_batch(batch_df, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        # partition keys ride the write as a CollectMetrics observation —
        # the second micro-batch scan the round-1 distinct().collect() paid
        # is gone (same single-pass contract as the batch converter)
        obs = Observation()
        pkeys = f"collect_set(struct({', '.join(PARTITION_COLUMNS)})) AS pkeys"
        batch_df = batch_df.observe(obs, F.expr(pkeys))
        (
            batch_df.repartition(*PARTITION_COLUMNS)
            .write.mode("append")
            .partitionBy(*PARTITION_COLUMNS)
            .parquet(dst_path, compression="snappy")
        )
        if table is not None:
            keys = sorted((r["dt"], r["account"]) for r in obs.get["pkeys"])
            add_partitions(sess, table, keys)

    return (
        parsed.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
