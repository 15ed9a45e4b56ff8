"""SCD1 upsert streams: foreachBatch + MERGE with change-log chaining
(SURVEY.md §2.9 St1-St4).

Open-source replacement for the reference's DLT stack:

- Auto Loader file discovery → Structured Streaming file source with
  ``Trigger.AvailableNow`` (the nightly-batch semantics the reference
  runs its DLTs with) and ``maxFilesPerTrigger`` for drip mode.
- ``create_auto_cdc_flow(keys, sequence_by, stored_as_scd_type=1,
  apply_as_deletes=…)`` (``Crossref.py:594-602``) → ``foreachBatch``
  calling :func:`operators.merge.merge_into_state`.
- CDF stream chaining (``Crossref.py:326-329``) → an append-only
  change-log parquet written alongside each state version; downstream
  stages stream that directory with the same file source (St3).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from openalex_walden_spark.operators.merge import merge_into_state, read_state


def file_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """St1: file-arrival incremental ingest (Auto Loader analogue).

    Structured Streaming's file source tracks seen files in the
    checkpoint — the open-source equivalent of cloudFiles file events.
    """
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def run_scd1_stream(
    stream_df: DataFrame,
    state_path: str,
    checkpoint_path: str,
    keys: Sequence[str],
    sequence_col: str,
    delete_predicate: Column | None = None,
    tie_breaker: str | None = None,
    changelog_path: str | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> None:
    """St2/St4: drain a stream into a keyed SCD1 state table.

    Each micro-batch is (optionally) transformed, MERGEd into the state
    (sequencing protects against out-of-order batches), and appended to
    the change-log for downstream chaining (St3). The change-log's
    ``_change_type`` is ``"delete"`` where ``delete_predicate`` holds and
    ``"upsert"`` elsewhere, so a chained stage can use
    ``F.lower(F.col("_change_type")) == "delete"`` as its own delete
    predicate (St3 feeding St4). ``availableNow`` processes everything
    pending then stops — the reference's nightly cadence.
    """

    change_type = F.lit("upsert")
    if delete_predicate is not None:
        is_delete = F.coalesce(delete_predicate, F.lit(False))
        change_type = F.when(is_delete, F.lit("delete")).otherwise(change_type)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if transform is not None:
            batch_df = transform(batch_df)
        spark = batch_df.sparkSession
        merge_into_state(
            spark,
            state_path,
            batch_df,
            keys=keys,
            sequence_col=sequence_col,
            delete_predicate=delete_predicate,
            tie_breaker=tie_breaker,
        )
        if changelog_path is not None:
            (
                batch_df.withColumn("_batch_id", F.lit(batch_id))
                .withColumn("_change_type", change_type)
                .write.mode("append")
                .parquet(changelog_path)
            )

    (
        stream_df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def latest_state(spark: SparkSession, state_path: str) -> DataFrame | None:
    """Current SCD1 state (latest version), or None before first batch."""
    return read_state(spark, state_path)


def tumbling_window_stream(
    stream_df: DataFrame,
    ts_col: str,
    window_duration: str,
    watermark_delay: str,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Watermarked tumbling-window aggregation (the `events`-table
    extension SURVEY.md §2.9 notes the reference never needed): late data
    beyond ``watermark_delay`` is dropped, state is bounded."""
    agg_keys = [F.window(F.col(ts_col), window_duration).alias("win"), *[F.col(c) for c in group_cols]]
    return (
        stream_df.withWatermark(ts_col, watermark_delay)
        .groupBy(*agg_keys)
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *[F.col(c) for c in group_cols],
            "n_events",
        )
    )
