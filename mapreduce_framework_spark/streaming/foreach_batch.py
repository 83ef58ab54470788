"""foreachBatch sinks: incremental KV-state and rollup materialization.

The third streaming output pattern (alongside the memory/file sinks and
applyInPandasWithState): ``foreachBatch`` hands each micro-batch to
arbitrary batch code, here a MERGE of the batch's per-key fold into a
persisted state table — the standard lakehouse "streaming upsert" shape.

A merge sink's state root is an ordinary MANIFEST ROOT (storage.py), the
same lifecycle as the ingest indexes of streaming/ingest.py, except that
each delta is the whole state after its batch rather than an increment:

- constructing a sink ACQUIRES the root (storage.acquire_index_root —
  writer fencing; a root written before state roots were manifest roots
  is adopted, epoch included);
- each batch reads the newest snapshot STRICTLY BEFORE it
  (storage.latest_delta — redelivering a batch never merges it onto its
  own output; a root with history but nothing visible is a hard error)
  and publishes its own through storage.publish_delta: an epoch check
  before the write, an epoch-suffixed dir, one atomic manifest commit.
  A fenced writer therefore errors before writing and can never touch a
  dir the owner committed — the same atomic-rename commit discipline the
  reference applies to task outputs (src/mr/worker.go:68-75);
- retention keeps the newest ``STATE_KEEP`` snapshots, because the
  strictly-before rule only ever needs the one just below the in-flight
  batch. Without it a 1e5-batch stream leaves 1e5 full-state snapshots.

A table format (Delta/Iceberg) would replace the snapshot dirs with a real
MERGE INTO.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_framework_spark.storage import (
    acquire_index_root,
    latest_delta,
    publish_delta,
    retain_newest_deltas,
)

# the current snapshot + the one a redelivered in-flight batch reads — the
# only snapshots the protocol can ever need
STATE_KEEP = 2


def _publish_state(
    spark: SparkSession, state_root: str, batch_id: int, state: DataFrame, epoch: int
) -> None:
    publish_delta(spark, state_root, batch_id, state, None, epoch=epoch)
    retain_newest_deltas(state_root, STATE_KEEP, epoch)


def run_available_now(
    stream: DataFrame, apply_batch, checkpoint: str, timeout_s: int, what: str
) -> None:
    """Drive ``stream`` through ``apply_batch`` with foreachBatch under an
    availableNow trigger (everything available at start, then stop); a
    stream still running after ``timeout_s`` is stopped and raises
    TimeoutError. The one driver of every foreachBatch sink."""
    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"{what} stream did not finish in {timeout_s}s")


def make_kv_merge_batch_fn(spark: SparkSession, state_root: str):
    """Returns the foreachBatch function: fold the batch's ops per key on
    top of the previous persisted state and write the next state version.
    Constructing the sink ACQUIRES the state root (writer fencing)."""
    from mapreduce_framework_spark.operators.kv import fold_ops

    epoch = acquire_index_root(state_root)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        import pandas as pd

        prev = latest_delta(spark, state_root, before_batch=batch_id)

        def fold_group(pdf: pd.DataFrame) -> pd.DataFrame:
            initial = ""
            if pdf["prev_value"].notna().any():
                initial = pdf["prev_value"].dropna().iloc[0]
            ops = pdf[pdf["op"].notna()]
            return pd.DataFrame(
                {"key": [pdf["key"].iloc[0]], "value": [fold_ops(initial, ops)]}
            )

        if prev is None:
            withprev = batch_df.withColumn("prev_value", F.lit(None).cast("string"))
        else:
            withprev = batch_df.join(
                prev.select("key", F.col("value").alias("prev_value")), "key", "left"
            )
        folded = withprev.groupBy("key").applyInPandas(
            fold_group, schema="key string, value string"
        )
        new_state = folded if prev is None else (
            prev.join(folded, "key", "left_anti").unionByName(folded)
        )
        _publish_state(spark, state_root, batch_id, new_state, epoch)

    return apply_batch


def make_rollup_merge_batch_fn(spark: SparkSession, state_root: str):
    """foreachBatch function maintaining an hourly continuous aggregate:
    the batch's (hour, event_type) partial aggregates are merged into the
    persisted rollup by re-aggregation — pure algebraic merge (sum of
    counts, sum of exact decimals), so the result is independent of how
    events are sliced into batches. This is the hypertable
    continuous-aggregate maintenance loop (q65's rollup, kept incrementally
    fresh); the state table is bounded by hours × types, tiny even when the
    raw stream is 100 TB. Constructing the sink ACQUIRES the state root
    (writer fencing)."""

    epoch = acquire_index_root(state_root)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        from mapreduce_framework_spark.catalog import trunc_ntz_expr

        # NTZ-safe hour bucket — date_trunc coerces NTZ through the
        # session timezone (see catalog.trunc_ntz_expr)
        hourly = batch_df.groupBy(
            F.expr(trunc_ntz_expr("ts", 3600)).alias("h"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("val"),
        )
        prev = latest_delta(spark, state_root, before_batch=batch_id)
        merged = (
            hourly
            if prev is None
            else prev.unionByName(hourly)
            .groupBy("h", "event_type")
            .agg(F.sum("cnt").alias("cnt"), F.sum("val").alias("val"))
        )
        _publish_state(spark, state_root, batch_id, merged, epoch)

    return apply_batch


def run_rollup_merge_stream(
    events_stream: DataFrame,
    spark: SparkSession,
    state_root: str,
    checkpoint: str,
    timeout_s: int = 300,
) -> DataFrame:
    """Drive the events stream through the rollup-merge sink and return the
    final persisted hourly rollup."""
    run_available_now(
        events_stream, make_rollup_merge_batch_fn(spark, state_root), checkpoint,
        timeout_s, "rollup merge",
    )
    state = latest_delta(spark, state_root)
    assert state is not None, "stream produced no rollup version"
    return state


def run_kv_merge_stream(
    ops_stream: DataFrame,
    spark: SparkSession,
    state_root: str,
    checkpoint: str,
    timeout_s: int = 180,
) -> DataFrame:
    """Drive the ops stream through the foreachBatch merge sink and return
    the final persisted state."""
    run_available_now(
        ops_stream, make_kv_merge_batch_fn(spark, state_root), checkpoint,
        timeout_s, "kv merge",
    )
    state = latest_delta(spark, state_root)
    assert state is not None, "stream produced no state version"
    return state
