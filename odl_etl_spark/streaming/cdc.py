"""CDC / changelog apply: stream micro-batches MERGEd into keyed state.

The true-streaming counterpart of the ``stream_cdc_apply`` registry key
(queries/streaming.py): each micro-batch upserts its latest record per
key into a bucket-partitioned Parquet state table via ``foreachBatch``
— the canonical pattern for materializing a changelog into a queryable
table without a transactional table format. Generalizes the reference's
daily re-sync loop (``mitx/mitx_etl.py:124-155`` — replace yesterday's
folder) to continuous per-key upserts.

Scale + correctness posture:

  * State is hash-bucketed on the key (``_bucket = pmod(user_id, N)``),
    so a micro-batch rewrites only its *touched* buckets — the same
    partition-scoped copy-on-write as ``operators/upsert.py``, which
    this module delegates to (inheriting its durable staging swap and
    schema-pinned partition reads). At 100 TB of state, a batch
    touching k keys costs O(k/N · state) I/O, not a full rewrite.
  * Latest-write-wins is decided by ``(ts, event_id)`` MAX across the
    existing state row and the batch's rows, BEFORE the upsert — so the
    unconditional key replace inside ``upsert_partitioned`` applies the
    correct winner even for out-of-order batches.
  * The merge is idempotent: replaying a micro-batch (foreachBatch is
    at-least-once on failure) re-derives the same winners, so the state
    converges under replays without a transaction log.
  * Tombstones (``event_type == tombstone``) are RETAINED in state so a
    late older record cannot resurrect a deleted key (Kafka-compaction
    semantics); ``current_state`` is the tombstone-filtered read view.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from odl_etl_spark.operators.upsert import upsert_partitioned
from odl_etl_spark.streaming.state import read_or_none, start_foreach_batch

N_BUCKETS = 16
_COLS = ["user_id", "event_id", "event_type", "value", "ts"]


def _latest_per_key(df: DataFrame) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def merge_cdc_batch(
    batch_df: DataFrame, state_path: str, n_buckets: int = N_BUCKETS
) -> None:
    """MERGE one micro-batch of change events into the state table."""
    spark = batch_df.sparkSession
    upd = _latest_per_key(batch_df.select(*_COLS)).withColumn(
        "_bucket", F.pmod("user_id", F.lit(n_buckets)).cast("int")
    )
    existing = read_or_none(spark, state_path)
    if existing is not None:
        # Candidates = batch winners ∪ current rows of the SAME keys
        # (semi join — untouched keys never enter the merge); the
        # (ts, event_id) window picks the global winner per key.
        prior = existing.select(*_COLS, "_bucket").join(
            upd.select("user_id"), "user_id", "semi"
        )
        upd = _latest_per_key(upd.unionByName(prior))
    upsert_partitioned(
        spark, state_path, upd, keys=["user_id"], partition_col="_bucket"
    )


def current_state(
    spark: SparkSession, state_path: str, tombstone: str = "error"
) -> DataFrame:
    """Tombstone-filtered view of the materialized state."""
    return spark.read.parquet(state_path).where(F.col("event_type") != tombstone)


def cdc_apply_stream(
    events: DataFrame,
    state_path: str,
    checkpoint: str,
    n_buckets: int = N_BUCKETS,
    available_now: bool = True,
) -> StreamingQuery:
    """Run the changelog-apply loop: every micro-batch MERGEs into
    ``state_path``. With ``available_now`` the query drains the source
    and stops (replay/testing); without it, it runs continuously."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        merge_cdc_batch(batch_df, state_path, n_buckets)

    return start_foreach_batch(events, apply_batch, checkpoint, available_now)
