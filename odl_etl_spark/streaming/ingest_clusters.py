"""Online duplicate-cluster maintenance over the ingest-dedup pairs
store: the missing last step of the streaming near-dedup story. The
ingest loop (streaming/ingest_dedup.py) commits (new_id, ex_id) pairs
per micro-batch; a deployment ultimately wants the CLUSTERS those pairs
imply — "which documents are duplicates of which" — kept current without
re-running connected components over every pair ever seen.

``fold_pairs_into_clusters`` folds the not-yet-folded batches into a
standing (node, component) store via
``operators/components.connected_components_incremental`` — the
iterative closure runs over the CONTRACTED batch-sized graph only.

Crash/replay posture (same discipline as the rest of the ingest tier):

  * The clusters rewrite is committed ATOMICALLY through the tier's
    staged swap (``state.staged_swap``; ``recover_torn_swap`` at fold
    start). Partial-shard dynamic overwrite was built first and rejected
    by its own torn-state test: with some shards committed and some not,
    the replayed batch's endpoints resolve through the already-merged
    representatives, the stale component never re-enters the contracted
    graph, and the stale rows are permanently wrong — replay convergence
    holds for the whole-store swap, not for per-shard partial commits.
    (The negative experiment is preserved in the test's docstring.)
  * The fold watermark (highest folded ``_batch_id``) is committed AFTER
    the swap — a crash between the two replays the fold over the
    already-folded store, where every replayed edge contracts to a
    same-representative pair and the rewrite is byte-identical.
  * ``n_shards`` is stamped as field metadata on ``node`` and validated
    on every fold — re-folding a store under a different shard count
    would scatter rows across wrong partitions silently.

At 100 TB: the pairs tables scale with duplicate volume and the
contracted graph with the batch — the full-graph CC ITERATION never
reruns. The per-fold WRITE is O(|labels|) (the price of the atomic
swap; labels are 16-byte rows, and a deployment folds every K batches,
amortizing it); the store stays hash-sharded by ``_shard`` inside the
swap unit so point lookups prune. Reference cadence parity:
mitx_etl.py:16-17's daily batch loop, generalized to cluster
maintenance.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from odl_etl_spark.operators.components import connected_components_incremental
from odl_etl_spark.streaming.ingest_dedup import emitted_pairs
from odl_etl_spark.streaming.state import recover_torn_swap, staged_swap

_CLUSTERS = "clusters"
_WATERMARK = "clusters_watermark"
DEFAULT_SHARDS = 32


def _paths(state_dir: str) -> tuple[str, str]:
    return os.path.join(state_dir, _CLUSTERS), os.path.join(state_dir, _WATERMARK)


def _empty_clusters(spark: SparkSession) -> DataFrame:
    import pyspark.sql.types as T

    return spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("node", T.LongType()),
                T.StructField("component", T.LongType()),
            ]
        ),
    )


def _stamped_shards(df: DataFrame) -> int | None:
    for f in df.schema.fields:
        if f.metadata and "n_shards" in f.metadata:
            return int(f.metadata["n_shards"])
    return None


def folded_upto(spark: SparkSession, state_dir: str) -> int | None:
    """Highest folded batch id, or None before the first fold."""
    _, wm_path = _paths(state_dir)
    if not os.path.isdir(wm_path):
        return None
    return spark.read.parquet(wm_path).agg(F.max("upto")).head()[0]


def clusters(spark: SparkSession, state_dir: str) -> DataFrame:
    """The standing (node, component) relation (empty before any fold)."""
    c_path, _ = _paths(state_dir)
    if not os.path.isdir(c_path):
        return _empty_clusters(spark)
    return spark.read.parquet(c_path).select("node", "component")


def fold_pairs_into_clusters(
    spark: SparkSession,
    state_dir: str,
    upto_batch_id: int | None = None,
    n_shards: int = DEFAULT_SHARDS,
) -> int | None:
    """Fold committed pair batches with ``folded < _batch_id <= upto``
    into the clusters store. ``upto_batch_id=None`` folds everything
    committed so far. Returns the new watermark (None if there was
    nothing to fold and no prior state).

    Idempotent under replay: a crash after the clusters swap but before
    the watermark write re-runs the fold with the same edges, which
    converges to the identical labeling (see module docstring)."""
    recover_torn_swap(state_dir, subs=(_CLUSTERS,))
    c_path, wm_path = _paths(state_dir)
    # Validate the shard stamp BEFORE any early return: a misconfigured
    # n_shards should fail the fold loudly even on a call that happens
    # to have nothing new to fold.
    stored = None
    if os.path.isdir(c_path):
        stored = spark.read.parquet(c_path)
        stamped = _stamped_shards(stored)
        if stamped is None:
            raise ValueError(
                "refusing to fold into an unstamped clusters store — the "
                "shard count cannot be verified; rebuild via "
                "fold_pairs_into_clusters on a fresh state_dir"
            )
        if stamped != n_shards:
            raise ValueError(
                f"clusters store was sharded with n_shards={stamped} but "
                f"fold called with {n_shards}; folding would scatter rows "
                "across wrong partitions"
            )
    pairs = emitted_pairs(spark, state_dir)
    prev = folded_upto(spark, state_dir)
    batch_pred = F.lit(True) if prev is None else (F.col("_batch_id") > prev)
    if upto_batch_id is not None:
        if prev is not None and upto_batch_id <= prev:
            # A replayed batch at or below the watermark: every pair it
            # committed is already folded (the refold would rewrite the
            # store byte-identically — skip it).
            return prev
        batch_pred = batch_pred & (F.col("_batch_id") <= upto_batch_id)
        new_upto = upto_batch_id if prev is None else max(prev, upto_batch_id)
    else:
        new_upto = pairs.agg(F.max("_batch_id")).head()[0]
        if new_upto is None or (prev is not None and new_upto <= prev):
            return prev
    edges = pairs.where(batch_pred).select(
        F.col("new_id").alias("src"), F.col("ex_id").alias("dst")
    )

    if stored is None and edges.isEmpty():
        # Nothing standing and nothing to fold: commit only the
        # watermark (an empty partitioned write would leave a
        # footer-less dir the next read cannot infer a schema from).
        return _write_watermark(spark, wm_path, new_upto)
    labels = (
        stored.select("node", "component")
        if stored is not None
        else _empty_clusters(spark)
    )
    updated = connected_components_incremental(labels, edges)
    shard = F.pmod(F.xxhash64(F.col("node")), F.lit(n_shards)).alias("_shard")
    updated = updated.select(
        F.col("node").alias("node", metadata={"n_shards": n_shards}),
        "component",
        shard,
    )
    # Whole-store swap (see module docstring for why partial per-shard
    # commits were rejected). The FIRST fold is staged too: a torn direct
    # write to the live dir would leave recovery no completion stamp to
    # tell a complete stage from a torn one.
    with staged_swap(c_path) as stage:
        updated.write.mode("overwrite").partitionBy("_shard").parquet(stage)
    # Watermark LAST: a crash before this line replays the fold, which
    # is convergent; a watermark written first would silently skip it.
    return _write_watermark(spark, wm_path, new_upto)


def _write_watermark(spark: SparkSession, wm_path: str, upto: int) -> int:
    spark.createDataFrame([(int(upto),)], "upto bigint").write.mode(
        "overwrite"
    ).parquet(wm_path)
    return int(upto)
