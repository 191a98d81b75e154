"""The ``_batch_id``-partitioned state store shared by the foreachBatch
ingest loops (``ingest_dedup``, ``ingest_ann``, ``ingest_clusters``).

A store is a parquet directory partitioned by ``_batch_id``: ``-1`` is
the baseline (the bootstrap corpus plus every batch compaction folded
in), and each micro-batch commits its own partition.

  * Commits are per-write dynamic-partition overwrites keyed by
    ``_batch_id`` (``commit_batch``), so an at-least-once replay rewrites
    its own partition in place — replay-idempotent without a transaction
    log. The option is set on the write, not left to the session
    default: under Spark's STATIC default a commit would truncate the
    whole table to one partition, destroying the baseline and every
    prior batch.
  * A replayed batch probes the same "before me" state it saw the first
    time: ``committed_before`` excludes its own partition.
  * Whole-store rewrites (compaction, retrain, cluster folds) go through
    one staged swap (``staged_swap``): the new copy is written and
    stamped complete beside the live dir, then swapped in with two
    renames, so a crash at any point leaves a complete copy on disk that
    ``recover_torn_swap`` rolls forward or back. The renames are the
    non-atomic step on an object store — a deployment fronts the swap
    with a table format (Delta/Iceberg) or a manifest.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

BATCH = "_batch_id"
_STAGE_MARKER = "_STAGE_COMPLETE"


def read_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException:
        return None


def read_bootstrapped(
    spark: SparkSession, paths: list[str], bootstrap_call: str
) -> list[DataFrame]:
    """Read every store a commit needs, refusing a state that was never
    bootstrapped (any store missing)."""
    stores = [read_or_none(spark, p) for p in paths]
    if any(s is None for s in stores):
        raise RuntimeError(
            f"ingest state not bootstrapped - call {bootstrap_call} first"
        )
    return stores


def overwrite_partitions(df: DataFrame, path: str) -> None:
    """Rewrite exactly the ``_batch_id`` partitions ``df`` carries."""
    df.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(BATCH).parquet(path)


def commit_batch(df: DataFrame, path: str, batch_id: int) -> None:
    """Commit ``df`` as partition ``_batch_id=batch_id`` of the store."""
    overwrite_partitions(df.withColumn(BATCH, F.lit(batch_id)), path)


def committed_before(store: DataFrame, batch_id: int) -> DataFrame:
    """Everything committed except batch ``batch_id``'s own partition."""
    return store.where(F.col(BATCH) != batch_id).drop(BATCH)


def mark_stage_complete(staged: str) -> None:
    """Stamp a fully-staged swap directory. ``staged_swap`` calls this
    after all staging writes finish and before the live dir is touched;
    ``recover_torn_swap`` rolls an orphaned stage forward only when the
    stamp proves the stage completed. (Spark's own ``_SUCCESS`` can't
    serve as the witness: dynamic partitioned overwrites commit without
    one, and a multi-relation stage such as ``pq/`` has its per-relation
    markers one level down.)"""
    with open(os.path.join(staged, _STAGE_MARKER), "w") as f:
        f.write("complete")


def _stage_is_complete(staged: str) -> bool:
    return os.path.exists(os.path.join(staged, _STAGE_MARKER)) or os.path.exists(
        os.path.join(staged, "_SUCCESS")
    )


@contextmanager
def staged_swap(path: str) -> Iterator[str]:
    """Replace the store at ``path`` with what the caller writes into the
    yielded stage dir: clear ``<path>_compacting``, let the caller write
    it, stamp it complete, then rename live -> ``<path>_old``, staged ->
    live, and delete ``_old``. A first write (no live dir) is the single
    rename staged -> live. Nothing is swapped if the caller raises."""
    staged = path + "_compacting"
    shutil.rmtree(staged, ignore_errors=True)
    yield staged
    mark_stage_complete(staged)
    if not os.path.exists(path):
        os.rename(staged, path)
        return
    prev = path + "_old"
    shutil.rmtree(prev, ignore_errors=True)
    os.rename(path, prev)
    os.rename(staged, path)
    shutil.rmtree(prev)


def recover_torn_swap(state_dir: str, subs: tuple[str, ...]) -> None:
    """Crash recovery for ``staged_swap`` on each ``state_dir/<sub>``.

    Between the two renames the live dir is ABSENT, with the old data at
    ``<sub>_old`` and the complete stage at ``<sub>_compacting``. Left
    alone, a stream restart would mistake that for a fresh state and
    re-bootstrap a corpus-only store, silently discarding every committed
    batch. Roll the swap FORWARD when the stage carries the completion
    stamp, BACK to ``_old`` otherwise; when the live dir is present,
    leftovers from either side of the window are stale and removed."""
    for sub in subs:
        path = os.path.join(state_dir, sub)
        staged = path + "_compacting"
        prev = path + "_old"
        if os.path.exists(path):
            # A leftover stage is pre-swap, a leftover backup post-swap;
            # the live dir is authoritative in both cases.
            shutil.rmtree(staged, ignore_errors=True)
            shutil.rmtree(prev, ignore_errors=True)
        elif os.path.exists(staged):
            if _stage_is_complete(staged):
                # Mid-swap crash: finish the swap the stage was made for.
                os.rename(staged, path)
                shutil.rmtree(prev, ignore_errors=True)
            elif os.path.exists(prev):
                # Torn staging write with a backup: restore the backup.
                shutil.rmtree(staged)
                os.rename(prev, path)
            else:
                # Torn FIRST-WRITE staging (no live dir ever): nothing was
                # committed — drop the torn copy; the fold or bootstrap
                # that produced it re-runs.
                shutil.rmtree(staged)
        elif os.path.exists(prev):
            # Backup only (stage gone, e.g. partial manual cleanup):
            # restore it rather than lose it.
            os.rename(prev, path)


def refuse_folding_tip(spark: SparkSession, path: str, upto_batch_id: int) -> None:
    """Compaction's replay-safety guard: ``upto_batch_id`` must be
    STRICTLY older than the newest committed batch. foreachBatch is
    at-least-once only at the tip — once the checkpoint has committed a
    later epoch an older batch id never re-fires — so folding
    fully-committed batches into the baseline cannot hand a replayed
    batch its own rows as 'before me' state."""
    latest = spark.read.parquet(path).agg(F.max(BATCH)).head()[0]
    if latest is not None and upto_batch_id >= latest:
        raise ValueError(
            f"compaction up to batch {upto_batch_id} would fold the replayable "
            f"tip of {os.path.basename(path)!r} (latest committed batch "
            f"{latest}); pass upto_batch_id < latest"
        )


def fold_into_baseline(
    spark: SparkSession,
    path: str,
    upto_batch_id: int,
    cluster_col: str | None = None,
    link_tip: bool = True,
) -> None:
    """Fold every partition ``<= upto_batch_id`` into ``_batch_id=-1``
    through ``staged_swap``, bounding the one-partition-per-batch
    small-files growth. The folded rows are re-clustered by
    ``cluster_col`` when given (the probe-pruning layout). Probing is
    unchanged: compaction only relabels ``_batch_id`` of batches no
    replay can reach (``refuse_folding_tip`` runs first).

    Only the folded partitions are rewritten through Spark; the tip
    partitions are hard-linked into the stage — metadata operations
    only, and the stage is still complete before the live dir is
    touched. Filesystems without hard links (object-store FUSE mounts,
    some NFS) get a real copy under the same crash contract.

    ``link_tip=False`` rewrites the tip through Spark with the folded
    rows instead, so every file of the store is one Spark rewrite with
    one parquet schema. A commit frame can carry required (non-null)
    fields that a rewrite, reading them back as nullable, writes as
    optional; readers that concatenate a store's files without schema
    promotion (pyarrow ``concat_tables``) need the files to agree."""
    store = spark.read.parquet(path)
    old = store.where(F.col(BATCH) <= upto_batch_id).withColumn(BATCH, F.lit(-1))
    if cluster_col is not None:
        old = old.repartition(F.col(cluster_col))
    if not link_tip:
        old = old.unionByName(store.where(F.col(BATCH) > upto_batch_id))
    with staged_swap(path) as stage:
        overwrite_partitions(old, stage)
        if link_tip:
            _link_tip(path, stage, upto_batch_id)


def _link_tip(path: str, stage: str, upto_batch_id: int) -> None:
    for d in os.listdir(path):
        if not d.startswith(f"{BATCH}="):
            continue
        if int(d.split("=", 1)[1]) <= upto_batch_id:
            continue
        os.makedirs(os.path.join(stage, d), exist_ok=True)
        for fn in os.listdir(os.path.join(path, d)):
            if fn.startswith("."):
                continue  # committer .crc sidecars — not data
            src, dst = os.path.join(path, d, fn), os.path.join(stage, d, fn)
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy2(src, dst)


def start_foreach_batch(
    arrivals: DataFrame,
    handle: Callable[[DataFrame, int], None],
    checkpoint: str,
    available_now: bool,
) -> StreamingQuery:
    """Start ``handle`` as the stream's foreachBatch commit loop."""
    writer = (
        arrivals.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
