"""Streaming ingest for the persisted vector indexes: the
``ingest_dedup`` posture applied to the ANN tier, so a daily-ingest lake
append-encodes arriving vectors into the stored relation instead of
rebuilding it. All FOUR index families run the same loop
(``_ingest_stream``) — bootstrap / validated per-batch append / probe /
compaction or retrain / torn-swap recovery:

  * hyperplane (``ingest_ann_stream``): signatures appended against the
    STAMPED plane set via ``hyperplane_index_append``;
  * IVF (``ingest_ivf_stream``): cell assignments appended via
    ``IvfIndex.append`` under the centroid count+checksum stamps;
  * PQ (``ingest_pq_stream``): codes appended against the STORED
    trained codebook via ``pq_index_append``, whose ``pq_train_n``
    staleness contract fails the stream loudly once the corpus drifts
    past the retrain threshold — ``retrain_pq_state`` is the remedy
    (the PQ analogue of compaction);
  * IVF-PQ (``ingest_ivfpq_stream``): residual codes and cell
    assignments appended via ``ivfpq_index_append`` under both halves'
    refusal sets; ``retrain_ivfpq_state`` is the remedy.

Each ``foreachBatch`` micro-batch of arriving vectors is encoded against
the stored parameters — every append path refuses unstamped or
param-mismatched stores, so a drifted deployment fails loudly instead
of silently mis-bucketing — and committed under its ``_batch_id``
partition.

Scale + correctness posture (the ``_batch_id`` store of
streaming/state.py):

  * The index is a REAL stored table: the corpus is encoded once at
    bootstrap (``_batch_id = -1``), each batch once on arrival; raw
    vectors are never re-encoded for a later probe. At 100 TB re-cluster
    by ``bucket`` via ``compact_ann_state`` so Hamming probes prune.
  * Commits are replay-idempotent dynamic-partition overwrites
    (``state.commit_batch``).
  * ``recover_torn_swap`` runs on startup, so a crash inside a
    compaction or retrain swap self-heals instead of re-bootstrapping a
    corpus-only index.
  * Because the planes and centroids are fixed parameters, the ingested
    hyperplane and IVF stores are bit-identical to a full rebuild at
    every point in time — pinned stream ≡ batch in
    tests/test_streaming.py.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from odl_etl_spark.operators.ann_index import (
    hyperplane_index,
    hyperplane_index_append,
    hyperplane_probe,
)
from odl_etl_spark.streaming.state import (
    BATCH,
    commit_batch,
    committed_before,
    fold_into_baseline,
    overwrite_partitions,
    read_bootstrapped,
    read_or_none,
    recover_torn_swap,
    refuse_folding_tip,
    staged_swap,
    start_foreach_batch,
)


def _refuse_bootstrap_on_committed_checkpoint(
    checkpoint: str, state_dir: str, family: str
) -> None:
    """Guard for every bootstrap-if-absent path: a MISSING index store
    combined with a checkpoint that has committed batches means those
    batches' vectors are gone — the checkpoint marks them done, so an
    availableNow replay will NOT re-deliver them, and a silent
    corpus-only re-bootstrap would drop them from every future probe.
    The ANN stores have no secondary relation to witness commits (unlike
    ingest_dedup's docs store), so the checkpoint itself is the
    witness: a non-hidden entry under ``<checkpoint>/commits``."""
    commits = os.path.join(checkpoint, "commits")
    if os.path.isdir(commits) and any(
        not e.startswith(".") for e in os.listdir(commits)
    ):
        raise RuntimeError(
            f"{family} ingest store at {state_dir!r} is missing but the "
            f"stream checkpoint {checkpoint!r} has committed batches; "
            "re-bootstrapping from the corpus would silently drop those "
            "batches from every future probe (the checkpoint marks them "
            "done, so a replay will not re-deliver them). Restore the "
            "store, or delete the checkpoint to intentionally start over."
        )


def _ingest_stream(
    arrivals: DataFrame,
    state_dir: str,
    checkpoint: str,
    family: str,
    sub: str,
    witness: str,
    bootstrap: Callable[[], None],
    handle: Callable[[DataFrame, int], None],
    available_now: bool,
) -> StreamingQuery:
    """The vector-ingest loop of every family: recover a torn swap of
    the family's swap unit ``state_dir/<sub>``; if the ``witness`` store
    is then absent, bootstrap — unless the checkpoint proves batches
    were committed against the lost store — and run ``handle`` as the
    foreachBatch commit."""
    recover_torn_swap(state_dir, (sub,))
    spark = arrivals.sparkSession
    if read_or_none(spark, os.path.join(state_dir, witness)) is None:
        _refuse_bootstrap_on_committed_checkpoint(checkpoint, state_dir, family)
        bootstrap()
    return start_foreach_batch(arrivals, handle, checkpoint, available_now)


def _compact_batches(
    spark: SparkSession,
    state_dir: str,
    sub: str,
    upto_batch_id: int,
    cluster_col: str,
) -> None:
    """Compaction of a single-store family: fold committed batches
    ``<= upto_batch_id`` into the baseline partition, re-clustered by
    ``cluster_col`` — the probe-pruning layout (``state.fold_into_baseline``
    behind the replayable-tip guard)."""
    recover_torn_swap(state_dir, (sub,))
    path = os.path.join(state_dir, sub)
    refuse_folding_tip(spark, path, upto_batch_id)
    fold_into_baseline(spark, path, upto_batch_id, cluster_col)


def _batch_size(batch_df: DataFrame) -> int:
    """Distinct vectors in one arriving batch (the reserved probe id 0
    excluded) — the staleness contract's ``n_new``."""
    return batch_df.where(F.col("vec_id") != 0).select("vec_id").distinct().count()


# ---------------------------------------------------------------------------
# Hyperplane family.
# ---------------------------------------------------------------------------

_SUB = "index"


def _index_path(state_dir: str) -> str:
    return os.path.join(state_dir, _SUB)


def bootstrap_ann_index(
    corpus: DataFrame, state_dir: str, planes: list[list[float]]
) -> None:
    """Encode the standing corpus ONCE and commit it as ``_batch_id=-1``.
    Idempotent: re-running overwrites the same partition with identical
    rows (dynamic overwrite, fixed planes)."""
    commit_batch(hyperplane_index(corpus, planes), _index_path(state_dir), -1)


def append_and_commit_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    planes: list[list[float]],
) -> None:
    """foreachBatch handler: validate the store's param stamps, encode
    ONLY this batch's vectors, commit under ``_batch_id``. A replay
    overwrites its own partition byte-identically (the encode is a pure
    function of (vectors, planes))."""
    (index,) = read_bootstrapped(
        batch_df.sparkSession,
        [_index_path(state_dir)],
        "bootstrap_ann_index(corpus, state_dir, planes)",
    )
    rows = hyperplane_index_append(index.drop(BATCH), batch_df, planes)
    commit_batch(rows, _index_path(state_dir), batch_id)


def ingest_ann_stream(
    arrivals: DataFrame,
    corpus: DataFrame,
    state_dir: str,
    checkpoint: str,
    planes: list[list[float]],
    available_now: bool = True,
) -> StreamingQuery:
    """Run the vector-ingest loop over a streaming DataFrame of arriving
    ``(vec_id, embedding)`` rows (see ``_ingest_stream``)."""
    return _ingest_stream(
        arrivals, state_dir, checkpoint, "hyperplane", _SUB, _SUB,
        lambda: bootstrap_ann_index(corpus, state_dir, planes),
        lambda df, b: append_and_commit_batch(df, b, state_dir, planes),
        available_now,
    )


def stored_index(spark: SparkSession, state_dir: str) -> DataFrame:
    """The full committed signature relation (all batches), ready for
    ``hyperplane_probe``."""
    return spark.read.parquet(_index_path(state_dir)).drop(BATCH)


def probe_state(
    spark: SparkSession,
    state_dir: str,
    raw: DataFrame,
    probe_vec: list[float],
    probe_bucket: int,
    planes: list[list[float]],
    radius: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Hamming-radius probe + exact re-rank against the ingested store —
    identical to probing a freshly rebuilt index (append ≡ rebuild)."""
    return hyperplane_probe(
        stored_index(spark, state_dir),
        raw,
        probe_vec,
        probe_bucket,
        planes=planes,
        radius=radius,
        k=k,
        id_col=id_col,
    )


def compact_ann_state(
    spark: SparkSession, state_dir: str, upto_batch_id: int
) -> None:
    """Hyperplane-store compaction: fold committed batches into the
    baseline, re-clustered by ``bucket`` (see ``_compact_batches``)."""
    _compact_batches(spark, state_dir, _SUB, upto_batch_id, "bucket")


# ---------------------------------------------------------------------------
# IVF family: the same single-store loop with cell assignments. The
# centroids are fixed parameters (an ``IvfIndex``), so append ≡ rebuild
# exactly — the stored relation after any bootstrap+batches sequence is
# bit-identical to assigning the whole corpus at once.
# ---------------------------------------------------------------------------

_IVF_SUB = "cells"


def _cells_path(state_dir: str) -> str:
    return os.path.join(state_dir, _IVF_SUB)


def bootstrap_ivf_cells(corpus: DataFrame, state_dir: str, index) -> None:
    """Assign the standing corpus ONCE (``IvfIndex.assign`` — stamps
    ivf_cells/ivf_checksum on the data columns) and commit as
    ``_batch_id=-1``. Idempotent under replay (fixed centroids)."""
    commit_batch(index.assign(corpus), _cells_path(state_dir), -1)


def ivf_append_and_commit(
    batch_df: DataFrame, batch_id: int, state_dir: str, index
) -> None:
    """foreachBatch handler: ``IvfIndex.append`` validates the stored
    relation's centroid stamps (count + value checksum — refuses
    unstamped or drifted stores), assigns ONLY this batch's vectors, and
    commits under ``_batch_id`` (replay overwrites its own partition
    byte-identically)."""
    (stored,) = read_bootstrapped(
        batch_df.sparkSession,
        [_cells_path(state_dir)],
        "bootstrap_ivf_cells(corpus, state_dir, index)",
    )
    rows = index.append(stored.drop(BATCH), batch_df)
    commit_batch(rows, _cells_path(state_dir), batch_id)


def ingest_ivf_stream(
    arrivals: DataFrame,
    corpus: DataFrame,
    state_dir: str,
    checkpoint: str,
    index,
    available_now: bool = True,
) -> StreamingQuery:
    """The vector-ingest loop for the IVF family (see
    ``_ingest_stream``): per-batch validated append-assign."""
    return _ingest_stream(
        arrivals, state_dir, checkpoint, "ivf", _IVF_SUB, _IVF_SUB,
        lambda: bootstrap_ivf_cells(corpus, state_dir, index),
        lambda df, b: ivf_append_and_commit(df, b, state_dir, index),
        available_now,
    )


def stored_cells(spark: SparkSession, state_dir: str) -> DataFrame:
    """The full committed cell-assignment relation (all batches)."""
    return spark.read.parquet(_cells_path(state_dir)).drop(BATCH)


def probe_ivf_state(
    spark: SparkSession,
    state_dir: str,
    index,
    probe_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """Probe the ingested store — identical to probing a fresh full
    assignment (append ≡ rebuild under fixed centroids)."""
    return index.search(stored_cells(spark, state_dir), probe_vec, k=k, nprobe=nprobe)


def compact_ivf_state(
    spark: SparkSession, state_dir: str, upto_batch_id: int
) -> None:
    """IVF-store compaction: fold committed batches into the baseline,
    re-clustered by ``cell_id`` — the layout whose ``cell_id IN (...)``
    probe filter partition-prunes (see ``_compact_batches``)."""
    _compact_batches(spark, state_dir, _IVF_SUB, upto_batch_id, "cell_id")


# ---------------------------------------------------------------------------
# Member-count sidecar of the PQ and IVF-PQ families: ``counts`` beside
# the codes, one row per ``(_batch_id[, cell_id])`` holding the distinct
# member count, committed with each batch. Probes and the staleness
# contract sum O(#batches [× n_cells]) rows instead of aggregating the
# codes store.
#
# ASSUMES batch-disjoint vec_ids: the sidecar sums per-batch distinct
# counts, so a vec_id the SOURCE re-delivers under a *different*
# ``_batch_id`` (an at-least-once re-send landing in a new batch, as
# opposed to a replay of the same batch, which the dynamic-overwrite
# keying handles) is counted once per batch it lands in, inflating the
# count vs the legacy fallback's global distinct. That errs conservative
# for the staleness contract (an inflated count trips retrain EARLIER)
# and upward-biases r_pool sizing; sources that can re-send across batch
# boundaries should dedup arrivals against the store upstream (the
# ingest-dedup loop in ``ingest_dedup.py`` is the house tool for that).
# ---------------------------------------------------------------------------


def _member_counts(rel: DataFrame, *keys: str) -> DataFrame:
    """Distinct-member count ``n`` per ``keys`` — the sidecar's rows."""
    return rel.groupBy(*keys).agg(F.countDistinct("vec_id").alias("n"))


def _count_row(spark: SparkSession, n: int) -> DataFrame:
    return spark.createDataFrame([(int(n),)], "n bigint")


def _backfill_counts(
    spark: SparkSession, counts_path: str, members_path: str, *keys: str
) -> None:
    """Materialize the sidecar for a store that predates it (or lost it
    to a crash between bootstrap's writes): one scan of the member
    store, ONCE, from the append (write) path — every reader is cheap
    afterwards and the read path stays read-only. Without this, a legacy
    store's first appended batch would create a sidecar holding ONLY its
    own partition, silently shrinking every later probe's r_pool and
    defeating the staleness contract. No-op when the sidecar (or the
    whole store) is absent."""
    if read_or_none(spark, counts_path) is not None:
        return
    members = read_or_none(spark, members_path)
    if members is not None:
        overwrite_partitions(_member_counts(members, BATCH, *keys), counts_path)


def _sidecar_count(
    spark: SparkSession,
    counts_path: str,
    members_path: str,
    cells: list[int] | None = None,
    exclude_batch_id: int | None = None,
) -> int:
    """Member count from the sidecar — all cells, or the ``cells``
    subset — never an Aggregate over the stored relations. Falls back to
    one member-store scan only for a store predating the sidecar (the
    append path backfills it, so the fallback is paid at most until the
    next commit)."""
    counts = read_or_none(spark, counts_path)
    rel = counts if counts is not None else spark.read.parquet(members_path)
    if exclude_batch_id is not None:
        rel = rel.where(F.col(BATCH) != exclude_batch_id)
    if cells is not None:
        rel = rel.where(F.col("cell_id").isin(cells))
    if counts is None:
        return rel.select("vec_id").distinct().count()
    return rel.agg(F.coalesce(F.sum("n"), F.lit(0))).head()[0]


# ---------------------------------------------------------------------------
# PQ family. Unlike hyperplane/IVF, the PQ state is a PAIR of relations
# (trained codebook + codes) whose consistency is cross-dependent: codes
# are only meaningful against the codebook that encoded them. A retrain
# therefore rewrites BOTH — so the swap unit is the PARENT directory
# (``pq/`` holding ``pq/codebook`` + ``pq/codes`` + the sidecar), staged
# fully before the live dir is ever renamed away. ``recover_torn_swap``
# on the parent then can never resurrect a new-codebook/old-codes mix.
# ---------------------------------------------------------------------------

_PQ_SUB = "pq"


def _pq_paths(state_dir: str) -> tuple[str, str]:
    root = os.path.join(state_dir, _PQ_SUB)
    return os.path.join(root, "codebook"), os.path.join(root, "codes")


def _pq_counts_path(state_dir: str) -> str:
    return os.path.join(state_dir, _PQ_SUB, "counts")


def pq_corpus_count(
    spark: SparkSession, state_dir: str, exclude_batch_id: int | None = None
) -> int:
    """Corpus cardinality of the ingested PQ store from the counts
    sidecar (see ``_sidecar_count``)."""
    return _sidecar_count(
        spark, _pq_counts_path(state_dir), _pq_paths(state_dir)[1],
        exclude_batch_id=exclude_batch_id,
    )


def _train_pq(root: str, corpus_v: DataFrame) -> None:
    """Train the codebook on ``corpus_v`` (``train_stamp=True`` — the
    staleness contract's prerequisite) and write the codebook, the codes
    as ``_batch_id=-1`` and their sidecar partition under ``root``. The
    sidecar count is the training count already stamped on the codebook
    — no extra job."""
    from odl_etl_spark.operators.ann_index import _stamped_any, pq_index

    cent, codes = pq_index(corpus_v, train_stamp=True)
    cent.write.mode("overwrite").parquet(os.path.join(root, "codebook"))
    commit_batch(codes, os.path.join(root, "codes"), -1)
    n = _stamped_any(cent, "pq_train_n")
    counts = _count_row(corpus_v.sparkSession, n)
    commit_batch(counts, os.path.join(root, "counts"), -1)


def bootstrap_pq_state(corpus_v: DataFrame, state_dir: str) -> None:
    """Train the codebook on the standing corpus and commit both
    artifacts plus the counts sidecar as the baseline. ``corpus_v``
    carries (vec_id, v: array<double>)."""
    _train_pq(os.path.join(state_dir, _PQ_SUB), corpus_v)


def pq_append_and_commit(
    batch_df: DataFrame, batch_id: int, state_dir: str
) -> None:
    """foreachBatch handler: encode ONLY this batch's vectors against the
    STORED codebook via ``pq_index_append`` — which enforces the
    ``pq_train_n`` staleness contract, so a corpus that has drifted past
    the retrain threshold fails the stream loudly (the operator's
    ValueError names ``retrain``) instead of silently degrading ADC
    shortlists. Prior rows of THIS batch's partition are excluded from
    the staleness count, so an at-least-once replay neither double-counts
    nor can it flip a previously successful commit into a refusal."""
    from odl_etl_spark.operators.ann_index import pq_index_append

    spark = batch_df.sparkSession
    cent_path, codes_path = _pq_paths(state_dir)
    cent, codes = read_bootstrapped(
        spark, [cent_path, codes_path], "bootstrap_pq_state(corpus_v, state_dir)"
    )
    # Cardinalities from the sidecar (this batch's own partition
    # excluded for replay-idempotency) + one count of the SMALL batch.
    # A legacy/torn store gets its sidecar backfilled FIRST, so the
    # commit below never seeds a sidecar missing earlier partitions.
    _backfill_counts(spark, _pq_counts_path(state_dir), codes_path)
    n_existing = pq_corpus_count(spark, state_dir, exclude_batch_id=batch_id)
    n_batch = _batch_size(batch_df)
    rows = pq_index_append(
        cent, committed_before(codes, batch_id), batch_df,
        n_existing=n_existing, n_new=n_batch,
    )
    commit_batch(rows, codes_path, batch_id)
    # Count AFTER codes: the sidecar never claims rows that were not
    # committed; a crash between the two writes undercounts until the
    # replay rewrites both partitions idempotently.
    commit_batch(_count_row(spark, n_batch), _pq_counts_path(state_dir), batch_id)


def ingest_pq_stream(
    arrivals: DataFrame,
    corpus_v: DataFrame,
    state_dir: str,
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """The vector-ingest loop for the PQ family (see ``_ingest_stream``).
    The codes store is the bootstrap witness; recovery runs on the whole
    ``pq/`` swap unit."""
    return _ingest_stream(
        arrivals, state_dir, checkpoint, "pq", _PQ_SUB, os.path.join(_PQ_SUB, "codes"),
        lambda: bootstrap_pq_state(corpus_v, state_dir),
        lambda df, b: pq_append_and_commit(df, b, state_dir),
        available_now,
    )


def stored_pq(
    spark: SparkSession, state_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(codebook, codes-across-all-batches) — the pair ``pq_probe``
    searches."""
    cent_path, codes_path = _pq_paths(state_dir)
    return (
        spark.read.parquet(cent_path),
        spark.read.parquet(codes_path).drop(BATCH),
    )


def probe_pq_state(
    spark: SparkSession,
    state_dir: str,
    e: DataFrame,
    probe_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """ADC-shortlist + exact-L2 re-rank against the ingested store. The
    shortlist size follows the engine-wide ``pq_r_pool`` contract
    (fraction of the CURRENT corpus, R_MAX-capped); the corpus size
    comes from the counts sidecar (``pq_corpus_count``) — a probe never
    aggregates the codes store."""
    from odl_etl_spark.operators.ann_index import pq_probe, pq_r_pool

    cent, codes = stored_pq(spark, state_dir)
    n_corpus = pq_corpus_count(spark, state_dir)
    return pq_probe(codes, cent, e, probe_vec, pq_r_pool(n_corpus), k=k)


def retrain_pq_state(
    spark: SparkSession, state_dir: str, full_corpus_v: DataFrame
) -> None:
    """The PQ analogue of compaction — and the remedy
    ``pq_index_append``'s staleness refusal prescribes: retrain the
    codebook on the CURRENT corpus and re-encode everything, folding all
    batches (and the sidecar) into ``_batch_id=-1``. The whole ``pq/``
    unit is staged before the live dir is renamed away, so a crash never
    persists a mixed new-codebook/old-codes state."""
    recover_torn_swap(state_dir, (_PQ_SUB,))
    with staged_swap(os.path.join(state_dir, _PQ_SUB)) as stage:
        _train_pq(stage, full_corpus_v)


# ---------------------------------------------------------------------------
# IVFADC (composed IVF-PQ) family. Its state is THREE cross-dependent
# relations: the residual codebook, the cell-carrying codes, and the
# coarse cell assignment — codes are only meaningful against the
# codebook AND the centroid set that produced their residuals, so (like
# PQ) the swap unit is the PARENT directory ``ivfpq/``; the centroids
# themselves are fixed parameters carried by the caller's ``IvfIndex``.
#
# The sidecar here is keyed per (batch, cell) because the IVFADC probe's
# shortlist contract sizes r_pool from the PROBED cells' member count,
# not the whole corpus (`sim_ann_ivfpq`); the corpus-level staleness
# count is the same sidecar summed over all cells.
# ---------------------------------------------------------------------------

_IVFPQ_SUB = "ivfpq"


def _ivfpq_paths(state_dir: str) -> tuple[str, str, str]:
    root = os.path.join(state_dir, _IVFPQ_SUB)
    return (
        os.path.join(root, "codebook"),
        os.path.join(root, "codes"),
        os.path.join(root, "cells"),
    )


def _ivfpq_counts_path(state_dir: str) -> str:
    return os.path.join(state_dir, _IVFPQ_SUB, "counts")


def _ivfpq_count(
    spark: SparkSession,
    state_dir: str,
    cells: list[int] | None = None,
    exclude_batch_id: int | None = None,
) -> int:
    """Member count of the ingested IVFADC store — all cells
    (``cells=None``: the staleness contract's corpus count) or the
    probed subset (the probe's r_pool count); see ``_sidecar_count``."""
    return _sidecar_count(
        spark, _ivfpq_counts_path(state_dir), _ivfpq_paths(state_dir)[2],
        cells, exclude_batch_id,
    )


def _train_ivfpq(root: str, corpus_v: DataFrame, index) -> None:
    """Assign ``corpus_v`` against the index's fixed centroids, train the
    residual codebook on it (``train_stamp=True``) and write codebook,
    codes, cells and sidecar as ``_batch_id=-1`` under ``root``. The
    reserved probe id 0 is excluded up front so the cells and codes
    stores stay in lockstep (``pq_encode`` would drop it from the codes
    unconditionally — see ``ivfpq_index_append``)."""
    from odl_etl_spark.operators.ann_index import ivfpq_index
    from odl_etl_spark.operators.materialize import materialize

    # Read 4x below (train count, codes lineage, cells write, sidecar):
    # one assign pass, then executor-local blocks.
    assigned = materialize(
        index.assign(corpus_v.where(F.col("vec_id") != 0), vec_col="v")
    )
    cent, codes = ivfpq_index(
        assigned, index.centroids, train_stamp=True, vec_col="v"
    )
    cent.write.mode("overwrite").parquet(os.path.join(root, "codebook"))
    commit_batch(codes, os.path.join(root, "codes"), -1)
    commit_batch(assigned, os.path.join(root, "cells"), -1)
    counts = _member_counts(assigned, "cell_id")
    commit_batch(counts, os.path.join(root, "counts"), -1)


def bootstrap_ivfpq_state(corpus_v: DataFrame, state_dir: str, index) -> None:
    """Assign the standing corpus once, train the residual codebook on
    it, and commit all three artifacts plus the sidecar as the baseline.
    ``corpus_v`` carries (vec_id, v: array<double>)."""
    _train_ivfpq(os.path.join(state_dir, _IVFPQ_SUB), corpus_v, index)


def ivfpq_append_and_commit(
    batch_df: DataFrame, batch_id: int, state_dir: str, index
) -> None:
    """foreachBatch handler: encode ONLY this batch against the STORED
    codebook + the index's fixed centroids via ``ivfpq_index_append`` —
    which applies BOTH halves' refusal sets (centroid count+checksum
    stamps, codebook subspace/training stamps, drift-bounded staleness)
    before anything is encoded, so a drifted or mismatched deployment
    fails the stream loudly. Commit order is codes → cells → counts: a
    crash mid-handler can leave encoded-but-uncounted rows (a probe's
    r_pool then errs SMALL until the replay rewrites all three
    partitions idempotently) but never the assigned-but-never-encoded
    rows the append operator's docstring warns about, and the sidecar
    never claims rows the codes store doesn't hold."""
    from odl_etl_spark.operators.ann_index import ivfpq_index_append

    spark = batch_df.sparkSession
    cent_path, codes_path, cells_path = _ivfpq_paths(state_dir)
    cent, codes, cells = read_bootstrapped(
        spark, [cent_path, codes_path, cells_path],
        "bootstrap_ivfpq_state(corpus_v, state_dir, index)",
    )
    _backfill_counts(spark, _ivfpq_counts_path(state_dir), cells_path, "cell_id")
    n_existing = _ivfpq_count(spark, state_dir, exclude_batch_id=batch_id)
    n_batch = _batch_size(batch_df)
    new_assigned, new_codes = ivfpq_index_append(
        index, committed_before(cells, batch_id), cent,
        committed_before(codes, batch_id), batch_df,
        n_existing=n_existing, n_new=n_batch, vec_col="v",
    )
    commit_batch(new_codes, codes_path, batch_id)
    commit_batch(new_assigned, cells_path, batch_id)
    counts = _member_counts(new_assigned, "cell_id")
    commit_batch(counts, _ivfpq_counts_path(state_dir), batch_id)


def ingest_ivfpq_stream(
    arrivals: DataFrame,
    corpus_v: DataFrame,
    state_dir: str,
    checkpoint: str,
    index,
    available_now: bool = True,
) -> StreamingQuery:
    """The vector-ingest loop for the composed IVFADC family (see
    ``_ingest_stream``): per-batch doubly-validated append-encode, with
    recovery on the whole ``ivfpq/`` swap unit."""
    return _ingest_stream(
        arrivals, state_dir, checkpoint, "ivfpq", _IVFPQ_SUB,
        os.path.join(_IVFPQ_SUB, "codes"),
        lambda: bootstrap_ivfpq_state(corpus_v, state_dir, index),
        lambda df, b: ivfpq_append_and_commit(df, b, state_dir, index),
        available_now,
    )


def stored_ivfpq(
    spark: SparkSession, state_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(codebook, codes, cell-assignment) across all committed batches —
    the triple ``ivfpq_probe`` searches (the assignment is the raw-
    vector side's bookkeeping; probes touch it only via the sidecar)."""
    cent_path, codes_path, cells_path = _ivfpq_paths(state_dir)
    return (
        spark.read.parquet(cent_path),
        spark.read.parquet(codes_path).drop(BATCH),
        spark.read.parquet(cells_path).drop(BATCH),
    )


def probe_ivfpq_state(
    spark: SparkSession,
    state_dir: str,
    index,
    e: DataFrame,
    probe_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """Search the ingested IVFADC store: cell filter (partition pruning
    against the stored layout) → per-cell broadcast ADC LUTs → R_MAX-
    capped shortlist sized from the PROBED cells' sidecar count → exact
    re-rank of only the shortlisted raw vectors in ``e``."""
    from odl_etl_spark.operators.ann_index import ivfpq_probe, pq_r_pool

    cent, codes, _ = stored_ivfpq(spark, state_dir)
    cells = index.nearest_cells(probe_vec, nprobe=nprobe)
    n_probed = _ivfpq_count(spark, state_dir, cells=cells)
    return ivfpq_probe(
        codes, cent, e, probe_vec, index.centroids, cells,
        pq_r_pool(n_probed), k=k,
    )


def retrain_ivfpq_state(
    spark: SparkSession, state_dir: str, full_corpus_v: DataFrame, index
) -> None:
    """The staleness remedy ``ivfpq_index_append`` prescribes: re-assign
    the CURRENT corpus against the (fixed) centroids, retrain the
    residual codebook on it, re-encode everything, and fold all batches
    into ``_batch_id=-1``. All four artifacts are staged under the
    ``ivfpq/`` swap unit before the live dir is renamed away, so a crash
    can never persist a mixed new-codebook/old-codes (or
    re-assigned/old-encoded) state."""
    recover_torn_swap(state_dir, (_IVFPQ_SUB,))
    with staged_swap(os.path.join(state_dir, _IVFPQ_SUB)) as stage:
        _train_ivfpq(stage, full_corpus_v, index)
