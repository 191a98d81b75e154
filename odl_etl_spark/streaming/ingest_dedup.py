"""Streaming ingest + incremental near-dedup: the true-streaming
counterpart of the ``dedup_stream_ingest`` registry key
(queries/compose.py), the way ``streaming/cdc.py`` is the true-streaming
counterpart of ``stream_cdc_apply``.

Each ``foreachBatch`` micro-batch of arriving documents is MinHash-LSH
probed against everything indexed before it, then COMMITTED: its band
tuples append to a persisted index table and its rows to a persisted
docs store. Generalizes the reference's daily batch cadence
(mitodl/odl-etl mitx_etl.py:16-17, date-suffixed batches) to continuous
arrival with the LLM dedup tier attached.

Scale + correctness posture:

  * The band index is a REAL stored table (the ``_batch_id``-partitioned
    store of ``streaming/state.py``) — the corpus is banded once at
    bootstrap (``_batch_id = -1``), each batch is banded once on arrival,
    and no raw text is ever re-shingled for a later batch's probe
    (``operators/dedup.minhash_band_index`` + the probe's
    ``existing_index`` path). At 100 TB the index is ~16 small rows per
    document, re-partitionable by ``_band`` for probe-side pruning.
  * All three state writes (pairs, index, docs) are ``state.commit_batch``
    commits, so an at-least-once replay of a micro-batch rewrites its own
    partitions in place — the loop is replay-idempotent without a
    transaction log (same posture as ``streaming/cdc.py`` / the lake
    sink).
  * Emitted pairs are {(new, previously-indexed)} with batch
    provenance; intra-batch duplicates are by contract the in-batch
    ``dedup_near`` job's concern (see the ``dedup_stream_ingest``
    docstring).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from odl_etl_spark.operators.dedup import minhash_band_index, minhash_lsh_probe
from odl_etl_spark.streaming.state import (
    commit_batch,
    committed_before,
    fold_into_baseline,
    read_bootstrapped,
    read_or_none,
    recover_torn_swap,
    refuse_folding_tip,
    start_foreach_batch,
)

_DOC_COLS = ["doc_id", "text", "source"]
# The swap units, docs first: every multi-store write follows that order.
_STORES = ("docs", "index")


def bootstrap_corpus_index(
    corpus: DataFrame, state_dir: str, n: int = 3
) -> None:
    """Band the standing corpus ONCE and commit it as ``_batch_id=-1``
    of the index table (and the docs store). Idempotent: re-running
    overwrites the same partitions with identical rows."""
    index = minhash_band_index(corpus, "doc_id", "text", n=n)
    # docs FIRST, index LAST: ingest_dedup_stream gates auto-bootstrap on
    # the index artifact, so a crash between the two writes leaves a state
    # that re-runs bootstrap on restart instead of wedging every batch on
    # "not bootstrapped" (torn bootstrap is self-healing).
    commit_batch(corpus.select(*_DOC_COLS), os.path.join(state_dir, "docs"), -1)
    commit_batch(index, os.path.join(state_dir, "index"), -1)


def probe_and_commit_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    n: int = 3,
    threshold: float = 0.8,
) -> None:
    """foreachBatch handler: probe one micro-batch against the stored
    index, land its pairs, then commit its index rows and documents."""
    batch = batch_df.select(*_DOC_COLS)
    docs_path, index_path = (os.path.join(state_dir, s) for s in _STORES)
    docs, index = read_bootstrapped(
        batch_df.sparkSession,
        [docs_path, index_path],
        "bootstrap_corpus_index(corpus, state_dir)",
    )
    b_index = minhash_band_index(batch, "doc_id", "text", n=n)
    # A replay of batch_id must probe the same "before me" state.
    pairs = minhash_lsh_probe(
        batch,
        committed_before(docs, batch_id),
        "doc_id",
        "text",
        n=n,
        threshold=threshold,
        new_index=b_index,
        existing_index=committed_before(index, batch_id),
    )
    commit_batch(pairs, os.path.join(state_dir, "pairs"), batch_id)
    # Docs BEFORE index (the invariant operators/dedup.py's probe
    # assumes: every index row has a backing doc). A torn commit then
    # leaves "docs without index rows" — equivalent to the batch not yet
    # committed, fixed by replay — instead of "index rows without docs",
    # which the probe's verify joins would silently drop forever.
    commit_batch(batch, docs_path, batch_id)
    commit_batch(b_index, index_path, batch_id)


def ingest_dedup_stream(
    arrivals: DataFrame,
    corpus: DataFrame,
    state_dir: str,
    checkpoint: str,
    n: int = 3,
    threshold: float = 0.8,
    available_now: bool = True,
    fold_clusters: bool = False,
) -> StreamingQuery:
    """Run the ingest-dedup loop over a streaming DataFrame of arriving
    documents. Bootstraps the corpus index if absent, then each
    micro-batch probes + commits via ``probe_and_commit_batch``.

    ``fold_clusters=True`` additionally folds each batch's committed
    pairs into the standing duplicate-cluster store
    (``streaming/ingest_clusters.fold_pairs_into_clusters``) after the
    pair commit — the fully-online posture. Ordering matters: pairs
    first (the fold reads the committed store, never the in-flight
    DataFrame), fold second; a replay re-commits the pairs partition
    idempotently and the refold is convergent by the fold's own
    contract.

    A missing index dir is only treated as a torn BOOTSTRAP (safe to
    rebuild) after ``recover_torn_swap`` has ruled out a torn compaction
    swap AND the docs store holds nothing beyond the corpus partition —
    docs with committed batch partitions but no index is an inconsistent
    state a corpus-only re-bootstrap would silently paper over (every
    probe would miss duplicates against those batches), so it raises."""
    spark = arrivals.sparkSession
    recover_torn_swap(state_dir, _STORES)
    if read_or_none(spark, os.path.join(state_dir, "index")) is None:
        docs = read_or_none(spark, os.path.join(state_dir, "docs"))
        if docs is not None:
            latest = docs.agg(F.max("_batch_id")).head()[0]
            if latest is not None and latest > -1:
                raise RuntimeError(
                    f"ingest_dedup state at {state_dir!r} has committed docs "
                    f"through _batch_id={latest} but no index artifact; "
                    "re-bootstrapping would silently drop those batches from "
                    "every future probe. Restore the index (or delete the "
                    "docs store to intentionally start over)."
                )
        bootstrap_corpus_index(corpus, state_dir, n=n)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        probe_and_commit_batch(
            batch_df, batch_id, state_dir, n=n, threshold=threshold
        )
        if fold_clusters:
            from odl_etl_spark.streaming.ingest_clusters import (
                fold_pairs_into_clusters,
            )

            fold_pairs_into_clusters(
                batch_df.sparkSession, state_dir, upto_batch_id=batch_id
            )

    return start_foreach_batch(arrivals, handle, checkpoint, available_now)


def compact_state(
    spark: SparkSession, state_dir: str, upto_batch_id: int
) -> None:
    """Index maintenance: merge every index/docs partition with
    ``_batch_id <= upto_batch_id`` into the baseline partition
    (``_batch_id = -1``), bounding the partition count — at
    continuous-arrival cadence the one-partition-per-micro-batch layout
    is otherwise a small-files problem. The merged index rows are
    re-clustered by ``_band`` on the way in, the probe-side pruning
    layout the 100 TB note recommends, so a band-equality probe reads
    band-clustered files instead of hundreds of per-batch fragments.

    ``upto_batch_id`` must be STRICTLY older than the newest committed
    batch (``state.refuse_folding_tip``; ValueError otherwise). Both
    stores are validated BEFORE either is mutated, so a rejected call
    mutates nothing even when a torn commit left index/docs at different
    latest batches. Each store is folded through ``state.staged_swap``,
    docs first (the commit path's order, so there is one ordering to
    reason about), and ``recover_torn_swap`` — run here on entry and by
    ``ingest_dedup_stream`` on startup — completes or rolls back a torn
    swap. Stop the ingest stream before compacting: a concurrently
    running probe may race the swap window.

    The tips are rewritten, not hard-linked (``link_tip=False``): the
    index commits write ``_band``/``_bh`` as required parquet fields,
    and the stream-ingest benchmark workload (perfbench/workloads.py)
    reads the compacted index with pyarrow, which refuses files whose
    schemas differ in nullability."""
    recover_torn_swap(state_dir, _STORES)
    docs_path, index_path = (os.path.join(state_dir, s) for s in _STORES)
    for path in (docs_path, index_path):
        refuse_folding_tip(spark, path, upto_batch_id)
    fold_into_baseline(spark, docs_path, upto_batch_id, link_tip=False)
    fold_into_baseline(spark, index_path, upto_batch_id, "_band", link_tip=False)


def emitted_pairs(spark: SparkSession, state_dir: str) -> DataFrame:
    """All pairs landed so far, with their micro-batch provenance.

    Schema-pinned read: a micro-batch with zero near-dups writes no
    parquet files to its partition (dynamic overwrite of nothing), so
    until the first non-empty batch lands the pairs store has no footer
    to infer from — the explicit schema makes the empty state readable
    (same posture as operators/upsert.py's schema-pinned partition
    reads)."""
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("new_id", T.LongType()),
            T.StructField("ex_id", T.LongType()),
            T.StructField("jaccard", T.DoubleType()),
            T.StructField("_batch_id", T.IntegerType()),
        ]
    )
    return spark.read.schema(schema).parquet(os.path.join(state_dir, "pairs"))
