"""True Structured Streaming tests: micro-batch replay of the events
table through readStream, checked against the batch equivalents
(SURVEY §5.2 — streaming semantics have no SQL oracle, so the batch
DataFrame result IS the oracle here).
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
import pytest

from odl_etl_spark.io.sources import load_table
from odl_etl_spark.streaming.dedup import dedup_stream
from odl_etl_spark.streaming.source import events_stream
from odl_etl_spark.streaming.stateful import running_user_totals
from odl_etl_spark.streaming.windows import session_agg, sliding_agg, tumbling_agg


def _emitted_set(spark, state_dir, batch_offset=0):
    """Collected (batch, new_id, ex_id, jaccard4) set from the ingest-dedup
    pairs store, with jaccard rounded ENGINE-side (F.round, half-up) so it
    matches the `dedup_stream_ingest` key's roundn exactly — Python round()
    is banker's and would flake on an exact .5 tie at the 4th decimal."""
    from odl_etl_spark.streaming.ingest_dedup import emitted_pairs

    rows = (
        emitted_pairs(spark, state_dir)
        .select(
            (F.col("_batch_id") + batch_offset).alias("b"),
            "new_id",
            "ex_id",
            F.round("jaccard", 4).alias("j"),
        )
        .collect()
    )
    return {(r["b"], r["new_id"], r["ex_id"], r["j"]) for r in rows}


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Events replayed as 4 parquet files so maxFilesPerTrigger=1 yields
    4 ordered micro-batches (files are time-sliced, mimicking arrival)."""
    out = str(tmp_path_factory.mktemp("events_stream"))
    ev = load_table(spark, sf_dir, "events")
    slices = ev.select(
        "*", F.ntile(4).over(__import__("pyspark").sql.Window.orderBy("ts")).alias("_slice")
    )
    for i in range(1, 5):
        (
            slices.where(F.col("_slice") == i)
            .drop("_slice")
            .withColumn("ts", F.unix_micros("ts") * 1000)  # back to ns longs
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(os.path.join(out, f"_stage{i}"))
        )
        # move the part file into the stream dir with an ordered name
        stage = os.path.join(out, f"_stage{i}")
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(out, f"batch_{i}.parquet")
        shutil.move(os.path.join(stage, part), dst)
        # File source processes oldest-mtime first; pin in-order arrival.
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        shutil.rmtree(stage)
    return out


def _run_stream(df, query_name, mode="complete"):
    q = (
        df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def _rows(spark, name, cols):
    return sorted(
        tuple(r[c] for c in cols) for r in spark.sql(f"SELECT * FROM {name}").collect()
    )


def test_stream_tumbling_matches_batch(spark, sf_dir, events_dir):
    stream = events_stream(spark, events_dir, max_files_per_trigger=1)
    _run_stream(tumbling_agg(stream), "t_tumble")
    batch = tumbling_agg(load_table(spark, sf_dir, "events"))
    cols = ["window_start", "event_type", "n"]
    got = _rows(spark, "t_tumble", cols)
    want = sorted(tuple(r[c] for c in cols) for r in batch.collect())
    assert got == want


def test_stream_sliding_matches_batch(spark, sf_dir, events_dir):
    stream = events_stream(spark, events_dir, max_files_per_trigger=1)
    _run_stream(sliding_agg(stream), "t_slide")
    batch = sliding_agg(load_table(spark, sf_dir, "events"))
    cols = ["window_start", "event_type", "n"]
    assert _rows(spark, "t_slide", cols) == sorted(
        tuple(r[c] for c in cols) for r in batch.collect()
    )


def test_stream_session_matches_batch(spark, sf_dir, events_dir):
    stream = events_stream(spark, events_dir, max_files_per_trigger=1)
    _run_stream(session_agg(stream), "t_session")
    batch = session_agg(load_table(spark, sf_dir, "events"))
    cols = ["user_id", "session_start", "n_events"]
    assert _rows(spark, "t_session", cols) == sorted(
        tuple(r[c] for c in cols) for r in batch.collect()
    )


def test_stream_dedup_drops_cross_batch_duplicates(spark, events_dir, tmp_path):
    # Plant a duplicate of batch 1's data as a 5th file: every event_id
    # arrives twice across micro-batches.
    dup_dir = str(tmp_path / "dup_stream")
    os.makedirs(dup_dir)
    # Copy in batch order with strictly increasing mtimes: the file source
    # processes oldest-mtime first, and out-of-order arrival would (correctly)
    # drop whole batches as late — this test wants in-order arrival.
    names = sorted(os.listdir(events_dir)) + ["batch_1.parquet"]
    for i, f in enumerate(names):
        dst = os.path.join(
            dup_dir, f if i < len(names) - 1 else "batch_5_dup.parquet"
        )
        shutil.copy(os.path.join(events_dir, f), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    stream = events_stream(spark, dup_dir, max_files_per_trigger=1)
    _run_stream(dedup_stream(stream, keys=["event_id"]), "t_dedup", mode="append")
    n_out = spark.sql("SELECT COUNT(DISTINCT event_id) c FROM t_dedup").head()["c"]
    n_rows = spark.sql("SELECT COUNT(*) c FROM t_dedup").head()["c"]
    src = spark.read.parquet(dup_dir)
    assert n_rows == n_out == src.select("event_id").distinct().count()


def test_ann_ingest_stream_equals_rebuild_and_compacts(spark, sf_dir, tmp_path):
    """The vector-tier ingest loop (streaming/ingest_ann.py): bootstrap
    the corpus signatures, stream two arrival files through foreachBatch
    append-encode, and the committed store must equal a full rebuild
    bit-for-bit (fixed planes). Replaying a committed batch is a no-op;
    probing the ingested store returns the derive-in-query
    `sim_ann_hyperplane` result; compaction bounds partitions without
    changing the probe; the replayable tip refuses to fold."""
    import pyspark.sql.types as T

    from odl_etl_spark.operators.ann_index import hyperplane_index
    from odl_etl_spark.queries import registry
    from odl_etl_spark.queries.similarity import hyperplane_params
    from odl_etl_spark.streaming.ingest_ann import (
        append_and_commit_batch,
        compact_ann_state,
        ingest_ann_stream,
        probe_state,
        stored_index,
    )

    e = load_table(spark, sf_dir, "embeddings")
    hps, probe, pb = hyperplane_params(spark, sf_dir, 5)
    body = e.where(F.col("vec_id") != 0)
    corpus = body.where(F.col("vec_id") % 5 != 4)
    arrivals_dir = str(tmp_path / "arrivals")
    os.makedirs(arrivals_dir)
    for i, remmod in enumerate(((4, 10), (9, 10))):
        rem, mod = remmod
        stage = str(tmp_path / f"_stage{i}")
        (
            body.where(F.col("vec_id") % mod == rem)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(stage)
        )
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(arrivals_dir, f"batch_{i}.parquet")
        shutil.move(os.path.join(stage, part), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        shutil.rmtree(stage)

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    arrivals = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals_dir)
    )
    state = str(tmp_path / "state")
    q = ingest_ann_stream(
        arrivals, corpus, state, str(tmp_path / "ckpt"), hps, available_now=True
    )
    q.awaitTermination(300)

    def index_set():
        return {
            (r["_id"], r["bucket"]) for r in stored_index(spark, state).collect()
        }

    want = {
        (r["_id"], r["bucket"]) for r in hyperplane_index(body, hps).collect()
    }
    assert index_set() == want
    # At-least-once replay of batch 0: byte-identical state.
    b0 = spark.read.parquet(os.path.join(arrivals_dir, "batch_0.parquet"))
    append_and_commit_batch(b0, 0, state, hps)
    assert index_set() == want
    # Probe the ingested store == derive-in-query key.
    got = [
        tuple(r)
        for r in probe_state(spark, state, e, probe, pb, hps, radius=2, k=10).collect()
    ]
    key = [
        tuple(r)
        for r in registry()["sim_ann_hyperplane"].build(spark, sf_dir).collect()
    ]
    assert got == key
    # Compaction: tip refuses; folding batch 0 bounds partitions and
    # leaves the probe unchanged.
    with pytest.raises(ValueError, match="replayable tip"):
        compact_ann_state(spark, state, 1)

    def tip_inodes():
        d = os.path.join(state, "index", "_batch_id=1")
        return {
            fn: os.stat(os.path.join(d, fn)).st_ino
            for fn in os.listdir(d)
            if not fn.startswith(".")
        }

    inodes_before = tip_inodes()
    compact_ann_state(spark, state, 0)
    parts = {
        d
        for d in os.listdir(os.path.join(state, "index"))
        if d.startswith("_batch_id=")
    }
    assert parts == {"_batch_id=-1", "_batch_id=1"}
    # VERDICT r9 #5 pin: compaction re-encodes only the folded
    # partitions — the replayable tip is carried into the staged copy
    # as hard links (same inodes), never rewritten through Spark.
    assert tip_inodes() == inodes_before
    assert index_set() == want
    got2 = [
        tuple(r)
        for r in probe_state(spark, state, e, probe, pb, hps, radius=2, k=10).collect()
    ]
    assert got2 == key


def test_compaction_falls_back_to_copy_without_hardlinks(
    spark, tmp_path, monkeypatch
):
    """ADVICE r11 #2 pin: on filesystems without hard-link support
    (object-store FUSE mounts, some NFS), os.link raises OSError —
    compaction must degrade to a real copy of the replayable-tip
    partitions instead of failing, with the same staged-swap result."""
    import odl_etl_spark.streaming.ingest_ann as ia

    state = str(tmp_path / "state")
    path = os.path.join(state, "idx")
    df = spark.range(30).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("_batch_id"),
    )
    df.write.mode("overwrite").partitionBy("_batch_id").parquet(path)

    def no_link(src, dst, *a, **kw):
        raise OSError("hard links not supported")

    monkeypatch.setattr(ia.os, "link", no_link)
    ia._compact_batches(spark, state, "idx", 1, "k")
    after = spark.read.parquet(path)
    parts = {d for d in os.listdir(path) if d.startswith("_batch_id=")}
    assert parts == {"_batch_id=-1", "_batch_id=2"}
    assert {r["k"] for r in after.collect()} == set(range(30))
    # Tip partition intact under its own batch id, via the copy path.
    assert {r["k"] for r in after.where("_batch_id = 2").collect()} == {
        i for i in range(30) if i % 3 == 2
    }


def _write_arrival_batches(tmp_path, arrivals_dir, batch_dfs):
    """Materialize each DataFrame as ONE parquet file in arrival order
    (mtime-staggered so maxFilesPerTrigger=1 replays them as batches
    0..n-1 deterministically)."""
    os.makedirs(arrivals_dir)
    for i, bdf in enumerate(batch_dfs):
        stage = str(tmp_path / f"_stage_arr{i}")
        bdf.coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(arrivals_dir, f"batch_{i}.parquet")
        shutil.move(os.path.join(stage, part), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        shutil.rmtree(stage)


def test_ivf_ingest_stream_equals_rebuild_and_compacts(spark, sf_dir, tmp_path):
    """The IVF family through the vector-ingest loop: bootstrap the
    corpus cell assignments, stream two arrival files, and the committed
    store must equal a full-rebuild assignment (fixed centroids ⇒
    append ≡ rebuild). Replay is a no-op; probing the ingested store
    returns the derive-in-query `sim_ann_ivf` result; compaction
    re-clusters by cell_id without changing the probe; a store built
    under different centroids refuses the append."""
    import pyspark.sql.types as T

    from odl_etl_spark.operators.similarity import IvfIndex
    from odl_etl_spark.queries import registry
    from odl_etl_spark.streaming.ingest_ann import (
        compact_ivf_state,
        ingest_ivf_stream,
        ivf_append_and_commit,
        probe_ivf_state,
        stored_cells,
    )

    e = load_table(spark, sf_dir, "embeddings")
    probe = [float(x) for x in e.where(F.col("vec_id") == 0).head()["embedding"]]
    index = IvfIndex.build(e, n_cells=8)
    body = e.where(F.col("vec_id") != 0).select("vec_id", "embedding")
    corpus = body.where(F.col("vec_id") % 5 != 4)
    arrivals_dir = str(tmp_path / "arrivals")
    _write_arrival_batches(
        tmp_path,
        arrivals_dir,
        [
            body.where(F.col("vec_id") % 10 == 4),
            body.where(F.col("vec_id") % 10 == 9),
        ],
    )
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    arrivals = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals_dir)
    )
    state = str(tmp_path / "state")
    q = ingest_ivf_stream(
        arrivals, corpus, state, str(tmp_path / "ckpt"), index, available_now=True
    )
    q.awaitTermination(300)

    def cell_set():
        return {
            (r["vec_id"], r["cell_id"])
            for r in stored_cells(spark, state).collect()
        }

    want = {
        (r["vec_id"], r["cell_id"]) for r in index.assign(body).collect()
    }
    assert cell_set() == want
    # At-least-once replay of batch 0: byte-identical state.
    b0 = spark.read.parquet(os.path.join(arrivals_dir, "batch_0.parquet"))
    ivf_append_and_commit(b0, 0, state, index)
    assert cell_set() == want
    # Probe the ingested store == derive-in-query key.
    key = [
        tuple(r) for r in registry()["sim_ann_ivf"].build(spark, sf_dir).collect()
    ]
    got = [
        tuple(r)
        for r in probe_ivf_state(spark, state, index, probe, k=10, nprobe=2).collect()
    ]
    assert got == key
    # Appending under DIFFERENT centroids refuses (the stamp survives
    # the parquet round-trip).
    drifted = IvfIndex(
        [(cid, [v + 0.25 for v in cv]) for cid, cv in index.centroids]
    )
    with pytest.raises(ValueError, match="DIFFERENT centroid"):
        ivf_append_and_commit(b0, 0, state, drifted)
    # Compaction: tip refuses; folding batch 0 leaves the probe unchanged.
    with pytest.raises(ValueError, match="replayable tip"):
        compact_ivf_state(spark, state, 1)
    compact_ivf_state(spark, state, 0)
    parts = {
        d
        for d in os.listdir(os.path.join(state, "cells"))
        if d.startswith("_batch_id=")
    }
    assert parts == {"_batch_id=-1", "_batch_id=1"}
    assert cell_set() == want
    got2 = [
        tuple(r)
        for r in probe_ivf_state(spark, state, index, probe, k=10, nprobe=2).collect()
    ]
    assert got2 == key


def test_pq_ingest_stream_appends_refuses_stale_and_retrains(
    spark, sf_dir, tmp_path
):
    """The PQ family through the vector-ingest loop: bootstrap trains the
    codebook (train-stamped) on the standing corpus, two arrival batches
    append-encode against the STORED codebook, and the committed codes
    must equal re-encoding the enlarged corpus against that same codebook
    (append ≡ re-encode). Replay is a no-op; a batch that would drift the
    corpus past the staleness threshold refuses with the retrain
    instruction; `retrain_pq_state` then re-trains on the full corpus,
    after which the probe equals the derive-in-query `sim_ann_pq` key."""
    import pyspark.sql.types as T

    from odl_etl_spark.operators.ann_index import pq_encode, pq_explode
    from odl_etl_spark.queries import registry
    from odl_etl_spark.streaming.ingest_ann import (
        ingest_pq_stream,
        pq_append_and_commit,
        probe_pq_state,
        retrain_pq_state,
        stored_pq,
    )

    e = load_table(spark, sf_dir, "embeddings")
    probe = [float(x) for x in e.where(F.col("vec_id") == 0).head()["embedding"]]
    e_v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    body = e_v.where(F.col("vec_id") != 0)
    corpus = body.where(F.col("vec_id") % 5 != 4)
    arrivals_dir = str(tmp_path / "arrivals")
    _write_arrival_batches(
        tmp_path,
        arrivals_dir,
        [
            body.where(F.col("vec_id") % 10 == 4),
            body.where(F.col("vec_id") % 10 == 9),
        ],
    )
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("v", T.ArrayType(T.DoubleType())),
        ]
    )
    arrivals = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals_dir)
    )
    state = str(tmp_path / "state")
    q = ingest_pq_stream(
        arrivals, corpus, state, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(300)

    cent, codes = stored_pq(spark, state)

    def code_set():
        return {
            (r["vec_id"], r["sub"], r["code"])
            for r in stored_pq(spark, state)[1].collect()
        }

    # append ≡ re-encoding the ENLARGED corpus against the SAME (stored)
    # codebook — the codebook is the bootstrap-trained one, by design.
    want = {
        (r["vec_id"], r["sub"], r["code"])
        for r in pq_encode(pq_explode(body), cent).collect()
    }
    assert code_set() == want
    # At-least-once replay of batch 0: byte-identical state (and the
    # staleness count must not double-count the replayed partition).
    b0 = spark.read.parquet(os.path.join(arrivals_dir, "batch_0.parquet"))
    pq_append_and_commit(b0, 0, state)
    assert code_set() == want
    # A batch that would drift the corpus past 50% of the stamped
    # training size refuses the stream's commit path loudly.
    huge = body.select((F.col("vec_id") + 2_000_000).alias("vec_id"), "v")
    with pytest.raises(ValueError, match="staleness"):
        pq_append_and_commit(huge, 2, state)
    # The remedy: retrain on the CURRENT corpus. Trained on the full
    # embeddings frame (probe row included — the `sim_ann_pq` training
    # convention), the stored pair now matches the derive-in-query key.
    retrain_pq_state(spark, state, e_v)
    parts = {
        d
        for d in os.listdir(os.path.join(state, "pq", "codes"))
        if d.startswith("_batch_id=")
    }
    assert parts == {"_batch_id=-1"}
    key = [
        tuple(r) for r in registry()["sim_ann_pq"].build(spark, sf_dir).collect()
    ]
    got = [
        tuple(r) for r in probe_pq_state(spark, state, e_v, probe, k=10).collect()
    ]
    assert got == key


def test_pq_torn_retrain_swap_never_mixes_codebook_and_codes(
    spark, sf_dir, tmp_path, monkeypatch
):
    """`retrain_pq_state` rewrites BOTH cross-dependent artifacts
    (codebook + codes), so its swap unit is the parent `pq/` dir: a
    crash inside the two-rename window must recover to the WHOLE staged
    pair (or the whole old pair) — never a new-codebook/old-codes mix,
    which would silently corrupt every ADC score."""
    from odl_etl_spark.streaming.ingest_dedup import recover_torn_swap
    from odl_etl_spark.streaming.ingest_ann import (
        bootstrap_pq_state,
        pq_append_and_commit,
        retrain_pq_state,
        stored_pq,
    )

    e = load_table(spark, sf_dir, "embeddings")
    e_v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    body = e_v.where(F.col("vec_id") != 0)
    corpus = body.where(F.col("vec_id") % 5 != 4)
    batch = body.where(F.col("vec_id") % 5 == 4)

    def pair_set(state):
        cent, codes = stored_pq(spark, state)
        return (
            {tuple(r) for r in cent.collect()},
            {(r["vec_id"], r["sub"], r["code"]) for r in codes.collect()},
        )

    # Clean reference: bootstrap, commit a batch, retrain on the full
    # corpus.
    clean = str(tmp_path / "clean")
    bootstrap_pq_state(corpus, clean)
    pq_append_and_commit(batch, 0, clean)
    retrain_pq_state(spark, clean, e_v)
    want = pair_set(clean)

    # Crashed run: same history, but the retrain dies between
    # rename(pq, pq_old) and rename(pq_compacting, pq) — the window
    # where the live dir is absent and the complete staged pair exists.
    crashed = str(tmp_path / "crashed")
    bootstrap_pq_state(corpus, crashed)
    pq_append_and_commit(batch, 0, crashed)
    real_rename = os.rename
    calls = {"n": 0}

    def crashing_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError("simulated crash mid-swap")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crashing_rename)
    with pytest.raises(OSError, match="simulated crash"):
        retrain_pq_state(spark, crashed, e_v)
    monkeypatch.setattr(os, "rename", real_rename)
    assert not os.path.exists(os.path.join(crashed, "pq"))
    assert os.path.exists(os.path.join(crashed, "pq_old"))
    assert os.path.exists(os.path.join(crashed, "pq_compacting"))

    # Stream-startup recovery (the ingest loop's first call) rolls the
    # WHOLE pair forward to the staged retrain — codebook AND codes.
    recover_torn_swap(crashed, subs=("pq",))
    assert pair_set(crashed) == want
    assert not os.path.exists(os.path.join(crashed, "pq_old"))
    assert not os.path.exists(os.path.join(crashed, "pq_compacting"))


def test_stateful_running_totals_matches_batch_key(spark, sf_dir, tmp_path):
    """The true applyInPandasWithState stream, replayed over the SAME
    4-slice arrival order the `stream_running_totals` key simulates
    (exact NTILE over (ts, event_id)), must emit EXACTLY the key's rows:
    the memory sink's update history is the per-batch cumulative state.
    This ties the driver-oracled batch form to the stateful streaming
    path — the oracle hash check covers the replay, this pin carries it
    onto the state-store operator."""
    from pyspark.sql import Window as W

    from odl_etl_spark.queries import registry
    from odl_etl_spark.streaming.stateful import running_user_totals

    ev = load_table(spark, sf_dir, "events")
    sliced = ev.select(
        "*", F.ntile(4).over(W.orderBy("ts", "event_id")).alias("_slice")
    )
    out = str(tmp_path / "slices")
    os.makedirs(out)
    for i in range(1, 5):
        stage = str(tmp_path / f"_stage{i}")
        (
            sliced.where(F.col("_slice") == i)
            .drop("_slice")
            .withColumn("ts", F.unix_micros("ts") * 1000)  # ns longs
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(stage)
        )
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(out, f"batch_{i}.parquet")
        shutil.move(os.path.join(stage, part), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        shutil.rmtree(stage)
    stream = events_stream(spark, out, max_files_per_trigger=1)
    _run_stream(running_user_totals(stream), "t_srt_tie", mode="update")
    from odl_etl_spark.functions.numeric import roundn

    # Engine-side rounding (same roundn the key uses) — Python round()
    # is banker's and would flake on an exact .5 tie (ADVICE r7 #4).
    streamed = {
        (r["user_id"], r["n_events"], r["tv"])
        for r in spark.table("t_srt_tie")
        .select("user_id", "n_events", roundn(F.col("total_value"), 2).alias("tv"))
        .collect()
    }
    key_rows = {
        (r["user_id"], r["n_events"], r["total_value"])
        for r in registry()["stream_running_totals"].build(spark, sf_dir).collect()
    }
    assert streamed == key_rows
    assert streamed  # every batch emits rows


def test_stateful_null_values_do_not_corrupt_state():
    """ADVICE r11 #1 pin: np.sign(NaN).astype('int64') is INT64_MIN, so
    one null/NaN `value` row used to turn the running cents into garbage
    forever. The handler must match the driver-oracled batch twin's
    semantics — COUNT(*) counts the row, SUM skips the null — and the
    state must stay sane for subsequent micro-batches."""
    import pandas as pd

    from odl_etl_spark.streaming.stateful import _update_running

    class FakeState:
        exists = False

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    st = FakeState()
    pdf = pd.DataFrame({"value": [1.25, None, float("nan"), -2.50]})
    [out] = list(_update_running((7,), iter([pdf]), st))
    assert out["n_events"].iloc[0] == 4  # COUNT(*) counts the null row
    assert out["total_value"].iloc[0] == -1.25  # 125 - 250 cents; nulls skipped
    # Second micro-batch continues from uncorrupted state.
    [out2] = list(
        _update_running((7,), iter([pd.DataFrame({"value": [0.75]})]), st)
    )
    assert out2["n_events"].iloc[0] == 5
    assert out2["total_value"].iloc[0] == -0.50


def test_stateful_running_totals_accumulate(spark, events_dir):
    stream = events_stream(spark, events_dir, max_files_per_trigger=1)
    _run_stream(running_user_totals(stream), "t_state", mode="update")
    # The memory sink keeps every update; the max n_events per user must
    # equal the true total count (state accumulated across micro-batches).
    got = {
        r["user_id"]: r["mx"]
        for r in spark.sql(
            "SELECT user_id, MAX(n_events) mx FROM t_state GROUP BY user_id"
        ).collect()
    }
    want = {
        r["user_id"]: r["c"]
        for r in spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    assert got == want


def test_watermark_drops_late_window_data(spark, tmp_path):
    """An event older than watermark behind the stream's max ts must not
    create/ revise an append-mode window after it has been finalized."""
    import pandas as pd

    d = str(tmp_path / "late")
    os.makedirs(d)

    def write_batch(name, rows):
        pdf = pd.DataFrame(
            rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
        )
        pdf.to_parquet(os.path.join(d, name))

    base = 1_700_000_000 * 10**9  # ns epoch
    hour = 3600 * 10**9
    cp = str(tmp_path / "cp")  # shared checkpoint: watermark survives restarts
    # batch 1: events in hour 0 and hour 5 (watermark jumps far ahead)
    write_batch(
        "b1.parquet",
        [
            (1, base + 10, 1, "click", 1.0, "{}"),
            (2, base + 5 * hour, 1, "click", 1.0, "{}"),
        ],
    )
    stream = events_stream(spark, d, max_files_per_trigger=1)
    agg = tumbling_agg(stream, watermark="1 hour")

    out = str(tmp_path / "out")

    def run():
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)  # memory sink can't recover; file sink can
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    # batch 2: a late event back in hour 0 — beyond the 1h watermark,
    # which the restarted query restores from the checkpoint.
    write_batch("b2.parquet", [(3, base + 20, 1, "click", 1.0, "{}")])
    run()
    rows = spark.read.parquet(out).collect()
    # The hour-0 window is finalized with n=1; the late event must neither
    # revise it (no n=2 row) nor re-emit it (no duplicate window rows).
    assert all(r["n"] == 1 for r in rows)
    starts = [r["window_start"] for r in rows]
    assert len(starts) == len(set(starts))


def test_stream_static_enrichment_join(spark, sf_dir, events_dir):
    """Stream-static join: each micro-batch enriches against a static dim
    (re-read per batch in real deployments; broadcast-sized here)."""
    from odl_etl_spark.io.sources import load_table

    users = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .withColumn("tier", F.when(F.col("user_id") % 2 == 0, "even").otherwise("odd"))
    )
    stream = events_stream(spark, events_dir, max_files_per_trigger=1)
    enriched = stream.join(users, "user_id").groupBy("tier").count()
    q = (
        enriched.writeStream.format("memory")
        .queryName("t_enrich")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["tier"]: r["count"] for r in spark.sql("SELECT * FROM t_enrich").collect()}
    want = {
        r["tier"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .join(users, "user_id")
        .groupBy("tier")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, events_dir):
    """Purchases joined to same-user clicks within the trailing 30 min —
    stream-stream with event-time bounds vs the identical batch theta join."""
    from odl_etl_spark.io.sources import load_table
    from odl_etl_spark.streaming.joins import interval_join

    def purchases(df):
        return df.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")

    def clicks(df):
        return df.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")

    stream = events_stream(spark, events_dir, max_files_per_trigger=1)
    joined = interval_join(
        purchases(stream), clicks(stream), key="user_id", within="30 minutes"
    ).select("event_id", "event_id_r")
    q = (
        joined.writeStream.format("memory")
        .queryName("t_ssjoin")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        (r["event_id"], r["event_id_r"])
        for r in spark.sql("SELECT * FROM t_ssjoin").collect()
    )
    ev = load_table(spark, sf_dir, "events")
    want = sorted(
        (r["event_id"], r["event_id_r"])
        for r in interval_join(
            purchases(ev), clicks(ev), key="user_id", within="30 minutes"
        ).select("event_id", "event_id_r").collect()
    )
    assert got == want and len(got) > 0


def test_stream_to_partitioned_lake(spark, sf_dir, events_dir, tmp_path):
    """foreachBatch lake sink: streamed events land date-partitioned and
    row-complete; a restart with the same checkpoint appends nothing new."""
    from odl_etl_spark.io.sources import load_table
    from odl_etl_spark.streaming.sink import stream_to_partitioned_parquet

    out, cp = str(tmp_path / "lake"), str(tmp_path / "cp")
    stream = events_stream(spark, events_dir, max_files_per_trigger=1)
    q = stream_to_partitioned_parquet(stream, out, cp)
    q.awaitTermination(180)
    lake = spark.read.parquet(out)
    ev = load_table(spark, sf_dir, "events")
    assert lake.count() == ev.count()
    assert lake.select("ds").distinct().count() == ev.select(
        F.date_format("ts", "yyyyMMdd")
    ).distinct().count()
    # Restart with same checkpoint: no new input files -> no duplicate rows.
    q2 = stream_to_partitioned_parquet(
        events_stream(spark, events_dir, max_files_per_trigger=1), out, cp
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == ev.count()


def test_micro_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-landing the same batch_id must
    rewrite, not duplicate; a *new* batch_id still appends."""
    from odl_etl_spark.streaming.sink import write_micro_batch

    out = str(tmp_path / "lake_idem")
    batch = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-02 11:00:00")], "id long, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    write_micro_batch(batch, 7, out)
    write_micro_batch(batch, 7, out)  # replay of a failed/retried batch
    assert spark.read.parquet(out).count() == 2
    write_micro_batch(batch.where("id = 1"), 8, out)  # genuinely new batch
    assert spark.read.parquet(out).count() == 3


def test_stream_cdc_apply_matches_batch(spark, sf_dir, events_dir, tmp_path):
    """Replaying the event stream through the foreachBatch CDC MERGE
    must materialize exactly the batch stream_cdc_apply result."""
    from odl_etl_spark.queries import registry
    from odl_etl_spark.streaming.cdc import cdc_apply_stream, current_state

    state = str(tmp_path / "cdc_state")
    stream = events_stream(spark, events_dir, max_files_per_trigger=1)
    q = cdc_apply_stream(stream, state, str(tmp_path / "cdc_ckpt"))
    q.awaitTermination(180)

    got = sorted(
        (r.user_id, r.event_id, r.event_type, round(r.value * 100) / 100,
         r.ts)
        for r in current_state(spark, state).collect()
    )
    want = sorted(
        (r.user_id, r.last_event_id, r.last_type, r.last_value, r.updated_us)
        for r in registry()["stream_cdc_apply"].build(spark, sf_dir).collect()
    )
    assert [g[:4] for g in got] == [w[:4] for w in want]
    # ts in state is the µs-normalized timestamp; batch emits unix µs.
    import datetime as _dt

    got_us = [int(g[4].replace(tzinfo=_dt.timezone.utc).timestamp() * 1_000_000)
              for g in got]
    assert got_us == [w[4] for w in want]


def test_cdc_tombstone_blocks_late_resurrection(spark, tmp_path):
    """A retained tombstone must win over a later-arriving OLDER record
    (Kafka-compaction semantics), and the merge must be idempotent
    under batch replay."""
    from odl_etl_spark.streaming.cdc import current_state, merge_cdc_batch

    state = str(tmp_path / "cdc_state2")
    schema = "user_id long, event_id long, event_type string, value double, ts string"
    b1 = spark.createDataFrame(
        [(1, 10, "purchase", 5.0, "2024-01-01 10:00:00"),
         (2, 11, "error", 0.0, "2024-01-01 11:00:00")], schema
    ).withColumn("ts", F.to_timestamp("ts"))
    merge_cdc_batch(b1, state)
    # user 2's tombstone is newer than this late record: must NOT resurrect.
    b2 = spark.createDataFrame(
        [(2, 9, "view", 1.0, "2024-01-01 09:00:00"),
         (3, 12, "signup", 2.0, "2024-01-01 12:00:00")], schema
    ).withColumn("ts", F.to_timestamp("ts"))
    merge_cdc_batch(b2, state)
    merge_cdc_batch(b2, state)  # at-least-once replay: same result
    live = {r.user_id: r.event_id for r in current_state(spark, state).collect()}
    assert live == {1: 10, 3: 12}
    # the tombstone row itself is retained in raw state
    raw = {r.user_id: r.event_type for r in spark.read.parquet(state).collect()}
    assert raw[2] == "error"


def test_streaming_agg_under_rocksdb_state_store(spark, sf_dir, events_dir):
    """The production state backend: the tumbling aggregation replays
    identically under RocksDBStateStoreProvider (spillable, incremental-
    checkpoint state) — the backend a 100 TB streaming job would run
    with, vs the default in-memory HDFS-backed provider."""
    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        stream = events_stream(spark, events_dir, max_files_per_trigger=1)
        q = _run_stream(tumbling_agg(stream), "rocksdb_tumbling")
        got = _rows(spark, "rocksdb_tumbling", ["window_start", "event_type", "n"])
        # RocksDB actually engaged: its custom metrics appear in progress.
        ops = (q.lastProgress or {}).get("stateOperators", [])
        assert ops and any("rocksdb" in k.lower() for k in ops[0].get("customMetrics", {}))
    finally:
        spark.conf.set(key, prev)
    want = sorted(
        (r["window_start"], r["event_type"], r["n"])
        for r in tumbling_agg(load_table(spark, sf_dir, "events")).collect()
    )
    assert got == want


def test_transform_with_state_matches_apply_in_pandas_with_state(
    spark, sf_dir, events_dir
):
    """The Spark 4 transformWithState processor must accumulate the same
    final per-user totals as the applyInPandasWithState path and the
    plain batch aggregate. Requires protobuf (the transformWithState
    state protocol) — skipped with reason where it is not installed;
    the applyInPandasWithState path above covers stateful semantics
    in that environment."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState state protocol needs protobuf "
        "(not shipped in this harness)",
    )
    from odl_etl_spark.streaming.stateful import running_user_totals_tws

    stream = events_stream(spark, events_dir, max_files_per_trigger=1)
    _run_stream(running_user_totals_tws(stream), "t_tws", mode="update")
    final = {}
    for r in spark.sql("SELECT * FROM t_tws").collect():
        # memory sink keeps every update; the max n_events row per user
        # is the final state.
        cur = final.get(r.user_id)
        if cur is None or r.n_events > cur[0]:
            final[r.user_id] = (r.n_events, round(r.total_value, 2))
    batch = {
        r.user_id: (r.n, round(r.s, 2))
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert final == batch


def test_stream_ingest_dedup_matches_batch_key(spark, sf_dir, tmp_path):
    """Replaying the day's documents through the foreachBatch
    ingest-dedup loop (persisted band index + docs store, dynamic
    partition overwrite per batch) must emit exactly the
    `dedup_stream_ingest` registry key's pair set, and replaying an
    already-committed micro-batch must be a no-op (at-least-once
    safety: the replay probes the same 'before me' state and
    overwrites its own partitions in place)."""
    import pyspark.sql.types as T

    from odl_etl_spark.queries import registry
    from odl_etl_spark.streaming.ingest_dedup import (
        emitted_pairs,
        ingest_dedup_stream,
        probe_and_commit_batch,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    corpus = docs.where(F.col("source") != "src1")
    arrivals_dir = str(tmp_path / "arrivals")
    os.makedirs(arrivals_dir)
    # One file per scripted micro-batch (doc_id % 3), mtime-ordered so
    # the file source delivers them as ordered batches 0, 1, 2.
    for i in range(3):
        stage = str(tmp_path / f"_stage{i}")
        (
            docs.where((F.col("source") == "src1") & (F.col("doc_id") % 3 == i))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(stage)
        )
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(arrivals_dir, f"batch_{i}.parquet")
        shutil.move(os.path.join(stage, part), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        shutil.rmtree(stage)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("source", T.StringType()),
        ]
    )
    arrivals = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals_dir)
    )
    state = str(tmp_path / "state")
    q = ingest_dedup_stream(
        arrivals, corpus, state, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(300)

    streamed = _emitted_set(spark, state, batch_offset=1)
    batch = {
        (r["batch"], r["new_id"], r["ex_id"], r["jaccard"])
        for r in registry()["dedup_stream_ingest"].build(spark, sf_dir).collect()
    }
    assert streamed == batch
    assert streamed  # fixtures plant cross-batch near-dups

    # At-least-once replay of the final micro-batch: identical state.
    last = spark.read.parquet(os.path.join(arrivals_dir, "batch_2.parquet"))
    probe_and_commit_batch(last, 2, state)
    replayed = _emitted_set(spark, state, batch_offset=1)
    assert replayed == streamed


def test_stream_ingest_dedup_resumes_across_restarts(spark, sf_dir, tmp_path):
    """Daily-ingest reality: the stream STOPS between days. Drain days
    0+1 with availableNow, stop, then land day 2's file and restart on
    the same checkpoint — only the new file is processed (the committed
    index and pairs for days 0/1 are untouched), and the final state
    equals the all-at-once `dedup_stream_ingest` key."""
    import pyspark.sql.types as T

    from odl_etl_spark.queries import registry
    from odl_etl_spark.streaming.ingest_dedup import (
        emitted_pairs,
        ingest_dedup_stream,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    corpus = docs.where(F.col("source") != "src1")
    arrivals_dir = str(tmp_path / "arrivals")
    os.makedirs(arrivals_dir)

    def land(i):
        stage = str(tmp_path / f"_stage{i}")
        (
            docs.where((F.col("source") == "src1") & (F.col("doc_id") % 3 == i))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(stage)
        )
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(arrivals_dir, f"batch_{i}.parquet")
        shutil.move(os.path.join(stage, part), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        shutil.rmtree(stage)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("source", T.StringType()),
        ]
    )

    def run_drain():
        arrivals = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(arrivals_dir)
        )
        q = ingest_dedup_stream(
            arrivals, corpus, str(tmp_path / "state"), str(tmp_path / "ckpt"),
            available_now=True,
        )
        q.awaitTermination(300)

    land(0)
    land(1)
    run_drain()  # days 0 and 1
    day1 = {
        (r["_batch_id"], r["new_id"], r["ex_id"])
        for r in emitted_pairs(spark, str(tmp_path / "state")).collect()
    }
    assert {b for b, _, _ in day1} <= {0, 1}

    land(2)
    run_drain()  # restart on the same checkpoint: only day 2 is new
    final = _emitted_set(spark, str(tmp_path / "state"), batch_offset=1)
    # Days 0/1's landed pairs are byte-stable across the restart.
    assert {(b, n, e) for b, n, e, _ in final if b - 1 in (0, 1)} == day1
    batch = {
        (r["batch"], r["new_id"], r["ex_id"], r["jaccard"])
        for r in registry()["dedup_stream_ingest"].build(spark, sf_dir).collect()
    }
    assert final == batch


def test_stream_ingest_dedup_survives_partial_commit(spark, sf_dir, tmp_path):
    """Crash-recovery: the handler lands pairs BEFORE committing the
    batch's index/docs partitions. A crash in that gap leaves pairs for
    a batch whose index never committed; on replay the handler excludes
    its own _batch_id from the 'before me' state, so it probes the same
    pre-crash view, overwrites its pairs byte-identically, and then
    commits — the loop converges to the clean-run state with no
    transaction log."""
    from odl_etl_spark.streaming.ingest_dedup import (
        bootstrap_corpus_index,
        emitted_pairs,
        probe_and_commit_batch,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    corpus = docs.where(F.col("source") != "src1")
    batches = [
        docs.where((F.col("source") == "src1") & (F.col("doc_id") % 3 == i))
        for i in range(3)
    ]

    def run(state):
        bootstrap_corpus_index(corpus, state)
        for i, b in enumerate(batches):
            probe_and_commit_batch(b, i, state)
        return _emitted_set(spark, state)

    clean = run(str(tmp_path / "clean"))

    crashed = str(tmp_path / "crashed")
    bootstrap_corpus_index(corpus, crashed)
    probe_and_commit_batch(batches[0], 0, crashed)
    # Simulate the crash window for batch 1: pairs landed, index/docs
    # commit lost. Re-running the full handler must converge.
    probe_and_commit_batch(batches[1], 1, crashed)
    for sub in ("index", "docs"):
        shutil.rmtree(os.path.join(crashed, sub, "_batch_id=1"))
    probe_and_commit_batch(batches[1], 1, crashed)  # replay after crash
    probe_and_commit_batch(batches[2], 2, crashed)
    recovered = _emitted_set(spark, crashed)
    assert recovered == clean


def test_stream_ingest_commits_are_dynamic_overwrite_not_truncate(
    spark, sf_dir, tmp_path
):
    """ADVICE r7 (medium): every state commit must set
    partitionOverwriteMode=dynamic PER WRITE. Under Spark's default
    STATIC mode a batch commit would truncate the whole table to that
    batch's partition — silently destroying the corpus index
    (_batch_id=-1) and all prior batches. Pin it by forcing the session
    conf to static and checking earlier partitions survive a commit."""
    from odl_etl_spark.streaming.ingest_dedup import (
        bootstrap_corpus_index,
        probe_and_commit_batch,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    corpus = docs.where(F.col("source") != "src1")
    batches = [
        docs.where((F.col("source") == "src1") & (F.col("doc_id") % 3 == i))
        for i in range(2)
    ]
    state = str(tmp_path / "state")
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "static")
    try:
        bootstrap_corpus_index(corpus, state)
        probe_and_commit_batch(batches[0], 0, state)
        probe_and_commit_batch(batches[1], 1, state)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    index = spark.read.parquet(os.path.join(state, "index"))
    got = {r["_batch_id"] for r in index.select("_batch_id").distinct().collect()}
    assert got == {-1, 0, 1}  # corpus partition survived both commits
    docs_store = spark.read.parquet(os.path.join(state, "docs"))
    got_docs = {
        r["_batch_id"] for r in docs_store.select("_batch_id").distinct().collect()
    }
    assert got_docs == {-1, 0, 1}


def test_stream_ingest_torn_bootstrap_self_heals(spark, sf_dir, tmp_path):
    """ADVICE r7: bootstrap writes docs FIRST, index LAST, and the
    stream gates auto-bootstrap on the index artifact — so a crash
    between the two writes (docs present, index absent) re-runs
    bootstrap on restart instead of wedging every micro-batch on
    'not bootstrapped'."""
    import pyspark.sql.types as T

    from odl_etl_spark.streaming.ingest_dedup import (
        bootstrap_corpus_index,
        ingest_dedup_stream,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    corpus = docs.where(F.col("source") != "src1")
    state = str(tmp_path / "state")
    bootstrap_corpus_index(corpus, state)
    # Simulate the torn-bootstrap crash window: the LAST artifact
    # (index) never landed.
    shutil.rmtree(os.path.join(state, "index"))

    arrivals_dir = str(tmp_path / "arrivals")
    os.makedirs(arrivals_dir)
    stage = str(tmp_path / "_stage")
    docs.where(F.col("source") == "src1").coalesce(1).write.mode(
        "overwrite"
    ).parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    shutil.move(os.path.join(stage, part), os.path.join(arrivals_dir, "b0.parquet"))

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("source", T.StringType()),
        ]
    )
    arrivals = spark.readStream.schema(schema).parquet(arrivals_dir)
    q = ingest_dedup_stream(
        arrivals, corpus, state, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(300)  # re-bootstraps, then processes the batch
    index = spark.read.parquet(os.path.join(state, "index"))
    got = {r["_batch_id"] for r in index.select("_batch_id").distinct().collect()}
    assert -1 in got and 0 in got


def test_stream_ingest_compaction_preserves_probe_and_bounds_partitions(
    spark, sf_dir, tmp_path
):
    """VERDICT r7 #5: compact_state folds fully-committed batches into
    the _batch_id=-1 baseline (band-clustered), bounding the
    one-partition-per-micro-batch growth. Post-compaction: (a) the
    partition count is bounded, (b) a NEW batch's probe emits exactly
    the pairs it would have against the uncompacted state, (c) replay
    of the (uncompacted) tip still converges, and (d) folding the
    replayable tip itself is refused."""
    import pytest

    from odl_etl_spark.streaming.ingest_dedup import (
        bootstrap_corpus_index,
        compact_state,
        probe_and_commit_batch,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    corpus = docs.where(F.col("source") != "src1")
    batches = [
        docs.where((F.col("source") == "src1") & (F.col("doc_id") % 3 == i))
        for i in range(3)
    ]

    def ingest(state, upto):
        bootstrap_corpus_index(corpus, state)
        for i, b in enumerate(batches[:upto]):
            probe_and_commit_batch(b, i, state)

    plain = str(tmp_path / "plain")
    ingest(plain, 3)
    want = _emitted_set(spark, plain)

    compacted = str(tmp_path / "compacted")
    ingest(compacted, 2)  # batches 0,1 committed; tip is 1
    with pytest.raises(ValueError, match="replayable tip"):
        compact_state(spark, compacted, 1)
    compact_state(spark, compacted, 0)  # fold corpus + batch 0
    idx_parts = {
        d
        for d in os.listdir(os.path.join(compacted, "index"))
        if d.startswith("_batch_id=")
    }
    assert idx_parts == {"_batch_id=-1", "_batch_id=1"}  # bounded
    # Tip replay after compaction: batch 1 excludes its own partition,
    # sees corpus+batch0 (now all in -1), converges byte-stable.
    probe_and_commit_batch(batches[1], 1, compacted)
    # New batch probes the compacted state: identical pair emission.
    probe_and_commit_batch(batches[2], 2, compacted)
    got = _emitted_set(spark, compacted)
    assert got == want
    docs_parts = {
        d
        for d in os.listdir(os.path.join(compacted, "docs"))
        if d.startswith("_batch_id=")
    }
    assert docs_parts == {"_batch_id=-1", "_batch_id=1", "_batch_id=2"}


def test_stream_ingest_torn_compaction_swap_recovers_not_rebootstraps(
    spark, sf_dir, tmp_path, monkeypatch
):
    """ADVICE r8 #2: compact_state's crash window (live dir renamed to
    _old, staged copy not yet renamed in) leaves the index dir ABSENT
    with all committed data intact next to it. A stream restart must
    COMPLETE the swap — not mistake the state for a fresh bootstrap and
    rebuild a corpus-only index, which would silently drop every
    committed batch's rows from all future probes."""
    import pyspark.sql.types as T

    from odl_etl_spark.streaming.ingest_dedup import (
        bootstrap_corpus_index,
        compact_state,
        ingest_dedup_stream,
        probe_and_commit_batch,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    corpus = docs.where(F.col("source") != "src1")
    batches = [
        docs.where((F.col("source") == "src1") & (F.col("doc_id") % 3 == i))
        for i in range(3)
    ]

    # Pre-crash commits use batch ids 10/11 so the RESTARTED stream's
    # fresh checkpoint (foreachBatch ids restart at 0) cannot collide
    # with — and replay-overwrite — an already-committed partition.
    def ingest(state):
        bootstrap_corpus_index(corpus, state)
        for i, b in zip((10, 11), batches[:2]):
            probe_and_commit_batch(b, i, state)

    # Clean reference: compaction succeeds, then batch 2 arrives (id 0,
    # matching the restarted stream's first batch id).
    clean = str(tmp_path / "clean")
    ingest(clean)
    compact_state(spark, clean, 10)
    probe_and_commit_batch(batches[2], 0, clean)
    want = _emitted_set(spark, clean)

    # Crashed run: kill compact_state mid-swap on the SECOND store
    # (docs fully swapped; index renamed away but staged copy not yet
    # renamed in — renames go path->_old, _compacting->path per store).
    crashed = str(tmp_path / "crashed")
    ingest(crashed)
    real_rename = os.rename
    calls = {"n": 0}

    def crashing_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 4:  # index's _compacting -> live rename
            raise OSError("simulated crash mid-swap")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crashing_rename)
    with pytest.raises(OSError, match="simulated crash"):
        compact_state(spark, crashed, 10)
    monkeypatch.setattr(os, "rename", real_rename)
    assert not os.path.exists(os.path.join(crashed, "index"))
    assert os.path.exists(os.path.join(crashed, "index_old"))
    assert os.path.exists(os.path.join(crashed, "index_compacting"))

    # Restart the stream on the crashed state with batch 2 arriving.
    arrivals_dir = str(tmp_path / "arrivals")
    os.makedirs(arrivals_dir)
    stage = str(tmp_path / "_stage")
    batches[2].coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    shutil.move(os.path.join(stage, part), os.path.join(arrivals_dir, "b2.parquet"))
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("source", T.StringType()),
        ]
    )
    arrivals = spark.readStream.schema(schema).parquet(arrivals_dir)
    q = ingest_dedup_stream(
        arrivals, corpus, crashed, str(tmp_path / "ckpt"), available_now=True
    )
    q.awaitTermination(300)
    # The restarted stream's first batch id is 0 in both runs, so the
    # full provenance-carrying pair sets must match exactly.
    assert _emitted_set(spark, crashed) == want
    # The recovered index kept the compacted layout + the uncompacted
    # tip (corpus-only would mean the swap was NOT recovered).
    index = spark.read.parquet(os.path.join(crashed, "index"))
    got_parts = {
        r["_batch_id"] for r in index.select("_batch_id").distinct().collect()
    }
    assert {-1, 11} <= got_parts
    assert not os.path.exists(os.path.join(crashed, "index_old"))
    assert not os.path.exists(os.path.join(crashed, "index_compacting"))


def test_stream_ingest_refuses_rebootstrap_over_committed_docs(
    spark, sf_dir, tmp_path
):
    """ADVICE r8 #2 (second clause): docs holding committed batch
    partitions with NO index artifact (and no torn-swap leftovers to
    recover from) is an inconsistent state; auto-bootstrap would
    silently paper over it with a corpus-only index, so the stream must
    refuse loudly instead."""
    import pyspark.sql.types as T

    from odl_etl_spark.streaming.ingest_dedup import (
        bootstrap_corpus_index,
        ingest_dedup_stream,
        probe_and_commit_batch,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    corpus = docs.where(F.col("source") != "src1")
    state = str(tmp_path / "state")
    bootstrap_corpus_index(corpus, state)
    probe_and_commit_batch(docs.where(F.col("source") == "src1"), 0, state)
    shutil.rmtree(os.path.join(state, "index"))  # index lost outright

    arrivals_dir = str(tmp_path / "arrivals")
    os.makedirs(arrivals_dir)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("source", T.StringType()),
        ]
    )
    arrivals = spark.readStream.schema(schema).parquet(arrivals_dir)
    with pytest.raises(RuntimeError, match="committed docs"):
        ingest_dedup_stream(
            arrivals, corpus, state, str(tmp_path / "ckpt"), available_now=True
        )


def _write_pairs_batch(spark, state_dir, batch_id, edges):
    """Fabricate one committed pairs micro-batch in the documented
    ingest-dedup layout (streaming/ingest_dedup.emitted_pairs schema)."""
    rows = [(int(a), int(b), 1.0) for a, b in edges]
    df = spark.createDataFrame(
        rows, "new_id bigint, ex_id bigint, jaccard double"
    ).withColumn("_batch_id", F.lit(batch_id).cast("int"))
    df.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("_batch_id").parquet(os.path.join(state_dir, "pairs"))


def test_fold_pairs_into_clusters_matches_full_cc_on_real_ingest_state(
    spark, sf_dir, tmp_path
):
    """Integration: fold the REAL ingest-dedup pairs store and the
    clusters must equal one full connected-components pass over every
    emitted pair; refolding with nothing new is a no-op; a shard-count
    mismatch refuses even when there is nothing to fold."""
    from odl_etl_spark.operators.components import connected_components
    from odl_etl_spark.streaming.ingest_clusters import (
        clusters,
        fold_pairs_into_clusters,
        folded_upto,
    )
    from odl_etl_spark.streaming.ingest_dedup import (
        bootstrap_corpus_index,
        emitted_pairs,
        probe_and_commit_batch,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    corpus = docs.where(F.col("source") != "src1")
    state = str(tmp_path / "state")
    bootstrap_corpus_index(corpus, state)
    for i in range(3):
        probe_and_commit_batch(
            docs.where((F.col("source") == "src1") & (F.col("doc_id") % 3 == i)),
            i,
            state,
        )
    assert emitted_pairs(spark, state).count() > 0

    def cset():
        return {(r["node"], r["component"]) for r in clusters(spark, state).collect()}

    assert fold_pairs_into_clusters(spark, state, n_shards=8) == 2
    assert folded_upto(spark, state) == 2
    want = {
        (r["node"], r["component"])
        for r in connected_components(
            emitted_pairs(spark, state).select(
                F.col("new_id").alias("src"), F.col("ex_id").alias("dst")
            )
        ).collect()
    }
    assert cset() == want
    assert fold_pairs_into_clusters(spark, state, n_shards=8) == 2
    assert cset() == want
    with pytest.raises(ValueError, match="n_shards=8"):
        fold_pairs_into_clusters(spark, state, n_shards=16)


def test_fold_pairs_incremental_merges_and_heals_torn_commit(
    spark, tmp_path, monkeypatch
):
    """Batch-by-batch folding over a fabricated pairs history (the
    documented store layout) with real cross-batch merges: incremental
    folds equal the one-shot full CC at every watermark; a crash inside
    the atomic swap (between the two renames) recovers on the next fold;
    and a crash between the swap and the watermark write replays the
    fold convergently.

    Negative-design record: the first implementation committed only the
    CHANGED shards via dynamic partition overwrite, and THIS test's
    changed-shard revert killed it — with some shards committed and some
    not, the replayed edges resolve through the already-merged
    representatives (e.g. the stale (21, 20) row survived while 20's own
    row already said (20, 10)), the stale component never re-enters the
    contracted graph, and no amount of replay heals it. Hence the
    whole-store staged swap."""
    from odl_etl_spark.operators.components import connected_components
    from odl_etl_spark.streaming.ingest_clusters import (
        clusters,
        fold_pairs_into_clusters,
        folded_upto,
    )
    from odl_etl_spark.streaming.ingest_dedup import emitted_pairs

    history = {
        0: [(1, 2), (3, 4), (10, 11)],
        # merges {1,2} with {3,4} via a bridge node, plus a fresh pair
        1: [(2, 5), (5, 3), (20, 21)],
        # merges {10,11} with {20,21}; touches an old node again
        2: [(11, 20), (1, 30)],
    }
    state = str(tmp_path / "state")
    for b, edges in history.items():
        _write_pairs_batch(spark, state, b, edges)

    def full_cc_upto(b):
        return {
            (r["node"], r["component"])
            for r in connected_components(
                emitted_pairs(spark, state)
                .where(F.col("_batch_id") <= b)
                .select(F.col("new_id").alias("src"), F.col("ex_id").alias("dst"))
            ).collect()
        }

    def cset(st):
        return {(r["node"], r["component"]) for r in clusters(spark, st).collect()}

    for b in range(3):
        assert fold_pairs_into_clusters(spark, state, upto_batch_id=b, n_shards=8) == b
        assert cset(state) == full_cc_upto(b), f"fold through batch {b} diverged"
    want = full_cc_upto(2)

    # Torn SWAP: replay the history on a second state dir, fold through
    # batch 1, then crash batch 2's fold between the two renames — the
    # window where the live dir is absent and the complete staged copy
    # exists. The next fold's recover_torn_swap must roll FORWARD and
    # the refold must converge.
    state2 = str(tmp_path / "state2")
    for b, edges in history.items():
        _write_pairs_batch(spark, state2, b, edges)
    fold_pairs_into_clusters(spark, state2, upto_batch_id=1, n_shards=8)
    real_rename = os.rename
    calls = {"n": 0}

    def crashing_rename(src, dst):
        calls["n"] += 1
        if calls["n"] == 2:
            raise OSError("simulated crash mid-swap")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crashing_rename)
    with pytest.raises(OSError, match="simulated crash"):
        fold_pairs_into_clusters(spark, state2, n_shards=8)
    monkeypatch.setattr(os, "rename", real_rename)
    assert not os.path.exists(os.path.join(state2, "clusters"))
    assert os.path.exists(os.path.join(state2, "clusters_compacting"))
    # The crash also preceded the watermark write.
    assert folded_upto(spark, state2) == 1
    fold_pairs_into_clusters(spark, state2, n_shards=8)
    assert cset(state2) == want
    assert folded_upto(spark, state2) == 2
    assert not os.path.exists(os.path.join(state2, "clusters_compacting"))
    assert not os.path.exists(os.path.join(state2, "clusters_old"))

    # Watermark-crash window: clusters swapped but watermark stale —
    # refolding the already-folded batch must be a byte-identical no-op.
    wm = os.path.join(state2, "clusters_watermark")
    shutil.rmtree(wm)
    spark.createDataFrame([(1,)], "upto bigint").write.mode("overwrite").parquet(wm)
    assert folded_upto(spark, state2) == 1
    fold_pairs_into_clusters(spark, state2, n_shards=8)
    assert cset(state2) == want
    assert folded_upto(spark, state2) == 2


def test_stream_ingest_with_online_cluster_fold(spark, sf_dir, tmp_path):
    """The fully-online posture: `ingest_dedup_stream(fold_clusters=True)`
    folds each batch's committed pairs into the clusters store inside the
    foreachBatch handler. After the stream drains, the clusters must
    equal a full CC over every emitted pair, the watermark must sit at
    the last batch, and replaying a committed batch (re-commit + refold)
    must be a no-op. Batches with zero pairs exercise the
    watermark-only bootstrap path."""
    import pyspark.sql.types as T

    from odl_etl_spark.operators.components import connected_components
    from odl_etl_spark.streaming.ingest_clusters import (
        clusters,
        fold_pairs_into_clusters,
        folded_upto,
    )
    from odl_etl_spark.streaming.ingest_dedup import (
        emitted_pairs,
        ingest_dedup_stream,
        probe_and_commit_batch,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    corpus = docs.where(F.col("source") != "src1")
    arrivals_dir = str(tmp_path / "arrivals")
    os.makedirs(arrivals_dir)
    for i in range(3):
        stage = str(tmp_path / f"_stage{i}")
        (
            docs.where((F.col("source") == "src1") & (F.col("doc_id") % 3 == i))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(stage)
        )
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(arrivals_dir, f"batch_{i}.parquet")
        shutil.move(os.path.join(stage, part), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        shutil.rmtree(stage)

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("source", T.StringType()),
        ]
    )
    arrivals = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals_dir)
    )
    state = str(tmp_path / "state")
    q = ingest_dedup_stream(
        arrivals,
        corpus,
        state,
        str(tmp_path / "ckpt"),
        available_now=True,
        fold_clusters=True,
    )
    q.awaitTermination(300)

    assert folded_upto(spark, state) == 2

    def cset():
        return {(r["node"], r["component"]) for r in clusters(spark, state).collect()}

    want = {
        (r["node"], r["component"])
        for r in connected_components(
            emitted_pairs(spark, state).select(
                F.col("new_id").alias("src"), F.col("ex_id").alias("dst")
            )
        ).collect()
    }
    assert cset() == want
    assert want  # fixtures plant cross-batch near-dups

    # At-least-once replay of the final micro-batch: commit + refold are
    # both no-ops on the already-folded state.
    last = spark.read.parquet(os.path.join(arrivals_dir, "batch_2.parquet"))
    probe_and_commit_batch(last, 2, state)
    fold_pairs_into_clusters(spark, state, upto_batch_id=2)
    assert cset() == want
    assert folded_upto(spark, state) == 2


def test_fold_pairs_first_fold_torn_staging_self_heals(
    spark, tmp_path, monkeypatch
):
    """ADVICE r9 #3: the FIRST fold routes through the same staged swap
    as later folds — a torn first write must be healable. Two crash
    windows: (a) staging completed (the producer's mark_stage_complete
    stamp present) but the rename into place never ran →
    recover_torn_swap rolls FORWARD and the refold converges (watermark
    was never written, so the fold re-runs over the same edges —
    convergent by the fold contract); (b) the staging write itself tore
    (no completion stamp, live dir never existed) → recovery drops the
    torn copy and the refold rebuilds from scratch."""
    from odl_etl_spark.operators.components import connected_components
    from odl_etl_spark.streaming.ingest_clusters import (
        clusters,
        fold_pairs_into_clusters,
        folded_upto,
    )
    from odl_etl_spark.streaming.ingest_dedup import emitted_pairs

    history = {0: [(1, 2), (3, 4), (2, 3)], 1: [(10, 11)]}
    state = str(tmp_path / "state")
    for b, edges in history.items():
        _write_pairs_batch(spark, state, b, edges)

    def full_cc():
        return {
            (r["node"], r["component"])
            for r in connected_components(
                emitted_pairs(spark, state).select(
                    F.col("new_id").alias("src"), F.col("ex_id").alias("dst")
                )
            ).collect()
        }

    def cset():
        return {(r["node"], r["component"]) for r in clusters(spark, state).collect()}

    c_path = os.path.join(state, "clusters")

    # (a) Crash on the first fold's rename into place: staged copy is
    # complete (_SUCCESS written by the parquet job), live dir absent.
    real_rename = os.rename

    def crashing_rename(src, dst):
        if dst == c_path:
            raise OSError("simulated crash before first-swap rename")
        real_rename(src, dst)

    monkeypatch.setattr(os, "rename", crashing_rename)
    with pytest.raises(OSError, match="simulated crash"):
        fold_pairs_into_clusters(spark, state, n_shards=8)
    monkeypatch.setattr(os, "rename", real_rename)
    assert not os.path.exists(c_path)
    staged = c_path + "_compacting"
    from odl_etl_spark.streaming.state import _STAGE_MARKER

    assert os.path.exists(os.path.join(staged, _STAGE_MARKER))
    assert folded_upto(spark, state) is None  # watermark is written LAST
    assert fold_pairs_into_clusters(spark, state, n_shards=8) == 1
    assert cset() == full_cc()
    assert not os.path.exists(staged)

    # (b) Torn staging write on a fresh state: staged dir exists WITHOUT
    # _SUCCESS and there is no live dir and no backup — recovery must
    # drop it (nothing was ever committed) and the fold must rebuild.
    state2 = str(tmp_path / "state2")
    for b, edges in history.items():
        _write_pairs_batch(spark, state2, b, edges)
    torn = os.path.join(state2, "clusters_compacting")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-00000.parquet"), "w") as f:
        f.write("torn partial write")
    assert fold_pairs_into_clusters(spark, state2, n_shards=8) == 1
    assert not os.path.exists(torn)
    assert {
        (r["node"], r["component"]) for r in clusters(spark, state2).collect()
    } == full_cc()


def test_ann_ingest_refuses_rebootstrap_over_committed_checkpoint(
    spark, sf_dir, tmp_path
):
    """ADVICE r9 #1: a MISSING index store plus a checkpoint that has
    committed batches must refuse bootstrap in every ingest family —
    the checkpoint marks those batches done, so an availableNow replay
    would not re-deliver them, and a corpus-only re-bootstrap would
    silently drop them from every future probe. Deleting the checkpoint
    (an explicit start-over) re-enables bootstrap."""
    import pyspark.sql.types as T

    from odl_etl_spark.operators.similarity import IvfIndex
    from odl_etl_spark.queries.similarity import hyperplane_params
    from odl_etl_spark.streaming.ingest_ann import (
        ingest_ann_stream,
        ingest_ivf_stream,
        ingest_pq_stream,
        stored_index,
    )

    e = load_table(spark, sf_dir, "embeddings")
    hps, _, _ = hyperplane_params(spark, sf_dir, 5)
    body = e.where(F.col("vec_id") != 0)
    corpus = body.where(F.col("vec_id") % 5 != 4)
    arrivals_dir = str(tmp_path / "arrivals")
    os.makedirs(arrivals_dir)
    stage = str(tmp_path / "_stage")
    (
        body.where(F.col("vec_id") % 5 == 4)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(stage)
    )
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    shutil.move(os.path.join(stage, part), os.path.join(arrivals_dir, "b0.parquet"))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
        ]
    )
    arrivals = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals_dir)
    )
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    q = ingest_ann_stream(arrivals, corpus, state, ckpt, hps, available_now=True)
    q.awaitTermination(300)
    n_committed = stored_index(spark, state).count()
    assert n_committed > 0

    # Lose the store out-of-band; the checkpoint still has the commit.
    shutil.rmtree(os.path.join(state, "index"))
    with pytest.raises(RuntimeError, match="hyperplane ingest store"):
        ingest_ann_stream(arrivals, corpus, state, ckpt, hps, available_now=True)

    # Explicit start-over: delete the checkpoint too — bootstrap + full
    # replay rebuild the exact same store.
    shutil.rmtree(ckpt)
    q = ingest_ann_stream(arrivals, corpus, state, ckpt, hps, available_now=True)
    q.awaitTermination(300)
    assert stored_index(spark, state).count() == n_committed

    # Same wiring in the IVF and PQ loops: a fabricated checkpoint with
    # a committed batch and a missing store refuses before any stream
    # (or bootstrap write) starts.
    fake_ckpt = str(tmp_path / "fake_ckpt")
    os.makedirs(os.path.join(fake_ckpt, "commits"))
    with open(os.path.join(fake_ckpt, "commits", "0"), "w") as f:
        f.write("v1")
    with pytest.raises(RuntimeError, match="ivf ingest store"):
        ingest_ivf_stream(
            arrivals,
            corpus,
            str(tmp_path / "ivf_state"),
            fake_ckpt,
            IvfIndex([(0, [0.0] * 8)]),
        )
    assert not os.path.isdir(str(tmp_path / "ivf_state"))
    with pytest.raises(RuntimeError, match="pq ingest store"):
        ingest_pq_stream(arrivals, corpus, str(tmp_path / "pq_state"), fake_ckpt)
    assert not os.path.isdir(str(tmp_path / "pq_state"))


def test_pq_probe_counts_come_from_sidecar_not_store_scan(
    spark, sf_dir, tmp_path
):
    """VERDICT r9 #3 / r10 #4 pin: the PQ corpus cardinality that sizes
    `pq_r_pool` is maintained at commit/compaction time in the counts
    sidecar (O(#batches) rows) — `probe_pq_state` never aggregates the
    full codes store. Proof by tamper: the sidecar tracks the true
    distinct count through bootstrap/append/replay; a tampered sidecar
    value is what the count API returns (so the store was NOT scanned);
    a store predating the sidecar falls back to the true scan; retrain
    folds the sidecar to a single -1 partition."""
    from odl_etl_spark.streaming.ingest_ann import (
        _pq_counts_path,
        bootstrap_pq_state,
        pq_append_and_commit,
        pq_corpus_count,
        retrain_pq_state,
        stored_pq,
    )

    e = load_table(spark, sf_dir, "embeddings")
    e_v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    body = e_v.where(F.col("vec_id") != 0)
    corpus = body.where(F.col("vec_id") % 5 != 4)
    batch = body.where(F.col("vec_id") % 5 == 4)
    state = str(tmp_path / "state")
    bootstrap_pq_state(corpus, state)

    def true_n():
        return stored_pq(spark, state)[1].select("vec_id").distinct().count()

    assert pq_corpus_count(spark, state) == true_n()
    pq_append_and_commit(batch, 0, state)
    assert pq_corpus_count(spark, state) == true_n()
    # At-least-once replay: the batch's own sidecar partition is
    # excluded from its staleness count and rewritten, not added to.
    pq_append_and_commit(batch, 0, state)
    assert pq_corpus_count(spark, state) == true_n()

    # Tamper: the count API must believe the sidecar (no store scan).
    counts_path = _pq_counts_path(state)
    spark.createDataFrame([(12345,)], "n bigint").withColumn(
        "_batch_id", F.lit(0)
    ).write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("_batch_id").parquet(counts_path)
    n_corpus_only = pq_corpus_count(spark, state, exclude_batch_id=0)
    assert pq_corpus_count(spark, state) == n_corpus_only + 12345

    # Legacy store (sidecar absent): fall back to the true scan.
    shutil.rmtree(counts_path)
    assert pq_corpus_count(spark, state) == true_n()

    # Legacy-store APPEND backfills the sidecar for ALL committed
    # partitions before committing its own count — without the
    # backfill, the new batch's partition would be the sidecar's only
    # row and every later probe would see a ~batch-sized corpus.
    batch2 = body.where(F.col("vec_id") % 7 == 3).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "v"
    )
    pq_append_and_commit(batch2, 1, state)
    assert pq_corpus_count(spark, state) == true_n()
    parts = {d for d in os.listdir(counts_path) if d.startswith("_batch_id=")}
    assert parts == {"_batch_id=-1", "_batch_id=0", "_batch_id=1"}

    # Retrain rebuilds the sidecar folded to one -1 partition.
    retrain_pq_state(spark, state, e_v)
    parts = {
        d for d in os.listdir(counts_path) if d.startswith("_batch_id=")
    }
    assert parts == {"_batch_id=-1"}
    assert pq_corpus_count(spark, state) == true_n()


def test_stream_late_drop_matches_true_watermark_stream(spark, sf_dir, tmp_path):
    """The true withWatermark('ts', '1 hour') tumbling aggregation,
    replayed over the SAME 4-slice arrival order the `stream_late_drop`
    key simulates (exact NTILE over (arrival time, event_id), every
    10th event arriving 10 days late — far past the 1-hour watermark
    horizon by the time its contemporaries' batch lands), must converge to EXACTLY the
    key's per-window aggregates: the memory sink's update history ends
    at the admitted-set totals, and rows Spark's watermark dropped are
    exactly the rows the key's drop rule excluded. This ties the
    driver-oracled batch form to the real late-data mechanism, the
    same loop stream_running_totals closes for stateful state.

    ADVICE r13 #5: the key's ROWS ... 2 PRECEDING drop rule encodes the
    MEASURED two-batch watermark publication lag — a micro-batch
    implementation detail, not a documented contract. THIS test is the
    guard: it replays the true stream, so a Spark upgrade that applies
    watermark stats one batch earlier fails it loudly. On a Spark
    version bump, re-derive the lag with tools/wm_lag_probe.py before
    touching the key."""
    from pyspark.sql import Window as W

    from odl_etl_spark.queries import registry
    from odl_etl_spark.streaming.source import events_stream

    ev = load_table(spark, sf_dir, "events")
    arr = F.col("ts") + F.when(
        F.col("event_id") % 10 == 0, F.expr("INTERVAL 10 DAY")
    ).otherwise(F.expr("INTERVAL 0 DAY"))
    sliced = ev.select(
        "*", F.ntile(4).over(W.orderBy(arr, F.col("event_id"))).alias("_slice")
    )
    out = str(tmp_path / "late_slices")
    os.makedirs(out)
    for i in range(1, 5):
        stage = str(tmp_path / f"_lstage{i}")
        (
            sliced.where(F.col("_slice") == i)
            .drop("_slice")
            .withColumn("ts", F.unix_micros("ts") * 1000)  # ns longs
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(stage)
        )
        part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(out, f"batch_{i}.parquet")
        shutil.move(os.path.join(stage, part), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        shutil.rmtree(stage)

    stream = events_stream(spark, out, max_files_per_trigger=1)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("_sv"))
        .select(
            F.unix_micros("w.start").alias("window_us"),
            "event_type",
            "n",
            "_sv",
        )
    )
    _run_stream(agg, "t_late_drop", mode="update")
    # Update-mode history: n strictly increases within a (window, type)
    # key (a group only re-emits when it received admitted rows), so the
    # max-n row per key is the final state.
    hist = spark.table("t_late_drop")
    w_last = W.partitionBy("window_us", "event_type").orderBy(F.col("n").desc())
    from odl_etl_spark.functions.numeric import roundn

    streamed = {
        (r["window_us"], r["event_type"], r["n"], r["sv"])
        for r in hist.withColumn("_rk", F.row_number().over(w_last))
        .where(F.col("_rk") == 1)
        .select(
            "window_us",
            "event_type",
            "n",
            roundn(F.col("_sv"), 2).alias("sv"),
        )
        .collect()
    }
    key_rows = {
        (r["window_us"], r["event_type"], r["n"], r["sum_value"])
        for r in registry()["stream_late_drop"].build(spark, sf_dir).collect()
    }
    assert streamed == key_rows
    assert streamed
    # The scenario must actually exercise drops: the admitted total is
    # strictly below the full event count.
    admitted = sum(n for (_, _, n, _) in key_rows)
    assert admitted < ev.count()


def test_ivfpq_ingest_stream_appends_refuses_stale_and_retrains(
    spark, sf_dir, tmp_path
):
    """The composed IVFADC family through the vector-ingest loop —
    completing the four-family stream ≡ batch symmetry. Bootstrap
    assigns the standing corpus and trains the residual codebook on it
    (train-stamped); two arrival batches append through BOTH halves'
    refusal sets; the committed codes must equal re-encoding the
    enlarged corpus against the same stored artifacts, and the cells
    store must equal the full assignment (the two stores stay in
    lockstep). Replay is a no-op; the per-cell counts sidecar tracks
    true member counts for both the corpus (staleness) and a probed
    subset (r_pool); a drifting batch refuses with the retrain
    instruction; `retrain_ivfpq_state` then folds everything to
    `_batch_id=-1`, after which the probe equals the derive-in-query
    `sim_ann_ivfpq` key."""
    import pyspark.sql.types as T

    from odl_etl_spark.operators.ann_index import ivf_residual_explode, pq_encode
    from odl_etl_spark.operators.similarity import IvfIndex
    from odl_etl_spark.queries import registry
    from odl_etl_spark.streaming.ingest_ann import (
        _ivfpq_count,
        ingest_ivfpq_stream,
        ivfpq_append_and_commit,
        probe_ivfpq_state,
        retrain_ivfpq_state,
        stored_ivfpq,
    )

    e = load_table(spark, sf_dir, "embeddings")
    probe = [float(x) for x in e.where(F.col("vec_id") == 0).head()["embedding"]]
    e_v = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    body = e_v.where(F.col("vec_id") != 0)
    corpus = body.where(F.col("vec_id") % 5 != 4)
    index = IvfIndex.build(e, n_cells=8)
    arrivals_dir = str(tmp_path / "arrivals")
    _write_arrival_batches(
        tmp_path,
        arrivals_dir,
        [
            body.where(F.col("vec_id") % 10 == 4),
            body.where(F.col("vec_id") % 10 == 9),
        ],
    )
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("v", T.ArrayType(T.DoubleType())),
        ]
    )
    arrivals = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals_dir)
    )
    state = str(tmp_path / "state")
    q = ingest_ivfpq_stream(
        arrivals, corpus, state, str(tmp_path / "ckpt"), index,
        available_now=True,
    )
    q.awaitTermination(300)

    cent, _, _ = stored_ivfpq(spark, state)

    def code_set():
        return {
            (r["vec_id"], r["cell_id"], r["sub"], r["code"])
            for r in stored_ivfpq(spark, state)[1].collect()
        }

    def cell_set():
        return {
            (r["vec_id"], r["cell_id"])
            for r in stored_ivfpq(spark, state)[2].collect()
        }

    # append ≡ re-encoding the ENLARGED corpus against the SAME stored
    # artifacts (bootstrap-trained codebook + fixed centroids) — for
    # BOTH cross-dependent relations.
    want_codes = {
        (r["vec_id"], r["cell_id"], r["sub"], r["code"])
        for r in pq_encode(
            ivf_residual_explode(
                index.assign(body, vec_col="v"), index.centroids, vec_col="v"
            ),
            cent,
            extra_keys=("cell_id",),
        ).collect()
    }
    assert code_set() == want_codes
    want_cells = {
        (r["vec_id"], r["cell_id"])
        for r in index.assign(body, vec_col="v").collect()
    }
    assert cell_set() == want_cells
    # The per-cell sidecar tracks true member counts: whole corpus
    # (staleness) and an arbitrary probed subset (r_pool sizing).
    assert _ivfpq_count(spark, state) == body.count()
    probed = index.nearest_cells(probe, nprobe=2)
    true_probed = (
        index.assign(body, vec_col="v")
        .where(F.col("cell_id").isin(probed))
        .count()
    )
    assert _ivfpq_count(spark, state, cells=probed) == true_probed
    # At-least-once replay of batch 0: byte-identical state across all
    # three relations + sidecar.
    b0 = spark.read.parquet(os.path.join(arrivals_dir, "batch_0.parquet"))
    ivfpq_append_and_commit(b0, 0, state, index)
    assert code_set() == want_codes
    assert cell_set() == want_cells
    assert _ivfpq_count(spark, state) == body.count()
    # A batch that would drift the corpus past 50% of the stamped
    # training size refuses the stream's commit path loudly.
    huge = body.select((F.col("vec_id") + 2_000_000).alias("vec_id"), "v")
    with pytest.raises(ValueError, match="staleness"):
        ivfpq_append_and_commit(huge, 2, state, index)
    # The remedy: retrain on the CURRENT corpus — everything folds to
    # _batch_id=-1 and the probe now equals the derive-in-query key
    # (whose codebook is trained on the full body, as here).
    retrain_ivfpq_state(spark, state, e_v, index)
    for sub in ("codes", "cells", "counts"):
        parts = {
            d
            for d in os.listdir(os.path.join(state, "ivfpq", sub))
            if d.startswith("_batch_id=")
        }
        assert parts == {"_batch_id=-1"}, sub
    key = [
        tuple(r)
        for r in registry()["sim_ann_ivfpq"].build(spark, sf_dir).collect()
    ]
    got = [
        tuple(r)
        for r in probe_ivfpq_state(spark, state, index, e_v, probe, k=10).collect()
    ]
    assert got == key
