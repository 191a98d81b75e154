"""Persisted ANN index artifacts + probe paths (VERDICT r7 #4).

Parity with the dedup tier's ``minhash_band_index`` (operators/dedup.py):
the `sim_ann_*` keys derive their hyperplane signatures / PQ codebooks
inside the query, which is fine for a one-shot search but not the shape
a 100 TB deployment runs — there the index is a build-ONCE stored
relation (parquet, partitioned for probe-side pruning) and every query
is a probe against it. This module provides those artifacts:

  * ``hyperplane_index`` — (id, bucket) sign-bit signatures for a fixed
    plane set; at scale stored partitioned BY BUCKET so a Hamming-radius
    probe prunes to the matching partitions instead of scanning all
    signatures.
  * ``hyperplane_probe`` — Hamming-radius candidate selection against
    the stored signatures + exact-cosine re-rank of only the candidates
    (the approximation decides WHO is a candidate, never the ranking).
  * ``pq_index`` — the trained codebook (sub, code) -> centroid relation
    plus the 8-codes-per-vector codes relation (the ~8-byte/vector
    compressed index production PQ stores).
  * ``pq_probe`` — broadcast ADC LUT against the stored codes, constant-
    bounded shortlist, exact-L2 re-rank of the shortlist only.

Both index builders stamp their build params as StructField metadata
(the ``minhash_band_index`` convention — metadata survives a parquet
round-trip), and both probes validate the stamp so a param-mismatched
stored index fails loudly instead of silently returning bad neighbours.

Reference scope note: the reference (mitodl/odl-etl) has no vector
tier; this is part of the beyond-reference LLM-pipeline mandate
(BASELINE.json), composed from the same public PQ/LSH literature as
queries/similarity.py (Jegou et al. 2011; Charikar 2002).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from odl_etl_spark.functions.vectors import dot, l2_distance, mat_lit, vec_lit
from odl_etl_spark.operators.similarity import topk_cosine

PQ_SUBS = 8  # number of subspaces
PQ_SUB_DIM = 8  # dims per subspace (64-dim vectors / PQ_SUBS)
PQ_CODES = 16
PQ_Q = 1000000000  # BIGINT quantization scale shared with emb_pq_codebook
# Largest quantized distance whose packed form d2q*PQ_CODES + code (code
# < PQ_CODES) is guaranteed to fit a signed 64-bit int. pq_encode raises
# past this instead of silently wrapping (ADVICE r14 #4).
_PQ_PACK_BOUND = ((1 << 63) - PQ_CODES) // PQ_CODES
# Shortlist contract (ADVICE r6): re-rank pool = min(ceil(frac*n), R_MAX).
PQ_POOL_FRAC = 0.25
PQ_R_MAX = 4096


def pq_r_pool(n_corpus: int) -> int:
    """The single source of the ADC-shortlist size used by `sim_ann_pq`,
    `sim_ann_pq_probe`, and the prebuilt-identical test — the fraction
    keeps the toy fixture discriminative, the R_MAX cap keeps the
    re-rank broadcast constant-bounded at lake scale."""
    import math

    return min(int(math.ceil(PQ_POOL_FRAC * n_corpus)), PQ_R_MAX)


def hyperplane_bucket(vec_col: Column | str, planes: list[list[float]]) -> Column:
    """Sign-bit LSH signature of ``vec_col`` against ``planes`` — the
    exact expression `queries/similarity.hyperplane_candidates` inlines,
    shared so index build and in-query paths can never drift."""
    col = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    bucket: Column | None = None
    for h, hp in enumerate(planes):
        hp_lit = vec_lit(hp)
        bit = F.when(dot(col, hp_lit) >= 0, F.lit(1 << h)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    assert bucket is not None, "need at least one plane"
    return bucket.cast("bigint")


def hyperplane_index(
    df: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build the persistable (id, bucket) signature index for a corpus —
    computed ONCE, stored, and grown incrementally as batches arrive
    (band the batch, append its rows), instead of re-deriving signatures
    per query. At 100 TB: partition the stored parquet by ``bucket`` so
    a radius-R probe reads only the ~sum(C(n_planes,r)) matching
    partitions. ``n_planes`` and a checksum of the plane VALUES are
    stamped as field metadata and validated at probe time — same plane
    count with different planes would silently bucket everything
    differently, the worst failure mode for a stored index. The stamp
    lives on BOTH columns: ``bucket`` (the natural home) and ``_id`` —
    because in the recommended ``partitionBy("bucket")`` layout the
    partition column's schema is rebuilt from directory names on read
    and its metadata is dropped (ADVICE r8 #1); the ``_id`` data column
    survives that round-trip, so fail-loud validation still fires in
    exactly the layout the docstring recommends."""
    meta = {"n_planes": len(planes), "planes_sum": _planes_checksum(planes)}
    return df.select(
        F.col(id_col).alias("_id", metadata=meta),
        hyperplane_bucket(vec_col, planes).alias("bucket", metadata=meta),
    )


def _planes_checksum(planes: list[list[float]]) -> str:
    """Order-sensitive digest of the plane values (repr of rounded
    components — deterministic across sessions, no float-hash pitfalls)."""
    import hashlib

    payload = repr([[round(float(x), 9) for x in hp] for hp in planes])
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def _stamped(index: DataFrame, field: str, key: str) -> int | None:
    for f in index.schema.fields:
        if f.name == field and f.metadata and key in f.metadata:
            return int(f.metadata[key])
    return None


def _stamped_any(index: DataFrame, key: str):
    """First occurrence of ``key`` in ANY field's metadata — the probe
    validators use this so the stamp is found whether it survived on
    ``bucket`` (unpartitioned store) or only on ``_id`` (bucket-
    partitioned store, where the partition column loses metadata)."""
    for f in index.schema.fields:
        if f.metadata and key in f.metadata:
            return f.metadata[key]
    return None


def hyperplane_probe(
    index: DataFrame,
    raw: DataFrame,
    probe_vec: list[float],
    probe_bucket: int,
    planes: list[list[float]] | None = None,
    radius: int = 2,
    k: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Search against a PREBUILT signature index: Hamming-radius filter
    on the stored buckets (partition-pruned at scale), then exact-cosine
    re-rank of only the surviving ids' raw vectors. The candidate filter
    never touches raw floats; the re-rank join is keyed on id (a
    broadcast when the candidate set is probe-sized). Results are
    identical to the derive-in-query path (`sim_ann_hyperplane`) —
    pinned by test_ann_index_prebuilt_identical."""
    if planes is not None:
        stamped = _stamped_any(index, "n_planes")
        if stamped is not None and int(stamped) != len(planes):
            raise ValueError(
                f"index was built with n_planes={stamped} but probe called "
                f"with {len(planes)}; rebuild the index or match the params"
            )
        have_sum = _stamped_any(index, "planes_sum")
        if have_sum is not None and have_sum != _planes_checksum(planes):
            raise ValueError(
                "index was built with DIFFERENT plane values than the "
                "probe's (same count, mismatched checksum) — every "
                "bucket would be wrong; rebuild the index with these "
                "planes"
            )
    cand_ids = index.where(
        F.bit_count(F.col("bucket").bitwiseXOR(F.lit(probe_bucket))) <= radius
    ).select(F.col("_id").alias(id_col))
    cand = raw.join(cand_ids, id_col, "left_semi")
    return topk_cosine(cand, probe_vec, k=k, round_to=6)


def hyperplane_index_append(
    index: DataFrame,
    new_df: DataFrame,
    planes: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental maintenance for a stored hyperplane index (VERDICT r8
    #4 — the ``minhash_band_index`` → ingest/compaction precedent applied
    to the vector tier): encode ONLY the newly arrived vectors against
    the STAMPED plane set and return their (``_id``, ``bucket``) rows,
    ready to append to the stored relation (at scale:
    ``write.mode("append").partitionBy("bucket")`` — dynamic overwrite is
    not needed because signature rows are immutable). Because the planes
    are fixed parameters, append ≡ rebuild EXACTLY — pinned by
    test_hyperplane_index_append_equals_rebuild and driver-oracled end to
    end by the `ann_index_ingest_probe` key.

    Fail-loud contract: appending is exactly the operation where silently
    mismatched params corrupt a store for every future probe, so a
    missing stamp REFUSES (unlike the probe, which tolerates legacy
    unstamped indexes read-only)."""
    stamped_n = _stamped_any(index, "n_planes")
    stamped_sum = _stamped_any(index, "planes_sum")
    if stamped_n is None or stamped_sum is None:
        raise ValueError(
            "refusing to append to an unstamped hyperplane index — cannot "
            "verify it was built with these planes; rebuild via "
            "hyperplane_index() (which stamps n_planes/planes_sum)"
        )
    if int(stamped_n) != len(planes):
        raise ValueError(
            f"index was built with n_planes={stamped_n} but append called "
            f"with {len(planes)}; appending would corrupt the store"
        )
    if stamped_sum != _planes_checksum(planes):
        raise ValueError(
            "index was built with DIFFERENT plane values than the append's "
            "(same count, mismatched checksum); appending would corrupt "
            "the store"
        )
    return hyperplane_index(new_df, planes, id_col=id_col, vec_col=vec_col)


def pq_explode(e: DataFrame) -> DataFrame:
    """(vec_id, i, x, sub, init_code) element view of an embeddings
    frame with columns (vec_id, v: array<double>) — the shared input of
    codebook training and encoding."""
    return e.select("vec_id", F.posexplode("v").alias("i0", "x")).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        "x",
        # Divisor is the subspace WIDTH (dims per sub), not the subspace
        # count — they coincide at 64/8 but diverge for any other dim.
        F.floor(F.col("i0") / PQ_SUB_DIM).alias("sub"),
        (F.col("vec_id") % PQ_CODES).alias("init_code"),
    )


def pq_codebook(ex: DataFrame) -> DataFrame:
    """Train the deterministic per-subspace codebook (vec_id%k seeding +
    one averaging step, BIGINT-quantized sums — both engines agree
    bit-for-bit): (code, sub, ci, cx). This is the build-once artifact a
    deployment stores next to the codes relation; 128 (sub, code) cells
    x subspace-dim rows. ``pq_subs`` is stamped as field metadata on
    ``code`` and validated at probe time."""
    q = F.lit(float(PQ_Q))
    cent = ex.groupBy(F.col("init_code").alias("code"), "i", "sub").agg(
        F.sum(F.round(F.col("x") * q).cast("bigint")).alias("sx"),
        F.count("*").alias("n"),
    )
    cent = cent.select(
        "code",
        "sub",
        F.col("i").alias("ci"),
        (F.col("sx") / q / F.col("n")).alias("cx"),
    )
    return cent.withColumn(
        "code", F.col("code").alias("code", metadata={"pq_subs": PQ_SUBS})
    )


def pq_encode(
    ex: DataFrame, cent: DataFrame, extra_keys: tuple[str, ...] = ()
) -> DataFrame:
    """Encode every corpus vector as PQ_SUBS codes against a trained
    codebook: (vec_id, sub, code) — the stored ~8-byte/vector compressed
    index. Argmin is a lexicographic struct-MIN agg (map-side-combined,
    no window sort).

    ``extra_keys`` threads additional vec_id-functionally-dependent
    columns of ``ex`` (e.g. the IVF ``cell_id`` in the composed IVF-PQ
    index) through both grouping stages so they survive onto the codes
    relation without a post-encode join back to the assignment — the
    default () leaves every existing plan byte-identical."""
    q = F.lit(float(PQ_Q))
    diff = F.col("x") - F.col("cx")
    cent_enc = cent.drop("sub")  # sub is derivable from ex's side
    dist = (
        ex.where(F.col("vec_id") != 0)
        .join(F.broadcast(cent_enc), ex.i == cent_enc.ci)
        .groupBy("vec_id", *extra_keys, "sub", "code")
        .agg(F.sum(F.round(diff * diff * q).cast("bigint")).alias("d2q"))
    )
    # Argmin as MIN over a packed bigint, NOT min(struct(d2q, code)):
    # identical lexicographic semantics (code < PQ_CODES, so numeric
    # order of d2q*PQ_CODES + code == (d2q, code) order; ties break to
    # the smaller code exactly like the struct form and the oracle's
    # ROW_NUMBER ORDER BY d2q, code), but the buffer stays fixed-width.
    # A struct MIN buffer is variable-width, which disqualifies
    # HashAggregate and sank BOTH phases of this agg to SortAggregate —
    # a full sort of the N x PQ_CODES candidate rows (round-14 sort
    # audit; the table_profile lesson generalized). Overflow-safe while
    # d2q < (2^63-PQ_CODES)/PQ_CODES ~ 5.8e17; the 1e9-scaled subspace
    # distances of unit-ish embeddings sit around 1e10-1e12. The
    # precondition is ENFORCED, not assumed (ADVICE r14 #4): if inputs
    # or PQ_Q ever push d2q past the bound, the packed value would wrap
    # negative and MIN would silently return a wrong code — instead the
    # guard raises at the first offending row. One codegen'd CASE per
    # candidate row; buffer stays bigint, so HashAggregate is preserved
    # (pinned by test_pq_encode_argmin_stays_hash_aggregated).
    packed = F.when(
        F.col("d2q") < F.lit(_PQ_PACK_BOUND),
        F.col("d2q") * F.lit(PQ_CODES) + F.col("code"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "pq_encode: quantized subspace distance exceeds the "
                    f"packed-argmin bound {_PQ_PACK_BOUND} "
                    "(would wrap bigint); rescale PQ_Q or normalize "
                    "embeddings. d2q="
                ),
                F.col("d2q").cast("string"),
            )
        ).cast("bigint")
    )
    return (
        dist.groupBy("vec_id", *extra_keys, "sub")
        .agg(F.min(packed).alias("_p"))
        .select(
            "vec_id",
            *extra_keys,
            "sub",
            F.pmod("_p", F.lit(PQ_CODES)).alias("code"),
        )
    )


def pq_index(
    e: DataFrame, train_stamp: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Build both PQ artifacts for an embeddings frame with (vec_id, v):
    ``(codebook, codes)``. Persist both; a probe needs only these two
    relations plus the raw vectors of its final shortlist.

    ``train_stamp=True`` additionally stamps ``pq_train_n`` (the number
    of vectors the codebook was trained on) as field metadata on the
    codebook's ``code`` column — one extra count job at build time, and
    the prerequisite for ``pq_index_append``'s staleness contract. Off
    by default so the derive-in-query keys' plans are unchanged; a
    deployment building the stored artifact should pass True."""
    ex = pq_explode(e)
    cent = pq_codebook(ex)
    if train_stamp:
        n_train = e.where(F.col("vec_id") != 0).select("vec_id").distinct().count()
        cent = cent.withColumn(
            "code",
            F.col("code").alias(
                "code", metadata={"pq_subs": PQ_SUBS, "pq_train_n": n_train}
            ),
        )
    return cent, pq_encode(ex, cent)


# pq_index_append staleness contract: refuse once the post-append corpus
# exceeds the training set by this fraction — the codebook's centroids
# no longer describe the data distribution it quantizes, and ADC
# shortlists silently degrade (the exact re-rank hides it for the
# shortlist that IS found, not for the neighbours it misses).
PQ_MAX_TRAIN_DRIFT = 0.5


def pq_index_append(
    cent: DataFrame,
    codes: DataFrame,
    new_e: DataFrame,
    max_drift: float = PQ_MAX_TRAIN_DRIFT,
    n_existing: int | None = None,
    n_new: int | None = None,
) -> DataFrame:
    """Incremental maintenance for a stored PQ index (VERDICT r8 #4):
    encode ONLY the newly arrived vectors (``(vec_id, v)`` frame) against
    the STORED codebook and return their (vec_id, sub, code) rows, ready
    to append to the stored codes relation. ``pq_encode`` is
    deterministic given a codebook, so append ≡ re-encoding the enlarged
    corpus against the SAME codebook, exactly — pinned by
    test_pq_index_append_equals_reencode. What appending canNOT fix is
    codebook staleness: the centroids were trained on the original
    corpus, so this refuses (ValueError) once the post-append corpus
    drifts past ``max_drift`` of the stamped training size — retrain via
    ``pq_index(all_vectors, train_stamp=True)`` at that point (the
    ``compact_state`` analogue for the vector tier).

    Caller-supplied ``n_existing``/``n_new`` are TRUSTED for the drift
    check: the caller owns count integrity — a stale or
    wrong sidecar value (e.g. the documented crash window where codes
    commit but the count does not) weakens the staleness refusal, and
    ``codes`` is deliberately not re-aggregated here to cross-check
    (that scan is exactly what the sidecar exists to avoid). Negative
    values are rejected outright; anything else is on the caller
    (``ingest_ann`` repairs its sidecar via ``_backfill_counts``
    before ever passing a count)."""
    _check_pq_append_contract(
        cent, codes, new_e, max_drift, n_existing, n_new,
        rebuild_hint="pq_index(e, train_stamp=True)",
        retrain_hint="pq_index(all_vectors, train_stamp=True)",
    )
    return pq_encode(pq_explode(new_e), cent)


def _check_pq_append_contract(
    cent: DataFrame,
    codes: DataFrame,
    new_e: DataFrame,
    max_drift: float,
    n_existing: int | None,
    n_new: int | None,
    rebuild_hint: str,
    retrain_hint: str,
) -> None:
    """The codebook half of the append contract, shared verbatim by
    ``pq_index_append`` (flat PQ) and ``ivfpq_index_append`` (composed):
    subspace-count stamp, mandatory training stamp, and the drift-bounded
    staleness refusal. Raises ValueError on any violation."""
    if n_existing is not None and n_existing < 0:
        raise ValueError(f"n_existing must be >= 0, got {n_existing}")
    if n_new is not None and n_new < 0:
        raise ValueError(f"n_new must be >= 0, got {n_new}")
    stamped_subs = _stamped_any(cent, "pq_subs")
    if stamped_subs is not None and int(stamped_subs) != PQ_SUBS:
        raise ValueError(
            f"PQ codebook was built with pq_subs={stamped_subs}, engine "
            f"expects {PQ_SUBS}; rebuild the index"
        )
    n_train = _stamped_any(cent, "pq_train_n")
    if n_train is None:
        raise ValueError(
            "refusing to append to a PQ index whose codebook lacks the "
            "pq_train_n training stamp — staleness cannot be enforced; "
            f"rebuild via {rebuild_hint}"
        )
    n_train = int(n_train)
    # Cardinalities for the drift check. Callers that maintain a count
    # sidecar (streaming/ingest_ann.pq_corpus_count — stamped at
    # commit/compaction time) pass both in so the stored codes relation
    # is never aggregated here; the derive-in-query/build-time path
    # falls back to counting (one job over index-cardinality data).
    if n_existing is None:
        n_existing = codes.select("vec_id").distinct().count()
    if n_new is None:
        n_new = new_e.where(F.col("vec_id") != 0).select("vec_id").distinct().count()
    drift = (n_existing + n_new - n_train) / max(n_train, 1)
    if drift > max_drift:
        raise ValueError(
            f"PQ codebook staleness: post-append corpus would be "
            f"{n_existing + n_new} vectors vs {n_train} trained on "
            f"({drift:.0%} drift > {max_drift:.0%} threshold) — retrain "
            f"the codebook ({retrain_hint}) "
            "instead of appending"
        )


IVF_LITERAL_CELLS_MAX = 64
"""Cell count above which ``ivf_residual_explode`` switches from the
nested-literal centroid lookup to a broadcast relation join. The
literal folds n_cells × dim doubles into EVERY row expression, so plan
size (and generated code) grows linearly with the cell count: fine at
the fixture's 8×64 = 512 doubles, hostile to whole-stage codegen at a
production IVF's thousands of cells (ADVICE r15 #4). 64 × 64 = 4096
literal doubles is comfortably inside codegen limits; beyond that a
broadcast hash join against a (cell_id, i, cx) element relation costs
one broadcast of exactly the same doubles and keeps the plan O(1)."""


def ivf_residual_explode(
    assigned: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cell_id, i, x, sub, init_code) element view of the IVF
    RESIDUALS r = x - centroid[cell_id] — the input PQ trains/encodes on
    in the composed IVF-PQ index (Jegou et al. 2011 §IV: quantizing the
    residual instead of the raw vector is what makes the coarse and fine
    quantizers compose; FAISS calls this layout IVFADC).

    The centroid lookup is a nested array LITERAL indexed by
    (cell_id, i) — n_cells × dim doubles folded into the row expression,
    so the residual is pure whole-stage-codegen arithmetic: no join, no
    broadcast relation, nothing shuffled beyond the explode itself. The
    same columns feed ``pq_codebook`` / ``pq_encode`` unchanged.

    The literal path is bounded at ``IVF_LITERAL_CELLS_MAX`` cells:
    above that, the function transparently switches to a broadcast join
    against a (cell_id, i, cx) centroid element relation — identical
    output, O(1) plan size — so a production-scale cell count can never
    bloat or break codegen."""
    cents_sorted = sorted(centroids, key=lambda t: t[0])
    if [cid for cid, _ in cents_sorted] != list(range(len(cents_sorted))):
        # The +1-indexed literal lookup below is POSITIONAL: a gapped or
        # re-numbered cell-id set would silently subtract another cell's
        # centroid — the silent-corruption class this module refuses
        # loudly everywhere else (and a bare assert would vanish under
        # python -O).
        raise ValueError(
            "ivf_residual_explode expects dense 0..n-1 cell ids "
            f"(IvfIndex.build's enumeration); got {[c for c, _ in cents_sorted]}"
        )
    ex = assigned.select(
        F.col(id_col).alias("vec_id"),
        "cell_id",
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("i0", "x0"),
    )
    if len(cents_sorted) > IVF_LITERAL_CELLS_MAX:
        cent_rel = assigned.sparkSession.createDataFrame(
            [
                (int(cid), i, float(x))
                for cid, cv in cents_sorted
                for i, x in enumerate(cv)
            ],
            "cell_id int, i0 int, cx double",
        )
        ex = ex.join(F.broadcast(cent_rel), ["cell_id", "i0"])
        cx_ivf = F.col("cx")
    else:
        cents_lit = mat_lit([cv for _, cv in cents_sorted])
        cx_ivf = F.element_at(
            F.element_at(cents_lit, F.col("cell_id").cast("int") + 1),
            (F.col("i0") + 1).cast("int"),
        )
    return ex.select(
        "vec_id",
        "cell_id",
        (F.col("i0") + 1).alias("i"),
        (F.col("x0") - cx_ivf).alias("x"),
        F.floor(F.col("i0") / PQ_SUB_DIM).alias("sub"),
        (F.col("vec_id") % PQ_CODES).alias("init_code"),
    )


def _adc_lut(cent: DataFrame, probe_arr: Column) -> DataFrame:
    """The (sub, code) -> quantized-squared-distance LUT aggregation,
    shared by the flat probe (one LUT from the raw probe) and the
    composed probe (one LUT per probed cell from that cell's probe
    RESIDUAL) so the two can never drift: ``probe_arr`` is the
    1-indexed literal array the codebook's ``ci`` indexes into."""
    q = F.lit(float(PQ_Q))
    pdiff = F.element_at(probe_arr, F.col("ci").cast("int")) - F.col("cx")
    return cent.groupBy("sub", "code").agg(
        F.sum(F.round(pdiff * pdiff * q).cast("bigint")).alias("lq")
    )


def _shortlist_rerank(
    adc: DataFrame, e: DataFrame, probe_arr: Column, r_pool: int, k: int
) -> DataFrame:
    """ADC-shortlist + exact-L2 re-rank tail shared by both probes:
    TakeOrdered the best ``r_pool`` ids by (adcq, vec_id), broadcast the
    pool back onto the raw vectors, re-rank by exact L2 with the vec_id
    tie-break. Only the shortlist's floats are ever touched."""
    pool = (
        adc.orderBy(F.col("adcq").asc(), F.col("vec_id").asc())
        .limit(r_pool)
        .select("vec_id")
    )
    from odl_etl_spark.functions.numeric import roundn

    return (
        e.join(F.broadcast(pool), "vec_id")
        .select(
            "vec_id", roundn(l2_distance(F.col("v"), probe_arr), 6).alias("l2_d")
        )
        .orderBy(F.col("l2_d").asc(), F.col("vec_id").asc())
        .limit(k)
    )


def _check_pq_subs_stamp(codes: DataFrame, cent: DataFrame) -> None:
    stamped = _stamped(codes, "code", "pq_subs") or _stamped(cent, "code", "pq_subs")
    if stamped is not None and stamped != PQ_SUBS:
        raise ValueError(
            f"PQ index was built with pq_subs={stamped}, engine expects "
            f"{PQ_SUBS}; rebuild the index"
        )


def ivfpq_lut(
    cent: DataFrame,
    probe_vec: list[float],
    centroids: list[tuple[int, list[float]]],
    cells: list[int],
) -> DataFrame:
    """Per-probed-cell ADC lookup table (cell_id, sub, code, lq) for the
    composed IVF-PQ index. Unlike flat PQ's single 128-entry LUT, IVFADC
    needs one LUT per probed cell because the probe's RESIDUAL differs
    per cell (p - centroid[cell]); the residuals are driver-computed
    parameter data (nprobe × dim doubles) and each LUT is the same
    bigint-quantized squared-distance aggregate as ``pq_probe``'s. Total
    size nprobe × PQ_SUBS × PQ_CODES rows — broadcast material."""
    if not cells:
        raise ValueError(
            "ivfpq_lut: need at least one probed cell (nprobe >= 1)"
        )
    if len(set(cells)) != len(cells):
        # A repeated cell would emit duplicate (cell, sub, code) LUT rows;
        # the probe's join would then fan out and SUM each matched code
        # twice — silently wrong ADC scores, so refuse loudly instead.
        raise ValueError(f"ivfpq_lut: probed cells must be unique, got {cells}")
    by_id = dict(centroids)
    missing = sorted(set(cells) - set(by_id))
    if missing:
        # A bare KeyError from by_id[cid] would point at a dict lookup,
        # not at the contract the caller broke (probed cells must come
        # from the SAME centroid set that built the codes) — same loud-
        # ValueError convention as the gapped/duplicate/empty refusals.
        raise ValueError(
            f"ivfpq_lut: probed cells {missing} not in the centroid set "
            f"{sorted(by_id)} — probe with the index's own nearest_cells"
        )
    luts = []
    for cid in cells:
        if len(probe_vec) != len(by_id[cid]):
            # zip() would silently truncate to the shorter side — a
            # residual missing dimensions scores every code too close.
            raise ValueError(
                f"ivfpq_lut: probe dim {len(probe_vec)} != centroid dim "
                f"{len(by_id[cid])} for cell {cid} — wrong-index probe"
            )
        pr = [float(p) - float(c) for p, c in zip(probe_vec, by_id[cid])]
        parr = vec_lit(pr)
        luts.append(
            _adc_lut(cent, parr).select(
                F.lit(cid).alias("cell_id"), "sub", "code", "lq"
            )
        )
    out = luts[0]
    for other in luts[1:]:
        out = out.unionByName(other)
    return out


def ivfpq_probe(
    codes: DataFrame,
    cent: DataFrame,
    e: DataFrame,
    probe_vec: list[float],
    centroids: list[tuple[int, list[float]]],
    cells: list[int],
    r_pool: int,
    k: int = 10,
) -> DataFrame:
    """Search a composed IVF-PQ index: ``codes`` is the cell-carrying
    codes relation (vec_id, cell_id, sub, code) from
    ``pq_encode(..., extra_keys=("cell_id",))``. The cell filter runs
    FIRST (partition pruning against a cell_id-partitioned stored
    layout — only nprobe/n_cells of the codes are ever scanned), then
    the per-cell broadcast LUT join scores survivors by integer ADC,
    the best ``r_pool`` ids form the shortlist, and only the
    shortlist's raw vectors are re-ranked with exact L2 — corpus floats
    outside the shortlist are never touched, same as ``pq_probe``."""
    _check_pq_subs_stamp(codes, cent)
    lut = ivfpq_lut(cent, probe_vec, centroids, cells)
    adc = (
        codes.where(F.col("cell_id").isin(cells))
        .join(F.broadcast(lut), ["cell_id", "sub", "code"])
        .groupBy("vec_id")
        .agg(F.sum("lq").alias("adcq"))
    )
    parr = vec_lit(probe_vec)
    return _shortlist_rerank(adc, e, parr, r_pool, k)


def ivfpq_index(
    assigned: DataFrame,
    centroids: list[tuple[int, list[float]]],
    train_stamp: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Build both IVFADC artifacts from a cell-assigned corpus:
    ``(codebook, codes)`` — the residual codebook and the cell-carrying
    codes relation (vec_id, cell_id, sub, code) a deployment persists
    ``partitionBy("cell_id")``. ``train_stamp=True`` stamps
    ``pq_train_n`` on the codebook (the ``pq_index`` convention), the
    prerequisite for ``ivfpq_index_append``'s staleness contract."""
    ex = ivf_residual_explode(assigned, centroids, id_col=id_col, vec_col=vec_col)
    cent = pq_codebook(ex)
    if train_stamp:
        n_train = (
            assigned.where(F.col(id_col) != 0).select(id_col).distinct().count()
        )
        cent = cent.withColumn(
            "code",
            F.col("code").alias(
                "code", metadata={"pq_subs": PQ_SUBS, "pq_train_n": n_train}
            ),
        )
    return cent, pq_encode(ex, cent, extra_keys=("cell_id",))


def ivfpq_index_append(
    index,
    assigned: DataFrame,
    cent: DataFrame,
    codes: DataFrame,
    new_e: DataFrame,
    max_drift: float = PQ_MAX_TRAIN_DRIFT,
    n_existing: int | None = None,
    n_new: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Incremental maintenance for a stored IVFADC index — completing
    the append symmetry across all FOUR index families (hyperplane_
    index_append, pq_index_append, IvfIndex.append, and now the
    composition). ``index`` is the IvfIndex whose centroids built the
    store; ``assigned``/``cent``/``codes`` are the stored relations;
    ``new_e`` is the arriving (id, vector) batch.

    Both halves' refusal sets apply IN FULL before anything is encoded:
    the coarse half re-proves the stored assignment's cell count AND
    centroid value checksum (``IvfIndex.append`` — same-k/different-
    values is the silent mis-bucketing it exists to refuse), and the
    fine half enforces the codebook's subspace stamp, mandatory
    ``pq_train_n`` training stamp, and drift-bounded staleness
    (``_check_pq_append_contract`` — the centroids AND the residual
    codebook were both trained on the original corpus, so coarse-half
    drift is fine-half drift too; one bound covers both).

    Returns ``(assigned_rows, codes_rows)`` for the new vectors only,
    ready to append to the two stored relations (both immutable —
    ``mode("append").partitionBy("cell_id")`` at scale, no dynamic
    overwrite). The reserved probe id 0 is excluded from BOTH returned
    relations (``pq_encode`` drops it from the codes unconditionally;
    filtering it before assignment too keeps the two stores in lockstep
    — an assigned-but-never-encoded row would inflate probed-cell
    counts and let cell searches retrieve a vector ADC can never
    score). Centroids and codebook are fixed parameters, so
    append ≡ rebuild-against-the-same-artifacts exactly — pinned by
    test_ivfpq_index_append_equals_reencode."""
    new_body = new_e.where(F.col(id_col) != 0)
    new_assigned = index.append(assigned, new_body, vec_col=vec_col)
    _check_pq_append_contract(
        cent, codes, new_body.withColumnRenamed(id_col, "vec_id"),
        max_drift, n_existing, n_new,
        rebuild_hint="ivfpq_index(assigned, centroids, train_stamp=True)",
        retrain_hint="ivfpq_index over the re-assigned full corpus",
    )
    # Lineage cut AFTER the refusal gates: both returned relations read
    # the batch assignment (codes derive from its residuals), so a
    # caller persisting the pair would otherwise run the batch's
    # argmin-assign twice. Batch-bounded — this is the arriving
    # micro-batch, not the corpus.
    from odl_etl_spark.operators.materialize import materialize

    new_assigned = materialize(new_assigned)
    ex = ivf_residual_explode(
        new_assigned, index.centroids, id_col=id_col, vec_col=vec_col
    )
    return new_assigned, pq_encode(ex, cent, extra_keys=("cell_id",))


def pq_probe(
    codes: DataFrame,
    cent: DataFrame,
    e: DataFrame,
    probe_vec: list[float],
    r_pool: int,
    k: int = 10,
) -> DataFrame:
    """Search against PREBUILT (codebook, codes): broadcast a 128-entry
    (sub, code) -> quantized-squared-distance LUT computed from the
    probe and the codebook, ADC-score the stored codes (integer sums —
    corpus floats never touched), shortlist the best ``r_pool`` ids,
    then exact-L2 re-rank only the shortlisted raw vectors. ``r_pool``
    must be constant-bounded at scale (the `sim_ann_pq` R_MAX
    contract) so the re-rank broadcast stays bounded."""
    _check_pq_subs_stamp(codes, cent)
    parr = vec_lit(probe_vec)
    adc = (
        codes.join(F.broadcast(_adc_lut(cent, parr)), ["sub", "code"])
        .groupBy("vec_id")
        .agg(F.sum("lq").alias("adcq"))
    )
    return _shortlist_rerank(adc, e, parr, r_pool, k)
