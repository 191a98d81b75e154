"""The three benchmark workloads.

Each workload is a closed loop with one client: the next call goes to
the engine only after the previous one has returned. Inputs come from
``datagen`` and the seed alone; the engine sees only the generated
tables. The amount of work in a run is fixed by the workload and by
``--seconds`` (never by how fast the engine went), so the parent commit
and a change do the same work and their times compare directly.

* ``etl_star`` -- a fixed list of registry keys of the star-schema tier
  (scans and sinks, scalar expressions, joins, aggregates, windows, set
  operations, TPC-H). Short interactive queries: the per-query
  planning and job-launch floor dominates.
* ``lake_curation`` -- the curation funnel with its partitioned lake
  write, incremental cluster maintenance and PageRank over a larger
  corpus. Lineage cuts, MinHash-LSH, connected components, shuffles
  and the lake sink do the work.
* ``stream_ingest`` -- micro-batches through the dedup and PQ ingest
  loops, each batch reading the state the previous one committed, then
  one compaction. The write path beside the reads.
"""

from __future__ import annotations

import glob
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import datagen
from perfbench.harness import Tracer

# The star-schema keys etl_star runs: a fixed cross-section of
# queries.scans, scalars, joins, aggs, windows, setops and tpch with the
# lake sink, sink_upsert, the flagship project_hash_email and three TPC-H
# queries in it. The list and its order are fixed, so every run does the
# same work whatever the seed (a seed-shuffled order let JIT warm-up land
# on different keys and doubled the spread of the median). It is a fifth
# of the tier's 85 keys because a run has about 20 seconds.
ETL_KEYS = [
    "scan_parquet", "sink_partitioned", "sink_upsert",
    "project_hash_email", "udaf_regression",
    "join_inner_equi", "join_broadcast",
    "agg_groupby", "agg_approx_distinct", "agg_decimal_exact",
    "win_rank", "timeseries_gapfill", "sort_limit",
    "sql_tpch_q2", "sql_tpch_q8", "sql_tpch_q12",
]  # fmt: skip


def _duck(data_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in datagen.TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _same(cols_a, rows_a, cols_b, rows_b) -> bool:
    from tools.selfcheck import canon_rows

    return sorted(cols_a) == sorted(cols_b) and canon_rows(cols_a, rows_a) == canon_rows(
        cols_b, rows_b
    )


def _oracle_ok(con, spec, result) -> bool:
    cols, rows = result
    rel = con.execute(spec.oracle)
    return _same(cols, rows, [d[0] for d in rel.description], rel.fetchall())


def _collect(df):
    return df.columns, [tuple(r) for r in df.collect()]


class Workload:
    name = ""
    # Work per run is round(seconds / nominal_pass_s) passes, at least one.
    nominal_pass_s = 20.0
    # Input tables the workload reads; the warm-up lists each once.
    tables: tuple[str, ...] = ()
    # Whether the workload runs Python UDFs, so the warm-up starts the
    # Python worker pool.
    python_workers = False

    def __init__(self, seed: int, seconds: int, work_dir: str):
        self.seed = seed
        self.work_dir = work_dir
        self.data_dir = os.path.join(work_dir, "data")
        self.passes = max(1, round(seconds / self.nominal_pass_s))
        self.input: dict = {"seed": seed}
        self.results: dict = {}
        self.attempted = 0
        self.failures: list[str] = []

    def generate(self) -> None:
        raise NotImplementedError

    def warm_up(self, spark, tracer: Tracer) -> None:
        """Untimed first use of the JVM, codegen, the input tables' file
        listings and, where the workload needs it, the Python worker pool."""
        from odl_etl_spark.io.sources import load_table

        with tracer.span("session.warmup"):
            for t in self.tables:
                load_table(spark, self.data_dir, t)
            if not self.python_workers:
                return

            def _touch(it):
                import numpy  # noqa: F401
                import pandas  # noqa: F401

                yield from it

            n = spark.sparkContext.defaultParallelism
            spark.range(0, n * 4, 1, n).mapInPandas(_touch, "id long").write.format(
                "noop"
            ).mode("overwrite").save()

    def bootstrap(self, spark, tracer: Tracer) -> None:
        """Program-side state the timed pass starts from (none by default)."""

    def describe(self, spark, traced: bool) -> None:
        """Add measured input properties to ``self.input`` (after the
        timed work)."""

    def run_pass(self, spark, tracer: Tracer, p: int) -> None:
        raise NotImplementedError

    def check(self, spark) -> list[str]:
        """Compare every output with its reference; return the ops that
        failed or mismatched, one line each."""
        raise NotImplementedError

    def op(self, tracer: Tracer, name: str, key: str, call) -> None:
        """One client call: timed as an op span, counted as attempted, its
        first result kept for the check. An op that raises is a failed op."""
        self.attempted += 1
        with tracer.span(name, op=True):
            try:
                result = call()
            except Exception as exc:  # noqa: BLE001 - a failed op is counted
                self.failures.append(f"{key}: {type(exc).__name__}: {exc}"[:300])
                return
        self.results.setdefault(key, result)

    def query(self, spark, tracer: Tracer, spec):
        """Build a registry key and collect its result to the client."""
        with tracer.span("queries.build"):
            df = spec.build(spark, self.data_dir)
        with tracer.span("queries.action"):
            return _collect(df)


class EtlStar(Workload):
    name = "etl_star"
    nominal_pass_s = 20.0
    tables = tuple(datagen.TABLES)
    python_workers = True

    def generate(self) -> None:
        sizes = datagen.Sizes(scale=0.01, docs=500, vectors=500)
        self.input["tables"] = datagen.write(
            datagen.generate(self.seed, sizes), self.data_dir
        )
        self.order = [ETL_KEYS] * self.passes
        self.input["keys"] = len(ETL_KEYS)
        self.input["passes"] = self.passes

    def run_pass(self, spark, tracer: Tracer, p: int) -> None:
        from odl_etl_spark.queries import registry

        specs = registry()
        for key in self.order[p]:
            self.op(tracer, "queries.op", key, lambda: self.query(spark, tracer, specs[key]))

    def check(self, spark):
        from odl_etl_spark.queries import registry

        specs = registry()
        con = _duck(self.data_dir)
        bad = [
            f"{key}: result differs from the DuckDB oracle"
            for key, res in self.results.items()
            if not _oracle_ok(con, specs[key], res)
        ]
        con.close()
        return bad


class LakeCuration(Workload):
    name = "lake_curation"
    nominal_pass_s = 20.0
    LAKE_KEYS = ("dedup_cluster_incremental", "graph_pagerank")
    tables = ("documents", "lineitem")

    def generate(self) -> None:
        sizes = datagen.Sizes(scale=0.01, docs=1500, vectors=10)
        self.input["tables"] = datagen.write(
            datagen.generate(self.seed, sizes), self.data_dir, self.tables
        )
        self.input["passes"] = self.passes
        self.lake_dir = os.path.join(self.work_dir, "lake")

    def _curate(self, spark):
        from odl_etl_spark.pipelines import curation

        shutil.rmtree(self.lake_dir, ignore_errors=True)
        _, funnel = curation.curate_corpus(spark, self.data_dir, self.lake_dir)
        return _collect(funnel)

    def run_pass(self, spark, tracer: Tracer, p: int) -> None:
        from odl_etl_spark.queries import registry

        specs = registry()
        self.op(tracer, "pipelines.op", "curate_corpus", lambda: self._curate(spark))
        for key in self.LAKE_KEYS:
            self.op(tracer, "queries.op", key, lambda: self.query(spark, tracer, specs[key]))

    def describe(self, spark, traced: bool) -> None:
        # One more Spark job per run: only the traced run pays for it.
        if traced:
            self.input["top_bucket_share"] = top_bucket_share(
                spark, os.path.join(self.data_dir, "documents.parquet")
            )

    def check(self, spark):
        from odl_etl_spark.queries import registry

        specs = registry()
        con = _duck(self.data_dir)
        bad = []
        funnel = self.results.get("curate_corpus")
        if funnel is not None:
            if not _oracle_ok(con, specs["corpus_curation_funnel"], funnel):
                bad.append("curate_corpus: funnel differs from the DuckDB oracle")
            kept = dict(funnel[1]).get("kept", 0)
            files = glob.glob(os.path.join(self.lake_dir, "**", "*.parquet"), recursive=True)
            lake = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
            if lake != kept:
                bad.append(f"curate_corpus: lake holds {lake} rows, funnel kept {kept}")
            self.funnel = dict(funnel[1])
        for key in self.LAKE_KEYS:
            if key in self.results and not _oracle_ok(con, specs[key], self.results[key]):
                bad.append(f"{key}: result differs from the DuckDB oracle")
        con.close()
        return bad


def top_bucket_share(spark, docs_path: str) -> float:
    """Largest MinHash-LSH band bucket's share of all band postings of a
    document table: how skewed the candidate join's input is."""
    from odl_etl_spark.operators.dedup import minhash_band_index

    idx = minhash_band_index(spark.read.parquet(docs_path), "doc_id", "text", n=3)
    return _top_share(idx.groupBy("_band", "_bh").count().toPandas()["count"])


def _top_share(counts) -> float:
    total = float(counts.sum())
    return float(counts.max()) / total if total else 0.0


class StreamIngest(Workload):
    name = "stream_ingest"
    # One pass is the whole ingest; --seconds sets how many micro-batches.
    nominal_batch_s = 6.5
    BATCH_DOCS = 40
    BATCH_VECS = 40
    CORPUS_DOCS = 400
    tables = ("documents", "embeddings")

    def __init__(self, seed: int, seconds: int, work_dir: str):
        super().__init__(seed, seconds, work_dir)
        self.passes = 1
        self.n_batches = max(3, round(seconds / self.nominal_batch_s))

    def warm_up(self, spark, tracer: Tracer) -> None:
        """None: the bootstrap is the first use of every code path."""

    def generate(self) -> None:
        import numpy as np

        n_docs = self.CORPUS_DOCS + self.n_batches * self.BATCH_DOCS
        # The PQ codebook refuses appends past 50% growth over its
        # training set; train on 2.5x the arriving vectors.
        n_arrive_v = self.n_batches * self.BATCH_VECS
        n_vecs = int(n_arrive_v * 3.5) + 1
        sizes = datagen.Sizes(scale=0.01, docs=n_docs, vectors=n_vecs)
        tables = datagen.generate(self.seed, sizes)
        self.input["tables"] = datagen.write(tables, self.data_dir, self.tables)
        rng = np.random.default_rng(self.seed + 1)
        doc_perm = rng.permutation(n_docs)
        # vec_id 0 is the PQ tier's reserved probe id; keep it out of
        # the arrivals.
        vec_perm = 1 + rng.permutation(n_vecs - 1)
        docs, vecs = tables["documents"], tables["embeddings"]
        land = os.path.join(self.work_dir, "landing")
        os.makedirs(land, exist_ok=True)
        arrive_d = doc_perm[: self.n_batches * self.BATCH_DOCS]
        arrive_v = vec_perm[:n_arrive_v]
        self.corpus_docs = os.path.join(land, "corpus_docs.parquet")
        self.corpus_vecs = os.path.join(land, "corpus_vecs.parquet")
        pq.write_table(docs.take(np.sort(doc_perm[len(arrive_d):])), self.corpus_docs)
        keep_v = np.concatenate([[0], np.sort(vec_perm[n_arrive_v:])])
        pq.write_table(vecs.take(keep_v), self.corpus_vecs)
        self.batches = []
        in_bytes = 0
        for b in range(self.n_batches):
            d = os.path.join(land, f"docs_{b}.parquet")
            v = os.path.join(land, f"vecs_{b}.parquet")
            pq.write_table(
                docs.take(np.sort(arrive_d[b * self.BATCH_DOCS : (b + 1) * self.BATCH_DOCS])), d
            )
            pq.write_table(
                vecs.take(np.sort(arrive_v[b * self.BATCH_VECS : (b + 1) * self.BATCH_VECS])), v
            )
            in_bytes += os.path.getsize(d) + os.path.getsize(v)
            self.batches.append((d, v))
        self.input.update(
            micro_batches=self.n_batches,
            batch_docs=self.BATCH_DOCS,
            batch_vectors=self.BATCH_VECS,
            corpus_docs=int(n_docs - len(arrive_d)),
            corpus_vectors=int(len(keep_v)),
            timed_input_bytes=in_bytes,
        )
        self.state_dir = os.path.join(self.work_dir, "state")
        self.state_sizes: list[tuple[int, int]] = []

    @staticmethod
    def _vectors(spark, path: str):
        from pyspark.sql import functions as F

        return spark.read.parquet(path).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )

    def bootstrap(self, spark, tracer: Tracer) -> None:
        """Index the standing corpus and train the PQ codebook on it."""
        from odl_etl_spark.streaming import ingest_ann, ingest_dedup

        with tracer.span("streaming.bootstrap"):
            ingest_dedup.bootstrap_corpus_index(
                spark.read.parquet(self.corpus_docs), self.state_dir
            )
            ingest_ann.bootstrap_pq_state(
                self._vectors(spark, self.corpus_vecs), self.state_dir
            )

    def _commit(self, spark, b: int, docs: str, vecs: str) -> None:
        from odl_etl_spark.streaming import ingest_ann, ingest_dedup

        ingest_dedup.probe_and_commit_batch(spark.read.parquet(docs), b, self.state_dir)
        ingest_ann.pq_append_and_commit(self._vectors(spark, vecs), b, self.state_dir)

    def _state_size(self) -> tuple[int, int]:
        n_bytes = n_files = 0
        for root, _, files in os.walk(self.state_dir):
            for f in files:
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(root, f))
        return n_bytes, n_files

    def run_pass(self, spark, tracer: Tracer, p: int) -> None:
        from odl_etl_spark.streaming import ingest_dedup

        for b, (d, v) in enumerate(self.batches):
            self.op(tracer, "streaming.op", f"batch_{b}", lambda: self._commit(spark, b, d, v))
            self.state_sizes.append(self._state_size())
        with tracer.span("streaming.compact"):
            ingest_dedup.compact_state(spark, self.state_dir, self.n_batches - 2)

    def describe(self, spark, traced: bool) -> None:
        # The committed band index holds every document's postings.
        files = glob.glob(os.path.join(self.state_dir, "index", "**", "*.parquet"), recursive=True)
        idx = pa.concat_tables(pq.read_table(f, columns=["_band", "_bh"]) for f in files)
        counts = idx.group_by(["_band", "_bh"]).aggregate([([], "count_all")])
        self.input["top_bucket_share"] = _top_share(counts["count_all"].to_numpy())

    def check(self, spark):
        """Committed pairs equal one probe of every arrival against the
        corpus and all arrivals, kept where the match arrived earlier;
        stored codes equal one encoding of all vectors against the
        stored codebook."""
        from pyspark.sql import functions as F

        from odl_etl_spark.operators.ann_index import pq_encode, pq_explode
        from odl_etl_spark.operators.dedup import minhash_lsh_probe
        from odl_etl_spark.streaming import ingest_ann, ingest_dedup

        bad = []
        arrivals = None
        for b, (d, _) in enumerate(self.batches):
            df = spark.read.parquet(d).select("doc_id", "text").withColumn(
                "_batch_id", F.lit(b)
            )
            arrivals = df if arrivals is None else arrivals.unionByName(df)
        corpus = (
            spark.read.parquet(self.corpus_docs)
            .select("doc_id", "text")
            .withColumn("_batch_id", F.lit(-1))
        )
        everything = corpus.unionByName(arrivals)
        pairs = minhash_lsh_probe(arrivals, everything, "doc_id", "text", n=3, threshold=0.8)
        nb = arrivals.select(F.col("doc_id").alias("new_id"), F.col("_batch_id").alias("nb"))
        eb = everything.select(F.col("doc_id").alias("ex_id"), F.col("_batch_id").alias("eb"))
        expected = (
            pairs.join(nb, "new_id")
            .join(eb, "ex_id")
            .where(F.col("eb") < F.col("nb"))
            .select("new_id", "ex_id", "jaccard", F.col("nb").alias("_batch_id"))
        )
        got = _collect(ingest_dedup.emitted_pairs(spark, self.state_dir))
        if not _same(*got, *_collect(expected)):
            bad.append("ingest_dedup: committed pairs differ from a one-shot probe")
        self.pairs_emitted = len(got[1])

        cent, codes = ingest_ann.stored_pq(spark, self.state_dir)
        every_v = self._vectors(spark, os.path.join(self.data_dir, "embeddings.parquet"))
        one_shot = pq_encode(pq_explode(every_v), cent)
        if not _same(*_collect(codes), *_collect(one_shot)):
            bad.append("ingest_ann: stored PQ codes differ from a one-shot encoding")
        return bad


WORKLOADS = {w.name: w for w in (EtlStar, LakeCuration, StreamIngest)}
