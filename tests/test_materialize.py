"""materialize(): the one configurable lineage-cut primitive.

Every iterative operator routes its lineage cut through
``operators/materialize.py``; these tests exercise both modes and
prove an iterative consumer is mode-agnostic (same result under
local / checkpoint).
"""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from odl_etl_spark.operators.materialize import MODE_CONF, materialize


def _src(spark):
    return spark.range(100).withColumn("v", F.col("id") % 7)


def _clear_checkpoint_dir(spark):
    # Tests asserting the no-dir error must not see a leaked dir; the
    # Scala var's setter is `checkpointDir_$eq` ($ needs getattr).
    getattr(spark.sparkContext._jsc.sc(), "checkpointDir_$eq")(
        spark._jvm.scala.Option.empty()
    )


def test_local_mode_cuts_lineage(spark):
    out = materialize(_src(spark))  # default mode
    # Lineage is truncated: the plan reads the checkpointed blocks, not
    # the range+project pipeline.
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan or "ExistingRDD" in plan
    assert out.count() == 100
    assert out.agg(F.sum("v")).first()[0] == _src(spark).agg(F.sum("v")).first()[0]


def test_checkpoint_mode_requires_dir(spark):
    with pytest.raises(ValueError, match="checkpoint dir"):
        materialize(_src(spark), mode="checkpoint")


def test_checkpoint_mode_with_dir(spark, tmp_path):
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        out = materialize(_src(spark), mode="checkpoint")
        assert out.count() == 100
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in plan or "ExistingRDD" in plan
    finally:
        _clear_checkpoint_dir(spark)


def test_mode_from_session_conf(spark, tmp_path):
    ckpt = tmp_path / "ckpt"
    spark.sparkContext.setCheckpointDir(str(ckpt))
    spark.conf.set(MODE_CONF, "checkpoint")
    try:
        out = materialize(_src(spark))
        assert out.count() == 100
        # A reliable checkpoint wrote its blocks to the dir; the default
        # local mode writes nothing there.
        assert any(files for _, _, files in os.walk(ckpt))
    finally:
        spark.conf.unset(MODE_CONF)
        _clear_checkpoint_dir(spark)


def test_unknown_mode_raises(spark):
    with pytest.raises(ValueError, match="unknown mode"):
        materialize(_src(spark), mode="nope")


def test_enable_durable_materialize_one_call(spark, tmp_path):
    """session.enable_durable_materialize flips every iterative operator
    to reliable checkpointing in one call."""
    from odl_etl_spark.session import enable_durable_materialize

    try:
        enable_durable_materialize(spark, str(tmp_path / "dfs_ckpt"))
        assert spark.conf.get(MODE_CONF) == "checkpoint"
        out = materialize(_src(spark))  # no per-call mode: conf decides
        assert out.count() == 100
    finally:
        spark.conf.unset(MODE_CONF)
        _clear_checkpoint_dir(spark)


def test_iterative_consumer_is_mode_agnostic(spark, tmp_path):
    """connected_components routes every cut through materialize();
    its output must be identical under both modes."""
    from odl_etl_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "src long, dst long"
    )
    want = {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (20, 20)}

    def run():
        got = connected_components(edges)
        return {(r["node"], r["component"]) for r in got.collect()}

    assert run() == want  # local (default)
    spark.sparkContext.setCheckpointDir(str(tmp_path / "cc_ckpt"))
    spark.conf.set(MODE_CONF, "checkpoint")
    try:
        assert run() == want
    finally:
        spark.conf.unset(MODE_CONF)
        _clear_checkpoint_dir(spark)


def test_overlapping_aqe_off_calls_restore_aqe(spark, monkeypatch):
    """materialize_aqe_off toggles the session-global AQE flag. Two
    overlapping calls (a foreachBatch thread next to a main-thread
    build) must leave it as it was: without serialization the second
    call saves the first's "false" as its previous value and, finishing
    last, leaves AQE off for the rest of the session. The cut itself is
    replaced by a stub that holds each call inside its critical section
    until released, so the interleaving is forced, not timed."""
    import odl_etl_spark.operators.materialize as m

    key = "spark.sql.adaptive.enabled"
    inside = {"a": threading.Event(), "b": threading.Event()}
    release = {"a": threading.Event(), "b": threading.Event()}

    def held_cut(df, mode=None):
        name = threading.current_thread().name
        inside[name].set()
        assert release[name].wait(30)
        return df

    monkeypatch.setattr(m, "materialize", held_cut)
    df = spark.range(1)
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "true")
    threads = {
        n: threading.Thread(target=m.materialize_aqe_off, args=(df,), name=n)
        for n in ("a", "b")
    }
    try:
        threads["a"].start()
        assert inside["a"].wait(30)
        threads["b"].start()
        # Unserialized, b enters while a still holds AQE off.
        inside["b"].wait(2)
        release["a"].set()
        threads["a"].join(30)
        assert inside["b"].wait(30)
        release["b"].set()
        threads["b"].join(30)
        assert not threads["a"].is_alive() and not threads["b"].is_alive()
        assert spark.conf.get(key) == "true"
    finally:
        for ev in release.values():
            ev.set()
        spark.conf.set(key, prev)


def test_checkpoint_mode_survives_executor_loss():
    """Fault injection (VERDICT r5 #4): connected_components on
    local-cluster[2,1,1024] with materialize(mode='checkpoint'); one
    executor JVM is SIGKILLed mid-iteration and the job must still
    produce the exact union-find answer. Runs in a subprocess because a
    local-cluster SparkContext can't coexist with the session fixture's.
    Exit 3 = environment can't run local-cluster, 4 = kill landed after
    completion — both skip rather than flake."""
    import os
    import subprocess
    import sys

    script = os.path.join(os.path.dirname(__file__), "_fault_inject_cc.py")
    proc = subprocess.run(
        [sys.executable, script],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(script))),
    )
    tail = "\n".join((proc.stdout + proc.stderr).splitlines()[-15:])
    if proc.returncode in (3, 4):
        pytest.skip(f"fault-injection scenario unavailable: {tail}")
    assert proc.returncode == 0, tail


def test_materialize_prepartitioned_records_partitioning(spark):
    """materialize_prepartitioned must record hashpartitioning on the
    cut so downstream joins elide the exchange — under AQE a plain
    pre-partitioned checkpoint reports UnknownPartitioning and every
    consumer re-exchanges (the r17 latent flaw; see
    plans/r18/cc_prepart_aqe_probe.txt)."""
    import pyspark.sql.functions as F

    from odl_etl_spark.operators.materialize import materialize_prepartitioned

    e = spark.range(0, 1000).select(
        (F.col("id") % 97).alias("_u"), (F.col("id") % 7).alias("_v")
    )
    labels = spark.range(0, 97).select(
        F.col("id").alias("_u"), F.col("id").alias("_label")
    )
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plain = e.localCheckpoint(eager=True)
        prep = materialize_prepartitioned(e, ["_u"])
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"  # restored

        def edge_side_exchanges(sym):
            plan = (
                sym.join(labels, "_u")
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            # exchanges above a Scan ExistingRDD (the checkpointed side)
            return plan.count("Exchange hashpartitioning(_u#")

        # plain cut: BOTH sides re-exchanged; prepartitioned cut: only
        # the labels side exchanges (edge-side exchange elided).
        assert edge_side_exchanges(plain) == 2
        assert edge_side_exchanges(prep) == 1
        got = {
            (r["_u"], r["_label"])
            for r in prep.join(labels, "_u").select("_u", "_label").collect()
        }
        want = {
            (r["_u"], r["_label"])
            for r in plain.join(labels, "_u").select("_u", "_label").collect()
        }
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
