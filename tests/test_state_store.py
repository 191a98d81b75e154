"""The shared staged swap of streaming/state.py, crashed at every step.

Every whole-store rewrite of the ingest tier (compaction, PQ/IVF-PQ
retrain, cluster folds) goes through ``staged_swap``. A crash at any
step, followed by ``recover_torn_swap``, must leave the WHOLE old store
or the WHOLE new store — never a mix, never nothing — and no swap
leftovers.
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
import pytest

from odl_etl_spark.streaming import state


class Crash(Exception):
    pass


def _write_store(path: str, tag: str) -> None:
    os.makedirs(path)
    for i in range(3):
        with open(os.path.join(path, f"part-{i}"), "w") as f:
            f.write(f"{tag}-{i}")


def _read_store(path: str) -> dict[str, str]:
    out = {}
    for fn in os.listdir(path):
        if fn != state._STAGE_MARKER:
            with open(os.path.join(path, fn)) as f:
                out[fn] = f.read()
    return out


def _crash_at(monkeypatch, step: str) -> None:
    """Make the swap raise at ``step``: the Nth ``os.rename`` call
    (``rename1``/``rename2``) or the final delete of the ``_old`` backup
    (``rmtree_old``, the only ``rmtree`` of ``_old`` that does not
    ignore errors)."""
    real_rename, real_rmtree = os.rename, shutil.rmtree
    calls = {"n": 0}

    def rename(src, dst):
        calls["n"] += 1
        if step == f"rename{calls['n']}":
            raise Crash(step)
        real_rename(src, dst)

    def rmtree(path, *a, **kw):
        if step == "rmtree_old" and str(path).endswith("_old") and not kw:
            raise Crash(step)
        real_rmtree(path, *a, **kw)

    monkeypatch.setattr(os, "rename", rename)
    monkeypatch.setattr(shutil, "rmtree", rmtree)


@pytest.mark.parametrize(
    "first_write, step, survivor",
    [
        (True, "write", None),
        (True, "rename1", "new"),
        (False, "write", "old"),
        (False, "rename1", "old"),
        (False, "rename2", "new"),
        (False, "rmtree_old", "new"),
    ],
)
def test_staged_swap_crash_recovers_whole_old_or_new(
    tmp_path, monkeypatch, first_write, step, survivor
):
    state_dir = str(tmp_path)
    path = os.path.join(state_dir, "store")
    if not first_write:
        _write_store(path, "old")
    want = {
        "old": {f"part-{i}": f"old-{i}" for i in range(3)},
        "new": {f"part-{i}": f"new-{i}" for i in range(3)},
    }

    _crash_at(monkeypatch, step)
    with pytest.raises(Crash):
        with state.staged_swap(path) as stage:
            os.makedirs(stage)
            with open(os.path.join(stage, "part-0"), "w") as f:
                f.write("new-0")
            if step == "write":  # torn staging write: one of three files
                raise Crash(step)
            for i in (1, 2):
                with open(os.path.join(stage, f"part-{i}"), "w") as f:
                    f.write(f"new-{i}")
    monkeypatch.undo()

    state.recover_torn_swap(state_dir, ("store",))
    if survivor is None:
        assert not os.path.exists(path)  # nothing was ever committed
    else:
        assert _read_store(path) == want[survivor]
    assert sorted(os.listdir(state_dir)) == ([] if survivor is None else ["store"])


@pytest.mark.parametrize("step", ["rename1", "rename2", "rmtree_old"])
def test_compaction_crash_recovers_whole_store(spark, tmp_path, monkeypatch, step):
    """The same matrix through a real compaction (``fold_into_baseline``
    on a ``_batch_id`` store): after recovery the store holds every row
    exactly once, either in the old per-batch layout or folded."""
    state_dir = str(tmp_path / "state")
    path = os.path.join(state_dir, "idx")
    spark.range(30).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("int").alias("_batch_id")
    ).write.partitionBy("_batch_id").parquet(path)

    _crash_at(monkeypatch, step)
    with pytest.raises(Crash):
        state.fold_into_baseline(spark, path, 1, "k")
    monkeypatch.undo()

    state.recover_torn_swap(state_dir, ("idx",))
    rows = [(r["k"], r["_batch_id"]) for r in spark.read.parquet(path).collect()]
    assert sorted(k for k, _ in rows) == list(range(30))
    folded = {(k, -1 if k % 3 <= 1 else 2) for k in range(30)}
    unfolded = {(k, k % 3) for k in range(30)}
    assert set(rows) == (unfolded if step == "rename1" else folded)
    assert sorted(os.listdir(state_dir)) == ["idx"]
