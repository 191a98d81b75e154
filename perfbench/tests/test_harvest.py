"""The counter harvest works with the Spark UI disabled and attributes
every job of a run to a span.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402
from perfbench.harness import StatusStores, Tracer, harvest, metric_value, tail  # noqa: E402
from perfbench.run import CORES, _drain, _session, _stop_spark  # noqa: E402


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    from odl_etl_spark.queries import registry

    work = str(tmp_path_factory.mktemp("perfbench"))
    data = os.path.join(work, "data")
    datagen.write(datagen.generate(5, datagen.Sizes(0.001, docs=200, vectors=50)), data)
    spark = _session(work)
    try:
        assert spark.conf.get("spark.ui.enabled") == "false"
        specs = registry()
        tracer = Tracer(spark.sparkContext, prefix="perfbench-test")
        stores = StatusStores(spark)
        _drain(spark)
        first = stores.max_job_id()
        tracer.wrap_engine()
        # agg_groupby shuffles; graph_pagerank runs nested lineage cuts
        # from inside the engine's own calls.
        for key in ("agg_groupby", "graph_pagerank"):
            with tracer.span("queries.op", op=True):
                specs[key].build(spark, data).collect()
        tracer.unwrap_engine()
        _drain(spark)
        yield tracer, harvest(stores, tracer, first, CORES, stores.max_job_id())
    finally:
        _stop_spark(spark)


def test_harvest_counts_jobs_and_shuffle_with_ui_disabled(traced):
    _, c = traced
    assert c["spark.jobs"] > 0
    assert c["spark.shuffle_write_bytes"] > 0
    assert c["physical.sql_executions"] > 0


def test_jobs_attributed_to_spans_sum_to_run_jobs(traced):
    tracer, c = traced
    assert c["spark.attributed_jobs"] == c["spark.jobs"]
    top = c["layers"]["queries.op"]["jobs"]
    assert top == c["spark.jobs"]
    # The wrapped engine call opened its own nested spans.
    assert c["layers"]["operators.pagerank"]["calls"] == 1
    assert c["layers"]["operators.pagerank"]["jobs"] > 0


def test_metric_value_parses_store_strings():
    assert metric_value("1,234") == 1234
    assert metric_value("total (min, med, max)\n2.0 KiB (1.0 KiB, 1.0 KiB, 1.0 KiB)") == 2048
    assert metric_value("total (min, med, max)\n255 ms (1 ms, 2 ms, 3 ms)") == pytest.approx(0.255)
    assert metric_value("total (min, med, max)\n1.5 s (1 ms, 2 ms, 3 ms)") == pytest.approx(1.5)


def test_tail_leaves_ten_samples_above():
    xs = list(range(100))
    v, pct, n = tail(xs)
    assert (v, n) == (89, 100) and sum(x > v for x in xs) == 10 and pct == 90.0
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
