"""Isolated-run profiling for the iterative/checkpoint bench-drift
cluster (VERDICT r7 #2): `dedup_cluster`, `graph_pagerank`,
`graph_triangles` drifted 1.05-2.06x across rounds with zero code
change. Suite medians share one JVM with 176+ other keys (GC pressure,
page cache, codegen cache), so this script measures each key ALONE:
fresh SparkSession per (key, materialize-mode), one untimed warm-up,
then N timed reps — the isolated-run methodology the round-8 close
records.

Run:  python tools/profile_iterative.py [reps]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

KEYS = ["dedup_cluster", "graph_pagerank", "graph_triangles"]
# Every materialize() mode: both cut lineage (see its module docstring).
MODES = ["local", "checkpoint"]
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def run_one(key: str, mode: str, reps: int) -> dict:
    from odl_etl_spark.operators.materialize import MODE_CONF
    from odl_etl_spark.queries import registry
    from odl_etl_spark.session import get_spark

    spark = get_spark(
        f"profile-{key}-{mode}",
        master="local[32]",
        extra_conf={
            "spark.sql.shuffle.partitions": "32",
            MODE_CONF: mode,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    if mode == "checkpoint":
        import tempfile

        spark.sparkContext.setCheckpointDir(tempfile.mkdtemp(prefix="ckpt_"))
    spec = registry()[key]
    spec.build(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        spec.build(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        times.append(round(time.perf_counter() - t0, 3))
    spark.stop()
    return {"median": statistics.median(times), "reps": times}


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    out: dict[str, dict] = {}
    for key in KEYS:
        out[key] = {}
        for mode in MODES:
            r = run_one(key, mode, reps)
            out[key][mode] = r
            print(f"{key:18s} mode={mode:8s} median={r['median']:.3f}s {r['reps']}")
    with open("PROFILE_ITERATIVE.json", "w") as f:
        json.dump({"sf_dir": SF_DIR, "results": out}, f, indent=1)


if __name__ == "__main__":
    main()
