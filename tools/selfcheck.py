"""Full-suite differential self-check: a faithful local replica of the
driver's correctness gate, over ALL registry keys (the driver's own gate
checks only the first 50, so this artifact is the evidence that the tail
keys were verified too).

Runs every `queries()` entry on Spark (plain session — `tune_session`
must do its own conf work) and its `oracle_sql()` on DuckDB at the same
scale factor, then compares columns, row counts, and an order-insensitive
canonicalized value multiset. Writes one JSON object per key, same shape
as CORRECTNESS_r{N}.json.

Usage: python tools/selfcheck.py [sf_dir] [out.json] [key1,key2,...]
(the optional third arg restricts the sweep to those registry keys)
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
from datetime import date, datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return "0" if v == 0 else f"{v:.6g}"
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def canon_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(canon_cell(r[i]) for i in order) for r in rows)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "SELFCHECK.json"

    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as E

    spark = (
        SparkSession.builder.master(f"local[{os.cpu_count() or 8}]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "32")
        # Default 1g driver heap OOMs on the third-decade probe dirs
        # (150M-row orders); the heap is an env knob so the standard
        # tri-scale sweeps keep their small footprint.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"),
        )
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        # Driver testdata is one file per table; probe dirs (.scale/*) are
        # Spark-written parquet DIRECTORIES — glob their part files.
        p = os.path.join(sf_dir, t + ".parquet")
        if not os.path.exists(p):
            # Core-only probe dirs (sf100p) omit the text/embedding
            # corpora; a key touching an absent table fails loudly at
            # its own row instead of killing the whole sweep here.
            continue
        if os.path.isdir(p):
            p = os.path.join(p, "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs, osql = E.queries(), E.oracle_sql()
    if len(sys.argv) > 3:
        keep = set(sys.argv[3].split(","))
        qs = {k: v for k, v in qs.items() if k in keep}
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        t0 = time.time()
        rec: dict = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            rec["spark_rows"] = len(srows)
            if name in osql:
                rel = con.execute(osql[name])
                dcols = [d[0] for d in rel.description]
                drows = rel.fetchall()
                rec["oracle_rows"] = len(drows)
                rec["schema_match"] = sorted(scols) == sorted(dcols)
                rec["rows_match"] = len(srows) == len(drows)
                rec["hash_match"] = (
                    rec["schema_match"]
                    and canon_rows(scols, srows) == canon_rows(dcols, drows)
                )
            else:
                rec["err"] = "no_oracle"
        except Exception as exc:  # noqa: BLE001 — record, keep sweeping
            rec["err"] = f"{type(exc).__name__}: {exc}"[:300]
        rec["seconds"] = round(time.time() - t0, 2)
        results[name] = rec
        status = (
            "PASS"
            if rec["hash_match"]
            else ("rows-only" if rec["err"] == "no_oracle" else "FAIL")
        )
        print(f"{name:25s} {status:9s} {rec['seconds']:6.2f}s", flush=True)
        # Flush after EVERY key (atomic rename): heavy-scale sweeps run
        # under wall-clock timeouts, and an end-only flush loses every
        # completed row when the timeout fires mid-key (round-13's
        # "run_log_passes_not_in_artifact" note; made structural r15).
        tmp = out_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"sf_dir": sf_dir, "results": results}, f, indent=1)
        os.replace(tmp, out_path)

    with open(out_path, "w") as f:
        json.dump({"sf_dir": sf_dir, "results": results}, f, indent=1)
    n_hash = sum(1 for r in results.values() if r["hash_match"])
    n_ro = sum(1 for r in results.values() if r["err"] == "no_oracle")
    n_fail = len(results) - n_hash - n_ro
    print(f"\n{len(results)} keys: {n_hash} hash-green, {n_ro} rows-only, {n_fail} fail")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
