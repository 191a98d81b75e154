"""Measurement harness: spans, Spark job groups and the counter harvest.

The benchmark drives the engine from outside. Every call it makes into
a layer's public function runs inside a span, and every span sets its
own Spark job group, so each job Spark runs is attributed to the
innermost span that caused it. In a traced run the harness also
re-binds the engine's public functions (``TRACED``) to wrappers that
open a span per call, so nested layers show up without any change to
engine code.

Counters come from the SparkContext status store and the SQL status
store, serialized to JSON inside the JVM in one call each. Both stores
are filled by listeners and work with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import functools
import gzip
import json
import os
import re
import signal
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Public engine functions the traced run wraps, as (module, attribute,
# span name). Every module of the engine that imported one of these by
# name gets the wrapper too.
TRACED = [
    ("odl_etl_spark.io.sinks", "partitioned_write", "io.sinks.partitioned_write"),
    ("odl_etl_spark.operators.materialize", "materialize", "operators.materialize"),
    (
        "odl_etl_spark.operators.materialize",
        "materialize_prepartitioned",
        "operators.materialize",
    ),
    ("odl_etl_spark.operators.materialize", "materialize_aqe_off", "operators.materialize"),
    (
        "odl_etl_spark.operators.materialize",
        "fits_broadcast",
        "operators.materialize.fits_broadcast",
    ),
    ("odl_etl_spark.operators.dedup", "minhash_lsh_pairs", "operators.dedup.minhash_lsh_pairs"),
    ("odl_etl_spark.operators.dedup", "minhash_lsh_probe", "operators.dedup.minhash_lsh_probe"),
    ("odl_etl_spark.operators.dedup", "jaccard_pairs", "operators.dedup.jaccard_pairs"),
    (
        "odl_etl_spark.operators.components",
        "connected_components",
        "operators.components",
    ),
    (
        "odl_etl_spark.operators.components",
        "connected_components_incremental",
        "operators.components",
    ),
    ("odl_etl_spark.operators.pagerank", "pagerank_fixed", "operators.pagerank"),
    ("odl_etl_spark.operators.ann_index", "pq_index_append", "operators.ann_index.pq_append"),
    (
        "odl_etl_spark.pipelines.curation",
        "curate_corpus",
        "pipelines.curation.curate_corpus",
    ),
    (
        "odl_etl_spark.streaming.ingest_dedup",
        "probe_and_commit_batch",
        "streaming.ingest_dedup.commit",
    ),
    ("odl_etl_spark.streaming.ingest_dedup", "compact_state", "streaming.compact_state"),
    ("odl_etl_spark.streaming.ingest_ann", "pq_append_and_commit", "streaming.ingest_ann.commit"),
]


@dataclass
class Span:
    name: str
    op: int | None
    parent: int | None
    group: str
    start: float
    end: float = 0.0
    cpu: float = 0.0  # CPU seconds of the process tree (op spans only)


@dataclass
class Tracer:
    """Spans kept in memory; one Spark job group per span."""

    sc: object
    prefix: str
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _op: int | None = None
    _ops: int = 0
    _patched: list[tuple[object, str, object]] = field(default_factory=list)

    def _set_group(self, group: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", group)
        self.sc.setLocalProperty("spark.job.description", group)

    @contextmanager
    def span(self, name: str, op: bool = False):
        """Time ``name``; ``op=True`` opens a new op (one client call)."""
        parent = self._stack[-1] if self._stack else None
        if op:
            self._op, self._ops = self._ops, self._ops + 1
        idx = len(self.spans)
        c0 = tree_cpu_s() if op else 0.0
        s = Span(name, self._op, parent, f"{self.prefix}-{idx}", time.perf_counter())
        self.spans.append(s)
        self._stack.append(idx)
        self._set_group(s.group)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if op:
                s.cpu = tree_cpu_s() - c0
            self._stack.pop()
            self._set_group(self.spans[self._stack[-1]].group if self._stack else None)

    def wrap_engine(self) -> None:
        """Re-bind every ``TRACED`` function, in its home module and in
        every engine module that imported it by name, to a span wrapper."""
        for mod_name, attr, span_name in TRACED:
            mod = sys.modules.get(mod_name) or __import__(mod_name, fromlist=[attr])
            orig = getattr(mod, attr)
            wrapped = self._wrapper(orig, span_name)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("odl_etl_spark"):
                    for k, v in list(vars(m).items()):
                        if v is orig:
                            self._patched.append((m, k, orig))
                            setattr(m, k, wrapped)

    def unwrap_engine(self) -> None:
        for m, k, orig in reversed(self._patched):
            setattr(m, k, orig)
        self._patched.clear()

    def _wrapper(self, fn, span_name: str):
        @functools.wraps(fn)
        def run(*a, **kw):
            with self.span(span_name):
                return fn(*a, **kw)

        return run


_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int, str, int]]:
    """pid -> (parent pid, CPU ticks, state, start time) of every process.
    The ticks are utime, stime and the reaped children's cutime, cstime."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks = sum(int(x) for x in fields[11:15])
        table[int(d)] = (int(fields[1]), ticks, fields[0], int(fields[19]))
    return table


def _subtree(table: dict, root: int) -> list[int]:
    todo, out = [root], []
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(c for c, row in table.items() if row[0] == p)
    return out


# The JVM's JIT compiler threads, by the name /proc gives them. On a
# fresh JVM compilation takes about half of all CPU, and when it runs
# (so which op it lands in) varies from run to run; the CPU figures
# leave it out. The session keeps these threads alive for the JVM's
# whole life (-XX:-UseDynamicNumberOfCompilerThreads), so none of their
# time is lost when one exits.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pid: int) -> int:
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        name, rest = stat[stat.index("(") + 1 :].rsplit(")", 1)
        if name in _JIT_THREADS:
            fields = rest.split()
            total += int(fields[11]) + int(fields[12])  # utime, stime
    return total


def tree_cpu() -> tuple[float, float]:
    """(program, JIT) CPU seconds (user + system) used so far by this
    process and every live descendant: the benchmark itself, the Spark
    JVM and the Python workers. Program CPU is all of it but the JVM's
    JIT compiler threads. Unlike wall time it barely moves with the
    scheduling of other load on the machine."""
    table = _proc_table()
    procs = [p for p in _subtree(table, os.getpid()) if p in table]
    jit = sum(_jit_ticks(p) for p in procs)
    return (sum(table[p][1] for p in procs) - jit) / _TICK, jit / _TICK


def tree_cpu_s() -> float:
    """Program CPU seconds of this process tree (see ``tree_cpu``)."""
    return tree_cpu()[0]


def descendants() -> dict[int, int]:
    """Every live descendant of this process, as pid -> start time."""
    table = _proc_table()
    me = os.getpid()
    return {p: table[p][3] for p in _subtree(table, me) if p != me}


def wait_ended(procs: dict[int, int], timeout: float) -> None:
    """Wait until every process of ``procs`` (pid -> start time) has
    ended; terminate what is left after ``timeout`` seconds, and kill
    what is left ``timeout`` seconds later.
    A zombie or a pid reused by another process counts as ended."""

    def alive() -> list[int]:
        table = _proc_table()
        return [
            p
            for p, start in procs.items()
            if p in table and table[p][3] == start and table[p][2] != "Z"
        ]

    for sig in (signal.SIGTERM, signal.SIGKILL, None):
        deadline = time.monotonic() + timeout
        while (left := alive()) and time.monotonic() < deadline:
            time.sleep(0.05)
        if not left or sig is None:
            return
        for p in left:
            try:
                os.kill(p, sig)
            except OSError:
                pass


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover
    (children of one span never overlap: the driver is one thread)."""
    child = [0.0] * len(spans)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.end - s.start
    return [s.end - s.start - c for s, c in zip(spans, child)]


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n) at the highest percentile with at least ten
    samples above it; with fewer than 21 samples, where that percentile
    would not be above the median, the maximum."""
    xs = sorted(values)
    n = len(xs)
    if n < 21:
        return xs[-1], 100.0, n
    k = n - 11  # zero-based rank: ten samples lie above it
    return xs[k], round(100.0 * (k + 1) / n, 1), n


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- status-store harvest --------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_NUM = re.compile(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]+)?")


def metric_value(text: str) -> float:
    """Parse a SQL metric string from the status store: a plain count
    (``"1,234"``), or the total line of a size/timing metric
    (``"total (min, med, max ...)\\n1.2 MiB (...)"``). Sizes come back in
    bytes, times in seconds."""
    if text is None:
        return 0.0
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.search(line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return v * _SIZE[unit]
    if unit in _TIME:
        return v * _TIME[unit]
    return v


class StatusStores:
    """JSON views of the SparkContext and SQL status stores."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._ser = self._jvm.org.apache.spark.status.KVUtils.KVStoreScalaSerializer()

    def _json(self, obj):
        raw = bytes(self._ser.serialize(obj))
        if raw[:2] == b"\x1f\x8b":
            raw = gzip.decompress(raw)
        return json.loads(raw)

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def stages(self) -> list[dict]:
        return self._json(
            self._store.stageList(
                None, False, False, self._gw.new_array(self._jvm.double, 0), None
            )
        )

    def executions(self) -> list[dict]:
        return self._json(self._sql.executionsList())

    def plan_nodes(self, execution_id: int) -> list[dict]:
        return self._json(self._sql.planGraph(execution_id))["allNodes"]

    def metric_values(self, execution_id: int) -> dict[int, str]:
        m = self._sql.executionMetrics(execution_id)
        return {int(k): v for k, v in self._json(m).items()}

    def max_job_id(self) -> int:
        return max((j["jobId"] for j in self.jobs()), default=-1)

    def jvm_peak_rss_mb(self) -> float:
        pid = self._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0


_PY_NODE = re.compile(r"Python|Pandas|InArrow")


def _node_class(name: str) -> str | None:
    if name.startswith("Scan "):
        return "scan"
    if name in ("HashAggregate", "ObjectHashAggregate", "SortAggregate"):
        return "aggregate"
    if name.endswith("Join"):
        return "join"
    if name == "BroadcastExchange":
        return "broadcast"
    if name == "Exchange":
        return "exchange"
    if _PY_NODE.search(name) and "ToRow" not in name:
        return "python_eval"
    if name.startswith("Execute ") or name == "WriteFiles":
        return "write"
    return None


def harvest(
    stores: StatusStores, tracer: Tracer, first_job: int, cores: int, last_job: int
) -> dict:
    """Spark and physical-operator counters for every job with an id in
    ``(first_job, last_job]``, plus per-span job attribution."""
    jobs = [j for j in stores.jobs() if first_job < j["jobId"] <= last_job]
    groups = {s.group: i for i, s in enumerate(tracer.spans)}
    span_jobs: dict[int, list[dict]] = {}
    for j in jobs:
        i = groups.get(j.get("jobGroup"))
        if i is not None:
            span_jobs.setdefault(i, []).append(j)
    stage_ids = {sid for j in jobs for sid in j["stageIds"]}
    stages = [
        s
        for s in stores.stages()
        if s["stageId"] in stage_ids and s["status"] in ("COMPLETE", "FAILED")
    ]
    stage_by_id: dict[int, list[dict]] = {}
    for s in stages:
        stage_by_id.setdefault(s["stageId"], []).append(s)

    def ssum(key: str, ss=stages) -> float:
        return float(sum(s.get(key, 0) for s in ss))

    busy = union_seconds(
        [
            (j["submissionTime"] / 1000.0, j["completionTime"] / 1000.0)
            for j in jobs
            if j.get("completionTime")
        ]
    )
    run_s = ssum("executorRunTime") / 1000.0
    out = {
        "spark.jobs": len(jobs),
        "spark.attributed_jobs": sum(len(v) for v in span_jobs.values()),
        "spark.stages": len(stages),
        "spark.tasks": ssum("numCompleteTasks"),
        "spark.failed_tasks": ssum("numFailedTasks"),
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": ssum("executorCpuTime") / 1e9,
        "spark.gc_s": ssum("jvmGcTime") / 1000.0,
        "spark.shuffle_write_bytes": ssum("shuffleWriteBytes"),
        "spark.shuffle_read_bytes": ssum("shuffleReadBytes"),
        "spark.spill_bytes": ssum("memoryBytesSpilled") + ssum("diskBytesSpilled"),
        "spark.job_busy_s": busy,
        "spark.core_busy_frac": run_s / (busy * cores) if busy else 0.0,
        "spark.jvm_peak_rss_mb": stores.jvm_peak_rss_mb(),
        "physical.write.bytes": ssum("outputBytes"),
        "physical.write.time_s": sum(
            s["executorRunTime"] for s in stages if s.get("outputBytes", 0) > 0
        )
        / 1000.0,
    }
    job_ids = {j["jobId"] for j in jobs}
    phys = {
        "physical.sql_executions": 0,
        "physical.scan.time_s": 0.0,
        "physical.scan.bytes_read": 0.0,
        "physical.scan.rows": 0.0,
        "physical.aggregate.time_s": 0.0,
        "physical.join.build_s": 0.0,
        "physical.broadcast.bytes": 0.0,
        "physical.exchange.count": 0,
        "physical.python_eval.time_s": 0.0,
        "physical.write.files": 0.0,
        "operators.dedup.band_join_rows": 0.0,
        "operators.dedup.verified_rows": 0.0,
    }
    for ex in stores.executions():
        if not job_ids.intersection(int(k) for k in ex.get("jobs", {})):
            continue
        phys["physical.sql_executions"] += 1
        eid = ex["executionId"]
        values = stores.metric_values(eid)
        for node in stores.plan_nodes(eid):
            cls = _node_class(node["name"])
            m = {
                x["name"]: metric_value(values.get(x["accumulatorId"]))
                for x in node["metrics"]
            }
            if cls == "scan":
                phys["physical.scan.time_s"] += m.get("scan time", 0.0)
                phys["physical.scan.bytes_read"] += m.get("size of files read", 0.0)
                phys["physical.scan.rows"] += m.get("number of output rows", 0.0)
            elif cls == "aggregate":
                phys["physical.aggregate.time_s"] += m.get("time in aggregation build", 0.0)
            elif cls == "join":
                phys["physical.join.build_s"] += m.get("time to build hash map", 0.0)
                if "_band" in node["desc"] and "_bh" in node["desc"]:
                    phys["operators.dedup.band_join_rows"] += m.get(
                        "number of output rows", 0.0
                    )
            elif cls == "broadcast":
                phys["physical.join.build_s"] += m.get("time to build", 0.0)
                phys["physical.broadcast.bytes"] += m.get("data size", 0.0)
            elif cls == "exchange":
                phys["physical.exchange.count"] += 1
            elif cls == "python_eval":
                phys["physical.python_eval.time_s"] += m.get("time to run Python workers", 0.0)
            elif cls == "write":
                phys["physical.write.files"] += m.get("number of written files", 0.0)
            # The exact-Jaccard verify step: a filter, or a join condition
            # once the optimizer has pushed the filter into the join.
            if cls in ("join", None) and "array_intersect" in node["desc"]:
                phys["operators.dedup.verified_rows"] += m.get("number of output rows", 0.0)
    out.update(phys)

    # Per-span rollups: inclusive seconds, calls, jobs and shuffle bytes
    # of the span and everything nested in it.
    children: dict[int, list[int]] = {}
    for i, s in enumerate(tracer.spans):
        if s.parent is not None:
            children.setdefault(s.parent, []).append(i)

    def subtree(i: int) -> list[int]:
        todo, seen = [i], []
        while todo:
            k = todo.pop()
            seen.append(k)
            todo.extend(children.get(k, ()))
        return seen

    layers: dict[str, dict[str, float]] = {}
    selfs = self_times(tracer.spans)
    for i, s in enumerate(tracer.spans):
        sub = subtree(i)
        sub_jobs = [j for k in sub for j in span_jobs.get(k, ())]
        sub_stages = [
            st for j in sub_jobs for sid in j["stageIds"] for st in stage_by_id.get(sid, ())
        ]
        rec = layers.setdefault(
            s.name,
            dict.fromkeys(("s", "self_s", "calls", "jobs", "shuffle_bytes", "write_bytes"), 0.0),
        )
        # Count a recursive call (a name nested in itself) once.
        if not _has_ancestor_named(tracer.spans, i, s.name):
            rec["s"] += s.end - s.start
            rec["jobs"] += len(sub_jobs)
            rec["shuffle_bytes"] += ssum("shuffleWriteBytes", sub_stages)
            rec["write_bytes"] += ssum("outputBytes", sub_stages)
        rec["self_s"] += selfs[i]
        rec["calls"] += 1
    out["layers"] = layers
    return out


def _has_ancestor_named(spans: list[Span], i: int, name: str) -> bool:
    p = spans[i].parent
    while p is not None:
        if spans[p].name == name:
            return True
        p = spans[p].parent
    return False
