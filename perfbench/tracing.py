"""Traced runs: spans around calls into each layer of the engine, plus
the Spark work each span caused, read from Spark's in-process status
stores (both answer with the UI disabled).

The engine is not edited. `Tracer.install` wraps each layer's public
function and replaces every module attribute in the package that *is*
the original function (modules bind some of them by name, e.g.
`pipeline.clean`), and `uninstall` puts the originals back. Every span
tags the Spark jobs it starts with `setJobGroup("pb<span id>")`, so
jobs, stages and SQL executions map back to the innermost span.
"""

from __future__ import annotations

import functools
import importlib
import re
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PKG = "core_telecoms_etl_spark"

# span name -> (module, attribute); "Class.method" patches the class
TARGETS = (
    ("readers.load_table", f"{PKG}.sources.readers", "load_table"),
    ("readers.read", f"{PKG}.sources.readers", "read_csv"),
    ("readers.read", f"{PKG}.sources.readers", "read_json"),
    ("incremental.new_files", f"{PKG}.sources.incremental", "IncrementalLoader.new_files"),
    ("incremental.record", f"{PKG}.sources.incremental", "IncrementalLoader.record"),
    ("cleaning.clean", f"{PKG}.operators.cleaning", "clean"),
    ("dq.run_checks", f"{PKG}.operators.dq", "run_checks"),
    ("writers.write_parquet", f"{PKG}.sources.writers", "write_parquet"),
    ("models.build", f"{PKG}.plans.models", "ModelRegistry.build"),
    ("caching.cache_scoped", f"{PKG}.caching", "cache_scoped"),
)

# metric or span name prefix -> the end-to-end metric and workload it
# should move (first match wins). BENCHMARK.json has no field for this;
# traced runs print it beside each per-layer metric and table row.
FEEDS = (
    ("op", "every op latency"),
    ("session", "setup_s on every workload"),
    ("readers.load_table", "geomean_s, ops_per_min on sql_mix and python_mix; not daily_ingest"),
    ("readers", "geomean_s, ops_per_min on daily_ingest"),
    ("incremental", "geomean_s, ops_per_min (rerun_p50_s) on daily_ingest; not the mixes"),
    ("cleaning", "ops_per_min (ingest_rows_per_s) on daily_ingest"),
    ("dq", "geomean_s, ops_per_min on daily_ingest"),
    ("writers", "geomean_s (staged_bytes_per_raw_byte) on daily_ingest"),
    ("queries", "geomean_s, ops_per_min on sql_mix and python_mix"),
    ("models", "geomean_s on sql_mix (star_fact_complaints)"),
    ("exec.peak_exec_mem", "peak_rss_mb on every workload"),
    ("exec", "geomean_s, ops_per_min on every workload, sql_mix above all"),
    ("planning", "geomean_s on sql_mix"),
    ("python", "geomean_s, ops_per_min on python_mix; not sql_mix"),
    ("caching", "peak_rss_mb, geomean_s on python_mix"),
    ("trace", "none: the cost of tracing itself"),
)


def feeds(name: str) -> str:
    return next(f for prefix, f in FEEDS if name.startswith(prefix))


# layer row of the report -> span names
LAYERS = (
    ("op (driver, unattributed)", ("op",)),
    ("queries (build)", ("queries.build",)),
    ("exec (action call)", ("exec",)),
    ("sources.readers.load_table", ("readers.load_table",)),
    ("sources.readers.read_csv/json", ("readers.read",)),
    ("sources.incremental", ("incremental.new_files", "incremental.record")),
    ("operators.cleaning", ("cleaning.clean",)),
    ("operators.dq", ("dq.run_checks",)),
    ("sources.writers", ("writers.write_parquet",)),
    ("plans.models", ("models.build",)),
    ("caching", ("caching.cache_scoped",)),
)

PY_NODE = re.compile(r"InPandas|EvalPython|ArrowPython|PythonUDTF")
WRITE_NODE = "Execute InsertIntoHadoopFsRelationCommand"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0
    info: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op = -1
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------------

    def _tag(self) -> None:
        if self.stack:
            top = self.stack[-1]
            self.sc.setJobGroup(f"pb{top.id}", top.name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        s = Span(
            id=len(self.spans),
            name=name,
            parent=self.stack[-1].id if self.stack else None,
            op=self.op,
            start=time.perf_counter(),
        )
        self.spans.append(s)
        self.stack.append(s)
        self._tag()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.stack.pop()
            self._tag()

    # -- wrapping -----------------------------------------------------------

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name) as s:
                if name == "caching.cache_scoped":
                    from core_telecoms_etl_spark import caching

                    prev = caching._SCOPED_CACHES.get(args[0])
                    out = fn(*args, **kwargs)
                    s.info["reused"] = prev is not None and out is prev
                    return out
                out = fn(*args, **kwargs)
                if name == "dq.run_checks":
                    s.info["checks"] = len(out)
                    s.info["failed"] = sum(not r.passed for r in out)
                return out

        return traced

    def install(self) -> None:
        from core_telecoms_etl_spark import queries

        queries._load_all()
        for mod in ("pipeline", "plans.star"):
            importlib.import_module(f"{PKG}.{mod}")
        modules = [
            m for n, m in list(sys.modules.items()) if n.startswith(PKG) and m is not None
        ]
        for name, modname, attr in TARGETS:
            mod = importlib.import_module(modname)
            if "." in attr:
                cls_name, meth = attr.split(".")
                owner = getattr(mod, cls_name)
                orig = owner.__dict__[meth]
                self._patched.append((owner, meth, orig))
                setattr(owner, meth, self._wrap(orig, name))
                continue
            orig = getattr(mod, attr)
            wrapper = self._wrap(orig, name)
            for m in modules:
                for k, v in list(vars(m).items()):
                    if v is orig:
                        self._patched.append((m, k, orig))
                        setattr(m, k, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


# --- Spark status stores ---------------------------------------------------

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """A formatted SQL metric ('20,000', '81.8 KiB', '2.7 s') as a number:
    bytes for sizes, seconds for timings."""
    parts = text.replace(",", "").split()
    value = float(parts[0])
    if len(parts) > 1:
        unit = parts[1]
        value *= _SIZE.get(unit, _TIME.get(unit, 1.0))
    return value


_NODE = re.compile(r'^\s*(\d+) \[id="node\d+" labelType="html" label="(.*?)" tooltip=', re.M)
_EDGE = re.compile(r"^\s*(\d+)->(\d+);", re.M)


def parse_plan_dot(dot: str) -> tuple[dict[int, tuple[str, dict[str, float]]], list[tuple[int, int]]]:
    """Nodes {id: (name, {metric: value})} and child->parent edges from a
    SparkPlanGraph DOT rendering with metric values filled in."""
    nodes = {}
    for m in _NODE.finditer(dot):
        items = [i for i in m.group(2).split("<br>")]
        name = ""
        metrics: dict[str, float] = {}
        pending = None
        for item in items:
            if item.startswith("<b>"):
                name = item[3:].replace("</b>", "").strip()
            elif pending is not None:
                metrics[pending] = parse_metric(item.split(" (")[0])
                pending = None
            elif " total (min, med, max" in item:
                pending = item.split(" total (")[0]
            elif ": " in item:
                k, v = item.rsplit(": ", 1)
                try:
                    metrics[k] = parse_metric(v)
                except ValueError:
                    pass
        nodes[int(m.group(1))] = (name, metrics)
    edges = [(int(a), int(b)) for a, b in _EDGE.findall(dot)]
    return nodes, edges


def _opt(o):
    return o.get() if o.isDefined() else None


class SparkCollector:
    """Reads the jobs, stages and SQL executions that finished since the
    previous `collect` call."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.jsc = spark.sparkContext._jsc.sc()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.last_job = self._max_job()
        self.last_exec = self._max_exec()

    def _max_job(self) -> int:
        jobs = self.jsc.statusStore().jobsList(None)  # newest first
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _max_exec(self) -> int:
        ex = self.sql.executionsList()
        return ex.apply(ex.size() - 1).executionId() if ex.size() else -1

    def collect(self) -> tuple[list[dict], list[dict]]:
        store = self.jsc.statusStore()
        jobs = []
        seq = store.jobsList(None)  # newest first
        for i in range(seq.size()):
            j = seq.apply(i)
            if j.jobId() <= self.last_job:
                break
            group = _opt(j.jobGroup())
            sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
            stages = []
            sids = j.stageIds()
            for k in range(sids.size()):
                s = store.lastStageAttempt(sids.apply(k))
                if str(s.status()) == "SKIPPED":
                    continue
                stages.append(
                    {
                        "id": s.stageId(),
                        "tasks": s.numCompleteTasks(),
                        "run_ms": s.executorRunTime(),
                        "gc_ms": s.jvmGcTime(),
                        "shuffle_write": s.shuffleWriteBytes(),
                        "shuffle_read": s.shuffleReadBytes(),
                        "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                        "peak_mem": s.peakExecutionMemory(),
                    }
                )
            jobs.append(
                {
                    "id": j.jobId(),
                    "span": int(group[2:]) if group and group.startswith("pb") else None,
                    "start": sub.getTime() / 1000.0 if sub else None,
                    "end": done.getTime() / 1000.0 if done else None,
                    "stages": stages,
                }
            )
        if jobs:
            self.last_job = jobs[0]["id"]
        span_of_job = {j["id"]: j["span"] for j in jobs}

        execs = []
        seq = self.sql.executionsList()
        i = seq.size() - 1
        newest = None
        while i >= 0:
            e = seq.apply(i)
            eid = e.executionId()
            if eid <= self.last_exec:
                break
            newest = eid if newest is None else newest
            job_ids = [int(x) for x in re.findall(r"(\d+) ->", e.jobs().toString())]
            spans = [span_of_job.get(x) for x in job_ids if span_of_job.get(x) is not None]
            dot = self.sql.planGraph(eid).makeDotFile(self.sql.executionMetrics(eid))
            nodes, edges = parse_plan_dot(dot)
            execs.append({"id": eid, "span": spans[0] if spans else None, "nodes": nodes, "edges": edges})
            i -= 1
        if newest is not None:
            self.last_exec = newest
        return jobs, execs

    def cached_bytes(self) -> int:
        infos = self.jsc.getRDDStorageInfo()
        return sum(infos[i].memSize() + infos[i].diskSize() for i in range(len(infos)))


# --- per-layer aggregation ---------------------------------------------------


def _union_s(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[0] is not None and iv[1] is not None):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _rows_into(node_id, nodes, children) -> float:
    """Rows flowing into a node: the nearest descendants that count rows."""
    total = 0.0
    for c in children.get(node_id, []):
        metrics = nodes[c][1]
        if "number of output rows" in metrics:
            total += metrics["number of output rows"]
        else:
            total += _rows_into(c, nodes, children)
    return total


PER_LAYER = {
    # name -> unit; every value is per op (daily_ingest: per day, load + re-run)
    "session.start_s": "s",
    "session.warmup_s": "s",
    "readers.load_table_calls": "calls/op",
    "readers.load_table_s": "s/op",
    "readers.load_table_jobs": "jobs/op",
    "readers.read_s": "s/op",
    "readers.infer_jobs": "jobs/op",
    "incremental.new_files_s": "s/op",
    "incremental.record_s": "s/op",
    "incremental.manifest_files": "count",
    "incremental.skip_ratio": "ratio",
    "cleaning.rows_in": "rows/op",
    "cleaning.rows_out": "rows/op",
    "cleaning.keep_ratio": "ratio",
    "dq.run_checks_s": "s/op",
    "dq.checks": "checks/op",
    "dq.failed_checks": "checks/op",
    "dq.jobs": "jobs/op",
    "writers.write_s": "s/op",
    "writers.bytes_written": "B/op",
    "writers.files_written": "files/op",
    "writers.rows_written": "rows/op",
    "queries.build_s": "s/op",
    "queries.build_jobs": "jobs/op",
    "queries.build_share": "ratio",
    "models.build_s": "s/op",
    "models.eager_jobs": "jobs/op",
    "exec.s": "s/op",
    "exec.jobs": "jobs/op",
    "exec.stages": "stages/op",
    "exec.tasks": "tasks/op",
    "exec.executor_run_s": "s/op",
    "exec.sched_overhead_s": "s/op",
    "exec.shuffle_write_bytes": "B/op",
    "exec.shuffle_read_bytes": "B/op",
    "exec.spill_bytes": "B/op",
    "exec.peak_exec_mem_bytes": "B/op",
    "exec.gc_s": "s/op",
    "planning.s": "s/op",
    "python.rows_sent": "rows/op",
    "python.bytes_sent": "B/op",
    "python.bytes_received": "B/op",
    "python.stage_run_s": "s/op",
    "caching.pins": "pins/op",  # cache_scoped calls, new or reused
    "caching.cached_bytes": "B",
    "caching.reuse_ratio": "ratio",
    "trace.overhead_pct": "%",
}


@dataclass
class TracedOp:
    root: int  # span id of the op's root span
    primary: bool  # counts as one op in the per-op denominators
    jobs: list
    execs: list
    cached_bytes: int


def layer_metrics(tracer: Tracer, ops: list[TracedOp], cores: int) -> tuple[dict, dict]:
    """Per-op layer metrics, plus a self-time/calls/jobs table by span name."""
    spans = {s.id: s for s in tracer.spans}
    children: dict[int, list[int]] = {}
    for s in tracer.spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s.id)

    def chain(sid):
        names = []
        while sid is not None:
            names.append(spans[sid].name)
            sid = spans[sid].parent
        return names

    by_name: dict[str, dict[str, float]] = {}

    def acc(name, key, v):
        by_name.setdefault(name, {"self_s": 0.0, "incl_s": 0.0, "calls": 0, "jobs": 0, "jobs_in": 0})
        by_name[name][key] += v

    t = {k: 0.0 for k in PER_LAYER}
    op_wall = 0.0
    dq_checks = dq_failed = reused = 0
    cached = []
    for op in ops:
        todo = [op.root]
        op_spans = []
        while todo:
            sid = todo.pop()
            op_spans.append(spans[sid])
            todo.extend(children.get(sid, []))
        for s in op_spans:
            dur = s.end - s.start
            kid = sum(spans[c].end - spans[c].start for c in children.get(s.id, []))
            acc(s.name, "self_s", dur - kid)
            acc(s.name, "calls", 1)
            if s.name not in chain(s.parent):
                acc(s.name, "incl_s", dur)
            dq_checks += s.info.get("checks", 0)
            dq_failed += s.info.get("failed", 0)
            reused += bool(s.info.get("reused"))
        root = spans[op.root]
        op_wall += root.end - root.start
        for j in op.jobs:
            names = chain(j["span"]) if j["span"] is not None else []
            if names:
                acc(names[0], "jobs", 1)
            for n in set(names):
                acc(n, "jobs_in", 1)
            for st in j["stages"]:
                t["exec.stages"] += 1
                t["exec.tasks"] += st["tasks"]
                t["exec.executor_run_s"] += st["run_ms"] / 1000.0
                t["exec.gc_s"] += st["gc_ms"] / 1000.0
                t["exec.shuffle_write_bytes"] += st["shuffle_write"]
                t["exec.shuffle_read_bytes"] += st["shuffle_read"]
                t["exec.spill_bytes"] += st["spill"]
            t["exec.jobs"] += 1
        t["exec.peak_exec_mem_bytes"] += max(
            (st["peak_mem"] for j in op.jobs for st in j["stages"]), default=0
        )
        job_time = _union_s((j["start"], j["end"]) for j in op.jobs)
        t["exec.s"] += job_time
        exec_spans = [s for s in op_spans if s.name == "exec"]
        if exec_spans:
            ids = {s.id for s in exec_spans}
            t["planning.s"] += sum(s.end - s.start for s in exec_spans) - _union_s(
                (j["start"], j["end"]) for j in op.jobs if j["span"] in ids
            )
        else:
            t["planning.s"] += (root.end - root.start) - job_time
        for e in op.execs:
            names = chain(e["span"]) if e["span"] is not None else []
            kids: dict[int, list[int]] = {}
            for a, b in e["edges"]:
                kids.setdefault(b, []).append(a)
            for nid, (name, m) in e["nodes"].items():
                if PY_NODE.search(name):
                    t["python.rows_sent"] += _rows_into(nid, e["nodes"], kids)
                    t["python.bytes_sent"] += m.get("data sent to Python workers", 0.0)
                    t["python.bytes_received"] += m.get("data returned from Python workers", 0.0)
                    t["python.stage_run_s"] += m.get("time to run Python workers", 0.0)
                if "writers.write_parquet" in names:
                    if name.startswith("Scan "):
                        t["cleaning.rows_in"] += m.get("number of output rows", 0.0)
                    elif name == WRITE_NODE:
                        t["cleaning.rows_out"] += m.get("number of output rows", 0.0)
                        t["writers.rows_written"] += m.get("number of output rows", 0.0)
                        t["writers.bytes_written"] += m.get("written output", 0.0)
                        t["writers.files_written"] += m.get("number of written files", 0.0)
        cached.append(op.cached_bytes)

    def g(name, key):
        return by_name.get(name, {}).get(key, 0.0)

    n = max(1, sum(op.primary for op in ops))
    t["readers.load_table_calls"] = g("readers.load_table", "calls")
    t["readers.load_table_s"] = g("readers.load_table", "incl_s")
    t["readers.load_table_jobs"] = g("readers.load_table", "jobs_in")
    t["readers.read_s"] = g("readers.read", "incl_s")
    t["readers.infer_jobs"] = g("readers.read", "jobs_in")
    t["incremental.new_files_s"] = g("incremental.new_files", "incl_s")
    t["incremental.record_s"] = g("incremental.record", "incl_s")
    t["dq.run_checks_s"] = g("dq.run_checks", "incl_s")
    t["dq.checks"] = dq_checks
    t["dq.failed_checks"] = dq_failed
    t["dq.jobs"] = g("dq.run_checks", "jobs_in")
    t["writers.write_s"] = g("writers.write_parquet", "incl_s")
    t["queries.build_s"] = g("queries.build", "incl_s")
    t["queries.build_jobs"] = g("queries.build", "jobs_in")
    t["models.build_s"] = g("models.build", "incl_s")
    t["models.eager_jobs"] = g("models.build", "jobs_in")
    t["caching.pins"] = g("caching.cache_scoped", "calls")
    t["exec.sched_overhead_s"] = t["exec.s"] - t["exec.executor_run_s"] / cores

    per_op = {k: v / n for k, v in t.items()}
    calls = g("caching.cache_scoped", "calls")
    per_op["caching.reuse_ratio"] = reused / calls if calls else 0.0
    per_op["caching.cached_bytes"] = max(cached, default=0)
    per_op["queries.build_share"] = t["queries.build_s"] / op_wall if op_wall else 0.0
    per_op["cleaning.keep_ratio"] = (
        t["cleaning.rows_out"] / t["cleaning.rows_in"] if t["cleaning.rows_in"] else 0.0
    )
    table = {k: {kk: vv / n for kk, vv in v.items()} for k, v in by_name.items()}
    return per_op, table


def format_table(workload: str, table: dict, overhead_pct: float, n_ops: int) -> str:
    lines = [
        f"# per-layer trace: {workload} ({n_ops} traced ops; values per op)",
        f"# {'layer':32} {'self_s':>9} {'calls':>7} {'jobs':>6}  feeds",
    ]
    for label, names in LAYERS:
        row = {k: sum(table.get(n, {}).get(k, 0.0) for n in names) for k in ("self_s", "calls", "jobs")}
        lines.append(
            f"# {label:32} {row['self_s']:9.4f} {row['calls']:7.2f} {row['jobs']:6.2f}  {feeds(names[0])}"
        )
    lines.append(f"# tracing overhead: {overhead_pct:+.2f} % (traced vs untraced op geomean)")
    return "\n".join(lines)
