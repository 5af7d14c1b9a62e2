"""The three workloads. Each is a closed loop with one client, the
single Spark driver session: every op waits for the previous one.

- `sql_mix` / `python_mix`: one op = `fn(spark, data_dir)` (the build)
  plus execution to the `noop` sink. Rounds run every query of the mix
  once, in an order fixed by the seed; only whole rounds are measured.
  An untimed first round collects each result and checks it against
  the DuckDB oracle (the correctness gate, and the warm-up).
- `daily_ingest`: one op = `run_pipeline` over a freshly landed day of
  raw files; each load is followed by a re-run with no new files. An
  untimed day 0 warms the path up. The gate checks staged rows,
  manifest rows, audits and re-run idempotency.

Measurement stops after the first whole round (or day) that takes the
timed wall time past `seconds`; a mix measures two rounds at the least.
With tracing on, rounds (days) run untraced, traced, traced, untraced
(four at the least), so one run gives both the per-layer numbers and the
tracing overhead. `run_*` return a `Run`; `run.py` turns it into the
output line.
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import random
import shutil
import time

import pyarrow.dataset

import gen_ingest
import oracle
import tracing
from common import geomean, median, tail_percentile, percentile

SQL_MIX = (
    "multi_join groupby_agg window_running_sum dedup_latest_by_key sessionize "
    "asof_join min_cost_supplier waiting_orders_suppliers rfm_segments "
    "copurchase_pairs star_fact_complaints funnel"
).split()
# one query per Python node kind (ArrowEvalPython, FlatMapGroupsInPandas,
# MapInPandas), the exact scorer in a classifier, and the auto-routed
# scorer, which pins through cache_scoped. The slower IVF/LSH/dedup
# queries would double a run's cold first round.
PYTHON_MIX = (
    "pandas_udf_scalar grouped_map_zscore vector_topk knn_classify auto_topk_route"
).split()
MIX_SF = 0.01
# A mix measures two rounds at the least, so each query has two samples
# and one op slowed by a load spike moves its query's median half as far.
MIX_MIN_ROUNDS = 2
INGEST_SIZES = gen_ingest.Sizes(call_logs=20_000, social=6_000, web=10_000)


def ingest_sizes(scale: int) -> gen_ingest.Sizes:
    """INGEST_SIZES times `scale` (scale 5 lands 100k/30k/50k rows)."""
    return gen_ingest.Sizes(*(n * scale for n in dataclasses.astuple(INGEST_SIZES)))


class Run:
    """What a workload hands back to run.py."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.samples: dict[str, list[float]] = {}  # op kind -> latencies
        self.primary: list[float] = []  # latencies behind op_p50_s
        self.wall = 0.0  # timed wall time of the measured loop
        self.n_ops = 0
        self.extra: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.table: dict = {}
        self.n_traced = 0
        self.spans: list = []

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)

    def end_to_end(self) -> dict[str, float]:
        meds = [median(v) for v in self.samples.values()]
        out = {
            "ops_per_min": 60.0 * self.n_ops / self.wall,
            "geomean_s": geomean(meds),
        }
        self.extra["op_p50_s"] = median(self.primary)
        q = tail_percentile(len(self.primary))
        self.extra["op_tail_pct"] = q if q is not None else float("nan")
        self.extra["op_tail_s"] = percentile(self.primary, q) if q is not None else float("nan")
        self.extra["op_samples"] = len(self.primary)
        return out


@contextlib.contextmanager
def _maybe(tracer, name):
    if tracer is None:
        yield None
    else:
        with tracer.span(name) as s:
            yield s


def _rounds_done(elapsed: float, seconds: float, r: int, least: int, trace_on: bool) -> bool:
    return elapsed >= seconds and r >= (4 if trace_on else least)


def _traced_round(r: int) -> bool:
    # untraced, traced, traced, untraced, ...: a trend that runs through
    # the rounds cancels out of the tracing overhead. A traced run also
    # warms up one round (day) more first, whose samples it drops: the
    # first round after the gate is still far slower than the rest.
    return r % 4 in (1, 2)


def _overhead_pct(untraced: dict[str, list[float]], traced: dict[str, list[float]]) -> float:
    kinds = [k for k in traced if k in untraced]
    ratio = geomean(median(traced[k]) / median(untraced[k]) for k in kinds)
    return 100.0 * (ratio - 1.0)


# --- query mixes -------------------------------------------------------------


def run_mix(spark, names, ctx, seed: int, seconds: float, trace_on: bool) -> Run:
    from core_telecoms_etl_spark import queries as registry

    run = Run()
    data_dir = ctx["star_dir"]
    fns = registry.queries()
    sqls = registry.oracle_sql()
    expected = oracle.oracle_results(data_dir, {n: sqls[n] for n in names})
    compare = ctx["check_oracle"].compare

    # correctness gate + warm-up: one untimed round, results collected
    t_gate = time.perf_counter()
    gate_order = list(names)
    random.Random(seed).shuffle(gate_order)
    for n in gate_order:
        run.attempted += 1
        try:
            got = fns[n](spark, data_dir).toPandas()
            problems = compare(n, got, expected[n])
        except Exception as e:  # a raising query is a failed check
            problems = [f"raised {type(e).__name__}: {e}"]
        if problems:
            run.fail(f"gate {n}: {problems[0]}")
    run.extra["gate_s"] = time.perf_counter() - t_gate

    tracer = tracing.Tracer(spark) if trace_on else None
    collector = tracing.SparkCollector(spark) if trace_on else None
    traced_ops: list[tracing.TracedOp] = []
    plain: dict[str, list[float]] = {}
    traced: dict[str, list[float]] = {}
    r = -1 if trace_on else 0  # round -1 is not kept (see _traced_round)
    elapsed = 0.0
    round_s: list[float] = []  # untraced rounds' walls
    while not _rounds_done(elapsed, seconds, r, MIX_MIN_ROUNDS, trace_on):
        order = list(names)
        random.Random(seed * 1_000 + r + 1).shuffle(order)
        tr = tracer if (trace_on and _traced_round(r)) else None
        if tr is not None:
            tr.install()
        t_round = time.perf_counter()
        for n in order:
            run.attempted += 1
            if tr is not None:
                tr.op += 1
            t0 = time.perf_counter()
            try:
                with _maybe(tr, "op") as root:
                    with _maybe(tr, "queries.build"):
                        df = fns[n](spark, data_dir)
                    with _maybe(tr, "exec"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:
                run.fail(f"op {n}: {type(e).__name__}: {e}")
                continue
            dt = time.perf_counter() - t0
            if r >= 0:
                (traced if tr is not None else plain).setdefault(n, []).append(dt)
            if tr is not None:
                t_c = time.perf_counter()
                jobs, execs = collector.collect()
                traced_ops.append(
                    tracing.TracedOp(root.id, True, jobs, execs, collector.cached_bytes())
                )
                t_round += time.perf_counter() - t_c  # bookkeeping is not timed
        if tr is not None:
            tr.uninstall()
        else:
            if r >= 0:
                round_s.append(time.perf_counter() - t_round)
            if collector is not None:
                collector.collect()  # skip past untraced rounds' jobs
        if r >= 0:
            elapsed += time.perf_counter() - t_round
        r += 1

    run.samples = plain
    run.primary = [x for v in plain.values() for x in v]
    run.n_ops = len(run.primary)
    run.wall = sum(round_s)
    run.extra["rounds"] = r
    run.extra["round_s"] = [round(x, 4) for x in round_s]
    run.extra["query_p50_s"] = {n: round(median(v), 4) for n, v in sorted(plain.items())}
    if trace_on:
        run.layers, run.table = tracing.layer_metrics(tracer, traced_ops, ctx["cores"])
        run.layers["trace.overhead_pct"] = _overhead_pct(plain, traced)
        run.n_traced = len(traced_ops)
        run.spans = tracer.spans
    return run


# --- daily ingest -------------------------------------------------------------


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _listing(path: str) -> list[tuple[str, int]]:
    return sorted(
        (os.path.join(d, f), os.path.getsize(os.path.join(d, f)))
        for d, _, fs in os.walk(path)
        for f in fs
    )


def run_ingest(spark, ctx, seed: int, seconds: float, trace_on: bool, sizes=INGEST_SIZES) -> Run:
    from core_telecoms_etl_spark.pipeline import PipelineConfig, SourceConfig, run_pipeline

    run = Run()
    base = os.path.join(ctx["work"], "ingest", f"run-{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    raw, staging, manifest = (os.path.join(base, d) for d in ("raw", "staging", "manifest"))
    cfg = PipelineConfig(
        sources=[
            SourceConfig(
                "call_logs", "csv", os.path.join(raw, "call_logs"),
                rename_map=gen_ingest.CALL_LOGS_RENAMES,
                audit_not_null=("call_id",), audit_unique=("call_id",),
            ),
            SourceConfig(
                "social", "json", os.path.join(raw, "social"),
                rename_map=gen_ingest.SOCIAL_RENAMES,
                audit_not_null=("complaint_id",), audit_unique=("complaint_id",),
            ),
            SourceConfig(
                "web", "parquet", os.path.join(raw, "web"),
                rename_map=gen_ingest.WEB_RENAMES,
                audit_not_null=("request_id",), audit_unique=("request_id",),
            ),
        ],
        staging_dir=staging,
        manifest_path=manifest,
    )
    n_sources = len(cfg.sources)
    expected = {s.name: 0 for s in cfg.sources}
    raw_rows = raw_bytes = 0

    tracer = tracing.Tracer(spark) if trace_on else None
    collector = tracing.SparkCollector(spark) if trace_on else None
    traced_ops: list[tracing.TracedOp] = []
    plain: dict[str, list[float]] = {}
    traced: dict[str, list[float]] = {}
    load_rows = 0
    load_s = 0.0
    files = {"skipped": 0, "candidates": 0}  # traced ops' manifest outcome

    def op(kind: str, tr, timed: bool) -> float:
        """Runs one op and returns its wall time, failed or not."""
        run.attempted += 1
        if tr is not None:
            tr.op += 1
        before = _listing(staging) if kind == "rerun" else None
        t0 = time.perf_counter()
        try:
            with _maybe(tr, "op") as root:
                report = run_pipeline(spark, cfg)
        except Exception as e:
            run.fail(f"{kind}: {type(e).__name__}: {e}")
            return time.perf_counter() - t0
        dt = time.perf_counter() - t0
        want_new = n_sources if kind == "load" else 0
        if report.total_new_files != want_new:
            run.fail(f"{kind}: {report.total_new_files} new files, expected {want_new}")
        elif kind == "load" and not report.audits_passed:
            run.fail(f"load: audits failed {report.audits}")
        elif before is not None and _listing(staging) != before:
            run.fail("rerun: staging changed")
        if timed:
            (traced if tr is not None else plain).setdefault(kind, []).append(dt)
        if tr is not None:
            jobs, execs = collector.collect()
            traced_ops.append(
                tracing.TracedOp(root.id, kind == "load", jobs, execs, collector.cached_bytes())
            )
            for r in report.loads.values():
                files["skipped"] += r.skipped
                files["candidates"] += r.candidates
        return dt

    first = 2 if trace_on else 1  # untimed warm-up days before it
    day = 0
    elapsed = 0.0
    while day < first or not _rounds_done(elapsed, seconds, day - first, 1, trace_on):
        landed = gen_ingest.write_day(raw, seed, day, sizes)
        for k, v in landed.expected.items():
            expected[k] += v
        raw_rows += landed.raw_rows
        raw_bytes += landed.raw_bytes
        timed = day >= first
        tr = tracer if (trace_on and timed and _traced_round(day - first)) else None
        if tr is not None:
            tr.install()
        dt_load = op("load", tr, timed)
        dt_rerun = op("rerun", tr, timed)
        if tr is not None:
            tr.uninstall()
        elif collector is not None:
            collector.collect()
        if timed:
            elapsed += dt_load + dt_rerun
            if tr is None:
                load_rows += landed.raw_rows
                load_s += dt_load
        day += 1

    # correctness gate: staged rows per source, manifest rows (read from
    # the parquet footers, without a Spark job)
    counts = {name: os.path.join(staging, name) for name in expected}
    counts["manifest"] = manifest
    expected["manifest"] = n_sources * day
    for name, path in counts.items():
        run.attempted += 1
        try:
            counts[name] = pyarrow.dataset.dataset(path, format="parquet").count_rows()
        except Exception as e:  # a missing table is a failed check
            counts[name] = f"{type(e).__name__}"
        if counts[name] != expected[name]:
            run.fail(f"gate {name}: {counts[name]} rows, expected {expected[name]}")
    manifest_rows = counts["manifest"] if isinstance(counts["manifest"], int) else 0

    run.samples = plain
    run.primary = plain.get("load", [])
    run.n_ops = sum(len(v) for v in plain.values())
    run.wall = sum(sum(v) for v in plain.values())
    run.extra.update(
        days=day - first,
        rerun_p50_s=median(plain["rerun"]) if plain.get("rerun") else float("nan"),
        ingest_rows_per_s=load_rows / load_s if load_s else float("nan"),
        staged_bytes_per_raw_byte=(_tree_bytes(staging) + _tree_bytes(manifest)) / raw_bytes,
    )
    if trace_on:
        run.layers, run.table = tracing.layer_metrics(tracer, traced_ops, ctx["cores"])
        run.layers["trace.overhead_pct"] = _overhead_pct(plain, traced)
        run.layers["incremental.manifest_files"] = manifest_rows
        cand = files["candidates"]
        run.layers["incremental.skip_ratio"] = files["skipped"] / cand if cand else 0.0
        run.n_traced = sum(op.primary for op in traced_ops)
        run.spans = tracer.spans
    shutil.rmtree(base, ignore_errors=True)
    return run
