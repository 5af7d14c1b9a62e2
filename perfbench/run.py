"""Benchmark entry point.

    python3 perfbench/run.py --workload {sql_mix,python_mix,daily_ingest}
        --seed N --seconds S --trace {0,1}

Run from the repository root. Nothing is compiled: the engine is the
`core_telecoms_etl_spark` package beside this directory, run under a
pinned environment (see `common.pin_environment`). Every file a run
writes lives under `.perfbench/` in the repository root; Spark's log,
the run record and (traced runs) the spans go to `.perfbench/logs/`.

Trace 0 measures the end-to-end metrics; trace 1 is the separate traced
run that reports per-layer metrics, the per-layer table and the tracing
overhead. The last stdout line is one JSON object with the keys
correct, attempted, failed and metrics. Lines before it start with '#'.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import subprocess
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("sql_mix", "python_mix", "daily_ingest")
# op_p50_s, the tail and the ingest-only figures go to the run record
# (the '# run' line): with 12 queries the sql_mix median op falls in the
# gap between the six fast and six slow queries and jumps between them
END_TO_END = {
    "setup_s": "s",
    "ops_per_min": "1/min",
    "geomean_s": "s",
    "peak_rss_mb": "MB",
}


def _git_sha() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
        return out.stdout.strip() or "unknown"
    except Exception:
        return "unknown"


def collect_metrics(
    trace_on: bool, run, start_s: float, warmup_s: float, peak_rss_mb: float
) -> dict[str, tuple[float, str]]:
    """name -> (value, unit): the end-to-end metrics, or with tracing on
    the per-layer ones."""
    import tracing

    if trace_on:
        metrics = {k: (run.layers[k], unit) for k, unit in tracing.PER_LAYER.items() if k in run.layers}
        metrics["session.start_s"] = (start_s, "s")
        metrics["session.warmup_s"] = (warmup_s, "s")
        return metrics
    e2e = run.end_to_end()
    e2e["setup_s"] = start_s + warmup_s
    e2e["peak_rss_mb"] = peak_rss_mb
    return {k: (e2e[k], unit) for k, unit in END_TO_END.items()}


def result_line(run, metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps(
        {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
        }
    )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # hand runs only: the mixes' scale factor and a multiplier on the
    # rows landed per ingest day (defaults: workloads.MIX_SF, 1)
    ap.add_argument("--mix-sf", type=float, default=None)
    ap.add_argument("--ingest-scale", type=int, default=1)
    args = ap.parse_args(argv)

    for need in ("core_telecoms_etl_spark/__init__.py", "tools/check_oracle.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2

    work = os.path.join(ROOT, ".perfbench")
    logs = os.path.join(work, "logs")
    os.makedirs(logs, exist_ok=True)
    sys.path.insert(0, ROOT)
    stem = os.path.join(logs, f"{args.workload}-seed{args.seed}-trace{args.trace}")

    import common

    pinned = common.pin_environment(ROOT, work)
    steal0, total0 = common.cpu_ticks()
    # Spark and the JVM it launches write to fd 2: send that to a side
    # log and keep this script's own messages on the real stderr
    err = os.fdopen(os.dup(2), "w", buffering=1)
    log_fd = os.open(stem + ".log", os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 2)

    import gen_star
    import oracle
    import tracing
    import workloads

    ctx = {
        "work": work,
        "cores": int(pinned["SPARK_GRAFT_CPUS"]),
        "check_oracle": oracle.load_check_oracle(ROOT),
    }
    mix_sf = args.mix_sf or workloads.MIX_SF
    sizes = workloads.ingest_sizes(args.ingest_scale)
    spark = None
    try:
        if args.workload != "daily_ingest":
            ctx["star_dir"] = gen_star.ensure(os.path.join(work, "data"), mix_sf)
        with common.RssSampler() as rss:
            spark, start_s, warmup_s = common.set_up(work)
            if args.workload == "daily_ingest":
                run = workloads.run_ingest(
                    spark, ctx, args.seed, args.seconds, bool(args.trace), sizes
                )
            else:
                names = workloads.SQL_MIX if args.workload == "sql_mix" else workloads.PYTHON_MIX
                run = workloads.run_mix(spark, names, ctx, args.seed, args.seconds, bool(args.trace))
        metrics = collect_metrics(bool(args.trace), run, start_s, warmup_s, rss.peak_mb)
        steal1, total1 = common.cpu_ticks()
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "git_sha": _git_sha(),
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            "env": pinned,
            "mix_sf": mix_sf if args.workload != "daily_ingest" else None,
            "ingest_rows_per_day": dataclasses.astuple(sizes) if args.workload == "daily_ingest" else None,
            "start_s": start_s,
            "warmup_s": warmup_s,
            **common.jvm_heap_mb(spark),
            "cpu_steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
            "ops_failed_ratio": run.failed / run.attempted,
            "problems": run.problems[:20],
            **run.extra,
        }
    except Exception:
        traceback.print_exc(file=err)
        print(f"perfbench: {args.workload} aborted; Spark log in {stem}.log", file=err)
        return 1
    finally:
        if spark is not None:
            common.shut_down(spark)

    if args.trace:
        print(tracing.format_table(args.workload, run.table, run.layers["trace.overhead_pct"], run.n_traced))
        with open(stem + "-spans.json", "w") as f:
            json.dump([dataclasses.asdict(s) for s in run.spans], f)
    with open(stem + ".json", "w") as f:
        json.dump({"record": record, "metrics": metrics}, f, indent=1, default=str)
    print("# run " + json.dumps(record, sort_keys=True, default=str))
    for name, (value, unit) in metrics.items():
        moves = f"  -> {tracing.feeds(name)}" if args.trace else ""
        print(f"# {name} = {value:.6g} {unit}{moves}")
    print(result_line(run, metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
