"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The smoke test starts one local Spark session and takes about half a
minute; the rest are pure Python.
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import common  # noqa: E402
import gen_ingest  # noqa: E402
import gen_star  # noqa: E402
import run as bench_run  # noqa: E402
import tracing  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _files(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root) for d, _, fs in os.walk(root) for f in fs
    )


# --- generators ---------------------------------------------------------------


def test_ingest_generator_is_byte_identical_per_seed(tmp_path):
    sizes = gen_ingest.Sizes(call_logs=300, social=120, web=200)
    a = gen_ingest.write_day(str(tmp_path / "a"), seed=7, day=3, sizes=sizes)
    b = gen_ingest.write_day(str(tmp_path / "b"), seed=7, day=3, sizes=sizes)
    c = gen_ingest.write_day(str(tmp_path / "c"), seed=8, day=3, sizes=sizes)
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))
    for src in a.files:
        assert filecmp.cmp(a.files[src], b.files[src], shallow=False)
        assert not filecmp.cmp(a.files[src], c.files[src], shallow=False)
    assert a.expected == {"call_logs": 300, "social": 120, "web": 200}
    assert a.raw_rows > sum(a.expected.values())  # duplicates + empty rows
    assert (a.raw_rows, a.raw_bytes) == (b.raw_rows, b.raw_bytes)


def test_ingest_csv_is_dirty(tmp_path):
    day = gen_ingest.write_day(str(tmp_path), 1, 0, gen_ingest.Sizes(500, 10, 10))
    with open(day.files["call_logs"]) as f:
        header, *lines = f.read().splitlines()
    assert header == gen_ingest.CSV_HEADER
    assert ",,,,,," in lines  # all-empty rows
    assert len(set(lines)) < len(lines)  # exact duplicates
    assert any(" ," in ln or ", " in ln for ln in lines)  # padding


def test_star_generator_is_byte_identical(tmp_path):
    a = gen_star.ensure(str(tmp_path / "a"), 0.001)
    b = gen_star.ensure(str(tmp_path / "b"), 0.001)
    names = _files(a)
    assert names == _files(b) and "lineitem.parquet" in names
    for n in names:
        assert filecmp.cmp(os.path.join(a, n), os.path.join(b, n), shallow=False)


# --- statistics -----------------------------------------------------------------


@pytest.mark.parametrize(
    "n, q",
    [(1, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
     (200, 95.0), (999, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, q):
    assert common.tail_percentile(n) == q
    if q is not None:
        assert round(n * (100 - q) / 100, 6) >= common.MIN_BEYOND


def test_percentile_and_geomean():
    assert common.percentile([3, 1, 2], 50) == 2
    assert common.percentile([0, 10], 25) == 2.5
    assert common.geomean([1, 100]) == pytest.approx(10)


# --- metric schema --------------------------------------------------------------


def test_metric_names_and_units_are_well_formed():
    names = list(bench_run.END_TO_END) + list(tracing.PER_LAYER)
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.match(name), name
    for unit in list(bench_run.END_TO_END.values()) + list(tracing.PER_LAYER.values()):
        assert UNIT.match(unit), unit


def test_benchmark_json_lists_the_metrics_the_runs_print():
    spec = _spec()
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in spec["workloads"]} <= set(bench_run.WORKLOADS)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == bench_run.END_TO_END
    assert e2e["setup_s"] == "s"
    assert max(m["bound"] for m in spec["end_to_end"]) == next(
        m["bound"] for m in spec["end_to_end"] if m["name"] == "setup_s"
    )
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == tracing.PER_LAYER


def test_every_per_layer_metric_names_what_it_feeds():
    for name in tracing.PER_LAYER:
        assert tracing.feeds(name)
    for _, spans in tracing.LAYERS:
        assert all(tracing.feeds(n) for n in spans)


def test_plan_dot_parsing():
    dot = (
        '  0 [id="node0" labelType="html" label="<b>Execute InsertIntoHadoopFsRelationCommand</b>'
        "<br><br>number of written files: 3<br>number of output rows: 36,000<br>"
        'written output: 1.5 MiB" tooltip="x"];\n'
        '  1 [id="node1" labelType="html" label="<b>MapInPandas</b><br><br>'
        "time to run Python workers total (min, med, max (stageId: taskId))<br>"
        '2.5 s (1 s, 1 s, 1 s (stage 1.0: task 2))<br>number of output rows: 7" tooltip="y"];\n'
        "  1->0;\n"
    )
    nodes, edges = tracing.parse_plan_dot(dot)
    assert nodes[0][0] == tracing.WRITE_NODE
    assert nodes[0][1] == {
        "number of written files": 3.0,
        "number of output rows": 36000.0,
        "written output": 1.5 * 1024 * 1024,
    }
    assert nodes[1][1]["time to run Python workers"] == 2.5
    assert edges == [(1, 0)]


# --- smoke ----------------------------------------------------------------------


def test_smoke_one_session(tmp_path):
    """sf0.001 mixes (one SQL and one Python query; untraced, then
    traced) and one ingest day in one session: every output checks out
    and every metric the runs report is present with its unit."""
    import oracle
    import workloads

    work = str(tmp_path)
    common.pin_environment(ROOT, work)
    ctx = {
        "work": work,
        "cores": 2,
        "check_oracle": oracle.load_check_oracle(ROOT),
        "star_dir": gen_star.ensure(os.path.join(work, "data"), 0.001),
    }
    spark, start_s, warmup_s = common.set_up(work)
    try:
        mix = workloads.run_mix(spark, ["groupby_agg", "pandas_udf_scalar"], ctx, 1, 0, False)
        traced = workloads.run_mix(spark, ["groupby_agg", "pandas_udf_scalar"], ctx, 1, 0, True)
        ingest = workloads.run_ingest(spark, ctx, 1, 0, False, sizes=gen_ingest.Sizes(200, 50, 80))
    finally:
        common.shut_down(spark)

    for r in (mix, traced, ingest):
        assert (r.failed, r.problems) == (0, [])
    assert ingest.extra["days"] == 1
    for r in (mix, ingest):
        line = json.loads(bench_run.result_line(r, bench_run.collect_metrics(False, r, start_s, warmup_s, 1.0)))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert line["correct"] and line["attempted"] >= 1
        assert {k: v["unit"] for k, v in line["metrics"].items()} == bench_run.END_TO_END
    layers = bench_run.collect_metrics(True, traced, start_s, warmup_s, 1.0)
    assert {k: u for k, (_, u) in layers.items()} == tracing.PER_LAYER
    assert layers["python.rows_sent"][0] > 0
    assert layers["queries.build_s"][0] > 0
