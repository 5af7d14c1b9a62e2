"""Seeded raw-source generator for the `daily_ingest` workload.

Each day lands three raw files, one per source, shaped like the dirty
telecom feeds `pipeline.run_pipeline` is built for:

- `call_logs/day_NNNN.csv`: dirty headers, whitespace-padded strings,
  exact duplicates plus duplicates that differ only in padding, and
  all-empty rows;
- `social/day_NNNN.json`: JSON lines with dirty keys, padded strings,
  duplicates and empty objects;
- `web/day_NNNN.parquet`: dirty column names, padded strings,
  duplicates and all-null rows.

Every duplicate collapses to its original after trimming, and every
empty row is dropped by cleaning, so the staged row count per source is
the number of distinct rows generated (`expected`). The same
(seed, day, sizes) gives byte-identical files.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DUP_RATE = 0.02
EMPTY_RATE = 0.01
CATEGORIES = ["billing", "network", "roaming", "device", "contract", "porting"]
STATUSES = ["open", "closed", "escalated", "pending"]
CHANNELS = ["twitter", "facebook", "instagram", "forum"]
BROWSERS = ["chrome", "firefox", "safari", "edge"]

CSV_HEADER = (
    "call ID,customeR iD,COMPLAINT_catego ry,agent ID,"
    "resolutionstatus,call Start Time,Call Duration Sec"
)
CALL_LOGS_RENAMES = {
    "complaint_catego_ry": "complaint_category",
    "resolutionstatus": "resolution_status",
}
SOCIAL_RENAMES = {"complaint_i_d": "complaint_id"}
WEB_RENAMES = {"request_i_d": "request_id"}


@dataclass(frozen=True)
class Sizes:
    call_logs: int
    social: int
    web: int


@dataclass(frozen=True)
class Day:
    files: dict[str, str]  # source -> absolute path written
    expected: dict[str, int]  # source -> distinct non-empty rows
    raw_rows: int  # every data line/record written, junk included
    raw_bytes: int


def _pad(rng, values: np.ndarray) -> list[str]:
    """Left/right space padding on ~30 % of values."""
    left = rng.integers(0, 3, len(values)) * (rng.random(len(values)) < 0.15)
    right = rng.integers(0, 3, len(values)) * (rng.random(len(values)) < 0.15)
    return [" " * a + str(v) + " " * b for v, a, b in zip(values, left, right)]


def _with_junk(rng, rows: list, repad) -> list:
    """Append duplicates (half exact, half re-padded) and `None` for
    empty rows, then shuffle. `repad(row)` returns a padding variant."""
    n = len(rows)
    dup_idx = rng.integers(0, n, int(n * DUP_RATE))
    dups = [rows[i] if k % 2 == 0 else repad(rows[i]) for k, i in enumerate(dup_idx)]
    out = rows + dups + [None] * int(n * EMPTY_RATE)
    order = rng.permutation(len(out))
    return [out[i] for i in order]


def _ids(day: int, n: int) -> np.ndarray:
    return day * 1_000_000 + np.arange(n, dtype=np.int64)


def write_day(raw_root: str, seed: int, day: int, sizes: Sizes) -> Day:
    rng = np.random.default_rng([seed, day])
    files: dict[str, str] = {}
    expected = {"call_logs": sizes.call_logs, "social": sizes.social, "web": sizes.web}
    raw_rows = 0

    # call logs: CSV ---------------------------------------------------
    n = sizes.call_logs
    start = np.datetime64("2024-01-01T00:00:00") + np.timedelta64(day, "D")
    cols = [
        [str(v) for v in _ids(day, n)],
        [str(v) for v in rng.integers(0, 50_000, n)],
        _pad(rng, np.array(CATEGORIES)[rng.integers(0, len(CATEGORIES), n)]),
        [str(v) for v in rng.integers(0, 400, n)],
        _pad(rng, np.array(STATUSES)[rng.integers(0, len(STATUSES), n)]),
        [
            str(t).replace("T", " ")
            for t in start + rng.integers(0, 86_400, n).astype("timedelta64[s]")
        ],
        [str(v) for v in rng.integers(5, 3_600, n)],
    ]
    rows = [list(r) for r in zip(*cols)]

    def repad_csv(r):
        return r[:2] + [" " + r[2].strip() + "  "] + r[3:]

    lines = [
        ",".join(r) if r is not None else ",,,,,," for r in _with_junk(rng, rows, repad_csv)
    ]
    raw_rows += len(lines)
    files["call_logs"] = _write_text(
        raw_root, "call_logs", f"day_{day:04d}.csv", CSV_HEADER + "\n" + "\n".join(lines) + "\n"
    )

    # social complaints: JSON lines --------------------------------------
    n = sizes.social
    recs = [
        {
            "complaint I D": int(i),
            "customeR iD": int(c),
            "Media Channel": ch,
            "complaint_text": f"issue {int(k)}",
        }
        for i, c, ch, k in zip(
            _ids(day, n),
            rng.integers(0, 50_000, n),
            _pad(rng, np.array(CHANNELS)[rng.integers(0, len(CHANNELS), n)]),
            rng.integers(0, 1_000, n),
        )
    ]

    def repad_json(r):
        return {**r, "Media Channel": "  " + r["Media Channel"].strip()}

    lines = [json.dumps(r) if r is not None else "{}" for r in _with_junk(rng, recs, repad_json)]
    raw_rows += len(lines)
    files["social"] = _write_text(raw_root, "social", f"day_{day:04d}.json", "\n".join(lines) + "\n")

    # web complaints: parquet --------------------------------------------
    n = sizes.web
    rows = list(
        zip(
            (int(v) for v in _ids(day, n)),
            (int(v) for v in rng.integers(0, 50_000, n)),
            _pad(rng, np.array(BROWSERS)[rng.integers(0, len(BROWSERS), n)]),
            (float(v) / 100.0 for v in rng.integers(0, 100_000, n)),
        )
    )

    def repad_web(r):
        return (r[0], r[1], r[2].strip() + " ", r[3])

    rows = [r if r is not None else (None, None, None, None) for r in _with_junk(rng, rows, repad_web)]
    raw_rows += len(rows)
    names = ["request I D", "Customer Id", "Browser ", "Resolution Cost"]
    table = pa.table(
        {name: list(col) for name, col in zip(names, zip(*rows))},
        schema=pa.schema(
            [(names[0], pa.int64()), (names[1], pa.int64()), (names[2], pa.string()), (names[3], pa.float64())]
        ),
    )
    d = os.path.join(raw_root, "web")
    os.makedirs(d, exist_ok=True)
    files["web"] = os.path.join(d, f"day_{day:04d}.parquet")
    pq.write_table(table, files["web"])

    raw_bytes = sum(os.path.getsize(p) for p in files.values())
    return Day(files=files, expected=expected, raw_rows=raw_rows, raw_bytes=raw_bytes)


def _write_text(raw_root: str, source: str, name: str, text: str) -> str:
    d = os.path.join(raw_root, source)
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, name)
    with open(path, "w", newline="") as f:
        f.write(text)
    return path
