"""IncrementalLoader — file-granular, duplicate-safe incremental loading
(SURVEY.md §2.3 J4/J5, §4.2; the one genuinely custom component).

The reference guarantees idempotency with three layers of skip-processed-file
logic: raw-copy key-set difference (plugins/s3_copy.py:84-99), staging
head_object existence checks (plugins/transform.py:161-169), and a
PROCESSED_FILES warehouse ledger probed per file
(plugins/snowflake_load.py:64-69,108-133,179-199). All three are the same
semantic operation — an anti-join of candidate files against a manifest —
done row-at-a-time over the network.

Here it is ONE set-at-a-time operation: list source files → subtract the
manifest parquet → process only new files → append manifest entries. At
100 TB the manifest is thousands-to-millions of rows (one per file), always
tiny relative to data.

The subtraction is a driver-side set difference: `new_files` reads the
ledger's two key columns with pyarrow and `record` appends one parquet
file with pyarrow. The listing and the answer live on the driver anyway:
any read of the new files needs their paths there. A Spark anti-join
would move no work off the driver — its broadcast side already pulls the
whole ledger through the driver — and would add two jobs plus planning
to every call. Ledgers written by earlier versions through Spark (with
`_SUCCESS` and `.crc` side files) still load: names starting with `.` or
`_` are skipped, as in Spark's own listing. A listing too large for the
driver would need a checkpointed file-source stream instead of the
ledger; that variant is not built.

Crash-safety without a transactional table format: data is written BEFORE the
manifest entry, so a crash between the two re-processes that batch's files on
retry; paired with deterministic output naming (or an idempotent sink) this
yields effectively-once. With Delta/Iceberg available, the manifest commit
and data write would share a transaction; this module keeps the plain-parquet
contract of the harness.
"""

from __future__ import annotations

import datetime as dt
import os
import uuid
from collections.abc import Callable, Sequence
from dataclasses import dataclass
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.fs as pafs
import pyarrow.parquet as pq

# The ledger as Spark DDL, for auditing it with Spark:
# `spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_path)`.
MANIFEST_SCHEMA = "folder_name string, file_name string, loaded_at timestamp"
# MANIFEST_SCHEMA as pyarrow writes it. A UTC-adjusted timestamp is
# isAdjustedToUTC=true in the footer, so a reader that infers the schema
# (Spark under inferTimestampNTZ) sees TimestampType, as in ledger files
# Spark wrote, not a conflicting TIMESTAMP_NTZ.
_ARROW_SCHEMA = pa.schema(
    [
        ("folder_name", pa.string()),
        ("file_name", pa.string()),
        ("loaded_at", pa.timestamp("us", tz="UTC")),
    ]
)
# The key columns `new_files` reads. An explicit schema lets an empty or
# new ledger directory resolve without a file to infer from.
_KEY_SCHEMA = pa.schema([_ARROW_SCHEMA.field(0), _ARROW_SCHEMA.field(1)])


def _filesystem(path: str) -> tuple[pafs.FileSystem, str]:
    """pyarrow filesystem and in-filesystem path for a ledger or folder
    location. A bare path resolves against the working directory, as
    Spark resolves it; an unknown URI scheme raises."""
    if not urlparse(path).scheme:
        path = os.path.abspath(path)
    return pafs.FileSystem.from_uri(path)


def visible_files(path: str) -> set[str]:
    """Names of the files directly under the folder `path`, listed on
    the driver with pyarrow, no Spark job. Names starting with `.` or
    `_` are skipped, the rule the ledger read applies and Spark's own
    listing follows: `_SUCCESS`, `.crc` checksums and in-flight
    `_temporary` output are not data. A missing folder is empty."""
    fs, root = _filesystem(path)
    infos = fs.get_file_info(pafs.FileSelector(root, allow_not_found=True))
    return {
        i.base_name
        for i in infos
        if i.type == pafs.FileType.File
        and not i.base_name.startswith((".", "_"))
    }


@dataclass
class LoadReport:
    candidates: int
    new_files: list[str]
    skipped: int


@dataclass
class RunNotification:
    """What a pipeline-level notification hook receives — the analog of
    the reference's success/failure email payloads
    (airflow/dags/pipeline.py:20-43,240-264), minus the transport: the
    engine reports, the caller decides whether that means email, a
    metrics counter, or nothing. `attempts` counts `process` executions
    (1 = first try succeeded), mirroring the reference's task-retry
    counter (pipeline.py:110)."""

    status: str  # "success" | "failure"
    folder: str
    report: LoadReport | None
    error: Exception | None
    attempts: int


class IncrementalLoader:
    """Manifest-backed incremental file loader.

    manifest table: (folder_name, file_name, loaded_at) — the reference's
    PROCESSED_FILES ledger (plugins/snowflake_load.py:64-69) as parquet.
    """

    def __init__(self, manifest_path: str) -> None:
        self.manifest_path = manifest_path

    def new_files(self, folder: str, files: Sequence[str]) -> list[str]:
        """The candidates of `folder` not in the ledger, in input order.

        A driver-side set difference, no Spark job: pyarrow reads only the
        (folder_name, file_name) columns of the ledger, filtered on
        `folder`. The candidates and the answer live on the driver anyway
        (the new names build the read paths), and the anti-join's
        broadcast would pull the whole ledger through the driver too.
        Files whose names start with `.` or `_` are not ledger files
        (Spark's `_SUCCESS` and `.crc` files, `record`'s hidden temp
        file), as in Spark's own listing. A ledger path that does not
        exist is an empty ledger; any other read error raises."""
        if not files:
            return []
        fs, root = _filesystem(self.manifest_path)
        if fs.get_file_info(root).type == pafs.FileType.NotFound:
            return list(files)
        ledger = ds.dataset(
            root, filesystem=fs, format="parquet", schema=_KEY_SCHEMA
        )
        seen = set(
            ledger.to_table(
                columns=["file_name"], filter=ds.field("folder_name") == folder
            )
            .column("file_name")
            .to_pylist()
        )
        return [f for f in files if f not in seen]

    def record(self, folder: str, files: Sequence[str]) -> None:
        """Append ledger entries for `files` as one parquet file written
        by pyarrow on the driver, no Spark job. The file is written under
        a hidden name and then renamed, so a reader never sees a partial
        file and a crash mid-write leaves only an ignored temp file."""
        if not files:
            return
        fs, root = _filesystem(self.manifest_path)
        fs.create_dir(root, recursive=True)
        now = dt.datetime.now(dt.timezone.utc)
        table = pa.table(
            {
                "folder_name": [folder] * len(files),
                "file_name": list(files),
                "loaded_at": [now] * len(files),
            },
            schema=_ARROW_SCHEMA,
        )
        name = f"part-{uuid.uuid4().hex}.parquet"
        pq.write_table(table, f"{root}/.{name}", filesystem=fs)
        fs.move(f"{root}/.{name}", f"{root}/{name}")

    def run(
        self,
        folder: str,
        files: Sequence[str],
        process: Callable[[list[str]], None],
        *,
        extensions: Sequence[str] = (".parquet", ".csv", ".json"),
        retries: int = 0,
        on_success: Callable[[RunNotification], None] | None = None,
        on_failure: Callable[[RunNotification], None] | None = None,
    ) -> LoadReport:
        """Filter candidates by extension (the reference's suffix predicate,
        plugins/s3_copy.py:92-93), anti-join against the manifest, process
        all new files as ONE multi-file batch, then record them. The
        `process` callback takes the new-file list (it must build reader
        paths on the driver regardless); the manifest check and append
        run on the driver (`new_files`, `record`) and start no Spark job.

        Orchestration hooks (VERDICT r11 ask #7 — the reference's one
        behavior with no engine analog, airflow/dags/pipeline.py:20-43,
        110,240-264), deliberately OUTSIDE the query surface:

        - `retries`: re-run a failing `process` up to this many extra
          times (the reference's task `retries=1`). The manifest is
          recorded only after a SUCCESSFUL process, so a retried batch
          re-reads the same new-file list — idempotency unchanged.
        - `on_success` / `on_failure`: called once with a
          `RunNotification` (the email-on-success/failure analog).
          After exhausted retries the original exception re-raises —
          a notification hook observes failure, it never swallows it.
          Hook exceptions propagate (a misconfigured notifier should
          be loud, matching the reference's failing email task)."""
        candidates = [
            f for f in files if os.path.splitext(f)[1].lower() in extensions
        ]
        new = self.new_files(folder, candidates)
        attempts = 0
        if new:
            while True:
                attempts += 1
                try:
                    process(new)
                    break
                except Exception as e:
                    if attempts > retries:
                        if on_failure is not None:
                            on_failure(
                                RunNotification(
                                    "failure", folder, None, e, attempts
                                )
                            )
                        raise
            self.record(folder, new)
        report = LoadReport(
            candidates=len(candidates),
            new_files=new,
            skipped=len(candidates) - len(new),
        )
        if on_success is not None:
            on_success(
                RunNotification(
                    "success", folder, report, None, attempts
                )
            )
        return report
