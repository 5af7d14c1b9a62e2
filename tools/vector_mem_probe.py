"""Vector-family memory probe (r11, VERDICT r10 'Next round' #7): the
realistic 100-TB embedding-readout shape is a large query set against a
huge corpus — Q = 10^4 queries x 10^6 corpus vectors (dim 64). The
rounded6/plain Arrow scorers' per-batch BLAS selection matrix is
n_batch x Q doubles, which grows with Q: at the default 10^4-row Arrow
batch and Q = 10^4 that is 800 MB PER TASK (untenable at 32-way
parallelism); the r11 q_chunk=1024 bound caps it at 80 MB.

This probe measures, on synthetic seeded vectors:
  - wall time: exact chunked (q_chunk=1024) vs exact unchunked
    (q_chunk=Q) vs IVF (n_centroids=64, n_probe=8);
  - peak python-worker RSS during each run (sampled from /proc every
    0.2 s; local[32] forks one worker per core, so per-worker peak is
    the per-task executor budget the number speaks to);
  - the analytic selection-matrix bound for each variant.

Results go in BASELINE.md (round-11 section). Usage:
    python tools/vector_mem_probe.py [N_CORPUS] [N_QUERIES] [VARIANTS] [DIST]
VARIANTS: comma-separated subset of chunked,unchunked,ivf,lsh,recall
(default all except recall)
DIST: uniform (default) | clustered — clustered draws each vector
around one of 64 gaussian centers (std 0.25), the regime where
locality-sensitive indexes earn their keep; uniform gaussians are the
adversarial case (pairwise cosines concentrate near 0, so LSH buckets
and IVF cells are near-uniformly full).
`recall` runs exact + IVF + LSH at Q=min(Q,1000) and reports
recall@10 of each approximate arm against the exact sets.
— the full-scale unchunked arm alone runs >6 min, so long runs go one
variant at a time.
"""

from __future__ import annotations

import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

DIM = 64
SEED = 11
STAGE = "/tmp/spark_graft_vecprobe"


def stage_vectors(n_corpus: int, dist: str = "uniform") -> str:
    """Seeded synthetic corpus written once (pyarrow, no Spark): vec_id
    long + embedding array<float> matching the testdata embeddings
    schema. uniform = unit gaussians (zero-norm impossible at dim 64);
    clustered = 64 gaussian centers + std-0.25 noise, vec i on center
    i % 64."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tag = "" if dist == "uniform" else f"_{dist}"
    path = f"{STAGE}/corpus_{n_corpus}{tag}.parquet"
    if os.path.exists(path):
        return path
    os.makedirs(STAGE, exist_ok=True)
    rng = np.random.default_rng(SEED)
    ids = pa.array(np.arange(n_corpus, dtype=np.int64))
    if dist == "clustered":
        centers = rng.standard_normal((64, DIM), dtype=np.float32)
        noise = rng.standard_normal(
            (n_corpus, DIM), dtype=np.float32
        ) * np.float32(0.25)
        flat = (
            centers[np.arange(n_corpus) % 64] + noise
        ).reshape(-1)
    else:
        flat = rng.standard_normal(n_corpus * DIM, dtype=np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(flat), DIM).cast(
        pa.list_(pa.float32())
    )
    tmp = path + ".tmp"
    pq.write_table(
        pa.table({"vec_id": ids, "embedding": emb}), tmp,
        row_group_size=65536,
    )
    os.replace(tmp, path)
    return path


class WorkerRssSampler:
    """Peak per-process RSS (KiB) across pyspark worker/daemon python
    processes, sampled from /proc while the body runs."""

    def __init__(self) -> None:
        self.peak_kib = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        page_kib = os.sysconf("SC_PAGE_SIZE") // 1024
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read()
                if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                    continue
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * page_kib
                self.peak_kib = max(self.peak_kib, rss)
            except (OSError, ValueError, IndexError):
                continue

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            time.sleep(0.2)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self._sample()


def main() -> None:
    n_corpus = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 10_000
    dist = sys.argv[4] if len(sys.argv) > 4 else "uniform"
    from pyspark.sql import functions as F

    from core_telecoms_etl_spark import get_spark
    from core_telecoms_etl_spark.operators import similarity as sim

    spark = get_spark("vector-mem-probe")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm
    batch_rows = int(
        spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    )
    path = stage_vectors(n_corpus, dist)
    corpus = spark.read.parquet(path).repartition(32)
    queries = spark.read.parquet(path).filter(
        F.col("vec_id") < n_queries
    )
    queries.collect()  # stage the query side out of the measurement
    # warm pass: fork the python workers + page in the parquet scan so
    # the first measured variant isn't charged for them
    sim.brute_force_topk(
        corpus, queries.filter(F.col("vec_id") < 32), k=10
    ).count()

    print(
        f"corpus {n_corpus} x dim {DIM}, Q={n_queries}, k=10, "
        f"arrow batch {batch_rows} rows"
    )
    which = (
        set(sys.argv[3].split(","))
        if len(sys.argv) > 3
        else {"chunked", "unchunked", "ivf", "lsh"}
    )
    variants = [
        (
            "chunked",
            "exact q_chunk=1024",
            lambda: sim.brute_force_topk(
                corpus, queries, k=10, q_chunk=1024
            ),
            batch_rows * min(1024, n_queries) * 8,
        ),
        (
            "unchunked",
            f"exact unchunked (q_chunk={n_queries})",
            lambda: sim.brute_force_topk(
                corpus, queries, k=10, q_chunk=n_queries
            ),
            batch_rows * n_queries * 8,
        ),
        (
            "ivf",
            "ivf 64c/8p",
            lambda: sim.ivf_topk(
                corpus, queries, k=10, n_centroids=64, n_probe=8
            ),
            None,
        ),
        (
            "lsh",
            "lsh 16b/ham6/4t",
            lambda: sim.lsh_topk(
                corpus, queries, k=10, n_bits=16, max_hamming=6,
                n_tables=4,
            ),
            None,
        ),
    ]
    for key, name, fn, matrix_bytes in variants:
        if key not in which:
            continue
        t0 = time.time()
        with WorkerRssSampler() as s:
            n = fn().count()
        wall = time.time() - t0
        mat = (
            f"{matrix_bytes / 2**20:.0f} MB" if matrix_bytes else "n/a"
        )
        print(
            f"{name:36s} wall {wall:7.1f}s  rows {n:9d}  "
            f"peak worker RSS {s.peak_kib / 1024:7.0f} MB  "
            f"selection matrix {mat}"
        )

    if "recall" in which:
        # recall@10 of the approximate arms vs exact, on a bounded
        # query set (collected pair sets stay ≤ Q_r·k rows each)
        q_r = min(n_queries, 1000)
        qs = spark.read.parquet(path).filter(F.col("vec_id") < q_r)
        qs.collect()

        def pairs(df):
            return {
                (r.query_id, r.neighbor_id) for r in df.collect()
            }

        t0 = time.time()
        exact = pairs(sim.brute_force_topk(corpus, qs, k=10))
        t_exact = time.time() - t0
        for aname, afn in (
            (
                "ivf 64c/8p",
                lambda: sim.ivf_topk(
                    corpus, qs, k=10, n_centroids=64, n_probe=8
                ),
            ),
            (
                "lsh 16b/ham6/4t",
                lambda: sim.lsh_topk(
                    corpus, qs, k=10, n_bits=16, max_hamming=6,
                    n_tables=4,
                ),
            ),
        ):
            t0 = time.time()
            approx = pairs(afn())
            wall = time.time() - t0
            rec = len(exact & approx) / max(1, len(exact))
            print(
                f"recall@10 {aname:24s} {rec:6.3f}  wall {wall:6.1f}s"
                f"  (exact arm {t_exact:.1f}s, Q={q_r}, dist={dist})"
            )


if __name__ == "__main__":
    main()
