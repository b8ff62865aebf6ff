"""Bench harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) plus the north-rule
validation pipeline over the synthetic code table, and prints ONE JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "rows_per_sec": ..., "bench_rows": ...}

The code table is generated once per (rows, seed) into .bench/ (gitignored)
so bench measures scan+validate, not generation. Tune size with
$SPARK_GRAFT_BENCH_ROWS (default 2,000,000).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from yaschva_spark.session import get_spark


def _ensure_code_table(spark, n_rows: int, seed: int = 42) -> str:
    from yaschva_spark.fixtures import code_files

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".bench", f"code_{n_rows}_{seed}")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        # partitions=64 matches scripts/bench_scaling.py's generator: the
        # two share this cache key, and the scaling evidence asserts a
        # 64-file layout (file count quantizes scan task waves under the
        # 32m maxPartitionBytes setting)
        code_files(spark, n_rows, seed=seed, partitions=64).write.mode("overwrite").parquet(path)
    return path


def headline(
    timings: dict, sf: str, result, pipeline_sec: float, runs: list, load_avg: float
) -> dict:
    """The compact stdout payload. It must stay under the driver's ~2000
    char tail capture (asserted in tests); detail goes to the file."""
    return {
        "metric": "validation_pipeline_sec",
        "value": round(pipeline_sec, 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "total_sec": round(sum(timings.values()), 4),
        "bench_rows": result.n_rows,
        "rows_per_sec": round(result.n_rows / pipeline_sec, 1),
        "n_violations": result.n_violations,
        "n_dup_keys": result.n_dup_keys,
        "n_orphans": result.n_orphans,
        # ambient-load context: this host shows external multi-minute
        # slow windows (BENCH/BASELINE.md); readers should weigh
        # wall numbers against the load state they were taken in
        "load_avg_1m": load_avg,
        "pipeline_median_sec": round(sorted(runs)[len(runs) // 2], 4),
        # r2-comparable raw statistic (the old headline)
        "pipeline_min_sec": round(min(runs), 4),
        "detail_file": "BENCH/last_run_detail.json",
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    bench_rows = int(os.environ.get("SPARK_GRAFT_BENCH_ROWS", "2000000"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    spark = get_spark(app_name="yaschva_spark_bench")

    import __spark_entry__ as entrymod
    from yaschva_spark.fixtures import repos_dim
    from yaschva_spark.pipeline import run_validation_job

    timings: dict[str, float] = {}

    # Pure-CPU ambient-load probe (shared by the per-query section and the
    # pipeline protocol below): sha2 -> bit_xor over spark.range — codegen
    # only, no I/O, shuffle, or Python — measuring what the host was
    # actually handing the JVM in that window.
    from pyspark.sql import functions as F

    cores = os.cpu_count() or 32
    probe_expr = F.bit_xor(
        F.conv(F.substring(F.sha2(F.col("id").cast("string"), 256), 1, 15), 16, 10)
        .cast("long")
    )
    probe_df = spark.range(0, 20_000_000, 1, 4 * cores)
    # the per-query probe is 4x smaller (~0.4 s at floor) so pairing 3
    # probes with each of the ~45 queries adds ~1 min, not ~4
    q_probe_df = spark.range(0, 5_000_000, 1, 4 * cores)

    def _probe_with(df) -> float:
        t0 = time.monotonic()
        df.agg(probe_expr).collect()
        return time.monotonic() - t0

    # 1) driver-contract queries at the benchmark scale factor.
    # BASELINE.md protocol: exclude JIT/codegen warmup — one warmup run,
    # then 3 timed reps, each PAIRED with a pure-CPU probe (r3 verdict #1:
    # median-of-raw-reps inside one of this host's multi-minute ~50x stall
    # windows produced a phantom 56x "regression" block in BENCH_r03 that
    # the artifact could not adjudicate). Each rep deflates by its probe's
    # ambient factor against the GLOBAL probe floor — global, not
    # per-query, so a query whose 3 reps all land inside one stall window
    # still normalizes correctly. Raw medians ride along for cross-round
    # comparison.
    from yaschva_spark.cache import unpersist_intermediates

    def _timed(fn, reps=3):
        fn()  # warmup (JIT + page cache; materializes operator-internal
        # persists, which later reps reuse via CacheManager plan matching —
        # the BASELINE.md protocol measures warm steady-state)
        pairs = []
        for _ in range(reps):
            p = _probe_with(q_probe_df)
            t0 = time.monotonic()
            fn()
            pairs.append((time.monotonic() - t0, p))
        # release the operator-internal caches AFTER the reps so queries
        # don't leak pinned blocks into each other (the round-1 leak),
        # without changing the per-rep warm-cache measurement semantics
        unpersist_intermediates()
        return pairs

    _probe_with(q_probe_df)  # probe warmup (JIT)
    q_pairs: dict[str, list[tuple[float, float]]] = {}
    for name, fn in entrymod.queries().items():
        q_pairs[name] = _timed(lambda f=fn: f(spark, sf_dir).count())

    # screen-coverage telemetry: the dynamic split plan's win is the
    # proven fraction (rows that never cross Arrow) — log it per round
    from yaschva_spark.engine import screen_coverage

    coverage = {
        n: cov
        for n in ("nested_json_validation",)
        if (cov := screen_coverage(n)) is not None
    }

    q_probe_floor = min(p for pairs in q_pairs.values() for _, p in pairs)
    raw_medians: dict[str, float] = {}
    for name, pairs in q_pairs.items():
        normalized = sorted(r * q_probe_floor / p for r, p in pairs)
        # 3 decimals: the stdout line must stay under the driver's 2000-char
        # tail capture (r4's 4-decimal, triple-audit line was truncated to
        # parsed: null); full-precision reps live in the detail file
        timings[name] = round(normalized[len(normalized) // 2], 3)
        raw = sorted(r for r, _ in pairs)
        raw_medians[name] = round(raw[len(raw) // 2], 4)

    # 2) the north-rule validation pipeline over the code table
    code_path = _ensure_code_table(spark, bench_rows)
    code = spark.read.parquet(code_path)
    repos = repos_dim(spark)

    def _run_pipeline():
        out_dir = tempfile.mkdtemp(prefix="yv_bench_")
        try:
            return run_validation_job(spark, code, repos, out_dir, n_buckets=64)
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    # paired-probe protocol (VERDICT r2 #6): this host has multi-minute
    # ambient slow windows external to the JVM — raw reps routinely swing
    # 5-10x inside one bench invocation (44s..4.6s on the same build), so
    # neither median (rides the noise) nor min (gameable, certifies only
    # the luckiest window) of raw walls is defensible alone. Instead each
    # rep is PAIRED with the pure-CPU probe run in the same JVM immediately
    # before it; each pipeline wall is deflated by its window's measured
    # ambient factor (probe_i / min probe_i), and the headline is the
    # MEDIAN of the normalized walls: noise-robust like pairing,
    # median-honest unlike min. Raw reps + probe walls ride along.
    result = _run_pipeline()  # warmup
    _probe_with(probe_df)  # probe warmup (JIT)
    runs, probes = [], []
    for _ in range(5):
        probes.append(_probe_with(probe_df))
        t0 = time.monotonic()
        result = _run_pipeline()
        runs.append(time.monotonic() - t0)
    probe_floor = min(probes)
    normalized = sorted(r * probe_floor / p for r, p in zip(runs, probes))
    pipeline_sec = normalized[len(normalized) // 2]
    timings["validation_pipeline"] = round(pipeline_sec, 4)

    load_avg = round(os.getloadavg()[0], 2)
    # Full-detail artifact (per-rep triples, probe walls, raw medians):
    # written to a FILE because the driver captures only the last ~2000
    # chars of stdout — r4's all-in-one line outgrew that window and
    # BENCH_r04.json recorded parsed: null. The stdout line below is the
    # compact headline and must stay under the window (asserted in tests).
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH", "last_run_detail.json"
    )
    detail = {
        "queries_normalized_median": timings,
        "queries_raw_median": raw_medians,
        "query_probe_floor_sec": round(q_probe_floor, 4),
        "query_reps_sec": {
            n: [round(r, 4) for r, _ in pairs] for n, pairs in q_pairs.items()
        },
        "query_probes_sec": {
            n: [round(p, 3) for _, p in pairs] for n, pairs in q_pairs.items()
        },
        "screen_coverage": coverage,
        "pipeline_runs_sec": [round(r, 3) for r in runs],
        "probe_runs_sec": [round(p, 3) for p in probes],
        "sf": sf,
        "bench_rows": result.n_rows,
        "load_avg_1m": load_avg,
    }
    os.makedirs(os.path.dirname(detail_path), exist_ok=True)
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)

    line = headline(timings, sf, result, pipeline_sec, runs, load_avg)
    print(json.dumps(line, separators=(",", ":")))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
