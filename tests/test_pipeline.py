"""Synthetic code table + full validation job: injected violations are found
at their designed rates, skew exists, and the manifest makes the job
checkpoint-resumable exactly once."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from yaschva_spark import checks, pipeline
from yaschva_spark.engine import PASS_COL, VIOLATIONS_COL, validate_table
from yaschva_spark.fixtures import CODE_SCHEMA, HOT_REPO, code_files, repos_dim, with_content_sha
from yaschva_spark.pipeline import add_bucket, run_validation_job

N = 20_000


@pytest.fixture(scope="module")
def code(spark):
    df = code_files(spark, N, seed=42, partitions=8).persist()
    yield df
    df.unpersist()  # session outlives the module; don't leak cached plans


def test_determinism(spark, code):
    again = code_files(spark, N, seed=42, partitions=4)  # different partitioning
    a = code.agg(F.count(F.lit(1)), F.sum(F.crc32(F.concat_ws("|", "repo", "path", "commit")))).collect()[0]
    b = again.agg(F.count(F.lit(1)), F.sum(F.crc32(F.concat_ws("|", "repo", "path", "commit")))).collect()[0]
    assert tuple(a) == tuple(b)


def test_injected_violation_rates(spark, code):
    n = code.count()
    validated = validate_table(code, CODE_SCHEMA)
    rule_counts = {
        (r["path"], r["rule"]): r["n"]
        for r in validated.select(F.explode(VIOLATIONS_COL).alias("v"))
        .groupBy(F.col("v.path").alias("path"), F.col("v.rule").alias("rule"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # designed rates (FIXTURES.md §3), -60%/+80% tolerance on small samples
    def _close(key, rate):
        got = rule_counts.get(key, 0)
        assert 0.4 * rate * n <= got <= 1.8 * rate * n, (key, got, rate * n)

    _close(("$.commit", "regex_mismatch"), 0.005)
    _close(("$.lang", "enum_mismatch"), 0.003)
    _close(("$.repo", "str_too_short"), 0.002)
    _close(("$.content", "not_string"), 0.001)


def test_skew_hot_repo(code):
    n = code.count()
    hot = code.filter(F.col("repo") == HOT_REPO).count()
    assert 0.15 * n <= hot <= 0.25 * n


def test_duplicates_and_orphans(spark, code):
    dups = checks.duplicate_keys(code, ["repo", "path", "commit"], salt_buckets=4)
    assert dups.count() > 0
    orphans = checks.ri_orphans(code, "repo", repos_dim(spark), "repo")
    n_orph = orphans.count()
    assert 0 < n_orph < 0.01 * code.count()
    # every orphan is a ghost or empty repo (dim covers all legit repos)
    bad = orphans.filter(
        ~F.col("repo").startswith("ghost_org/") & (F.col("repo") != "")
    ).count()
    assert bad == 0


def test_content_sha_invariant(code):
    df = with_content_sha(code)
    row = df.filter(F.col("content").isNotNull()).select("content", "content_sha").first()
    import hashlib

    assert hashlib.sha256(row["content"].encode()).hexdigest() == row["content_sha"]


def test_pipeline_run_and_resume(spark, code, tmp_path):
    repos = repos_dim(spark)
    out1 = str(tmp_path / "full")
    full = run_validation_job(spark, code, repos, out1, n_buckets=8)
    assert full.n_buckets_processed == 8
    assert full.n_rows == code.count()
    assert full.n_violations > 0 and full.n_dup_keys > 0 and full.n_orphans > 0

    # rerun on the same manifest: nothing pending
    again = run_validation_job(spark, code, repos, out1, n_buckets=8)
    assert again.n_buckets_processed == 0

    # simulate a crash after half the buckets: first run only sees rows of
    # buckets 0-3 (manifest records those), second run completes the rest
    out2 = str(tmp_path / "resume")
    part1 = add_bucket(code, 8).filter(F.col("yv_bucket") < 4).drop("yv_bucket")
    r1 = run_validation_job(spark, part1, repos, out2, n_buckets=8)
    assert r1.n_buckets_processed == 8  # attempted all, manifest has 4
    r2 = run_validation_job(spark, code, repos, out2, n_buckets=8)
    assert r2.n_buckets_processed == 4  # only the missing buckets
    assert r2.n_rows == full.n_rows
    assert r2.n_violations == full.n_violations
    # the resume overwrote only its own buckets: the first run's rows stay
    assert spark.read.parquet(f"{out2}/violations").count() == r2.n_violations

    # violations sink is partitioned by bucket and readable
    viol = spark.read.parquet(f"{out1}/violations")
    assert viol.filter(F.col("rule") == "regex_mismatch").count() > 0
    manifest = spark.read.parquet(f"{out1}/manifest")
    assert manifest.count() == 8
    assert {"bucket", "n_rows", "n_violations", "content_digest"} <= set(manifest.columns)


def test_violations_sink_partition_pruning(spark, code, tmp_path):
    """The bucket-partitioned violations sink must prune at the reader —
    a bucket filter becomes a PartitionFilter, not a post-scan Filter."""
    repos = repos_dim(spark)
    out = str(tmp_path / "prune")
    run_validation_job(spark, code, repos, out, n_buckets=8)
    viol = spark.read.parquet(f"{out}/violations").filter(F.col("bucket") == 3)
    plan = viol._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan, plan[:800]
    assert viol.count() > 0
    # pruned read sees exactly the one bucket
    assert viol.select("bucket").distinct().collect()[0][0] == 3


# --- exactly-once sink --------------------------------------------------------

_MANIFEST_DTYPES = [
    ("bucket", "int"),
    ("n_rows", "bigint"),
    ("n_invalid_rows", "bigint"),
    ("n_violations", "bigint"),
    ("n_orphans", "bigint"),
    ("n_repos", "bigint"),
    ("content_digest", "bigint"),
    ("processed_at", "timestamp"),
]


@pytest.fixture(scope="module")
def clean(spark, code, tmp_path_factory):
    """One uninterrupted job over ``code``: (out_dir, JobResult)."""
    out = str(tmp_path_factory.mktemp("clean") / "out")
    return out, run_validation_job(spark, code, repos_dim(spark), out, n_buckets=8)


def _totals(res):
    return (res.n_rows, res.n_invalid_rows, res.n_violations, res.n_dup_keys, res.n_orphans)


def _sorted_rows(spark, path, drop=()):
    df = spark.read.parquet(path).drop(*drop)
    return df.orderBy(*df.columns).collect()


def _spark_written_manifest(spark, code, path, *, buckets, with_orphans):
    """A manifest part written by the Spark writer, in the shape earlier
    releases produced (``current_timestamp()``, optionally without the
    later ``n_orphans`` column)."""
    validated = validate_table(add_bucket(code, 8), CODE_SCHEMA, ignore_columns=("yv_bucket",))
    dim = F.broadcast(repos_dim(spark).select(F.col("repo").alias("__dim_repo")).distinct())
    orphans = [F.sum(F.col("__dim_repo").isNull().cast("long")).alias("n_orphans")]
    (
        validated.filter(F.col("yv_bucket").isin(buckets))
        .join(dim, validated["repo"] == F.col("__dim_repo"), "left")
        .groupBy(F.col("yv_bucket").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum((~F.col(PASS_COL)).cast("long")).alias("n_invalid_rows"),
            F.sum(F.size(VIOLATIONS_COL)).alias("n_violations"),
            *(orphans if with_orphans else []),
            F.approx_count_distinct("repo").alias("n_repos"),
            F.bit_xor(
                F.conv(F.substring(F.sha2(F.col("content"), 256), 1, 15), 16, 10).cast("long")
            ).alias("content_digest"),
            F.current_timestamp().alias("processed_at"),
        )
        .write.parquet(path)
    )


class _RefusingRenameFS:
    """A Hadoop FileSystem proxy whose ``rename`` reports failure (returns
    false without moving anything), as some object-store connectors do."""

    def __init__(self, fs):
        self._fs = fs

    def rename(self, src, dst):
        return False

    def __getattr__(self, name):
        return getattr(self._fs, name)


@pytest.mark.parametrize("crash_at", ["manifest_publish", "violations_write", "rename_refused"])
def test_crash_then_resume_matches_clean_run(spark, code, clean, tmp_path, monkeypatch, crash_at):
    """Crash injection between the two writes: a job that dies after its
    violations landed (the manifest publish raises, the violations write
    raises after writing its files, or the file system refuses the
    publish rename) leaves no manifest rows, and the resume yields the
    clean run's violations row for row and its totals — nothing
    duplicated, nothing dropped."""
    from pyspark.sql.readwriter import DataFrameWriter

    repos = repos_dim(spark)
    out = str(tmp_path / "crash")

    def crash(*args, **kwargs):
        raise RuntimeError("injected crash")

    orig_parquet = DataFrameWriter.parquet

    def write_then_crash(self, *args, **kwargs):
        orig_parquet(self, *args, **kwargs)
        raise RuntimeError("injected crash")

    orig_fs = pipeline._hadoop_fs

    def refusing_fs(*args):
        fs, jpath, jvm = orig_fs(*args)
        return _RefusingRenameFS(fs), jpath, jvm

    with monkeypatch.context() as m:
        if crash_at == "manifest_publish":
            m.setattr(pipeline, "_hadoop_publish", crash)
        elif crash_at == "violations_write":
            m.setattr(DataFrameWriter, "parquet", write_then_crash)
        else:
            m.setattr(pipeline, "_hadoop_fs", refusing_fs)
        expected = OSError if crash_at == "rename_refused" else RuntimeError
        with pytest.raises(expected, match="injected|could not publish"):
            run_validation_job(spark, code, repos, out, n_buckets=8)
    assert len(list(Path(out, "violations").glob("bucket=*"))) == 8  # durable
    man = Path(out, "manifest")
    assert not man.exists() or not [p for p in man.iterdir() if not p.name.startswith(".")]

    resumed = run_validation_job(spark, code, repos, out, n_buckets=8)
    clean_out, clean_res = clean
    assert resumed.n_buckets_processed == 8
    assert _totals(resumed) == _totals(clean_res)
    assert _sorted_rows(spark, f"{out}/violations") == _sorted_rows(
        spark, f"{clean_out}/violations"
    )
    assert _sorted_rows(spark, f"{out}/manifest", ["processed_at"]) == _sorted_rows(
        spark, f"{clean_out}/manifest", ["processed_at"]
    )


def test_manifest_reads_like_spark_written(spark, code, clean, tmp_path):
    """The driver-written manifest has the Spark schema (int bucket,
    bigints, timestamp) and the values the Spark writer produces."""
    clean_out, _ = clean
    legacy = str(tmp_path / "legacy")
    _spark_written_manifest(spark, code, legacy, buckets=list(range(8)), with_orphans=True)
    ours = spark.read.parquet(f"{clean_out}/manifest")
    assert spark.read.parquet(legacy).dtypes == ours.dtypes == _MANIFEST_DTYPES
    assert _sorted_rows(spark, legacy, ["processed_at"]) == _sorted_rows(
        spark, f"{clean_out}/manifest", ["processed_at"]
    )
    assert ours.filter(F.col("processed_at").isNull()).count() == 0


def test_resume_onto_spark_written_manifest_without_orphans(spark, code, clean, tmp_path):
    """Resume onto an out_dir whose manifest holds a Spark-written part
    from before ``n_orphans`` existed (the mergeSchema path): the job
    processes only the other buckets and its totals stay right, the old
    buckets counting no orphans."""
    clean_out, clean_res = clean
    out = str(tmp_path / "old")
    _spark_written_manifest(spark, code, f"{out}/manifest", buckets=[0, 1, 2, 3], with_orphans=False)
    res = run_validation_job(spark, code, repos_dim(spark), out, n_buckets=8)
    assert res.n_buckets_processed == 4
    assert (res.n_rows, res.n_invalid_rows, res.n_violations) == (
        clean_res.n_rows, clean_res.n_invalid_rows, clean_res.n_violations,
    )
    new_orphans = (
        spark.read.parquet(f"{clean_out}/manifest")
        .filter(F.col("bucket") >= 4)
        .agg(F.sum("n_orphans"))
        .collect()[0][0]
    )
    assert res.n_orphans == new_orphans
    merged = spark.read.option("mergeSchema", "true").parquet(f"{out}/manifest")
    assert sorted(r["bucket"] for r in merged.select("bucket").collect()) == list(range(8))


def test_one_violation_file_per_bucket(clean):
    """Every bucket's violations are one file, and the buckets were written
    by more than one task (the shuffle is not coalesced into one writer;
    ``part-NNNNN`` is the writing task's partition id)."""
    clean_out, _ = clean
    files = [
        [f.name for f in d.iterdir() if f.name.endswith(".parquet") and not f.name.startswith(".")]
        for d in sorted(Path(clean_out, "violations").glob("bucket=*"))
    ]
    assert len(files) == 8
    assert all(len(fs) == 1 for fs in files), files
    assert len({fs[0][:10] for fs in files}) > 1, files


def test_clean_run_leaves_readable_violations(spark, tmp_path):
    """A run whose schema everything passes writes no violation rows, yet
    the violations table reads back (empty, with its columns) — the
    manifest certifies readable violations."""
    out = str(tmp_path / "clean_schema")
    schema = {c: "any" for c in ("repo", "path", "commit", "lang", "content")}
    small = code_files(spark, 300, seed=23)
    res = run_validation_job(spark, small, repos_dim(spark), out, schema=schema, n_buckets=8)
    assert res.n_violations == 0 and res.n_rows == 300
    assert spark.read.parquet(f"{out}/manifest").count() >= 1
    viol = spark.read.parquet(f"{out}/violations")  # must not throw
    assert viol.count() == 0
    assert "rule" in viol.columns and "field_path" in viol.columns
