"""The full validation job: checkpoint-resumable, manifest-tracked,
exactly-once.

North-rule shape (BASELINE.json): validate the code table, compute the
table-level checks, write violations + a per-bucket manifest with lineage
and metrics; re-running after an interruption processes only the buckets
the manifest doesn't cover yet, so a 10^12-row run resumes instead of
restarting.

Partitioning model: rows are bucketed by ``xxhash64(repo, path) % n_buckets``
— the stand-in for Iceberg partition ids in this sandbox. Bucketing by a
hash of (repo, path) rather than repo alone keeps the hot repo spread across
buckets (skew containment at the *unit-of-work* level), while the uniqueness
aggregation handles within-key skew map-side (checks.duplicate_key_fingerprints).

The sink is the commit-marker shape of Delta Lake (VLDB 2020). Its core
lives here and the streaming sink (``streaming.make_batch_validator``)
calls the same pieces: the manifest metric expressions, the violation
rows, the violations write and the manifest publish. Only the unit column
(``bucket`` here, ``batch_id`` there), how the metrics are gathered and the
read-side guard differ.

* the unit of work owns a partition: violations land in ``violations/<unit>=N``
  by dynamic partition overwrite, so a re-run unit REPLACES its rows and
  never duplicates them; a run that wrote no violation rows leaves an
  empty schema-bearing file, so the table is readable even after an
  all-clean run;
* the manifest row is the commit marker: the driver writes the rows
  itself (pyarrow, through the Hadoop FS API) into a hidden
  ``manifest/_tmp_*`` directory and renames the file into place only
  after the violations are durable; a refused rename raises.

The writing action and two collects run concurrently: the violations
write, the per-bucket manifest aggregate (at most ``n_buckets`` rows to
the driver) and the uniqueness summary. There is no manifest write job and
no totals job: totals are the prior manifest's totals (one read, only when
a manifest file exists) plus the collected rows. One Spark
job processes all pending buckets together (full parallelism);
"per-bucket" applies to restartability and metrics granularity, not to
scheduling.
"""

from __future__ import annotations

import io
import os
import time
import uuid
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from yaschva_spark import checks
from yaschva_spark.engine import PASS_COL, VIOLATIONS_COL, validate_table
from yaschva_spark.fixtures import CODE_SCHEMA

BUCKET_COL = "yv_bucket"

#: the manifest numbers both sinks record (:func:`_manifest_metrics`)
_METRICS = ("n_rows", "n_invalid_rows", "n_violations", "content_digest")
#: batch manifest columns after ``bucket`` (int) and before ``processed_at``
#: (timestamp), all Spark ``bigint``; the first four are summed into
#: :class:`JobResult`
_MANIFEST_LONGS = (
    "n_rows", "n_invalid_rows", "n_violations", "n_orphans", "n_repos", "content_digest",
)
_TOTALS = _MANIFEST_LONGS[:4]


@dataclass
class JobResult:
    n_buckets_processed: int
    n_rows: int
    n_invalid_rows: int
    n_violations: int
    n_dup_keys: int
    n_orphans: int
    wall_sec: float


def add_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        BUCKET_COL, F.pmod(F.abs(F.xxhash64("repo", "path")), F.lit(n_buckets)).cast("int")
    )


def _hadoop_fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, jvm


def _write_parquet_file(spark: SparkSession, table, dest_file: str) -> None:
    """Write a pyarrow ``table`` as one parquet file at ``dest_file``
    through the Hadoop FileSystem API (any scheme)."""
    buf = io.BytesIO()
    pq.write_table(table, buf)
    fs, jpath, _ = _hadoop_fs(spark, dest_file)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(buf.getvalue()))
    finally:
        out.close()


def _hadoop_publish(spark: SparkSession, stage_dir: str, dest_dir: str) -> None:
    """Move staged part files into ``dest_dir`` through the Hadoop
    FileSystem API — one code path for file:, hdfs:, and object-store
    schemes (the driver-local os.rename alternative only ever worked for
    local paths). A refused rename raises ``OSError``: the caller must
    not report rows it never published."""
    fs, src, jvm = _hadoop_fs(spark, stage_dir)
    dst = jvm.org.apache.hadoop.fs.Path(dest_dir)
    fs.mkdirs(dst)
    for status in fs.listStatus(src):
        name = status.getPath().getName()
        if name.startswith("part-"):
            target = jvm.org.apache.hadoop.fs.Path(dst, name)
            if not fs.rename(status.getPath(), target):
                raise OSError(f"could not publish {target}")


def _hadoop_delete(spark: SparkSession, path: str) -> None:
    try:
        fs, jpath, _ = _hadoop_fs(spark, path)
        fs.delete(jpath, True)
    except Exception:  # cleanup must never mask the primary failure
        pass


def _read_manifest(spark: SparkSession, manifest_path: str) -> tuple[set[int], dict]:
    """The buckets the manifest certifies and its summed totals, from ONE
    read — none at all while no manifest part file exists (a fresh
    out_dir, or a run that died before its first publish)."""
    fs, _, jvm = _hadoop_fs(spark, manifest_path)
    if not fs.globStatus(jvm.org.apache.hadoop.fs.Path(manifest_path, "part-*")):
        return set(), dict.fromkeys(_TOTALS, 0)
    # mergeSchema: a resumed out_dir may hold manifest files written before a
    # column existed (e.g. n_orphans); without it Spark infers the schema from
    # ONE footer, so the select either throws UNRESOLVED_COLUMN or silently
    # drops files. Old files read NULL (or lack the column): counted as 0.
    mread = spark.read.option("mergeSchema", "true").parquet(manifest_path)
    cols = [c for c in _TOTALS if c in mread.columns]
    rows = mread.select("bucket", *cols).collect()
    totals = {c: sum(r[c] or 0 for r in rows) if c in cols else 0 for c in _TOTALS}
    return {r["bucket"] for r in rows}, totals


def _manifest_metrics(content_col: str = "content") -> list[Column]:
    """The manifest numbers both sinks record per unit of work, as
    aggregate expressions over a validated frame. ``content_digest`` is an
    order-insensitive xor of the per-row sha256 invariant (first 15 hex
    chars as a long): digests are comparable run to run regardless of task
    ordering, so a resume or a re-run can prove content equality."""
    return [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((~F.col(PASS_COL)).cast("long")).alias("n_invalid_rows"),
        F.sum(F.size(VIOLATIONS_COL)).alias("n_violations"),
        F.bit_xor(
            F.conv(F.substring(F.sha2(F.col(content_col), 256), 1, 15), 16, 10).cast("long")
        ).alias("content_digest"),
    ]


def _violation_rows(validated: DataFrame, keys: dict[str, Column]) -> DataFrame:
    """One row per violation: the ``keys`` columns (the unit column first)
    then ``field_path, rule, error, value``. No explicit ~pass filter: the
    non-outer explode drops passing rows (empty violations array), so the
    key expressions run on failing rows only and the violations expression
    is not re-evaluated inside an extra Filter node."""
    return validated.select(
        *[c.alias(n) for n, c in keys.items()], F.explode(VIOLATIONS_COL).alias("v")
    ).select(*keys, F.col("v.path").alias("field_path"), "v.rule", "v.error", "v.value")


def _write_violations(
    spark: SparkSession,
    viol: DataFrame,
    path: str,
    unit: str,
    n_violations: Callable[[], int | None],
) -> None:
    """Replace the violations of the units in ``viol`` by dynamic partition
    overwrite of ``path/<unit>=N``. Spark creates no file for an empty
    task, so when ``n_violations()`` (the gathered metric, read after the
    write) is 0 or NULL and no seed exists yet, an empty schema-bearing
    file in ``<unit>=-1`` keeps ``spark.read.parquet(path)`` readable."""
    (
        viol.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(unit)
        .parquet(path)
    )
    if n_violations():
        return
    seed = os.path.join(path, f"{unit}=-1", "part-00000-init.parquet")
    fs, jseed, _ = _hadoop_fs(spark, seed)
    if not fs.exists(jseed):
        from pyspark.sql.pandas.types import to_arrow_schema

        _write_parquet_file(spark, to_arrow_schema(viol.drop(unit).schema).empty_table(), seed)


def _publish_manifest(spark: SparkSession, manifest_path: str, columns: dict, dest_dir: str) -> None:
    """Write manifest rows — ``columns`` (name -> pyarrow array) plus one
    ``processed_at`` stamp — as one parquet file into a hidden ``_tmp_*``
    directory under ``manifest_path`` (Spark skips ``_``-prefixed names),
    then move it into ``dest_dir`` with :func:`_hadoop_publish`: the rows
    become visible all at once or not at all. Callers pass the column
    names and types the Spark writer produced in earlier releases, so old
    and new files read back as one table."""
    n = len(next(iter(columns.values())))
    now = datetime.now(timezone.utc)  # stamped once, like current_timestamp()
    table = pa.table(
        {**columns, "processed_at": pa.array([now] * n, pa.timestamp("us", tz="UTC"))}
    )
    tag = uuid.uuid4().hex
    stage_dir = os.path.join(manifest_path, f"_tmp_{tag}")
    try:
        _write_parquet_file(spark, table, os.path.join(stage_dir, f"part-00000-{tag}.parquet"))
        _hadoop_publish(spark, stage_dir, dest_dir)
    finally:
        _hadoop_delete(spark, stage_dir)  # no-op after a clean publish


def run_validation_job(
    spark: SparkSession,
    code_df: DataFrame,
    repos_df: DataFrame,
    out_dir: str,
    *,
    schema: dict | None = None,
    n_buckets: int = 64,
) -> JobResult:
    """Validate + check + sink + manifest, resumable per bucket, exactly
    once.

    Outputs under ``out_dir``:
      * ``violations/`` — exploded violation rows, partitioned by bucket
        (one file per bucket; readable even after an all-clean run)
      * ``manifest/``   — one row per processed bucket: lineage + metrics

    Totals in the result cover every bucket the manifest certifies;
    ``n_dup_keys`` covers this run's input.
    """
    t0 = time.monotonic()
    schema = schema or CODE_SCHEMA
    manifest_path = os.path.join(out_dir, "manifest")
    violations_path = os.path.join(out_dir, "violations")

    done, prior = _read_manifest(spark, manifest_path)
    pend = [b for b in range(n_buckets) if b not in done]
    if not pend:
        return JobResult(0, 0, 0, 0, 0, 0, 0.0)

    df = add_bucket(code_df, n_buckets)
    if len(pend) < n_buckets:
        df = df.filter(F.col(BUCKET_COL).isin(pend))  # partition pruning analog

    # NO persist: validation is a cheap codegen'd projection over the scan,
    # and each downstream action prunes to only the columns it needs at the
    # parquet reader — recomputing beats caching wide content strings by an
    # order of magnitude here, and caching is impossible at 100 TB anyway.
    validated = validate_table(df, schema, ignore_columns=(BUCKET_COL,))

    # 1) violation sink (partitioned by bucket for pruning + lineage).
    # content_sha (the per-row invariant, input_hint) is computed here on
    # FAILING rows only — the full-table sha pass happens once, in the
    # manifest digest below.
    viol = _violation_rows(
        validated,
        {
            "bucket": F.col(BUCKET_COL),
            **{c: F.col(c) for c in ("repo", "path", "commit")},
            "content_sha": F.sha2(F.col("content"), 256),
        },
    )

    # 2) uniqueness on (repo, path, commit): fingerprint-shuffle hash agg —
    # the triple is near-unique, so the groupBy shuffle carries ~every row;
    # shuffling the 128-bit key fingerprint instead of three strings cuts
    # the job's largest exchange ~5x in bytes. The fingerprint pair is
    # front-seeded with per-column null flags (checks._key_fingerprint),
    # so the two hashes are independent and NULL-position swaps can't
    # collide: P(any collision) ~ n^2/2^129 ~ 1.5e-15 even at 10^12 keys —
    # below hardware bit-flip rates, so the summary counts are exact in
    # every physically observable sense. When key VALUES are needed (the
    # violation report), checks.duplicate_keys_via_fingerprint adds the
    # broadcast rejoin that re-counts by the real keys (collision-proof,
    # one extra scan) — that cost belongs on the reporting query, not on
    # every pipeline run. Spark's partial agg already collapses hot keys
    # map-side, so no salting is needed for counting.
    dup_summary_df = checks.duplicate_key_fingerprints(
        validated.select("repo", "path", "commit"), ["repo", "path", "commit"]
    ).agg(
        F.count(F.lit(1)).alias("n_dup_keys"),
        F.coalesce(F.sum("dup_count"), F.lit(0)).alias("n_dup_rows"),
    )

    # 3+4) per-bucket manifest: lineage + metrics + referential integrity in
    # ONE hash aggregation, collected to the driver (<= n_buckets rows). The
    # repo-dimension check rides along as a broadcast left join (a map-side
    # hash probe — no extra scan, no extra job, and the manifest gains
    # per-bucket orphan counts for lineage).
    dim_keys = F.broadcast(
        repos_df.select(F.col("repo").alias("__dim_repo")).dropDuplicates(["__dim_repo"])
    )
    with_dim = validated.join(
        dim_keys, validated["repo"] == F.col("__dim_repo"), "left"
    )
    manifest = with_dim.groupBy(F.col(BUCKET_COL).alias("bucket")).agg(
        *_manifest_metrics(),
        F.sum(F.col("__dim_repo").isNull().cast("long")).alias("n_orphans"),
        F.approx_count_distinct("repo").alias("n_repos"),
    )

    # The three actions run CONCURRENTLY (one SparkContext schedules the
    # job DAGs at once; stage tails overlap instead of idling executors).
    # The violations shuffle names its partition count so AQE cannot
    # coalesce it into one task: each bucket hashes to exactly one task,
    # which writes that bucket's one file, and the tasks write in parallel.
    # Dynamic partition overwrite replaces only the buckets this run
    # writes, so a re-run bucket's earlier rows are REPLACED.
    #
    # Durability: the manifest is the resume marker, so a bucket must never
    # be VISIBLE in the manifest before its violations are durable — the
    # driver publishes the collected rows only after the violations future
    # resolves, by rename through the Hadoop FileSystem API (atomic-cheap
    # on local/HDFS; object-store connectors implement it as copy — still
    # correct, just not free). Crash windows: before publish -> no manifest
    # rows, the buckets reprocess and their violation partitions are
    # overwritten (exactly once); after publish -> fully consistent. A
    # failed violations write aborts the publish. The empty-violations seed
    # is decided from the collected rows, so the write waits for them.
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    with ThreadPoolExecutor(max_workers=3) as pool:
        manifest_f = pool.submit(manifest.collect)
        viol_f = pool.submit(
            _write_violations,
            spark,
            viol.repartition(n_parts, "bucket"),
            violations_path,
            "bucket",
            lambda: sum(r["n_violations"] or 0 for r in manifest_f.result()),
        )
        dup_f = pool.submit(lambda: dup_summary_df.collect()[0])
        viol_f.result()  # durability barrier: violations first
        rows = manifest_f.result()
        dup_summary = dup_f.result()
    columns = {
        "bucket": pa.array([r["bucket"] for r in rows], pa.int32()),
        **{k: pa.array([r[k] for r in rows], pa.int64()) for k in _MANIFEST_LONGS},
    }
    _publish_manifest(spark, manifest_path, columns, manifest_path)

    totals = {k: prior[k] + sum(r[k] or 0 for r in rows) for k in _TOTALS}
    return JobResult(
        n_buckets_processed=len(pend),
        n_rows=totals["n_rows"],
        n_invalid_rows=totals["n_invalid_rows"],
        n_violations=totals["n_violations"],
        n_dup_keys=dup_summary["n_dup_keys"],
        n_orphans=totals["n_orphans"],
        wall_sec=time.monotonic() - t0,
    )
