"""The benchmark workloads: seeded inputs, one timed operation each, and
the check that decides whether an operation's output is correct.

Each workload goes through a public entry point of the engine:

* ``code_job``       — ``pipeline.run_validation_job`` over ``fixtures.code_files``;
* ``stream_batches`` — the ``streaming.make_batch_validator`` batch function,
  one small code-table file per micro-batch.

Two probes run only in traced runs, for layers the workloads above do not
reach: :class:`JsonScreened` (``engine.validate_json_table`` with the
default screen, on a nested JSON corpus) and
:meth:`StreamBatches.stream_probe` (the real streaming sink).

Inputs are generated once per seed into the work directory. References for
the output checks are computed once per seed too, by a different evaluator
than the one being timed: DuckDB for the job, one batch validation for the
micro-batches, and the interpreter-only plan (``screen=False``) for the
screened validation.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: rows per input; chosen so one operation takes about a second or two
#: on a 4-core host and a run holds several operations
CODE_ROWS = 60_000
CODE_FILES = 4
JSON_SCREENED_ROWS = 20_000
STREAM_FILES = 32
STREAM_ROWS_PER_FILE = 2_000
#: stream files pushed through the real streaming sink in traced runs
STREAM_PROBE_FILES = 3


@dataclass
class Op:
    """One finished operation: input rows it validated, and a check that
    returns True when its output is correct (run after the timed window,
    with the session live at that point)."""

    rows: int
    check: Callable[[SparkSession], bool]


def _h(col, salt: int, seed: int):
    return F.abs(F.xxhash64(col, F.lit(salt), F.lit(seed)))


def _write_once(path: str, make: Callable[[], None]) -> None:
    """Build ``path`` unless a finished copy exists (``_DONE`` marker)."""
    marker = os.path.join(path, "_DONE")
    if os.path.exists(marker):
        return
    shutil.rmtree(path, ignore_errors=True)
    make()
    os.makedirs(path, exist_ok=True)
    with open(marker, "w"):
        pass


def _json_once(path: str, make: Callable[[], object]):
    if not os.path.exists(path):
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(make(), f)
        os.replace(tmp, path)
    with open(path) as f:
        return json.load(f)


# --- violation-multiset digest ------------------------------------------------

_DIGEST_MOD = 1 << 31


def violation_digest(validated: DataFrame, id_col: str) -> DataFrame:
    """One row summarising a ``validate_json_table`` result: row, valid and
    violation counts, a multiset digest of the violations (a sum of
    per-violation hashes, so duplicates add up instead of cancelling) and
    a digest of the per-row output trees. Independent of row order."""
    rows = validated.select(
        F.col(id_col).alias("i"),
        F.col("yv_valid").alias("ok"),
        F.col("yv_output").alias("out"),
        F.col("yv_violations").alias("vs"),
    )
    per_row = rows.select(
        F.col("ok").cast("long").alias("ok"),
        F.pmod(F.xxhash64("i", "out"), F.lit(_DIGEST_MOD)).alias("od"),
        F.size("vs").alias("nv"),
        F.aggregate(
            F.transform(
                "vs",
                lambda x: F.pmod(
                    F.xxhash64(F.col("i"), x["path"], x["rule"], x["error"], x["value"]),
                    F.lit(_DIGEST_MOD),
                ),
            ),
            F.lit(0).cast("long"),
            lambda acc, h: acc + h,
        ).alias("vd"),
    )
    return per_row.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("ok").alias("n_valid"),
        F.sum("nv").cast("long").alias("n_viol"),
        F.sum("vd").cast("long").alias("viol_digest"),
        F.sum("od").cast("long").alias("out_digest"),
    )


def _digest_dict(df: DataFrame) -> dict:
    return {k: int(v or 0) for k, v in df.collect()[0].asDict().items()}


# --- code_job -----------------------------------------------------------------

_CODE_ORACLE_SQL = """
WITH t AS (SELECT * FROM read_parquet('{code}/*.parquet')),
d AS (SELECT DISTINCT repo FROM read_parquet('{dim}/*.parquet')),
v AS (
  SELECT t.repo, t.path, t.commit,
    (CASE WHEN t.repo IS NULL OR length(t.repo) < 1
            OR NOT regexp_full_match(t.repo, '[A-Za-z0-9_.-]+/[A-Za-z0-9_.-]+')
          THEN 1 ELSE 0 END)
  + (CASE WHEN t.path IS NULL OR length(t.path) < 1 OR length(t.path) > 4096
          THEN 1 ELSE 0 END)
  + (CASE WHEN t.commit IS NULL OR NOT regexp_full_match(t.commit, '[a-f0-9]{{40}}')
          THEN 1 ELSE 0 END)
  + (CASE WHEN t.lang IS NULL OR t.lang NOT IN ({langs}) THEN 1 ELSE 0 END)
  + (CASE WHEN t.content IS NULL THEN 1 ELSE 0 END) AS nv,
    (d.repo IS NULL) AS orphan
  FROM t LEFT JOIN d ON t.repo = d.repo
)
SELECT count(*) AS n_rows,
       sum(CASE WHEN nv > 0 THEN 1 ELSE 0 END) AS n_invalid_rows,
       sum(nv) AS n_violations,
       sum(CASE WHEN orphan THEN 1 ELSE 0 END) AS n_orphans,
       (SELECT count(*) FROM (SELECT 1 FROM t GROUP BY repo, path, commit
                              HAVING count(*) > 1)) AS n_dup_keys
FROM v
"""


def code_oracle(code_dir: str, dim_dir: str) -> dict:
    """JobResult counts recomputed by DuckDB from the generated parquet:
    the flagship schema's first-error-per-field rules, spelled out in SQL
    (the technique ``__spark_entry__.oracle_sql`` uses)."""
    import duckdb

    from yaschva_spark.fixtures import LANGS

    langs = ", ".join(f"'{x}'" for x in LANGS)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        row = con.sql(_CODE_ORACLE_SQL.format(code=code_dir, dim=dim_dir, langs=langs)).fetchone()
    finally:
        con.close()
    keys = ["n_rows", "n_invalid_rows", "n_violations", "n_orphans", "n_dup_keys"]
    return {k: int(v) for k, v in zip(keys, row)}


class CodeJob:
    name = "code_job"

    def prepare(self, spark: SparkSession, seed: int, work: str) -> None:
        from yaschva_spark.fixtures import code_files, repos_dim

        base = os.path.join(work, "inputs", f"code_{CODE_ROWS}_{seed}")
        self.code_dir = os.path.join(base, "code")
        self.dim_dir = os.path.join(base, "dim")
        _write_once(
            self.code_dir,
            lambda: code_files(spark, CODE_ROWS, seed=seed, partitions=CODE_FILES)
            .write.parquet(self.code_dir),
        )
        _write_once(
            self.dim_dir, lambda: repos_dim(spark, seed=seed).write.parquet(self.dim_dir)
        )
        self.expected = _json_once(
            os.path.join(base, "oracle.json"), lambda: code_oracle(self.code_dir, self.dim_dir)
        )
        self.out_root = os.path.join(work, "out", self.name)
        shutil.rmtree(self.out_root, ignore_errors=True)
        self.n = 0

    def op(self, spark: SparkSession, on_action=None) -> Op:
        from yaschva_spark.pipeline import run_validation_job

        out = os.path.join(self.out_root, f"job{self.n}")
        self.n += 1
        res = run_validation_job(
            spark, spark.read.parquet(self.code_dir), spark.read.parquet(self.dim_dir), out
        )
        got = {k: getattr(res, k) for k in self.expected}
        shutil.rmtree(out, ignore_errors=True)
        return Op(res.n_rows, lambda spark: got == self.expected)


# --- json workloads -----------------------------------------------------------

#: nested schema inside the screen fragment (object, enum, bounded number,
#: integer array, bounded string)
SCREENED_SCHEMA = {
    "meta": {
        "lang": {"$enum": ["en", "de", "fr", "es"]},
        "n": {"$number": {"min": 0, "max": 350}},
    },
    "ids": {"$array": "integer"},
    "tag": {"$string": {"minLength": 1, "maxLength": 12}},
}

def screened_corpus(spark: SparkSession, n: int, seed: int, parts: int) -> DataFrame:
    """Nested JSON rows: ~83% valid, ~12% failures the JVM renders, ~5%
    shapes only the interpreter decides (a non-array ``ids``, a double
    ``n``, a non-object ``meta``)."""
    id_ = F.col("id")
    cls = F.pmod(_h(id_, 1, seed), F.lit(100))
    sub = F.pmod(_h(id_, 2, seed), F.lit(3))
    langs = F.array(*[F.lit(x) for x in ["en", "de", "fr", "es"]])
    lang = langs[F.pmod(_h(id_, 3, seed), F.lit(4))]
    num = F.pmod(_h(id_, 4, seed), F.lit(351)).cast("string")
    ids = F.concat_ws(
        ",", *[F.pmod(_h(id_, 10 + k, seed), F.lit(100000)).cast("string") for k in range(3)]
    )
    tag = F.concat(F.lit("t"), F.pmod(_h(id_, 5, seed), F.lit(99999)).cast("string"))
    fail = cls.between(83, 94)
    resid = cls >= 95
    lang = F.when(fail & (sub == 0), F.lit("zh")).otherwise(lang)
    big = (F.pmod(_h(id_, 6, seed), F.lit(600)) + 351).cast("string")
    num = F.when(fail & (sub == 1), big).otherwise(num)
    tag = F.when(fail & (sub == 2), F.lit("")).otherwise(tag)
    num = F.when(resid & (sub == 0), F.concat(num, F.lit(".5"))).otherwise(num)
    ids_js = F.when(resid & (sub == 1), F.lit('"none"')).otherwise(
        F.concat(F.lit("["), ids, F.lit("]"))
    )
    meta = F.concat(F.lit('{"lang": "'), lang, F.lit('", "n": '), num, F.lit("}"))
    meta = F.when(resid & (sub == 2), F.lit("7")).otherwise(meta)
    js = F.concat(
        F.lit('{"meta": '), meta, F.lit(', "ids": '), ids_js, F.lit(', "tag": "'), tag, F.lit('"}')
    )
    return spark.range(0, n, 1, parts).select(id_, js.alias("js"))


#: observation name for screen coverage in traced operations
OBSERVE = "perfbench"


class JsonScreened:
    name = "json_screened"

    def prepare(self, spark: SparkSession, seed: int, work: str) -> None:
        from yaschva_spark.engine import validate_json_table

        base = os.path.join(work, "inputs", f"{self.name}_{JSON_SCREENED_ROWS}_{seed}")
        self.src_dir = os.path.join(base, "src")
        _write_once(
            self.src_dir,
            lambda: screened_corpus(spark, JSON_SCREENED_ROWS, seed, 4).write.parquet(self.src_dir),
        )

        def reference():  # the interpreter-only plan decides every row
            src = spark.read.parquet(self.src_dir)
            ref = validate_json_table(src, SCREENED_SCHEMA, "js", keep_cols=["id"], screen=False)
            return _digest_dict(violation_digest(ref, "id"))

        self.expected = _json_once(os.path.join(base, "reference.json"), reference)

    def op(self, spark: SparkSession, on_action=None) -> Op:
        """One validation action with the default screen. ``on_action``
        (traced runs) turns on the screen-coverage observation and sees the
        executed DataFrame before the persisted screen projection is
        released."""
        from yaschva_spark.cache import unpersist_intermediates
        from yaschva_spark.engine import validate_json_table

        observe = OBSERVE if on_action is not None else None
        validated = validate_json_table(
            spark.read.parquet(self.src_dir), SCREENED_SCHEMA, "js", keep_cols=["id"],
            observe=observe,
        )
        digest = violation_digest(validated, "id")
        got = _digest_dict(digest)
        if on_action is not None:
            on_action(digest)
        unpersist_intermediates()
        return Op(got["n_rows"], lambda spark: got == self.expected)

    @staticmethod
    def coverage() -> dict | None:
        from yaschva_spark.engine import screen_coverage

        return screen_coverage(OBSERVE)


# --- stream_batches -----------------------------------------------------------


class StreamBatches:
    """The code table split into small files; each operation is one
    micro-batch through the ``streaming.make_batch_validator`` function
    (called directly: steadier than the streaming scheduler, same sink)."""

    name = "stream_batches"

    def prepare(self, spark: SparkSession, seed: int, work: str) -> None:
        from yaschva_spark.engine import PASS_COL, VIOLATIONS_COL, validate_table
        from yaschva_spark.fixtures import CODE_SCHEMA, code_files

        rows = STREAM_FILES * STREAM_ROWS_PER_FILE
        base = os.path.join(work, "inputs", f"stream_{rows}_{seed}")
        self.src_dir = os.path.join(base, "src")
        _write_once(
            self.src_dir,
            lambda: code_files(spark, rows, seed=seed)
            .repartition(STREAM_FILES)
            .write.parquet(self.src_dir),
        )
        self.files = sorted(f for f in os.listdir(self.src_dir) if f.endswith(".parquet"))
        self.schema = spark.read.parquet(self.src_dir).schema

        def reference():
            # ONE batch validation over every file, grouped per file: the
            # manifest row of a micro-batch must equal its file's group
            v = validate_table(spark.read.parquet(self.src_dir), CODE_SCHEMA)
            per_file = v.groupBy(F.input_file_name().alias("f")).agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum((~F.col(PASS_COL)).cast("long")).alias("n_invalid_rows"),
                F.sum(F.size(VIOLATIONS_COL)).cast("long").alias("n_violations"),
                F.bit_xor(
                    F.conv(F.substring(F.sha2(F.col("content"), 256), 1, 15), 16, 10).cast("long")
                ).alias("content_digest"),
            )
            return {
                os.path.basename(r["f"]): {k: int(r[k] or 0) for k in r.asDict() if k != "f"}
                for r in per_file.collect()
            }

        self.expected = _json_once(os.path.join(base, "reference.json"), reference)
        self.out_root = os.path.join(work, "out", self.name)
        shutil.rmtree(self.out_root, ignore_errors=True)
        self.sessions = 0

    def start_session(self) -> None:
        """A fresh sink directory per session: batch ids restart at 0."""
        from yaschva_spark.fixtures import CODE_SCHEMA
        from yaschva_spark.streaming import make_batch_validator

        self.out = os.path.join(self.out_root, f"s{self.sessions}")
        self.sessions += 1
        self.fn = make_batch_validator(CODE_SCHEMA, self.out, stream_id="perfbench")
        self.batch_id = 0

    def op(self, spark: SparkSession, on_action=None) -> Op:
        name = self.files[self.batch_id % len(self.files)]
        bid, out = self.batch_id, self.out
        self.batch_id += 1
        self.fn(spark.read.schema(self.schema).parquet(os.path.join(self.src_dir, name)), bid)
        want = self.expected[name]

        def check(spark: SparkSession) -> bool:
            path = os.path.join(out, "manifest", f"batch_id={bid}")
            rows = spark.read.parquet(path).collect()
            return len(rows) == 1 and all(int(rows[0][k] or 0) == v for k, v in want.items())

        return Op(want["n_rows"], check)

    def stream_probe(self, spark: SparkSession):
        """Push the first files through the real
        ``streaming.incremental_validation_sink``, one file per trigger.
        Returns the finished query (its progress carries per-batch
        durations) and an :class:`Op` whose check compares the sink's
        manifest totals with the batch reference of those files."""
        from yaschva_spark.fixtures import CODE_SCHEMA
        from yaschva_spark.streaming import incremental_validation_sink, read_stream

        src = os.path.join(self.out_root, "stream_src")
        out = os.path.join(self.out_root, "stream")
        os.makedirs(src, exist_ok=True)
        names = self.files[:STREAM_PROBE_FILES]
        for f in names:
            shutil.copy(os.path.join(self.src_dir, f), src)
        q = incremental_validation_sink(
            read_stream(spark, src, self.schema, max_files_per_trigger=1), CODE_SCHEMA, out
        )
        q.awaitTermination()
        keys = ("n_rows", "n_invalid_rows", "n_violations")
        want = {k: sum(self.expected[f][k] for f in names) for k in keys}

        def check(spark: SparkSession) -> bool:
            r = spark.read.parquet(os.path.join(out, "manifest")).agg(
                *[F.sum(k).alias(k) for k in keys]
            ).collect()[0]
            return {k: int(r[k] or 0) for k in keys} == want

        return q, Op(0, check)


def make(name: str):
    if name == "code_job":
        return CodeJob()
    if name == "stream_batches":
        return StreamBatches()
    raise ValueError(f"unknown workload {name!r}")

