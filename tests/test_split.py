"""Deterministic split/sample: differential vs the pure-Python XXH64
replica, stability under repartitioning, and boundary handling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yaschva_spark.ops import split as sp


def test_bucket_matches_replica_incl_negative_ids(spark):
    ids = list(range(-50, 50)) + [2**40, -(2**40), 2**62, -(2**62)]
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = {
        r["id"]: r["b"]
        for r in df.select("id", sp._bucket_col("id", seed=7).alias("b")).collect()
    }
    for i in ids:
        assert got[i] == sp.replica_bucket(i, seed=7), i


def test_hash_split_proportions_and_exhaustiveness(spark):
    df = spark.range(0, 20000).withColumnRenamed("id", "doc_id")
    out = sp.hash_split(df, "doc_id")  # default 98/1/1
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 20000  # every row gets exactly one label
    assert counts["train"] / 20000 == pytest.approx(0.98, abs=0.01)
    assert counts["val"] / 20000 == pytest.approx(0.01, abs=0.005)


def test_hash_split_stable_under_repartitioning(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in sp.hash_split(df, "doc_id").collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in sp.hash_split(df.repartition(13, "doc_id"), "doc_id").collect()
    }
    assert a == b  # randomSplit/sample would NOT survive this


def test_hash_sample_is_prefix_of_split_math(spark):
    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    kept = sp.hash_sample(df, "doc_id", 0.1)
    n = kept.count()
    assert n / 5000 == pytest.approx(0.1, abs=0.02)
    # deterministic: the same call returns the identical id set
    ids1 = {r["doc_id"] for r in kept.collect()}
    ids2 = {r["doc_id"] for r in sp.hash_sample(df, "doc_id", 0.1).collect()}
    assert ids1 == ids2
    # monotone: a larger fraction strictly contains a smaller one
    ids3 = {r["doc_id"] for r in sp.hash_sample(df, "doc_id", 0.2).collect()}
    assert ids1 <= ids3


def test_weight_validation():
    with pytest.raises(ValueError):
        sp._boundaries({"a": -0.1, "b": 1.1})
    with pytest.raises(ValueError):
        sp._boundaries({"a": 0.0})
    # non-normalized weights are normalized
    bounds = dict(sp._boundaries({"a": 2.0, "b": 2.0}))
    assert bounds["a"] == sp.GRANULARITY // 2 and bounds["b"] == sp.GRANULARITY


def test_stratified_sample_matches_replica(spark):
    from yaschva_spark.ops.split import replica_keep, stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    fr = {"en": 0.5, "fr": 0.25, "es": 0.1}
    kept = {r["doc_id"] for r in
            stratified_sample(docs, "doc_id", "lang", fr, default=0.05).collect()}
    for r in docs.select("doc_id", "lang").collect():
        assert (r["doc_id"] in kept) == replica_keep(r["doc_id"], r["lang"], fr, 0.05), r
    # unlisted strata take the default; default=0 drops them entirely
    none_default = stratified_sample(docs, "doc_id", "lang", {"en": 1.0})
    assert {r["lang"] for r in none_default.select("lang").distinct().collect()} == {"en"}
    # pure projection/filter: no shuffle, no Python
    p = stratified_sample(docs, "doc_id", "lang", fr)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in p and "Python" not in p


def test_stratified_sample_validates_fractions(spark):
    import pytest

    from yaschva_spark.ops.split import stratified_sample

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    with pytest.raises(ValueError):
        stratified_sample(docs, "doc_id", "lang", {"en": 1.5})
    with pytest.raises(ValueError):
        stratified_sample(docs, "doc_id", "lang", {"en": 0.5}, default=-0.1)
    # None stratum key: a CASE on equality cannot match NULL, so honoring it
    # would silently diverge from replica_keep — must be rejected up front
    with pytest.raises(ValueError, match="None stratum"):
        stratified_sample(docs, "doc_id", "lang", {None: 0.5, "en": 0.5})


def test_cap_per_stratum_matches_replica_and_chunked(spark):
    from yaschva_spark.ops.split import cap_per_stratum, replica_cap_keep

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    rows = [(r["doc_id"], r["source"]) for r in docs.select("doc_id", "source").collect()]
    expect = replica_cap_keep(rows, cap=3)
    got = {r["doc_id"] for r in cap_per_stratum(docs, "doc_id", "source", 3).collect()}
    assert got == expect
    # the skew-safe two-stage path is exact: identical kept set for any chunks
    for c in (2, 4, 7):
        chunked = {r["doc_id"] for r in
                   cap_per_stratum(docs, "doc_id", "source", 3, chunks=c).collect()}
        assert chunked == expect, c
    # schema passthrough: output columns == input columns (no helper leakage)
    assert cap_per_stratum(docs, "doc_id", "source", 3, chunks=4).columns == docs.columns
    # cap larger than every stratum keeps everything; cap=0 keeps nothing
    assert cap_per_stratum(docs, "doc_id", "source", 10**6).count() == docs.count()
    assert cap_per_stratum(docs, "doc_id", "source", 0).count() == 0


def test_cap_per_stratum_validates(spark):
    import pytest

    from yaschva_spark.ops.split import cap_per_stratum

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    with pytest.raises(ValueError):
        cap_per_stratum(docs, "doc_id", "source", -1)
    with pytest.raises(ValueError):
        cap_per_stratum(docs, "doc_id", "source", 3, chunks=0)
    with pytest.raises(ValueError):
        cap_per_stratum(docs, "doc_id", "source", 3, chunks="bogus")
    # bool is an int subclass: chunks=True must not run silently as 1
    for flag in (True, False):
        with pytest.raises(ValueError, match="chunks"):
            cap_per_stratum(docs, "doc_id", "source", 3, chunks=flag)


def test_cap_per_stratum_auto_chunks_skewed(spark):
    """A 90%-one-stratum corpus must pick C>1 automatically (against a
    small per-task budget) and still produce exactly the chunks=1 keep
    set — the r4 default of chunks=1 required the caller to KNOW the skew
    to avoid serializing the dominant stratum onto one window task."""
    from yaschva_spark.ops.split import (
        cap_per_stratum, choose_cap_chunks, replica_cap_keep,
    )

    rows = [(i, "hot" if i % 10 else "cold") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    # hot stratum has 1800 rows; a 500-row budget must chunk it 4 ways
    assert choose_cap_chunks(df, "source", rows_per_task=500) == 4
    # a generous budget keeps the cheap single-window plan
    assert choose_cap_chunks(df, "source", rows_per_task=10_000) == 1
    expect = replica_cap_keep(rows, cap=5)
    base = {r["doc_id"] for r in cap_per_stratum(df, "doc_id", "source", 5).collect()}
    assert base == expect
    # auto against the tight budget runs the C=4 two-stage plan — exact
    auto = cap_per_stratum(df, "doc_id", "source", 5, chunks="auto", rows_per_task=500)
    assert {r["doc_id"] for r in auto.collect()} == expect
    # auto against the default 4M budget stays at the single-window plan
    auto1 = cap_per_stratum(df, "doc_id", "source", 5, chunks="auto")
    assert {r["doc_id"] for r in auto1.collect()} == expect


def test_split_ops_edge_ids_match_replica(spark):
    """Adversarial ids/strata: negative, extreme, zero ids; NULL and
    unicode strata. Spark and the pure-Python XXH64 replica must agree
    row-for-row for both per-stratum operators."""
    from yaschva_spark.ops.split import (
        cap_per_stratum, replica_cap_keep, replica_keep, stratified_sample,
    )

    rows = [
        (-(2**62), "en"), (-1, "fr"), (0, None), (1, "ü"), (2**62, "en"),
        (7, "en"), (-7, None), (123456789, "ü"), (-987654321, "fr"), (42, "zz"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    fr = {"en": 0.9, "fr": 0.5, "ü": 0.3}
    kept = {r["doc_id"] for r in
            stratified_sample(df, "doc_id", "lang", fr, default=0.7).collect()}
    for i, s in rows:
        assert (i in kept) == replica_keep(i, s, fr, 0.7), (i, s)
    got = {r["doc_id"] for r in cap_per_stratum(df, "doc_id", "lang", 1).collect()}
    assert got == replica_cap_keep(rows, cap=1)
    got4 = {r["doc_id"] for r in
            cap_per_stratum(df, "doc_id", "lang", 1, chunks=4).collect()}
    assert got4 == got
