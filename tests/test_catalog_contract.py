"""Catalog-contract suite parameterized over backends: the parquet
stand-in (always) and the Iceberg facade (skipped cleanly when the
Iceberg runtime isn't on the classpath — it isn't in this sandbox).
Pins the K2 semantics every call site relies on: versioned write/read,
last-write-wins MERGE, rollback."""

import pytest

from netrunner_spark.iceberg import IcebergCatalog, iceberg_available
from netrunner_spark.tables import LakeCatalog


def _make_catalog(backend, spark, tmp_path):
    if backend == "parquet":
        return LakeCatalog(spark, str(tmp_path / "lake"))
    if not iceberg_available(spark):
        pytest.skip("Iceberg runtime not available in this session")
    return IcebergCatalog(spark)


@pytest.mark.parametrize("backend", ["parquet", "iceberg"])
class TestCatalogContract:
    def test_write_read_roundtrip(self, spark, tmp_path, backend):
        cat = _make_catalog(backend, spark, tmp_path)
        df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        cat.write(df, "t")
        assert cat.exists("t")
        assert {(r["k"], r["v"]) for r in cat.read("t").collect()} == {
            (1, "a"),
            (2, "b"),
        }
        cat.drop("t")
        assert not cat.exists("t")

    def test_merge_last_write_wins(self, spark, tmp_path, backend):
        cat = _make_catalog(backend, spark, tmp_path)
        a = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        b = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
        cat.merge(a, "m", key="k")
        cat.merge(b, "m", key="k")
        got = {(r["k"], r["v"]) for r in cat.read("m").collect()}
        assert got == {(1, "a"), (2, "B"), (3, "c")}
        cat.drop("m")

    def test_versioned_rollback(self, spark, tmp_path, backend):
        cat = _make_catalog(backend, spark, tmp_path)
        cat.write(spark.range(5).withColumnRenamed("id", "k"), "r")
        v1 = cat.version("r")
        cat.write(spark.range(9).withColumnRenamed("id", "k"), "r")
        assert cat.read("r").count() == 9
        cat.rollback("r", v1)
        assert cat.read("r").count() == 5
        cat.drop("r")


def test_merge_after_unbucketed_rewrite_keeps_rows(spark, tmp_path):
    """Review regression (r3): merges under different keys over one
    snapshot keep every prior row — an earlier keyed-merge path found no
    layout dirs in a rewritten snapshot and silently dropped them all."""
    from netrunner_spark.tables import LakeCatalog

    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    a = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    cat.write(a, "t")
    # merge keyed on (k, v): (2, "B") is a new key, (2, "b") stays
    b = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    cat.merge(b, "t", key=["k", "v"])
    # keyed merge on k must keep prior rows
    c = spark.createDataFrame([(4, "d")], "k long, v string")
    cat.merge(c, "t", key="k")
    got = {(r["k"], r["v"]) for r in cat.read("t").collect()}
    assert got == {(1, "a"), (2, "b"), (2, "B"), (3, "c"), (4, "d")}
    cat.drop("t")


def test_colocated_store_reuse_verifies_provenance(spark, tmp_path):
    """ADVICE r4: _have() must not accept a pre-seeded/stale bucketed
    store on key+bucket-count alone — the persisted provenance
    (row count + key xor) has to match the incoming web DataFrame, or
    the layout is rebuilt instead of silently crawling the wrong corpus."""
    from pyspark.sql import functions as F

    from netrunner_spark.sources.fetcher import prepare_colocated_fetcher
    from netrunner_spark.synth import gen_web

    cat = LakeCatalog(spark, str(tmp_path / "lake"))
    web1 = gen_web(spark, 2, 6)
    prepare_colocated_fetcher(cat, web1, n_buckets=4)
    assert cat.read_table("web_store").count() == web1.count()
    v_meta1 = cat.table_meta("web_store")
    assert v_meta1["provenance"]["rows"] == web1.count()

    # same corpus again (resume): layout reused, meta unchanged
    prepare_colocated_fetcher(cat, gen_web(spark, 2, 6), n_buckets=4)
    assert cat.table_meta("web_store") == v_meta1

    # DIFFERENT corpus, same key + bucket count: must rebuild, and the
    # store must serve the new corpus, not the stale one
    web2 = gen_web(spark, 3, 8)
    prepare_colocated_fetcher(cat, web2, n_buckets=4)
    assert cat.read_table("web_store").count() == web2.count()
    assert cat.table_meta("web_store")["provenance"] != v_meta1["provenance"]
