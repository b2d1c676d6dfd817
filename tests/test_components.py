"""Unit tests: image codecs (PSNR/phash), LakeCatalog snapshots+slices,
bloom shards, lens parsing, WARC roundtrip, streaming ingest."""

import datetime
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from netrunner_spark import lens as lens_mod
from netrunner_spark.images import decode_image, encode_image, phash64, psnr
from netrunner_spark.tables import LakeCatalog


class TestImages:
    def test_lossless_roundtrip(self):
        rng = np.random.default_rng(7)
        arr = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
        assert np.array_equal(decode_image(encode_image(arr, "png")), arr)

    def test_lossy_psnr_over_40(self):
        rng = np.random.default_rng(7)
        arr = rng.integers(0, 256, (48, 48, 3), dtype=np.uint8)
        dec = decode_image(encode_image(arr, "jpeg"))
        assert psnr(arr, dec) >= 40.0  # input_hint lossy invariant
        assert not np.array_equal(dec, arr)  # genuinely lossy

    def test_phash_locality(self):
        rng = np.random.default_rng(7)
        arr = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
        h1 = phash64(arr)
        # identical image → identical hash; heavy perturbation → different
        assert phash64(arr.copy()) == h1
        assert phash64(255 - arr) != h1

    def test_unknown_format_raises(self):
        with pytest.raises(NotImplementedError):
            decode_image(b"JUNKxxxxxxxxxxxxxxxx")

    def test_decode_check_exact_phash_with_nulls_in_batch(self, spark):
        """Regression: a batch mixing NULL and real payloads must not
        lose int64 phash precision (pandas infers float64 over
        int+None rows unless the UDF pins nullable Int64 — float64's
        53-bit mantissa silently zeroes the low bits)."""
        from netrunner_spark.images import decode_check_udf

        rng = np.random.default_rng(11)
        arr = rng.integers(0, 256, (24, 24, 3), dtype=np.uint8)
        blob = encode_image(arr, "png")
        expected = phash64(arr)
        assert abs(expected) > (1 << 53)  # big enough to expose rounding
        df = spark.createDataFrame(
            [(1, bytearray(blob)), (2, None), (3, bytearray(blob))],
            "id int, bytes binary",
        )
        out = df.withColumn("chk", decode_check_udf(F.col("bytes")))
        # force a WRITE (the consuming path in run_round) then read back
        path = "/tmp/nr_test_decode_nulls"
        out.select("id", F.col("chk.phash_actual").alias("p")).write.mode(
            "overwrite"
        ).parquet(path)
        got = {
            r["id"]: r["p"] for r in spark.read.parquet(path).collect()
        }
        assert got[1] == expected and got[3] == expected
        assert got[2] is None


class TestLakeCatalog:
    def test_snapshot_versioning_and_rollback(self, spark, tmp_path):
        cat = LakeCatalog(spark, str(tmp_path))
        df1 = spark.range(5).withColumnRenamed("id", "k")
        v1 = cat.write(df1, "t")
        v2 = cat.write(spark.range(9).withColumnRenamed("id", "k"), "t")
        assert (v1, v2) == (1, 2)
        assert cat.read("t").count() == 9
        cat.rollback("t", 1)
        assert cat.read("t").count() == 5

    def test_merge_upsert(self, spark, tmp_path):
        cat = LakeCatalog(spark, str(tmp_path))
        a = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        b = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
        cat.merge(a, "t", key="k")
        cat.merge(b, "t", key="k")
        rows = {(r["k"], r["v"]) for r in cat.read("t").collect()}
        assert rows == {(1, "a"), (2, "B"), (3, "c")}  # new wins

    def test_slices_idempotent_replay(self, spark, tmp_path):
        cat = LakeCatalog(spark, str(tmp_path))
        df = spark.createDataFrame([(1, 10)], "k long, r int")
        cat.write_slice(df, "c", "r", 10)
        cat.write_slice(df, "c", "r", 10)  # replay overwrites, no dupes
        got = cat.read_slices("c")
        assert got.count() == 1
        assert got.select("r").collect()[0]["r"] == 10  # partition col back
        assert cat.max_slice("c", "r") == 10
        assert cat.slice_exists("c", "r", 10)
        assert not cat.slice_exists("c", "r", 11)


class TestBloom:
    def test_probe_semantics(self, spark):
        from netrunner_spark.operators.seen import unseen_only, upsert_shards

        seen = spark.range(0, 500).select(F.xxhash64("id").alias("url_hash"))
        cand = spark.range(400, 700).select(F.xxhash64("id").alias("url_hash"))
        shards = upsert_shards(None, seen, 4)
        out = unseen_only(cand, seen, shards, 4)
        got = {r["url_hash"] for r in out.collect()}
        want = {
            r["url_hash"]
            for r in spark.range(500, 700)
            .select(F.xxhash64("id").alias("url_hash"))
            .collect()
        }
        assert got == want  # bloom FPs never corrupt the exact result

    def test_unseen_once_releases_its_probe(self, spark):
        """``unseen_once`` gives ``unseen_only``'s rows from ONE held
        probe, and drops the held rows when its block exits."""
        from netrunner_spark.operators.seen import (
            unseen_once,
            unseen_only,
            upsert_shards,
        )

        seen = spark.range(0, 500).select(F.xxhash64("id").alias("url_hash"))
        cand = spark.range(400, 700).select(F.xxhash64("id").alias("url_hash"))
        shards = upsert_shards(None, seen, 4)
        def held():
            return spark.sparkContext._jsc.getPersistentRDDs().size()

        before = held()
        with unseen_once(cand, seen, shards, 4) as out:
            assert held() == before + 1
            got = sorted(r["url_hash"] for r in out.collect())
        assert held() == before
        assert got == sorted(
            r["url_hash"] for r in unseen_only(cand, seen, shards, 4).collect()
        )

    def test_upsert_into_existing_shards_has_no_false_negatives(self, spark):
        """Regression (r4): upserting keys into NON-empty shards used to
        garble them — the union with old shard rows made url_hash a
        nullable int64, which Arrow hands to pandas as float64, so
        64-bit hashes lost low bits before _set_bits and every key
        folded after the initial build could probe as 'definitely
        unseen' (bloom false NEGATIVE → duplicate refetch, bypassing
        the exact anti-join). A bloom must NEVER have false negatives."""
        from netrunner_spark.operators.seen import bloom_partition, upsert_shards

        all_keys = spark.range(0, 300).select(
            F.concat(F.lit("https://h.test/p"), F.col("id")).alias("url"),
            F.xxhash64(F.concat(F.lit("https://h.test/p"), F.col("id"))).alias(
                "url_hash"
            ),
        )
        first = all_keys.filter(F.col("url_hash") % 2 == 0)
        rest = all_keys.subtract(first)
        v1 = upsert_shards(None, first.select("url_hash"), 8).localCheckpoint()
        v2 = upsert_shards(v1, rest.select("url_hash"), 8).localCheckpoint()
        tagged = bloom_partition(all_keys, v2, 8)
        false_negs = [r["url"] for r in tagged.collect() if not r["maybe_seen"]]
        assert false_negs == []
        # n_items stays an exact fold count
        n = sum(r["n_items"] for r in v2.select("n_items").collect())
        assert n == all_keys.count()


class TestLens:
    def test_parse_reference_fixture(self):
        cfg = lens_mod.load("/root/reference/fixtures/test.ron")
        assert cfg.name == "test_lens"
        assert cfg.urls == ["https://www.wikipedia.org$"]
        assert cfg.seeds() == [("https://www.wikipedia.org", "exact")]

    def test_rules_and_regexes(self):
        cfg = lens_mod.loads(
            """(
            name: "x", domains: ["a.test"],
            urls: ["https://b.test/docs/"],
            rules: [SkipURL("https://a.test/junk/*"),
                    SanitizeUrls("https://b.test/*", (remove_query_parameter: true))]
        )"""
        )
        allowed, skipped = cfg.into_regexes()
        assert any("a\\.test" in p for p in allowed)
        assert len(skipped) == 1
        import re

        allow, skip = cfg.alternations()
        assert re.search(allow, "https://a.test/page")
        assert re.search(skip, "https://a.test/junk/1")
        assert not re.search(skip, "https://a.test/ok")

    def test_json_lens(self):
        cfg = lens_mod.loads('{"name": "j", "domains": ["d.test"], "urls": [], "rules": []}')
        assert cfg.domains == ["d.test"]


class TestStreaming:
    def test_ingest_dedup_and_admission(self, spark, tmp_path):
        from netrunner_spark.lens import LensConfig
        from netrunner_spark.streaming.ingest import run_ingest_once

        t0 = datetime.datetime(2024, 1, 1)
        rows = [
            ("https://h1.test/a#frag", t0, 0),
            ("https://h1.test/a", t0, 0),  # dup after fragment strip
            ("https://other.test/x", t0, 0),  # not admitted
            ("https://h1.test/b", t0, 1),
        ]
        in_dir, out_dir, ckpt = (
            str(tmp_path / "in"),
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
        )
        from netrunner_spark.streaming.ingest import CANDIDATE_SCHEMA

        pdf = pd.DataFrame(rows, columns=["url", "discovered_at", "depth"])
        spark.createDataFrame(pdf, schema=CANDIDATE_SCHEMA).write.parquet(in_dir)
        run_ingest_once(
            spark, in_dir, out_dir, ckpt, lens=LensConfig(domains=["h1.test"])
        )
        got = spark.read.parquet(out_dir)
        urls = sorted(r["url"] for r in got.collect())
        assert urls == ["https://h1.test/a", "https://h1.test/b"]
        # exactly-once: re-running with same checkpoint adds nothing
        run_ingest_once(
            spark, in_dir, out_dir, ckpt, lens=LensConfig(domains=["h1.test"])
        )
        assert spark.read.parquet(out_dir).count() == 2


class TestWarc:
    def test_roundtrip(self, spark, tmp_path):
        from netrunner_spark.sources.warc import warc_export, warc_read

        df = spark.createDataFrame(
            [
                (
                    "https://w.test/1",
                    200,
                    [{"name": "content-type", "value": "text/html"}],
                    "<html><body>hi</body></html>",
                )
            ],
            "url string, status int, headers array<struct<name:string,value:string>>, content string",
        )
        out = str(tmp_path / "warc")
        manifest = warc_export(df, out, single_file=True).collect()
        assert len(manifest) == 1 and manifest[0]["n_records"] == 1
        assert os.path.exists(manifest[0]["path"])
        back = warc_read(spark, out).collect()
        assert back[0]["url"] == "https://w.test/1"
        assert back[0]["status"] == 200
        assert back[0]["content"] == "<html><body>hi</body></html>"
        # A6: compression accounting present and sane
        assert manifest[0]["bytes_raw"] > manifest[0]["bytes_written"] > 0
        assert 0 < manifest[0]["compression_ratio"] < 1

    def test_null_status_skipped_and_warc_literal_body(self, spark, tmp_path):
        """Connection-failure rows (status NULL) are skipped, not a
        crash; a body containing the literal 'WARC/1.1' string reads
        back intact (records are delimited by Content-Length)."""
        from netrunner_spark.sources.warc import warc_export, warc_read

        tricky = "about the WARC/1.1\r\n\r\nformat spec"
        df = spark.createDataFrame(
            [
                ("https://w.test/ok", 200, [], tricky),
                ("https://w.test/dead", None, None, None),
            ],
            "url string, status int, headers array<struct<name:string,value:string>>, content string",
        )
        out = str(tmp_path / "warc2")
        manifest = warc_export(df, out, single_file=True).collect()
        assert manifest[0]["n_records"] == 1
        assert manifest[0]["n_skipped"] == 1
        back = warc_read(spark, out).collect()
        assert len(back) == 1
        assert back[0]["content"] == tricky


def test_bloom_probe_rejects_mismatched_shard_count(spark):
    """r5 review: upsert_shards raises on an n_shards mismatch but the
    probe — where a mismatch silently mis-routes keys and yields false
    negatives — did not. It must now fail loudly."""
    import pytest as _pytest

    from netrunner_spark.operators.seen import bloom_partition, upsert_shards

    keys = spark.range(0, 500).select(F.col("id").alias("url_hash"))
    shards = upsert_shards(None, keys, 8)
    cands = spark.range(0, 50).select(F.col("id").alias("url_hash"))
    with _pytest.raises(Exception, match="n_shards"):
        bloom_partition(cands, shards, 4).collect()
