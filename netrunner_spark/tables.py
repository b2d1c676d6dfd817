"""Snapshot-versioned table catalog — the Iceberg stand-in.

The north_rule targets Iceberg tables (MERGE cache keyed by url_hash,
per-round frontier/bloom/metrics checkpoints, snapshot-based resume).
Iceberg jars are not available in this sandbox, so this module provides
the same contract over plain parquet with atomic snapshot pointers:

    <root>/<table>/snap-<version>/part-*.parquet
    <root>/<table>/_latest            # text file: committed version

Writes go to a new ``snap-N`` directory first; the ``_latest`` pointer
is flipped last via atomic rename — a killed job never observes a
half-written snapshot, which is exactly the resume guarantee we need
(reference analog: per-URL RON cache files, crawler.rs:140-152 /
urls.txt checkpoint, mod.rs:121-128). On a real cluster, swap this
class for an Iceberg catalog; call sites only use read/write/merge.

MERGE semantics (K2): new rows win over existing rows with the same
key — replaces the reference's first-wins file dedup (mod.rs:177-208)
with deterministic last-write-wins keyed upserts: ``merge`` rewrites
the snapshot once per call, keyed by a left-anti join. The one bucketed
layout is the Spark bucketed table (``write_table_bucketed`` /
``read_table``) that the crawl's co-located joins read.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# bucket count of the co-located crawl layout (page store, image
# payloads, schedule) when the caller names none
N_BUCKETS = 8


class LakeCatalog:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------- plumbing
    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _pointer(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_latest")

    def version(self, table: str) -> int | None:
        """Committed snapshot version, or None if the table doesn't exist."""
        try:
            with open(self._pointer(table), encoding="utf-8") as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def exists(self, table: str) -> bool:
        return self.version(table) is not None

    def snapshot_path(self, table: str, version: int | None = None) -> str:
        v = self.version(table) if version is None else version
        if v is None:
            raise FileNotFoundError(f"table {table!r} has no committed snapshot")
        return os.path.join(self._tdir(table), f"snap-{v}")

    def _commit(self, table: str, version: int) -> None:
        tmp = self._pointer(table) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(str(version))
        os.replace(tmp, self._pointer(table))  # atomic on POSIX

    # ------------------------------------------------------------------ API
    def read(self, table: str, version: int | None = None) -> DataFrame:
        return self.spark.read.parquet(self.snapshot_path(table, version))

    def write(
        self,
        df: DataFrame,
        table: str,
        partition_by: list[str] | None = None,
        bucket_hint: str | None = None,
    ) -> int:
        """Write a new snapshot; returns committed version.

        ``bucket_hint``: column to hash-repartition on before writing —
        the local-mode analog of Iceberg ``bucket(N, col)`` layout, so a
        downstream key-equi join/merge reads co-located files (cache is
        bucketed by host/url_hash per SURVEY.md §4 item 3).
        """
        cur = self.version(table)
        new = 1 if cur is None else cur + 1
        path = os.path.join(self._tdir(table), f"snap-{new}")
        if bucket_hint is not None:
            df = df.repartition(F.col(bucket_hint))
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        self._commit(table, new)
        return new

    def write_slice(self, df: DataFrame, table: str, slice_col: str, slice_val) -> None:
        """Append-style write of one slice (Iceberg append-snapshot
        analog): data lands in ``<table>/data/<slice_col>=<val>`` and is
        OVERWRITTEN on replay — so a crashed-and-resumed round commits
        exactly-once without rewriting the rest of the table (the O(R²)
        full-table MERGE is gone; read_slices unions all slices via
        parquet partition discovery)."""
        base = os.path.join(self._tdir(table), "data")
        path = os.path.join(base, f"{slice_col}={slice_val}")
        df.drop(slice_col).write.mode("overwrite").parquet(path)

    def read_slice(self, table: str, slice_col: str, slice_val) -> DataFrame:
        """One committed slice (no partition column attached)."""
        path = os.path.join(self._tdir(table), "data", f"{slice_col}={slice_val}")
        return self.spark.read.parquet(path)

    def append_partitions(self, df: DataFrame, table: str, part_col: str) -> None:
        """Append whole NEW partitions into a slice-tree table
        (``<table>/data/<part_col>=v``) in one job. Dynamic partition
        overwrite keeps a replayed append idempotent: only the
        partitions in ``df`` are replaced."""
        base = os.path.join(self._tdir(table), "data")
        (
            df.write.partitionBy(part_col)
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(base)
        )

    def mark_slices_committed(self, table: str, slice_col: str, vals) -> None:
        """Stamp the per-slice ``_SUCCESS`` markers after a BATCHED
        multi-partition write (``append_partitions``): Spark's
        committer emits one marker at the table root for such a write,
        but the slice protocol (``slice_committed``) is per-dir.
        Written after the data commit, so the crash window matches
        ``write_slice`` exactly: data present + marker missing ⇒ the
        slice is replayed."""
        base = os.path.join(self._tdir(table), "data")
        for v in vals:
            d = os.path.join(base, f"{slice_col}={v}")
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, "_SUCCESS"), "w"):
                pass

    def read_slices(self, table: str) -> DataFrame | None:
        """All rows of a slice-tree table: the compacted base snapshot
        (if ``compact_slices`` has run) plus every slice ABOVE the
        compaction floor. Slices at/below the floor are excluded even if
        their directories still exist (crash between snapshot commit and
        slice deletion) — the snapshot is authoritative below the floor,
        so the union stays duplicate-free."""
        base = os.path.join(self._tdir(table), "data")
        meta = self.compact_meta(table)
        tail = None
        if os.path.isdir(base) and any(e.is_dir() for e in os.scandir(base)):
            tail = self.spark.read.option("basePath", base).parquet(base)
            if meta is not None:
                tail = tail.filter(F.col(meta["slice_col"]) > meta["upto"])
        if meta is not None and self.exists(table):
            # bound the head to the COMMITTED floor: compact_slices commits
            # the merged snapshot before it updates _compacted, so a crash
            # between the two leaves freshly folded rows (slice_col > stale
            # floor) in the head AND their slices on disk above the floor —
            # the filter excludes exactly those head rows, keeping the
            # union duplicate-free through the crash window (ADVICE r4)
            head = self.read(table).filter(F.col(meta["slice_col"]) <= meta["upto"])
            return head if tail is None else head.unionByName(tail)
        return tail

    def slice_exists(self, table: str, slice_col: str, slice_val) -> bool:
        path = os.path.join(self._tdir(table), "data", f"{slice_col}={slice_val}")
        return os.path.isdir(path) and any(
            f.endswith(".parquet") for f in os.listdir(path)
        )

    def slice_committed(self, table: str, slice_col: str, slice_val) -> bool:
        """True iff the slice write COMPLETED (Spark's _SUCCESS marker) —
        a crash mid-write leaves part files but no marker; such a slice
        must be replayed, not trusted."""
        path = os.path.join(self._tdir(table), "data", f"{slice_col}={slice_val}")
        return os.path.isfile(os.path.join(path, "_SUCCESS"))

    def max_committed_slice(self, table: str, slice_col: str) -> int | None:
        vals = [
            v
            for v in self._slice_values(table, slice_col)
            if self.slice_committed(table, slice_col, v)
        ]
        # the compaction floor stands in for deleted slice markers —
        # rounds folded into the base snapshot were all committed (W4
        # resume must not replay them)
        floor = self.compacted_upto(table, slice_col)
        if floor is not None:
            vals.append(floor)
        return max(vals) if vals else None

    def _slice_values(self, table: str, slice_col: str) -> list[int]:
        base = os.path.join(self._tdir(table), "data")
        if not os.path.isdir(base):
            return []
        return [
            int(e.name.split("=", 1)[1])
            for e in os.scandir(base)
            if e.is_dir() and e.name.startswith(f"{slice_col}=")
        ]

    @staticmethod
    def _parquet_bytes(d: str) -> int:
        """On-disk bytes of the parquet files in one dir (driver stat,
        no job); 0 when the dir does not exist."""
        if not os.path.isdir(d):
            return 0
        return sum(
            e.stat().st_size for e in os.scandir(d) if e.name.endswith(".parquet")
        )

    def slice_bytes(self, table: str, slice_col: str, slice_val) -> int:
        """On-disk bytes of one slice (driver stat, no job)."""
        return self._parquet_bytes(
            os.path.join(self._tdir(table), "data", f"{slice_col}={slice_val}")
        )

    def max_slice(self, table: str, slice_col: str) -> int | None:
        return max(self._slice_values(table, slice_col), default=None)

    # ----------------------------------------- Spark-native bucketed tables
    # (the co-located-join layout: two tables bucketBy'd on the same key
    # with the same bucket count join with ZERO exchanges and no
    # driver-built broadcast relation — the local-mode twin of Iceberg
    # ``bucket(N, key)`` storage-partitioned joins on a cluster)

    def table_name(self, table: str) -> str:
        """Session-catalog name, unique per (lake root, table)."""
        tag = hashlib.md5(self.root.encode()).hexdigest()[:8]
        return f"nrtbl_{tag}_{table}"

    def _table_meta_path(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_table_meta")

    def table_meta(self, table: str) -> dict | None:
        try:
            with open(self._table_meta_path(table), encoding="utf-8") as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            return None

    def write_table_bucketed(
        self,
        df: DataFrame,
        table: str,
        key: str,
        n_buckets: int,
        partition_by: list[str] | None = None,
        provenance: dict | None = None,
    ) -> None:
        """Write ``df`` as a Spark bucketed+sorted table. The pre-write
        ``repartition(n_buckets, key)`` uses the same murmur3 pmod as the
        bucketing spec, so every task holds exactly one bucket → ONE file
        per (partition, bucket) → no extra sort in downstream merge joins.
        Metadata (schema DDL, bucket spec) is persisted so a NEW session
        can re-register the table for resume (W4)."""
        name = self.table_name(table)
        path = os.path.join(self._tdir(table), "bucketed")
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(path, ignore_errors=True)
        writer = (
            df.repartition(n_buckets, F.col(key))
            .write.format("parquet")
            .mode("overwrite")
            .option("path", path)
        )
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.bucketBy(n_buckets, key).sortBy(key).saveAsTable(name)
        meta = {
            "name": name,
            "key": key,
            "n_buckets": n_buckets,
            "partition_by": partition_by or [],
            "columns": [
                {"name": f.name, "type": f.dataType.simpleString()}
                for f in df.schema.fields
            ],
            # caller-supplied source identity (e.g. row count + key xor):
            # lets reuse checks reject a stale/mismatched pre-seeded
            # layout instead of silently crawling the wrong corpus
            "provenance": provenance,
        }
        tmp = self._table_meta_path(table) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(meta, f)
        os.replace(tmp, self._table_meta_path(table))

    def read_table(self, table: str) -> DataFrame:
        """Catalog-backed read of a bucketed table (a direct parquet path
        read would DROP the bucketing metadata and reintroduce shuffles).
        Re-registers from persisted metadata when the session is new."""
        meta = self.table_meta(table)
        if meta is None:
            raise FileNotFoundError(f"no bucketed table {table!r}")
        # derive from the CURRENT root, not the persisted name: a lake
        # seeded by copying/hardlinking another lake's table dirs (e.g.
        # a pre-bucketed store template) must register under ITS name,
        # or two lakes sharing a template would collide in the session
        # catalog and read each other's (possibly deleted) paths
        name = self.table_name(table)
        if not self.spark.catalog.tableExists(name):
            path = os.path.join(self._tdir(table), "bucketed")
            # keep the PERSISTED column order — partition dirs nest in
            # write order, so sorting here would make recoverPartitions
            # walk a tree that doesn't exist for any multi-column spec
            # (r5 review; latent — all current callers pass one column)
            parts = list(meta["partition_by"])
            cols = ", ".join(
                f"`{c['name']}` {c['type']}" for c in meta["columns"]
            )
            stmt = f"CREATE TABLE {name} ({cols}) USING parquet "
            if parts:
                stmt += f"PARTITIONED BY ({', '.join(parts)}) "
            stmt += (
                f"CLUSTERED BY ({meta['key']}) SORTED BY ({meta['key']}) "
                f"INTO {meta['n_buckets']} BUCKETS LOCATION '{path}'"
            )
            self.spark.sql(stmt)
            if parts:
                self.spark.catalog.recoverPartitions(name)
        return self.spark.table(name)

    def table_partition_bytes(self, table: str, part_col: str, val) -> int:
        """On-disk bytes of one partition of a BUCKETED table (driver
        stat, no job) — the broadcast-vs-merge dial for crawl rounds.
        0 when the partition (or the table) does not exist."""
        return self._parquet_bytes(
            os.path.join(self._tdir(table), "bucketed", f"{part_col}={val}")
        )

    def table_partition_values(self, table: str, part_col: str) -> list[int]:
        """Partition values of a bucketed table — driver-side listdir."""
        base = os.path.join(self._tdir(table), "bucketed")
        if not os.path.isdir(base):
            return []
        return sorted(
            int(e.name.split("=", 1)[1])
            for e in os.scandir(base)
            if e.is_dir() and e.name.startswith(f"{part_col}=")
        )

    # ------------------------------------------------------------- markers
    def set_marker(self, table: str, name: str) -> None:
        """Durable driver-side marker (atomic create) — records that a
        non-table side effect tied to ``table`` completed, e.g. that a
        round's link expansion ran (W4 exactly-once)."""
        d = self._tdir(table)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".marker-tmp-{uuid.uuid4().hex[:8]}")
        with open(tmp, "w", encoding="utf-8"):
            pass
        os.replace(tmp, os.path.join(d, f"_marker-{name}"))

    def has_marker(self, table: str, name: str) -> bool:
        return os.path.isfile(os.path.join(self._tdir(table), f"_marker-{name}"))

    # ---------------------------------------------------------- merge (K2)
    def merge(
        self,
        df: DataFrame,
        table: str,
        key: str | list[str],
        bucket_hint: str | None = None,
    ) -> int:
        """MERGE INTO: upsert by key, new rows win (K2 semantics,
        replacing the reference's first-wins file dedup mod.rs:177-208).
        One keyed rewrite: the current snapshot minus the incoming keys
        (left-anti), plus the incoming rows, written as a new snapshot."""
        keys = [key] if isinstance(key, str) else list(key)
        merged = df.dropDuplicates(keys)
        if self.exists(table):
            keep = self.read(table).join(merged.select(*keys), keys, "left_anti")
            merged = keep.unionByName(merged)
        return self.write(merged, table, bucket_hint=bucket_hint)

    # ------------------------------------------------- slice-tree compaction
    def _compact_meta_path(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_compacted")

    def compact_meta(self, table: str) -> dict | None:
        try:
            with open(self._compact_meta_path(table), encoding="utf-8") as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            return None

    def compacted_upto(self, table: str, slice_col: str) -> int | None:
        meta = self.compact_meta(table)
        if meta is not None and meta.get("slice_col") == slice_col:
            return int(meta["upto"])
        return None

    def compact_slices(
        self,
        table: str,
        slice_col: str,
        key: str | list[str],
        upto: int | None = None,
    ) -> int | None:
        """Fold committed slices ≤ ``upto`` (default: all committed) into
        ONE base snapshot (VERDICT r3 #10): a months-long crawl otherwise
        grows one ``<slice_col>=r`` directory per round forever, and
        every ``read_slices`` pays the ever-longer file listing. Each
        compaction is one keyed ``merge`` of the new slices into the
        base (a plain write when there is none yet).

        If the same key appears in several slices, the HIGHEST slice
        value wins (K2 new-rows-win, matching ``merge``); the slice
        column survives as an ordinary data column, so per-row lineage
        (e.g. frontier materialization's ``round``) is preserved.

        Crash-safe ordering: snapshot + floor commit BEFORE slice
        deletion; ``read_slices`` excludes slices at/below the floor, so
        a crash between the two steps never double-counts, and replaying
        the compaction just re-deletes.

        Lakes compacted by earlier code (a base laid out in
        ``snap-V/_bucket=k`` dirs) are not migrated."""
        keys = [key] if isinstance(key, str) else list(key)
        committed = sorted(
            v
            for v in self._slice_values(table, slice_col)
            if self.slice_committed(table, slice_col, v)
        )
        base_dir = os.path.join(self._tdir(table), "data")
        floor = self.compacted_upto(table, slice_col)
        if floor is not None:
            # heal a crash between floor commit and slice deletion:
            # slices at/below the floor are already in the snapshot
            # (read_slices ignores them) — just re-delete
            for v in [v for v in committed if v <= floor]:
                shutil.rmtree(
                    os.path.join(base_dir, f"{slice_col}={v}"), ignore_errors=True
                )
            committed = [v for v in committed if v > floor]
        if upto is not None:
            committed = [v for v in committed if v <= upto]
        if not committed:
            return None
        hi = max(committed)
        df = self.spark.read.option("basePath", base_dir).parquet(
            *[os.path.join(base_dir, f"{slice_col}={v}") for v in committed]
        )
        # highest-slice-wins dedup BEFORE the merge (merge's own
        # dropDuplicates would pick an arbitrary row among rounds)
        w = Window.partitionBy(*keys).orderBy(F.col(slice_col).desc())
        df = (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        self.merge(df, table, key=keys)
        tmp = self._compact_meta_path(table) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump({"slice_col": slice_col, "upto": hi}, f)
        os.replace(tmp, self._compact_meta_path(table))
        for v in committed:
            shutil.rmtree(
                os.path.join(base_dir, f"{slice_col}={v}"), ignore_errors=True
            )
        self.vacuum(table)
        return hi

    def drop(self, table: str) -> None:
        shutil.rmtree(self._tdir(table), ignore_errors=True)

    def rollback(self, table: str, version: int) -> None:
        """Point _latest at an earlier snapshot (resume-from-checkpoint)."""
        if not os.path.isdir(os.path.join(self._tdir(table), f"snap-{version}")):
            raise FileNotFoundError(f"{table} snap-{version} missing")
        self._commit(table, version)

    def vacuum(self, table: str, keep_last: int = 2) -> None:
        """Drop snapshots older than the last ``keep_last`` (bounded disk)."""
        cur = self.version(table)
        if cur is None:
            return
        tdir = self._tdir(table)
        for name in os.listdir(tdir):
            if name.startswith("snap-"):
                v = int(name.split("-", 1)[1])
                if v <= cur - keep_last:
                    shutil.rmtree(os.path.join(tdir, name), ignore_errors=True)
