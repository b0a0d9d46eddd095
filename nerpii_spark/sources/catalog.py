"""Thin table-catalog layer (SURVEY.md §7 hard-part (d)).

The sandbox has no Iceberg runtime jar, so checkpoints are Iceberg-shaped
partitioned Parquet directories. Every read/write in the engine funnels
through this module, so pointing at a real Iceberg (or Delta) catalog is
a config swap — `TableCatalog(format="iceberg", database="kg")` issues
`saveAsTable`/`table()` calls against the session catalog instead of
path-based Parquet IO; nothing else changes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


@dataclass
class TableCatalog:
    root: str
    format: str = "parquet"  # "iceberg" / "delta" on a real cluster
    database: str | None = None

    def _ident(self, name: str) -> str:
        return f"{self.database}.{name}" if self.database else name

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, spark: SparkSession, name: str) -> bool:
        if self.format == "parquet":
            return os.path.exists(os.path.join(self.path(name), "_SUCCESS"))
        return spark.catalog.tableExists(self._ident(name))

    def read(
        self, spark: SparkSession, name: str, schema: StructType | None = None
    ) -> DataFrame:
        """A Parquet read infers the schema with a Spark job unless the
        caller knows it (e.g. the frame it has just written)."""
        if self.format == "parquet":
            reader = spark.read if schema is None else spark.read.schema(schema)
            return reader.parquet(self.path(name))
        return spark.table(self._ident(name))

    def write(
        self,
        df: DataFrame,
        name: str,
        partition_by: tuple[str, ...] = (),
        mode: str = "overwrite",
    ) -> None:
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        if self.format == "parquet":
            w.parquet(self.path(name))
        else:
            w.format(self.format).saveAsTable(self._ident(name))


    def write_bucketed(
        self,
        df: DataFrame,
        name: str,
        bucket_by: str,
        n_buckets: int = 16,
        sort_by: str | None = None,
        mode: str = "overwrite",
    ) -> None:
        """Bucketed write: rows are hash-clustered into `n_buckets` files
        by `bucket_by` and sorted within each bucket, and the layout is
        recorded in the session catalog (bucket metadata cannot live in
        bare path-based Parquet, so this goes through saveAsTable with an
        external path under the catalog root).

        Why it matters at scale: two tables bucketed by the same key and
        bucket count sort-merge-join WITHOUT either side's Exchange, and
        a groupBy on the bucket key skips its shuffle too — for a
        repeatedly-joined table (triples by subj, entities by entity_id)
        the shuffle is paid once at write time, not once per query.
        tests/test_catalog.py asserts the exchange-free join plan. On a
        real lakehouse this maps to Iceberg's `bucket(N, col)` partition
        transform — same config-swap story as the rest of this module."""
        w = (
            df.write.mode(mode)
            .option("path", self.path(name))
            .bucketBy(n_buckets, bucket_by)
            .sortBy(sort_by or bucket_by)
        )
        w.format(self.format).saveAsTable(self._ident(name))

    def read_bucketed(self, spark: SparkSession, name: str) -> DataFrame:
        """Bucketed tables are catalog-backed regardless of format (the
        bucket spec lives in the table metadata, not the files)."""
        return spark.table(self._ident(name))

    def compact(
        self,
        spark: SparkSession,
        name: str,
        target_bytes: int = 128 * 1024 * 1024,
        partition_by: tuple[str, ...] = (),
    ) -> dict:
        """Small-file compaction (the Iceberg `rewrite_data_files` /
        Delta OPTIMIZE maintenance job). Incremental micro-batch sinks
        and high-parallelism writers fragment a table into files far
        below the scan-efficient size; at 100 TB the resulting
        per-file open/footer overhead and starved scan parallelism
        dominate read cost. This rewrites the table into
        ~ceil(total_bytes / target_bytes) files overall (spread across
        partition values for a partitioned table).

        Scale shape: sizing comes from file metadata (one listing, no
        data read); the rewrite is one pass with NO shuffle when the
        table is unpartitioned (coalesce only merges partitions). For a
        partitioned table, rows shuffle on (partition cols, row-hash
        salt): hashing on the partition columns alone would collapse
        EVERY partition value to one file/one task no matter its size —
        the salt keeps oversized partitions split across
        ~n_out/|partitions| files each.

        Swap: write-to-temp, then two directory renames. On this local
        FS the window between them is observable (an Iceberg/Delta
        snapshot commit — the config-swap target — is atomic); stale
        `.__compact__`/`.__old__` leftovers from a crashed run are
        cleaned on entry, so a crash never wedges future compactions.

        Refuses catalog-backed (bucketed) tables: rewriting their
        directory with plain parquet files would break the bucket spec
        the catalog still advertises (joins would then skip required
        exchanges on wrong clustering assumptions). Returns
        {files_before, files_after, bytes}.
        """
        import math
        import shutil

        if spark.catalog.tableExists(self._ident(name)):
            raise ValueError(
                f"{name!r} is catalog-backed (bucketed); a plain-parquet"
                " rewrite would orphan its bucket metadata — compact it"
                " with a bucket-preserving write_bucketed instead"
            )
        path = self.path(name)
        tmp = path + ".__compact__"
        old = path + ".__old__"
        # recover from a previous crash: the table dir always exists here
        # (a crash between the two renames is repaired by restoring old)
        if not os.path.exists(path) and os.path.exists(old):
            os.rename(old, path)
        for stale in (tmp, old):
            if os.path.exists(stale):
                shutil.rmtree(stale)
        files = [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        ]
        total = sum(os.path.getsize(f) for f in files)
        n_out = max(1, math.ceil(total / target_bytes))
        df = spark.read.parquet(path)
        if partition_by:
            from pyspark.sql import functions as F

            n_parts = max(
                1,
                len({
                    os.path.relpath(dp, path)
                    for dp, _, fs in os.walk(path)
                    if any(f.endswith(".parquet") for f in fs)
                }),
            )
            per_part = max(1, math.ceil(n_out / n_parts))
            salt = F.pmod(
                F.xxhash64(*[c for c in df.columns]), F.lit(per_part)
            )
            w = (
                df.withColumn("__salt", salt)
                .repartition(n_out, *partition_by, "__salt")
                .drop("__salt")
                .write.mode("overwrite")
                .partitionBy(*partition_by)
            )
        else:
            w = df.coalesce(n_out).write.mode("overwrite")
        w.parquet(tmp)
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
        after = [
            os.path.join(dp, f)
            for dp, _, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        ]
        return {
            "files_before": len(files),
            "files_after": len(after),
            "bytes": total,
        }


    def merge_upsert(
        self,
        spark: SparkSession,
        name: str,
        changes: DataFrame,
        key_cols: tuple[str, ...],
        op_col: str = "op",
        seq_col: str | None = None,
    ) -> dict:
        """MERGE INTO for the parquet-shaped catalog (the Iceberg
        MERGE / Delta upsert maintenance op — same config-swap story):
        apply a CDC change batch to `name`, keyed by `key_cols`.
        `changes` carries the base schema plus `op_col` in
        {'upsert','delete'} and optionally `seq_col` (a monotonically
        increasing change sequence); when a batch holds several changes
        for one key, the HIGHEST seq wins (max_by — deterministic), the
        standard CDC compaction rule.

        Scale shape: one map-side-combined per-key latest-change agg
        over the (delta-sized) batch, one key-hash LEFT ANTI join
        dropping every base row the batch touches (the only
        corpus-sized exchange; the batch side is the small build side),
        one unionByName with the surviving upserts. The rewrite lands
        in a temp dir first, then two directory renames — the compact()
        swap discipline (an Iceberg/Delta snapshot commit is the atomic
        config-swap target; stale temp dirs are cleaned on entry).
        Refuses catalog-backed (bucketed) tables for compact()'s
        reason. Returns {rows_before, rows_after, n_upserts,
        n_deletes}. Re-applying the same batch is idempotent (asserted
        in tests/test_catalog.py)."""
        import shutil

        from pyspark.sql import functions as F

        if spark.catalog.tableExists(self._ident(name)):
            raise ValueError(
                f"{name!r} is catalog-backed (bucketed); merge would"
                " orphan its bucket metadata — rewrite via a"
                " bucket-preserving write_bucketed instead"
            )
        path = self.path(name)
        tmp = path + ".__merge__"
        old = path + ".__old__"
        if not os.path.exists(path) and os.path.exists(old):
            os.rename(old, path)
        for stale in (tmp, old):
            if os.path.exists(stale):
                shutil.rmtree(stale)
        base = spark.read.parquet(path)
        ch = changes
        if seq_col is not None:
            rest = [c for c in ch.columns if c not in key_cols]
            ch = (
                ch.groupBy(*key_cols)
                .agg(
                    F.max_by(
                        F.struct(*rest), F.col(seq_col)
                    ).alias("_latest")
                )
                .select(*key_cols, "_latest.*")
            )
            ch = ch.drop(seq_col)
        upserts = ch.where(F.col(op_col) == "upsert").drop(op_col)
        n_up = upserts.count()
        n_del = ch.where(F.col(op_col) == "delete").count()
        keys = ch.select(*key_cols).distinct()
        kept = base.join(keys, list(key_cols), "left_anti")
        out = kept.unionByName(upserts.select(*base.columns))
        rows_before = base.count()
        out.write.mode("overwrite").parquet(tmp)
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
        rows_after = spark.read.parquet(path).count()
        return {
            "rows_before": rows_before,
            "rows_after": rows_after,
            "n_upserts": n_up,
            "n_deletes": n_del,
        }


def load_table(spark: SparkSession, source) -> DataFrame:
    """Reference O1 input coercion (named_entity_recognizer.py:310-311,
    faker_generator.py:78-79): accept a DataFrame as-is, or a path —
    .csv via header+schema inference like pd.read_csv, else Parquet."""
    if isinstance(source, DataFrame):
        return source
    if isinstance(source, str):
        if source.endswith(".csv"):
            return spark.read.csv(source, header=True, inferSchema=True)
        return spark.read.parquet(source)
    raise ValueError(f"unsupported source: {type(source).__name__}")


def read_evolved(
    spark: SparkSession, paths: list[str]
) -> DataFrame:
    """Read snapshots whose schemas have DRIFTED (columns added or
    dropped between writes) into one unified frame: parquet
    `mergeSchema` unions the footers' schemas and pads absent columns
    with NULL per file — the read-side half of schema evolution every
    long-lived crawl table needs (new extraction fields appear; old
    ones retire; historic files stay byte-stable). Column-level, not
    positional: a field is matched by NAME, so reordering between
    snapshots is harmless. Scale note: schema merging reads footers
    only (one tiny task per file at planning), not data."""
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def union_evolved(frames: list[DataFrame]) -> DataFrame:
    """The DataFrame-level twin of read_evolved for in-flight frames:
    unionByName(allowMissingColumns=True) — positional unionAll would
    silently mis-align drifted schemas (the classic evolution bug);
    by-name union with NULL fill is the only safe combinator."""
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    return out
