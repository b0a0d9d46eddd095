"""Checkpointed pipeline runner: S1 clean -> S2 detect -> S3 extract ->
S4 link -> S5 mask, each stage a pure DataFrame -> DataFrame function
materialized to a Parquet checkpoint with per-partition lineage rows —
the north_rule resumability contract. `STAGES` is the dataflow: every
operator reads its upstream stage's checkpoint.

Layout (Iceberg-shaped; a real Iceberg catalog is a config swap since
every write goes through the TableCatalog):

    <root>/clean_pages/     partitioned by (lang, bucket)
    <root>/mentions/        partitioned by (lang, bucket)
    <root>/triples/         partitioned by (lang, bucket)
    <root>/entities/
    <root>/triples_masked/  partitioned by (lang, bucket)
    <root>/lineage/         append-only: one row per (run, stage, bucket)

bucket = pmod(xxhash64(url), n_buckets) — the north_rule partitioning key;
a table is partitioned exactly when it has a url column.
A stage whose checkpoint directory holds a _SUCCESS marker is skipped on
re-run (resume); outputs are deterministic, so a resumed run produces
byte-identical tables (asserted by tests/test_pipeline.py).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.clean import clean_pages
from .operators.detect import detect_mentions
from .operators.extract import extract_triples
from .operators.link import link_entities
from .operators.mask import mask_triples
from .sources.catalog import TableCatalog

LINEAGE_SCHEMA = (
    "run_id string, stage string, partition_id int, rows_out bigint,"
    " input_rows bigint, wall_ms bigint"
)


def _clean(pages: DataFrame) -> DataFrame:
    # html is consumed by S1 and dropped from the checkpoint: the clean
    # text is the contract downstream (and the bytes would double the
    # checkpoint footprint at scale)
    return clean_pages(pages).drop("html")


# (stage, operator, upstream stage); None is the raw pages. The order is
# the dataflow: run(stop_after=...) truncates it, nothing reorders it.
STAGES = (
    ("clean_pages", _clean, None),
    ("mentions", detect_mentions, "clean_pages"),
    ("triples", extract_triples, "mentions"),
    ("entities", link_entities, "mentions"),
    ("triples_masked", mask_triples, "triples"),
)


@dataclass
class PipelineConfig:
    root: str
    n_buckets: int = 64
    run_id: str = "run-0"
    executed: list[str] = field(default_factory=list)
    skipped: list[str] = field(default_factory=list)


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    """north_rule partitioning key: pmod(xxhash64(url), N). Tables without
    a url (e.g. entities) bucket by their canonical key instead."""
    if "bucket" in df.columns:
        return df
    key = next((c for c in ("url", "canonical") if c in df.columns), None)
    expr = (
        F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")
        if key
        else F.lit(0)
    )
    return df.withColumn("bucket", expr)


class Pipeline:
    """Resume-capable staged runner. `pages` must carry
    (doc_id, url, warc_ts, html, text, lang)."""

    def __init__(
        self,
        spark: SparkSession,
        cfg: PipelineConfig,
        catalog: TableCatalog | None = None,
    ):
        self.spark = spark
        self.cfg = cfg
        # all IO funnels through the catalog: a real Iceberg catalog is a
        # constructor-argument swap (sources/catalog.py)
        self.catalog = catalog or TableCatalog(root=cfg.root)

    # -- checkpoint plumbing -------------------------------------------------

    def _write(self, stage: str, df: DataFrame, input_rows: int | None) -> None:
        t0 = time.perf_counter()
        if "url" in df.columns:
            df = with_bucket(df, self.cfg.n_buckets)
            # one shuffle keyed the same way the table is laid out:
            # 1 file per (lang, bucket) partition
            self.catalog.write(
                df.repartition("lang", "bucket"),
                stage,
                partition_by=("lang", "bucket"),
            )
        else:
            self.catalog.write(df, stage)
        wall_ms = int((time.perf_counter() - t0) * 1000)
        self._append_lineage(stage, input_rows, wall_ms)
        self.cfg.executed.append(stage)

    def _append_lineage(
        self, stage: str, input_rows: int | None, wall_ms: int
    ) -> None:
        out = self.catalog.read(self.spark, stage)
        if input_rows is None:
            # S1 reads the raw pages, not a checkpoint, and is 1:1:
            # counting its output beats re-executing the live page plan
            input_rows = out.count()
        per_part = (
            with_bucket(out, self.cfg.n_buckets)
            .groupBy(F.col("bucket").cast("int").alias("partition_id"))
            .agg(F.count("*").alias("rows_out"))
            .select(
                F.lit(self.cfg.run_id).alias("run_id"),
                F.lit(stage).alias("stage"),
                "partition_id",
                "rows_out",
                F.lit(input_rows).cast("bigint").alias("input_rows"),
                F.lit(wall_ms).cast("bigint").alias("wall_ms"),
            )
        )
        self.catalog.write(per_part, "lineage", mode="append")

    def _ensure_lineage(self, stage: str) -> None:
        """Crash-recovery: a kill between a checkpoint's _SUCCESS and its
        lineage append would otherwise leave the stage without lineage
        under ANY run (resume skips it forever). Backfill only in that
        case — normal resumes add no rows for skipped stages (asserted
        by tests). input_rows = -1 marks the backfill."""
        if self.catalog.exists(self.spark, "lineage"):
            existing = (
                self.catalog.read(self.spark, "lineage")
                .where(F.col("stage") == stage)
                .limit(1)
                .count()
            )
            if existing:
                return
        self._append_lineage(stage, -1, 0)

    # -- the pipeline --------------------------------------------------------

    def run(self, pages: DataFrame, stop_after: str | None = None) -> dict:
        """Run (or resume) the stages in `STAGES` order; returns
        {stage: checkpointed DataFrame}. `stop_after` names the last stage
        to run (it simulates a mid-run failure for resume tests)."""
        names = [stage for stage, _, _ in STAGES]
        if stop_after is not None and stop_after not in names:
            raise ValueError(
                f"stop_after must be one of {names}, got {stop_after!r}"
            )
        out: dict[str, DataFrame] = {}
        for stage, operator, upstream in STAGES:
            if self.catalog.exists(self.spark, stage):
                self.cfg.skipped.append(stage)
                self._ensure_lineage(stage)
            elif upstream is None:
                self._write(stage, operator(pages), None)
            else:
                src = out[upstream]
                self._write(stage, operator(src), src.count())
            out[stage] = self.catalog.read(self.spark, stage)
            if stage == stop_after:
                break
        return out

    def lineage(self) -> DataFrame:
        return self.catalog.read(self.spark, "lineage")
