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
Lineage is observed during the write (one count per bucket), so a stage
is one checkpoint write plus one lineage append, with no count.
A stage whose checkpoint directory holds a _SUCCESS marker is skipped on
re-run (resume); outputs are deterministic, so a resumed run produces
byte-identical tables (asserted by tests/test_pipeline.py).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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


def bucket_of(df: DataFrame, n_buckets: int) -> Column:
    """north_rule partitioning key, pmod(xxhash64(url), N): a checkpoint's
    `bucket` column. Tables without a url (e.g. entities) bucket by their
    canonical key instead."""
    if "bucket" in df.columns:
        return F.col("bucket")
    key = next((c for c in ("url", "canonical") if c in df.columns), None)
    if key is None:
        return F.lit(0)
    return F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")


def bucket_counts(df: DataFrame, n_buckets: int) -> list[Column]:
    """Lineage rows_out per bucket: observed by a stage's write, or
    aggregated over its checkpoint by the crash-window backfill."""
    b = bucket_of(df, n_buckets)
    return [F.count_if(b == i).alias(f"b{i}") for i in range(n_buckets)]


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

    def _write(
        self, stage: str, df: DataFrame
    ) -> tuple[list[int], int, StructType | None]:
        """Checkpoint df as stage -> (rows per bucket, observed; wall ms;
        the schema the checkpoint reads back with, None to infer it)."""
        t0 = time.perf_counter()
        n, partition_by = self.cfg.n_buckets, ()
        if "url" in df.columns:
            # one shuffle keyed the same way the table is laid out:
            # 1 file per (lang, bucket) partition
            partition_by = ("lang", "bucket")
            df = df.withColumn("bucket", bucket_of(df, n))
            df = df.repartition(*partition_by)
        # observed on top of the written plan, in the write's result stage,
        # where each task's update is applied once (a re-run map stage's not)
        seen = Observation()
        observed = df.observe(seen, *bucket_counts(df, n))
        self.catalog.write(observed, stage, partition_by)
        counts = list(seen.get.values())
        # columns in the order a partitioned read gives: partition ones last
        cols = [c for c in df.columns if c not in partition_by]
        written = df.select(*cols, *partition_by)
        schema = written.schema
        if partition_by and not sum(counts):
            # a partitioned write of no rows writes no data file, so there
            # is no schema to read back: rewrite it as one empty file
            self.catalog.write(written.limit(0), stage)
            schema = None
        return counts, int((time.perf_counter() - t0) * 1000), schema

    def _append_lineage(self, stage, counts, input_rows, wall_ms) -> None:
        """One row per bucket from literals, with no Python worker to start."""
        schema, run = StructType.fromDDL(LINEAGE_SCHEMA), self.cfg.run_id
        rows = F.array(*(
            F.struct(*map(F.lit, (run, stage, i, n, input_rows, wall_ms)))
            for i, n in enumerate(counts)
        ))
        one = self.spark.range(1, numPartitions=1)
        lin = one.select(F.inline(rows)).toDF(*schema.names).to(schema)
        self.catalog.write(lin, "lineage", mode="append")

    def _backfill_lineage(self, stage: str, ckpt: DataFrame) -> None:
        """Crash recovery: a kill between a checkpoint's _SUCCESS and its
        lineage append would leave the stage without lineage forever. The
        write's per-bucket counts are aggregated over the checkpoint
        instead; input_rows = -1 marks the backfill."""
        counts = ckpt.agg(*bucket_counts(ckpt, self.cfg.n_buckets)).first()
        self._append_lineage(stage, list(counts), -1, 0)

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
        rows: dict[str, int] = {}  # rows each stage wrote in this run
        logged = set()  # stages with lineage: read once, on a resume
        if self.catalog.exists(self.spark, "lineage"):
            logged = {r[0] for r in self.lineage().select("stage").collect()}
        for stage, operator, upstream in STAGES:
            if self.catalog.exists(self.spark, stage):
                self.cfg.skipped.append(stage)
                out[stage] = self.catalog.read(self.spark, stage)
                if stage not in logged:
                    self._backfill_lineage(stage, out[stage])
            else:
                if upstream and upstream not in rows:
                    # skipped on resume: its checkpoint is counted once
                    rows[upstream] = out[upstream].count()
                src = out[upstream] if upstream else pages
                counts, ms, schema = self._write(stage, operator(src))
                rows[stage] = sum(counts)  # S1 is 1:1: its own input_rows
                self._append_lineage(
                    stage, counts, rows[upstream or stage], ms
                )
                self.cfg.executed.append(stage)
                out[stage] = self.catalog.read(self.spark, stage, schema)
            if stage == stop_after:
                break
        return out

    def lineage(self) -> DataFrame:
        return self.catalog.read(self.spark, "lineage")
