"""Checkpoint/resume + lineage (north_rule; SURVEY.md §5.2 items 5-6):
kill after S2, rerun, assert identical final tables and that completed
stages were skipped, with lineage rows only for newly computed stages."""

import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from nerpii_spark.pipeline import (
    LINEAGE_SCHEMA,
    STAGES,
    Pipeline,
    PipelineConfig,
    bucket_of,
)
from nerpii_spark.sources.catalog import TableCatalog
from nerpii_spark.sources import pages as P

from test_corpus_and_detect import base_text


def _pages(spark, n=60):
    rows = [(i, base_text(i), "en" if i % 10 else "it") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    docs.createOrReplaceTempView("pipe_documents")
    return (
        spark.sql(P.pages_sql("spark", doc_rel="pipe_documents", with_html=True))
        .drop("text")
        .withColumn("text", F.lit(None).cast("string"))
    )


def _prose_pages(spark, n=20):
    """Pages of plain prose: no detector fires, so S2 onward write zero
    rows."""
    prose = b"<p>the quick brown fox jumps over the lazy dog</p>"
    rows = [(i, f"https://prose.example/en/page/{i}", prose) for i in range(n)]
    return spark.createDataFrame(
        rows, "doc_id bigint, url string, html binary"
    ).select(
        "doc_id",
        "url",
        F.timestamp_seconds("doc_id").alias("warc_ts"),
        "html",
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
    )


def _table_sorted(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.fixture
def tmp_root(tmp_path):
    root = str(tmp_path / "kg")
    yield root
    shutil.rmtree(root, ignore_errors=True)


def test_full_run_then_resume_identical(spark, tmp_root):
    pages = _pages(spark)

    # full reference run into rootA
    cfg_a = PipelineConfig(root=tmp_root + "_a", n_buckets=8, run_id="r1")
    out_a = Pipeline(spark, cfg_a).run(pages)
    golden_triples = _table_sorted(
        out_a["triples"], ["doc_id", "subj", "pred", "obj"]
    )
    assert cfg_a.skipped == []
    assert len(golden_triples) > 0

    # interrupted run into rootB: stop after S2 (mentions)
    cfg_b1 = PipelineConfig(root=tmp_root + "_b", n_buckets=8, run_id="r2")
    Pipeline(spark, cfg_b1).run(pages, stop_after="mentions")
    assert cfg_b1.executed == ["clean_pages", "mentions"]

    # resume: clean+mentions must be skipped, downstream computed
    cfg_b2 = PipelineConfig(root=tmp_root + "_b", n_buckets=8, run_id="r3")
    pipe_b2 = Pipeline(spark, cfg_b2)
    out_b = pipe_b2.run(pages)
    assert cfg_b2.skipped == ["clean_pages", "mentions"]
    assert cfg_b2.executed == ["triples", "entities", "triples_masked"]

    # resumed tables identical to the uninterrupted run
    assert (
        _table_sorted(out_b["triples"], ["doc_id", "subj", "pred", "obj"])
        == golden_triples
    )
    assert _table_sorted(
        out_b["entities"], ["entity_type", "canonical", "n_surfaces", "n_mentions"]
    ) == _table_sorted(
        out_a["entities"], ["entity_type", "canonical", "n_surfaces", "n_mentions"]
    )

    # lineage: run r3 added rows only for the stages it actually computed
    lin = pipe_b2.lineage()
    r3_stages = {
        r["stage"] for r in lin.where(F.col("run_id") == "r3").collect()
    }
    assert r3_stages == {"triples", "entities", "triples_masked"}
    r2_stages = {
        r["stage"] for r in lin.where(F.col("run_id") == "r2").collect()
    }
    assert r2_stages == {"clean_pages", "mentions"}
    # r3 skipped mentions, so triples' input_rows counts its checkpoint
    r3_triples = lin.where(
        (F.col("run_id") == "r3") & (F.col("stage") == "triples")
    ).collect()
    assert {r["input_rows"] for r in r3_triples} == {out_b["mentions"].count()}


def test_lineage_partition_counts(spark, tmp_root):
    pages = _pages(spark, 40)
    cfg = PipelineConfig(root=tmp_root, n_buckets=8, run_id="rl")
    pipe = Pipeline(spark, cfg)
    out = pipe.run(pages, stop_after="triples")
    assert pipe.lineage().schema == StructType.fromDDL(LINEAGE_SCHEMA)
    lin = pipe.lineage().where(F.col("stage") == "triples")
    rows = lin.collect()
    # per-partition rows_out sums to the table row count
    assert sum(r["rows_out"] for r in rows) == out["triples"].count()
    assert all(r["wall_ms"] >= 0 for r in rows)
    assert all(0 <= r["partition_id"] < 8 for r in rows)
    # S3 reads the mentions checkpoint, so its input is the mentions table
    assert {r["input_rows"] for r in rows} == {out["mentions"].count()}
    # partitioned layout on disk: lang=... / bucket=... directories
    import os

    langs = os.listdir(f"{tmp_root}/triples")
    assert any(d.startswith("lang=") for d in langs)


def test_lineage_backfill_after_crash(spark, tmp_root):
    """A kill between a checkpoint's _SUCCESS and its lineage append must
    not lose the stage's lineage forever: the resume backfills it
    (input_rows = -1 marks the backfill) — while normal resumes still add
    no lineage for skipped stages."""
    import shutil as sh

    pages = _pages(spark, n=30)
    p1 = Pipeline(spark, PipelineConfig(root=tmp_root, run_id="c1"))
    p1.run(pages, stop_after="mentions")
    # simulate the crash window: checkpoints exist, lineage rows lost
    sh.rmtree(f"{tmp_root}/lineage")
    p2 = Pipeline(spark, PipelineConfig(root=tmp_root, run_id="c2"))
    p2.run(pages, stop_after="mentions")
    assert p2.cfg.skipped == ["clean_pages", "mentions"]
    lin = p2.lineage()
    stages = {r["stage"] for r in lin.select("stage").distinct().collect()}
    assert stages == {"clean_pages", "mentions"}
    assert {r["input_rows"] for r in lin.select("input_rows").collect()} == {-1}
    # a THIRD run over intact lineage adds nothing for skipped stages
    p3 = Pipeline(spark, PipelineConfig(root=tmp_root, run_id="c3"))
    p3.run(pages, stop_after="mentions")
    assert p3.lineage().where(F.col("run_id") == "c3").count() == 0


def test_unknown_stop_after_raises(spark, tmp_root):
    cfg = PipelineConfig(root=tmp_root, n_buckets=8, run_id="typo")
    with pytest.raises(ValueError, match="stop_after"):
        Pipeline(spark, cfg).run(_pages(spark, 5), stop_after="mention")
    assert cfg.executed == [] and cfg.skipped == []


def test_stage_runs_one_job_beyond_its_write(spark, tmp_root):
    """Lineage is observed during the checkpoint write, and the checkpoint
    is read back with the written frame's schema. So against a bare write
    of the same frame plus a schema-inferring read, S1 runs as many Spark
    jobs: its lineage append takes the place of the inference. It runs no
    count and no re-read of its checkpoint."""
    pages = _pages(spark, 20)
    sc = spark.sparkContext

    def jobs(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            return len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def bare():
        catalog = TableCatalog(root=tmp_root + "_bare")
        clean = STAGES[0][1](pages)
        frame = clean.withColumn("bucket", bucket_of(clean, 8))
        catalog.write(
            frame.repartition("lang", "bucket"),
            "clean_pages",
            partition_by=("lang", "bucket"),
        )
        catalog.read(spark, "clean_pages")

    cfg = PipelineConfig(root=tmp_root, n_buckets=8, run_id="jobs")
    piped = jobs(
        "pipeline_s1",
        lambda: Pipeline(spark, cfg).run(pages, stop_after="clean_pages"),
    )
    assert cfg.executed == ["clean_pages"]
    assert piped == jobs("bare_s1", bare)


@pytest.mark.parametrize(
    "make_pages",
    [_prose_pages, lambda spark: _pages(spark, 10).limit(0)],
    ids=["entity_free", "limit_0"],
)
def test_zero_row_stage_completes_and_resumes(spark, tmp_root, make_pages):
    """A stage that writes zero rows leaves a checkpoint that reads back
    with its schema: a partitioned write of no rows writes no data file,
    so there is nothing to infer the schema from."""
    names = [stage for stage, _, _ in STAGES]
    pages = make_pages(spark)
    cfg = PipelineConfig(root=tmp_root, n_buckets=8, run_id="z1")
    out = Pipeline(spark, cfg).run(pages)
    assert cfg.executed == names
    assert out["mentions"].count() == 0
    assert out["triples_masked"].count() == 0
    # each table has its operator's columns and types, with the partition
    # columns last, as a non-empty partitioned table reads back
    for stage, operator, upstream in STAGES:
        if stage == "entities":  # unpartitioned; link checkpoints eagerly
            continue
        made = operator(out[upstream] if upstream else pages)
        want = [(f.name, f.dataType.simpleString()) for f in made.schema]
        want = [c for c in want if c[0] not in ("lang", "bucket")]
        want += [("lang", "string"), ("bucket", "int")]
        got = [(f.name, f.dataType.simpleString()) for f in out[stage].schema]
        assert got == want, stage
    # a rerun executes nothing and reads every table back the same way
    cfg2 = PipelineConfig(root=tmp_root, n_buckets=8, run_id="z2")
    pipe2 = Pipeline(spark, cfg2)
    out2 = pipe2.run(pages)
    assert cfg2.executed == [] and cfg2.skipped == names
    for stage in names:
        assert out2[stage].schema == out[stage].schema, stage
    lin = pipe2.lineage()
    assert {r["stage"] for r in lin.collect()} == set(names)
    assert lin.where(F.col("run_id") == "z2").count() == 0
