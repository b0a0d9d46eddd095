"""Checkpoint/resume + lineage (north_rule; SURVEY.md §5.2 items 5-6):
kill after S2, rerun, assert identical final tables and that completed
stages were skipped, with lineage rows only for newly computed stages."""

import shutil

import pytest
from pyspark.sql import functions as F

from nerpii_spark.pipeline import Pipeline, PipelineConfig
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


def test_lineage_partition_counts(spark, tmp_root):
    pages = _pages(spark, 40)
    cfg = PipelineConfig(root=tmp_root, n_buckets=8, run_id="rl")
    pipe = Pipeline(spark, cfg)
    out = pipe.run(pages, stop_after="triples")
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
