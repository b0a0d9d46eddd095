"""Per-layer probes for the traced run.

Every layer is measured from outside, by timing calls into public
functions of the program:

* ``replay`` runs the per-document functions (``clean_html_bytes``,
  ``scan_text``, ``match_rules``) single-core in this process over a
  fixed page sample — the devUDF idea: the Python a Spark task runs,
  without Spark.
* ``scan_and_transfer`` times the hot path's input columns into a
  ``noop`` sink, then through a ``mapInPandas`` that returns no rows.
* ``step_pipeline`` times ``Pipeline.run(stop_after=...)`` one stage at
  a time; ``operator_compute`` times each operator on its checkpointed
  input into a ``noop`` sink.

``names()`` lists every per-layer metric; a workload that does not
exercise a layer reports 0 for it.
"""

from __future__ import annotations

import os
import statistics
import time

from nerpii_spark.operators.clean import clean_html_bytes
from nerpii_spark.operators.detect import (
    PAGE_DETECTORS,
    SENT_SPLIT,
    scan_text,
)
from nerpii_spark.operators.extract import match_rules

STAGES = ("clean_pages", "mentions", "triples", "entities", "triples_masked")
OPERATORS = ("clean", "detect", "extract", "link", "mask")
DETECTORS = tuple(d[3] for d in PAGE_DETECTORS)
SPARK_FIELDS = (
    "executor_cpu_s", "executor_run_s", "gc_s", "python_worker_s",
    "bytes_to_python", "bytes_from_python", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "jobs", "tasks", "task_max_s",
    "core_idle_frac", "parallel_eff",
)
REPLAY_REPS = 3


def names() -> list[str]:
    out = [
        "tracing.overhead_s", "tracing.wall_s", "layers.accounted_frac",
        "sources.scan_s", "python_worker.transfer_s",
        "clean.us_per_doc", "clean.bytes_per_doc",
        "detect.us_per_doc", "detect.split_us_per_doc",
        "detect.segments_per_doc", "detect.mentions_per_doc",
    ]
    for d in DETECTORS:
        out += [f"detect.{d}.us_per_doc", f"detect.{d}.mentions"]
    out += ["extract.us_per_doc", "extract.triples_per_doc"]
    out += [f"spark.{f}" for f in SPARK_FIELDS]
    out += [f"pipeline.{s}_s" for s in STAGES]
    out += ["pipeline.bookkeeping_s", "pipeline.resume_s"]
    out += [f"pipeline.{s}.rows_out" for s in STAGES]
    out += [f"{o}.compute_s" for o in OPERATORS]
    out += ["catalog.write_s", "catalog.bytes_written",
            "catalog.files_written", "catalog.stored_bytes_per_page_byte"]
    return out


def _us_per_doc(fn, items) -> float:
    """Median over ``REPLAY_REPS`` of the per-item cost of ``fn``."""
    walls = []
    for _ in range(REPLAY_REPS):
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls) / len(items) * 1e6


def replay(htmls: list[bytes]) -> dict[str, float]:
    """Single-core cost and work counts of the per-document functions."""
    n = len(htmls)
    texts = [clean_html_bytes(h) or "" for h in htmls]
    mentions = [scan_text(t) for t in texts]
    m = {
        "clean.us_per_doc": _us_per_doc(clean_html_bytes, htmls),
        "clean.bytes_per_doc": sum(map(len, htmls)) / n,
        "detect.us_per_doc": _us_per_doc(scan_text, texts),
        "detect.split_us_per_doc": _us_per_doc(
            lambda t: scan_text(t, []), texts),
        "detect.segments_per_doc":
            sum(len(SENT_SPLIT.split(t)) for t in texts) / n,
        "detect.mentions_per_doc": sum(map(len, mentions)) / n,
        "extract.us_per_doc": _us_per_doc(match_rules, mentions),
        "extract.triples_per_doc":
            sum(len(match_rules(ms)) for ms in mentions) / n,
    }
    split = m["detect.split_us_per_doc"]
    for det in PAGE_DETECTORS:
        one = [det]
        m[f"detect.{det[3]}.us_per_doc"] = (
            _us_per_doc(lambda t: scan_text(t, one), texts) - split
        )
        m[f"detect.{det[3]}.mentions"] = float(
            sum(len(scan_text(t, one)) for t in texts)
        )
    return m


def python_us_per_doc(m: dict[str, float]) -> float:
    return m["clean.us_per_doc"] + m["detect.us_per_doc"] + m["extract.us_per_doc"]


def scan_and_transfer(b, pages_df, in_cols) -> dict[str, float]:
    """Median wall of the hot path's input columns into a ``noop`` sink
    (scan) and through a ``mapInPandas`` returning no rows (scan + Arrow
    transfer to the Python workers)."""

    def empty(batches):
        for pdf in batches:
            yield pdf.iloc[:0]

    cols = pages_df.select(*in_cols)
    schema = cols.schema
    scans, transfers = [], []
    for i in range(3):
        with b.timed_tag(f"scan:{i}") as t:
            cols.write.format("noop").mode("overwrite").save()
        scans.append(t.s)
        with b.timed_tag(f"transfer:{i}") as t:
            cols.mapInPandas(empty, schema=schema).write.format(
                "noop").mode("overwrite").save()
        transfers.append(t.s)
    return {
        "sources.scan_s": statistics.median(scans),
        "python_worker.transfer_s": statistics.median(transfers),
    }


def tree_bytes(root: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``root`` (no markers)."""
    size = files = 0
    for dirpath, _, fnames in os.walk(root):
        for f in fnames:
            if f.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(dirpath, f))
            files += 1
    return size, files


def step_pipeline(b, pages, root, n_buckets) -> dict[str, float]:
    """``pipeline.<stage>_s`` by stepping ``run(stop_after=...)`` over a
    fresh catalog root, plus each stage's ``rows_out`` from lineage."""
    from pyspark.sql import functions as F

    from nerpii_spark.pipeline import Pipeline, PipelineConfig

    m = {}
    for stage in STAGES:
        cfg = PipelineConfig(root=root, n_buckets=n_buckets,
                             run_id=f"step-{stage}")
        with b.timed_tag(f"stage:{stage}") as t:
            Pipeline(b.spark, cfg).run(pages, stop_after=stage)
        m[f"pipeline.{stage}_s"] = t.s
    lineage = Pipeline(b.spark, PipelineConfig(root=root)).lineage()
    for row in lineage.groupBy("stage").agg(
            F.sum("rows_out").alias("n")).collect():
        m[f"pipeline.{row['stage']}.rows_out"] = float(row["n"])
    return m


def operator_compute(b, pages, root) -> dict[str, float]:
    """Each operator on its checkpointed input into a ``noop`` sink."""
    from nerpii_spark.operators.clean import clean_pages
    from nerpii_spark.operators.detect import detect_mentions
    from nerpii_spark.operators.extract import extract_triples_inline
    from nerpii_spark.operators.link import link_entities
    from nerpii_spark.operators.mask import mask_triples
    from nerpii_spark.sources.catalog import TableCatalog

    cat = TableCatalog(root=root)

    def read(name):
        return cat.read(b.spark, name)

    plans = {
        "clean": lambda: clean_pages(pages).drop("html"),
        "detect": lambda: detect_mentions(read("clean_pages")),
        "extract": lambda: extract_triples_inline(read("clean_pages")),
        "link": lambda: link_entities(read("mentions")),
        "mask": lambda: mask_triples(read("triples")),
    }
    m = {}
    for op, plan in plans.items():
        with b.timed_tag(f"compute:{op}") as t:
            plan().write.format("noop").mode("overwrite").save()
        m[f"{op}.compute_s"] = t.s
    return m
