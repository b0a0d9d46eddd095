"""Benchmark harness (driver contract).

Runs the headline KG-construction pipeline plus representative relational
queries at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...}, "sf": 0.1, "cores": N,
     "docs": d, "triples": n, "triples_per_sec": r}

Methodology: the production input per BASELINE.json input_hint is a
*table of pages* (Iceberg; Parquet locally), so the corpus is materialized
to Parquet once (untimed setup, cached under /tmp across runs) and the
timed headline ``e2e_triples`` is the full S1->S2->S3 dataflow
pages.parquet -> clean text -> mentions -> triples — the BASELINE.json
"triples/sec" metric. ``$SPARK_GRAFT_BENCH_REPS`` (default 100, so sf0.1
yields a 500k-page corpus) replicates the planted corpus with distinct
doc_ids so the run is data-dominated rather than overhead-dominated.
``tools/bench_scaling.py`` reruns this file at two taskset-pinned
parallelism levels (default local[4] vs local[16] — saturating all 32
logical CPUs collapses per-core throughput ~2.4x, see CLAUDE.md) to
evidence the north_rule scaling-efficiency
criterion. The `_pipeline` stage cache is materialized UNTIMED (its cost
is reported separately as `pipeline_warm_sec`) so per-query timings
measure the downstream operators, not cache warm-up.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

N_CORPUS_BUCKETS = 256


def materialize_pages(spark, sf_dir: str, reps: int) -> str:
    """Write the replicated planted pages corpus to Parquet (idempotent);
    returns the path. Replication derives rep r of doc d as
    doc_id = d * reps + r, so every replica gets distinct planted content
    through the keyed hash chain (functions/hashing.py)."""
    from pyspark.sql import functions as F

    from nerpii_spark.sources import pages as P

    # key the cache on the FULL input path (hashed), not just the
    # basename — two corpora named sf0.1 in different roots must not
    # silently reuse each other's materialization
    import hashlib

    tag = os.path.basename(sf_dir.rstrip("/"))
    digest = hashlib.md5(
        os.path.abspath(sf_dir).encode()
    ).hexdigest()[:8]
    # v2: corpus content version (bump when pages.py changes planted
    # bytes — e.g. the anchor links added for web-graph extraction — so
    # a stale /tmp materialization is never reused)
    path = (
        f"/tmp/nerpii_bench_pages_v2_{tag}_{digest}_x{reps}_p{N_CORPUS_BUCKETS}"
    )
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rep = (
        docs.select("doc_id", "lang", "text")
        .withColumn("r", F.explode(F.sequence(F.lit(0), F.lit(reps - 1))))
        .select(
            (F.col("doc_id") * reps + F.col("r")).alias("doc_id"),
            "lang",
            "text",
        )
    )
    rep.createOrReplaceTempView("bench_documents")
    # fixed bucket layout regardless of which parallelism level writes the
    # cache — otherwise a low-core run would write few/large files and cap the
    # high-core run's scan parallelism (observed: 8-file corpus -> 0.3 scaling
    # efficiency at 32 cores). 256 buckets ≈ 8 tasks/core at 32 cores, which
    # also smooths the straggler tail of uneven per-task detection cost.
    pages = (
        spark.sql(P.pages_sql("spark", doc_rel="bench_documents", with_html=True))
        .drop("text")
        .withColumn("text", F.lit(None).cast("string"))
        .repartition(N_CORPUS_BUCKETS, "doc_id")
    )
    pages.write.mode("overwrite").parquet(path)
    return path


def e2e_triples(spark, pages_path: str):
    """The timed headline dataflow: pages.parquet -> triples, zero-shuffle
    (fused S1 clean + S2 detect + S3 pair in ONE Arrow-batched pass —
    mention pairing is sentence-local so no exchange is ever needed, and
    cleaning in-closure avoids a second Python round trip)."""
    from nerpii_spark.operators.extract import extract_triples_inline

    return extract_triples_inline(spark.read.parquet(pages_path))


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "100"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    import __spark_entry__ as E

    # SPARK_GRAFT_BENCH_ONLY=q_a,q_b restricts the timed suite (plus
    # e2e_triples/web_graph_corpus if named) — the targeted pinned
    # re-measure path (VERDICT r3 #2) without a 10-minute full suite
    only = {
        s for s in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",")
        if s
    }
    unknown = only - {"e2e_triples", "web_graph_corpus", *E.bench_queries()}
    if unknown:
        print(f"ERROR: unknown bench query names: {sorted(unknown)}",
              file=sys.stderr)
        return 2

    from nerpii_spark.session import get_spark

    spark = get_spark(app_name=f"nerpii_bench_c{cores}", cores=cores)

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    # --- untimed setup: materialize the pages corpus + JVM/UDF warmup ------
    pages_path = materialize_pages(spark, sf_dir, reps)
    e2e_triples(spark, pages_path).limit(1).count()  # warm codegen + Arrow path

    # --- untimed: materialize the __spark_entry__ stage cache so the
    #     per-query timings below measure the downstream operators, not the
    #     clean->detect->extract warm-up (reported separately) ---------------
    t0 = time.perf_counter()
    pipe = E._pipeline(spark, sf_dir)
    pipe["mentions"].count()
    pipe["triples"].count()
    extras["pipeline_warm_sec"] = round(time.perf_counter() - t0, 3)

    # --- timed suite: best-of-k with INTERLEAVED rounds ---------------------
    # The sandbox host shows up-to-3x noisy-neighbor variance, and the noisy
    # windows last minutes — long enough to cover k consecutive reps of one
    # query. So instead of repeating each query back-to-back, the WHOLE suite
    # runs `runs` times and each entry takes its minimum across rounds: a
    # noise window covering part of the bench then inflates some queries in
    # some rounds, but every query also gets reps outside the window. The
    # minimum wall time is the honest machine capacity.
    from nerpii_spark.operators.webgraph import web_graph

    # default best-of-2 since the suite grew past 120 timed queries: a
    # third interleaved round adds ~10 min wall for marginal extra noise
    # rejection (the two-level scaling evidence runs fresh-process
    # best-of-N per level separately); override via env for deep runs
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    suite: list[tuple[str, object]] = [
        ("e2e_triples", lambda: e2e_triples(spark, pages_path)),
        ("web_graph_corpus",
         lambda: web_graph(spark.read.parquet(pages_path))),
    ] + [
        (name, (lambda fn=fn: fn(spark, sf_dir)))
        for name, fn in E.bench_queries().items()
    ]
    if only:
        suite = [(n, m) for n, m in suite if n in only or n == "e2e_triples"]
    counts: dict[str, int] = {}
    for _ in range(max(1, runs)):
        for name, make in suite:
            t0 = time.perf_counter()
            counts[name] = make().count()
            dt = time.perf_counter() - t0
            timings[name] = round(min(timings.get(name, dt), dt), 3)
    extras["docs"] = spark.read.parquet(pages_path).count()
    extras["triples"] = counts["e2e_triples"]
    extras["triples_per_sec"] = round(
        counts["e2e_triples"] / timings["e2e_triples"], 1
    )
    if "web_graph_corpus" in counts:  # absent under SPARK_GRAFT_BENCH_ONLY
        extras["host_edges"] = counts["web_graph_corpus"]

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "e2e_kg_pipeline",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cores": cores,
        "reps": reps,
        **extras,
    }
    spark.stop()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
