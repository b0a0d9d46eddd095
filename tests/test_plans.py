"""Physical-plan regression tests: lock in the optimizer properties
PLANS.md documents, so a refactor that silently loses predicate
pushdown, column pruning, a broadcast, or map-side partial aggregation
fails CI instead of only showing up at 100x the data.
"""

from pyspark.sql import functions as F

import __spark_entry__ as E

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_join_orders_customer_broadcast_and_pruning(spark):
    plan = _plan(E.q_join_orders_customer(spark, SF))
    assert "BroadcastHashJoin" in plan
    # column pruning reaches the scans: only the needed columns are read
    assert "o_custkey" in plan and "o_totalprice" in plan
    assert "o_comment" not in plan and "o_orderdate" not in plan
    assert "c_mktsegment" in plan and "c_name" not in plan


def test_filter_pushdown_reaches_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .where(F.col("o_custkey") == 7)
        .select("o_orderkey")
    )
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "EqualTo(o_custkey,7)" in plan


def test_anti_join_is_broadcast(spark):
    plan = _plan(E.q_anti_join(spark, SF))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_no_cartesian_anywhere_in_similarity_paths(spark):
    for q in ("q_embed_dup_pairs", "q_embed_topk_lsh", "q_embed_topk_ivf"):
        plan = _plan(E.queries()[q](spark, SF))
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoop" not in plan, q


def test_minhash_count_filter_partial_agg(spark):
    """The hot-bucket skew guard counts map-side (partial_count in the
    plan) — the property that keeps a degenerate key off a single
    reducer."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    from nerpii_spark.operators.dedup import minhash_dup_pairs

    plan = _plan(minhash_dup_pairs(docs))
    assert "partial_count" in plan
    assert "collect_list" not in plan


def test_salted_pred_agg_two_level(spark):
    """Zipf-hot predicate histogram: two HashAggregates (salted partial,
    then final over the tiny salted result)."""
    t = spark.createDataFrame(
        [(i, "works_at" if i % 8 < 5 else "lives_in", f"s{i}", "o")
         for i in range(64)],
        "doc_id bigint, pred string, subj string, obj string",
    )
    from nerpii_spark.operators.extract import triples_by_pred_salted

    plan = _plan(triples_by_pred_salted(t))
    assert plan.count("HashAggregate") >= 4  # 2 aggs x (partial + final)


def test_topk_two_phase_equals_single_window(spark):
    """The salted pre-window must be invisible in the result: identical
    to the naive pred-only window on a corpus with ties and a hot
    predicate."""
    from pyspark.sql import Window as W

    from nerpii_spark.operators.extract import topk_objs_per_pred

    rows = (
        [("hot", f"o{i % 50}") for i in range(500)]     # hot pred, 50 objs
        + [("cold", "x"), ("cold", "x"), ("cold", "y")]  # tie on n for top-3
        + [("cold", "z")]
    )
    t = spark.createDataFrame(rows, "pred string, obj string")
    got = sorted(
        map(tuple, topk_objs_per_pred(t, k=3, n_salt=4).collect())
    )
    counts = t.groupBy("pred", "obj").agg(F.count("*").alias("n"))
    w = W.partitionBy("pred").orderBy(F.desc("n"), F.asc("obj"))
    naive = sorted(
        map(
            tuple,
            counts.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 3)
            .collect(),
        )
    )
    assert got == naive
    # and the plan actually shards: two window nodes, the first keyed by
    # the salt expression
    plan = _plan(topk_objs_per_pred(t, k=3, n_salt=4))
    assert plan.count("RunningWindowFunction") >= 2 or plan.count("Window") >= 2


def test_entity_degree_hand_case(spark):
    from nerpii_spark.operators.extract import entity_degree

    t = spark.createDataFrame(
        [("a", "p", "b"), ("a", "p", "b"), ("a", "q", "c"), ("b", "p", "c")],
        "subj string, pred string, obj string",
    )
    got = {r["node"]: (r["n_edges"], r["n_neighbors"])
           for r in entity_degree(t).collect()}
    assert got == {"a": (3, 2), "b": (3, 2), "c": (2, 2)}


def test_hits_hand_cases(spark):
    """HITS hand cases: a pure hub/authority bipartite star separates
    the two roles exactly; a 2-cycle is symmetric and stationary."""
    from nerpii_spark.operators.extract import hits

    # h -> {a1, a2}: h is the only hub, a1/a2 split authority equally
    star = spark.createDataFrame(
        [("h", "p", "a1"), ("h", "p", "a2")],
        "subj string, pred string, obj string",
    )
    got = {
        r["node"]: (r["auth_e6"], r["hub_e6"])
        for r in hits(star, n_iter=2).collect()
    }
    assert got["h"] == (0, 1_000_000)
    assert got["a1"] == (500_000, 0) and got["a2"] == (500_000, 0)
    # 2-cycle: every node is half hub, half authority, every iteration
    cyc = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "a")],
        "subj string, pred string, obj string",
    )
    got = {
        r["node"]: (r["auth_e6"], r["hub_e6"])
        for r in hits(cyc, n_iter=3).collect()
    }
    assert got == {"a": (500_000, 500_000), "b": (500_000, 500_000)}
    # two hubs of unequal fan-out: the wider hub wins hub mass and its
    # exclusive authority inherits the ordering (b1 shared, b2 exclusive)
    g = spark.createDataFrame(
        [("h1", "p", "b1"), ("h2", "p", "b1"), ("h2", "p", "b2")],
        "subj string, pred string, obj string",
    )
    got = {
        r["node"]: (r["auth_e6"], r["hub_e6"])
        for r in hits(g, n_iter=2).collect()
    }
    assert got["h2"][1] > got["h1"][1] > 0
    assert got["b1"][0] > got["b2"][0] > 0


def test_mask_is_single_projection_no_shuffle(spark):
    """Masking is one Catalyst projection over the input — no exchange,
    no Python in the plan."""
    df = spark.createDataFrame(
        [(1, "123-45-6789", "a@b.com")],
        "rid bigint, ssn string, email string",
    )
    prof = spark.createDataFrame(
        [("ssn", "US_SSN", 1.0), ("email", "EMAIL_ADDRESS", 1.0)],
        "col string, entity string, confidence double",
    )
    from nerpii_spark.operators.mask import mask_table

    plan = _plan(mask_table(df, prof, "rid"))
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_degree_histogram_hand_case(spark):
    from nerpii_spark.operators.extract import degree_histogram

    # star: hub has 3 distinct neighbors (bucket ilog2(3)=1), leaves 1
    # neighbor each (bucket 0)
    star = spark.createDataFrame(
        [(f"l{i}", "p", "hub") for i in range(3)],
        "subj string, pred string, obj string",
    )
    got = {r["bucket"]: r for r in degree_histogram(star).collect()}
    assert got[0]["min_degree"] == 1 and got[0]["n_nodes"] == 3
    assert got[0]["sum_degree"] == 3
    assert got[1]["min_degree"] == 2 and got[1]["n_nodes"] == 1
    assert got[1]["sum_degree"] == 3


def test_kg_negatives_pool_is_broadcast(spark):
    plan = _plan(E.q_kg_negatives(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pivot_single_aggregation_pass(spark):
    """The conditional-agg pivot is ONE shuffle; DataFrame.pivot() (even
    with explicit values) plans two (pre-agg + pivotfirst re-agg)."""
    plan = _plan(E.q_pivot_events(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan  # map-side combine
    assert "pivotfirst" not in plan


def test_web_graph_single_exchange_no_python(spark, tmp_path):
    """Over a parquet pages table (the production input) the whole
    extraction is scan -> codegen regexp -> partial count -> ONE
    exchange. (Via _pipeline the plan shows extra exchanges that belong
    to the in-SQL corpus construction, not the operator.)"""
    from nerpii_spark.operators.webgraph import web_graph

    pages = E._pipeline(spark, SF)["pages"]
    path = str(tmp_path / "pages_pq")
    pages.write.mode("overwrite").parquet(path)
    plan = _plan(web_graph(spark.read.parquet(path)))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cocitation_cap_and_dedup(spark):
    """Per-page distinct collapses repeated links; a degenerate page
    over the fan-out cap contributes NO pairs (drop-not-degrade is
    right here: a directory page is boilerplate, not relatedness)."""
    from nerpii_spark.operators.webgraph import cocitation

    def pg(url, hosts):
        html = "".join(f'<a href="https://{h}/">x</a>' for h in hosts)
        return (url, html.encode("utf-8"))

    pages = spark.createDataFrame(
        [
            pg("https://s1.x/p1", ["a.x", "b.x", "a.x"]),  # dup link
            pg("https://s2.x/p2", ["a.x", "b.x"]),
            pg("https://s3.x/p3", ["c.x", "a.x"]),
            pg("https://s4.x/dir", [f"d{i}.x" for i in range(20)]),  # > cap
        ],
        "url string, html binary",
    )
    got = {
        (r["a"], r["b"]): r["n_pages"]
        for r in cocitation(pages, max_per_page=16).collect()
    }
    assert got == {("a.x", "b.x"): 2, ("a.x", "c.x"): 1}


def test_skew_report_hand_case_and_plan(spark):
    """Hand-checkable buckets and hot keys; nulls fold to '' in the
    composite key; the whole report is two map-side-combined aggs (no
    window, no Python)."""
    from nerpii_spark.operators.diagnose import skew_report

    df = spark.createDataFrame(
        [("hot", i) for i in range(9)]
        + [("warm", 0), ("warm", 1), ("cool", 0), (None, 0)],
        "k string, v bigint",
    )
    got = {r["bucket"]: r for r in skew_report(df, ["k"]).collect()}
    assert got[3]["hot_key"] == "hot" and got[3]["hot_rows"] == 9
    assert got[1]["n_keys"] == 1 and got[1]["hot_key"] == "warm"
    assert got[0]["n_keys"] == 2  # 'cool' and the null->'' key
    assert sum(r["n_rows"] for r in got.values()) == 13
    plan = _plan(skew_report(df, ["k"]))
    assert "partial_count" in plan and "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_walk_pairs_window_semantics(spark):
    """The pairing stage certified independently of the walks: expected
    pairs recomputed in Python from the walk corpus (step-0 root
    included, ordered pairs both directions, |step delta| <= window)
    must equal walk_pairs' distributed self-join exactly."""
    from collections import Counter

    from nerpii_spark.operators.extract import random_walks, walk_pairs

    chain = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c"), ("c", "p", "d")],
        "subj string, pred string, obj string",
    )
    seqs: dict[str, dict[int, str]] = {}
    for r in random_walks(chain).collect():
        seqs.setdefault(r["root"], {0: r["root"]})[r["step"]] = r["cur"]
    want: Counter = Counter()
    for steps in seqs.values():
        pos = sorted(steps.items())
        for i, (si, ci) in enumerate(pos):
            for j, (sj, cj) in enumerate(pos):
                if i != j and abs(si - sj) <= 2:
                    want[(ci, cj)] += 1
    got = {
        (r["center"], r["context"]): r["n_pairs"]
        for r in walk_pairs(chain, window=2).collect()
    }
    assert got == dict(want) and len(got) > 0
    # ordered-pair symmetry holds by construction
    assert all(got[(y, x)] == n for (x, y), n in got.items())


def test_tpch_star_joins_broadcast_dims(spark):
    """Q3/Q5 shapes: every dimension side broadcasts (no shuffle join on
    the corpus-sized lineitem side) and the final agg is the only hash
    exchange; everything stays JVM-side."""
    p3 = _plan(E.q_tpch_shipping(spark, SF))
    assert "BroadcastHashJoin" in p3
    assert "SortMergeJoin" not in p3
    assert "BatchEvalPython" not in p3 and "ArrowEvalPython" not in p3
    p5 = _plan(E.q_tpch_volume(spark, SF))
    assert p5.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in p5
    assert p5.count("Exchange hashpartitioning") == 1  # nation agg
    assert "partial_sum" in p5


def test_resolve_redirects_long_chain_and_cycle(spark):
    """Pointer doubling resolves a length-9 chain (4 rounds, not 9) with
    exact hop counts, and a 3-cycle terminates bounded instead of
    spinning (every cycle member maps to SOME cycle node)."""
    from nerpii_spark.operators.webgraph import resolve_redirects

    chain = spark.createDataFrame(
        [(f"u{i}", f"u{i + 1}") for i in range(9)],
        "src_url string, dst_url string",
    )
    got = {
        r["src_url"]: (r["final_url"], r["hops"])
        for r in resolve_redirects(chain).collect()
    }
    assert got == {f"u{i}": ("u9", 9 - i) for i in range(9)}

    cyc = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("x", "a")],
        "src_url string, dst_url string",
    )
    out = {
        r["src_url"]: r["final_url"]
        for r in resolve_redirects(cyc, max_rounds=4).collect()
    }
    assert set(out) == {"a", "b", "c", "x"}
    assert all(v in {"a", "b", "c"} for v in out.values())

    # an ambiguous source (two recorded targets) collapses to ONE
    # deterministic mapping instead of fanning out 2^r rows
    amb = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("b", "d")],
        "src_url string, dst_url string",
    )
    rows = resolve_redirects(amb).collect()
    assert len(rows) == 2  # one row per distinct source
    amb_out = {r["src_url"]: r["final_url"] for r in rows}
    assert amb_out == {"a": "c", "b": "c"}  # min(dst) = 'c' wins


def test_quality_classifier_python_mirror_and_plan(spark):
    """Margins equal the Python h1/strhash mirror token-by-token; the
    plan broadcasts the weight table and keeps Python out."""
    from nerpii_spark.functions.hashing import h1, strhash
    from nerpii_spark.operators.textstats import (
        CLS_BUCKETS,
        CLS_SALT,
        quality_classifier,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "gamma"), (3, "")],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["margin_e6"], r["label"])
        for r in quality_classifier(docs).collect()
    }

    def w(tok):
        return h1(strhash(tok) % CLS_BUCKETS, CLS_SALT) % 2000001 - 1000000

    for doc_id, text in [(1, "alpha beta alpha"), (2, "gamma"), (3, "")]:
        m = sum(w(t) for t in text.split(" "))
        assert got[doc_id] == (m, int(m > 0))
    plan = _plan(quality_classifier(docs))
    assert "BroadcastExchange" in plan
    assert plan.count("Exchange hashpartitioning") == 1  # the margin agg
    assert "partial_sum" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_entity_aliases_cap_truncates_but_counts_all(spark):
    """With a tiny cap, the aliases string is truncated to the cap's
    sorted prefix while n_aliases keeps the true cluster count."""
    from nerpii_spark.operators.link import entity_aliases

    m = E._pipeline(spark, SF)["mentions"]
    full = {
        (r["entity_type"], r["canonical"]): (r["n_aliases"], r["aliases"])
        for r in entity_aliases(m).collect()
    }
    capped = {
        (r["entity_type"], r["canonical"]): (r["n_aliases"], r["aliases"])
        for r in entity_aliases(m, max_aliases=2).collect()
    }
    assert full.keys() == capped.keys()
    multi = [k for k, (n, _) in full.items() if n >= 3]
    assert multi, "planted corpus should have multi-alias clusters"
    for k in multi:
        n_full, al_full = full[k]
        n_cap, al_cap = capped[k]
        assert n_cap == n_full  # true count survives truncation
        assert al_cap == "|".join(al_full.split("|")[:2])


def test_crawl_frontier_two_phase_equals_single_window(spark):
    """On a skewed corpus (one giant host), the salted two-phase top-k
    equals the plain single-window form row-for-row."""
    from pyspark.sql import Window as W

    from nerpii_spark.operators.webgraph import crawl_frontier

    rows = [
        (f"https://big.x/p{i}", 1_000_000 + (i * 7919) % 997)
        for i in range(400)
    ] + [(f"https://s{j}.x/p", 1_000_123 + j) for j in range(5)]
    pages = spark.createDataFrame(
        rows, "url string, ts bigint"
    ).select("url", F.expr("timestamp_seconds(ts)").alias("warc_ts"))
    got = {
        (r["host"], r["url"], r["ts_s"], r["rk"])
        for r in crawl_frontier(pages, k=3, n_salt=8).collect()
    }
    plain = (
        pages.select(
            F.expr("regexp_extract(url, 'https?://([^/]+)', 1)").alias(
                "host"
            ),
            "url",
            F.expr("unix_micros(warc_ts) div 1000000").alias("ts_s"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("host").orderBy(F.asc("ts_s"), F.asc("url"))
            ).cast("bigint"),
        )
        .where(F.col("rk") <= 3)
    )
    want = {
        (r["host"], r["url"], r["ts_s"], r["rk"]) for r in plain.collect()
    }
    assert got == want
    assert sum(1 for h, *_ in got if h == "big.x") == 3


def test_hll_sketch_partial_max(spark):
    """The register agg combines map-side (bounded partial state)."""
    plan = _plan(E.q_distinct_hll(spark, SF))
    assert "partial_max" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_zorder_stats_no_shuffle_before_agg(spark):
    plan = _plan(E.q_zorder_stats(spark, SF))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_min" in plan and "partial_max" in plan


def test_random_walk_argmin_partial_agg(spark):
    """The per-step argmin must map-side combine (min(struct)), never a
    window over a hub's neighbor list in the Spark path. The operator
    localCheckpoints each step (so the end-to-end plan shows only RDD
    scans); inspect one step's plan as the operator builds it."""
    from nerpii_spark.operators.extract import (
        _walk_h,
        neighbor_sample,
    )

    t = E._pipeline(spark, SF)["triples"]
    e = neighbor_sample(t, k=64).select("node", "nbr")
    pos = e.select(F.col("node").alias("root")).withColumn(
        "cur", F.col("root")
    )
    step = (
        pos.join(e, pos.cur == e.node)
        .select(
            "root",
            F.struct(
                F.expr(_walk_h("cur", "nbr", 1)).alias("h"),
                F.col("nbr").alias("n"),
            ).alias("cand"),
        )
        .groupBy("root")
        .agg(F.min("cand").alias("best"))
    )
    plan = _plan(step)
    # the argmin is an aggregate with a map-side partial (the adjacency
    # derivation upstream legitimately contains neighbor_sample's
    # shard-salted windows)
    assert "partial_min" in plan


def test_url_filter_single_broadcast_reused(spark):
    """The per-depth blocklist probes share ONE broadcast: after
    execution, AQE's exchange reuse leaves exactly one materialized
    BroadcastExchange and (depth-1) ReusedExchange nodes in the final
    plan — at UT1 scale (~4M domains) that is one ~100 MB hashed
    relation instead of `max_depth` copies."""
    from nerpii_spark.operators.textstats import URL_HOST_DEPTH

    out = E.q_url_filter(spark, SF)
    out.collect()  # finalize THIS DataFrame's adaptive plan (count()
    # would execute a different QueryExecution and leave ours initial)
    plan = _plan(out)
    assert "isFinalPlan=true" in plan
    final = plan.split("+- == Initial Plan ==")[0]
    # a ReusedExchange line embeds the reused exchange's description, so
    # count materialized exchanges per line, not by substring
    lines = final.splitlines()
    reused = [l for l in lines if "ReusedExchange" in l]
    built = [
        l for l in lines
        if "BroadcastExchange" in l and "ReusedExchange" not in l
    ]
    assert len(reused) == URL_HOST_DEPTH - 1, final
    assert len(built) == 1, final


def test_k_anonymity_single_agg_pass(spark):
    """The risk report is ONE aggregation dataflow over the table: every
    HashAggregate pair is map-side partial + final (count-distinct adds
    the standard second phase), no join, no window, and column pruning
    drops the unused customer columns from the scan."""
    plan = _plan(E.q_k_anonymity(spark, SF))
    assert "Join" not in plan and "Window" not in plan
    assert "HashAggregate" in plan
    assert "c_name" not in plan  # pruned: only quasi + sensitive read
    assert plan.count("Exchange") <= 2  # expand-phase + final, nothing else


def test_bloom_decontaminate_bitmap_is_broadcast(spark):
    """The train side probes the Bloom bitmap through a BROADCAST hash
    join (the bitmap is <= BLOOM_BITS/32 rows by construction) — the
    corpus is never shuffled against the eval side."""
    df = E.q_decontaminate_bloom(spark, SF)
    df.collect()
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    # no sort-merge join anywhere: every join in the dataflow is the
    # bitmap probe (broadcast) — corpus rows only cross hash-agg
    # exchanges keyed by (sid, skey)/(sid)
    assert "SortMergeJoin" not in plan


def test_host_mirrors_no_cartesian_no_python(spark):
    """Mirror detection is equi-joins end to end: candidates from the
    df-capped posting self-join, exact counts from posting joins — no
    cartesian, no nested-loop, no Python in the plan."""
    from nerpii_spark.operators.webgraph import host_mirror_topk

    plan = _plan(host_mirror_topk(E._pipeline(spark, SF)["pages"]))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_recrawl_cadence_agg_reuses_window_partitioning(spark, tmp_path):
    """Over a parquet crawl log (the production input) the cadence plan
    pays exactly TWO exchanges: one hashpartitioning(curl) shared by the
    lag window AND the per-URL agg (same key -> reused), and one for the
    per-host rollup whose partials map-side combine. All codegen — no
    Python."""
    from nerpii_spark.operators.webgraph import recrawl_cadence
    from nerpii_spark.sources import pages as P

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs.createOrReplaceTempView("cadence_plan_docs")
    crawl = spark.sql(P.crawl_sql("spark", doc_rel="cadence_plan_docs"))
    path = str(tmp_path / "crawl_pq")
    crawl.write.mode("overwrite").parquet(path)
    plan = _plan(recrawl_cadence(spark.read.parquet(path)))
    assert plan.count("Exchange hashpartitioning") == 2
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dsir_weight_table_broadcast_no_python(spark):
    """The DSIR weight table (bounded by the hashing trick) and the
    min/max row must BROADCAST into the corpus-sized stream — no
    shuffle join against it, no Python anywhere."""
    from nerpii_spark.operators.textstats import dsir_weights

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(dsir_weights(docs))
    assert plan.count("BroadcastExchange") >= 2  # weights + min/max row
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pq_topk_adc_scan_is_broadcast_joins(spark):
    """PQ's corpus-sized stages: the per-query LUT joins in as a
    BROADCAST (the ADC scan never shuffles the corpus against it) and
    the only Python is the Arrow-batched encoder — no row-at-a-time
    BatchEvalPython, no CartesianProduct (the codebook crossJoin is an
    intentional 256-row broadcast)."""
    from nerpii_spark.operators import similarity as S

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(S.pq_topk(embs, "vec_id < 8", k=2))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" in plan  # the pandas_udf encoder


def test_collocations_partial_aggs_no_python(spark):
    """Collocation counts must map-side combine (partial HashAggregates
    for both unigram and bigram counts) with zero Python and no
    cartesian; the token split is pre-projected (the no-CSE rule), so
    the whole pipeline is codegen."""
    from nerpii_spark.operators.textstats import collocations_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(collocations_topk(docs))
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_weighted_sample_codegen_two_phase(spark):
    """The fixed-point log2 digit recurrence must stay JVM-side (no
    Python operators), and the per-group top-k must be the two-phase
    salted form: two Window operators, the first partitioned by the
    salt shard."""
    from nerpii_spark.operators.textstats import weighted_sample_topk

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(weighted_sample_topk(docs))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Window") >= 2
    assert "pmod" in plan  # the salt shard key


def test_triple_typecheck_schema_broadcast(spark):
    """The |RULES|-row schema table must broadcast; the vote joins are
    vocabulary-keyed (never cartesian); no Python anywhere."""
    from nerpii_spark.operators.extract import triple_typecheck

    p = E._pipeline(spark, SF)
    plan = _plan(triple_typecheck(p["triples"], p["mentions"]))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_funnel_single_exchange_for_three_windows(spark):
    # the three stage windows all partition by user_id: Catalyst must
    # plan ONE exchange on user_id feeding the Window chain, plus the
    # two aggregation exchanges (per-user collapse reuses the window
    # partitioning; the 1-row global agg is a singlePartition exchange)
    plan = _plan(E.q_events_funnel(spark, SF))
    n_user_exchanges = plan.count("hashpartitioning(user_id")
    assert n_user_exchanges == 1, plan[:2000]


def test_url_templates_no_python_no_join(spark):
    plan = _plan(E.q_url_templates(spark, SF))
    for bad in ("BatchEvalPython", "ArrowEvalPython", "Join"):
        assert bad not in plan
    # one aggregation pair (partial + final) on (host, template)
    assert "HashAggregate" in plan


def test_anomaly_single_user_exchange(spark):
    plan = _plan(E.q_events_anomaly(spark, SF))
    assert plan.count("hashpartitioning(user_id") == 1
    assert "Join" not in plan  # stats come from the window, not a join-back


def test_linkpred_no_cartesian_and_broadcast_pool(spark):
    plan = _plan(E.q_linkpred_auc(spark, SF))
    assert "CartesianProduct" not in plan
    # the 1-row nreps crossJoin must be a broadcast nested loop of a
    # single row, never a shuffled cartesian
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_rule_mining_distinct_before_joins(spark):
    # the facts distinct collapses BEFORE the self-joins: the plan's
    # first aggregate keys (subj, pred, obj)
    plan = _plan(E.q_rule_mining(spark, SF))
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_bloom_semi_join_probe_stages_are_broadcast_only(spark):
    """The fact side passes all k Bloom probe filters via broadcast
    word lookups — no SortMergeJoin anywhere, and at least k+1
    broadcast joins (k probes + the final exact semi join over the
    pre-filtered survivors)."""
    from nerpii_spark.operators.dedup import BLOOM_K
    from nerpii_spark.operators.runtime_filter import bloom_semi_join

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    big = spark.read.parquet(f"{SF}/orders.parquet").where(
        "o_totalprice > 450000"
    )
    plan = _plan(bloom_semi_join(li, big, "l_orderkey", "o_orderkey"))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= BLOOM_K + 1


def test_tpch_late_semi_join_no_distinct(spark):
    """Q4 shape: the EXISTS is a LEFT SEMI (lineitem never widened),
    and no aggregate/distinct materializes lineitem before the join."""
    plan = _plan(E.q_tpch_late(spark, SF))
    assert "LeftSemi" in plan
    # the only HashAggregates are the 5-row priority rollup partial+final
    assert plan.count("HashAggregate") <= 2


def test_tpch_promo_single_scan_single_agg(spark):
    """Q14 shape: part broadcasts; ONE lineitem scan feeds ONE
    aggregate pass (FILTER-clause sums, no self-join / second scan)."""
    plan = _plan(E.q_tpch_promo(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert plan.count("lineitem.parquet") == 1
    assert "SortMergeJoin" not in plan


def test_cdx_index_one_exchange_plus_window(spark):
    """The CDX index pays exactly one op-specific exchange — the
    segment shuffle that IS the target file layout — feeding the
    running-sum window; no join-of-pages-with-itself, no bytes."""
    df = E.q_cdx_index(spark, SF)
    plan = _plan(df)
    assert "Window" in plan
    # the pages build has its own exchanges; the op itself adds the
    # hashpartitioning(segment...) one — assert it exists
    assert "hashpartitioning(segment" in plan


def test_reshard_plan_no_join(spark):
    """Reshard audit is pure per-row arithmetic + one aggregate: no
    join operator of any kind in the post-corpus plan."""
    plan = _plan(E.q_reshard_plan(spark, SF))
    # corpus construction has its own (broadcast) joins; the op itself
    # must add none — in particular nothing shuffle-keyed on __k
    assert "SortMergeJoin" not in plan
    assert "hashpartitioning(__k" not in plan


def test_cdc_apply_no_window_functions(spark):
    """CDC apply is max_by aggregation + anti-join + union — no window
    operator anywhere (the last-op rule is an aggregate, not a sort)."""
    plan = _plan(E.q_cdc_apply(spark, SF))
    assert "Window" not in plan
    assert "LeftAnti" in plan
