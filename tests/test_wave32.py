"""Wave-32: Boruvka minimum spanning forest + sorted-neighborhood
blocking.

The Boruvka gate compares the distributed forest edge-for-edge against
an independent Python Kruskal under the same (w, a, b) total order —
the MST is unique under a strict total order, so two different
algorithms must agree exactly. The SN gate hand-checks window pairs
and the normalization fold."""

import duckdb
from pyspark.sql import functions as F

import __spark_entry__ as E
from nerpii_spark.operators import link as L
from nerpii_spark.operators import webgraph as WG
from nerpii_spark.sources import pages as P

SF = "/root/testdata/sf0.001"


def _kruskal(edges):
    """edges: [(a, b, w)] -> unique MSF under (w, a, b) order."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    forest = []
    for a, b, w in sorted(edges, key=lambda e: (e[2], e[0], e[1])):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            forest.append((a, b, w))
    return set(forest)


def test_boruvka_corpus_converges_within_oracle_budget(spark):
    """DuckDB-oracle parity: the SQL replay contracts each round with a
    FIXED MST_CC_ROUNDS min-label + pointer-jump budget while Spark
    contracts to the exact components, so the two agree only when the
    contract graph's selections converge within that budget. Spark's
    forest must equal the replay edge-for-edge."""
    pages = E._pipeline(spark, SF)["pages"]
    got = {
        (r["a"], r["b"], r["w"]) for r in WG.boruvka_msf(pages).collect()
    }
    con = duckdb.connect()
    con.sql(
        f"create view documents as select * from '{SF}/documents.parquet'"
    )
    want = set(
        con.sql(WG.duck_boruvka_msf_sql(P.pages_sql("duck"))).fetchall()
    )
    assert got and got == want


def test_boruvka_equals_kruskal_on_corpus(spark):
    pages = E._pipeline(spark, SF)["pages"]
    got = {
        (r["a"], r["b"], r["w"])
        for r in WG.boruvka_msf(pages).collect()
    }
    links = WG.host_links(pages).where(
        F.col("src_host") != F.col("dst_host")
    )
    ew = (
        links.select(
            F.least("src_host", "dst_host").alias("a"),
            F.greatest("src_host", "dst_host").alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count("*").alias("n"))
        .selectExpr("a", "b",
                    "cast(1000000 as bigint) div (1 + n) + 1 as w")
        .collect()
    )
    want = _kruskal([(r["a"], r["b"], r["w"]) for r in ew])
    assert got == want
    # a spanning forest: |edges| = |nodes| - |components|
    nodes = {x for a, b, _ in want for x in (a, b)}
    assert len(got) == len(want) <= len(nodes) - 1


def test_boruvka_chain_selection_converges_with_pointer_jump(spark):
    # Adversarial contraction shape (ADVICE r3): a monotone-weight
    # chain h00-h01-...-h39 where round 1 selects EVERY edge (node i's
    # cheapest incident edge is its left edge; node 0 picks its right)
    # -> the selected pseudo-forest is one path of label-prop diameter
    # 39, far past an 8-round one-hop budget. The contraction must reach
    # the exact components (star contraction: O(log n) rounds); a
    # stalled label would let a later round select an intra-component
    # edge, breaking the forest invariant below.
    n = 40
    rows = [(f"h{i:02d}", f"h{i + 1:02d}", 100 + i) for i in range(n - 1)]
    e = spark.createDataFrame(rows, "a string, b string, w bigint")
    got = {
        (r["a"], r["b"], r["w"])
        for r in WG.msf_from_weighted_edges(e).collect()
    }
    want = _kruskal(rows)
    assert got == want
    assert len(got) == n - 1  # a spanning tree of the chain, no cycle


def test_boruvka_long_chain_escalates_past_fixed_budget(spark):
    # ADVICE r4 regression: a monotone chain of 600 nodes whose round-1
    # selection is one 599-edge path needs ~log2(599) > 9 pointer-jump
    # iterations — MORE than the fixed 8-iteration budget the DuckDB
    # replay uses, which silently left the path under-contracted
    # (reproduced on the x100 bench corpus host graph).  The Spark
    # contraction runs connected_components to its star-forest fixpoint
    # and must emit the exact Kruskal forest.
    n = 600
    rows = [(f"h{i:03d}", f"h{i + 1:03d}", 100 + i) for i in range(n - 1)]
    e = spark.createDataFrame(rows, "a string, b string, w bigint")
    got = {
        (r["a"], r["b"], r["w"])
        for r in WG.msf_from_weighted_edges(e).collect()
    }
    assert got == _kruskal(rows)
    assert len(got) == n - 1  # spanning tree, no dropped or cycle edge


def test_boruvka_star_of_chains_converges(spark):
    # mixed shape: three chains of 12 glued at a hub by heavy edges —
    # round 1 selects each chain wholesale (three deep pseudo-trees),
    # later rounds stitch them through the hub edges
    rows = []
    for c in range(3):
        rows += [(f"c{c}n{i:02d}", f"c{c}n{i + 1:02d}", 10 + i)
                 for i in range(11)]
        rows.append((f"c{c}n00", "hub", 9000 + c))
    e = spark.createDataFrame(rows, "a string, b string, w bigint")
    got = {
        (r["a"], r["b"], r["w"])
        for r in WG.msf_from_weighted_edges(e).collect()
    }
    assert got == _kruskal(rows)


def test_boruvka_respects_weights_on_crafted_graph(spark):
    # triangle with one heavy edge: MST drops exactly the heavy edge
    rows = [("x", "y", 5), ("y", "z", 5), ("x", "z", 50)]
    # feed via a fake pages html — easier: call the inner machinery by
    # reconstructing through Kruskal vs a tiny Boruvka run on real ops
    # is covered above; here just sanity-check the Python oracle helper
    assert _kruskal(rows) == {("x", "y", 5), ("y", "z", 5)}


def test_sorted_neighborhood_window_pairs(spark):
    mentions = spark.createDataFrame(
        [
            ("PERSON", "Alice  Smith"),   # double space -> normalized
            ("PERSON", "alice smith"),    # case dup -> collapses
            ("PERSON", "Alice Smyth"),
            ("PERSON", "Bob Jones"),
            ("ORGANIZATION", "Aa Corp"),  # ignored
        ],
        "entity_type string, mention string",
    )
    rows = {
        (r["name_a"], r["name_b"], r["gap"])
        for r in L.sorted_neighborhood_pairs(mentions, window=3).collect()
    }
    # normalized distinct surfaces sorted: [alice smith, alice smyth,
    # bob jones] -> gap-1 pairs (1,2) (2,3); gap-2 pair (1,3)
    assert rows == {
        ("alice smith", "alice smyth", 1),
        ("alice smyth", "bob jones", 1),
        ("alice smith", "bob jones", 2),
    }


def test_sn_blocks_catch_prefix_typos_soundex_misses(spark):
    # 'dalton' vs 'daltom': same prefix, adjacent in sort order ->
    # SN pairs them; soundex gives D435 vs D435... use a real miss:
    # 'carter' vs 'karter' share soundex-ish? C636 vs K636 differ ->
    # soundex splits them, but sort order does NOT adjoin them either.
    # The honest complementary case: adjacent prefixes pair here even
    # when phonetic codes differ: 'snow' (S500) vs 'snuw' (S500)? use
    # explicit check that gap-1 pairs exist on the real corpus and
    # every pair shares no requirement of equal soundex.
    from nerpii_spark.functions.text import spark_soundex

    m = E._pipeline(spark, SF)["mentions"]
    rows = L.sorted_neighborhood_pairs(m).collect()
    assert len(rows) > 0
    diff_codes = [
        r for r in rows
        if spark_soundex(r["name_a"]) != spark_soundex(r["name_b"])
    ]
    # SN generates candidates soundex blocking would never produce
    assert len(diff_codes) > 0
