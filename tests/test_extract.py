"""extract's PageRank family (pagerank, pagerank_incremental,
pagerank_weighted) and webgraph's trustrank / spam_mass, which run the
same damped round: hand cases, the empty graph, and a Spark-vs-DuckDB
referee on adversarial graph shapes. Also the kg_triangles census hand
case."""

import duckdb
import pytest

from nerpii_spark.operators.extract import (
    duck_pagerank_incremental_sql,
    duck_pagerank_sql,
    duck_pagerank_weighted_sql,
    pagerank,
    pagerank_incremental,
    pagerank_weighted,
)
from nerpii_spark.operators.webgraph import (
    _duck_spam_mass_of_edges_sql,
    duck_trustrank_sql,
    spam_mass,
    trustrank,
)


def test_pagerank_hand_cases(spark):
    from nerpii_spark.operators.extract import pagerank

    # 2-cycle is stationary: every iteration returns the uniform mass
    cyc = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "a")], "subj string, pred string, obj string"
    )
    got = {r["node"]: r["rank_e12"] for r in pagerank(cyc, n_iter=3).collect()}
    assert got == {"a": 500_000_000_000, "b": 500_000_000_000}
    # star with a dangling hub: exact fixed-point values after 1 step
    # (base=2.5e11; hub gets 3 contributions + its own dangling share)
    star = spark.createDataFrame(
        [(f"l{i}", "p", "hub") for i in range(3)],
        "subj string, pred string, obj string",
    )
    got = {r["node"]: r["rank_e12"] for r in pagerank(star, n_iter=1).collect()}
    assert got["hub"] == 728_125_000_000
    assert all(got[f"l{i}"] == 90_625_000_000 for i in range(3))
    # mass is conserved by the integer update (remainders excepted)
    assert sum(got.values()) == 10**12


def test_pagerank_weighted_flow_and_uniform_equivalence(spark):
    from nerpii_spark.operators.extract import pagerank, pagerank_weighted

    # s endorses a 9x harder than b: a must outrank b
    edges = spark.createDataFrame(
        [("s", "a", 9), ("s", "b", 1), ("a", "s", 1), ("b", "s", 1)],
        "src string, dst string, w long",
    )
    r = {
        x["node"]: x["rank_e12"]
        for x in pagerank_weighted(edges, n_iter=3).collect()
    }
    assert r["a"] > r["b"]
    # uniform weights with outdeg | 1e6: shares are exact, so the
    # weighted form must equal plain pagerank bit-for-bit
    uni = spark.createDataFrame(
        [("s", "a", 7), ("s", "b", 7), ("a", "b", 3), ("b", "a", 3)],
        "src string, dst string, w long",
    )
    got = {
        x["node"]: x["rank_e12"]
        for x in pagerank_weighted(uni, n_iter=2).collect()
    }
    ref = {
        x["node"]: x["rank_e12"]
        for x in pagerank(
            uni.selectExpr("src as subj", "dst as obj"), n_iter=2
        ).collect()
    }
    assert got == ref


def test_pagerank_incremental_warm_start_beats_cold(spark):
    from nerpii_spark.operators.extract import (
        pagerank,
        pagerank_incremental,
    )

    # base: 12-cycle + chords; delta: 3 edges, one NEW node n12
    base_edges = [(f"n{i}", f"n{(i + 1) % 12}") for i in range(12)] + [
        ("n0", "n6"), ("n3", "n9"),
    ]
    delta_edges = [("n1", "n7"), ("n12", "n2"), ("n5", "n12")]
    to_df = lambda rows: spark.createDataFrame(
        rows, "subj string, obj string"
    )
    merged = to_df(base_edges + delta_edges)
    ref = {r["node"]: r["rank_e12"]
           for r in pagerank(merged, n_iter=12).collect()}
    warm = {r["node"]: r["rank_e12"]
            for r in pagerank_incremental(
                to_df(base_edges), to_df(delta_edges),
                n_base_iter=3, n_delta_iter=2,
            ).collect()}
    cold = {r["node"]: r["rank_e12"]
            for r in pagerank(merged, n_iter=2).collect()}
    assert set(warm) == set(ref) == set(cold)
    l1 = lambda d: sum(abs(d[k] - ref[k]) for k in ref)
    # the warm-start claim: resuming from the (near-converged) base
    # ranks gets closer to the merged fixed point in the same 2 rounds
    assert l1(warm) < l1(cold), (l1(warm), l1(cold))


def test_pagerank_incremental_two_runs_identical(spark):
    from nerpii_spark.operators.extract import pagerank_incremental

    base = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "subj string, obj string"
    )
    delta = spark.createDataFrame(
        [("c", "d"), ("d", "a")], "subj string, obj string"
    )
    r1 = sorted(map(tuple, pagerank_incremental(base, delta).collect()))
    r2 = sorted(map(tuple, pagerank_incremental(base, delta).collect()))
    assert r1 == r2
    # every rank positive, new node d present
    assert all(v > 0 for _, v in r1)
    assert {n for n, _ in r1} == {"a", "b", "c", "d"}


def _triples(spark, rows):
    """(src, dst, w) rows as a (subj, pred, obj) Spark triple frame."""
    return spark.createDataFrame(
        [(s, "p", d) for s, d, _ in rows],
        "subj string, pred string, obj string",
    )


def _duck_triples(rows):
    """The same triples as a DuckDB relation (an empty one for [])."""
    if not rows:
        return "select '' as subj, '' as pred, '' as obj where false"
    vals = ", ".join(f"('{s}', 'p', '{d}')" for s, d, _ in rows)
    return f"select * from (values {vals}) t(subj, pred, obj)"


def _duck_edges(rows):
    vals = ", ".join(f"('{s}', '{d}', {w})" for s, d, w in rows)
    return f"select * from (values {vals}) t(src, dst, w)"


def _pages(spark, rows):
    """One page per edge row whose single anchor plants that host edge."""
    return spark.createDataFrame(
        [
            (f"https://{s}/p{i}", f'<a href="https://{d}/">x</a>'.encode())
            for i, (s, d, _) in enumerate(rows)
        ],
        "url string, html binary",
    )


def _runs(spark, rows, n_seeds):
    """{operator: (build the Spark frame, DuckDB twin SQL)} for every
    rank operator on one edge list. pagerank_incremental takes the first
    half of the rows as its base and the rest as the delta; spam_mass
    runs trustrank with its default seed count, as its twin does."""
    half = len(rows) // 2
    links = f"select subj, obj from ({_duck_triples(rows)})"
    return {
        "pagerank": (
            lambda: pagerank(_triples(spark, rows)),
            duck_pagerank_sql(_duck_triples(rows)),
        ),
        "pagerank_incremental": (
            lambda: pagerank_incremental(
                _triples(spark, rows[:half]), _triples(spark, rows[half:])
            ),
            duck_pagerank_incremental_sql(
                _duck_triples(rows[:half]), _duck_triples(rows[half:])
            ),
        ),
        "pagerank_weighted": (
            lambda: pagerank_weighted(
                spark.createDataFrame(rows, "src string, dst string, w long")
            ),
            duck_pagerank_weighted_sql(_duck_edges(rows)),
        ),
        "trustrank": (
            lambda: trustrank(_triples(spark, rows), n_seeds=n_seeds),
            duck_trustrank_sql(links, n_seeds=n_seeds),
        ),
        "spam_mass": (
            lambda: spam_mass(_pages(spark, rows)),
            _duck_spam_mass_of_edges_sql(links, n_iter=3),
        ),
    }


@pytest.mark.parametrize(
    "op",
    ["pagerank", "pagerank_incremental", "pagerank_weighted", "trustrank"],
)
def test_rank_ops_on_empty_graph(spark, op):
    # every edge is a self-loop, so no node survives: the result is
    # empty with the operator's schema, as its DuckDB twin's is
    build, sql = _runs(spark, [("a", "a", 1), ("b", "b", 2)], 16)[op]
    df = build()
    col = "trust_e12" if op == "trustrank" else "rank_e12"
    assert df.columns == ["node", col]
    assert df.collect() == []
    assert duckdb.sql(sql).fetchall() == []


# (src, dst, w) edge lists; the weights only reach pagerank_weighted
SHAPES = {
    "star_dangling_hub": ([(f"l{i}", "hub", 1) for i in range(4)], 2),
    "two_cycle": ([("a", "b", 1), ("b", "a", 1)], 1),
    "duplicate_edges": (
        [("a", "b", 2), ("a", "b", 3), ("b", "c", 1), ("a", "b", 1),
         ("c", "a", 4), ("c", "a", 1), ("a", "c", 5)],
        2,
    ),
    "self_loop_only_node": (
        [("a", "b", 1), ("z", "z", 9), ("b", "a", 1), ("b", "c", 1)], 2,
    ),
    "disjoint_components": (
        [("a", "b", 1), ("b", "c", 1), ("x", "y", 1), ("y", "x", 1),
         ("c", "a", 1)],
        2,
    ),
    "share_not_dividing_1e6": (
        [("s", "a", 1), ("s", "b", 1), ("s", "c", 1), ("a", "s", 2),
         ("a", "c", 5), ("b", "s", 3), ("b", "c", 4), ("c", "a", 7)],
        2,
    ),
    # zero and negative summed weights: pagerank_weighted drops those
    # pairs, so a is dangling there
    "non_positive_weights": (
        [("a", "b", 0), ("b", "a", 1), ("b", "c", -2), ("c", "a", 1)], 2,
    ),
    "more_seeds_than_nodes": (
        [("a", "b", 1), ("b", "c", 1), ("c", "d", 1), ("d", "b", 1)], 100,
    ),
}


@pytest.mark.parametrize("shape", list(SHAPES))
def test_rank_ops_match_duckdb_twins(spark, shape):
    rows, n_seeds = SHAPES[shape]
    for op, (build, sql) in _runs(spark, rows, n_seeds).items():
        got = sorted(map(tuple, build().collect()))
        assert got, op
        assert got == sorted(duckdb.sql(sql).fetchall()), op


def test_kg_triangles_hand_case_and_hub_guard(spark):
    from nerpii_spark.operators.extract import kg_triangles

    # a-b-c closes a triangle; c-d dangles; (a,q,b) duplicates edge a-b
    # across predicates (the distinct edge set must collapse it)
    t = spark.createDataFrame(
        [("a", "p", "b"), ("b", "p", "c"), ("a", "p", "c"),
         ("c", "p", "d"), ("a", "q", "b")],
        "subj string, pred string, obj string",
    )
    row = kg_triangles(t).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (4, 4, 1)
    # hub guard: in a star K_{1,200} every edge orients leaf -> hub
    # (degree orientation), so the hub contributes ZERO wedges — the
    # property that keeps a celebrity node from exploding the self-join
    star = spark.createDataFrame(
        [(f"leaf{i:03d}", "p", "hub") for i in range(200)],
        "subj string, pred string, obj string",
    )
    r2 = kg_triangles(star).collect()[0]
    assert (r2["n_nodes"], r2["n_edges"], r2["n_triangles"]) == (201, 200, 0)
