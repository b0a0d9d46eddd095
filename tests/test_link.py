"""S4 linking goldens: LSH+CC linker must recover the planted entity
clusters exactly (linking P/R = 1.0) and deterministically."""

import re
import warnings
from collections import Counter, defaultdict

import pytest
from pyspark.sql import functions as F

from nerpii_spark.operators.clean import clean_pages
from nerpii_spark.operators.detect import detect_mentions
from nerpii_spark.operators.link import (
    connected_components,
    incremental_link_entities,
    incremental_members,
    link_entities,
    linked_members,
    lsh_candidate_pairs,
    surface_nodes,
)
from nerpii_spark.sources import pages as P

from test_corpus_and_detect import base_text

N_DOCS = 120


def golden_clusters(doc_ids):
    """(entity_type, key) -> Counter(norm -> n_mentions) from the plant spec."""
    clusters = defaultdict(Counter)
    for d in doc_ids:
        n_sent = P.h1(d, 0) % (P.MAX_SENT + 1)
        for j in range(n_sent):
            v = P._vals(d, j)
            t = v["t"]
            ms = []
            if t in (0, 1, 2):
                key = re.sub(r" [a-z]\. ", " ", v["person"].lower())
                ms.append(("PERSON", key, v["person"].lower()))
            if t in (0, 3):
                ms.append(("ORGANIZATION", v["org"].lower(), v["org"].lower()))
            if t in (0, 2):
                ms.append(("LOCATION", v["city"].lower(), v["city"].lower()))
            if t == 2:
                ms.append(("LOCATION", v["st"].lower(), v["st"].lower()))
            for et, k, norm in ms:
                clusters[(et, k)][norm] += 1
    return clusters


def golden_entities(doc_ids):
    exp = {}
    for (et, _k), cnt in golden_clusters(doc_ids).items():
        canonical = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        exp[(et, canonical)] = (len(cnt), sum(cnt.values()))
    return exp


def _mentions(spark, n_docs=N_DOCS):
    rows = [(i, base_text(i), "en") for i in range(n_docs)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    docs.createOrReplaceTempView("link_documents")
    pg = (
        spark.sql(P.pages_sql("spark", doc_rel="link_documents", with_html=True))
        .drop("text")
        .withColumn("text", F.lit(None).cast("string"))
    )
    return detect_mentions(clean_pages(pg))


def test_link_entities_exact_recovery(spark):
    got = {
        (r.entity_type, r.canonical): (r.n_surfaces, r.n_mentions)
        for r in link_entities(_mentions(spark)).collect()
    }
    assert got == golden_entities(range(N_DOCS))


def test_link_entities_deterministic(spark):
    m = _mentions(spark, 60)
    a = sorted(map(tuple, link_entities(m).collect()))
    b = sorted(map(tuple, link_entities(m).collect()))
    assert a == b


def test_incremental_equals_full_relink(spark):
    """Folding a delta batch into persisted members yields bit-identical
    members AND entities vs relinking the whole corpus from scratch —
    including component labels (old labels are min member sids, so the
    contracted CC reproduces the from-scratch labels)."""
    m = _mentions(spark, 90).localCheckpoint(eager=True)
    old = m.where(F.col("doc_id") % 4 != 0)
    new = m.where(F.col("doc_id") % 4 == 0)
    old_members = linked_members(old).localCheckpoint(eager=True)
    inc = incremental_members(old_members, new)
    full = linked_members(m)
    assert sorted(map(tuple, inc.collect())) == sorted(
        map(tuple, full.collect())
    )
    got = sorted(map(tuple, incremental_link_entities(old_members, new).collect()))
    assert got == sorted(map(tuple, link_entities(m).collect()))


def test_incremental_merges_old_components(spark):
    """A brand-new surface bridging two previously SEPARATE components
    must merge them, adopt the min label, and win the canonical; an
    unrelated component passes through with its stored label."""
    olds = spark.createDataFrame(
        [
            ("PERSON", "frank kemp", 5),       # tokens {frank, kemp}
            ("PERSON", "frank x. kempe", 1),   # tokens {frank, kempe}
            ("PERSON", "laura ortiz", 9),
        ],
        "entity_type string, mention string, doc_id bigint",
    )
    # old run: no token match, kemp/kempe shingle-J < 0.85 -> 3 singletons
    old_members = linked_members(olds).localCheckpoint(eager=True)
    assert old_members.count() == 3
    assert {(r.norm, r.canonical) for r in old_members.collect()} == {
        ("frank kemp", "frank kemp"),
        ("frank x. kempe", "frank x. kempe"),
        ("laura ortiz", "laura ortiz"),
    }
    # bridge: token-matches "frank kemp" (initial dropped) AND is
    # string-similar to "frank x. kempe" (J = 11/12); arrives 20x so it
    # becomes the merged component's most-mentioned surface
    news = spark.createDataFrame(
        [("PERSON", "Frank X. Kemp", i) for i in range(20)],
        "entity_type string, mention string, doc_id bigint",
    )
    inc = incremental_members(old_members, news).collect()
    by_norm = {r.norm: r for r in inc}
    assert set(by_norm) == {
        "frank kemp", "frank x. kempe", "frank x. kemp", "laura ortiz"
    }
    merged = [by_norm[n] for n in
              ("frank kemp", "frank x. kempe", "frank x. kemp")]
    assert all(r.canonical == "frank x. kemp" for r in merged)
    assert len({r.label for r in merged}) == 1
    assert by_norm["frank x. kemp"].n_mentions == 20
    # min-label: the merged label equals the min of the three sids,
    # i.e. a from-scratch run's label
    full = {r.norm: r.label
            for r in linked_members(olds.unionByName(news)).collect()}
    assert by_norm["frank kemp"].label == full["frank kemp"]
    # untouched component kept its stored label and canonical
    old_ortiz = [r for r in old_members.collect() if r.norm == "laura ortiz"][0]
    assert by_norm["laura ortiz"].label == old_ortiz.label
    assert by_norm["laura ortiz"].canonical == "laura ortiz"


def test_connected_components_chain(spark):
    nodes = spark.createDataFrame([(i,) for i in range(6)], "sid bigint")
    # two components: 0-1-2-3 chain and 4-5
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (4, 5)], "sid_a bigint, sid_b bigint"
    )
    labels = {r.sid: r.label for r in connected_components(nodes, edges).collect()}
    assert labels == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4}
    # a 500-node path (diameter 499) under the default round budget:
    # one label, never a split with a warning
    n = 500
    nodes = spark.createDataFrame([(i,) for i in range(n)], "sid bigint")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "sid_a bigint, sid_b bigint"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        labels = {
            r.sid: r.label
            for r in connected_components(nodes, edges).collect()
        }
    assert labels == {i: 0 for i in range(n)}


def _graph(spark, n, edge_list):
    nodes = spark.createDataFrame(
        [(f"n{i:03d}",) for i in range(n)], "sid string"
    )
    edges = spark.createDataFrame(
        [(f"n{a:03d}", f"n{b:03d}") for a, b in edge_list],
        "sid_a string, sid_b string",
    )
    return nodes, edges


def _union_find_labels(n, edge_list):
    """Python reference: node name -> min node name of its component."""
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            # min-root union: the root of every set is its min member
            parent[max(ra, rb)] = min(ra, rb)
    return {f"n{i:03d}": f"n{find(i):03d}" for i in range(n)}


def test_connected_components_long_path(spark):
    # an 80-node path: diameter 79 — min-label propagation would need 79
    # rounds; star contraction must finish in far fewer
    nodes, edges = _graph(spark, 80, [(i, i + 1) for i in range(79)])
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        out = connected_components(nodes, edges, max_rounds=12)
        got = {r["sid"]: r["label"] for r in out.collect()}
    assert got == {f"n{i:03d}": "n000" for i in range(80)}


def test_connected_components_raises_when_budget_too_small(spark):
    nodes, edges = _graph(spark, 64, [(i, i + 1) for i in range(63)])
    with pytest.raises(ValueError, match="star forest"):
        connected_components(nodes, edges, max_rounds=1)


def test_connected_components_equals_union_find_random(spark):
    # seeded LCG random graph: several components, isolated nodes
    n, s, edge_list = 120, 7, []
    for _ in range(140):
        s = (s * 1_103_515_245 + 12_345) % (1 << 31)
        a = s % n
        s = (s * 1_103_515_245 + 12_345) % (1 << 31)
        b = s % n
        if a != b:
            edge_list.append((a, b))
    # not trivial: more than one component, not all singletons
    assert 1 < len(set(_union_find_labels(n, edge_list).values())) < n
    graphs = [
        (n, edge_list),
        # after one round no parent of this path is a child, yet node 3
        # still hangs off two roots
        (6, [(1, 3), (3, 4), (4, 5), (5, 2)]),
    ]
    for n, edge_list in graphs:
        nodes, edges = _graph(spark, n, edge_list)
        rows = connected_components(nodes, edges).collect()
        assert len(rows) == n
        got = {r["sid"]: r["label"] for r in rows}
        assert got == _union_find_labels(n, edge_list)


def test_connected_components_isolated_and_pair(spark):
    nodes, edges = _graph(spark, 3, [(1, 2)])
    got = {
        r["sid"]: r["label"]
        for r in connected_components(nodes, edges).collect()
    }
    assert got == {"n000": "n000", "n001": "n001", "n002": "n001"}


def test_lsh_bucket_cap(spark):
    """Over-cap hot buckets DEGRADE (salted sub-buckets + representative
    links): candidate pairs stay linear in the bucket size — never the
    n^2/2 cross product — while the bucket remains CONNECTED, so a true
    cluster bigger than the cap is not fragmented by the skew guard
    (the old drop behavior over-segmented real sf0.1 clusters)."""
    n = 100
    rows = [("PERSON", f"aaa {i:04d}") for i in range(n)]
    m = spark.createDataFrame(rows, "entity_type string, mention string")
    m = m.withColumn("doc_id", F.lit(1))
    nodes = surface_nodes(m.withColumnRenamed("mention", "mention"))
    pairs = lsh_candidate_pairs(nodes, max_bucket=8)
    got = [(r["sid_a"], r["sid_b"]) for r in pairs.collect()]
    # linear bound: well below half the 4950-pair cross product
    assert 0 < len(got) < (n * (n - 1) // 2) // 2
    # connectivity: one component across all 100 surfaces
    sids = [r["sid"] for r in nodes.select("sid").collect()]
    parent = {s: s for s in sids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in got:
        parent[find(a)] = find(b)
    assert len({find(s) for s in sids}) == 1


def test_incremental_exact_when_bucket_crosses_cap(spark):
    """VERDICT r2 #2 regression: a delta that pushes an LSH band bucket
    over MAX_BUCKET flips that bucket's pairing from all-pairs to the
    salted-sub-bucket degrade, whose partitioning depends on the full
    current membership. The old path kept the old run's richer merges
    (and missed new-member links) — 6/758 clusters off at sf0.1. The
    pull-and-recompute fold must equal the from-scratch relink exactly.

    Corpus: one near-duplicate family of 44 surfaces ("frank kemp v%02d"
    — identical long-token cores, so they share every band's min-shingle
    bucket), split 24 old (under the 32 cap) + 20 delta (total 44, over
    the cap), plus unrelated names that must pass through contracted."""
    fam = [f"Frank Kemp v{i:02d}" for i in range(44)]
    others = ["Grace Hu", "Grace Q. Hu", "Walter Moss", "Dana Reyes"]
    rows = [(i, s, "PERSON") for i, s in enumerate(fam + others)]
    m = spark.createDataFrame(
        rows, "doc_id bigint, mention string, entity_type string"
    ).localCheckpoint(eager=True)
    old = m.where((F.col("doc_id") < 24) | (F.col("doc_id") >= 44))
    new = m.where((F.col("doc_id") >= 24) & (F.col("doc_id") < 44))
    old_members = linked_members(old).localCheckpoint(eager=True)
    inc = sorted(map(tuple, incremental_members(old_members, new).collect()))
    full = sorted(map(tuple, linked_members(m).collect()))
    assert inc == full
    # sanity: the family really does cross the cap in the full run
    from nerpii_spark.operators.link import MAX_BUCKET, surface_nodes, _band_index

    nodes = surface_nodes(m).withColumn("is_new", F.lit(False))
    top = (
        _band_index(nodes, 16)
        .groupBy("entity_type", "band", "mh").count()
        .agg(F.max("count")).collect()[0][0]
    )
    assert top > MAX_BUCKET


def test_surface_type_vote_majority_and_tie(spark):
    from nerpii_spark.operators.link import surface_type_vote

    rows = (
        [(1, "LOCATION", "Washington")] * 3
        + [(2, "PERSON", "washington")] * 2
        + [(3, "PERSON", "Alice"), (3, "ORGANIZATION", "alice")]
    )
    df = spark.createDataFrame(
        [(d, t, m) for d, t, m in rows],
        "doc_id long, entity_type string, mention string",
    )
    got = {
        r["surface"]: (
            r["n_mentions"], r["n_types"], r["maj_type"], r["n_maj"]
        )
        for r in surface_type_vote(df).collect()
    }
    # majority wins across case-normalized surfaces
    assert got["washington"] == (5, 2, "LOCATION", 3)
    # exact tie (1 vs 1) breaks type-asc: ORGANIZATION < PERSON
    assert got["alice"] == (2, 2, "ORGANIZATION", 1)


def test_entity_timeline_planted_clock(spark):
    from nerpii_spark.operators.link import entity_timeline

    resolved = spark.createDataFrame(
        [(1, "alice smith"), (5, "alice smith"), (5, "alice smith"),
         (3, "bob jones")],
        "doc_id long, canonical string",
    )
    pages = spark.createDataFrame(
        [(i,) for i in (1, 3, 5)], "doc_id long"
    ).selectExpr("doc_id", "timestamp_seconds(1000 + doc_id) as warc_ts")
    got = {
        r["canonical"]: (
            r["first_seen_s"], r["last_seen_s"], r["n_docs"], r["n_mentions"]
        )
        for r in entity_timeline(resolved, pages).collect()
    }
    assert got == {
        "alice smith": (1001, 1005, 2, 3),
        "bob jones": (1003, 1003, 1, 1),
    }


def test_resolve_mentions_broadcast_flip_is_count_gated(spark):
    """VERDICT r3 #5: the members-map broadcast must flip to a shuffle
    join on the ACTUAL table size, not a docstring convention. Both
    branches produce identical rows; the plan proves which join ran."""
    from nerpii_spark.operators.link import resolve_mentions

    mentions = spark.createDataFrame(
        [("PERSON", "Alice Smith", 1), ("PERSON", "Bob  Jones", 2),
         ("PERSON", "Nobody Known", 3)],
        "entity_type string, mention string, doc_id long",
    )
    members = spark.createDataFrame(
        [("PERSON", "alice smith", "alice smith"),
         ("PERSON", "bob jones", "bob jones")],
        "entity_type string, norm string, canonical string",
    )

    def _plan(df):
        df.count()  # finalize AQE so the executed join is real
        return df._jdf.queryExecution().executedPlan().toString()

    # disable size-based auto-broadcast (static AND the AQE runtime
    # conversion) so the executed join reflects the count gate alone —
    # in production auto-broadcast of a genuinely small table is fine;
    # the gate's job is preventing a FORCED broadcast of a huge one
    confs = ("spark.sql.autoBroadcastJoinThreshold",
             "spark.sql.adaptive.autoBroadcastJoinThreshold")
    saved = {c: spark.conf.get(c, None) for c in confs}
    try:
        for c in confs:
            spark.conf.set(c, "-1")
        small = resolve_mentions(mentions, members)
        big = resolve_mentions(mentions, members, broadcast_max_rows=1)
        rows_small = {(r["doc_id"], r["canonical"]) for r in small.collect()}
        rows_big = {(r["doc_id"], r["canonical"]) for r in big.collect()}
        assert rows_small == rows_big == {
            (1, "alice smith"), (2, "bob jones"), (3, None)
        }
        p_small, p_big = _plan(small), _plan(big)
        assert "BroadcastHashJoin" in p_small
        assert "BroadcastHashJoin" not in p_big
        assert "SortMergeJoin" in p_big or "ShuffledHashJoin" in p_big
    finally:
        for c, v in saved.items():
            if v is None:
                spark.conf.unset(c)
            else:
                spark.conf.set(c, v)
