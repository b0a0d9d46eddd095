"""Wave-4 operators: fixed-point log2 + weighted reservoir sampling,
Dice collocations, triple domain/range typecheck."""

import duckdb
from pyspark.sql import functions as F

from nerpii_spark.functions.hashing import M, hn
from nerpii_spark.functions.intmath import (
    FP_ONE,
    LOG2M_FP,
    duck_log2fp_expr,
    log2fp,
    spark_log2fp_cols,
)


def test_log2fp_three_way(spark):
    vals = [1, 2, 3, 5, 7, 255, 256, 257, 12345678,
            (1 << 30) - 1, 1 << 30, (1 << 31) - 1, M - 1, M]
    py = [log2fp(v) for v in vals]
    con = duckdb.connect()
    dk = [
        con.sql(f"select {duck_log2fp_expr(str(v))} as r").fetchone()[0]
        for v in vals
    ]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    sp = {
        r["x"]: r["l2"]
        for r in spark_log2fp_cols(df, "x", "l2").collect()
    }
    assert py == dk
    assert [sp[v] for v in vals] == py
    # monotone, and exact on powers of two
    assert py == sorted(py)
    assert log2fp(1 << 30) == 30 * FP_ONE
    assert LOG2M_FP == log2fp(M)


def _wrs_mirror(groups, k=1):
    """Pure-python A-Res replay: groups = {lang: [(doc_id, weight)]}."""
    from nerpii_spark.operators.textstats import WRS_SALT

    out = {}
    for lang, members in groups.items():
        keyed = []
        for doc_id, w in members:
            hu = hn(doc_id, WRS_SALT) + 1
            key = ((LOG2M_FP - log2fp(hu)) << 20) // w
            keyed.append((key, doc_id, w))
        keyed.sort()
        out[lang] = keyed[:k]
    return out


def test_weighted_sample_bit_exact_and_proportional(spark):
    from nerpii_spark.operators.textstats import weighted_sample_topk

    # 40 groups x 30 docs; doc 0 of each group carries 20x the weight
    rows, groups = [], {}
    for g in range(40):
        lang = f"g{g:02d}"
        groups[lang] = []
        for i in range(30):
            doc_id = g * 100 + i
            n_tok = 200 if i == 0 else 10
            rows.append((lang, doc_id, "w " * (n_tok - 1) + "w"))
            groups[lang].append((doc_id, n_tok))
    docs = spark.createDataFrame(rows, "lang string, doc_id long, text string")
    got = {
        (r["lang"], r["rank"]): (r["doc_id"], r["weight"], r["key_fp"])
        for r in weighted_sample_topk(docs, k=1).collect()
    }
    mirror = _wrs_mirror(groups, k=1)
    assert len(got) == 40
    heavy_wins = 0
    for lang, picks in mirror.items():
        key, doc_id, w = picks[0]
        assert got[(lang, 1)] == (doc_id, w, key)
        if w == 200:
            heavy_wins += 1
    # inclusion ~ w/sum(w) = 200/490 ~= 0.41 -> expect ~16/40; the 20x
    # -heavier doc must win FAR above its 1/30 uniform share and below
    # certainty (loose binomial band around the A-Res probability)
    assert 8 <= heavy_wins <= 28


def test_collocations_planted(spark):
    from nerpii_spark.operators.textstats import collocations_topk

    # unique per-doc separator tokens between filler words: filler
    # unigrams pass min_uni but no filler-filler bigram ever forms,
    # so "new york" (always adjacent) is the only perfect-Dice pair
    filler = ["alpha", "beta", "gamma", "delta", "epsilon",
              "zeta", "eta", "theta", "iota", "kappa"]
    docs = spark.createDataFrame(
        [
            (
                i,
                "new york "
                + " ".join(f"{w} u{i}x{j}" for j, w in enumerate(filler))
                + " new york",
            )
            for i in range(10)
        ],
        "doc_id long, text string",
    )
    out = collocations_topk(docs).collect()
    assert out, "no collocations survived the floors"
    top = out[0]
    assert (top["w1"], top["w2"]) == ("new", "york")
    assert top["c_pair"] == 20 and top["c_w1"] == 20 and top["c_w2"] == 20
    # dice = 2*20/(20+20) = 1.0
    assert top["dice_e6"] == 1_000_000
    # floors: every survivor obeys min_pair/min_uni
    for r in out:
        assert r["c_pair"] >= 4 and r["c_w1"] >= 8 and r["c_w2"] >= 8


def test_triple_typecheck_counts(spark):
    from nerpii_spark.operators.extract import triple_typecheck

    # 'washington' is majority-LOCATION (3 LOCATION vs 1 PERSON
    # detections) but fills the PERSON slot of works_at in one triple
    mentions = spark.createDataFrame(
        [("Washington", "LOCATION")] * 3
        + [("Washington", "PERSON"),
           ("Ada Lovelace", "PERSON"),
           ("Acme Corp", "ORGANIZATION"),
           ("Paris", "LOCATION")],
        "mention string, entity_type string",
    )
    triples = spark.createDataFrame(
        [
            ("Washington", "works_at", "Acme Corp"),
            ("Ada Lovelace", "works_at", "Acme Corp"),
            ("Ada Lovelace", "lives_in", "Paris"),
        ],
        "subj string, pred string, obj string",
    )
    got = {
        r["pred"]: (r["n_triples"], r["n_subj_viol"],
                    r["n_obj_viol"], r["n_ok"])
        for r in triple_typecheck(triples, mentions).collect()
    }
    assert got == {
        "works_at": (2, 1, 0, 1),
        "lives_in": (1, 0, 0, 1),
    }


def test_cluster_size_stats_golden(spark):
    from nerpii_spark.operators.dedup import cluster_size_stats

    surv = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 2), (5, 3), (6, 7), (7, 8)],
        "keep_id long, n_members long",
    )
    got = {
        r["size_bucket"]: (r["n_clusters"], r["n_docs"], r["max_size"])
        for r in cluster_size_stats(surv).collect()
    }
    assert got == {0: (3, 3, 1), 1: (2, 5, 3), 2: (1, 7, 7), 3: (1, 8, 8)}


def test_triples_canonical_folds_aliases(spark, tmp_path):
    # pipeline-level sanity at sf0.001: canonicalization can only FOLD
    # triples (assertion total preserved, distinct subjects <= distinct
    # surfaces), and every PERSON-subject pred survives
    import __spark_entry__ as E

    sf = "/root/testdata/sf0.001"
    out = E.q_triples_canonical(spark, sf)
    rows = out.collect()
    t = E._pipeline(spark, sf)["triples"]
    person_preds = {"works_at", "lives_in", "has_email", "has_phone"}
    n_person_triples = t.where(
        F.col("pred").isin(*person_preds)
    ).count()
    assert sum(r["n_assertions"] for r in rows) == n_person_triples
    assert {r["pred"] for r in rows} == person_preds
    n_surfaces = (
        t.where(F.col("pred").isin(*person_preds))
        .select(F.expr("lower(regexp_replace(trim(subj), '\\\\s+', ' '))"))
        .distinct()
        .count()
    )
    assert out.select("subj_canonical").distinct().count() <= n_surfaces


def test_hard_negatives_band(spark):
    from nerpii_spark.operators.similarity import hard_negatives

    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),         # anchor
        (1, [0.999, 0.01, 0.0, 0.0]),      # near-dup: excluded (>= tau_dup)
        (2, [0.8, 0.6, 0.0, 0.0]),         # semi-hard cos 0.8
        (3, [0.6, 0.8, 0.0, 0.0]),         # semi-hard cos 0.6
        (4, [0.1, 0.99, 0.0, 0.0]),        # easy: cos ~0.1 < tau_min
        (5, [0.0, 0.0, 1.0, 0.0]),         # orthogonal
    ]
    embs = spark.createDataFrame(
        vecs, "vec_id long, embedding array<float>"
    )
    out = hard_negatives(embs, "vec_id = 0", k=3).collect()
    picked = [(r["rank"], r["neighbor_id"]) for r in out]
    assert picked == [(1, 2), (2, 3)]
    for r in out:
        assert 0.30 <= r["cos"] < 0.95


def test_dp_counts_mirror_and_clamp(spark):
    from nerpii_spark.functions.hashing import h2, strhash
    from nerpii_spark.operators.profile import (
        DP_SALT_NEG,
        DP_SALT_POS,
        _dp_a_fp,
        dp_noisy_counts,
    )

    a_fp = _dp_a_fp()

    def mirror(key, cnt):
        es = []
        for salt in (DP_SALT_POS, DP_SALT_NEG):
            hu = h2(h2(strhash(key), salt), salt + 2) + 1
            es.append(LOG2M_FP - log2fp(hu))
        return max(cnt + es[0] // a_fp - es[1] // a_fp, 0)

    rows = [(f"site{i}.example", i % 7) for i in range(200)]
    counts = spark.createDataFrame(rows, "domain string, n long")
    got = {
        r["domain"]: r["n_noisy"]
        for r in dp_noisy_counts(counts, "domain", "n").collect()
    }
    exp = {k: mirror(k, c) for k, c in rows}
    assert got == exp
    # the mechanism is alive: some cells move, none go negative
    moved = sum(1 for (k, c) in rows if got[k] != c)
    assert moved > 20
    assert all(v >= 0 for v in got.values())
