"""Wave-29: greedy max-coverage selection. The cover gate hand-computes
the greedy sequence incl. the tie rule and the saturation stop, and
asserts the submodular monotone-gain property on the real corpus."""

from nerpii_spark.operators import textstats as TS

SF = "/root/testdata/sf0.001"


def test_greedy_cover_hand_golden(spark):
    docs = spark.createDataFrame(
        [(0, "a b c"), (1, "a b"), (2, "c d e f"), (3, "x")],
        "doc_id bigint, text string",
    )
    rows = [tuple(r) for r in TS.greedy_cover(docs, k=6).collect()]
    # bigram universes: doc0 {a b, b c}, doc1 {a b}, doc2 {c d, d e,
    # e f}, doc3 {} (single token). r1: doc2 (+3); r2: doc0 (+2);
    # r3: doc1 fully covered, doc3 empty -> no fresh postings -> stop
    assert rows == [(1, 2, 3, 3), (2, 0, 2, 5)]


def test_greedy_cover_corpus_monotone_gains(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    rows = TS.greedy_cover(docs, k=4).collect()
    gains = [r["gain"] for r in rows]
    # submodularity: marginal gains never increase
    assert gains == sorted(gains, reverse=True)
    assert rows[-1]["n_covered"] == sum(gains)
    assert len({r["doc_id"] for r in rows}) == len(rows)  # no re-picks
