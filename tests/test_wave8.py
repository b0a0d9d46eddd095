"""Wave-8 operators: aggregate re-identification risk, generalization
ladder, manifest-pruning audit, compaction planner, snapshot expiry."""

import duckdb
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"

from nerpii_spark.operators import layout as LAY
from nerpii_spark.operators.profile import (
    duck_reident_risk_sql,
    generalization_ladder_sql,
    reident_risk,
)


# ---------------------------------------------------------------------------
# reident_risk
# ---------------------------------------------------------------------------


def _pi(spark, rows):
    """rows: (city, state, zip)."""
    return spark.createDataFrame(rows, "city string, state string, zip string")


def test_reident_risk_hand_computed(spark):
    # classes: (a,A,1)x3, (b,B,2)x2, (c,C,3)x1, (d,D,4)x1 ->
    # 7 rows, 4 classes, 2 uniques, min_k=1, max_k=3
    rows = (
        [("a", "A", "1")] * 3 + [("b", "B", "2")] * 2
        + [("c", "C", "3"), ("d", "D", "4")]
    )
    r = reident_risk(_pi(spark, rows), ["city", "state", "zip"]).collect()[0]
    assert (r["n_rows"], r["n_classes"], r["n_unique_rows"],
            r["min_k"], r["max_k"]) == (7, 4, 2, 1, 3)
    assert r["uniq_ppm"] == 1_000_000 * 2 // 7
    assert r["marketer_ppm"] == 1_000_000 * 4 // 7
    assert r["journalist_ppm"] == 1_000_000  # a size-1 class exists


def test_reident_risk_duck_twin_identical(spark):
    rows = [("x", "X", str(i % 3)) for i in range(10)]
    sp = reident_risk(_pi(spark, rows), ["city", "state", "zip"]).collect()[0]
    con = duckdb.connect()
    con.execute(
        "create table pi as select * from (values "
        + ", ".join(f"('x', 'X', '{i % 3}')" for i in range(10))
        + ") t(city, state, zip)"
    )
    dk = con.execute(
        duck_reident_risk_sql("pi", ["city", "state", "zip"])
    ).fetchone()
    assert tuple(sp) == tuple(dk)


# ---------------------------------------------------------------------------
# generalization ladder
# ---------------------------------------------------------------------------


def test_generalize_ladder_monotone_on_fixture(spark):
    from nerpii_spark.sources import pages as P

    spark.read.parquet(f"{SF}/documents.parquet").createOrReplaceTempView(
        "nerpii_documents_gl_t"
    )
    spark.sql(
        "create or replace temporary view nerpii_pi_gl_t as "
        + P.personal_info_sql("spark", doc_rel="nerpii_documents_gl_t")
    )
    rows = {
        r["level"]: r
        for r in spark.sql(
            generalization_ladder_sql("spark", "nerpii_pi_gl_t")
        ).collect()
    }
    assert set(rows) == {0, 1, 2, 3}
    # coarsening can only merge classes: min_k nondecreasing, uniques
    # nonincreasing, anon coverage nondecreasing
    for a, b in [(0, 1), (1, 2), (2, 3)]:
        assert rows[a]["min_k"] <= rows[b]["min_k"]
        assert rows[a]["n_unique_rows"] >= rows[b]["n_unique_rows"]
        assert rows[a]["anon_ppm"] <= rows[b]["anon_ppm"]
    # level 3 is the whole table in one class
    assert rows[3]["n_classes"] == 1
    assert rows[3]["anon_ppm"] == 1_000_000
    # level 0 reproduces the everyone-is-unique result (zip is per-row)
    assert rows[0]["anon_ppm"] == 0


# ---------------------------------------------------------------------------
# manifest pruning audit
# ---------------------------------------------------------------------------


def test_manifest_prune_zorder_skips_user_constrained_preds(spark):
    spark.read.parquet(f"{SF}/events.parquet").createOrReplaceTempView(
        "nerpii_events_prune_t"
    )
    out = {
        (r["layout"], r["pred_id"]): r
        for r in spark.sql(
            LAY.manifest_prune_sql("spark", "nerpii_events_prune_t")
        ).collect()
    }
    assert len(out) == 2 * len(LAY.PRUNE_PREDS)
    # time-layout files span the full user axis -> the pure-y predicate
    # (p2) scans every file there; zorder bounds y per file and skips
    t2, z2 = out[("time", 2)], out[("zorder", 2)]
    assert t2["files_scanned"] == t2["files_total"]
    assert z2["files_scanned"] < z2["files_total"]
    # boxes constrained on BOTH axes: zorder scans a strictly smaller
    # row volume than the time layout
    for p in (3, 5):
        assert (
            out[("zorder", p)]["rows_scanned"]
            <= out[("time", p)]["rows_scanned"]
        )
    # pruning is sound: every matching ROW lives in a scanned file,
    # so rows_scanned >= true selectivity count for every (layout, pred)
    dims = LAY.prune_dims_sql("spark", "nerpii_events_prune_t")
    for (pid, xlo, xhi, ylo, yhi) in LAY.PRUNE_PREDS:
        true_n = spark.sql(
            f"select count(*) as n from ({dims}) d"
            f" where x >= {xlo} and x < {xhi}"
            f" and y >= {ylo} and y < {yhi}"
        ).collect()[0]["n"]
        for lay in ("zorder", "time"):
            assert out[(lay, pid)]["rows_scanned"] >= true_n


# ---------------------------------------------------------------------------
# compaction planner
# ---------------------------------------------------------------------------


def _manifest(spark, rows):
    """rows: (part, file_id, bytes)."""
    return spark.createDataFrame(
        rows, "part string, file_id bigint, bytes bigint"
    )


def test_compaction_plan_hand_computed(spark):
    # part a: smalls 60+60+60+60 at target 100 -> cum_before 0,60,120,180
    # -> bins 0,0,1,1; one 500-byte file rides solo
    rows = [("a", i, 60) for i in range(4)] + [("a", 99, 500)]
    out = {
        (r["part"], r["bin_id"], r["kind"]): r
        for r in LAY.compaction_plan(
            _manifest(spark, rows), target_bytes=100
        ).collect()
    }
    assert out[("a", 0, "packed")]["n_files"] == 2
    assert out[("a", 0, "packed")]["bytes_total"] == 120
    assert out[("a", 1, "packed")]["n_files"] == 2
    solo = out[("a", 99 + (1 << 20), "solo")]
    assert (solo["n_files"], solo["bytes_total"]) == (1, 500)
    assert len(out) == 3


def test_compaction_plan_every_nonlast_bin_reaches_target(spark):
    files = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .groupBy(
            F.col("lang").alias("part"),
            (F.col("doc_id") % 256).cast("bigint").alias("file_id"),
        )
        .agg(F.expr("cast(sum(n_chars) as bigint)").alias("bytes"))
    )
    plan = LAY.compaction_plan(files, target_bytes=16384).collect()
    packed = [r for r in plan if r["kind"] == "packed"]
    by_part = {}
    for r in packed:
        by_part.setdefault(r["part"], []).append(r)
    for part, rows in by_part.items():
        rows.sort(key=lambda r: r["bin_id"])
        cum = 0
        for i, r in enumerate(rows):
            # every bin stays under 2*target (smalls never skip a bin)
            assert r["bytes_total"] < 2 * 16384
            cum += r["bytes_total"]
            if i < len(rows) - 1:
                # the TRUE packing invariant: bin k closes only after
                # the cumulative stream passes (k+1)*target
                assert cum >= (r["bin_id"] + 1) * 16384, (part, r)
    # conservation: every small file's bytes land in exactly one bin
    total_small = (
        files.where(F.col("bytes") < 16384)
        .agg(F.expr("cast(sum(bytes) as bigint)").alias("b"))
        .collect()[0]["b"]
    )
    assert sum(r["bytes_total"] for r in packed) == total_small


# ---------------------------------------------------------------------------
# snapshot expiry
# ---------------------------------------------------------------------------


def test_snapshot_expiry_policy(spark):
    spark.read.parquet(f"{SF}/events.parquet").createOrReplaceTempView(
        "nerpii_events_snap_t"
    )
    rows = spark.sql(
        LAY.snapshot_expiry_sql("spark", "nerpii_events_snap_t")
    ).collect()
    by_tbl = {}
    for r in rows:
        by_tbl.setdefault(r["tbl"], []).append(r)
    assert len(by_tbl) == 5  # one table per event type
    for tbl, snaps in by_tbl.items():
        snaps.sort(key=lambda r: r["rn"])
        head = max(r["snap_ts"] for r in snaps)
        for r in snaps:
            age_s = (head - r["snap_ts"]).total_seconds()
            expect = (
                "keep"
                if r["rn"] <= LAY.SNAP_RETAIN_LAST
                or age_s <= LAY.SNAP_RETAIN_HOURS * 3600
                else "expire"
            )
            assert r["action"] == expect, (tbl, r)
        # the 30-day stream must actually exercise both branches
        acts = {r["action"] for r in snaps}
        assert acts == {"keep", "expire"}


# ---------------------------------------------------------------------------
# expectations gate
# ---------------------------------------------------------------------------


def test_expectations_planted_violations(spark):
    from nerpii_spark.operators.diagnose import expectations_report

    clean = spark.createDataFrame(
        [
            (1, "http://a.com/x", "en", "good text"),
            (2, "http://a.com/x", "en", ""),          # dup url + empty text
            (3, "http://b.com/y", "xx", "more text"), # unknown lang
        ],
        "doc_id bigint, url string, lang string, text string",
    )
    mentions = spark.createDataFrame(
        [
            (1, "PERSON", "Alice"),
            (2, "ALIEN", "Zork"),    # unknown type
            (9, "PERSON", ""),       # missing doc + empty surface
        ],
        "doc_id bigint, entity_type string, mention string",
    )
    triples = spark.createDataFrame(
        [
            (1, "Alice", "works_at", "Acme"),
            (1, "Alice", "works_at", "Acme"),   # duplicate assertion
            (2, "Bob", "eats", "Pizza"),        # unknown predicate
            (9, "Carol", "lives_in", ""),       # missing doc + empty obj
        ],
        "doc_id bigint, subj string, pred string, obj string",
    )
    out = {
        r["check_id"]: r
        for r in expectations_report(
            clean, mentions, triples, langs=["en", "it"]
        ).collect()
    }
    expect = {
        "pages_text_nonempty": (3, 1),
        "pages_url_unique": (3, 1),
        "pages_lang_known": (3, 1),
        "mentions_surface_nonempty": (3, 1),
        "mentions_type_known": (3, 1),
        "mentions_doc_fk": (3, 1),
        "triples_fields_nonempty": (4, 1),
        "triples_pred_known": (4, 1),
        "triples_dup_assertions": (4, 1),
        "triples_doc_fk": (4, 1),
    }
    assert set(out) == set(expect)
    for cid, (n, v) in expect.items():
        r = out[cid]
        assert (r["n_checked"], r["n_violations"], r["passed"]) == (
            n, v, False
        ), cid


def test_expectations_span_checks_opt_in(spark):
    from nerpii_spark.operators.diagnose import expectations_report

    clean = spark.createDataFrame(
        [(1, "http://a.com", "en", "text")],
        "doc_id bigint, url string, lang string, text string",
    )
    mentions = spark.createDataFrame(
        [
            (1, "PERSON", "Alice", 0, 5),
            (1, "PERSON", "Bob", -2, 1),   # negative begin
            (1, "PERSON", "Eve", 7, 7),    # empty span
        ],
        "doc_id bigint, entity_type string, mention string,"
        " begin bigint, end bigint",
    )
    triples = spark.createDataFrame(
        [], "doc_id bigint, subj string, pred string, obj string"
    )
    out = {
        r["check_id"]: r
        for r in expectations_report(
            clean, mentions, triples, span_checks=True
        ).collect()
    }
    assert out["mentions_begin_nonneg"]["n_violations"] == 1
    assert out["mentions_end_after_begin"]["n_violations"] == 1
    assert len(out) == 12
    # empty triples: zero checked, zero violations, still passes
    assert out["triples_doc_fk"]["n_checked"] == 0
    assert out["triples_doc_fk"]["passed"]


def test_expectations_green_on_planted_corpus(spark):
    import __spark_entry__ as E

    out = {r["check_id"]: r for r in
           E.q_expectations(spark, SF.replace("0.01", "0.001")).collect()}
    assert len(out) == 10
    # every structural/vocabulary/FK check passes on the planted corpus...
    for cid, r in out.items():
        if cid != "triples_dup_assertions":
            assert r["passed"], (cid, r["n_violations"])
    # ...and the dup check correctly SURFACES the one planted collision
    # (doc 229 asserts "Acme LLC located_in Seattle" twice — two
    # works_at sentences drawing the same org+city) — data-inherent
    # redundancy, exactly what the gate exists to report
    assert out["triples_dup_assertions"]["n_violations"] == 1
    assert not out["triples_dup_assertions"]["passed"]


# ---------------------------------------------------------------------------
# bloom semi-join runtime filter
# ---------------------------------------------------------------------------


def test_bloom_semi_join_exact_and_prefiltering(spark):
    from nerpii_spark.operators.runtime_filter import (
        bloom_build_keys,
        bloom_semi_join,
    )

    fact = spark.createDataFrame(
        [(i, f"v{i}") for i in range(2000)], "k bigint, payload string"
    )
    dim = spark.createDataFrame(
        [(i,) for i in range(0, 2000, 100)], "dk bigint"  # 20 of 2000 keys
    )
    out = bloom_semi_join(fact, dim, "k", "dk").collect()
    # exactness: identical to the plain semi join
    expect = {(i, f"v{i}") for i in range(0, 2000, 100)}
    assert {(r["k"], r["payload"]) for r in out} == expect
    # schema untouched: fact columns only, no helper columns leak
    assert [f.name for f in bloom_semi_join(fact, dim, "k", "dk").schema] \
        == ["k", "payload"]
    # the pre-filter genuinely reduces the exact join's input: probing
    # the bitmap alone (no exact join) keeps every true match and only
    # a bounded FP tail — measured well under the fact count
    bloom = {r["word"]: r["bits"] for r in
             bloom_build_keys(dim, "dk").collect()}
    from nerpii_spark.functions.hashing import h1, h2
    from nerpii_spark.operators.dedup import BLOOM_BITS, BLOOM_K, BLOOM_SALT

    survivors = 0
    for i in range(2000):
        hit = True
        for j in range(BLOOM_K):
            p = h2(h1(i, BLOOM_SALT), j) % BLOOM_BITS
            if not (bloom.get(p // 32, 0) >> (p % 32)) & 1:
                hit = False
                break
        survivors += hit
    assert survivors >= 20            # no false negatives
    assert survivors < 2000 * 0.05    # >95% of fact rows never reach the join


# ---------------------------------------------------------------------------
# LSH banding tuning report
# ---------------------------------------------------------------------------


def test_lsh_prob_rows_match_closed_form():
    from nerpii_spark.operators.dedup import LSH_BUCKET_MILLI, lsh_prob_rows

    for bucket, b, r, p_e6 in lsh_prob_rows():
        s = min(bucket * LSH_BUCKET_MILLI + LSH_BUCKET_MILLI // 2, 1000) / 1000
        expect = 1 - (1 - s ** r) ** b
        # integer fixed-point floors at every multiply -> tiny downward
        # bias only
        assert abs(p_e6 / 1e6 - expect) < 2e-3, (bucket, b, r)
        assert 0 <= p_e6 <= 1_000_000


def test_lsh_tuning_report_hand_histogram(spark):
    from nerpii_spark.operators.dedup import lsh_tuning_report

    # two pairs at sim 0.525-bucket (21/40), one at 0.975-bucket (39/40)
    pairs = spark.createDataFrame(
        [(1, 2, 21, 40), (3, 4, 21, 40), (5, 6, 39, 40)],
        "id_a bigint, id_b bigint, n_inter bigint, n_union bigint",
    )
    out = {(r["n_bands"], r["band_rows"]): r
           for r in lsh_tuning_report(pairs).collect()}
    assert set(out) == {(16, 1), (8, 2), (4, 4), (2, 8), (1, 16)}
    for v in out.values():
        assert v["n_pairs"] == 3
    # more rows per band = sharper curve = lower recall on this
    # tau-floor-heavy distribution; r=1/b=16 (the shipped layout) wins
    recalls = [out[(b, r)]["exp_recall_e6"]
               for b, r in [(16, 1), (8, 2), (4, 4), (2, 8), (1, 16)]]
    assert recalls == sorted(recalls, reverse=True)
    assert recalls[0] > 990_000
    # weighted-mean arithmetic replays exactly
    from nerpii_spark.operators.dedup import lsh_prob_rows

    p = {(bk, b, r): v for bk, b, r, v in lsh_prob_rows()}
    for (b, r), row in out.items():
        expect = (2 * p[(10, b, r)] + 1 * p[(19, b, r)]) // 3
        assert row["exp_recall_e6"] == expect


# ---------------------------------------------------------------------------
# mask leakage audit
# ---------------------------------------------------------------------------


def test_mask_leakage_detects_copy_through(spark):
    from nerpii_spark.operators.mask import mask_leakage_report

    orig = spark.createDataFrame(
        [(1, "Alice", "NYC"), (2, "Bob", "LA"), (3, None, "SF")],
        "row_id bigint, name string, city string",
    )
    # name column was "masked" by copying through; city genuinely synthed
    masked = spark.createDataFrame(
        [(1, "Alice", "Rome"), (2, "Bob", "Oslo"), (3, "Eve", "SF")],
        "row_id bigint, name string, city string",
    )
    out = {r["column"]: r for r in mask_leakage_report(
        orig, masked, ["name", "city"], "row_id").collect()}
    # null original cells don't count as checked
    assert (out["name"]["n_cells"], out["name"]["n_coincide"]) == (2, 2)
    assert out["name"]["coincide_ppm"] == 1_000_000  # copy-through caught
    assert (out["city"]["n_cells"], out["city"]["n_coincide"]) == (3, 1)
    assert out["city"]["coincide_ppm"] == 333_333


def test_mask_leakage_floor_on_fixture(spark):
    import __spark_entry__ as E

    out = {r["column"]: r for r in
           E.q_mask_leakage(spark, SF.replace("0.01", "0.001")).collect()}
    assert len(out) == 12
    # high-entropy synthetics can never coincide with originals
    for c in ("ssn", "credit_card_number", "phone", "email", "web",
              "address", "zip"):
        assert out[c]["n_coincide"] == 0, c
    # gazetteer-drawn columns sit at the 1/|list| coincidence floor —
    # well under 10%, never a copy-through
    for c in ("city", "state", "country", "first_name", "last_name"):
        assert out[c]["coincide_ppm"] < 100_000, (c, out[c])


# ---------------------------------------------------------------------------
# host gini
# ---------------------------------------------------------------------------


def test_host_gini_hand_computed(spark):
    from nerpii_spark.operators.webgraph import host_gini

    # hosts a:1, b:1, c:6 pages -> sorted x = [1,1,6], n=3, T=8
    # s = 1*1 + 2*1 + 3*6 = 21; G = (42 - 4*8)/(3*8) = 10/24
    rows = (
        [("http://a.example/p",)] + [("http://b.example/p",)]
        + [("http://c.example/%d" % i,) for i in range(6)]
    )
    r = host_gini(spark.createDataFrame(rows, "url string")).collect()[0]
    assert (r["n_hosts"], r["total_pages"]) == (3, 8)
    assert r["gini_e6"] == 1_000_000 * 10 // 24


def test_host_gini_bounds(spark):
    from nerpii_spark.operators.webgraph import host_gini

    # perfectly equal distribution -> G = (n-1-... ) ~ 0 exactly:
    # x_i all equal => 2*s = (n+1)*T => numerator 0
    rows = [(f"http://h{i}.example/{j}",) for i in range(5)
            for j in range(4)]
    r = host_gini(spark.createDataFrame(rows, "url string")).collect()[0]
    assert r["gini_e6"] == 0


# ---------------------------------------------------------------------------
# temporal split + lang-id confusion
# ---------------------------------------------------------------------------


def test_split_temporal_ordered_and_proportioned(spark):
    import __spark_entry__ as E

    rows = {r["split"]: r for r in
            E.q_split_temporal(spark, SF).collect()}
    assert set(rows) == {"train", "val", "test"}
    # strict temporal ordering: no future byte leaks into a past split
    assert rows["train"]["max_epoch"] < rows["val"]["min_epoch"]
    assert rows["val"]["max_epoch"] < rows["test"]["min_epoch"]
    # the planted clock is uniform in doc_id -> ~80/10/10
    total = sum(r["n_docs"] for r in rows.values())
    assert abs(rows["train"]["n_docs"] / total - 0.8) < 0.02
    assert abs(rows["val"]["n_docs"] / total - 0.1) < 0.02


def test_lang_drift_exposes_metadata_content_mismatch(spark):
    import __spark_entry__ as E

    rows = E.q_lang_drift(spark, SF).collect()
    per_meta = {}
    for r in rows:
        per_meta.setdefault(r["lang_meta"], []).append(r)
    assert len(per_meta) == 5
    for lang, rs in per_meta.items():
        best = max(rs, key=lambda r: r["n_docs"])
        if lang == "en":
            # en metadata agrees with content
            assert best["lang_pred"] == "en"
        else:
            # the planted corpus text is English-vocabulary filler
            # under rotated metadata labels — the audit must SURFACE
            # that drift, not average it away
            assert best["lang_pred"] != lang, (lang, rs)


# ---------------------------------------------------------------------------
# triple P/R eval
# ---------------------------------------------------------------------------


def test_triple_eval_certifies_pr_one(spark):
    import __spark_entry__ as E

    r = E.q_triple_eval(spark, SF.replace("0.01", "0.001")).collect()[0]
    # the north-rule criterion (P/R >= 0.95), measured: exactly 1.0
    assert r["precision_ppm"] == 1_000_000
    assert r["recall_ppm"] == 1_000_000
    assert r["n_pred"] == r["n_true"] == r["n_correct"] > 0


# ---------------------------------------------------------------------------
# incremental near-dedup
# ---------------------------------------------------------------------------


def test_incremental_dedup_consistent_with_full(spark):
    """incremental(base, delta) must equal the from-scratch pair set
    restricted to delta-touching pairs — incremental == full by
    construction, the same consistency contract the incremental
    linker carries."""
    from nerpii_spark.operators.dedup import (
        incremental_dup_pairs,
        minhash_dup_pairs,
    )
    import __spark_entry__ as E

    d = E._dup_docs(spark, SF)
    full = {
        (r["id_a"], r["id_b"])
        for r in minhash_dup_pairs(d).collect()
    }
    expect = {(a, b) for a, b in full if a % 4 == 0 or b % 4 == 0}
    got = {
        (r["id_a"], r["id_b"])
        for r in incremental_dup_pairs(
            d.where(F.expr("doc_id % 4 != 0")),
            d.where(F.expr("doc_id % 4 = 0")),
        ).collect()
    }
    assert got == expect
    # and base-base pairs never leak out of the incremental path
    assert all(a % 4 == 0 or b % 4 == 0 for a, b in got)
    assert got  # the split actually exercises cross-batch pairs
