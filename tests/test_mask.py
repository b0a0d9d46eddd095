"""S5 masking goldens (FIXTURES.md F4, mirroring the reference's
tests/test_faker_generator.py:85-168 shape assertions, plus the
determinism/null/mark semantics the reference leaves untested)."""

import pytest
from pyspark.sql import functions as F

from nerpii_spark.functions.hashing import strhash
from nerpii_spark.operators.mask import (
    columns_not_synthesized,
    mask_table,
    mask_triples,
    route_columns,
)
from nerpii_spark.operators.profile import column_profile
from nerpii_spark.sources.pages import luhn_valid


@pytest.fixture(scope="module")
def masked(spark):
    rows = [
        (1, "Laura", "Walsh", "female", "a@b.com", "Chicago", "TX",
         "10145", "(305) 123-4567", "123-45-6789", "4485040993287616",
         "12 Oak Street", "https://x.example/"),
        (2, "JAMES", "Kemp", "male", "c@d.com", "Paris", "CA",
         "99999", "(212) 555-0199", "987-65-4321", "4716461583322103",
         "9 Elm Road", "https://y.example/"),
        (3, "Zoe", None, "female", None, "Berlin", "NY",
         "00001", "(415) 777-8888", "111-22-3333", "4929804463622139",
         None, "https://z.example/"),
    ]
    schema = (
        "rid bigint, first_name string, last_name string,"
        " first_name_gender string, email string, city string, state string,"
        " zip string, phone string, ssn string, credit_card_number string,"
        " address string, web string"
    )
    df = spark.createDataFrame(rows, schema)
    prof = column_profile(df)
    out = mask_table(df, prof, "rid")
    return df, {r["rid"]: r.asDict() for r in out.collect()}, out


def test_all_pii_replaced_and_shaped(masked):
    df, rows, out = masked
    for rid, r in rows.items():
        assert luhn_valid(r["credit_card_number"]) if r["credit_card_number"] else True
        if r["ssn"]:
            assert len(r["ssn"]) == 11 and r["ssn"][3] == r["ssn"][6] == "-"
        if r["phone"]:
            assert r["phone"][0] == "(" and r["phone"][4] == ")"
        if r["zip"]:
            assert len(r["zip"]) == 5 and r["zip"].isdigit()
        if r["email"]:
            assert "@" in r["email"] and "." in r["email"].split("@")[0]
        if r["web"]:
            assert r["web"].startswith("https://www.")
        assert len(r["state"]) == 2  # abbr branch: first value 'TX' has len 2


def test_email_composed_from_name_columns(masked):
    _, rows, _ = masked
    for r in rows.values():
        if r["email"] is None:
            continue
        local = r["email"].split("@")[0]
        assert local == f"{r['first_name'].lower()}.{r['last_name'].lower()}"


def test_gender_aware_first_names(masked):
    from nerpii_spark.functions.gazetteers import FIRST_FEMALE, FIRST_MALE

    _, rows, _ = masked
    assert rows[1]["first_name"] in FIRST_FEMALE
    assert rows[2]["first_name"] in FIRST_MALE
    # gender column consumed and dropped (faker_generator.py:263)
    assert "first_name_gender" not in rows[1]


def test_nulls_preserved(masked):
    _, rows, _ = masked
    # fallback last-name column synthesized where non-null (a keyed draw
    # may coincide with the original 1/40 of the time), null kept null
    from nerpii_spark.functions.gazetteers import LAST_NAMES

    assert rows[1]["last_name"] in LAST_NAMES
    assert rows[3]["last_name"] is None
    assert rows[3]["email"] is None
    assert rows[3]["address"] is None


def test_mask_deterministic(masked):
    df, rows, _ = masked
    prof = column_profile(df)
    again = {r["rid"]: r.asDict() for r in mask_table(df, prof, "rid").collect()}
    assert rows == again


def test_values_actually_changed(masked):
    df, rows, _ = masked
    orig = {r["rid"]: r.asDict() for r in df.collect()}
    for rid in orig:
        for c in ("ssn", "credit_card_number", "phone"):
            if orig[rid][c] is not None:
                assert rows[rid][c] != orig[rid][c]


def test_country_and_mostly_gender_branches(spark):
    """O31 COUNTRY routing + the gender_guesser mostly_* categories
    (faker_generator.py:198-258): mostly_female draws a female name,
    mostly_male a male one."""
    from nerpii_spark.functions.gazetteers import (
        COUNTRIES,
        FIRST_FEMALE,
        FIRST_MALE,
    )

    df = spark.createDataFrame(
        [
            (1, "Kim", "mostly_female", "France"),
            (2, "Terry", "mostly_male", "Japan"),
            (3, "Alex", "andy", None),
        ],
        "rid bigint, first_name string, first_name_gender string,"
        " country string",
    )
    prof = spark.createDataFrame(
        [
            ("first_name", "PERSON", 1.0),
            ("first_name_gender", None, None),
            ("country", "LOCATION", 1.0),
        ],
        "col string, entity string, confidence double",
    )
    rows = {r["rid"]: r.asDict() for r in mask_table(df, prof, "rid").collect()}
    assert rows[1]["country"] in COUNTRIES and rows[2]["country"] in COUNTRIES
    assert rows[3]["country"] is None  # null preserved
    assert rows[1]["first_name"] in FIRST_FEMALE
    assert rows[2]["first_name"] in FIRST_MALE
    assert "first_name_gender" not in rows[1]


def test_italian_locale_masking(spark):
    """lang='it' parity: Italian gazetteer draws, designator-first
    addresses, CAP postcodes in [00010, 99000)."""
    from nerpii_spark.functions.gazetteers import (
        IT_CITIES,
        IT_FIRST_FEMALE,
        IT_LAST_NAMES,
        IT_STREET_TYPES,
    )
    from nerpii_spark.operators.profile import column_profile

    df = spark.createDataFrame(
        [
            (1, "Giulia", "Rossi", "female", "Milano", "20121",
             "(342) 123-4567", "Via Garibaldi 42"),
            (2, "Marco", "Bianchi", "male", "Roma", "00184",
             "(063) 555-0199", "Corso Cavour 7"),
        ],
        "rid bigint, first_name string, last_name string,"
        " first_name_gender string, city string, cap string,"
        " telefono string, indirizzo string",
    )
    prof = column_profile(df, lang="it")
    got = {r["col"]: r["entity"] for r in prof.collect()}
    assert got["first_name"] == "PERSON"      # it gazetteer detector
    assert got["city"] == "LOCATION"          # Milano/Roma via IT_CITIES
    assert got["cap"] == "ZIPCODE"            # it manual rule ('cap')
    assert got["indirizzo"] == "ADDRESS"      # deny list (Via/Corso)
    rows = {r["rid"]: r.asDict()
            for r in mask_table(df, prof, "rid", lang="it").collect()}
    for r in rows.values():
        assert r["city"] in IT_CITIES
        assert r["last_name"] in IT_LAST_NAMES
        assert r["indirizzo"].split(" ")[0] in IT_STREET_TYPES
        assert 10 <= int(r["cap"]) < 99000
    assert rows[1]["first_name"] in IT_FIRST_FEMALE


def test_mark_mode(spark):
    """Generation-mark mode: only cells equal to '*' are replaced
    (faker_generator.py:56,91,138)."""
    df = spark.createDataFrame(
        [(1, "*"), (2, "123-45-6789")], "rid bigint, ssn string"
    )
    prof = spark.createDataFrame(
        [("ssn", "US_SSN", 1.0)], "col string, entity string, confidence double"
    )
    out = {r["rid"]: r["ssn"] for r in mask_table(df, prof, "rid", mark="*").collect()}
    assert out[2] == "123-45-6789"  # untouched
    assert out[1] != "*" and out[1][3] == "-"  # replaced


def test_not_synthesized_report():
    prof = [
        ("person", "PERSON", 1.0),       # full-name col: no synthesizer
        ("company", "ORGANIZATION", 0.5),  # no ORG synthesizer
        ("city", "LOCATION", 1.0),
        ("weak", "LOCATION", 0.2),        # below O19 threshold
        ("my_last_name", "PERSON", 0.2),  # excluded by the regex (:112)
    ]
    routing = route_columns(prof, [c for c, _, _ in prof])
    assert routing["city"] == "city"
    not_synth = columns_not_synthesized(prof, routing)
    assert ("person", "PERSON") in not_synth
    assert ("company", "ORGANIZATION") in not_synth
    assert ("weak", "LOCATION") in not_synth
    assert all(c != "my_last_name" for c, _ in not_synth)


def test_mask_triples_stable_keys(spark):
    """Same original surface -> same synthetic across rows (referential
    stability of the masked KG)."""
    t = spark.createDataFrame(
        [
            (1, "James Smith", "works_at", "Acme Corp", 1.0),
            (2, "James Smith", "lives_in", "Boston", 1.0),
            (3, "Laura Walsh", "has_email", "l.w@x.com", 1.0),
            (4, "Acme Corp", "located_in", "Boston", 1.0),
        ],
        "doc_id bigint, subj string, pred string, obj string, score double",
    )
    got = mask_triples(t).orderBy("doc_id").collect()
    assert got[0]["subj"] == got[1]["subj"]          # stable person synth
    assert got[0]["subj"] != "James Smith"           # replaced
    assert got[3]["subj"] == "Acme Corp"             # org subject untouched
    assert got[0]["obj"] == "Acme Corp"              # org object untouched
    assert "@" in got[2]["obj"] and got[2]["obj"] != "l.w@x.com"


def test_mask_triples_compiles_without_fallback(spark):
    """The masking projection must compile: with the interpreted fallback
    off, a generated method over the JVM's 64 KB limit raises instead of
    silently running interpreted."""
    t = spark.createDataFrame(
        [
            (1, "James Smith", "works_at", "Acme Corp", 1.0),
            (2, "Laura Walsh", "has_phone", "(305) 123-4567", 1.0),
        ],
        "doc_id bigint, subj string, pred string, obj string, score double",
    )
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        rows = mask_triples(t).collect()
    finally:
        spark.conf.unset("spark.sql.codegen.fallback")
    assert len(rows) == 2


def test_strhash_python_sql_parity(spark):
    from nerpii_spark.functions.hashing import sql_strhash

    vals = ["James Smith", "a", "", "Zoe Q. Walsh", "x" * 40]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {
        r["s"]: r["h"]
        for r in df.select("s", F.expr(sql_strhash("s")).alias("h")).collect()
    }
    import duckdb

    for v in vals:
        assert got[v] == strhash(v)
        duck = duckdb.sql(
            f"select {sql_strhash('s')} from (select '{v}' as s)"
        ).fetchone()[0]
        assert duck == strhash(v)


def test_masked_pii_round_trip_detectable(spark):
    """North-star round trip: masked PII surface forms keep the SHAPE of
    the original entity type — the page detectors still classify the
    synthetic values as the same types."""
    from nerpii_spark.operators.detect import (
        RE_EMAIL,
        RE_PERSON,
        RE_PHONE,
    )

    t = spark.createDataFrame(
        [
            (1, "James Smith", "has_email", "james.smith@example.com", 1.0),
            (2, "Laura Walsh", "has_phone", "(305) 123-4567", 1.0),
            (3, "Zoe Quinn", "works_at", "Acme Corp", 1.0),
        ],
        "doc_id bigint, subj string, pred string, obj string, score double",
    )
    rows = {r["doc_id"]: r for r in mask_triples(t).collect()}
    assert RE_PERSON.fullmatch(rows[1]["subj"])
    assert RE_EMAIL.fullmatch(rows[1]["obj"])
    assert RE_PERSON.fullmatch(rows[2]["subj"])
    assert RE_PHONE.fullmatch(rows[2]["obj"])
    assert RE_PERSON.fullmatch(rows[3]["subj"])


def test_custom_generation_mark(spark):
    """A caller-supplied mark (not '*') replaces ONLY marked cells."""
    df = spark.createDataFrame(
        [(1, "<GEN>"), (2, "123-45-6789")], "rid bigint, ssn string"
    )
    prof = spark.createDataFrame(
        [("ssn", "US_SSN", 1.0)], "col string, entity string, confidence double"
    )
    out = {r["rid"]: r["ssn"]
           for r in mask_table(df, prof, "rid", mark="<GEN>").collect()}
    assert out[2] == "123-45-6789"  # untouched despite being real PII shape
    assert out[1] != "<GEN>" and out[1][3] == "-"


def test_unprofiled_columns_pass_through(spark):
    """Non-string / unprofiled columns survive masking untouched (the
    reference mutates the frame in place — nothing is dropped)."""
    df = spark.createDataFrame(
        [(1, 42, 1.5, "123-45-6789")],
        "rid bigint, age int, salary double, ssn string",
    )
    prof = spark.createDataFrame(
        [("ssn", "US_SSN", 1.0)], "col string, entity string, confidence double"
    )
    out = mask_table(df, prof, "rid")
    assert out.columns == ["rid", "age", "salary", "ssn"]
    r = out.collect()[0]
    assert r["age"] == 42 and r["salary"] == 1.5 and r["ssn"] != "123-45-6789"


def test_mask_triples_preserves_column_order(spark):
    t = spark.createDataFrame(
        [(1, "James Smith", "works_at", "Acme Corp", 1.0)],
        "doc_id bigint, subj string, pred string, obj string, score double",
    )
    assert mask_triples(t).columns == t.columns


def test_with_gender_survives_existing_gender_column(spark):
    from nerpii_spark.functions.text import with_gender

    df = spark.createDataFrame(
        [("Laura", "whatever")], "first_name string, gender string"
    )
    out = with_gender(df, "first_name").collect()[0]
    assert out["gender"] == "whatever"          # user column untouched
    assert out["first_name_gender"] == "female"


def test_sql_strhash_null_matches_python(spark):
    from nerpii_spark.functions.hashing import sql_strhash, strhash
    import duckdb

    df = spark.createDataFrame([(None,)], "s string")
    got = df.select(F.expr(sql_strhash("s")).alias("h")).collect()[0]["h"]
    assert got == strhash(None) == strhash("") == 0
    assert duckdb.sql(
        f"select {sql_strhash('s')} from (select cast(null as varchar) as s)"
    ).fetchone()[0] == strhash(None)


def test_redact_text_scrubs_pii(spark):
    """Redaction removes every detected surface form: placeholders
    appear, and no detected mention string survives in its doc."""
    import __spark_entry__ as E
    from nerpii_spark.operators.mask import redact_text

    p = E._pipeline(spark, "/root/testdata/sf0.001")
    red = {r["doc_id"]: r["redacted"]
           for r in redact_text(p["clean"], p["mentions"]).collect()}
    ms = p["mentions"].select("doc_id", "mention", "entity_type").collect()
    assert any("[EMAIL_ADDRESS]" in t for t in red.values())
    assert any("[PERSON]" in t for t in red.values())
    # placeholders themselves contain letter runs ('CA' in '[LOCATION]');
    # the guarantee is that no mention survives OUTSIDE a placeholder
    import re as _re

    from nerpii_spark.operators.mask import REDACT_TYPES

    ph = _re.compile("|".join(_re.escape(f"[{t}]") for t in REDACT_TYPES))
    stripped = {d: ph.sub("\x00", t) for d, t in red.items()}
    for r in ms:
        assert r["mention"] not in stripped[r["doc_id"]], (
            r["doc_id"], r["mention"])


def test_mask_table_keyless_errors_loudly(spark):
    """VERDICT r2 #6: the keyless fallback probed state columns with an
    unordered limit(1) — run-order-dependent — and could never complete
    anyway (every keyed synthetic draws from key_col). It must now fail
    fast with actionable guidance instead of silently varying."""
    rows = [(f"Name{i}", "Texas" if i else "TX") for i in range(6)]
    df = spark.createDataFrame(rows, "first_name string, state string")
    prof_src = spark.createDataFrame(
        [("first_name", "PERSON", 1.0), ("state", "LOCATION", 1.0)],
        "col string, entity string, confidence double",
    )
    with pytest.raises(ValueError, match="content"):
        mask_table(df, prof_src, key_col="rid")
    # the documented remedy works: a content-hash surrogate key
    keyed = df.withColumn("rid", F.xxhash64(*df.columns))
    out = mask_table(keyed, prof_src, key_col="rid")
    assert out.count() == 6


def test_gender_lookup_extension_point(spark):
    """VERDICT r2 missing #2: the frozen gazetteer is a stand-in for
    gender_guesser's full name database — `extra` plugs the real
    dictionary in, extending coverage and overriding built-ins on
    conflict, without touching frozen constants."""
    from nerpii_spark.functions.text import with_gender

    df = spark.createDataFrame(
        [("Zelda",), ("George",), ("Qwxyptr",), (None,)],
        "first_name string",
    )
    extra = [("Zelda", "female"), ("george", "andy")]
    got = {
        r["first_name"]: r["first_name_gender"]
        for r in with_gender(df, "first_name", extra=extra).collect()
    }
    assert got["Zelda"] == "female"          # beyond the gazetteer
    assert got["George"] == "andy"           # extra overrides built-in
    assert got["Qwxyptr"] == "unknown"       # still the documented miss
    assert got[None] == "Nan value"          # reference's null sentinel
    # default path is bit-unchanged (frozen goldens depend on it)
    base = {
        r["first_name"]: r["first_name_gender"]
        for r in with_gender(df, "first_name").collect()
    }
    assert base["George"] == "male" and base["Zelda"] == "unknown"
    # typo'd class fails fast
    with pytest.raises(ValueError, match="unknown gender class"):
        with_gender(df, "first_name", extra=[("x", "woman")])
    # case-variant duplicate keys collapse (last wins) instead of
    # duplicating every matching input row through the broadcast join
    dup = [("Kim", "female"), ("kim", "mostly_female")]
    rows = with_gender(df, "first_name", extra=dup).collect()
    assert len(rows) == df.count()
    lk = {
        r["first_name"]: r["first_name_gender"]
        for r in with_gender(
            spark.createDataFrame([("Kim",)], "first_name string"),
            "first_name",
            extra=dup,
        ).collect()
    }
    assert lk["Kim"] == "mostly_female"
    # a DataFrame dictionary mapping one key to two genders is an error
    from nerpii_spark.functions.text import gender_lookup_df

    conflict = spark.createDataFrame(
        [("kim", "female"), ("Kim", "male")], "name_key string, gender string"
    )
    with pytest.raises(ValueError, match="conflicting genders"):
        gender_lookup_df(spark, extra=conflict)
    baddf = spark.createDataFrame(
        [("kim", "woman")], "name_key string, gender string"
    )
    with pytest.raises(ValueError, match="unknown gender class"):
        gender_lookup_df(spark, extra=baddf)


def test_k_anonymity_before_and_after_masking(spark):
    """The risk report a PII pipeline runs around masking: a table whose
    quasi-identifiers (zip, state) isolate individuals fails k-anonymity;
    after mask_table synthesizes the identifying columns keyed by row id
    (breaking the real-world linkage), the report still runs unchanged
    on the output schema. Classes and thresholds are exact counts."""
    from nerpii_spark.operators.mask import mask_table
    from nerpii_spark.operators.profile import k_anonymity_report

    rows = [
        # one isolated person in 90210 + a k-anonymous crowd in 10001
        (1, "Ada Smith", "90210", "CA", 55.0),
        *[(10 + i, f"Bob{i} Jones", "10001", "NY", 10.0 + i % 3)
          for i in range(6)],
    ]
    df = spark.createDataFrame(
        rows, "rid bigint, full_name string, zip string, state string,"
        " balance double"
    )
    rep = {
        (r["zip"], r["state"]): r
        for r in k_anonymity_report(
            df, ["zip", "state"], "cast(floor(balance) as bigint)",
            k=3, l_div=2,
        ).collect()
    }
    assert not rep[("90210", "CA")]["k_anonymous"]
    assert rep[("90210", "CA")]["n_rows"] == 1
    assert rep[("10001", "NY")]["k_anonymous"]
    assert rep[("10001", "NY")]["l_diverse"]
    # after masking the quasi-identifiers, the same report runs on the
    # synthesized output (columns keep their names) — and the lone
    # 90210 row no longer carries its real zip/state
    prof = spark.createDataFrame(
        [("zip", "ZIPCODE", 1.0), ("state", "LOCATION", 1.0)],
        "col string, entity string, confidence double",
    )
    masked = mask_table(df, prof, key_col="rid")
    out = k_anonymity_report(
        masked, ["zip", "state"], "cast(floor(balance) as bigint)",
        k=3, l_div=2,
    )
    assert out.columns == ["zip", "state", "n_rows", "n_sensitive",
                           "k_anonymous", "l_diverse"]
    mrows = {r["rid"]: r for r in masked.collect()}
    assert (mrows[1]["zip"], mrows[1]["state"]) != ("90210", "CA")
