"""S5 — masked variant: keyed deterministic PII substitution.

Reproduces the FakerGenerator phase (faker_generator.py:622-643, operators
O19-O32 in SURVEY.md §2.1) with two deliberate upgrades:

  * every synthetic value is a pure function of a 64-bit key through the
    portable LCG (functions/hashing.py) instead of Faker's global RNG —
    masked output is deterministic across runs AND recomputable by the
    DuckDB oracle in plain SQL (the correctness gate actually checks the
    synthesized values);
  * triple masking keys by the ORIGINAL surface form (strhash), so every
    occurrence of the same entity maps to the same synthetic replacement —
    join keys stay stable across the masked KG (the reference draws a
    fresh random value per cell: no referential integrity).

Reference semantics preserved exactly:
  * column routing predicates per synthesizer (entity + column-name rules,
    faker_generator.py:120-596) including the 'indirizzo' address clause,
    the last-name fallback to entity-less `*last*name*` columns (:308-313)
    and the state-abbr branch decided by the column's first value (:412);
  * O19 confidence filter > 0.3 and the not-synthesized report with its
    last-name exclusion regex (:105,:112);
  * generation-mark mode (only cells == "*" replaced) vs null-preserve
    mode (:137-154);
  * email = synthesized_first.lower() '.' synthesized_last.lower() '@'
    free-email-domain, row-aligned with the first/last name columns
    (:331-369) — alignment falls out of keying both by the same row key;
  * gender-aware first names from a `first_name_gender` column
    (:198-263), which is dropped afterwards (:263);
  * synthesized credit cards are Luhn-valid, SSNs are ###-##-####.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import gazetteers as G
from ..functions.hashing import sql_hn, sql_strhash
from ..sources.pages import _lpad, _luhn_check_sql, _pick, _s

GEN_MARK = "*"

# ---------------------------------------------------------------------------
# keyed synthesizer expressions (dialect-portable, mirroring Faker providers)
# ---------------------------------------------------------------------------


def _k(key_expr: str, salt: int, extra: int = 0) -> str:
    return sql_hn(key_expr, salt, 7 + extra)


def synth_sql(dialect: str, kind: str, key_expr: str, salt: int,
              gender_expr: str | None = None, lang: str = "en") -> str:
    """SQL expression producing the synthetic value of `kind` for the row
    key `key_expr` (column-salted). Valid in Spark SQL and DuckDB SQL.
    `lang='it'` mirrors the reference's Faker(['it_IT']) locale
    (faker_generator.py:83-87): Italian name/city/street gazetteers,
    designator-first addresses ('Via Garibaldi 42'), and postcode() in
    the CAP range instead of zipcode() (:478-513)."""
    k = lambda extra: _k(key_expr, salt, extra)
    if kind == "address":  # faker.street_address()
        if lang == "it":
            return (
                f"({_pick(dialect, G.IT_STREET_TYPES, f'{k(2)} % 5')} || ' ' || "
                f"{_pick(dialect, G.IT_STREET_WORDS, f'{k(1)} % 12')} || ' ' || "
                f"{_s(f'(1 + {k(0)} % 999)')})"
            )
        return (
            f"({_s(f'(1 + {k(0)} % 999)')} || ' ' || "
            f"{_pick(dialect, G.STREET_WORDS, f'{k(1)} % 24')} || ' ' || "
            f"{_pick(dialect, G.STREET_TYPES, f'{k(2)} % 6')})"
        )
    if kind == "phone":  # faker.phone_number()
        return (
            f"('(' || {_s(f'(200 + {k(0)} % 800)')} || ') ' || "
            f"{_lpad(f'({k(1)} % 1000)', 3)} || '-' || {_lpad(f'({k(2)} % 10000)', 4)})"
        )
    if kind == "first_name":
        fem = G.IT_FIRST_FEMALE if lang == "it" else G.FIRST_FEMALE
        mal = G.IT_FIRST_MALE if lang == "it" else G.FIRST_MALE
        alln = G.IT_FIRST_NAMES if lang == "it" else G.FIRST_NAMES
        if gender_expr is None:
            return _pick(dialect, alln, f"{k(3)} % {len(alln)}")
        female = _pick(dialect, fem, f"{k(3)} % {len(fem)}")
        male = _pick(dialect, mal, f"{k(3)} % {len(mal)}")
        anyn = _pick(dialect, alln, f"{k(3)} % {len(alln)}")
        return (
            f"(case when {gender_expr} in ('female', 'mostly_female') then {female}"
            f" when {gender_expr} in ('male', 'mostly_male') then {male}"
            f" else {anyn} end)"
        )
    if kind == "last_name":
        lasts = G.IT_LAST_NAMES if lang == "it" else G.LAST_NAMES
        return _pick(dialect, lasts, f"{k(4)} % {len(lasts)}")
    if kind == "email":  # composed from the same row's first/last draws
        first = synth_sql(dialect, "first_name", key_expr, salt, gender_expr, lang)
        last = synth_sql(dialect, "last_name", key_expr, salt, lang=lang)
        dom = _pick(dialect, G.EMAIL_DOMAINS, f"{k(5)} % 8")
        return f"(lower({first}) || '.' || lower({last}) || '@' || {dom})"
    if kind == "city":
        cities = G.IT_CITIES if lang == "it" else G.CITIES
        return _pick(dialect, cities, f"{k(6)} % {len(cities)}")
    if kind == "state":
        return _pick(dialect, G.STATES, f"{k(7)} % 50")
    if kind == "state_abbr":
        return _pick(dialect, G.STATE_ABBR, f"{k(7)} % 50")
    if kind == "url":  # faker.url()
        return (
            f"('https://www.' || lower({_pick(dialect, G.ORG_WORDS, f'{k(8)} % 32')})"
            f" || '.example/')"
        )
    if kind == "zipcode":
        if lang == "it":  # postcode(): Italian CAP range 00010-98999
            return _lpad(f"(10 + {k(9)} % 98990)", 5)
        return _lpad(f"({k(9)} % 100000)", 5)  # en zipcode(): 5 uniform digits
    if kind == "credit_card":  # Luhn-valid 16 digits
        a, b = f"({k(10)} % 10000000)", f"({k(11)} % 10000000)"
        return (
            f"('4' || {_lpad(a, 7)} || {_lpad(b, 7)} || "
            f"{_s(_luhn_check_sql(dialect, a, b))})"
        )
    if kind == "ssn":
        return (
            f"({_s(f'(100 + {k(12)} % 800)')} || '-' || "
            f"{_s(f'(10 + {k(13)} % 90)')} || '-' || {_lpad(f'({k(14)} % 10000)', 4)})"
        )
    if kind == "country":
        return _pick(dialect, G.COUNTRIES, f"{k(15)} % 24")
    raise ValueError(f"unknown synth kind: {kind}")


# ---------------------------------------------------------------------------
# column routing (faker_generator.py:120-596 predicates, O19 filter)
# ---------------------------------------------------------------------------


def route_columns(
    profile: list[tuple[str, str | None, float | None]],
    all_cols: list[str],
    state_abbr_cols: set[str] | None = None,
) -> dict[str, str]:
    """(col, entity, confidence) rows + the table's columns -> {col: kind}.
    `state_abbr_cols`: state columns whose first value has length 2
    (the reference's iloc[0] branch, :412)."""
    state_abbr_cols = state_abbr_cols or set()
    assigned = {
        c: e for c, e, conf in profile if e is not None and (conf or 0) > 0.3
    }
    routing: dict[str, str] = {}
    for c, e in assigned.items():
        cl = c.lower()
        if e == "ADDRESS" or "indirizzo" in cl or (
            e == "LOCATION" and "address" in cl
        ):
            routing[c] = "address"
        elif e == "PHONE_NUMBER":
            routing[c] = "phone"
        elif e == "PERSON" and "first" in cl and "name" in cl:
            routing[c] = "first_name"
        elif e == "PERSON" and "last" in cl and "name" in cl:
            routing[c] = "last_name"
        elif e == "EMAIL_ADDRESS":
            routing[c] = "email"
        elif e == "LOCATION" and ("city" in cl or "cities" in cl):
            routing[c] = "city"
        elif e == "LOCATION" and "state" in cl:
            routing[c] = "state_abbr" if c in state_abbr_cols else "state"
        elif e == "URL":
            routing[c] = "url"
        elif e == "ZIPCODE":
            routing[c] = "zipcode"
        elif e == "CREDIT_CARD_NUMBER":
            routing[c] = "credit_card"
        elif e == "US_SSN":
            routing[c] = "ssn"
        elif e == "LOCATION" and "country" in cl:
            routing[c] = "country"
    # last-name fallback: entity-less *last*name* columns (:308-313)
    if not any(k == "last_name" for k in routing.values()):
        for c in all_cols:
            cl = c.lower()
            if "last" in cl and "name" in cl and c not in routing:
                routing[c] = "last_name"
    return routing


def columns_not_synthesized(
    profile: list[tuple[str, str | None, float | None]],
    routing: dict[str, str],
) -> list[tuple[str, str]]:
    """O32 report: assigned-entity columns that no synthesizer covered,
    plus the O19 low-confidence list with its last-name exclusion (:112)."""
    out = []
    for c, e, conf in profile:
        if e is None:
            continue
        if (conf or 0) > 0.3:
            if c not in routing:
                out.append((c, e))
        elif not re.match(r".*?last.*?name.*?", c.lower()):
            out.append((c, e))
    return out


# ---------------------------------------------------------------------------
# table masking
# ---------------------------------------------------------------------------


def masked_select_sql(
    dialect: str,
    rel: str,
    all_cols: list[str],
    routing: dict[str, str],
    key_col: str,
    mark: str | None = None,
    gender_col: str | None = None,
    extra_cols: list[str] | None = None,
    lang: str = "en",
) -> str:
    """SELECT over `rel` replacing routed columns with keyed synthetics.
    Null-preserve mode replaces every non-null cell; mark mode replaces
    only cells equal to the mark (:137-154). The gender column is consumed
    and dropped (:263). `lang` selects the Faker locale (en/it)."""
    salts = {c: i + 1 for i, c in enumerate(sorted(all_cols))}
    gq = None
    if gender_col:
        gq = f'"{gender_col}"' if dialect == "duck" else f"`{gender_col}`"
    # email composes from the first/last NAME columns' draws, row-aligned
    # (the reference passes get_first_name/get_last_name's lists, :630-632)
    first_col = next((c for c, k in routing.items() if k == "first_name"), None)
    last_col = next((c for c, k in routing.items() if k == "last_name"), None)
    qc = (lambda c: f'"{c}"') if dialect == "duck" else (lambda c: f"`{c}`")
    parts = [f"{qc(key_col)} as {qc(key_col)}"]
    for c in extra_cols or []:
        parts.append(c)
    for c in all_cols:
        if c == gender_col or c == key_col:
            continue  # gender dropped after use; key already emitted
        q = qc(c)
        if c not in routing:
            parts.append(f"{q} as {q}")
            continue
        g = gq if routing[c] in ("first_name", "email") else None
        if routing[c] == "email":
            first = synth_sql(
                dialect, "first_name", key_col, salts.get(first_col, salts[c]),
                g, lang,
            )
            last = synth_sql(
                dialect, "last_name", key_col, salts.get(last_col, salts[c]),
                lang=lang,
            )
            dom = _pick(
                dialect, G.EMAIL_DOMAINS, f"{_k(key_col, salts[c], 5)} % 8"
            )
            synth = f"(lower({first}) || '.' || lower({last}) || '@' || {dom})"
        else:
            synth = synth_sql(dialect, routing[c], key_col, salts[c], g, lang)
        if mark is not None:
            m = mark.replace("'", "''")
            repl = f"case when {q} = '{m}' then {synth} else {q} end"
        else:
            repl = f"case when {q} is null then null else {synth} end"
        parts.append(f"{repl} as {q}")
    return f"select {', '.join(parts)} from {rel}"


_MASK_VIEW_N = [0]


def mask_table(
    df: DataFrame,
    profile: DataFrame,
    key_col: str,
    mark: str | None = None,
    lang: str = "en",
) -> DataFrame:
    """Spark operator: apply the masked SELECT to `df` given its
    column_profile. Routing decisions (incl. the state first-value-length
    branch) happen driver-side on tiny data; the masking itself is one
    Catalyst projection — zero shuffles, zero UDFs."""
    if key_col not in df.columns:
        # VERDICT r2 #6: the old fallback probed state columns with an
        # unordered limit(1) — run-order-dependent (whichever partition
        # answers first). It was also unreachable-in-full: every keyed
        # synthetic in masked_select_sql draws from key_col, so a
        # keyless mask can never complete. Fail loudly instead.
        raise ValueError(
            f"mask_table requires key_col ({key_col!r}) to exist in the"
            " DataFrame: keyed synthetics and the state-abbr probe are"
            " deterministic draws keyed by it. For a keyless table,"
            " derive a stable surrogate first, e.g."
            " df.withColumn('rid', F.xxhash64(*df.columns)) — a content"
            " hash, NOT monotonically_increasing_id (partition-order"
            " dependent)."
        )
    prof_rows = [
        (r["col"], r["entity"], r["confidence"]) for r in profile.collect()
    ]
    # emit EVERY input column (reference mutates the frame in place):
    # unprofiled/non-string columns pass through untouched; only the
    # profile drives routing
    all_cols = [c for c in df.columns if c != key_col]
    gender_col = "first_name_gender" if "first_name_gender" in df.columns else None
    # state-abbr branch: first value (by key order, deterministic) length 2
    # — ONE min_by aggregation job for all state columns, not one job each
    state_cols = [
        c for c, e, conf in prof_rows
        if e == "LOCATION" and (conf or 0) > 0.3 and "state" in c.lower()
    ]
    abbr = set()
    if state_cols:
        probes = df.agg(
            *[F.min_by(F.col(c), F.col(key_col)).alias(c) for c in state_cols]
        ).collect()[0]
        abbr = {
            c for c in state_cols
            if probes[c] is not None and len(probes[c]) == 2
        }
    routing = route_columns(prof_rows, list(df.columns), abbr)
    _MASK_VIEW_N[0] += 1
    view = f"nerpii_mask_in_{_MASK_VIEW_N[0]}"
    df.createOrReplaceTempView(view)
    sql = masked_select_sql(
        "spark", view, all_cols, routing, key_col, mark, gender_col, lang=lang
    )
    return df.sparkSession.sql(sql)


# ---------------------------------------------------------------------------
# triple masking
# ---------------------------------------------------------------------------

PERSON_SUBJ_PREDS = ["works_at", "lives_in", "has_email", "has_phone"]


def masked_triples_exprs(
    dialect: str,
    skey: str = sql_strhash("subj"),
    okey: str = sql_strhash("obj"),
) -> tuple[str, str]:
    """(subj_expr, obj_expr) masking PII surfaces in a triples relation:
    person subjects -> synthetic 'First Last' keyed by strhash(subj);
    email/phone objects -> keyed synthetics. Same surface => same key =>
    same synthetic (stable join keys). `skey`/`okey` may name columns
    that already hold those hashes."""
    first = synth_sql(dialect, "first_name", skey, 1)
    last = synth_sql(dialect, "last_name", skey, 1)
    email = synth_sql(dialect, "email", okey, 2)
    phone = synth_sql(dialect, "phone", okey, 3)
    preds = ", ".join(f"'{p}'" for p in PERSON_SUBJ_PREDS)
    subj = (
        f"case when pred in ({preds}) then ({first} || ' ' || {last})"
        f" else subj end"
    )
    obj = (
        f"case when pred = 'has_email' then {email}"
        f" when pred = 'has_phone' then {phone} else obj end"
    )
    return subj, obj


def mask_triples(triples: DataFrame) -> DataFrame:
    """triples -> triples_masked (same schema, same COLUMN ORDER — so
    positional ops like union against the unmasked table stay aligned;
    PII surfaces replaced in place)."""
    # each key is its own column: inlined into every synthesizer call, the
    # strhash polynomial grows the projection's generated method past the
    # JVM's 64 KB limit, and Spark falls back to interpreted evaluation
    keyed = triples.select(
        "*",
        F.expr(sql_strhash("subj")).alias("_mask_skey"),
        F.expr(sql_strhash("obj")).alias("_mask_okey"),
    )
    subj, obj = masked_triples_exprs("spark", "_mask_skey", "_mask_okey")
    repl = {"subj": F.expr(subj).alias("subj"), "obj": F.expr(obj).alias("obj")}
    return keyed.select(*[repl.get(c, F.col(c)) for c in triples.columns])


# ---------------------------------------------------------------------------
# text-level PII redaction (C4-style scrubbing of the raw corpus)
# ---------------------------------------------------------------------------


REDACT_TYPES = [
    "PERSON", "ORGANIZATION", "LOCATION", "EMAIL_ADDRESS", "PHONE_NUMBER",
    "URL", "ADDRESS", "ZIPCODE", "US_SSN", "CREDIT_CARD_NUMBER",
]


def redact_text(clean: DataFrame, mentions: DataFrame) -> DataFrame:
    """Replace every detected mention in the page text with its typed
    placeholder ('[EMAIL_ADDRESS]', ...) -> (doc_id, redacted) — the
    corpus-level PII scrub an LLM data pipeline runs before training,
    complementing the tabular (mask_table) and triple (mask_triples)
    variants.

    Two phases, both deterministic and engine-independent:

      1. per doc, mentions apply longest-first (then mention,
         entity_type ascending) and each is replaced by the sentinel
         '[%i%]' (i = the type's index in REDACT_TYPES). The sentinel
         alphabet {[, %, one digit, ]} is disjoint from every possible
         mention (clean text has no '[' or '%', and no mention is a
         bare single digit), so a later SHORT mention can never match
         inside an earlier replacement — the failure mode a direct
         '[LOCATION]' insertion has ('CA' in 'LOCATION').
      2. the 10 sentinels expand to their typed placeholders; every
         mention is already gone, so this cannot cascade.

    Both phases are Catalyst folds over per-doc arrays — zero Python;
    the only exchange is the per-doc mention collect (mentions per doc
    bounded by page length). The DuckDB oracle replays the same ordered
    replacement with an INDEPENDENT mechanism (recursive CTE applying
    rank-k replacement at step k), cross-validating the semantics.
    """
    type_idx = F.array(*[F.lit(t) for t in REDACT_TYPES])
    ms = (
        mentions.select("doc_id", "mention", "entity_type")
        .distinct()
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.length("mention")).cast("int").alias("nl"),
                        F.col("mention").alias("m"),
                        F.col("entity_type").alias("e"),
                    )
                )
            ).alias("ms")
        )
    )
    types_sql = ", ".join(f"'{t}'" for t in REDACT_TYPES)
    # a type outside REDACT_TYPES must fail LOUDLY: array_position = 0
    # would otherwise emit the never-expanded sentinel '[%-1%]' into the
    # redacted corpus, silently for every new detector type (and the
    # oracle would replay the same bug, keeping the gate green)
    idx = (
        f"(case when array_position(array({types_sql}), x.e) = 0"
        " then cast(raise_error('redact_text: unknown entity_type ' || x.e)"
        " as bigint)"
        f" else array_position(array({types_sql}), x.e) - 1 end)"
    )
    phase1 = (
        "aggregate(coalesce(ms, cast(array() as"
        " array<struct<nl:int,m:string,e:string>>)), text,"
        f" (acc, x) -> replace(acc, x.m,"
        f" '[%' || cast({idx} as string) || '%]'))"
    )
    phase2 = phase1
    for i, t in enumerate(REDACT_TYPES):
        phase2 = f"replace({phase2}, '[%{i}%]', '[{t}]')"
    return (
        clean.select("doc_id", "text")
        .join(ms, "doc_id", "left")
        .select("doc_id", F.expr(phase2).alias("redacted"))
    )


def duck_redact_text_sql(pages_sql_duck: str, mentions_sql_duck: str) -> str:
    types_sql = ", ".join(f"'{t}'" for t in REDACT_TYPES)
    expand = "s.cur"
    for i, t in enumerate(REDACT_TYPES):
        expand = f"replace({expand}, '[%{i}%]', '[{t}]')"
    return f"""
with recursive
m as (select distinct doc_id, mention, entity_type
      from ({mentions_sql_duck})),
r as (
  select doc_id, mention,
         '[%' || cast(case when list_position([{types_sql}], entity_type)
                             is distinct from 0
                            and list_position([{types_sql}], entity_type)
                             is not null
                       then list_position([{types_sql}], entity_type) - 1
                       else cast(error('redact oracle: unknown entity_type '
                                       || entity_type) as bigint) end
                      as varchar) || '%]' as sentinel,
         row_number() over (partition by doc_id
                            order by length(mention) desc, mention asc,
                                     entity_type asc) as rn
  from m
),
steps(doc_id, step, cur) as (
  select doc_id, 0, text from ({pages_sql_duck})
  union all
  select s.doc_id, s.step + 1, replace(s.cur, r.mention, r.sentinel)
  from steps s join r on r.doc_id = s.doc_id and r.rn = s.step + 1
),
cnt as (select doc_id, count(*) as n from m group by 1)
select s.doc_id as doc_id, {expand} as redacted
from steps s left join cnt on s.doc_id = cnt.doc_id
where s.step = coalesce(cnt.n, 0)
"""


# ---------------------------------------------------------------------------
# synthesis leakage audit
# ---------------------------------------------------------------------------


def mask_leakage_report(
    orig: DataFrame,
    masked: DataFrame,
    cols: list[str],
    key_col: str,
) -> DataFrame:
    """Post-synthesis leakage audit -> one row per routed column:
    (column, n_cells, n_coincide, coincide_ppm). A cell "leaks" when
    the synthetic value EQUALS the original — with keyed draws from
    shared gazetteers that happens by coincidence at rate ~1/|list|
    per cell (a masked city has a 1-in-32 chance of landing on the
    true city), and this report is the release-time check that the
    measured rate stays at that floor: a rate spiking toward 1e6 means
    a column was routed to a copy-through or the draw degenerated —
    the PII-masking analog of expectations_report. ppm arithmetic is
    exact bigint (0 when the column has no non-null cells).

    Scale shape: ONE key-equi join of the original and masked tables
    (both sides already partition-aligned on the key in the pipeline)
    + one conditional-count agg carrying 2 numbers per column; the
    long-format output is a constant |cols|-row stack."""
    o = orig.select(
        key_col, *[F.col(c).alias(f"_o_{c}") for c in cols]
    )
    m = masked.select(
        key_col, *[F.col(c).alias(f"_m_{c}") for c in cols]
    )
    aggs = []
    for c in cols:
        aggs += [
            F.expr(
                f"cast(coalesce(sum(case when _o_{c} is not null"
                " then 1 else 0 end), 0) as bigint)"
            ).alias(f"n_{c}"),
            F.expr(
                f"cast(coalesce(sum(case when _o_{c} is not null"
                f" and _m_{c} = _o_{c} then 1 else 0 end), 0) as bigint)"
            ).alias(f"v_{c}"),
        ]
    one = o.join(m, key_col).agg(*aggs)
    stack = ", ".join(f"'{c}', n_{c}, v_{c}" for c in cols)
    return one.selectExpr(
        f"stack({len(cols)}, {stack}) as (column, n_cells, n_coincide)"
    ).selectExpr(
        "column",
        "n_cells",
        "n_coincide",
        "case when n_cells = 0 then cast(0 as bigint)"
        " else 1000000 * n_coincide div n_cells end as coincide_ppm",
    )


def duck_mask_leakage_sql(
    orig_sql: str,
    masked_sql: str,
    cols: list[str],
    key_col: str,
) -> str:
    """Oracle twin of mask_leakage_report (per-column union branches
    over one joined agg CTE; sum casts per the HUGEINT trap)."""
    sums = []
    for c in cols:
        sums.append(
            f"cast(coalesce(sum(case when o.\"{c}\" is not null"
            f" then 1 else 0 end), 0) as bigint) as n_{c}"
        )
        sums.append(
            f"cast(coalesce(sum(case when o.\"{c}\" is not null"
            f" and m.\"{c}\" = o.\"{c}\" then 1 else 0 end), 0)"
            f" as bigint) as v_{c}"
        )
    branches = "\nunion all ".join(
        f"select '{c}' as \"column\", n_{c} as n_cells,"
        f" v_{c} as n_coincide,"
        f" case when n_{c} = 0 then cast(0 as bigint)"
        f" else 1000000 * v_{c} // n_{c} end as coincide_ppm from a"
        for c in cols
    )
    return f"""
with o as ({orig_sql}),
m as ({masked_sql}),
a as (
  select {', '.join(sums)}
  from o join m on o.{key_col} = m.{key_col}
)
{branches}
"""
