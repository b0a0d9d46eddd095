"""Deterministic Common-Crawl-style `pages` corpus (BASELINE.json input_hint).

Derives a pages table ``(doc_id, url, warc_ts, html, text, lang)`` from the
driver's `documents` parquet by *planting* entity/PII sentences keyed by
``doc_id`` through the portable LCG (functions/hashing.py). The exact same
content is expressible three ways:

  * Spark SQL   (``pages_sql(dialect='spark')``)  — corpus the pipeline reads
  * DuckDB SQL  (``pages_sql(dialect='duck')`` + golden_* builders) — the
    driver's oracle recomputes the planted mentions/triples ground truth
  * pure Python (``plant_doc``) — pytest goldens incl. byte offsets

so the driver's correctness gate genuinely measures extraction P/R.

Reference semantics covered: the planted surface forms exercise every
entity type of the reference taxonomy (nerpii/named_entity_recognizer.py:
115-141 deny-list ADDRESS, Presidio types EMAIL/PHONE/URL/US_SSN/
CREDIT_CARD, spaCy PERSON/LOCATION, BERT ORGANIZATION) plus the Zipf-hot
``works_at`` predicate mandated by the north_rule skew requirement.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from ..functions import gazetteers as G
from ..functions.hashing import M, h1, h2, sql_h1, sql_h2

BASE_EPOCH = 1735689600  # 2025-01-01T00:00:00Z
N_TEMPLATES = 4
MAX_SENT = 5

# ---------------------------------------------------------------------------
# Luhn
# ---------------------------------------------------------------------------


def luhn_check_digit(digits15: list[int]) -> int:
    """Check digit for a 15-digit prefix (16-digit card)."""
    s = 0
    for i, d in enumerate(digits15):  # i=0 is leftmost; double even i (pos 1,3,..15)
        if i % 2 == 0:
            e = d * 2
            s += e - 9 if e > 9 else e
        else:
            s += d
    return (10 - s % 10) % 10


def luhn_valid(num: str) -> bool:
    ds = [int(c) for c in num]
    total = 0
    for i, d in enumerate(reversed(ds)):
        if i % 2 == 1:
            e = d * 2
            total += e - 9 if e > 9 else e
        else:
            total += d
    return total % 10 == 0


# ---------------------------------------------------------------------------
# Python mirror of the planted content
# ---------------------------------------------------------------------------


@dataclass
class Sentence:
    j: int
    t: int
    text: str
    mentions: list[tuple[str, str]]  # (entity_type, surface)
    triples: list[tuple[str, str, str]]  # (subj, pred, obj)


@dataclass
class PlantedDoc:
    doc_id: int
    n_sent: int
    sentences: list[Sentence] = field(default_factory=list)


def _vals(doc_id: int, j: int) -> dict:
    hs = h2(h1(doc_id, 1), j + 1)

    def hv(i: int) -> int:
        return h2(hs, 10 + i)

    g = hv(0) % 2
    first = (G.FIRST_FEMALE if g == 0 else G.FIRST_MALE)[hv(1) % 24]
    caps = hv(2) % 50 == 0
    first_disp = first.upper() if caps else first
    last = G.LAST_NAMES[hv(3) % 40]
    org_u = hv(4) % 32
    org = G.ORG_WORDS[(org_u * org_u) // 32] + " " + G.ORG_SUFFIXES[hv(5) % 8]
    city = G.CITIES[hv(6) % 32]
    domain = G.EMAIL_DOMAINS[hv(7) % 8]
    phone = f"({200 + hv(8) % 800}) {hv(9) % 1000:03d}-{hv(10) % 10000:04d}"
    streetnum = 1 + hv(11) % 999
    stype = G.STREET_TYPES[hv(13) % 6]
    street = G.STREET_WORDS[hv(12) % 24] + " " + stype
    st = G.STATE_ABBR[hv(14) % 50]
    zip5 = f"{hv(15) % 100000:05d}"
    ssn = f"{100 + hv(16) % 800}-{10 + hv(17) % 90}-{hv(18) % 10000:04d}"
    a, b = hv(19) % 10**7, hv(20) % 10**7
    d15 = [4] + [int(c) for c in f"{a:07d}"] + [int(c) for c in f"{b:07d}"]
    cc = f"4{a:07d}{b:07d}{luhn_check_digit(d15)}"
    url_m = f"https://www.{G.ORG_WORDS[hv(21) % 32].lower()}.example/p/{hv(22) % 100000}"
    email = f"{first.lower()}.{last.lower()}@{domain}"
    # 1/8 of planted person displays carry a middle initial — the fuzzy
    # surface-form variant that exercises MinHash-LSH entity linking
    # (FIXTURES.md F1 "small edits"); canonical cluster key stays
    # lower(first last)
    mid = hv(23) % 8 == 0
    midchar = chr(65 + hv(24) % 26)
    person = (
        f"{first_disp} {midchar}. {last}" if mid else f"{first_disp} {last}"
    )
    country = G.COUNTRIES[hv(25) % 24]
    return dict(
        # Zipf-hot template mix (north_rule skew): 5/8 of sentences are the
        # works_at template, so `pred` genuinely needs the salted aggregation
        t=(0 if hs % 8 < 5 else hs % 8 - 4),
        person=person, first_disp=first_disp, last=last,
        gender=("female" if g == 0 else "male"),
        org=org, city=city, email=email, phone=phone, streetnum=streetnum,
        street=street, stype=stype, st=st, zip5=zip5, ssn=ssn, cc=cc, url_m=url_m,
        country=country,
    )


def _sentence(v: dict) -> Sentence:
    t = v["t"]
    p, org, city = v["person"], v["org"], v["city"]
    if t == 0:
        text = f"{p} works at {org} in {city}."
        mentions = [("PERSON", p), ("ORGANIZATION", org), ("LOCATION", city)]
        triples = [(p, "works_at", org), (org, "located_in", city)]
    elif t == 1:
        text = (
            f"Contact {p} at {v['email']} or call {v['phone']}"
            f" or visit {v['url_m']} today."
        )
        mentions = [
            ("PERSON", p), ("EMAIL_ADDRESS", v["email"]),
            ("PHONE_NUMBER", v["phone"]), ("URL", v["url_m"]),
        ]
        triples = [(p, "has_email", v["email"]), (p, "has_phone", v["phone"])]
    elif t == 2:
        text = (
            f"{p} lives at {v['streetnum']} {v['street']} in {city},"
            f" {v['st']} {v['zip5']}."
        )
        mentions = [
            ("PERSON", p), ("ADDRESS", v["stype"]), ("LOCATION", city),
            ("LOCATION", v["st"]), ("ZIPCODE", v["zip5"]),
        ]
        triples = [(p, "lives_in", city), (p, "lives_in", v["st"])]
    else:
        text = f"SSN {v['ssn']} and card {v['cc']} were filed by {org}."
        mentions = [
            ("US_SSN", v["ssn"]), ("CREDIT_CARD_NUMBER", v["cc"]),
            ("ORGANIZATION", org),
        ]
        triples = []
    return Sentence(j=-1, t=t, text=text, mentions=mentions, triples=triples)


def plant_doc(doc_id: int) -> PlantedDoc:
    n_sent = h1(doc_id, 0) % (MAX_SENT + 1)
    doc = PlantedDoc(doc_id=doc_id, n_sent=n_sent)
    for j in range(n_sent):
        s = _sentence(_vals(doc_id, j))
        s.j = j
        doc.sentences.append(s)
    return doc


def page_text(base_text: str, doc_id: int) -> str:
    planted = plant_doc(doc_id)
    return base_text + "".join(" " + s.text for s in planted.sentences)


HTML_PRE = (
    "<html><head><title>page</title><script>var x=1;</script></head>"
    "<body><nav>Home | About | Legal"
)
HTML_NAV_POST = "</nav><article>"
HTML_POST = "</article><footer>(c) example footer</footer></body></html>"

# planted outlinks (Common-Crawl pages carry anchors; the host-level link
# graph is the web-graph extraction target): every page links to the next
# page's host (a uniform 977-host pool) and to one of 13 hot "hub" hosts —
# in-degree skew ~75x, the shape a host-graph aggregation must absorb.
N_SITE_HOSTS = 977
N_HUB_HOSTS = 13
HUB_SALT = 41


def link_hosts(doc_id: int) -> tuple[str, str]:
    """(next-page host, hub host) planted in page `doc_id`'s nav."""
    return (
        f"site{h1(doc_id + 1, 0) % N_SITE_HOSTS}.example",
        f"hub{h1(doc_id, HUB_SALT) % N_HUB_HOSTS}.example",
    )


def page_html(text: str, doc_id: int) -> bytes:
    nxt, hub = link_hosts(doc_id)
    return (
        HTML_PRE
        + f' <a href="https://{nxt}/">n</a> <a href="https://{hub}/">h</a>'
        + HTML_NAV_POST
        + text
        + HTML_POST
    ).encode("utf-8")


# ---------------------------------------------------------------------------
# Dual-dialect SQL builders
# ---------------------------------------------------------------------------


def _pick(dialect: str, values: list[str], idx_expr: str) -> str:
    body = G.sql_str_list(values)
    if dialect == "spark":
        return f"element_at(array({body}), cast(({idx_expr}) + 1 as int))"
    return f"list_extract([{body}], cast(({idx_expr}) + 1 as int))"


def _intdiv(dialect: str, a: str, b: int) -> str:
    return f"(({a}) div {b})" if dialect == "spark" else f"(({a}) // {b})"


def _s(expr: str) -> str:
    """CAST to string (valid in both dialects)."""
    return f"cast({expr} as string)"


def _lpad(expr: str, n: int) -> str:
    return f"lpad({_s(expr)}, {n}, '0')"


def _luhn_check_sql(dialect: str, a: str, b: str) -> str:
    """Check digit of the 15-digit prefix 4 || pad7(a) || pad7(b)."""
    terms = []
    digits = [("4", None)]
    for src in (a, b):
        for m in range(7):
            digits.append((src, 10 ** (6 - m)))
    # position i (0-based, leftmost) doubled when i % 2 == 0
    for i, (src, div) in enumerate(digits):
        d = src if div is None else f"({_intdiv(dialect, src, div)} % 10)"
        if i % 2 == 0:
            terms.append(f"(2*{d} - (case when {d} >= 5 then 9 else 0 end))")
        else:
            terms.append(d)
    total = " + ".join(terms)
    return f"((10 - (({total}) % 10)) % 10)"


def vals_cte_sql(dialect: str, doc_rel: str) -> str:
    """WITH-clause producing relation `vals`: one row per planted sentence."""
    hd = f"{sql_h1('doc_id', 0)} % {MAX_SENT + 1}"
    hs = sql_h2(sql_h1("doc_id", 1), "j + 1")

    def hv(i: int) -> str:
        return sql_h2("hs", 10 + i)

    if dialect == "spark":
        js = "select explode(array(0,1,2,3,4)) as j"
    else:
        js = "select unnest([0,1,2,3,4]) as j"

    first = (
        f"case when {hv(0)} % 2 = 0 then {_pick(dialect, G.FIRST_FEMALE, f'{hv(1)} % 24')}"
        f" else {_pick(dialect, G.FIRST_MALE, f'{hv(1)} % 24')} end"
    )
    mid_part = (
        f"case when {hv(23)} % 8 = 0 then"
        f" ' ' || chr(cast(65 + {hv(24)} % 26 as int)) || '.' else '' end"
    )
    org_u = f"({hv(4)} % 32)"
    org_idx = _intdiv(dialect, f"{org_u} * {org_u}", 32)
    a_, b_ = f"({hv(19)} % 10000000)", f"({hv(20)} % 10000000)"
    return f"""
with js as ({js}),
sb as (
  select doc_id, j, {hs} as hs
  from {doc_rel} cross join js
  where j < ({hd})
),
picks as (
  select doc_id, j, hs,
    (case when hs % 8 < 5 then 0 else hs % 8 - 4 end) as t,
    {first} as first_raw,
    ({hv(2)} % 50 = 0) as caps,
    {_pick(dialect, G.LAST_NAMES, f'{hv(3)} % 40')} as last,
    case when {hv(0)} % 2 = 0 then 'female' else 'male' end as gender,
    ({_pick(dialect, G.ORG_WORDS, org_idx)} || ' ' || {_pick(dialect, G.ORG_SUFFIXES, f'{hv(5)} % 8')}) as org,
    {_pick(dialect, G.CITIES, f'{hv(6)} % 32')} as city,
    {_pick(dialect, G.EMAIL_DOMAINS, f'{hv(7)} % 8')} as domain,
    ('(' || {_s(f'(200 + {hv(8)} % 800)')} || ') ' || {_lpad(f'({hv(9)} % 1000)', 3)} || '-' || {_lpad(f'({hv(10)} % 10000)', 4)}) as phone,
    {_s(f'(1 + {hv(11)} % 999)')} as streetnum,
    {_pick(dialect, G.STREET_WORDS, f'{hv(12)} % 24')} as sword,
    {_pick(dialect, G.STREET_TYPES, f'{hv(13)} % 6')} as stype,
    {_pick(dialect, G.STATE_ABBR, f'{hv(14)} % 50')} as st,
    {_lpad(f'({hv(15)} % 100000)', 5)} as zip5,
    {mid_part} as mid_part,
    {_pick(dialect, G.COUNTRIES, f'{hv(25)} % 24')} as country,
    ({_s(f'(100 + {hv(16)} % 800)')} || '-' || {_s(f'(10 + {hv(17)} % 90)')} || '-' || {_lpad(f'({hv(18)} % 10000)', 4)}) as ssn,
    ('4' || {_lpad(a_, 7)} || {_lpad(b_, 7)} || {_s(_luhn_check_sql(dialect, a_, b_))}) as cc,
    ('https://www.' || lower({_pick(dialect, G.ORG_WORDS, f'{hv(21)} % 32')}) || '.example/p/' || {_s(f'({hv(22)} % 100000)')}) as url_m
  from sb
),
vals as (
  select doc_id, j, t,
    (case when caps then upper(first_raw) else first_raw end || mid_part || ' ' || last) as person,
    (lower(first_raw) || ' ' || lower(last)) as person_key,
    (case when caps then upper(first_raw) else first_raw end) as first_name,
    last as last_name,
    gender, org, city, country,
    (lower(first_raw) || '.' || lower(last) || '@' || domain) as email,
    phone, streetnum, (sword || ' ' || stype) as street, stype, st, zip5, ssn, cc, url_m
  from picks
)
"""


def sentence_expr() -> str:
    """CASE expression over `vals` columns producing the sentence (both dialects)."""
    t0 = "person || ' works at ' || org || ' in ' || city || '.'"
    t1 = (
        "'Contact ' || person || ' at ' || email || ' or call ' || phone"
        " || ' or visit ' || url_m || ' today.'"
    )
    t2 = (
        "person || ' lives at ' || streetnum || ' ' || street || ' in ' || city"
        " || ', ' || st || ' ' || zip5 || '.'"
    )
    t3 = "'SSN ' || ssn || ' and card ' || cc || ' were filed by ' || org || '.'"
    return (
        f"case when t = 0 then {t0} when t = 1 then {t1}"
        f" when t = 2 then {t2} else {t3} end"
    )


def html_expr(dialect: str, text_expr: str, doc_id_expr: str) -> str:
    """Page html as a SQL string expression — mirrors page_html() exactly
    (asserted in tests); shared by pages_sql (spark, with_html) and the
    DuckDB line-dedup oracle, so both engines see identical bytes."""
    pre = HTML_PRE.replace("'", "''")
    nav_post = HTML_NAV_POST.replace("'", "''")
    post = HTML_POST.replace("'", "''")
    nxt = _s(sql_h1(f"(({doc_id_expr}) + 1)", 0) + f" % {N_SITE_HOSTS}")
    hub = _s(sql_h1(doc_id_expr, HUB_SALT) + f" % {N_HUB_HOSTS}")
    return (
        f"'{pre}' || ' <a href=\"https://site' || {nxt} ||"
        f" '.example/\">n</a>' || ' <a href=\"https://hub' || {hub} ||"
        f" '.example/\">h</a>' || '{nav_post}' || {text_expr} || '{post}'"
    )


def pages_sql(dialect: str, doc_rel: str = "documents", with_html: bool = False) -> str:
    """Full SELECT producing the pages table from `documents`."""
    if dialect == "spark":
        agg = (
            "array_join(transform(array_sort(collect_list(struct(j, s))),"
            " x -> x.s), ' ')"
        )
    else:
        agg = "string_agg(s, ' ' order by j)"
    url = f"'https://site' || {_s(sql_h1('d.doc_id', 0) + ' % 977')} || '.example/' || d.lang || '/page/' || {_s('d.doc_id')}"
    text = "d.text || coalesce(' ' || a.planted, '')"
    cols = [f"d.doc_id as doc_id", f"{url} as url"]
    if dialect == "spark":
        cols.append(f"timestamp_seconds({BASE_EPOCH} + d.doc_id) as warc_ts")
        if with_html:
            cols.append(
                f"cast({html_expr(dialect, text, 'd.doc_id')} as binary)"
                " as html"
            )
    cols.append(f"{text} as text")
    cols.append("d.lang as lang")
    return f"""
{vals_cte_sql(dialect, doc_rel)}
, sent as (select doc_id, j, {sentence_expr()} as s from vals)
, agg as (select doc_id, {agg} as planted from sent group by doc_id)
select {', '.join(cols)}
from {doc_rel} d left join agg a on d.doc_id = a.doc_id
"""


def crawl_sql(dialect: str, doc_rel: str = "documents") -> str:
    """Deterministic crawl-log table (doc_id, url, ts_s) with planted
    RE-CAPTURES of the same page under URL variants — the raw state of a
    Common-Crawl-style fetch log before URL canonicalization:

      * every page once at its canonical URL (ts = BASE_EPOCH + doc_id)
      * doc_id % 3 = 0: tracking-query variant (?utm_...), one day later
      * doc_id % 5 = 0: fragment variant (#section-2), two days later
      * doc_id % 7 = 0: scheme/host case variant (HTTPS://Site...), +3d
      * doc_id % 11 = 0: trailing-slash variant, +4d
      * doc_id % 13 = 1: a genuinely NEW page (distinct canonical path
        '/extra'), +5d — appears only in the later crawl window, so the
        snapshot-diff operator has 'added' rows to classify

    ts_s is epoch seconds as bigint (identical in both dialects; the
    Spark-side `warc_ts` timestamp is BASE_EPOCH + doc_id, so this is
    the same clock). All five capture timestamps of a page are distinct,
    so latest-capture-wins selection is deterministic."""
    p = f"(select doc_id, url from ({pages_sql(dialect, doc_rel)}))"
    t = f"{BASE_EPOCH} + doc_id"
    return f"""
with cp as {p}
select doc_id, url, cast({t} as bigint) as ts_s from cp
union all
select doc_id, url || '?utm_source=feed&utm_medium=rss',
       cast({t} + 86400 as bigint) from cp where doc_id % 3 = 0
union all
select doc_id, url || '#section-2',
       cast({t} + 172800 as bigint) from cp where doc_id % 5 = 0
union all
select doc_id, replace(url, 'https://site', 'HTTPS://Site'),
       cast({t} + 259200 as bigint) from cp where doc_id % 7 = 0
union all
select doc_id, url || '/',
       cast({t} + 345600 as bigint) from cp where doc_id % 11 = 0
union all
select doc_id, url || '/extra',
       cast({t} + 432000 as bigint) from cp where doc_id % 13 = 1
"""


def noisy_urls_sql(dialect: str, doc_rel: str = "documents") -> str:
    """Planted noisy-URL table (doc_id, url_raw, url_want): five
    deterministic corruption classes keyed by doc_id % 5, each paired
    with its KNOWN normal form — the ground truth the URL normalizer
    (dedup.url_normalize) is certified against (truth-table oracle, not
    a twin expression):

      0: already normal                      -> url
      1: scheme+host uppercased              -> url
      2: explicit default port :443          -> url
      3: utm tracking param + #fragment      -> url
      4: unsorted params with utm in middle  -> url || '?a=1&b=2'

    Unlike canonical_url_expr (the lossy crawl-dedup rule that drops
    every query string), the normal form here PRESERVES semantic params
    sorted — the lossless convention for URLs where ?id=123 selects the
    document. Identical SQL in both dialects."""
    p = f"(select doc_id, url from ({pages_sql(dialect, doc_rel)}))"
    up = (
        "replace(replace(url, 'https://site', 'HTTPS://SITE'),"
        " '.example/', '.EXAMPLE/')"
    )
    variants = [
        ("url", "url"),
        (up, "url"),
        ("replace(url, '.example/', '.example:443/')", "url"),
        ("url || '?utm_source=feed#frag'", "url"),
        ("url || '?b=2&utm_campaign=x&a=1'", "url || '?a=1&b=2'"),
    ]
    rows = [
        f"select doc_id, {raw} as url_raw, {want} as url_want"
        f" from cp where doc_id % 5 = {i}"
        for i, (raw, want) in enumerate(variants)
    ]
    return f"with cp as {p}\n" + "\nunion all\n".join(rows)


def redirects_sql(dialect: str, doc_rel: str = "documents") -> str:
    """Planted redirect edge table (src_url, dst_url) — the 3xx/
    rel=canonical graph a crawler accumulates. Each page with
    doc_id % 4 = L > 0 carries a chain of L redirects

        url?r=L -> url?r=L-1 -> ... -> url?r=1 -> url

    so chain lengths 1..3 are all present (and L=0 pages have no
    redirect at all). Deterministic, identical in both dialects."""
    p = f"(select doc_id, url from ({pages_sql(dialect, doc_rel)}))"
    rows = []
    for i in (1, 2, 3):
        dst = "url" if i == 1 else f"url || '?r={i - 1}'"
        rows.append(
            f"select url || '?r={i}' as src_url, {dst} as dst_url"
            f" from cp where doc_id % 4 >= {i}"
        )
    return f"with cp as {p}\n" + "\nunion all\n".join(rows)


def _mention_struct(dialect: str, etype: str, m_expr: str) -> str:
    if dialect == "spark":
        return f"named_struct('e', '{etype}', 'm', {m_expr})"
    return f"struct_pack(e := '{etype}', m := {m_expr})"


def golden_mentions_sql(dialect: str, doc_rel: str = "documents") -> str:
    """(doc_id, entity_type, mention) ground truth of the planted corpus."""
    S = lambda e, m: _mention_struct(dialect, e, m)
    lists = {
        0: [S("PERSON", "person"), S("ORGANIZATION", "org"), S("LOCATION", "city")],
        1: [S("PERSON", "person"), S("EMAIL_ADDRESS", "email"),
            S("PHONE_NUMBER", "phone"), S("URL", "url_m")],
        2: [S("PERSON", "person"), S("ADDRESS", "stype"), S("LOCATION", "city"),
            S("LOCATION", "st"), S("ZIPCODE", "zip5")],
        3: [S("US_SSN", "ssn"), S("CREDIT_CARD_NUMBER", "cc"),
            S("ORGANIZATION", "org")],
    }
    if dialect == "spark":
        arr = lambda xs: f"array({', '.join(xs)})"
        case = (
            f"case when t = 0 then {arr(lists[0])} when t = 1 then {arr(lists[1])}"
            f" when t = 2 then {arr(lists[2])} else {arr(lists[3])} end"
        )
        return f"""
{vals_cte_sql(dialect, doc_rel)}
select doc_id, m.e as entity_type, m.m as mention
from vals lateral view explode({case}) as m
"""
    arr = lambda xs: f"[{', '.join(xs)}]"
    case = (
        f"case when t = 0 then {arr(lists[0])} when t = 1 then {arr(lists[1])}"
        f" when t = 2 then {arr(lists[2])} else {arr(lists[3])} end"
    )
    return f"""
{vals_cte_sql(dialect, doc_rel)}
select doc_id, m.e as entity_type, m.m as mention
from (select doc_id, unnest({case}) as m from vals)
"""


PERSONAL_INFO_COLS = [
    "person", "first_name", "last_name", "first_name_gender", "company_name",
    "city", "state", "zip", "phone", "email", "web", "ssn",
    "credit_card_number", "address", "country",
]


def personal_info_sql(dialect: str, doc_rel: str = "documents") -> str:
    """Tabular-mode fixture (FIXTURES.md F2, mirroring the reference demo
    CSV shape notebooks/dataset/PersonalInfo.csv): one row per planted
    sentence, all columns strings. Derivable identically in Spark SQL and
    DuckDB SQL from the same vals CTE. Every 13th row carries a
    gender_guesser soft category ('mostly_female'/'mostly_male') so the
    mostly_* branch of the gender-aware first-name synthesizer
    (faker_generator.py:198-258) is exercised by the oracle."""
    return f"""
{vals_cte_sql(dialect, doc_rel)}
select doc_id * 8 + j as row_id,
  person,
  first_name,
  last_name,
  case when (doc_id * 8 + j) % 13 = 0 then 'mostly_' || gender
       else gender end as first_name_gender,
  org as company_name,
  city,
  st as state,
  zip5 as zip,
  phone,
  email,
  url_m as web,
  ssn,
  cc as credit_card_number,
  (streetnum || ' ' || street) as address,
  country
from vals
"""


PERSONAL_INFO_IT_COLS = [
    "person", "first_name", "last_name", "first_name_gender", "city", "cap",
    "telefono", "email", "indirizzo", "carta_di_credito",
]


def personal_info_it_sql(dialect: str, doc_rel: str = "documents") -> str:
    """Italian tabular-mode fixture (the reference's lang='it' dimension,
    named_entity_recognizer.py:322,359-376 + faker_generator.py:83-87):
    Italian names/cities, designator-first addresses, CAP postcodes, and
    the it-specific column names the reference's rules key on —
    'cap' (manual ZIPCODE rule), 'indirizzo' (address clause), and
    'carta...credito' (manual CREDIT_CARD rule). One row per document;
    identical in Spark SQL and DuckDB SQL via the portable hash chain."""
    hs = sql_h1("doc_id", 2)

    def hv(i: int) -> str:
        return sql_h2("hs", 40 + i)

    first = (
        f"case when {hv(0)} % 2 = 0 then"
        f" {_pick(dialect, G.IT_FIRST_FEMALE, f'{hv(1)} % 12')}"
        f" else {_pick(dialect, G.IT_FIRST_MALE, f'{hv(1)} % 12')} end"
    )
    a_, b_ = f"({hv(8)} % 10000000)", f"({hv(9)} % 10000000)"
    return f"""
with it_sb as (select doc_id, {hs} as hs from {doc_rel}),
it_picks as (
  select doc_id,
    {first} as first_raw,
    case when {hv(0)} % 2 = 0 then 'female' else 'male' end as gender,
    {_pick(dialect, G.IT_LAST_NAMES, f'{hv(2)} % 20')} as last,
    {_pick(dialect, G.IT_CITIES, f'{hv(3)} % 16')} as city,
    {_lpad(f'(10 + {hv(4)} % 98990)', 5)} as cap,
    ('(' || {_s(f'(200 + {hv(5)} % 800)')} || ') ' || {_lpad(f'({hv(6)} % 1000)', 3)} || '-' || {_lpad(f'({hv(7)} % 10000)', 4)}) as telefono,
    ({_pick(dialect, G.IT_STREET_TYPES, f'{hv(10)} % 5')} || ' ' || {_pick(dialect, G.IT_STREET_WORDS, f'{hv(11)} % 12')} || ' ' || {_s(f'(1 + {hv(12)} % 999)')}) as indirizzo,
    ('4' || {_lpad(a_, 7)} || {_lpad(b_, 7)} || {_s(_luhn_check_sql(dialect, a_, b_))}) as cc,
    {_pick(dialect, G.EMAIL_DOMAINS, f'{hv(13)} % 8')} as domain
  from it_sb
)
select doc_id as row_id,
  (first_raw || ' ' || last) as person,
  first_raw as first_name,
  last as last_name,
  gender as first_name_gender,
  city,
  cap,
  telefono,
  (lower(first_raw) || '.' || lower(last) || '@' || domain) as email,
  indirizzo,
  cc as carta_di_credito
from it_picks
"""


def golden_entity_mentions_cte(doc_rel: str = "documents") -> str:
    """DuckDB CTEs: planted linkable mentions as (entity_type, k, norm)
    where k is the ground-truth cluster key (PERSON ignores casing and
    middle initials via person_key; others normalize by lower)."""
    return f"""
{vals_cte_sql('duck', doc_rel)}
, ment as (
  select doc_id, 'PERSON' as entity_type, person_key as k, lower(person) as norm
  from vals where t in (0, 1, 2)
  union all select doc_id, 'ORGANIZATION', lower(org), lower(org) from vals where t in (0, 3)
  union all select doc_id, 'LOCATION', lower(city), lower(city) from vals where t in (0, 2)
  union all select doc_id, 'LOCATION', lower(st), lower(st) from vals where t = 2
),
counts as (select entity_type, k, norm, count(*) as c from ment group by 1, 2, 3),
canon as (
  select entity_type, k, norm as canonical,
         row_number() over (partition by entity_type, k
                            order by c desc, norm asc) as rk
  from counts
)
"""


def golden_entities_sql(doc_rel: str = "documents") -> str:
    """(entity_type, canonical, n_surfaces, n_mentions) ground truth —
    the DuckDB oracle for the LSH+CC linker (operators/link.py): a match
    certifies linking P/R = 1.0 on the planted clusters."""
    return f"""
{golden_entity_mentions_cte(doc_rel)}
, stats as (
  select entity_type, k, count(*) as n_surfaces, cast(sum(c) as bigint) as n_mentions
  from counts group by 1, 2
)
select s.entity_type, c.canonical, s.n_surfaces, s.n_mentions
from stats s
join canon c on s.entity_type = c.entity_type and s.k = c.k and c.rk = 1
"""


def golden_entity_aliases_sql(
    doc_rel: str = "documents", max_aliases: int = 8
) -> str:
    """(entity_type, canonical, n_aliases, aliases) ground truth for
    link.entity_aliases: per planted cluster, the sorted distinct
    surface set truncated to max_aliases ('|'-joined), with the TRUE
    alias count alongside."""
    return f"""
{golden_entity_mentions_cte(doc_rel)}
, ranked as (
  select entity_type, k, norm,
         row_number() over (partition by entity_type, k
                            order by norm asc) as ark,
         count(*) over (partition by entity_type, k) as na
  from counts
),
agg as (
  select entity_type, k, cast(max(na) as bigint) as n_aliases,
         string_agg(norm, '|' order by norm) filter (ark <= {max_aliases})
             as aliases
  from ranked group by 1, 2
)
select a.entity_type, c.canonical, a.n_aliases, a.aliases
from agg a
join canon c on c.entity_type = a.entity_type and c.k = a.k and c.rk = 1
"""


def golden_entity_summary_sql(
    dialect_triples_sql: str, doc_rel: str = "documents"
) -> str:
    """(canonical, n_aliases, n_mentions, n_docs, n_triples) ground
    truth for the PERSON entity-page composition: mention/doc counts
    from the planted mention stream, alias counts from the distinct
    surface sets, triple counts by joining the planted triples' subject
    surfaces (normalized the same way the linker normalizes) to the
    PERSON surface->cluster map."""
    return f"""
{golden_entity_mentions_cte(doc_rel)}
, pstats as (
  select k, cast(count(*) as bigint) as n_mentions,
         cast(count(distinct doc_id) as bigint) as n_docs
  from ment where entity_type = 'PERSON' group by 1
),
palias as (
  select k, cast(count(*) as bigint) as n_aliases
  from counts where entity_type = 'PERSON' group by 1
),
pnorms as (
  select distinct k, norm from counts where entity_type = 'PERSON'
),
ptrip as (
  select p.k, cast(count(*) as bigint) as n_triples
  from ({dialect_triples_sql}) gt
  join pnorms p
    on p.norm = lower(regexp_replace(trim(gt.subj), '\\s+', ' ', 'g'))
  group by 1
)
select c.canonical, a.n_aliases, s.n_mentions, s.n_docs,
       coalesce(t.n_triples, 0) as n_triples
from pstats s
join palias a using (k)
left join ptrip t using (k)
join canon c on c.entity_type = 'PERSON' and c.k = s.k and c.rk = 1
"""


def golden_triples_canonical_sql(
    dialect_triples_sql: str, doc_rel: str = "documents"
) -> str:
    """(subj_canonical, pred, obj, n_assertions) ground truth for the
    canonicalized KG export: planted PERSON-subject triples with the
    subject surface resolved to its cluster canonical (same
    normalization the linker applies), deduplicated with counts."""
    return f"""
{golden_entity_mentions_cte(doc_rel)}
, pnorms as (
  select distinct k, norm from counts where entity_type = 'PERSON'
),
res as (
  select c.canonical as subj_canonical, gt.pred, gt.obj
  from ({dialect_triples_sql}) gt
  join pnorms p
    on p.norm = lower(regexp_replace(trim(gt.subj), '\\s+', ' ', 'g'))
  join canon c on c.entity_type = 'PERSON' and c.k = p.k and c.rk = 1
)
select subj_canonical, pred, obj,
       cast(count(*) as bigint) as n_assertions
from res group by 1, 2, 3
"""


def golden_resolved_persons_sql(doc_rel: str = "documents") -> str:
    """(doc_id, mention, canonical) for every planted PERSON mention."""
    return f"""
{golden_entity_mentions_cte(doc_rel)}
select m.doc_id, m.norm as mention_norm, c.canonical
from ment m
join canon c on c.entity_type = m.entity_type and c.k = m.k and c.rk = 1
where m.entity_type = 'PERSON'
"""


def golden_triples_sql(dialect: str, doc_rel: str = "documents") -> str:
    """(doc_id, subj, pred, obj) ground truth of the planted corpus."""
    T = lambda s, p, o: (
        f"named_struct('s', {s}, 'p', '{p}', 'o', {o})"
        if dialect == "spark"
        else f"struct_pack(s := {s}, p := '{p}', o := {o})"
    )
    lists = {
        0: [T("person", "works_at", "org"), T("org", "located_in", "city")],
        1: [T("person", "has_email", "email"), T("person", "has_phone", "phone")],
        2: [T("person", "lives_in", "city"), T("person", "lives_in", "st")],
    }
    if dialect == "spark":
        arr = lambda xs: f"array({', '.join(xs)})"
        case = (
            f"case when t = 0 then {arr(lists[0])} when t = 1 then {arr(lists[1])}"
            f" else {arr(lists[2])} end"
        )
        return f"""
{vals_cte_sql(dialect, doc_rel)}
select doc_id, tr.s as subj, tr.p as pred, tr.o as obj
from (select * from vals where t < 3) lateral view explode({case}) as tr
"""
    arr = lambda xs: f"[{', '.join(xs)}]"
    case = (
        f"case when t = 0 then {arr(lists[0])} when t = 1 then {arr(lists[1])}"
        f" else {arr(lists[2])} end"
    )
    return f"""
{vals_cte_sql(dialect, doc_rel)}
select doc_id, tr.s as subj, tr.p as pred, tr.o as obj
from (select doc_id, unnest({case}) as tr from vals where t < 3)
"""


def golden_el_candidates_sql(doc_rel: str = "documents") -> str:
    """(norm, entity_type, canonical, n_mentions, prior_e6, rk) ground
    truth for link.el_candidates: per planted surface form, its
    candidate canonical entities across types ranked by the corpus
    commonness prior — a match certifies both the linker's clustering
    AND the prior arithmetic."""
    return f"""
{golden_entity_mentions_cte(doc_rel)}
, m as (
  select entity_type, k, norm, cast(c as bigint) as n_mentions
  from counts
),
tot as (
  select norm, cast(sum(c) as bigint) as n_surface from counts group by 1
)
select m.norm, m.entity_type, cn.canonical, m.n_mentions,
       cast((1000000 * m.n_mentions) // t.n_surface as bigint)
         as prior_e6,
       cast(row_number() over (partition by m.norm
                               order by m.n_mentions desc,
                                        m.entity_type asc) as bigint)
         as rk
from m
join tot t using (norm)
join canon cn on cn.entity_type = m.entity_type and cn.k = m.k
             and cn.rk = 1
"""


def golden_rel_evidence_sql(dialect: str, doc_rel: str = "documents") -> str:
    """(doc_id, subj, pred, obj, evidence) ground truth: each planted
    triple with the exact subj..obj text span, rebuilt from the
    template surfaces (NOT from offsets — an independent construction,
    so a hash match certifies the pipeline's begin/end arithmetic)."""
    ev = {
        ("works_at", 0): "person || ' works at ' || org",
        ("located_in", 0): "org || ' in ' || city",
        ("has_email", 1): "person || ' at ' || email",
        ("has_phone", 1): (
            "person || ' at ' || email || ' or call ' || phone"
        ),
        ("lives_in_city", 2): (
            "person || ' lives at ' || streetnum || ' ' || street"
            " || ' in ' || city"
        ),
        ("lives_in_st", 2): (
            "person || ' lives at ' || streetnum || ' ' || street"
            " || ' in ' || city || ', ' || st"
        ),
    }
    T = lambda s, p, o, e: (
        f"named_struct('s', {s}, 'p', '{p}', 'o', {o}, 'e', {e})"
        if dialect == "spark"
        else f"struct_pack(s := {s}, p := '{p}', o := {o}, e := {e})"
    )
    lists = {
        0: [
            T("person", "works_at", "org", ev[("works_at", 0)]),
            T("org", "located_in", "city", ev[("located_in", 0)]),
        ],
        1: [
            T("person", "has_email", "email", ev[("has_email", 1)]),
            T("person", "has_phone", "phone", ev[("has_phone", 1)]),
        ],
        2: [
            T("person", "lives_in", "city", ev[("lives_in_city", 2)]),
            T("person", "lives_in", "st", ev[("lives_in_st", 2)]),
        ],
    }
    if dialect == "spark":
        arr = lambda xs: f"array({', '.join(xs)})"
        case = (
            f"case when t = 0 then {arr(lists[0])}"
            f" when t = 1 then {arr(lists[1])} else {arr(lists[2])} end"
        )
        return f"""
{vals_cte_sql(dialect, doc_rel)}
select doc_id, tr.s as subj, tr.p as pred, tr.o as obj, tr.e as evidence
from (select * from vals where t < 3) lateral view explode({case}) as tr
"""
    arr = lambda xs: f"[{', '.join(xs)}]"
    case = (
        f"case when t = 0 then {arr(lists[0])}"
        f" when t = 1 then {arr(lists[1])} else {arr(lists[2])} end"
    )
    return f"""
{vals_cte_sql(dialect, doc_rel)}
select doc_id, tr.s as subj, tr.p as pred, tr.o as obj, tr.e as evidence
from (select doc_id, unnest({case}) as tr from vals where t < 3)
"""


def golden_salience_sql(dialect: str, doc_rel: str = "documents") -> str:
    """(doc_id, entity_type, mention_norm, n_mentions, first_begin,
    sal_rank) ground truth for extract.entity_salience: every named-
    entity occurrence's ABSOLUTE 0-based begin offset is rebuilt by pure
    template length arithmetic (sentence j starts at len(base_text) + 1
    + sum of earlier planted sentences + separators; within-sentence
    offsets are the fixed template literal widths), aggregated to
    (count, min-begin) per surface and ranked with the operator's total
    order. An independent construction — a hash match certifies the
    detector's per-occurrence absolute offsets, not just the
    sentence-local spans rel_evidence covers. Identical SQL in both
    dialects (the mention column is aliased `b`, never `begin` — a
    DuckDB keyword)."""
    s = sentence_expr()
    # within-sentence 0-based offsets per template (sentence_expr widths:
    # ' works at '=10, ' in '=4, 'Contact '=8, ' lives at '=10, ', '=2,
    # 'SSN '=4, ' and card '=10, ' were filed by '=15)
    rows = [
        ("'PERSON'", "lower(person)", "0", 0),
        ("'ORGANIZATION'", "lower(org)", "length(person) + 10", 0),
        ("'LOCATION'", "lower(city)", "length(person) + length(org) + 14", 0),
        ("'PERSON'", "lower(person)", "8", 1),
        ("'PERSON'", "lower(person)", "0", 2),
        (
            "'LOCATION'", "lower(city)",
            "length(person) + length(streetnum) + length(street) + 15", 2,
        ),
        (
            "'LOCATION'", "lower(st)",
            "length(person) + length(streetnum) + length(street)"
            " + length(city) + 17", 2,
        ),
        ("'ORGANIZATION'", "lower(org)", "length(ssn) + length(cc) + 29", 3),
    ]
    ments = "\n  union all ".join(
        f"select doc_id, {e} as entity_type, {m} as mention_norm,"
        f" off + ({o}) as b from soff where t = {t}"
        for e, m, o, t in rows
    )
    return f"""
{vals_cte_sql(dialect, doc_rel)}
, sent as (
  select doc_id, j, t, {s} as s,
         person, org, city, st, streetnum, street, ssn, cc
  from vals
),
soff as (
  select sent.*,
         b.blen + 1 + coalesce(sum(length(sent.s) + 1) over (
             partition by sent.doc_id order by sent.j
             rows between unbounded preceding and 1 preceding), 0) as off
  from sent
  join (select doc_id, length(text) as blen from {doc_rel}) b
    on b.doc_id = sent.doc_id
),
ments as (
  {ments}
),
g as (
  select doc_id, entity_type, mention_norm,
         count(*) as n_mentions, cast(min(b) as bigint) as first_begin
  from ments group by 1, 2, 3
)
select doc_id, entity_type, mention_norm, n_mentions, first_begin,
       cast(row_number() over (
           partition by doc_id
           order by n_mentions desc, first_begin asc,
                    entity_type asc, mention_norm asc) as bigint)
           as sal_rank
from g
"""


def golden_el_disambig_sql(
    doc_rel: str = "documents", max_ctx: int = 64
) -> str:
    """(doc_id, norm, entity_type, canonical, n_cands, direct,
    coherence, prior_e6) ground truth for link.el_disambig: the full
    collective-disambiguation algebra — candidate priors, leave-one-out
    document context sets, global cluster co-occurrence edges, the
    direct/coherence sums and the winner rank — recomputed from the
    PLANTED mention truth (golden_entity_mentions_cte), independent of
    the linker. A hash match certifies the context algebra end to end;
    the gazetteers are type-disjoint so n_cands = 1 corpus-wide and the
    ambiguity flip is pinned on a crafted corpus in pytest."""
    return f"""
{golden_entity_mentions_cte(doc_rel)}
, tot as (select norm, sum(c) as n_surface from counts group by 1),
cand as (
  select co.norm, co.entity_type, cn.canonical,
         cast((1000000 * co.c) // t.n_surface as bigint) as prior_e6
  from counts co
  join tot t using (norm)
  join canon cn on cn.entity_type = co.entity_type and cn.k = co.k
               and cn.rk = 1
),
ncand as (
  select norm, cast(count(*) as bigint) as n_cands from cand group by 1
),
inst as (select distinct doc_id, norm from ment),
ctx as (
  select distinct i.doc_id, i.norm as src_norm,
         c.entity_type as ctx_type, c.canonical as ctx_canon
  from inst i
  join ncand n using (norm)
  join cand c using (norm)
  where n.n_cands = 1
),
dctx as (select distinct doc_id, ctx_type, ctx_canon from ctx),
keep as (
  select doc_id from dctx group by 1 having count(*) <= {max_ctx}
),
ctx2 as (select ctx.* from ctx join keep using (doc_id)),
dctx2 as (select dctx.* from dctx join keep using (doc_id)),
edges as (
  select a.ctx_type as e_ta, a.ctx_canon as e_ca,
         b.ctx_type as e_tb, b.ctx_canon as e_cb,
         cast(count(*) as bigint) as n_co
  from dctx2 a
  join dctx2 b on a.doc_id = b.doc_id
   and ((a.ctx_type < b.ctx_type)
        or (a.ctx_type = b.ctx_type and a.ctx_canon < b.ctx_canon))
  group by 1, 2, 3, 4
),
ci as (
  select i.doc_id, i.norm, c.entity_type, c.canonical, c.prior_e6,
         n.n_cands
  from inst i join cand c using (norm) join ncand n using (norm)
),
prs as (
  select distinct ci.doc_id, ci.norm, ci.entity_type, ci.canonical,
         x.ctx_type, x.ctx_canon
  from ci join ctx2 x using (doc_id)
  where x.src_norm <> ci.norm
),
sc as (
  select p.doc_id, p.norm, p.entity_type, p.canonical,
         cast(max(case when p.ctx_type = p.entity_type
                        and p.ctx_canon = p.canonical
                       then 1 else 0 end) as bigint) as direct,
         cast(sum(coalesce(e.n_co, 0)) as bigint) as coherence
  from prs p
  left join edges e
    on e.e_ta = (case when (p.entity_type, p.canonical)
                         < (p.ctx_type, p.ctx_canon)
                      then p.entity_type else p.ctx_type end)
   and e.e_ca = (case when (p.entity_type, p.canonical)
                         < (p.ctx_type, p.ctx_canon)
                      then p.canonical else p.ctx_canon end)
   and e.e_tb = (case when (p.entity_type, p.canonical)
                         < (p.ctx_type, p.ctx_canon)
                      then p.ctx_type else p.entity_type end)
   and e.e_cb = (case when (p.entity_type, p.canonical)
                         < (p.ctx_type, p.ctx_canon)
                      then p.ctx_canon else p.canonical end)
  group by 1, 2, 3, 4
),
dec as (
  select ci.doc_id, ci.norm, ci.entity_type, ci.canonical, ci.n_cands,
         cast(coalesce(sc.direct, 0) as bigint) as direct,
         cast(coalesce(sc.coherence, 0) as bigint) as coherence,
         ci.prior_e6
  from ci
  left join sc using (doc_id, norm, entity_type, canonical)
)
select doc_id, norm, entity_type, canonical, n_cands, direct,
       coherence, prior_e6
from dec
qualify row_number() over (
    partition by doc_id, norm
    order by direct desc, coherence desc, prior_e6 desc,
             entity_type asc, canonical asc) = 1
"""


# ---------------------------------------------------------------------------
# Wave-16 planted relations: Hearst-pattern sentences + coreference texts
# ---------------------------------------------------------------------------

HEARST_SALT = 83
COREF_SALT = 89
# fixed index offsets for distinct instance picks: pairwise differences
# (7, 13, 6) are nonzero mod every gazetteer length used (24, 32)
HEARST_OFFSETS = (0, 7, 13)
HEARST_CLASSES = ("companies", "cities", "countries")


def _hearst_vals(doc_id: int) -> dict:
    """Python mirror of the planted Hearst sentence parameters."""
    import itertools

    hh = h1(doc_id, HEARST_SALT)

    def hv(i: int) -> int:
        return h2(hh, 30 + i)

    kind = hv(0) % 3
    n = 2 + hv(1) % 2
    pat = hv(4) % 3
    if kind == 1:
        pool = G.CITIES
    elif kind == 2:
        pool = G.COUNTRIES
    else:
        pool = None
    base = hv(2) % (len(pool) if pool else 32)
    if pool is None:
        suf = G.ORG_SUFFIXES[hv(3) % 8]
        inst = [
            G.ORG_WORDS[(base + o) % 32] + " " + suf
            for o in HEARST_OFFSETS[:n]
        ]
    else:
        inst = [pool[(base + o) % len(pool)] for o in HEARST_OFFSETS[:n]]
    return dict(kind=kind, n=n, pat=pat, cls=HEARST_CLASSES[kind], inst=inst)


def plant_hearst(doc_id: int) -> tuple[str, list[tuple[str, str, str, str]]]:
    """(text, [(hyponym, 'is_a', hypernym, pattern), ...]) for doc_id
    (only doc_id % 2 = 0 plants a sentence; others return ('', []))."""
    if doc_id % 2 != 0:
        return "", []
    v = _hearst_vals(doc_id)
    cls, inst, pat = v["cls"], v["inst"], v["pat"]
    if pat == 2:
        lst = ", ".join(inst)
        text = f"{lst} and other {cls} were surveyed last year."
        pname = "other"
    else:
        lst = (
            f"{inst[0]} and {inst[1]}"
            if len(inst) == 2
            else f"{inst[0]}, {inst[1]} and {inst[2]}"
        )
        if pat == 0:
            text = f"Many {cls} such as {lst} have expanded recently."
            pname = "such_as"
        else:
            text = f"Major {cls} including {lst} reported strong growth."
            pname = "including"
    return text, [(i, "is_a", cls, pname) for i in inst]


def hearst_sql(dialect: str, doc_rel: str = "documents") -> str:
    """Planted Hearst-pattern corpus (doc_id, text): for doc_id % 2 = 0,
    ONE taxonomy sentence in one of the three classic Hearst 1992 shapes

        such_as:   'Many <cls> such as A, B and C have expanded recently.'
        including: 'Major <cls> including A and B reported strong growth.'
        other:     'A, B, C and other <cls> were surveyed last year.'

    with 2-3 DISTINCT instances drawn from the frozen gazetteers (class
    'companies' -> ORG_WORDS + one shared suffix, 'cities' -> CITIES,
    'countries' -> COUNTRIES; distinctness by fixed offsets 0/7/13 whose
    pairwise differences are nonzero mod 24 and 32). Everything keys off
    h1(doc_id, HEARST_SALT), so the extractor's output is certifiable
    against golden_hearst_sql() without the oracle parsing any text.

    Expression-size discipline: the text is assembled as prefix || i0 ||
    sep1 || i1 || [sep2 || i2] || suffix so each instance pick (a CASE
    over three ~30-literal element_at arrays + hash chain) appears
    EXACTLY ONCE after CollapseProject folds the CTEs into one
    projection. The earlier per-pattern CASE referenced each pick up to
    4x, quadrupling the collapsed tree past janino's method limit —
    whole-stage codegen failed and the interpreted fallback (which
    builds each literal array per row per reference) ran ~30x slower."""
    hh = sql_h1("doc_id", HEARST_SALT)

    def hv(i: int) -> str:
        return sql_h2("hh", 30 + i)

    def inst(off: int) -> str:
        # per-slot instance as an inline scalar (no slots explode +
        # re-aggregate: the corpus generator stays a pure projection, so
        # q_hearst's whole plan — generator AND extractor — is
        # shuffle-free)
        org = (
            f"({_pick(dialect, G.ORG_WORDS, f'(base + {off}) % 32')}"
            f" || ' ' || {_pick(dialect, G.ORG_SUFFIXES, 'hv3 % 8')})"
        )
        city = _pick(dialect, G.CITIES, f"(base + {off}) % 32")
        country = _pick(dialect, G.COUNTRIES, f"(base + {off}) % 24")
        return (
            f"case when kind = 0 then {org} when kind = 1 then {city}"
            f" else {country} end"
        )

    return f"""
with hp as (
  select doc_id, hh,
         {hv(0)} % 3 as kind,
         2 + {hv(1)} % 2 as n,
         {hv(4)} % 3 as pat,
         {hv(3)} as hv3,
         case when {hv(0)} % 3 = 2 then {hv(2)} % 24
              else {hv(2)} % 32 end as base
  from (select doc_id, {hh} as hh from {doc_rel} where doc_id % 2 = 0)
)
select doc_id,
  (case when pat = 0 then
      'Many ' || (case kind when 0 then 'companies' when 1 then 'cities'
                            else 'countries' end) || ' such as '
        when pat = 1 then
      'Major ' || (case kind when 0 then 'companies' when 1 then 'cities'
                             else 'countries' end) || ' including '
        else '' end)
  || {inst(0)}
  || (case when n = 2 and pat != 2 then ' and ' else ', ' end)
  || {inst(7)}
  || (case when n = 2 then ''
           else (case when pat = 2 then ', ' else ' and ' end)
                || {inst(13)} end)
  || (case when pat = 2 then
        ' and other ' ||
        (case kind when 0 then 'companies' when 1 then 'cities'
                   else 'countries' end) || ' were surveyed last year.'
          when pat = 0 then ' have expanded recently.'
          else ' reported strong growth.' end)
  as text
from hp
"""


def golden_hearst_sql(doc_rel: str = "documents") -> str:
    """(doc_id, hyponym, pred, hypernym, pattern) ground truth for
    extract.hearst_hypernyms over hearst_sql: one row per planted
    instance, recomputed from the hash chain — the oracle never parses
    the sentence, so a hash match certifies the Spark-side regex
    extraction end to end."""
    hh = sql_h1("doc_id", HEARST_SALT)

    def hv(i: int) -> str:
        return sql_h2("hh", 30 + i)

    org = (
        f"({_pick('duck', G.ORG_WORDS, '(base + off) % 32')} || ' ' || "
        f"{_pick('duck', G.ORG_SUFFIXES, 'hv3 % 8')})"
    )
    city = _pick("duck", G.CITIES, "(base + off) % 32")
    country = _pick("duck", G.COUNTRIES, "(base + off) % 24")
    return f"""
with hp as (
  select doc_id, hh,
         {hv(0)} % 3 as kind,
         2 + {hv(1)} % 2 as n,
         {hv(4)} % 3 as pat,
         {hv(3)} as hv3,
         case when {hv(0)} % 3 = 2 then {hv(2)} % 24
              else {hv(2)} % 32 end as base
  from (select doc_id, {hh} as hh from {doc_rel} where doc_id % 2 = 0)
),
slots as (
  select cast(generate_subscripts([0, 7, 13], 1) - 1 as bigint) as slot,
         unnest([0, 7, 13]) as off
)
select hp.doc_id,
       case when hp.kind = 0 then {org}
            when hp.kind = 1 then {city}
            else {country} end as hyponym,
       'is_a' as pred,
       case hp.kind when 0 then 'companies' when 1 then 'cities'
                    else 'countries' end as hypernym,
       case hp.pat when 0 then 'such_as' when 1 then 'including'
                   else 'other' end as pattern
from hp cross join slots s
where s.slot < hp.n
"""


def _coref_vals(doc_id: int) -> dict:
    """Python mirror of the planted coreference text parameters."""
    ch = h1(doc_id, COREF_SALT)

    def cv(i: int) -> int:
        return h2(ch, 50 + i)

    g = cv(0) % 2  # 0 = P1 female (P2 male), 1 = the reverse
    p1 = (G.FIRST_FEMALE if g == 0 else G.FIRST_MALE)[cv(1) % 24] + " " + \
        G.LAST_NAMES[cv(2) % 40]
    p2 = (G.FIRST_MALE if g == 0 else G.FIRST_FEMALE)[cv(3) % 24] + " " + \
        G.LAST_NAMES[cv(4) % 40]
    o1 = G.ORG_WORDS[cv(5) % 32] + " " + G.ORG_SUFFIXES[cv(6) % 8]
    o2 = G.ORG_WORDS[cv(7) % 32] + " " + G.ORG_SUFFIXES[cv(8) % 8]
    o3 = G.ORG_WORDS[cv(9) % 32] + " " + G.ORG_SUFFIXES[cv(10) % 8]
    c1 = G.CITIES[cv(11) % 32]
    pr1 = "She" if g == 0 else "He"
    pr2 = "He" if g == 0 else "She"
    return dict(g=g, p1=p1, p2=p2, o1=o1, o2=o2, o3=o3, c1=c1,
                pr1=pr1, pr2=pr2)


def plant_coref(doc_id: int) -> tuple[str, list[tuple]]:
    """(text, truth) for the coreference corpus: truth rows are
    (doc_id, j, anaphor, antecedent, pred, obj). The two persons have
    OPPOSITE genders and the two pronouns arrive in gender order
    (pr1 matches P1), so resolving pr1 requires SKIPPING the nearer
    P2 — gender agreement is genuinely load-bearing, not decorative."""
    v = _coref_vals(doc_id)
    text = (
        f"{v['p1']} works at {v['o1']}. {v['p2']} joined {v['o2']}."
        f" {v['pr1']} lives in {v['c1']}. {v['pr2']} founded {v['o3']}."
    )
    truth = [
        (doc_id, 2, v["pr1"], v["p1"], "lives_in", v["c1"]),
        (doc_id, 3, v["pr2"], v["p2"], "founded", v["o3"]),
    ]
    return text, truth


def coref_sql(dialect: str, doc_rel: str = "documents") -> str:
    """Planted coreference corpus (doc_id, text): every doc carries

        'P1 works at O1. P2 joined O2. <pr1> lives in C1. <pr2> founded O3.'

    where P1/P2 are persons of OPPOSITE gender (disjoint frozen name
    lists) and pr1 agrees with P1 — so the nearest-PRECEDING-mention
    rule alone picks the WRONG antecedent (P2) for pr1; only
    nearest-preceding-with-GENDER-AGREEMENT resolves the plant. Keys
    off h1(doc_id, COREF_SALT); golden_coref_sql recomputes the truth
    without parsing."""
    ch = sql_h1("doc_id", COREF_SALT)

    def cv(i: int) -> str:
        return sql_h2("ch", 50 + i)

    ff = _pick(dialect, G.FIRST_FEMALE, "cv1 % 24")
    fm = _pick(dialect, G.FIRST_MALE, "cv1 % 24")
    ff3 = _pick(dialect, G.FIRST_FEMALE, "cv3 % 24")
    fm3 = _pick(dialect, G.FIRST_MALE, "cv3 % 24")
    return f"""
with ck as (
  select doc_id, ch, ({cv(0)}) % 2 as g,
         ({cv(1)}) as cv1, ({cv(3)}) as cv3,
         {_pick(dialect, G.LAST_NAMES, f'({cv(2)}) % 40')} as l1,
         {_pick(dialect, G.LAST_NAMES, f'({cv(4)}) % 40')} as l2,
         ({_pick(dialect, G.ORG_WORDS, f'({cv(5)}) % 32')} || ' ' ||
          {_pick(dialect, G.ORG_SUFFIXES, f'({cv(6)}) % 8')}) as o1,
         ({_pick(dialect, G.ORG_WORDS, f'({cv(7)}) % 32')} || ' ' ||
          {_pick(dialect, G.ORG_SUFFIXES, f'({cv(8)}) % 8')}) as o2,
         ({_pick(dialect, G.ORG_WORDS, f'({cv(9)}) % 32')} || ' ' ||
          {_pick(dialect, G.ORG_SUFFIXES, f'({cv(10)}) % 8')}) as o3,
         {_pick(dialect, G.CITIES, f'({cv(11)}) % 32')} as c1
  from (select doc_id, {ch} as ch from {doc_rel})
),
cp as (
  select doc_id,
         (case when g = 0 then {ff} else {fm} end) || ' ' || l1 as p1,
         (case when g = 0 then {fm3} else {ff3} end) || ' ' || l2 as p2,
         case when g = 0 then 'She' else 'He' end as pr1,
         case when g = 0 then 'He' else 'She' end as pr2,
         o1, o2, o3, c1
  from ck
)
select doc_id,
       p1 || ' works at ' || o1 || '. ' || p2 || ' joined ' || o2 || '. ' ||
       pr1 || ' lives in ' || c1 || '. ' || pr2 || ' founded ' || o3 || '.'
       as text
from cp
"""


def golden_coref_sql(doc_rel: str = "documents") -> str:
    """(doc_id, j, anaphor, antecedent, pred, obj) ground truth for
    extract.coref_resolve over coref_sql — recomputed from the hash
    chain, never parsed, so a hash match certifies sentence splitting,
    mention/gender classification and the gender-agreeing
    nearest-preceding resolution in one gate."""
    inner = coref_sql("duck", doc_rel)
    ch = sql_h1("doc_id", COREF_SALT)

    def cv(i: int) -> str:
        return sql_h2("ch", 50 + i)

    ff = _pick("duck", G.FIRST_FEMALE, "cv1 % 24")
    fm = _pick("duck", G.FIRST_MALE, "cv1 % 24")
    ff3 = _pick("duck", G.FIRST_FEMALE, "cv3 % 24")
    fm3 = _pick("duck", G.FIRST_MALE, "cv3 % 24")
    return f"""
with ck as (
  select doc_id, ({cv(0)}) % 2 as g,
         ({cv(1)}) as cv1, ({cv(3)}) as cv3,
         {_pick('duck', G.LAST_NAMES, f'({cv(2)}) % 40')} as l1,
         {_pick('duck', G.LAST_NAMES, f'({cv(4)}) % 40')} as l2,
         ({_pick('duck', G.ORG_WORDS, f'({cv(9)}) % 32')} || ' ' ||
          {_pick('duck', G.ORG_SUFFIXES, f'({cv(10)}) % 8')}) as o3,
         {_pick('duck', G.CITIES, f'({cv(11)}) % 32')} as c1
  from (select doc_id, {ch} as ch from {doc_rel})
),
cp as (
  select doc_id,
         (case when g = 0 then {ff} else {fm} end) || ' ' || l1 as p1,
         (case when g = 0 then {fm3} else {ff3} end) || ' ' || l2 as p2,
         case when g = 0 then 'She' else 'He' end as pr1,
         case when g = 0 then 'He' else 'She' end as pr2,
         o3, c1
  from ck
)
select doc_id, cast(2 as bigint) as j, pr1 as anaphor, p1 as antecedent,
       'lives_in' as pred, c1 as obj
from cp
union all
select doc_id, cast(3 as bigint), pr2, p2, 'founded', o3 from cp
"""


def golden_bio_sql(pages_sql_duck: str, doc_rel: str = "documents") -> str:
    """(doc_id, t, token, tag) ground truth for extract.ner_bio_export:
    every named-entity occurrence's ABSOLUTE span [b, e) is rebuilt by
    the same pure template-length arithmetic golden_salience_sql uses
    (b) EXTENDED with e = b + length(surface) — then projected onto the
    whitespace token stream of the clean text with a window running-sum
    for token offsets and a range join for containment. A hash match
    therefore certifies the detector's per-occurrence END offsets
    corpus-wide (every I- token), one step past salience's begin-only
    certification. Independent construction: the token side reads the
    certified page text, the span side never consults the detector."""
    s = sentence_expr()
    rows = [
        ("'PERSON'", "person", "0", 0),
        ("'ORGANIZATION'", "org", "length(person) + 10", 0),
        ("'LOCATION'", "city", "length(person) + length(org) + 14", 0),
        ("'PERSON'", "person", "8", 1),
        ("'PERSON'", "person", "0", 2),
        (
            "'LOCATION'", "city",
            "length(person) + length(streetnum) + length(street) + 15", 2,
        ),
        (
            "'LOCATION'", "st",
            "length(person) + length(streetnum) + length(street)"
            " + length(city) + 17", 2,
        ),
        ("'ORGANIZATION'", "org", "length(ssn) + length(cc) + 29", 3),
    ]
    ments = "\n  union all ".join(
        f"select doc_id, {e} as entity_type, off + ({o}) as b,"
        f" off + ({o}) + length({m}) as e from soff where t = {t}"
        for e, m, o, t in rows
    )
    return f"""
{vals_cte_sql('duck', doc_rel)}
, sent as (
  select doc_id, j, t, {s} as s,
         person, org, city, st, streetnum, street, ssn, cc
  from vals
),
soff as (
  select sent.*,
         b.blen + 1 + coalesce(sum(length(sent.s) + 1) over (
             partition by sent.doc_id order by sent.j
             rows between unbounded preceding and 1 preceding), 0) as off
  from sent
  join (select doc_id, length(text) as blen from {doc_rel}) b
    on b.doc_id = sent.doc_id
),
spans as (
  {ments}
),
toks as (
  select doc_id,
         cast(generate_subscripts(string_split(text, ' '), 1) - 1
              as bigint) as t,
         unnest(string_split(text, ' ')) as tok
  from ({pages_sql_duck}) c
),
ofs as (
  select doc_id, t, tok,
         coalesce(sum(length(tok) + 1) over (
             partition by doc_id order by t
             rows between unbounded preceding and 1 preceding), 0) as b
  from toks
)
select o.doc_id, o.t, o.tok as token,
       case when s.b is null then 'O'
            when o.b = s.b then 'B-' || s.entity_type
            else 'I-' || s.entity_type end as tag
from ofs o
left join spans s
  on s.doc_id = o.doc_id and o.b >= s.b and o.b < s.e
"""


# ---------------------------------------------------------------------------
# Wave-17 planted quotations: attributed direct speech
# ---------------------------------------------------------------------------

QUOTE_SALT = 101
QUOTE_VERBS = ("said", "announced", "warned")


def _quote_vals(doc_id: int) -> dict:
    """Python mirror of the planted quotation parameters."""
    qh = h1(doc_id, QUOTE_SALT)

    def qv(i: int) -> int:
        return h2(qh, 70 + i)

    pool = G.LANG_STOPWORDS["en"]
    n = 4 + qv(0) % 3
    words = [pool[qv(2 + k) % 20] for k in range(n)]
    return dict(
        form=qv(1) % 2,
        speaker=G.FIRST_NAMES[qv(8) % 48] + " " + G.LAST_NAMES[qv(9) % 40],
        verb=QUOTE_VERBS[qv(10) % 3],
        quote=" ".join(words),
    )


def plant_quote(doc_id: int) -> tuple[str, tuple]:
    """(text, (speaker, verb, quote, form)) for doc_id. Two syntactic
    forms: quote-first ('"<q>," <verb> <Speaker>.') and speaker-first
    ('<Speaker> <verb>: "<q>."')."""
    v = _quote_vals(doc_id)
    if v["form"] == 0:
        text = f'"{v["quote"]}," {v["verb"]} {v["speaker"]}.'
    else:
        text = f'{v["speaker"]} {v["verb"]}: "{v["quote"]}."'
    return text, (v["speaker"], v["verb"], v["quote"], v["form"])


def _quote_parts_sql(dialect: str, doc_rel: str) -> str:
    """Shared qk/qp CTE body: (doc_id, form, q, spkr, vb)."""
    qh = sql_h1("doc_id", QUOTE_SALT)

    def qv(i: int) -> str:
        return sql_h2("qh", 70 + i)

    pool = list(G.LANG_STOPWORDS["en"])
    w4 = " || ' ' || ".join(
        _pick(dialect, pool, f"qv{2 + k} % 20") for k in range(4)
    )
    t5 = _pick(dialect, pool, "qv6 % 20")
    t6 = _pick(dialect, pool, "qv7 % 20")
    spk = (
        f"{_pick(dialect, list(G.FIRST_NAMES), 'qv8 % 48')} || ' ' || "
        f"{_pick(dialect, list(G.LAST_NAMES), 'qv9 % 40')}"
    )
    verb = _pick(dialect, list(QUOTE_VERBS), "qv10 % 3")
    cols = ", ".join(f"({qv(i)}) as qv{i}" for i in range(11))
    return f"""
qk as (
  select doc_id, {cols}
  from (select doc_id, {qh} as qh from {doc_rel})
),
qp as (
  select doc_id, qv1 % 2 as form,
         ({w4})
           || (case when qv0 % 3 >= 1 then ' ' || {t5} else '' end)
           || (case when qv0 % 3 = 2 then ' ' || {t6} else '' end) as q,
         ({spk}) as spkr, ({verb}) as vb
  from qk
)"""


def quote_sql(dialect: str, doc_rel: str = "documents") -> str:
    """Planted quotation corpus (doc_id, text): every doc carries ONE
    attributed direct-speech sentence in one of two forms

        quote-first:   '"<q words>," <verb> <First Last>.'
        speaker-first: '<First Last> <verb>: "<q words>."'

    with a 4-6-word quote drawn from the frozen en stopword pool, a
    speaker from the name gazetteers and a reporting verb from
    QUOTE_VERBS. Keys off h1(doc_id, QUOTE_SALT); golden_quote_sql
    recomputes the truth without parsing, so a hash match certifies
    the extractor's quote/speaker/verb grammar end to end.

    Expression-size discipline: each gazetteer pick is referenced ONCE
    in qp and only the small scalar columns (q, spkr, vb) are
    referenced twice in the final CASE — within janino's method budget
    (the hearst_sql lesson)."""
    return f"""
with {_quote_parts_sql(dialect, doc_rel)}
select doc_id,
       case when form = 0 then '"' || q || '," ' || vb || ' ' || spkr || '.'
            else spkr || ' ' || vb || ': "' || q || '."' end as text
from qp
"""


def golden_quote_sql(doc_rel: str = "documents") -> str:
    """(doc_id, speaker, verb, quote, form) ground truth for
    extract.quote_attribution over quote_sql — recomputed from the
    hash chain (the shared qp CTE), never parsed."""
    return f"""
with {_quote_parts_sql('duck', doc_rel)}
select doc_id, spkr as speaker, vb as verb, q as quote,
       cast(form as bigint) as form
from qp
"""


def planted_cluster_truth_sql(dialect: str, doc_rel: str = "documents") -> str:
    """(entity_type, k, norm) DISTINCT planted linkable surfaces with
    their ground-truth cluster key k (PERSON ignores casing and middle
    initials via person_key; others normalize by lower) — the
    dual-dialect truth table the clustering-evaluation operator joins
    against the linker's members. Mirrors golden_entity_mentions_cte's
    `ment` rows exactly."""
    return f"""
{vals_cte_sql(dialect, doc_rel)}
, ment as (
  select 'PERSON' as entity_type, person_key as k, lower(person) as norm
  from vals where t in (0, 1, 2)
  union all select 'ORGANIZATION', lower(org), lower(org) from vals where t in (0, 3)
  union all select 'LOCATION', lower(city), lower(city) from vals where t in (0, 2)
  union all select 'LOCATION', lower(st), lower(st) from vals where t = 2
)
select distinct entity_type, k, norm from ment
"""


# ---------------------------------------------------------------------------
# Wave-18 planted numeric facts: money + population measurements
# ---------------------------------------------------------------------------

METRIC_SALT = 103


def _metric_vals(doc_id: int) -> dict:
    mh = h1(doc_id, METRIC_SALT)

    def mv(i: int) -> int:
        return h2(mh, 80 + i)

    frame = mv(0) % 3
    org = G.ORG_WORDS[mv(1) % 32] + " " + G.ORG_SUFFIXES[mv(2) % 8]
    city = G.CITIES[mv(3) % 32]
    a, b = 1 + mv(4) % 99, mv(5) % 10
    m = 5 + mv(6) % 991
    g1, g2, g3 = 10 + mv(7) % 990, mv(8) % 1000, mv(9) % 1000
    return dict(frame=frame, org=org, city=city, a=a, b=b, m=m,
                g1=g1, g2=g2, g3=g3)


def plant_metric(doc_id: int) -> tuple[str, tuple]:
    """(text, (subj, pred, value)) for the numeric-fact corpus."""
    v = _metric_vals(doc_id)
    if v["frame"] == 0:
        text = (
            f'{v["org"]} reported revenue of ${v["a"]}.{v["b"]} billion.'
        )
        truth = (v["org"], "revenue_usd",
                 v["a"] * 10**9 + v["b"] * 10**8)
    elif v["frame"] == 1:
        text = f'{v["org"]} raised ${v["m"]} million.'
        truth = (v["org"], "raised_usd", v["m"] * 10**6)
    else:
        pop = f'{v["g1"]},{v["g2"]:03d},{v["g3"]:03d}'
        text = f'{v["city"]} has a population of {pop}.'
        truth = (v["city"], "population",
                 v["g1"] * 10**6 + v["g2"] * 10**3 + v["g3"])
    return text, truth


def metric_sql(dialect: str, doc_rel: str = "documents") -> str:
    """Planted measurement corpus (doc_id, text): one numeric-fact
    sentence per doc in one of three frames

        f0: '<Org> reported revenue of $<a>.<b> billion.'
        f1: '<Org> raised $<m> million.'
        f2: '<City> has a population of <g1>,<g2>,<g3>.'

    — scaled-unit money (billion/million -> integer USD) and
    comma-grouped counts, the two numeric-literal normalizations a
    web-scale fact extractor must get exactly right. Keys off
    h1(doc_id, METRIC_SALT); golden_metric_sql recomputes values by
    pure arithmetic, never parsing."""
    mh = sql_h1("doc_id", METRIC_SALT)

    def mv(i: int) -> str:
        return sql_h2("mh", 80 + i)

    org = (
        f"({_pick(dialect, G.ORG_WORDS, 'mv1 % 32')} || ' ' || "
        f"{_pick(dialect, G.ORG_SUFFIXES, 'mv2 % 8')})"
    )
    city = _pick(dialect, G.CITIES, "mv3 % 32")
    cols = ", ".join(f"({mv(i)}) as mv{i}" for i in range(10))
    return f"""
with mk as (
  select doc_id, {cols}
  from (select doc_id, {mh} as mh from {doc_rel})
),
mp as (
  select doc_id, mv0 % 3 as frame,
         {org} as org, {city} as city,
         1 + mv4 % 99 as a, mv5 % 10 as b,
         5 + mv6 % 991 as m,
         10 + mv7 % 990 as g1, mv8 % 1000 as g2, mv9 % 1000 as g3
  from mk
)
select doc_id,
  case when frame = 0 then
    org || ' reported revenue of $' || {_s('a')} || '.' || {_s('b')}
        || ' billion.'
  when frame = 1 then
    org || ' raised $' || {_s('m')} || ' million.'
  else
    city || ' has a population of ' || {_s('g1')} || ','
         || {_lpad('g2', 3)} || ',' || {_lpad('g3', 3)} || '.'
  end as text
from mp
"""


def golden_metric_sql(doc_rel: str = "documents") -> str:
    """(doc_id, subj, pred, value) ground truth for
    extract.numeric_facts over metric_sql — pure hash-chain
    arithmetic, never parsed (bigint values certify the unit scaling
    and comma-group normalization exactly)."""
    mh = sql_h1("doc_id", METRIC_SALT)

    def mv(i: int) -> str:
        return sql_h2("mh", 80 + i)

    org = (
        f"({_pick('duck', G.ORG_WORDS, 'mv1 % 32')} || ' ' || "
        f"{_pick('duck', G.ORG_SUFFIXES, 'mv2 % 8')})"
    )
    city = _pick("duck", G.CITIES, "mv3 % 32")
    cols = ", ".join(f"({mv(i)}) as mv{i}" for i in range(10))
    return f"""
with mk as (
  select doc_id, {cols}
  from (select doc_id, {mh} as mh from {doc_rel})
),
mp as (
  select doc_id, mv0 % 3 as frame,
         {org} as org, {city} as city,
         1 + mv4 % 99 as a, mv5 % 10 as b,
         5 + mv6 % 991 as m,
         10 + mv7 % 990 as g1, mv8 % 1000 as g2, mv9 % 1000 as g3
  from mk
)
select doc_id,
       case when frame = 2 then city else org end as subj,
       case frame when 0 then 'revenue_usd' when 1 then 'raised_usd'
                  else 'population' end as pred,
       cast(case frame
              when 0 then a * 1000000000 + b * 100000000
              when 1 then m * 1000000
              else g1 * 1000000 + g2 * 1000 + g3 end as bigint) as value
from mp
"""


# ---------------------------------------------------------------------------
# Wave-18 planted temporal expressions: three date surface forms
# ---------------------------------------------------------------------------

TIMEX_SALT = 107
MONTHS = (
    "January", "February", "March", "April", "May", "June", "July",
    "August", "September", "October", "November", "December",
)


def _timex_vals(doc_id: int) -> dict:
    th = h1(doc_id, TIMEX_SALT)

    def tv(i: int) -> int:
        return h2(th, 90 + i)

    return dict(
        form=tv(0) % 3,
        org=G.ORG_WORDS[tv(1) % 32] + " " + G.ORG_SUFFIXES[tv(2) % 8],
        y=1950 + tv(3) % 75,
        m=1 + tv(4) % 12,
        d=1 + tv(5) % 28,
    )


def plant_timex(doc_id: int) -> tuple[str, tuple]:
    """(text, (subj, pred, date_iso)) for the temporal corpus."""
    v = _timex_vals(doc_id)
    mn = MONTHS[v["m"] - 1]
    if v["form"] == 0:
        ds = f'{mn} {v["d"]}, {v["y"]}'
    elif v["form"] == 1:
        ds = f'{v["y"]}-{v["m"]:02d}-{v["d"]:02d}'
    else:
        ds = f'{v["d"]} {mn} {v["y"]}'
    return (
        f'{v["org"]} was founded on {ds}.',
        (v["org"], "founded_on", f'{v["y"]}-{v["m"]:02d}-{v["d"]:02d}'),
    )


def timex_sql(dialect: str, doc_rel: str = "documents") -> str:
    """Planted temporal corpus (doc_id, text): '<Org> was founded on
    <date>.' with the date in one of three surface forms — US prose
    ('March 5, 2024'), ISO ('2024-03-05'), European prose
    ('5 March 2024') — all encoding the same hash-chain (y, m, d).
    golden_timex_sql recomputes the ISO normal form arithmetically, so
    a hash match certifies the extractor's format coverage AND
    month-name/zero-pad normalization."""
    th = sql_h1("doc_id", TIMEX_SALT)

    def tv(i: int) -> str:
        return sql_h2("th", 90 + i)

    org = (
        f"({_pick(dialect, G.ORG_WORDS, 'tv1 % 32')} || ' ' || "
        f"{_pick(dialect, G.ORG_SUFFIXES, 'tv2 % 8')})"
    )
    mn = _pick(dialect, list(MONTHS), "m - 1")
    cols = ", ".join(f"({tv(i)}) as tv{i}" for i in range(6))
    return f"""
with tk as (
  select doc_id, {cols}
  from (select doc_id, {th} as th from {doc_rel})
),
tp as (
  select doc_id, tv0 % 3 as form, {org} as org,
         1950 + tv3 % 75 as y, 1 + tv4 % 12 as m, 1 + tv5 % 28 as d
  from tk
)
select doc_id,
  org || ' was founded on ' ||
  case when form = 0 then {mn} || ' ' || {_s('d')} || ', ' || {_s('y')}
       when form = 1 then {_s('y')} || '-' || {_lpad('m', 2)} || '-'
                          || {_lpad('d', 2)}
       else {_s('d')} || ' ' || {mn} || ' ' || {_s('y')} end
  || '.' as text
from tp
"""


def golden_timex_sql(doc_rel: str = "documents") -> str:
    """(doc_id, subj, pred, date_iso) ground truth for
    extract.date_facts over timex_sql — hash-chain arithmetic only."""
    th = sql_h1("doc_id", TIMEX_SALT)

    def tv(i: int) -> str:
        return sql_h2("th", 90 + i)

    org = (
        f"({_pick('duck', G.ORG_WORDS, 'tv1 % 32')} || ' ' || "
        f"{_pick('duck', G.ORG_SUFFIXES, 'tv2 % 8')})"
    )
    cols = ", ".join(f"({tv(i)}) as tv{i}" for i in range(6))
    return f"""
with tk as (
  select doc_id, {cols}
  from (select doc_id, {th} as th from {doc_rel})
),
tp as (
  select doc_id, {org} as org,
         1950 + tv3 % 75 as y, 1 + tv4 % 12 as m, 1 + tv5 % 28 as d
  from tk
)
select doc_id, org as subj, 'founded_on' as pred,
       {_s('y')} || '-' || {_lpad('m', 2)} || '-' || {_lpad('d', 2)}
         as date_iso
from tp
"""


# ---------------------------------------------------------------------------
# Wave-19 planted polarity + voice corpora; robots.txt rules
# ---------------------------------------------------------------------------

NEG_SALT = 109
VOICE_SALT = 113


def _neg_vals(doc_id: int) -> dict:
    nh = h1(doc_id, NEG_SALT)

    def nv(i: int) -> int:
        return h2(nh, 110 + i)

    return dict(
        frame=nv(0) % 4,
        person=G.FIRST_NAMES[nv(1) % 48] + " " + G.LAST_NAMES[nv(2) % 40],
        org=G.ORG_WORDS[nv(3) % 32] + " " + G.ORG_SUFFIXES[nv(4) % 8],
    )


NEG_FRAMES = (
    ("works at", "pos"),
    ("does not work at", "neg"),
    ("no longer works at", "neg"),
    ("never worked at", "neg"),
)


def plant_negation(doc_id: int) -> tuple[str, tuple]:
    """(text, (subj, pred, obj, polarity))."""
    v = _neg_vals(doc_id)
    verb, pol = NEG_FRAMES[v["frame"]]
    return (
        f'{v["person"]} {verb} {v["org"]}.',
        (v["person"], "works_at", v["org"], pol),
    )


def negation_sql(dialect: str, doc_rel: str = "documents") -> str:
    """Planted polarity corpus (doc_id, text): one employment sentence
    per doc in one of four frames — affirmative 'works at' plus three
    negation surfaces ('does not work at' / 'no longer works at' /
    'never worked at'). The extraction-precision trap corpus: a naive
    pattern matching 'work(s|ed) at' would assert every negated fact.
    Keys off h1(doc_id, NEG_SALT); golden_negation_sql replays
    (subj, pred, obj, polarity) from the chain without parsing."""
    nh = sql_h1("doc_id", NEG_SALT)

    def nv(i: int) -> str:
        return sql_h2("nh", 110 + i)

    person = (
        f"({_pick(dialect, list(G.FIRST_NAMES), 'nv1 % 48')} || ' ' || "
        f"{_pick(dialect, list(G.LAST_NAMES), 'nv2 % 40')})"
    )
    org = (
        f"({_pick(dialect, G.ORG_WORDS, 'nv3 % 32')} || ' ' || "
        f"{_pick(dialect, G.ORG_SUFFIXES, 'nv4 % 8')})"
    )
    verbs = [v for v, _ in NEG_FRAMES]
    verb = _pick(dialect, verbs, "nv0 % 4")
    cols = ", ".join(f"({nv(i)}) as nv{i}" for i in range(5))
    return f"""
with nk as (
  select doc_id, {cols}
  from (select doc_id, {nh} as nh from {doc_rel})
)
select doc_id,
       {person} || ' ' || {verb} || ' ' || {org} || '.' as text
from nk
"""


def golden_negation_sql(doc_rel: str = "documents") -> str:
    """(doc_id, subj, pred, obj, polarity) ground truth for
    extract.polarity_triples over negation_sql."""
    nh = sql_h1("doc_id", NEG_SALT)

    def nv(i: int) -> str:
        return sql_h2("nh", 110 + i)

    person = (
        f"({_pick('duck', list(G.FIRST_NAMES), 'nv1 % 48')} || ' ' || "
        f"{_pick('duck', list(G.LAST_NAMES), 'nv2 % 40')})"
    )
    org = (
        f"({_pick('duck', G.ORG_WORDS, 'nv3 % 32')} || ' ' || "
        f"{_pick('duck', G.ORG_SUFFIXES, 'nv4 % 8')})"
    )
    cols = ", ".join(f"({nv(i)}) as nv{i}" for i in range(5))
    return f"""
with nk as (
  select doc_id, {cols}
  from (select doc_id, {nh} as nh from {doc_rel})
)
select doc_id, {person} as subj, 'works_at' as pred, {org} as obj,
       case when nv0 % 4 = 0 then 'pos' else 'neg' end as polarity
from nk
"""


def _voice_vals(doc_id: int) -> dict:
    vh = h1(doc_id, VOICE_SALT)

    def vv(i: int) -> int:
        return h2(vh, 120 + i)

    # two DISTINCT orgs: offset 5 is nonzero mod 32 and mod 8 never
    # collides because the word index differs
    i1 = vv(1) % 32
    a = G.ORG_WORDS[i1] + " " + G.ORG_SUFFIXES[vv(2) % 8]
    b = G.ORG_WORDS[(i1 + 5) % 32] + " " + G.ORG_SUFFIXES[vv(3) % 8]
    return dict(form=vv(0) % 2, a=a, b=b)


def plant_voice(doc_id: int) -> tuple[str, tuple]:
    """(text, (subj, pred, obj)) — active and passive surface the SAME
    canonical triple (acquirer, acquired, target)."""
    v = _voice_vals(doc_id)
    if v["form"] == 0:
        text = f'{v["a"]} acquired {v["b"]}.'
    else:
        text = f'{v["b"]} was acquired by {v["a"]}.'
    return text, (v["a"], "acquired", v["b"])


def voice_sql(dialect: str, doc_rel: str = "documents") -> str:
    """Planted voice corpus (doc_id, text): '<A> acquired <B>.' or
    '<B> was acquired by <A>.' — the SAME canonical fact under active
    and passive voice. The argument-order trap corpus: a naive
    pattern reading passive left-to-right swaps acquirer and target.
    golden_voice_sql replays (A, acquired, B) regardless of form."""
    vh = sql_h1("doc_id", VOICE_SALT)

    def vv(i: int) -> str:
        return sql_h2("vh", 120 + i)

    a = (
        f"({_pick(dialect, G.ORG_WORDS, 'vv1 % 32')} || ' ' || "
        f"{_pick(dialect, G.ORG_SUFFIXES, 'vv2 % 8')})"
    )
    b = (
        f"({_pick(dialect, G.ORG_WORDS, '(vv1 + 5) % 32')} || ' ' || "
        f"{_pick(dialect, G.ORG_SUFFIXES, 'vv3 % 8')})"
    )
    cols = ", ".join(f"({vv(i)}) as vv{i}" for i in range(4))
    return f"""
with vk as (
  select doc_id, {cols}
  from (select doc_id, {vh} as vh from {doc_rel})
),
vp as (
  select doc_id, vv0 % 2 as form, {a} as a, {b} as b
  from vk
)
select doc_id,
       case when form = 0 then a || ' acquired ' || b || '.'
            else b || ' was acquired by ' || a || '.' end as text
from vp
"""


def golden_voice_sql(doc_rel: str = "documents") -> str:
    """(doc_id, subj, pred, obj) ground truth for
    extract.voice_triples over voice_sql."""
    vh = sql_h1("doc_id", VOICE_SALT)

    def vv(i: int) -> str:
        return sql_h2("vh", 120 + i)

    a = (
        f"({_pick('duck', G.ORG_WORDS, 'vv1 % 32')} || ' ' || "
        f"{_pick('duck', G.ORG_SUFFIXES, 'vv2 % 8')})"
    )
    b = (
        f"({_pick('duck', G.ORG_WORDS, '(vv1 + 5) % 32')} || ' ' || "
        f"{_pick('duck', G.ORG_SUFFIXES, 'vv3 % 8')})"
    )
    cols = ", ".join(f"({vv(i)}) as vv{i}" for i in range(4))
    return f"""
with vk as (
  select doc_id, {cols}
  from (select doc_id, {vh} as vh from {doc_rel})
)
select doc_id, {a} as subj, 'acquired' as pred, {b} as obj
from vk
"""


# ---------------------------------------------------------------------------
# Wave-19 planted robots.txt rules per host
# ---------------------------------------------------------------------------

ROBOTS_SALT = 127
ROBOTS_LANGS = ("en", "de", "fr", "es", "zh")
N_SITE_HOSTS_URL = 977  # pages_sql url host modulus


def robots_rules_sql(dialect: str) -> str:
    """Planted per-host robots.txt rule table (host, prefix, allow):
    for each of the 977 site hosts the pages corpus URLs live on,
    hosts with h % 3 = 0 Disallow one language subtree '/<lang>/', and
    half of those ALSO Allow the longer '/<lang>/page/' underneath —
    the Google-REP longest-match-overrides shape (an Allow deeper than
    a Disallow re-opens the subtree). Other hosts publish no rules
    (default allow). Deterministic from h1(host_id, ROBOTS_SALT)."""
    if dialect == "spark":
        hosts = "select explode(sequence(0, 976)) as hid"
    else:
        hosts = "select unnest(range(0, 977)) as hid"
    rh = sql_h1("hid", ROBOTS_SALT)
    lang = _pick(dialect, list(ROBOTS_LANGS), "rh % 5")
    return f"""
with hids as ({hosts}),
hk as (
  select hid, {rh} as rh from hids
),
base as (
  select hid, rh, 'site' || {_s('hid')} || '.example' as host,
         {lang} as lang
  from hk
)
select host, '/' || lang || '/' as prefix, cast(0 as bigint) as allow
from base where rh % 3 = 0
union all
select host, '/' || lang || '/page/' as prefix, cast(1 as bigint) as allow
from base where rh % 3 = 0 and (rh // 3) % 2 = 0
""" if dialect == "duck" else f"""
with hids as ({hosts}),
hk as (
  select hid, {rh} as rh from hids
),
base as (
  select hid, rh, 'site' || {_s('hid')} || '.example' as host,
         {lang} as lang
  from hk
)
select host, '/' || lang || '/' as prefix, cast(0 as bigint) as allow
from base where rh % 3 = 0
union all
select host, '/' || lang || '/page/' as prefix, cast(1 as bigint) as allow
from base where rh % 3 = 0 and (rh div 3) % 2 = 0
"""


# ---------------------------------------------------------------------------
# Wave-23 mixed-frame corpus: one plant, six extractor families
# ---------------------------------------------------------------------------

MIXED_FAMILIES = ("hearst", "quote", "metric", "timex", "negation", "voice")


def mixed_sql(dialect: str, doc_rel: str = "documents") -> str:
    """Mixed extraction corpus (doc_id, text): doc_id % 6 selects which
    planted family the doc carries (Hearst / quotation / metric /
    timex / negation / voice), each generated by ITS OWN certified
    generator over the same doc_id — so a fused multi-extractor pass
    can be certified for cross-talk: every extractor must fire on
    exactly its own family's docs and stay silent on the other five.
    (Hearst plants only even doc_ids; doc_id % 6 = 0 docs are all
    even, so every mixed doc has text.)"""
    h = hearst_sql(dialect, doc_rel)
    q = quote_sql(dialect, doc_rel)
    m = metric_sql(dialect, doc_rel)
    t = timex_sql(dialect, doc_rel)
    n = negation_sql(dialect, doc_rel)
    v = voice_sql(dialect, doc_rel)
    return f"""
select doc_id, text from ({h}) h where doc_id % 6 = 0
union all select doc_id, text from ({q}) q where doc_id % 6 = 1
union all select doc_id, text from ({m}) m where doc_id % 6 = 2
union all select doc_id, text from ({t}) t where doc_id % 6 = 3
union all select doc_id, text from ({n}) n where doc_id % 6 = 4
union all select doc_id, text from ({v}) v where doc_id % 6 = 5
"""


def golden_mixed_sql(doc_rel: str = "documents") -> str:
    """(doc_id, family, subj, pred, obj) ground truth for
    extract.extract_mixed over mixed_sql: the six family goldens,
    each restricted to its doc_id slice, projected onto a shared
    triple schema. Cross-talk certification: the extractor side runs
    ALL SIX frame grammars on EVERY doc, so a hash match proves each
    grammar fires only on its own family (zero false positives
    across ~5/6 of the corpus per grammar)."""
    gh = golden_hearst_sql(doc_rel)
    gq = golden_quote_sql(doc_rel)
    gm = golden_metric_sql(doc_rel)
    gt = golden_timex_sql(doc_rel)
    gn = golden_negation_sql(doc_rel)
    gv = golden_voice_sql(doc_rel)
    return f"""
select doc_id, 'hearst' as family, hyponym as subj, pred, hypernym as obj
from ({gh}) a where doc_id % 6 = 0
union all
select doc_id, 'quote', speaker, verb, quote
from ({gq}) b where doc_id % 6 = 1
union all
select doc_id, 'metric', subj, pred, cast(value as varchar)
from ({gm}) c where doc_id % 6 = 2
union all
select doc_id, 'timex', subj, pred, date_iso
from ({gt}) d where doc_id % 6 = 3
union all
select doc_id, 'negation', subj, pred || ':' || polarity, obj
from ({gn}) e where doc_id % 6 = 4
union all
select doc_id, 'voice', subj, pred, obj
from ({gv}) f where doc_id % 6 = 5
"""
