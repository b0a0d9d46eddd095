"""Training-data deduplication suite over the `documents` table.

Four dedup families, each a distributed DataFrame dataflow:

  * exact          — content-hash groupBy (md5), min-id survivor
  * MinHash+LSH    — 3-word shingles -> r=1/b=16 minhash bands ->
                     capped buckets -> candidate pairs -> exact-Jaccard
                     verification (the blocking bounds candidates at
                     10^12-doc scale; verification keeps precision exact)
  * SimHash        — 32-bit signature via the portable LCG string hash,
                     computed in an Arrow-batched pandas UDF (the scale
                     path); DuckDB oracle recomputes it in pure SQL
  * n-gram Jaccard — exact shingle-set intersection/union counts per
                     candidate pair (integer outputs: no float compare)

The driver oracle runs against a deterministically planted dup corpus
(`dup_docs_sql`): exact copies at doc_id+1e6 for doc_id%10=0, near-dup
variants (text || ' extra tail words') at +2e6 for doc_id%7=3. Measured
separation on the sf0.01 corpus: max natural 3-gram Jaccard between
distinct docs 0.03 vs min planted near-dup 0.75 — threshold 0.5.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import strhash, sql_strhash

DUP_EXACT_OFF = 1_000_000
DUP_NEAR_OFF = 2_000_000
NEAR_TAIL = " extra tail words"
JACCARD_TAU = 0.5
SIMHASH_BITS = 32


# ---------------------------------------------------------------------------
# planted dup corpus (dual dialect)
# ---------------------------------------------------------------------------


def dup_docs_sql(dialect: str, doc_rel: str = "documents") -> str:
    """documents + planted exact copies (+1e6, doc_id%10=0) and near-dup
    variants (+2e6, doc_id%7=3)."""
    return f"""
select doc_id, text, lang from {doc_rel}
union all
select doc_id + {DUP_EXACT_OFF}, text, lang from {doc_rel} where doc_id % 10 = 0
union all
select doc_id + {DUP_NEAR_OFF}, text || '{NEAR_TAIL}', lang
from {doc_rel} where doc_id % 7 = 3
"""


# ---------------------------------------------------------------------------
# shingles (dual dialect)
# ---------------------------------------------------------------------------


def shingles_sql(dialect: str, text_expr: str) -> str:
    """Distinct 3-word shingles of lower(text); whole text when < 3 words.
    The 'spark' branch is the single-expression semantic contract (kept
    for inline-SQL callers); DataFrame paths use `with_shingles`, which
    evaluates identically but materializes the word array once (the
    inline form re-splits per lambda element — see PLANS.md)."""
    if dialect == "spark":
        ws = f"split(lower({text_expr}), ' ')"
        grams = (
            f"transform(sequence(1, greatest(size({ws}) - 2, 1)),"
            f" i -> concat_ws(' ', element_at({ws}, i),"
            f" element_at({ws}, least(i + 1, size({ws}))),"
            f" element_at({ws}, least(i + 2, size({ws})))))"
        )
        return f"array_distinct({grams})"
    ws = f"string_split(lower({text_expr}), ' ')"
    grams = (
        f"list_transform(range(1, greatest(len({ws}) - 2, 1) + 1),"
        f" i -> {ws}[i] || ' ' || {ws}[least(i + 1, len({ws}))]"
        f" || ' ' || {ws}[least(i + 2, len({ws}))])"
    )
    return f"list_distinct({grams})"


def with_shingles(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Same output as `shingles_sql('spark', ...)` in one expression, but
    the word array is materialized ONCE per row first: interpreted HOF
    lambdas do not common-subexpression-eliminate, so the single-expr
    form re-splits the full text on every `element_at` access — measured
    O(words^2) and ~13x slower at sf0.1 (7.6s vs 0.6s warm) for
    bit-identical output. The DuckDB dialect keeps the inline form (its
    list engine evaluates `string_split` once)."""
    grams = (
        "array_distinct(transform(sequence(1, greatest(size(__ws) - 2, 1)),"
        " i -> concat_ws(' ', element_at(__ws, i),"
        " element_at(__ws, least(i + 1, size(__ws))),"
        " element_at(__ws, least(i + 2, size(__ws))))))"
    )
    return (
        docs.withColumn("__ws", F.expr(f"split(lower({text_col}), ' ')"))
        .withColumn("shingles", F.expr(grams))
        .drop("__ws")
    )


def with_hashed_shingles(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """shingles + their int64 hashes (`hsh`). Verification joins ship the
    8-byte hashes, never the string arrays — at 10^12-doc scale the
    verify shuffle is the dominant cost and strings are ~3-10x wider.
    Shingle strings are distinct per doc, so set sizes over hashes equal
    set sizes over strings (64-bit collisions: ~1e-10 at 1e4 distinct
    shingles per doc-pair union)."""
    return with_shingles(docs, text_col).withColumn(
        "hsh", F.expr("transform(shingles, s -> xxhash64(s))")
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """-> (content_hash, n_copies, keep_id): one row per distinct content;
    survivor = min id. One shuffle on the content hash (never on the full
    text bytes — the hash is the join key at scale)."""
    return (
        docs.withColumn("content_hash", F.md5(F.col("text")))
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("n_copies"),
            F.min(id_col).alias("keep_id"),
        )
    )


# ---------------------------------------------------------------------------
# URL canonicalization dedup (crawl-log latest-capture-wins)
# ---------------------------------------------------------------------------


def canonical_url_expr(url_col: str = "url") -> str:
    """Canonical form of a crawl URL: strip query string and fragment,
    strip one trailing slash, lowercase. Valid in both Spark SQL and
    DuckDB (each regex matches at most once, so the engines' differing
    replace-all vs replace-first defaults cannot diverge). Lowercasing
    the whole URL (not just scheme+host) is the common crawl-pipeline
    simplification; the corpus' canonical paths are already lowercase,
    so here it is lossless."""
    return (
        f"lower(regexp_replace(regexp_replace({url_col}, '[?#].*', ''),"
        f" '/$', ''))"
    )


def url_normalize(
    df: DataFrame, url_col: str = "url_raw", out_col: str = "url_norm"
) -> DataFrame:
    """Lossless-semantic URL normalization -> df + out_col: lowercase
    scheme+host ONLY (path case is significant), strip the scheme's
    default port (:443 for https, :80 for http), drop the #fragment,
    drop utm_* tracking params, and SORT the surviving query params —
    the canonical form a crawler keys fetch logs and link graphs on
    when query strings are semantic (?id=123 selects the document).
    The lossy crawl-dedup rule that discards every query string is
    canonical_url_expr above; this one is its information-preserving
    sibling, certified against the planted truth table
    (sources/pages.noisy_urls_sql), not a twin expression.

    Scale shape: pure Catalyst string/array expressions — whole-stage
    codegen, zero Python, zero shuffle, embarrassingly parallel. The
    filter/array_sort lambdas reference ONLY their element variable
    (the no-CSE HOF trap: an outer-column expression inside a lambda
    re-evaluates per element), and the query-string and parts arrays
    are materialized as their own projection columns first."""
    tmp = ["_u0", "_pre_raw", "_rest", "_pre", "_path", "_q", "_parts"]
    return (
        df.withColumn("_u0", F.expr(f"split_part({url_col}, '#', 1)"))
        .withColumn(
            "_pre_raw",
            F.expr(
                "regexp_extract(_u0,"
                " '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*', 0)"
            ),
        )
        .withColumn("_rest", F.expr("substring(_u0, length(_pre_raw) + 1)"))
        .withColumn(
            "_pre",
            F.expr(
                "regexp_replace(regexp_replace(lower(_pre_raw),"
                " '^(https://[^/:]*):443$', '$1'),"
                " '^(http://[^/:]*):80$', '$1')"
            ),
        )
        .withColumn("_path", F.expr("split_part(_rest, '?', 1)"))
        .withColumn(
            "_q",
            F.expr(
                "case when instr(_rest, '?') > 0"
                " then substring(_rest, length(_path) + 2)"
                " else '' end"
            ),
        )
        .withColumn(
            "_parts",
            F.expr(
                "array_sort(filter(split(_q, '&'),"
                " p -> p <> '' and left(p, 4) <> 'utm_'))"
            ),
        )
        .withColumn(
            out_col,
            F.expr(
                "_pre || _path || case when size(_parts) > 0"
                " then '?' || array_join(_parts, '&') else '' end"
            ),
        )
        .drop(*tmp)
    )


def url_dedup(
    crawl: DataFrame, url_col: str = "url", ts_col: str = "ts_s",
    id_col: str = "doc_id",
) -> DataFrame:
    """Crawl-log URL dedup: collapse re-captures of the same page
    (tracking params, fragments, case/slash variants) to one row per
    canonical URL with latest-capture-wins survivor selection.
    -> (curl, n_captures, last_ts_s, survivor_doc).

    Scale shape: a single map-side-combined groupBy on the canonical
    URL — max/max_by/count all fold partially, so a URL re-captured
    millions of times arrives at its reducer as one partial row per map
    task; no window, no self-join, nothing corpus-sized crosses the
    exchange. This is the cheapest (and first) dedup pass of a crawl
    pipeline; content-level dedup (exact/minhash/simhash below) runs on
    its survivors."""
    return (
        crawl.select(
            F.expr(canonical_url_expr(url_col)).alias("curl"),
            F.col(ts_col),
            F.col(id_col),
        )
        .groupBy("curl")
        .agg(
            F.count("*").cast("bigint").alias("n_captures"),
            F.max(ts_col).cast("bigint").alias("last_ts_s"),
            F.expr(f"max_by({id_col}, {ts_col})").cast("bigint").alias(
                "survivor_doc"
            ),
        )
    )


def duck_url_dedup_sql(crawl_rel_sql: str) -> str:
    """DuckDB oracle twin of `url_dedup` over a crawl-log SELECT."""
    return f"""
select {canonical_url_expr('url')} as curl,
       cast(count(*) as bigint) as n_captures,
       cast(max(ts_s) as bigint) as last_ts_s,
       cast(max_by(doc_id, ts_s) as bigint) as survivor_doc
from ({crawl_rel_sql}) group by 1
"""


# ---------------------------------------------------------------------------
# MinHash-LSH near-dup pairs
# ---------------------------------------------------------------------------


def _bucket_pairs(
    rows: DataFrame,
    key_cols: list[str],
    id_col: str,
    max_bucket: int,
    degrade: bool = True,
) -> DataFrame:
    """(keys..., id) rows -> distinct (id_a, id_b) pairs among rows
    sharing a key, with a skew guard that (by default) DEGRADES instead
    of dropping:

      * n <= max_bucket: all pairs (n^2/2, bounded).
      * n > max_bucket: two-level pairing — members hash into
        ceil(n / max_bucket) salted sub-buckets (all pairs within each,
        expected size ~max_bucket), and one representative per
        sub-bucket (min id) pairs across sub-buckets. Total pairs are
        LINEAR in n (~n*max_bucket/2 + reps^2/2), and if the bucket is
        one true cluster, sub-bucket edges + representative edges keep
        it CONNECTED for the downstream CC — dropping the bucket (the
        previous behavior) silently fragmented clusters bigger than the
        cap, which real 10x-density corpora produce (measured: linking
        over-segmented 798 vs 758 truth clusters at sf0.1).
      * reps > max_bucket (n > max_bucket^2, a degenerate boilerplate
        key, not a cluster): representative pairing is skipped; the
        sub-bucket edges alone still bound the damage.

    `degrade=False` restores the pure DROP guard — correct when the key
    is a non-discriminative FEATURE rather than a similarity bucket
    (the n-gram df cap: a shingle present in thousands of docs carries
    no near-dup signal, so connecting docs through it is wrong, not
    merely expensive).

    Count-filter + self-join everywhere: per-key counts pre-aggregate
    map-side, no hot member list ever concentrates on one reducer, and
    there is no window. Callers should pass an already materialized
    (cached/checkpointed) `rows` if it is expensive: it is scanned
    multiple times (count + self-join sides).

    Observability: the function is lazy, so it cannot log which guard
    fired without forcing a job. Call `bucket_degrade_stats(rows,
    key_cols, max_bucket)` (one small aggregate over the per-key counts)
    to count degraded and rep-skipped keys — a nonzero `over_cap2` means
    some key's representative cross-links were skipped and a true
    cluster that large WOULD fragment; tests and pipeline health checks
    gate on it instead of trusting silence."""
    counts = rows.groupBy(*key_cols).agg(F.count("*").alias("n"))
    ok = counts.where(
        (F.col("n") >= 2) & (F.col("n") <= max_bucket)
    ).select(*key_cols)
    r = rows.join(ok, key_cols)
    a = r.select(*key_cols, F.col(id_col).alias("id_a"))
    b = r.select(*key_cols, F.col(id_col).alias("id_b"))
    base = (
        a.join(b, key_cols)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    if not degrade:
        return base.distinct()
    # ---- over-cap buckets: salted sub-buckets + representative links
    hot = counts.where(F.col("n") > max_bucket)
    hr = rows.join(hot, key_cols).withColumn(
        "__sub",
        F.pmod(
            F.xxhash64(F.col(id_col)),
            F.expr(f"cast(ceil(n / {max_bucket}.0) as bigint)"),
        ),
    )
    sub_keys = [*key_cols, "__sub"]
    ha = hr.select(*sub_keys, F.col(id_col).alias("id_a"))
    hb = hr.select(*sub_keys, F.col(id_col).alias("id_b"))
    sub_pairs = (
        ha.join(hb, sub_keys)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    reps = (
        hr.where(F.col("n") <= max_bucket * max_bucket)
        .groupBy(*sub_keys)
        .agg(F.min(id_col).alias("rep"))
    )
    ra = reps.select(*key_cols, F.col("rep").alias("id_a"))
    rb = reps.select(*key_cols, F.col("rep").alias("id_b"))
    rep_pairs = (
        ra.join(rb, key_cols)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    return base.unionByName(sub_pairs).unionByName(rep_pairs).distinct()


def bucket_degrade_stats(
    rows: DataFrame, key_cols: list[str], max_bucket: int
) -> dict:
    """Companion health check for _bucket_pairs' skew guard: one
    aggregate job over the per-key counts ->
      {'keys': total keys, 'over_cap': keys degraded to salted
       sub-buckets (n > max_bucket — connectivity preserved via
       representative links), 'over_cap2': keys past the degenerate
       cutoff (n > max_bucket^2 — representative pairing skipped, a
       true cluster that large WOULD fragment), 'max_n': largest
       bucket}.
    over_cap2 > 0 is the condition ADVICE flagged as silent; surface it
    in pipeline logs/metrics rather than inferring it from output
    shape. Cost: the counts aggregation combines map-side and the final
    reduce is 1 row."""
    counts = rows.groupBy(*key_cols).agg(F.count("*").alias("n"))
    r = counts.agg(
        F.count("*").alias("keys"),
        F.sum((F.col("n") > max_bucket).cast("long")).alias("over_cap"),
        F.sum((F.col("n") > max_bucket * max_bucket).cast("long")).alias(
            "over_cap2"
        ),
        F.max("n").alias("max_n"),
    ).collect()[0]
    out = {k: int(r[k] or 0) for k in ("keys", "over_cap", "over_cap2", "max_n")}
    if out["over_cap2"] > 0:
        import warnings

        warnings.warn(
            f"_bucket_pairs degrade: {out['over_cap2']} key(s) exceed"
            f" max_bucket^2={max_bucket * max_bucket} (max bucket"
            f" {out['max_n']}); representative cross-links were skipped"
            " for them — a true cluster that large fragments",
            RuntimeWarning,
            stacklevel=2,
        )
    return out


def minhash_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = 16,
    max_bucket: int = 64,
    tau: float = JACCARD_TAU,
) -> DataFrame:
    """-> (id_a, id_b): near-dup pairs with exact shingle Jaccard >= tau,
    candidates from r=1 minhash banding (same machinery as entity-linking
    blocking, operators/link.py).

    Plan-shape notes (each measured with interleaved A/B at sf0.1 x3):

      * The shingle+hash pass is materialized ONCE (localCheckpoint) and
        feeds BOTH banding and verification; band minima derive from the
        int64 `hsh` values (`xxhash64(h, b)` — statistically the same
        r=1/b=16 family, measured 1.8s vs 9.9s for re-hashing the shingle
        strings per band) so the string shingles never leave the first
        projection.
      * Bucket pairing is count-filter + self-join over the band table,
        NOT collect_list-then-filter: a hot bucket (boilerplate shingle
        shared by 10^8 docs) would materialize its whole member list on
        one reducer BEFORE the cap filter could drop it — the classic
        web-scale OOM. count() pre-aggregates map-side so the hot key
        never concentrates; measured at parity with collect_list locally
        (11.2s vs 10.6s warm).
      * The verify join ships int64 hash arrays, not shingle strings."""
    nodes = with_hashed_shingles(docs).select(
        F.col(id_col).alias("sid"), "hsh"
    ).localCheckpoint(eager=False)
    bands = nodes.select(
        "sid",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}),"
                " b -> named_struct('band', b, 'mh',"
                " array_min(transform(hsh, h -> xxhash64(h, b)))))"
            )
        ).alias("bk"),
    ).select("sid", "bk.band", "bk.mh").localCheckpoint(eager=False)
    pairs = _bucket_pairs(bands, ["band", "mh"], "sid", max_bucket)
    a = nodes.select(F.col("sid").alias("id_a"), F.col("hsh").alias("h_a"))
    b = nodes.select(F.col("sid").alias("id_b"), F.col("hsh").alias("h_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .where(
            F.expr(
                "size(array_intersect(h_a, h_b)) >="
                f" {tau} * size(array_union(h_a, h_b))"
            )
        )
        .select("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard (integer-exact)
# ---------------------------------------------------------------------------


def ngram_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    max_df: int = 64,
) -> DataFrame:
    """-> (id_a, id_b): pairs sharing >= 1 shingle with document frequency
    <= max_df. The df cap is the hot-shingle skew guard: a ubiquitous
    shingle ("extra tail words"-style boilerplate) would otherwise land
    O(k^2) pairs on a single reducer. Dropping hot shingles only affects
    candidate GENERATION — counts are verified exactly afterwards — and a
    pair above tau whose every shared shingle appears in > max_df docs
    does not exist in practice (such shingles are boilerplate; a real
    near-dup shares many doc-specific shingles). Count-filter +
    self-join (_bucket_pairs): the df count pre-aggregates map-side, so
    even the ubiquitous shingle never lands its posting list on one
    reducer."""
    sh = with_hashed_shingles(docs).select(
        F.col(id_col).alias("sid"), F.explode("hsh").alias("sh_hash")
    ).localCheckpoint(eager=False)
    return _bucket_pairs(sh, ["sh_hash"], "sid", max_df, degrade=False)


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    tau: float = JACCARD_TAU,
    max_df: int = 64,
) -> DataFrame:
    """-> (id_a, id_b, n_inter, n_union): exact shingle-set overlap counts
    for pairs above tau. Candidates from the df-capped shingle self-join
    (skew-guarded); counts verified exactly per pair from the full hashed
    shingle sets, so the cap never distorts a reported count. The
    shingle+hash pass runs ONCE (checkpointed nodes feed both the
    exploded candidate rows and the verify sides)."""
    nodes = with_hashed_shingles(docs).select(
        F.col(id_col).alias("sid"), "hsh"
    ).localCheckpoint(eager=False)
    sh = nodes.select("sid", F.explode("hsh").alias("sh_hash"))
    cand = _bucket_pairs(sh, ["sh_hash"], "sid", max_df, degrade=False)
    a = nodes.select(F.col("sid").alias("id_a"), F.col("hsh").alias("h_a"))
    b = nodes.select(F.col("sid").alias("id_b"), F.col("hsh").alias("h_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("n_inter", F.expr("size(array_intersect(h_a, h_b))"))
        .withColumn("n_union", F.expr("size(array_union(h_a, h_b))"))
        .where(F.col("n_inter") >= tau * F.col("n_union"))
        .select("id_a", "id_b", "n_inter", "n_union")
    )


def prefix_filter_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    tau: float = JACCARD_TAU,
) -> DataFrame:
    """-> (id_a, id_b, n_inter, n_union): EXACT Jaccard >= tau pairs via
    PREFIX FILTERING (Chaudhuri et al. SSJoin / Bayardo AllPairs /
    PPJoin) — the third near-dup join strategy next to MinHash-LSH
    (probabilistic) and the df-capped shingle join (drops hot-shingle
    pairs). Features are globally ordered rarest-first (df asc, hash
    asc); each doc indexes only its first
    p = |s| - ceil(tau*|s|) + 1 features. Prefix lemma: two sets with
    J >= tau have overlap >= ceil(tau*max(|s|,|t|)), so their prefixes
    under a shared total order must intersect — candidates from the
    prefix inverted index are therefore COMPLETE, and the exact
    verify join makes them precise. No cap, no drop: the brute-force
    exact-Jaccard oracle certifies the theorem, not just the plumbing.

    Scale shape: the prefix index is rarest-features-first, so hot
    boilerplate shingles sort LAST and enter prefixes only for docs
    with nothing rarer — posting lists stay short on natural corpora
    (the skew guard is the ORDERING itself, not a cap). The df count
    pre-aggregates map-side; the per-doc rank window partitions on the
    uniform high-cardinality doc key; the verify join ships int64
    hash arrays (with_hashed_shingles). ceil is integer arithmetic
    ((tau_e6*n + 999999) div 1e6) — no float boundary drift. Production
    extensions (length filter: |t| >= tau*|s|; positional filter)
    prune further without changing the result set."""
    from pyspark.sql import Window as W

    tau_e6 = int(round(tau * 1_000_000))
    nodes = with_hashed_shingles(docs).select(
        F.col(id_col).alias("sid"), "hsh"
    ).localCheckpoint(eager=False)
    sh = nodes.select("sid", F.explode("hsh").alias("sh"))
    dfreq = sh.groupBy("sh").agg(F.count("*").cast("bigint").alias("df"))
    ranked = (
        sh.join(dfreq, "sh")
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("sid").orderBy(F.asc("df"), F.asc("sh"))
            ),
        )
        .withColumn("sz", F.count("*").over(W.partitionBy("sid")))
        .where(
            F.expr(
                f"rk <= sz - (({tau_e6} * sz + 999999) div 1000000) + 1"
            )
        )
        .select("sid", "sh")
    )
    b = ranked.select(
        F.col("sid").alias("id_b"), F.col("sh").alias("sh_b")
    )
    cand = (
        ranked.join(
            b, (ranked.sh == b.sh_b) & (ranked.sid < b.id_b)
        )
        .select(F.col("sid").alias("id_a"), "id_b")
        .distinct()
    )
    a_full = nodes.select(F.col("sid").alias("id_a"), F.col("hsh").alias("h_a"))
    b_full = nodes.select(F.col("sid").alias("id_b"), F.col("hsh").alias("h_b"))
    return (
        cand.join(a_full, "id_a")
        .join(b_full, "id_b")
        .withColumn("n_inter", F.expr("size(array_intersect(h_a, h_b))"))
        .withColumn("n_union", F.expr("size(array_union(h_a, h_b))"))
        .where(
            F.expr(f"n_inter * 1000000 >= {tau_e6} * n_union")
        )
        .select("id_a", "id_b", "n_inter", "n_union")
    )


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------

DECONTAM_TAU = 0.5
EVAL_MOD = 97
EVAL_RES = 5


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    tau: float = DECONTAM_TAU,
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination (the GPT-3/Pile n-gram-overlap recipe):
    flag training documents whose shingle set overlaps an evaluation
    corpus. -> (doc_id, n_matched, n_shingles, contaminated) where
    n_matched = |train shingles ∩ eval shingle union| and contaminated
    iff n_matched >= tau * n_shingles.

    Scale shape: the eval benchmark is small (10^3-10^5 docs) next to a
    10^12-doc training corpus, so its distinct shingle hashes are
    BROADCAST; the train side is one shingle explode + broadcast-hash
    inner join + one (doc_id)-keyed count — the training corpus is never
    shuffled by shingle and never self-joined. int64 shingle hashes ship
    instead of strings (collision odds as in with_hashed_shingles)."""
    ev = (
        with_hashed_shingles(eval_docs)
        .select(F.explode("hsh").alias("sh"))
        .distinct()
    )
    nodes = with_hashed_shingles(train).select(
        F.col(id_col).alias("sid"), "hsh"
    ).localCheckpoint(eager=False)
    matched = (
        nodes.select("sid", F.explode("hsh").alias("sh"))
        .join(F.broadcast(ev), "sh")
        .groupBy("sid")
        .agg(F.count("*").alias("n_matched"))
    )
    return (
        nodes.select("sid", F.size("hsh").cast("bigint").alias("n_shingles"))
        .join(matched, "sid", "left")
        .select(
            F.col("sid").alias(id_col),
            F.coalesce(F.col("n_matched"), F.lit(0)).cast("bigint").alias(
                "n_matched"
            ),
            "n_shingles",
            (
                F.coalesce(F.col("n_matched"), F.lit(0))
                >= F.lit(tau) * F.col("n_shingles")
            ).alias("contaminated"),
        )
    )


def duck_decontaminate_sql(
    doc_rel: str = "documents", tau: float = DECONTAM_TAU
) -> str:
    """DuckDB oracle: exact string-shingle recomputation of
    `decontaminate` over the planted dup corpus, eval = raw documents
    with doc_id % EVAL_MOD = EVAL_RES, train = the dup corpus minus the
    eval originals (their planted copies at +1e6/+2e6 stay in train and
    must come out contaminated)."""
    dup = dup_docs_sql("duck", doc_rel)
    sh = shingles_sql("duck", "text")
    return f"""
with ev as (
  select distinct unnest({sh}) as s from {doc_rel}
  where doc_id % {EVAL_MOD} = {EVAL_RES}
),
tr as (
  select doc_id, {sh} as shingles from ({dup})
  where doc_id % {EVAL_MOD} <> {EVAL_RES}
),
m as (
  select t.doc_id, count(*) as n_matched
  from (select doc_id, unnest(shingles) as s from tr) t
  join ev using (s) group by 1
)
select tr.doc_id,
       cast(coalesce(m.n_matched, 0) as bigint) as n_matched,
       cast(len(tr.shingles) as bigint) as n_shingles,
       coalesce(m.n_matched, 0) >= {tau} * len(tr.shingles) as contaminated
from tr left join m using (doc_id)
"""


BLOOM_BITS = 1 << 16
BLOOM_K = 4
BLOOM_SALT = 11


def _bloom_key(s_expr: str, dialect: str = "spark") -> str:
    """Portable string key for Bloom probes: the FULL-string fold hash
    (hashing.sql_fullhash). strhash would cover only the first 12 chars
    + length — fine for short masking keys, but the word-soup shingle
    corpus collides structurally on shared prefixes (measured 3-5x
    n_matched overcounts), and even first-12 + reversed-12 chaining left
    residual collisions on >= 24-char shingles."""
    from ..functions.hashing import sql_fullhash

    return sql_fullhash(s_expr, dialect)


def _bloom_pos(key_expr: str, j_expr: str) -> str:
    """Bit position of probe j for a key: h2(h1(key, BLOOM_SALT), j)
    reduced mod BLOOM_BITS. The CHAINED h2 matters: with plain
    h1(key, salt + j) the j probes of every key are parallel stride-97
    translates of each other, so the k probes are not independent and
    the filter's FP rate degrades to a single 16-bit position collision
    (~1/BLOOM_BITS per eval key — measured ~20 spurious shingle matches
    on the planted corpus). h2's prev-dependent cross term
    ((prev % 3037) * salt * 97 — the exact property its docstring
    freezes) decorrelates the probes, restoring the (load)^k bound.
    Prime-M LCG, so the even modulus still mixes all bits. Valid in
    both dialects (int64 arithmetic only)."""
    from ..functions.hashing import sql_h1, sql_h2

    return (
        f"({sql_h2(sql_h1(key_expr, BLOOM_SALT), j_expr)}) % {BLOOM_BITS}"
    )


def bloom_build(
    eval_docs: DataFrame, k: int = BLOOM_K, text_col: str = "text"
) -> DataFrame:
    """-> (word int64, bits int64): the Bloom bitmap of the eval corpus'
    distinct shingles, packed 32 bits per word (NOT 64: DuckDB's checked
    `<<` rejects 1 << 63, and 32-bit masks keep every mask/or/and inside
    unsigned-safe int64 in both engines). Built with one map-side-
    combined bit_or groupBy to <= BLOOM_BITS/32 rows — the reduce state
    is the bitmap itself, mergeable across any partitioning (the same
    property HLL/CMS exploit)."""
    ev = (
        with_shingles(eval_docs, text_col)
        .select(F.explode("shingles").alias("s"))
        .distinct()
        .withColumn("skey", F.expr(_bloom_key("s")))
    )
    pos = _bloom_pos("skey", "j")
    return (
        ev.select("skey", F.explode(F.expr(f"sequence(0, {k - 1})")).alias("j"))
        .withColumn("p", F.expr(pos))
        .select(
            F.expr("cast(p div 32 as bigint)").alias("word"),
            F.expr("shiftleft(cast(1 as bigint), cast(p % 32 as int))").alias(
                "mask"
            ),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )


def decontaminate_bloom(
    train: DataFrame,
    eval_docs: DataFrame,
    tau: float = DECONTAM_TAU,
    id_col: str = "doc_id",
    k: int = BLOOM_K,
) -> DataFrame:
    """Bloom-filter decontamination — `decontaminate`'s scale path when
    the eval corpus itself is large. Same contract and columns
    (doc_id, n_matched, n_shingles, contaminated), but the broadcast is
    a FIXED-SIZE bitmap (BLOOM_BITS/32 int64 words — size chosen by FP
    budget, independent of eval-corpus size) instead of the full
    distinct-shingle hash union (8 B x |eval shingles|, which at a
    10^9-shingle eval suite is an 8 GB broadcast — past the practical
    ceiling the url_filter threshold note documents). No false
    negatives by construction (every planted contaminated doc still
    flags); false positives are bounded by (|eval shingles| * k /
    BLOOM_BITS)^k and only ever ADD to n_matched.

    Everything is the frozen portable hash chain (fullhash -> h1 ->
    chained h2 per probe — fullhash, NOT strhash, which collides
    structurally on shared-prefix shingles; see _bloom_key), so the
    bitmap and every probe replay bit-for-bit in DuckDB
    (duck_decontaminate_bloom_sql) — the sketch itself is certified,
    like HLL/CMS. Train-side cost: shingle explode x k probes,
    broadcast-hash join against the bitmap words, two map-side-combined
    aggs keyed by (sid, skey int64) then (sid) — the training corpus is
    never shuffled by shingle string and never self-joined."""
    bloom = bloom_build(eval_docs, k)
    nodes = with_shingles(train).select(
        F.col(id_col).alias("sid"), "shingles"
    ).localCheckpoint(eager=False)
    pos = _bloom_pos("skey", "j")
    probes = (
        nodes.select("sid", F.explode("shingles").alias("s"))
        .withColumn("skey", F.expr(_bloom_key("s")))
        .select(
            "sid", "skey",
            F.explode(F.expr(f"sequence(0, {k - 1})")).alias("j"),
        )
        .withColumn("p", F.expr(pos))
        .select(
            "sid", "skey",
            F.expr("cast(p div 32 as bigint)").alias("word"),
            F.expr("shiftleft(cast(1 as bigint), cast(p % 32 as int))").alias(
                "mask"
            ),
        )
        .join(F.broadcast(bloom), "word", "left")
        .withColumn(
            "hit",
            (F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask"))
             != 0).cast("int"),
        )
    )
    matched = (
        probes.groupBy("sid", "skey")
        .agg(F.min("hit").alias("all_hit"))  # shingle "maybe present" iff
        .groupBy("sid")                       # ALL k probed bits are set
        .agg(F.sum("all_hit").cast("bigint").alias("n_matched"))
    )
    return (
        nodes.select("sid", F.size("shingles").cast("bigint").alias("n_shingles"))
        .join(matched, "sid", "left")
        .select(
            F.col("sid").alias(id_col),
            F.coalesce(F.col("n_matched"), F.lit(0)).cast("bigint").alias(
                "n_matched"
            ),
            "n_shingles",
            (
                F.coalesce(F.col("n_matched"), F.lit(0))
                >= F.lit(tau) * F.col("n_shingles")
            ).alias("contaminated"),
        )
    )


def duck_decontaminate_bloom_sql(
    doc_rel: str = "documents", tau: float = DECONTAM_TAU, k: int = BLOOM_K
) -> str:
    """Bit-exact DuckDB replay of decontaminate_bloom over the planted
    dup corpus (same eval/train split as duck_decontaminate_sql):
    bitmap construction, per-probe positions, masks, AND-of-k rule."""
    dup = dup_docs_sql("duck", doc_rel)
    sh = shingles_sql("duck", "text")
    key = _bloom_key("s", "duck")
    pos = _bloom_pos("skey", "j")
    return f"""
with ev as (
  select distinct unnest({sh}) as s from {doc_rel}
  where doc_id % {EVAL_MOD} = {EVAL_RES}
),
evp as (
  select ({pos}) as p
  from (select {key} as skey from ev) cross join range(0, {k}) t(j)
),
bloom as (
  select p // 32 as word,
         bit_or(1::BIGINT << cast(p % 32 as int)) as bits
  from evp group by 1
),
tr as (
  select doc_id as sid, {sh} as shingles from ({dup})
  where doc_id % {EVAL_MOD} <> {EVAL_RES}
),
trp as (
  select sid, skey, ({pos}) // 32 as word,
         1::BIGINT << cast(({pos}) % 32 as int) as mask
  from (select sid, {key} as skey
        from (select sid, unnest(shingles) as s from tr))
  cross join range(0, {k}) t(j)
),
hits as (
  select sid, skey,
         min(case when (coalesce(b.bits, 0) & mask) <> 0 then 1 else 0 end)
           as all_hit
  from trp left join bloom b using (word)
  group by 1, 2
),
m as (select sid, sum(all_hit) as n_matched from hits group by 1)
select tr.sid as doc_id,
       cast(coalesce(m.n_matched, 0) as bigint) as n_matched,
       cast(len(tr.shingles) as bigint) as n_shingles,
       coalesce(m.n_matched, 0) >= {tau} * len(tr.shingles) as contaminated
from tr left join m using (sid)
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_py(shingles: list[str]) -> int:
    """32-bit simhash over shingle features, feature hash = portable
    strhash (so DuckDB SQL can recompute it bit-for-bit)."""
    acc = [0] * SIMHASH_BITS
    for s in shingles:
        h = strhash(s)
        for i in range(SIMHASH_BITS):
            acc[i] += 1 if (h >> i) & 1 else -1
    v = 0
    for i in range(SIMHASH_BITS):
        if acc[i] > 0:
            v |= 1 << i
    return v


@F.pandas_udf(T.LongType())
def _simhash_udf(shingles: pd.Series) -> pd.Series:
    return shingles.map(lambda sh: simhash_py(list(sh)))


def simhash_signatures(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """-> (doc_id, simhash): Arrow-batched signature computation (the
    scale path — one pass, no shuffle)."""
    return with_shingles(docs).select(
        F.col(id_col), _simhash_udf(F.col("shingles")).alias("simhash")
    )


def simhash_sql_duck(text_expr: str) -> str:
    """DuckDB recomputation of simhash_py for the oracle: 32 per-bit
    list_sum folds over the shingle list."""
    shs = shingles_sql("duck", text_expr)
    # note: 2^31 <= strhash < 2^31 never happens (strhash < M = 2^31)
    bit_terms = []
    for i in range(SIMHASH_BITS):
        per = (
            f"list_sum(list_transform(shs, s -> case when"
            f" (({sql_strhash('s')}) // {1 << i}) % 2 = 1 then 1 else -1 end))"
        )
        bit_terms.append(f"(case when {per} > 0 then {1 << i}::bigint else 0 end)")
    total = " + ".join(bit_terms)
    return f"(select {total} from (select {shs} as shs))"


def near_dedup_survivors(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Full near-dedup: MinHash pairs -> connected components (reusing the
    linking CC fixpoint via link.pair_labels) -> one survivor (min id)
    per duplicate cluster. -> (keep_id, n_members). Singletons keep
    themselves."""
    from .link import pair_labels

    labels = pair_labels(docs, id_col, minhash_dup_pairs(docs, id_col=id_col))
    return labels.groupBy("label").agg(
        F.min("sid").alias("keep_id"), F.count("*").alias("n_members")
    ).select("keep_id", "n_members")


def duck_near_dedup_survivors_sql(exact_pairs_sql: str, doc_rel: str = "documents") -> str:
    """DuckDB oracle: connected components over the exact-Jaccard pair
    ground truth via a recursive min-label propagation CTE
    (link.duck_pair_labels_sql)."""
    from .link import duck_pair_labels_sql

    dup = dup_docs_sql("duck", doc_rel)
    return duck_pair_labels_sql(dup, "doc_id", exact_pairs_sql) + """
select lbl as keep_id, count(*) as n_members from comp group by 1
"""


def simhash_dup_pairs(
    signatures: DataFrame,
    max_hamming: int = 3,
    n_blocks: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """Hamming-distance pairing via the standard block-permutation trick:
    split the 32-bit signature into n_blocks chunks; any pair within
    hamming <= n_blocks - 1 shares at least one exact chunk (pigeonhole),
    so candidates come from equi-joins on chunk values — no cross join.
    `id_col` must match the one used in simhash_signatures."""
    width = SIMHASH_BITS // n_blocks
    chunks = signatures.select(
        F.col(id_col).alias("sid"),
        "simhash",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_blocks - 1}), b -> named_struct("
                f"'blk', b, 'v', shiftright(simhash, b * {width})"
                f" % {1 << width}))"
            )
        ).alias("c"),
    ).select("sid", "simhash", "c.blk", "c.v")
    a = chunks.select(F.col("sid").alias("id_a"), F.col("simhash").alias("ha"),
                      "blk", "v")
    b = chunks.select(F.col("sid").alias("id_b"), F.col("simhash").alias("hb"),
                      "blk", "v")
    cand = (
        a.join(b, ["blk", "v"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "ha", "hb")
        .distinct()
    )
    return cand.where(
        F.expr(f"bit_count(ha ^ hb) <= {max_hamming}")
    ).select("id_a", "id_b")


# ---------------------------------------------------------------------------
# corpus-frequency line dedup (C4/RefinedWeb-style boilerplate removal)
# ---------------------------------------------------------------------------

LINE_SPLIT_RE = r"<[^>]*>|\. "
LINE_DF_CAP = 8


def line_dedup(
    pages: DataFrame,
    df_cap: int = LINE_DF_CAP,
    html_col: str = "html",
) -> DataFrame:
    """Corpus-frequency line deduplication (the C4 / RefinedWeb recipe):
    segment each page into lines, count each distinct line's document
    frequency across the corpus, and drop lines appearing in more than
    `df_cap` documents — template boilerplate (nav bars, footers, cookie
    banners) is *discovered statistically* instead of hand-listed, the
    corpus-level complement to the per-page tag stripping in
    operators/clean.py. -> (doc_id, n_kept, n_dropped, text_kept) with
    text_kept = surviving lines in original page order.

    Lines are the non-empty trimmed segments between HTML tags or
    sentence boundaries (LINE_SPLIT_RE, identical regex semantics in
    Java and RE2). Line identity is md5(line) — the same digest the
    exact-dedup family uses — so the df aggregation and the membership
    join ship 16-byte keys, never line text.

    Scale shape (10^12 docs): one explode (map-side) -> groupBy(digest)
    with a partial-aggregated distinct-doc count -> the tiny high-df
    head (only lines repeated across > df_cap docs: nav/footer/banner
    templates) is BROADCAST back as the drop list; the corpus-sized line
    stream is shuffled once, by doc_id, to reassemble pages — there is
    no line-keyed join against a corpus-sized table and no self-join
    anywhere. Reference analogy: nerpii strips noise per-cell with fixed
    deny lists (named_entity_recognizer.py:115-141); this is the
    corpus-statistics generalization a web-scale pipeline needs."""
    segs = (
        pages.select(
            "doc_id",
            F.posexplode(
                F.split(F.col(html_col).cast("string"), LINE_SPLIT_RE)
            ).alias("pos", "seg"),
        )
        .withColumn("seg", F.trim("seg"))
        .where(F.col("seg") != "")
        .withColumn("k", F.md5("seg"))
    )
    bp = (
        segs.groupBy("k")
        .agg(F.count_distinct("doc_id").alias("line_df"))
        .where(F.col("line_df") > df_cap)
        .select("k", F.lit(1).alias("is_bp"))
    )
    return (
        segs.join(F.broadcast(bp), "k", "left")
        .groupBy("doc_id")
        .agg(
            F.expr(
                "cast(sum(case when is_bp is null then 1 else 0 end)"
                " as bigint)"
            ).alias("n_kept"),
            F.expr(
                "cast(sum(case when is_bp is not null then 1 else 0 end)"
                " as bigint)"
            ).alias("n_dropped"),
            F.expr(
                "array_join(transform(array_sort(collect_list("
                "case when is_bp is null then struct(pos, seg) end)),"
                " x -> x.seg), ' ')"
            ).alias("text_kept"),
        )
    )


def duck_line_dedup_sql(
    pages_sql_duck: str, df_cap: int = LINE_DF_CAP
) -> str:
    """DuckDB oracle for `line_dedup`: rebuilds the page html inline
    (the duck pages relation carries text only), re-segments with the
    same regex, recomputes per-line document frequency and the ordered
    reassembly. string_split_regex keeps empty segments like Java
    split(limit=-1); both sides drop them after trim, preserving
    relative order."""
    from ..sources.pages import html_expr

    return f"""
with p as (
  select doc_id, {html_expr('duck', 'text', 'doc_id')} as html
  from ({pages_sql_duck})
),
raw as (
  select doc_id, generate_subscripts(ls, 1) as pos, trim(unnest(ls)) as seg
  from (select doc_id,
               string_split_regex(html, '{LINE_SPLIT_RE}') as ls
        from p)
),
segs as (
  select doc_id, pos, seg, md5(seg) as k from raw where seg <> ''
),
bp as (
  select k from segs group by k having count(distinct doc_id) > {df_cap}
),
tagged as (
  select s.doc_id, s.pos, s.seg, b.k is not null as is_bp
  from segs s left join bp b on s.k = b.k
)
select doc_id,
       cast(count(*) filter (where not is_bp) as bigint) as n_kept,
       cast(count(*) filter (where is_bp) as bigint) as n_dropped,
       coalesce(string_agg(seg, ' ' order by pos)
                  filter (where not is_bp), '') as text_kept
from tagged group by doc_id
"""


# ---------------------------------------------------------------------------
# exact duplicated-span dedup (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better" — the ExactSubstr variant, re-expressed
# distributed: the paper builds a single-node suffix array; here every
# w-token window is fingerprinted and repeated fingerprints are resolved
# relationally, which shards by window hash instead of needing the corpus
# in one address space)

SPAN_W = 20  # window width in whitespace tokens (paper uses 50 BPE tokens)


def span_dedup_stats(
    docs: DataFrame, w: int = SPAN_W,
    text_col: str = "text", id_col: str = "doc_id",
) -> DataFrame:
    """Per-document duplicated-span statistics: a w-token window whose
    exact content appears anywhere else in the corpus (other doc OR
    earlier in the same doc) is a duplicate unless it is the canonical
    (lowest (doc_id, pos)) occurrence; overlapping duplicate windows are
    merged into islands and the covered token count is reported.
    -> (doc_id, n_tokens, n_removed): tokens a span-level dedup pass
    would strip while keeping one canonical copy of every passage.

    Scale shape: window generation is a zero-shuffle HOF explode (tokens
    are materialized once per row; md5 runs over each w-slice — O(T*w)
    hashing, the price of exactness without a corpus-wide suffix array).
    The only corpus-sized shuffles carry (k, ordv) pairs — a 32-char md5
    key plus one bigint, never text. The groupBy(k) pre-aggregates
    map-side (count + min); only keys seen >= 2x join back. Island
    merging windows over marked rows only (a tiny fraction of tokens).
    ordv = doc_id * 1e6 + pos assumes < 1e6 tokens per doc and
    doc_id < 9.2e12 (int64 headroom). Docs shorter than w tokens have
    no windows and report n_removed = 0.

    duck_span_dedup_sql() is the row-for-row oracle."""
    from pyspark.sql import Window as W

    toks = docs.select(
        id_col, F.split(F.col(text_col), " ").alias("t")
    ).withColumn("n", F.size("t"))
    wins = (
        toks.where(F.col("n") >= w)
        .select(
            id_col,
            F.explode(
                F.expr(
                    f"transform(sequence(1, n - {w} + 1),"
                    f" i -> named_struct('pos', i,"
                    f" 'k', md5(concat_ws(' ', slice(t, i, {w})))))"
                )
            ).alias("win"),
        )
        .select(
            id_col,
            F.col("win.pos").alias("pos"),
            F.col("win.k").alias("k"),
        )
        .withColumn(
            "ordv", F.col(id_col) * F.lit(1_000_000) + F.col("pos")
        )
    )
    keys = (
        wins.groupBy("k")
        .agg(F.count("*").alias("cnt"), F.min("ordv").alias("min_ord"))
        .where(F.col("cnt") >= 2)
        .select("k", "min_ord")
    )
    marked = (
        wins.join(keys, "k")
        .where(F.col("ordv") != F.col("min_ord"))
        .select(id_col, "pos")
    )
    wd = W.partitionBy(id_col).orderBy("pos")
    isl = (
        marked.withColumn("prev", F.lag("pos").over(wd))
        .withColumn(
            "new_isl",
            F.when(
                F.col("prev").isNull() | (F.col("pos") - F.col("prev") > w),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "isl",
            F.sum("new_isl").over(
                wd.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
    )
    per_doc = (
        isl.groupBy(id_col, "isl")
        .agg((F.max("pos") + w - F.min("pos")).alias("rm"))
        .groupBy(id_col)
        .agg(F.sum("rm").cast("bigint").alias("n_removed"))
    )
    return (
        toks.select(id_col, F.col("n").cast("bigint").alias("n_tokens"))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce(F.col("n_removed"), F.lit(0))
            .cast("bigint")
            .alias("n_removed"),
        )
    )


def duck_span_dedup_sql(doc_rel_sql: str, w: int = SPAN_W) -> str:
    """DuckDB oracle for span_dedup_stats: same window fingerprints,
    canonical-occurrence rule, and gaps-and-islands coverage (the window
    chain is staged through CTEs — DuckDB can't nest window calls)."""
    return f"""
with toks as (
  select doc_id, string_split(text, ' ') as t from ({doc_rel_sql})
),
wins as (
  select doc_id, i as pos,
         md5(array_to_string(t[i:i+{w - 1}], ' ')) as k,
         doc_id * 1000000 + i as ordv
  from toks, unnest(generate_series(1, len(t) - {w} + 1)) as u(i)
  where len(t) >= {w}
),
keys as (
  select k, min(ordv) as min_ord from wins group by k
  having count(*) >= 2
),
marked as (
  select w.doc_id, w.pos from wins w
  join keys on w.k = keys.k where w.ordv <> keys.min_ord
),
g as (
  select doc_id, pos,
         lag(pos) over (partition by doc_id order by pos) as prev
  from marked
),
g2 as (
  select doc_id, pos,
         case when prev is null or pos - prev > {w} then 1 else 0 end
           as new_isl
  from g
),
g3 as (
  select doc_id, pos,
         sum(new_isl) over (partition by doc_id order by pos
             rows between unbounded preceding and current row) as isl
  from g2
),
pi as (
  select doc_id, isl, max(pos) + {w} - min(pos) as rm
  from g3 group by 1, 2
),
pd as (
  select doc_id, cast(sum(rm) as bigint) as n_removed from pi group by 1
)
select t.doc_id as doc_id, cast(len(t.t) as bigint) as n_tokens,
       cast(coalesce(pd.n_removed, 0) as bigint) as n_removed
from toks t left join pd on t.doc_id = pd.doc_id
"""


# ---------------------------------------------------------------------------
# crawl snapshot diff (two capture windows -> added/removed/persisting)
# ---------------------------------------------------------------------------


def crawl_diff(
    crawl: DataFrame, split_ts: int, url_col: str = "url",
    ts_col: str = "ts_s",
) -> DataFrame:
    """Classify every canonical URL by its presence across two crawl
    windows (captures before vs at/after `split_ts`) ->
    (curl, status in {added, removed, persisting}, n_w1, n_w2).

    The crawl-ops question this answers — what appeared, what vanished,
    what persists between two crawl snapshots — is a set diff, but the
    scale-right plan is NOT two aggregations + a full outer join (two
    shuffles of the same key set plus a join exchange): it is ONE
    map-side-combined groupBy on the canonical URL with conditional
    counts, from which the set membership of both windows falls out.
    Nothing corpus-sized crosses the wire twice."""
    w1 = (F.col(ts_col) < split_ts).cast("bigint")
    return (
        crawl.select(
            F.expr(canonical_url_expr(url_col)).alias("curl"),
            w1.alias("in_w1"),
        )
        .groupBy("curl")
        .agg(
            F.sum("in_w1").cast("bigint").alias("n_w1"),
            F.sum(1 - F.col("in_w1")).cast("bigint").alias("n_w2"),
        )
        .select(
            "curl",
            F.when((F.col("n_w1") > 0) & (F.col("n_w2") > 0), "persisting")
            .when(F.col("n_w1") > 0, "removed")
            .otherwise("added")
            .alias("status"),
            "n_w1",
            "n_w2",
        )
    )


def duck_crawl_diff_sql(crawl_sql_duck: str, split_ts: int) -> str:
    return f"""
with c as (
  select {canonical_url_expr('url')} as curl,
         case when ts_s < {split_ts} then 1 else 0 end as in_w1
  from ({crawl_sql_duck})
),
g as (
  select curl,
         cast(sum(in_w1) as bigint) as n_w1,
         cast(sum(1 - in_w1) as bigint) as n_w2
  from c group by 1
)
select curl,
       case when n_w1 > 0 and n_w2 > 0 then 'persisting'
            when n_w1 > 0 then 'removed'
            else 'added' end as status,
       n_w1, n_w2
from g
"""


# ---------------------------------------------------------------------------
# Shingle containment (doc-in-doc)
# ---------------------------------------------------------------------------

CONT_TAU_MILLI = 800


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    tau_milli: int = CONT_TAU_MILLI,
    max_df: int = 64,
) -> DataFrame:
    """-> (id_a, id_b, n_inter, n_small, cont_milli): doc-in-doc pairs
    by min-side shingle CONTAINMENT, 1000 * |A∩B| >= tau_milli *
    min(|A|,|B|) — the asymmetric overlap Jaccard misses: a short
    document quoted whole inside a long one has containment 1.0 but
    Jaccard |A|/|B| << tau, so quote-inclusion / page-embeds-article
    dedup needs this operator (Broder's containment, next to resemblance).
    All-integer: cont_milli = 1000 * n_inter div n_small.

    Scale shape: identical to ngram_jaccard_pairs — ONE checkpointed
    shingle+hash pass feeds the df-capped posting self-join (candidate
    generation, skew-guarded map-side count-filter) and the int64-array
    verify join; counts are exact from the full sets, so the cap never
    distorts a reported value. Cap caveat (sharper here than for
    Jaccard): a SHORT doc made entirely of boilerplate shingles — every
    shared feature hotter than max_df — is invisible to candidate
    generation; such docs are template chrome the quality gates drop
    anyway, and the brute-force oracle certifies the planted corpus has
    none at the tested scales."""
    nodes = with_hashed_shingles(docs).select(
        F.col(id_col).alias("sid"), "hsh"
    ).localCheckpoint(eager=False)
    sh = nodes.select("sid", F.explode("hsh").alias("sh_hash"))
    cand = _bucket_pairs(sh, ["sh_hash"], "sid", max_df, degrade=False)
    a = nodes.select(F.col("sid").alias("id_a"), F.col("hsh").alias("h_a"))
    b = nodes.select(F.col("sid").alias("id_b"), F.col("hsh").alias("h_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("n_inter", F.expr(
            "cast(size(array_intersect(h_a, h_b)) as bigint)"
        ))
        .withColumn("n_small", F.expr(
            "cast(least(size(h_a), size(h_b)) as bigint)"
        ))
        .where(F.expr(f"1000 * n_inter >= {tau_milli} * n_small"))
        .select(
            "id_a", "id_b", "n_inter", "n_small",
            F.expr("cast(1000 * n_inter div n_small as bigint)").alias(
                "cont_milli"
            ),
        )
    )


def duck_containment_pairs_sql(
    dup_sql: str, tau_milli: int = CONT_TAU_MILLI
) -> str:
    """Oracle: BRUTE-FORCE min-side containment over ALL pairs (no df
    cap, no blocking) — direct shingle-set intersection, so a candidate
    dropped by the cap that truly passes tau fails the gate."""
    sh = shingles_sql("duck", "text")
    return f"""
with dup as ({dup_sql}),
shs as (select doc_id, unnest({sh}) as s from dup),
sz as (select doc_id, cast(count(*) as bigint) as n from shs group by 1),
i as (select a.doc_id as id_a, b.doc_id as id_b,
             cast(count(*) as bigint) as n_inter
      from shs a join shs b on a.s = b.s and a.doc_id < b.doc_id
      group by 1, 2)
select i.id_a, i.id_b, i.n_inter,
       least(sa.n, sb.n) as n_small,
       cast(1000 * i.n_inter // least(sa.n, sb.n) as bigint) as cont_milli
from i join sz sa on sa.doc_id = i.id_a
       join sz sb on sb.doc_id = i.id_b
where 1000 * i.n_inter >= {tau_milli} * least(sa.n, sb.n)
"""


# ---------------------------------------------------------------------------
# quality-aware survivor selection
# ---------------------------------------------------------------------------


def quality_survivors(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Near-dedup with QUALITY-AWARE survivor selection ->
    (keep_id, n_members, margin_e6): per duplicate cluster keep the
    member with the highest classifier margin (tie -> min doc_id),
    instead of near_dedup_survivors' min-id rule. This is the policy
    real curation pipelines want — when a page exists as both a clean
    article and a chrome-laden near-copy, min-id keeps whichever was
    crawled first; max-quality keeps the better text (C4/CCNet keep
    -best-by-score convention).

    Scale shape: clusters come from the audited MinHash->CC path; the
    quality margin joins on once per member and the survivor pick is a
    SINGLE map-side-combined agg via max_by(sid, (margin, -sid)) — no
    window over clusters (a giant boilerplate cluster would make a hot
    partition), no join-back, every branch consumed once."""
    from .link import pair_labels
    from .textstats import quality_classifier

    labels = pair_labels(docs, id_col, minhash_dup_pairs(docs, id_col=id_col))
    scores = quality_classifier(docs).select(
        F.col("doc_id").alias("sid"), "margin_e6"
    )
    m = labels.join(scores, "sid")
    return m.groupBy("label").agg(
        F.expr(
            "max_by(sid, named_struct('m', margin_e6, 'i', -sid))"
        ).alias("keep_id"),
        F.count("*").cast("bigint").alias("n_members"),
        F.max("margin_e6").cast("bigint").alias("margin_e6"),
    ).select("keep_id", "n_members", "margin_e6")


def duck_quality_survivors_sql(
    exact_pairs_sql: str, doc_rel: str = "documents"
) -> str:
    """Oracle: clusters from the exact-Jaccard pair GROUND TRUTH via the
    recursive min-label CTE, quality margins from the classifier twin,
    survivor via an independent row_number formulation."""
    from .link import duck_pair_labels_sql
    from .textstats import duck_quality_classifier_sql

    dup = dup_docs_sql("duck", doc_rel)
    return duck_pair_labels_sql(dup, "doc_id", exact_pairs_sql) + f""",
q as (select doc_id, margin_e6
      from ({duck_quality_classifier_sql(f'({dup})')})),
m as (select c.lbl, c.id, q.margin_e6
      from comp c join q on q.doc_id = c.id),
r as (select lbl, id, margin_e6,
             row_number() over (partition by lbl
                                order by margin_e6 desc, id asc) as rk,
             count(*) over (partition by lbl) as n
      from m)
select id as keep_id, cast(n as bigint) as n_members, margin_e6
from r where rk = 1
"""


def cluster_size_stats(survivors: DataFrame) -> DataFrame:
    """Near-dup cluster-size audit -> (size_bucket, n_clusters, n_docs,
    max_size): log2-bucketed histogram (bit-length ilog2, the
    degree_histogram idiom) over the (keep_id, n_members) cluster table
    from near_dedup_survivors. The curation report that distinguishes
    "dedup is removing boilerplate families" (mass at small buckets)
    from "dedup is eating the corpus" (mass in big buckets). One
    map-side-combined agg over a table already one-row-per-cluster;
    <= 64 rows out."""
    return (
        survivors.withColumn(
            "size_bucket",
            F.expr("cast(length(bin(n_members)) - 1 as bigint)"),
        )
        .groupBy("size_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_clusters"),
            F.sum("n_members").cast("bigint").alias("n_docs"),
            F.max("n_members").cast("bigint").alias("max_size"),
        )
    )


# ---------------------------------------------------------------------------
# Per-host template-line discovery (host-local boilerplate)
# ---------------------------------------------------------------------------

TEMPLATE_RATIO_MILLI = 800  # line must appear in >= 80% of host's pages
TEMPLATE_MIN_PAGES = 2


def host_templates(
    pages: DataFrame,
    ratio_milli: int = TEMPLATE_RATIO_MILLI,
    min_pages: int = TEMPLATE_MIN_PAGES,
    html_col: str = "html",
) -> DataFrame:
    """Per-host template-line discovery -> (host, line, n_docs,
    host_pages, df_milli): a line is a TEMPLATE of its host when it
    appears in >= ratio_milli/1000 of the host's pages (hosts with
    fewer than min_pages pages are skipped — one page proves nothing).
    This is the host-local complement of the corpus-global df-cap in
    `line_dedup`: production boilerplate removal keys on the host,
    because nav bars / footers / cookie banners are SITE templates —
    a line ubiquitous on one host but rare globally (a boutique site's
    own footer) is invisible to the global cap yet exactly what should
    be stripped from that host's pages before training.

    Segmentation and identity are shared with line_dedup
    (LINE_SPLIT_RE, md5), so the two strategies are comparable
    line-for-line. The threshold is an integer ratio test
    (1000 * n_docs >= ratio_milli * host_pages) — no float division,
    so Spark and DuckDB agree exactly.

    Scale shape: one explode -> ONE map-side-combined groupBy on
    (host, line-digest) carrying the line text via max(seg) (partial
    state = one text per distinct (host, line) per task — the distinct
    template-candidate set, which IS the output's information; nothing
    corpus-sized shuffles with text attached twice). Host page counts
    are a second map-side agg on the pages table, host-keyed join onto
    the aggregated (not corpus-sized) candidate table. The template
    head that survives the ratio filter is site-count-sized.
    """
    segs = (
        pages.select(
            "doc_id",
            F.regexp_extract("url", "https?://([^/]+)", 1).alias("host"),
            F.explode(
                F.split(F.col(html_col).cast("string"), LINE_SPLIT_RE)
            ).alias("seg"),
        )
        .withColumn("seg", F.trim("seg"))
        .where(F.col("seg") != "")
        .withColumn("k", F.md5("seg"))
    )
    cand = segs.groupBy("host", "k").agg(
        F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
        F.max("seg").alias("line"),
    )
    hp = (
        pages.select(
            F.regexp_extract("url", "https?://([^/]+)", 1).alias("host"),
            "doc_id",
        )
        .groupBy("host")
        .agg(F.count_distinct("doc_id").cast("bigint").alias("host_pages"))
        .where(F.col("host_pages") >= min_pages)
    )
    return (
        cand.join(hp, "host")
        .where(
            F.lit(1000) * F.col("n_docs")
            >= F.lit(ratio_milli) * F.col("host_pages")
        )
        .select(
            "host", "line", "n_docs", "host_pages",
            F.expr("(1000 * n_docs) div host_pages").alias("df_milli"),
        )
    )


def duck_host_templates_sql(
    pages_sql_duck: str,
    ratio_milli: int = TEMPLATE_RATIO_MILLI,
    min_pages: int = TEMPLATE_MIN_PAGES,
) -> str:
    """DuckDB twin of :func:`host_templates` (html rebuilt inline, same
    regex/threshold arithmetic; max(seg) is deterministic because k is
    md5(seg) — one k, one seg)."""
    from ..sources.pages import html_expr

    return f"""
with p as (
  select doc_id,
         regexp_extract(url, 'https?://([^/]+)', 1) as host,
         {html_expr('duck', 'text', 'doc_id')} as html
  from ({pages_sql_duck})
),
segs as (
  select doc_id, host, seg, md5(seg) as k from (
    select doc_id, host,
           trim(unnest(string_split_regex(html, '{LINE_SPLIT_RE}'))) as seg
    from p
  ) where seg <> ''
),
cand as (
  select host, k, cast(count(distinct doc_id) as bigint) as n_docs,
         max(seg) as line
  from segs group by 1, 2
),
hp as (
  select host, cast(count(distinct doc_id) as bigint) as host_pages
  from p group by 1
  having count(distinct doc_id) >= {min_pages}
)
select cand.host, line, n_docs, host_pages,
       (1000 * n_docs) // host_pages as df_milli
from cand join hp on cand.host = hp.host
where 1000 * n_docs >= {ratio_milli} * host_pages
"""


def split_leakage(docs: DataFrame, splits: DataFrame,
                  id_col: str = "doc_id") -> DataFrame:
    """Train/val/test LEAKAGE audit over near-dup clusters ->
    (cluster_id, n_docs, n_splits, splits, leaked): every multi-member
    MinHash->CC duplicate cluster with its split profile. A cluster
    whose members straddle splits (leaked = n_splits > 1) is eval
    contamination by construction — the test doc has a near-copy in
    train — and the standard fix is assigning splits BY CLUSTER, which
    this report verifies (a clean corpus returns leaked = false
    everywhere). q_decontaminate catches verbatim eval overlap; this
    catches the near-dup overlap a hash split silently creates.

    Scale shape: rides the SAME certified MinHash->CC machinery as
    near_dedup_survivors (banded LSH, cap-degraded buckets, per-round
    localCheckpoint'd CC); splits attach via ONE doc-keyed equi-join;
    the per-cluster rollup is a map-side-combined agg whose collect_set
    is bounded by |splits| (3), and cluster sizes are bounded by the
    LSH cap degrade — no hot reducer."""
    from .link import pair_labels

    labels = pair_labels(docs, id_col, minhash_dup_pairs(docs, id_col=id_col))
    j = labels.join(
        splits.select(F.col(id_col).alias("sid"), "split"), "sid"
    )
    return (
        j.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count_distinct("split").cast("bigint").alias("n_splits"),
            F.concat_ws(
                ",", F.sort_array(F.collect_set("split"))
            ).alias("splits"),
        )
        .where(F.col("n_docs") >= 2)
        .select(
            F.col("label").alias("cluster_id"),
            "n_docs", "n_splits", "splits",
            (F.col("n_splits") > 1).alias("leaked"),
        )
    )


def duck_split_leakage_sql(exact_pairs_sql: str, split_case_sql: str,
                           doc_rel: str = "documents") -> str:
    """Oracle: clusters recomputed from the exact-Jaccard pair ground
    truth (recursive min-label CTE, the near_dedup_survivors oracle),
    split replayed from the same portable hash rule."""
    from .link import duck_pair_labels_sql

    dup = dup_docs_sql("duck", doc_rel)
    return duck_pair_labels_sql(dup, "doc_id", exact_pairs_sql) + f""",
sp as (select doc_id, {split_case_sql} as split from ({dup}))
select lbl as cluster_id,
       cast(count(*) as bigint) as n_docs,
       cast(count(distinct split) as bigint) as n_splits,
       string_agg(distinct split, ',' order by split) as splits,
       count(distinct split) > 1 as leaked
from comp join sp on comp.id = sp.doc_id
group by lbl
having count(*) >= 2
"""


# ---------------------------------------------------------------------------
# LSH banding parameter tuning (S-curve report)
# ---------------------------------------------------------------------------

# candidate (n_bands, band_rows) layouts spending the same 16 minhashes
LSH_GRID: list[tuple[int, int]] = [(16, 1), (8, 2), (4, 4), (2, 8), (1, 16)]
LSH_BUCKET_MILLI = 50  # similarity histogram bucket width (milli-Jaccard)


def lsh_prob_rows(
    floor_milli: int = int(JACCARD_TAU * 1000),
    bucket_width: int = LSH_BUCKET_MILLI,
    grid: list[tuple[int, int]] | None = None,
) -> list[tuple[int, int, int, int]]:
    """(bucket, n_bands, band_rows, p_e6) rows of the banding S-curve
    p(s) = 1 - (1 - s^r)^b evaluated at each histogram bucket midpoint —
    PURE integer arithmetic (e6 fixed point, floor at every multiply),
    so the table is bit-identical wherever it is generated; it contains
    no data, only constants, and is injected verbatim into both
    dialects."""
    rows = []
    for bucket in range(floor_milli // bucket_width,
                        1000 // bucket_width + 1):
        s_e6 = min(bucket * bucket_width + bucket_width // 2, 1000) * 1000
        for b, r in grid or LSH_GRID:
            acc = s_e6
            for _ in range(r - 1):
                acc = acc * s_e6 // 1_000_000
            miss = 1_000_000
            for _ in range(b):
                miss = miss * (1_000_000 - acc) // 1_000_000
            rows.append((bucket, b, r, 1_000_000 - miss))
    return rows


def lsh_tuning_report(pairs: DataFrame) -> DataFrame:
    """Banding parameter advisor -> one row per (n_bands, band_rows)
    layout: (n_bands, band_rows, n_pairs, exp_recall_e6). Input is the
    certified exact near-dup pair set WITH overlap counts (id_a, id_b,
    n_inter, n_union) — the pairs the dedup stage MUST catch; the
    report answers "what fraction would each banding layout of the same
    16 minhashes have surfaced as candidates", i.e. the expected recall
    E[p(s)] under the OBSERVED similarity distribution, not a textbook
    uniform assumption. r=1/b=16 maximizes recall near the tau floor
    (what minhash_dup_pairs ships); r=4 trades the flat tail for a
    sharp threshold (fewer spurious candidates when tau is higher).

    Scale shape: one projection + one <= 21-row histogram agg over the
    (already small) verified pair table, a broadcast join against the
    constant probability table, one 5-row rollup. All-bigint weighted
    mean (sum(n*p) div sum(n)); the S-curve itself is constants, so no
    cross-engine float ever evaluates."""
    spark = pairs.sparkSession
    probs = spark.createDataFrame(
        lsh_prob_rows(),
        "bucket bigint, n_bands bigint, band_rows bigint, p_e6 bigint",
    )
    hist = (
        pairs.select(
            F.expr(
                f"(1000 * cast(n_inter as bigint) div"
                f" cast(n_union as bigint)) div {LSH_BUCKET_MILLI}"
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    return (
        hist.join(F.broadcast(probs), "bucket")
        .groupBy("n_bands", "band_rows")
        .agg(
            F.expr("cast(sum(n) as bigint)").alias("n_pairs"),
            F.expr(
                "cast(sum(n * p_e6) as bigint) div cast(sum(n) as bigint)"
            ).alias("exp_recall_e6"),
        )
    )


def duck_lsh_tuning_sql(exact_pairs_sql: str) -> str:
    """Oracle twin over the brute-force exact-Jaccard pair truth; the
    probability table is the SAME lsh_prob_rows constants inlined as
    VALUES (sum casts per the HUGEINT trap)."""
    vals = ", ".join(f"({a}, {b}, {c}, {d})" for a, b, c, d in lsh_prob_rows())
    return f"""
with pairs as ({exact_pairs_sql}),
hist as (
  select (1000 * cast(n_inter as bigint) // cast(n_union as bigint))
           // {LSH_BUCKET_MILLI} as bucket,
         cast(count(*) as bigint) as n
  from pairs group by 1
),
probs as (select * from (values {vals})
          p(bucket, n_bands, band_rows, p_e6))
select cast(n_bands as bigint) as n_bands,
       cast(band_rows as bigint) as band_rows,
       cast(sum(n) as bigint) as n_pairs,
       cast(sum(n * p_e6) as bigint) // cast(sum(n) as bigint)
         as exp_recall_e6
from hist join probs using (bucket)
group by 1, 2
"""


# ---------------------------------------------------------------------------
# incremental near-dedup: delta crawl vs persisted corpus state
# ---------------------------------------------------------------------------


def incremental_dup_pairs(
    base: DataFrame,
    delta: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = 16,
    max_bucket: int = 64,
    tau: float = JACCARD_TAU,
) -> DataFrame:
    """Near-dup pairs TOUCHING a delta batch -> (id_a, id_b): the
    production shape of minhash_dup_pairs — a daily crawl never
    re-dedups the whole corpus, it probes the NEW documents against
    the persisted band index (here recomputed from `base`; in
    production a bucketed table keyed by (band, mh), exactly what
    catalog.write_bucketed materializes) and verifies candidates
    exactly. Same banding family, shingle pass, bucket cap and int64
    verify join as the full operator, so incremental ∪ base-internal
    pairs == the from-scratch pair set (consistency + oracle-certified
    in tests; the dedup analog of link.incremental_link_entities and
    extract.pagerank_incremental).

    Scale shape: the probe join is DELTA-sized on the left — the base
    corpus is touched only through the band index lookup (co-located
    when the index is bucketed), never self-joined; the bucket-cap
    count runs over the combined band table (counts merge map-side);
    verification ships int64 hash arrays for the candidate ids only.
    Base-base pairs are excluded by construction (they were emitted
    when THEIR batch arrived)."""
    nb = with_hashed_shingles(base).select(
        F.col(id_col).alias("sid"), "hsh"
    ).localCheckpoint(eager=False)
    nd = with_hashed_shingles(delta).select(
        F.col(id_col).alias("sid"), "hsh"
    ).localCheckpoint(eager=False)

    def bands(nodes):
        return nodes.select(
            "sid",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {n_bands - 1}),"
                    " b -> named_struct('band', b, 'mh',"
                    " array_min(transform(hsh, h -> xxhash64(h, b)))))"
                )
            ).alias("bk"),
        ).select("sid", "bk.band", "bk.mh")
    bands_all = bands(nb).unionByName(bands(nd)).localCheckpoint(
        eager=False
    )
    bands_delta = bands(nd)
    # bucket cap over the COMBINED index (a boilerplate band key is hot
    # regardless of which batch its members arrived in)
    ok = (
        bands_all.groupBy("band", "mh")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") <= max_bucket)
        .select("band", "mh")
    )
    cand = (
        bands_delta.join(ok, ["band", "mh"])
        .select("band", "mh", F.col("sid").alias("id_d"))
        .join(
            bands_all.select("band", "mh", F.col("sid").alias("id_o")),
            ["band", "mh"],
        )
        .where(F.col("id_d") != F.col("id_o"))
        .select(
            F.least("id_d", "id_o").alias("id_a"),
            F.greatest("id_d", "id_o").alias("id_b"),
        )
        .distinct()
    )
    nodes_all = nb.unionByName(nd)
    a = nodes_all.select(F.col("sid").alias("id_a"), F.col("hsh").alias("h_a"))
    b = nodes_all.select(F.col("sid").alias("id_b"), F.col("hsh").alias("h_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .where(
            F.expr(
                "size(array_intersect(h_a, h_b)) >="
                f" {tau} * size(array_union(h_a, h_b))"
            )
        )
        .select("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# winnowing minimizer fingerprints (Schleimer, Wilkerson & Aiken 2003 —
# the MOSS local fingerprinting scheme; also the minimizer of minimap2/
# sourmash). Distinct from minhash (global per-doc sketch: similarity
# ESTIMATE) and span_dedup (every window hashed: exact but dense):
# winnowing SAMPLES ~2/(w+1) of positions yet GUARANTEES any shared run
# of >= w+2 grams yields a shared fingerprint — the local-overlap
# detector plagiarism/clone pipelines want.
# ---------------------------------------------------------------------------

MINIMIZER_W = 8  # window width in 3-gram positions
MINIMIZER_DF_CAP = 64  # fingerprints in more docs are boilerplate — drop
MINIMIZER_MIN_SHARED = 2  # pairs must share >= 2 selected fingerprints

_GRAM_MUL_A = 961  # 31^2 — gram hash = (h(w1)*31^2 + h(w2)*31 + h(w3)) % M


def _minimizer_exprs(dialect: str, w: int) -> tuple[str, str, str]:
    """(word-hash array, gram-hash array, minimizer array) expressions.
    Gram positions clamp at the tail exactly like shingles_sql, so a
    2-word doc still yields one (degenerate) gram on both engines."""
    from ..functions.hashing import M

    if dialect == "spark":
        wh = f"transform(__ws, x -> {sql_strhash('x')})"
        gh = (
            "transform(sequence(1, greatest(size(__wh) - 2, 1)),"
            f" i -> (element_at(__wh, i) * {_GRAM_MUL_A}"
            " + element_at(__wh, least(i + 1, size(__wh))) * 31"
            " + element_at(__wh, least(i + 2, size(__wh))))"
            f" % {M})"
        )
        mins = (
            f"array_distinct(transform("
            f" sequence(1, greatest(size(__gh) - {w} + 1, 1)),"
            f" i -> array_min(slice(__gh, i, {w}))))"
        )
        return wh, gh, mins
    wh = f"list_transform(__ws, x -> {sql_strhash('x')})"
    gh = (
        "list_transform(range(1, greatest(len(__wh) - 2, 1) + 1),"
        f" i -> (__wh[i] * {_GRAM_MUL_A}"
        " + __wh[least(i + 1, len(__wh))] * 31"
        " + __wh[least(i + 2, len(__wh))])"
        f" % {M})"
    )
    mins = (
        f"list_distinct(list_transform("
        f" range(1, greatest(len(__gh) - {w} + 1, 1) + 1),"
        f" i -> list_aggregate(list_slice(__gh, i, i + {w} - 1), 'min')))"
    )
    return wh, gh, mins


def minimizer_fingerprints(
    docs: DataFrame,
    w: int = MINIMIZER_W,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, fp) — the distinct winnowed fingerprint set per doc.
    Each array stage is materialized as its OWN projection before the
    next lambda consumes it (the no-CSE HOF rule: an expression inside
    a lambda body re-evaluates per element; a column reference does
    not). Sliding-window minima via slice+array_min are O(n*w) per doc
    with w=8 — cheaper than an explode+window shuffle and entirely
    row-local, so the first exchange in the whole plan is the
    fingerprint groupBy."""
    wh, gh, mins = _minimizer_exprs("spark", w)
    return (
        docs.withColumn("__ws", F.expr(f"split(lower({text_col}), ' ')"))
        .withColumn("__wh", F.expr(wh))
        .withColumn("__gh", F.expr(gh))
        .select(F.col(id_col), F.explode(F.expr(mins)).alias("fp"))
    )


def minimizer_overlap_pairs(
    docs: DataFrame,
    w: int = MINIMIZER_W,
    df_cap: int = MINIMIZER_DF_CAP,
    min_shared: int = MINIMIZER_MIN_SHARED,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_a, doc_b, n_shared) for pairs sharing >= min_shared winnowed
    fingerprints. Same scale discipline as the other pair builders: a
    df-cap (2..df_cap docs per fingerprint) kills boilerplate keys
    BEFORE the self-join, bounding per-key fan-out at C(df_cap, 2);
    the join ships 8-byte (fp, doc) rows only."""
    fps = minimizer_fingerprints(docs, w, text_col, id_col)
    keep = (
        fps.groupBy("fp")
        .agg(F.countDistinct(id_col).alias("__df"))
        .where((F.col("__df") >= 2) & (F.col("__df") <= df_cap))
        .select("fp")
    )
    ff = fps.join(keep, "fp")
    a = ff.select(F.col("fp"), F.col(id_col).alias("doc_a"))
    b = ff.select(F.col("fp"), F.col(id_col).alias("doc_b"))
    return (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def duck_minimizer_pairs_sql(
    doc_rel_sql: str,
    w: int = MINIMIZER_W,
    df_cap: int = MINIMIZER_DF_CAP,
    min_shared: int = MINIMIZER_MIN_SHARED,
) -> str:
    """DuckDB twin of minimizer_overlap_pairs (identical hash chain,
    window minima, df-cap and pairing, so the match is bit-exact)."""
    wh, gh, mins = _minimizer_exprs("duck", w)
    return f"""
with t as (
  select doc_id, string_split(lower(text), ' ') as __ws
  from ({doc_rel_sql})
),
h as (select doc_id, {wh} as __wh from t),
g as (select doc_id, {gh} as __gh from h),
f as (
  select doc_id, unnest({mins}) as fp from g
),
keep as (
  select fp from f group by fp
  having count(distinct doc_id) between 2 and {df_cap}
),
ff as (select f.doc_id, f.fp from f join keep using (fp))
select a.doc_id as doc_a, b.doc_id as doc_b,
       cast(count(*) as bigint) as n_shared
from ff a join ff b on a.fp = b.fp and a.doc_id < b.doc_id
group by 1, 2
having cast(count(*) as bigint) >= {min_shared}
"""


# ---------------------------------------------------------------------------
# CDC MERGE apply (lakehouse changelog upsert: base snapshot + ordered
# I/U/D changelog -> next snapshot, the MERGE INTO contract)
# ---------------------------------------------------------------------------

CDC_DELETE_SALT = 13  # h1(doc_id, 13) % 5 == 0 -> the capture is a delete


def _cdc_host(dialect: str, url: str) -> str:
    if dialect == "spark":
        return f"regexp_extract({url}, 'https?://([^/]+)', 1)"
    return f"regexp_extract({url}, 'https?://([^/]+)', 1)"


def cdc_apply(pages: DataFrame, split_mod: int = 4) -> DataFrame:
    """Apply a CDC changelog to a host-level snapshot — the MERGE INTO
    semantics every lakehouse table maintenance loop runs: base = the
    latest capture per host in the OLD window (doc_id % split_mod != 0,
    the incremental family's split), changelog = the delta window's
    captures tagged U(psert) or D(elete) by a deterministic hash rule.
    Per changelog key only the LAST op counts (max doc_id — the
    changelog-ordering contract); a final D removes the key, a final U
    rewrites it, untouched base rows pass through as 'kept'.

    Plan: ONE map-side-combined max_by per input window (base latest +
    changelog last-op), one hash anti-join of base against touched
    hosts, one union — no window functions, no driver state; output is
    host-cardinality. At 100 TB the changelog agg is the only pass over
    the delta and the base side is itself the persisted prior snapshot
    (here recomputed from the split so the oracle can replay it)."""
    from ..functions.hashing import sql_h1

    host = _cdc_host("spark", "url")
    base = (
        pages.where(F.col("doc_id") % split_mod != 0)
        .select(F.expr(host).alias("host"), "doc_id")
        .groupBy("host")
        .agg(F.max("doc_id").cast("bigint").alias("doc_id"))
    )
    is_del = f"{sql_h1('doc_id', CDC_DELETE_SALT)} % 5 = 0"
    last_op = (
        pages.where(F.col("doc_id") % split_mod == 0)
        .select(
            F.expr(host).alias("host"),
            "doc_id",
            F.expr(f"case when {is_del} then 'D' else 'U' end").alias("op"),
        )
        .groupBy("host")
        .agg(
            F.expr("max_by(op, doc_id)").alias("op"),
            F.max("doc_id").cast("bigint").alias("doc_id"),
        )
    )
    applied = last_op.where(F.col("op") == "U").select(
        "host", "doc_id", F.lit("applied").alias("src")
    )
    kept = base.join(last_op.select("host"), "host", "left_anti").select(
        "host", "doc_id", F.lit("kept").alias("src")
    )
    return kept.unionByName(applied)


def duck_cdc_apply_sql(pages_sql_duck: str, split_mod: int = 4) -> str:
    """DuckDB twin of cdc_apply (identical host extraction, delete
    rule, last-op and anti-join arithmetic)."""
    from ..functions.hashing import sql_h1

    host = _cdc_host("duck", "url")
    is_del = f"{sql_h1('doc_id', CDC_DELETE_SALT)} % 5 = 0"
    return f"""
with p as (select doc_id, url from ({pages_sql_duck})),
base as (
  select {host} as host, cast(max(doc_id) as bigint) as doc_id
  from p where doc_id % {split_mod} != 0 group by 1
),
chg as (
  select {host} as host, doc_id,
         case when {is_del} then 'D' else 'U' end as op
  from p where doc_id % {split_mod} = 0
),
last_op as (
  select host, max_by(op, doc_id) as op,
         cast(max(doc_id) as bigint) as doc_id
  from chg group by 1
)
select b.host, b.doc_id, 'kept' as src
from base b anti join last_op l on b.host = l.host
union all
select host, doc_id, 'applied' as src from last_op where op = 'U'
"""
