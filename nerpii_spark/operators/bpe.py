"""Distributed BPE merge learning (Sennrich et al. 2016) — the tokenizer-
training step of an LLM data pipeline, as a Spark iteration.

Word-level BPE: the corpus collapses to a (word, freq) vocabulary table
ONCE (the only corpus-sized shuffle); each merge iteration then runs on
the vocabulary — explode adjacent symbol pairs, weight by word freq,
take the global argmax pair (deterministic tie-break), and rewrite every
word's symbol sequence with that pair merged (greedy left-to-right
non-overlapping, the standard BPE scan). Exactly the structure of a real
distributed tokenizer trainer: corpus-sized work happens once; the
iteration loop touches only |vocab| rows.

The merge rewrite is a pure Catalyst `aggregate` HOF (no Python): the
fold state is the output symbol array; an element merges into the
accumulator's tail when (tail, element) equals the chosen pair. A fold
cannot re-merge its own output (the merged symbol a||b is strictly
longer than a), so the fold is exactly the greedy single-pass scan.

The DuckDB oracle replays the iterations with an INDEPENDENT merge
algorithm — a recursive CTE splicing the first occurrence of
' a b ' in the padded sequence string until none remains (replace-first
iterated == greedy left-to-right; a merge cannot create an earlier
occurrence of the same pair because a||b differs from both a and b) —
so a bit-identical merge table cross-validates two implementations of
the semantics, not one implementation against itself.

Scale shape: pair counting is explode + map-side-combined sum over the
vocabulary (pairs per word <= word length); the argmax crossing the
driver is ONE row per iteration (like the CC/PageRank fixpoints); the
rewrite is a zero-shuffle projection. Vocabulary tables (1e6-1e8 words)
are orders smaller than a 10^12-doc corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_MERGES = 3


def _word_counts(docs: DataFrame, text_col: str) -> DataFrame:
    return (
        docs.select(
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("word")
        )
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )


def _pair_counts(words: DataFrame) -> DataFrame:
    pairs = F.expr(
        "transform(sequence(1, size(seq) - 1),"
        " i -> struct(element_at(seq, i) as a, element_at(seq, i + 1) as b))"
    )
    return (
        words.where(F.size("seq") >= 2)
        .select(F.explode(pairs).alias("p"), "freq")
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").cast("bigint").alias("n_weighted"))
    )


def _sql_quote(s: str) -> str:
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _merge_expr(*pairs: tuple[str, str]) -> str:
    """Greedy left-to-right merge of one or more SYMBOL-DISJOINT pairs
    in `seq` as a pure fold: append, or fuse with the accumulator tail
    when it completes a pair. With disjoint pairs (no shared symbols,
    no pair containing another's fused output) at most one WHEN can
    match per element and fusion sites cannot interact, so the single
    fold is exactly equal to chaining one fold per pair — which is
    exactly the sequential greedy scan."""
    if not pairs:
        raise ValueError(
            "_merge_expr needs at least one pair: an empty CASE is not"
            " valid Spark SQL"
        )
    whens = "\n    ".join(
        f"when size(acc) > 0 and element_at(acc, -1) = {_sql_quote(a)}"
        f" and x = {_sql_quote(b)}\n      then concat(slice(acc, 1,"
        f" size(acc) - 1), array({_sql_quote(a + b)}))"
        for a, b in pairs
    )
    return f"""
aggregate(
  seq,
  cast(array() as array<string>),
  (acc, x) -> case
    {whens}
    else concat(acc, array(x))
  end
)
"""


def _select_batch(top, at_cap: bool, made: set, budget: int):
    """From one collected top-K ranking, pick the longest prefix of
    merges that sequential greedy BPE would PROVABLY pick in this exact
    order without recounting — the batched-pass argmax (VERDICT r3 #4).

    `top`: rows (a, b, n_weighted) in (n desc, a, b) ranking order;
    `at_cap`: True when `top` was truncated at K (pairs outside the
    fetch then have counts <= top[-1]); `made`: every fused symbol
    string produced by earlier merges (the complete multi-char symbol
    inventory — initial symbols are single chars, so a fused string
    pre-exists iff it is in `made`).

    Soundness of taking p_i after S = p_1..p_{i-1} (all from this
    prefix):
    - p_i's own count is unchanged: its symbols are disjoint from
      every S symbol and fused output, and no S fusion can create or
      destroy an adjacency of untouched symbols (the new token sits
      between its neighbors).
    - Old pairs never gain count (no fused output collides with a
      pre-existing symbol — checked against `made`), and every old
      pair ranked above p_i is in S, so p_i still beats all old pairs
      (counts below only decrease; lexicographic tie-break is static).
    - Created pairs contain a brand-new symbol and inherit their count
      from an old pair touching an S symbol ((x, ab) <= count(x, a)).
      Any such toucher ranked above p_i would have stopped the prefix,
      so touchers are ranked below; requiring n_i STRICTLY above every
      fetched toucher and above the truncation bound beats them even
      under the string tie-break (a new symbol's sort order is
      unknowable driver-side).
    """
    sel_idx = [0]
    n_rest = top[-1]["n_weighted"] if at_cap else 0
    p1 = top[0]
    if p1["a"] + p1["b"] in made or len(sel_idx) >= budget:
        return [top[0]]
    touched = {p1["a"], p1["b"]}          # selected input symbols
    blocked = touched | {p1["a"] + p1["b"]}   # inputs + fused outputs
    for i in range(1, len(top)):
        r = top[i]
        a, b, n = r["a"], r["b"], r["n_weighted"]
        if a in blocked or b in blocked:
            break  # count may have changed; sequential must recount
        fused = a + b
        if fused in made or fused in blocked:
            break  # fusing would boost a pre-existing symbol's pairs
        # bound over NON-selected fetched pairs touching a selected
        # symbol (created pairs inherit counts from exactly these)
        toucher_max = max(
            (top[j]["n_weighted"] for j in range(len(top))
             if j not in sel_idx and j != i
             and (top[j]["a"] in touched or top[j]["b"] in touched)),
            default=0,
        )
        if n <= max(toucher_max, n_rest):
            break  # a created pair could outrank p_i
        sel_idx.append(i)
        touched |= {a, b}
        blocked |= {a, b, fused}
        if len(sel_idx) >= budget:
            break
    return [top[j] for j in sel_idx]


def bpe_merges(
    docs: DataFrame, text_col: str = "text", n_merges: int = N_MERGES,
    top_k: int = 16, sample_mod: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Learn `n_merges` BPE merges -> (it, sym_a, sym_b, n_weighted),
    one row per iteration in merge order. Tie-break: highest weighted
    count, then (sym_a, sym_b) ascending — total order, deterministic.

    BATCHED PASSES, SEQUENTIAL SEMANTICS: each driver round-trip
    collects the top-`top_k` pair ranking and applies every merge that
    sequential greedy provably picks next (`_select_batch` — symbol-
    disjoint ranking prefix with a strict dominance bound) in ONE
    fused fold rewrite. The output is bit-identical to one-merge-per-
    iteration training (the DuckDB recursive-CTE oracle still replays
    strict sequential greedy and must agree), but a vocabulary whose
    top pairs are disjoint learns k merges for 2 driver round-trips
    instead of 2k — at a real 30k-merge vocab this is the difference
    between 60k Spark jobs and a few hundred. Worst case (every
    adjacent top pair shares a symbol, common for English char BPE)
    degrades to exactly the old per-merge cost, never worse.
    `stats["round_trips"]` records collect+checkpoint jobs spent.

    `sample_mod=k` trains on the deterministic 1/k hash sample of the
    word VOCABULARY (strhash(word) % k == 0 — the
    similarity.ivf_sample_pred discipline): at a 10^8-word vocab the per-pass rewrite touches only
    the sample, and pair statistics concentrate (frequencies are sums
    over many words, so the sampled argmax tracks the full one for the
    dominant pairs a tokenizer cares about). Deterministic, so two runs
    (and any replay oracle built with the same predicate) agree
    exactly; the contract query trains unsampled."""
    from ..functions.hashing import sql_strhash

    spark = docs.sparkSession
    words = _word_counts(docs, text_col).withColumn(
        "seq", F.split("word", "")
    )
    if sample_mod is not None and sample_mod > 1:
        words = words.where(
            F.expr(f"({sql_strhash('word')}) % {sample_mod} = 0")
        )
    # |vocab| rows; each pass rewrites seqs, so pin the lineage
    words = words.localCheckpoint(eager=True)
    out = []
    made: set = set()
    trips = 0
    while len(out) < n_merges:
        top = (
            _pair_counts(words)
            .orderBy(F.desc("n_weighted"), F.asc("a"), F.asc("b"))
            .limit(top_k)
            .collect()
        )
        trips += 1
        if not top:
            break
        batch = _select_batch(
            top, at_cap=len(top) >= top_k, made=made,
            budget=n_merges - len(out),
        )
        for r in batch:
            out.append((len(out) + 1, r["a"], r["b"], r["n_weighted"]))
            made.add(r["a"] + r["b"])
        if len(out) >= n_merges:
            break  # done: the final rewrite's output is never read
        words = words.withColumn(
            "seq",
            F.expr(_merge_expr(*[(r["a"], r["b"]) for r in batch])),
        ).localCheckpoint(eager=True)
        trips += 1
    if stats is not None:
        stats["round_trips"] = trips
    return spark.createDataFrame(
        out, "it bigint, sym_a string, sym_b string, n_weighted bigint"
    )


# ---------------------------------------------------------------------------
# DuckDB oracle: independent replay (recursive-CTE replace-first merge)
# ---------------------------------------------------------------------------


def _duck_training_ctes(
    docs_rel: str, text_col: str, n_merges: int
) -> tuple[list[str], list[str]]:
    """The training CTE chain (w0..w{n}, p/t/m/r per iteration) and the
    per-iteration SELECTs for the merge table. Shared by
    duck_bpe_merges_sql and duck_bpe_encode_sql."""
    ctes = [
        f"""
w0 as (
  select seq, cast(count(*) as bigint) as freq from (
    select array_to_string(string_split(word, ''), ' ') as seq
    from (select unnest(string_split(lower({text_col}), ' ')) as word
          from {docs_rel})
    where word <> ''
  ) group by 1
)"""
    ]
    finals = []
    for k in range(1, n_merges + 1):
        prev = f"w{k - 1}"
        ctes.append(
            f"""
p{k} as (
  select l[i] as a, l[i + 1] as b,
         cast(sum(freq) as bigint) as n_weighted
  from (
    select string_split(seq, ' ') as l,
           unnest(range(1, len(string_split(seq, ' ')))) as i, freq
    from {prev}
  ) group by 1, 2
),
t{k} as (
  select a, b, n_weighted from p{k}
  order by n_weighted desc, a asc, b asc limit 1
),
m{k} as (
  select ' ' || a || ' ' || b || ' ' as pat, ' ' || a || b || ' ' as rep
  from t{k}
),
r{k} as (
  select s.seq as orig, ' ' || s.seq || ' ' as cur, s.freq
  from {prev} s
  union all
  select r.orig,
         substring(r.cur, 1, position(m.pat in r.cur) - 1)
           || m.rep
           || substring(r.cur, position(m.pat in r.cur) + length(m.pat)),
         r.freq
  from r{k} r, m{k} m
  where position(m.pat in r.cur) > 0
),
w{k} as (
  select trim(cur) as seq, freq
  from r{k} r
  where not exists (
    select 1 from m{k} m where position(m.pat in r.cur) > 0
  )
)"""
        )
        finals.append(
            f"select {k} as it, a as sym_a, b as sym_b, n_weighted from t{k}"
        )
    return ctes, finals


def duck_bpe_merges_sql(
    docs_rel: str = "documents", text_col: str = "text",
    n_merges: int = N_MERGES,
) -> str:
    """Chained-CTE replay: w0 = char-split vocabulary (seq = space-joined
    symbols); per iteration k: pair counts from seq -> top-1 pair ->
    recursive splice of ' a b ' -> ' ab ' (first occurrence per step)
    until absent. Bit-identical output certifies the Spark iteration."""
    ctes, finals = _duck_training_ctes(docs_rel, text_col, n_merges)
    return (
        "with recursive " + ",".join(ctes) + " "
        + " union all ".join(finals)
    )


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_merges: int = N_MERGES,
) -> DataFrame:
    """Apply trained BPE merges to the corpus — the tokenizer-APPLY step
    that pairs with bpe_merges' training step.
    -> (doc_id, n_tokens, tokens_str) where tokens_str is the full
    '|'-joined token stream (string output so the oracle hash certifies
    the actual encoding, not just counts).

    Scale shape mirrors training: merges are applied over the DISTINCT
    WORD VOCABULARY (a chain of `n_merges` pure-Catalyst fold
    projections — the same greedy-scan aggregate HOF the trainer uses,
    so encode(word) reproduces the trainer's final symbol sequence by
    construction), and the corpus is touched only by a split + a
    BROADCAST word->tokens join + one (doc_id)-keyed reassembly agg.
    At 10^12 docs the vocabulary (1e6-1e8 rows) is the only thing the
    merge chain evaluates; per-doc HOF encoding would interpret the
    fold over every corpus token instead (CLAUDE.md: interpreted HOF
    lambdas anti-scale with cores).

    `merges=None` trains on `docs` first (bpe_merges — one driver row
    per merge)."""
    if merges is None:
        merges = [
            (r["sym_a"], r["sym_b"])
            for r in bpe_merges(docs, text_col, n_merges).collect()
        ]
    vocab = (
        docs.select(
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("word")
        )
        .where(F.col("word") != "")
        .distinct()
        .withColumn("seq", F.split("word", ""))
    )
    for a, b in merges:
        vocab = vocab.withColumn("seq", F.expr(_merge_expr((a, b))))
    wmap = vocab.select(
        "word",
        F.expr("array_join(seq, '|')").alias("wtok"),
        F.size("seq").cast("bigint").alias("ntok"),
    )
    toks = (
        docs.select(
            F.col(id_col),
            F.posexplode(F.split(F.lower(F.col(text_col)), " ")).alias(
                "pos", "word"
            ),
        )
        .where(F.col("word") != "")
        .join(F.broadcast(wmap), "word")
    )
    return toks.groupBy(id_col).agg(
        F.sum("ntok").cast("bigint").alias("n_tokens"),
        F.expr(
            "concat_ws('|', transform(sort_array(collect_list("
            "struct(pos, wtok))), x -> x.wtok))"
        ).alias("tokens_str"),
    )


def duck_bpe_encode_sql(
    docs_rel: str = "documents", text_col: str = "text",
    n_merges: int = N_MERGES,
) -> str:
    """Independent DuckDB replay of train-then-encode: the training CTE
    chain produces m1..m{n} (recursive replace-first splice — a different
    merge algorithm than Spark's fold), then the distinct-word vocabulary
    is encoded through the same m{k} patterns and the corpus reassembled
    with positional unnest (generate_subscripts — DuckDB 1.0 lacks WITH
    ORDINALITY) + ordered string_agg."""
    ctes, _ = _duck_training_ctes(docs_rel, text_col, n_merges)
    enc = [
        f"""
e0 as (
  select word, array_to_string(string_split(word, ''), ' ') as seq
  from (select distinct word from (
    select unnest(string_split(lower({text_col}), ' ')) as word
    from {docs_rel}) where word <> '')
)"""
    ]
    for k in range(1, n_merges + 1):
        enc.append(
            f"""
er{k} as (
  select e.word, ' ' || e.seq || ' ' as cur from e{k - 1} e
  union all
  select r.word,
         substring(r.cur, 1, position(m.pat in r.cur) - 1)
           || m.rep
           || substring(r.cur, position(m.pat in r.cur) + length(m.pat))
  from er{k} r, m{k} m
  where position(m.pat in r.cur) > 0
),
e{k} as (
  select word, trim(cur) as seq
  from er{k} r
  where not exists (
    select 1 from m{k} m where position(m.pat in r.cur) > 0
  )
)"""
        )
    return (
        "with recursive " + ",".join(ctes + enc) + f""",
corpus as (
  select doc_id,
         unnest(string_split(lower({text_col}), ' ')) as word,
         generate_subscripts(string_split(lower({text_col}), ' '), 1) as pos
  from {docs_rel}
),
wt as (
  select word, replace(seq, ' ', '|') as wtok,
         cast(len(string_split(seq, ' ')) as bigint) as ntok
  from e{n_merges}
)
select c.doc_id,
       cast(sum(wt.ntok) as bigint) as n_tokens,
       string_agg(wt.wtok, '|' order by c.pos) as tokens_str
from corpus c join wt using (word)
where c.word <> ''
group by c.doc_id
"""
    )


def tokenizer_fertility(
    docs: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    text_col: str = "text",
    lang_col: str = "lang",
    n_merges: int = N_MERGES,
) -> DataFrame:
    """Tokenizer-quality report per language -> (lang, n_words,
    n_tokens, fertility_e6): fertility = BPE tokens emitted per
    whitespace word (1e6-scaled integer), THE metric tokenizer papers
    compare first — a tokenizer trained on English text typically
    shatters under-represented languages into characters (fertility
    >> 1), and the mixture/vocab decisions (mix_weights, bpe_merges
    budget) are made off exactly this table.

    Scale shape mirrors bpe_encode: the merge fold evaluates over the
    DISTINCT WORD VOCABULARY only; the corpus contributes one
    map-side-combined (lang, word) count agg; fertility is then a
    VOCABULARY-sized broadcast join of word->ntok onto those counts +
    one <= |langs|-row rollup (sum(c*ntok) / sum(c)) — the corpus
    token stream is never carried past the count agg.

    `merges=None` trains on `docs` first (one driver row per merge)."""
    if merges is None:
        merges = [
            (r["sym_a"], r["sym_b"])
            for r in bpe_merges(docs, text_col, n_merges).collect()
        ]
    wc = (
        docs.select(
            F.col(lang_col).alias("lang"),
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias(
                "word"
            ),
        )
        .where(F.col("word") != "")
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    vocab = wc.select("word").distinct().withColumn(
        "seq", F.split("word", "")
    )
    for a, b in merges:
        vocab = vocab.withColumn("seq", F.expr(_merge_expr((a, b))))
    wmap = vocab.select("word", F.size("seq").cast("bigint").alias("ntok"))
    return (
        wc.join(F.broadcast(wmap), "word")
        .groupBy("lang")
        .agg(
            F.sum("c").cast("bigint").alias("n_words"),
            F.sum(F.col("c") * F.col("ntok")).cast("bigint").alias(
                "n_tokens"
            ),
        )
        .select(
            "lang", "n_words", "n_tokens",
            F.expr("(1000000 * n_tokens) div n_words").alias(
                "fertility_e6"
            ),
        )
    )


def duck_tokenizer_fertility_sql(
    docs_rel: str = "documents", text_col: str = "text",
    n_merges: int = N_MERGES,
) -> str:
    """Oracle: the independent recursive replace-first training+encode
    chain (duck_bpe_encode_sql's e{k} CTEs), rolled up per language
    with the same integer fertility arithmetic."""
    ctes, _ = _duck_training_ctes(docs_rel, text_col, n_merges)
    enc = [
        f"""
e0 as (
  select word, array_to_string(string_split(word, ''), ' ') as seq
  from (select distinct word from (
    select unnest(string_split(lower({text_col}), ' ')) as word
    from {docs_rel}) where word <> '')
)"""
    ]
    for k in range(1, n_merges + 1):
        enc.append(
            f"""
er{k} as (
  select e.word, ' ' || e.seq || ' ' as cur from e{k - 1} e
  union all
  select r.word,
         substring(r.cur, 1, position(m.pat in r.cur) - 1)
           || m.rep
           || substring(r.cur, position(m.pat in r.cur) + length(m.pat))
  from er{k} r, m{k} m
  where position(m.pat in r.cur) > 0
),
e{k} as (
  select word, trim(cur) as seq
  from er{k} r
  where not exists (
    select 1 from m{k} m where position(m.pat in r.cur) > 0
  )
)"""
        )
    return (
        "with recursive " + ",".join(ctes + enc) + f""",
wc as (
  select lang, word, cast(count(*) as bigint) as c
  from (select lang,
               unnest(string_split(lower({text_col}), ' ')) as word
        from {docs_rel})
  where word <> ''
  group by 1, 2
),
wt as (
  select word, cast(len(string_split(seq, ' ')) as bigint) as ntok
  from e{n_merges}
),
agg as (
  select lang, cast(sum(c) as bigint) as n_words,
         cast(sum(c * ntok) as bigint) as n_tokens
  from wc join wt using (word)
  group by 1
)
select lang, n_words, n_tokens,
       cast((1000000 * n_tokens) // n_words as bigint) as fertility_e6
from agg
"""
    )
