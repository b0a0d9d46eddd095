"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Each query is one ``@query(oracle, bench=...)`` registration on its
``def q_*`` builder: the name is the function's, the DuckDB oracle sits
next to the builder, and ``bench=True`` puts it in bench.py's timed
suite.  ``queries()``, ``oracle_sql()`` and ``bench_queries()`` are
views of that registry in registration (file) order; a name registered
twice fails the import.

255 queries (SURVEY.md §2.4 maps each to its operator): the KG pipeline
S1-S5 (incl. incremental S4 linking and corpus-level PII redaction),
KG analytics (degree / 2-hop inference / co-occurrence lift / PageRank /
triangles / negative sampling / neighbor sampling / random walks / AMIE
mining AND application / Hearst taxonomy / coref-lite / quotation,
numeric, temporal, negation-aware and voice-canonicalizing frames with
a zero-cross-talk mixed-corpus gate / N-Triples export / SHACL-lite
validation / conjunctive pattern queries), the web graph (anchor
extraction + host PageRank + community quotient graph + 2-D skyline),
tabular-mode profiling/masking (en + the it-locale dimension),
scalar/relational/window/set ops (incl. rollup/cube/pivot/rolling
frames/Z-order layout stats/TPC-H Q1-Q5/Q14/Q18/Q2-argmin shapes), the
training-data extras (dedup incl. crawl-URL canonicalization + snapshot
diff, decontamination, ANN similarity, k-means, text analysis incl.
tf-idf + HLL sketch + BPE training, sequence packing, the end-to-end
curation composition, multimodal, CoNLL BIO export), the evaluation
stack (NER span / entity B-cubed / triple P-R), robots.txt policy,
watermark-lateness sizing, JSON schema-on-read, and events queries. EVERY query carries a DuckDB oracle —
including the two ANN paths (approximate vs brute force but
deterministic, so their oracles are bit-exact replays: integer LSH
sign signatures / chained-CTE integer-Lloyd IVF).

Pipeline queries run over the deterministic planted `pages` corpus
derived from the `documents` table (nerpii_spark/sources/pages.py);
their oracles recompute the *planted ground truth* in DuckDB SQL, so a
match certifies extraction/linking/dedup P/R = 1.0, not just plumbing;
masking oracles recompute the exact keyed synthetic values.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from nerpii_spark.functions import gazetteers as G
from nerpii_spark.functions.hashing import sql_h1
from nerpii_spark.functions.text import (
    address_pattern,
    split_name,
    with_gender,
)
from nerpii_spark.operators.clean import clean_pages
from nerpii_spark.operators.detect import detect_mentions
from nerpii_spark.operators.extract import (
    degree_histogram,
    duck_degree_histogram_sql,
    duck_frequent_itemsets_sql,
    entity_cooccur,
    entity_degree,
    entity_salience,
    extract_triples,
    rel_evidence,
    fact_decay,
    duck_fact_decay_sql,
    duck_hits_sql,
    duck_kg_negative_samples_sql,
    duck_pagerank_incremental_sql,
    duck_pagerank_sql,
    duck_pagerank_weighted_sql,
    pagerank_incremental,
    hits,
    duck_neighbor_sample_sql,
    duck_node2vec_walks_sql,
    duck_random_walks_sql,
    node2vec_walks,
    random_walks,
    walk_pairs,
    duck_walk_pairs_sql,
    kg_negative_samples,
    kg_triangles,
    neighbor_sample,
    pagerank,
    rule_mining,
    duck_rule_mining_sql,
    scd2_facts,
    duck_scd2_facts_sql,
    asof_facts,
    duck_asof_facts_sql,
    pred_cardinality,
    duck_pred_cardinality_sql,
    truth_discovery,
    duck_truth_discovery_sql,
    topk_objs_per_pred,
    triple_support,
    duck_triple_support_sql,
    triple_typecheck,
    duck_triple_typecheck_sql,
    triples_by_pred_salted,
    two_hop_locations,
    hearst_hypernyms,
    coref_resolve,
    rule_infer,
    duck_rule_infer_sql,
    ner_bio_export,
    quote_attribution,
    numeric_facts,
    date_facts,
    polarity_triples,
    voice_triples,
    ntriples_export,
    duck_ntriples_sql,
    shacl_report,
    duck_shacl_sql,
    ner_eval,
    duck_ner_eval_sql,
    kg_pattern_residence,
    duck_kg_pattern_sql,
    extract_mixed,
)
from nerpii_spark.operators.link import (
    cluster_eval,
    duck_cluster_eval_sql,
    entity_aliases,
    entity_members,
    fuzzy_surface_pairs,
    incremental_link_entities,
    link_entities,
    linked_members,
    resolve_mentions,
)
from nerpii_spark.operators import dedup as D
from nerpii_spark.operators import link as L
from nerpii_spark.operators import diagnose as DG
from nerpii_spark.operators import events as EV
from nerpii_spark.operators import multimodal as MM
from nerpii_spark.operators import bpe as BPE
from nerpii_spark.operators import cluster as _CL
from nerpii_spark.operators import layout as LAY
from nerpii_spark.operators import sketch as SK
from nerpii_spark.operators import similarity as SIM
from nerpii_spark.operators import warc as WARC
from nerpii_spark.operators import webgraph as WG
from nerpii_spark.operators import webquality as WQ
from nerpii_spark.operators import textstats as TS
from nerpii_spark.operators.mask import (
    duck_mask_leakage_sql,
    duck_redact_text_sql,
    mask_table,
    mask_triples,
    masked_select_sql,
    masked_triples_exprs,
    redact_text,
    route_columns,
)
from nerpii_spark.operators.profile import (
    column_profile,
    column_profile_sql,
    duck_dp_noisy_counts_sql,
    duck_k_anonymity_sql,
    duck_reident_risk_sql,
    generalization_ladder_sql,
)
from nerpii_spark.sources import catalog as CAT
from nerpii_spark.sources import pages as P

_CACHE: dict = {}


def _load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _pipeline(spark: SparkSession, sf_dir: str) -> dict:
    """Build (once per session+sf) pages -> clean -> mentions -> triples."""
    key = (id(spark), sf_dir)
    if key in _CACHE:
        return _CACHE[key]
    docs = _load(spark, sf_dir, "documents")
    view = "nerpii_documents"
    docs.createOrReplaceTempView(view)
    pages = (
        spark.sql(P.pages_sql("spark", doc_rel=view, with_html=True))
        .drop("text")  # force S1 to derive text from html bytes
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .withColumn("text", F.lit(None).cast("string"))
    )
    clean = clean_pages(pages).cache()
    mentions = detect_mentions(clean).cache()
    triples = extract_triples(mentions).cache()
    out = {"pages": pages, "clean": clean, "mentions": mentions, "triples": triples}
    _CACHE[key] = out
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG pipeline (S1 clean -> S2 detect -> S3 extract)
    over the planted corpus at sf0.001; returns the triples table."""
    t = _pipeline(spark, "/root/testdata/sf0.001")["triples"]
    return t.select("doc_id", "url", "subj", "pred", "obj")


# ---------------------------------------------------------------------------
# query registry: each driver query is one ``@query`` registration on its
# builder, carrying the DuckDB oracle that certifies it (SQL over the
# pre-registered parquet views) and whether bench.py times it.  queries(),
# oracle_sql() and bench_queries() are views of the registry, in
# registration order.
# ---------------------------------------------------------------------------


class _Query(NamedTuple):
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | Callable[[], str]
    bench: bool


_REGISTRY: dict[str, _Query] = {}


def query(oracle: str | Callable[[], str], *, bench: bool = False):
    """Register the decorated ``q_*`` builder under its own name.

    ``oracle`` is its DuckDB SQL, or a zero-argument callable that builds
    that SQL when ``oracle_sql()`` is called (any SQL composed by helpers
    or from module names defined further down).  ``bench=True`` puts the
    query in bench.py's timed suite."""
    if not oracle:
        raise ValueError("a driver query needs an oracle")

    def register(fn):
        if fn.__name__ in _REGISTRY:
            raise ValueError(f"driver query {fn.__name__!r} registered twice")
        _REGISTRY[fn.__name__] = _Query(fn, oracle, bench)
        return fn

    return register


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.build for name, q in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: q.oracle() if callable(q.oracle) else q.oracle
        for name, q in _REGISTRY.items()
    }


def bench_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.build for name, q in _REGISTRY.items() if q.bench}


# DuckDB sub-SQL the oracles below are built from
_PAGES = P.pages_sql("duck")
_GM = P.golden_mentions_sql("duck")  # planted mentions
_GT = P.golden_triples_sql("duck")  # planted triples
_FEMALE = G.sql_str_list([n.lower() for n in G.FIRST_FEMALE])
_MALE = G.sql_str_list([n.lower() for n in G.FIRST_MALE])
_DUP = D.dup_docs_sql("duck")
_WS, _BPE = TS.token_count_sql("duck", "text")
_QUAL_COLS = ", ".join(
    f"{e} as {name}" for name, e in TS.quality_sql("duck", "text").items()
)


def _exact_jaccard_sql() -> str:
    """Exact ground truth for near-dup pairs: shingle-set Jaccard >= tau
    over ALL pairs (the corpus contains natural near-dups beyond the
    planted ones) — computed by direct set intersection in DuckDB."""
    dup = D.dup_docs_sql("duck")
    sh = D.shingles_sql("duck", "text")
    return f"""
        with dup as ({dup}),
        shs as (select doc_id, unnest({sh}) as s from dup),
        sz as (select doc_id, count(*) as n from shs group by 1),
        i as (select a.doc_id as id_a, b.doc_id as id_b, count(*) as n_inter
              from shs a join shs b on a.s = b.s and a.doc_id < b.doc_id
              group by 1, 2),
        full_p as (
          select i.id_a, i.id_b, i.n_inter,
                 sa.n + sb.n - i.n_inter as n_union
          from i join sz sa on sa.doc_id = i.id_a
                 join sz sb on sb.doc_id = i.id_b
        )
        select * from full_p where n_inter >= {D.JACCARD_TAU} * n_union
    """


_EXACT_JACCARD = _exact_jaccard_sql()


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


@query(lambda: f"select doc_id, text from ({_PAGES})")
def q_clean_text(spark, sf):
    c = _pipeline(spark, sf)["clean"]
    return c.select("doc_id", "text")


@query(_GM)
def q_detect_mentions(spark, sf):
    m = _pipeline(spark, sf)["mentions"]
    return m.select("doc_id", "entity_type", F.col("mention"))


@query(lambda: (
    f"select entity_type, count(*) as n from ({_GM}) group by entity_type"
))
def q_mentions_by_type(spark, sf):
    m = _pipeline(spark, sf)["mentions"]
    return m.groupBy("entity_type").agg(F.count("*").alias("n"))


@query(_GT)
def q_triples(spark, sf):
    t = _pipeline(spark, sf)["triples"]
    return t.select("doc_id", "subj", "pred", "obj")


@query(lambda: (
    f"select pred, count(*) as n_triples,"
    f" cast(count(distinct subj) as bigint) as n_subjs"
    f" from ({_GT}) group by pred"
), bench=True)
def q_triples_by_pred(spark, sf):
    t = _pipeline(spark, sf)["triples"]
    return triples_by_pred_salted(t)


@query(lambda: P.golden_entities_sql(), bench=True)
def q_entities(spark, sf):
    """S4: MinHash-LSH blocking + token-aware scoring + connected-components
    canonicalization; oracle recomputes the planted cluster ground truth,
    so a match certifies linking P/R = 1.0."""
    m = _pipeline(spark, sf)["mentions"]
    return link_entities(m)


@query(lambda: P.golden_entities_sql())
def q_entities_incremental(spark, sf):
    """Incremental S4: link 3/4 of the corpus, persist the members
    state, fold the remaining 1/4 in as a delta batch (contracted-CC
    over touched components only — the old corpus is never relinked).
    Oracle = the SAME planted-cluster ground truth as q_entities, so a
    match certifies incremental == from-scratch == truth."""
    m = _pipeline(spark, sf)["mentions"]
    old_members = linked_members(
        m.where(F.col("doc_id") % 4 != 0)
    ).localCheckpoint(eager=True)
    return incremental_link_entities(
        old_members, m.where(F.col("doc_id") % 4 == 0)
    )


@query(lambda: P.golden_resolved_persons_sql())
def q_resolve_persons(spark, sf):
    """S4 join-back: every PERSON mention resolved to its canonical entity
    via the broadcast surface->canonical map."""
    m = _pipeline(spark, sf)["mentions"]
    persons = m.where(F.col("entity_type") == "PERSON")
    members = entity_members(persons)
    return resolve_mentions(persons, members).select(
        "doc_id",
        F.lower(F.col("mention")).alias("mention_norm"),
        "canonical",
    )


@query(lambda: P.golden_entity_aliases_sql())
def q_entity_aliases(spark, sf):
    """Alias table per canonical entity (link.entity_aliases) — the KG
    analog of anchor-text aggregation: sorted, cap-truncated distinct
    surface set with the true alias count; oracle = planted cluster
    ground truth, so a match certifies alias P/R = 1.0."""
    m = _pipeline(spark, sf)["mentions"]
    return entity_aliases(m)


@query(lambda: P.golden_entity_summary_sql(_GT))
def q_entity_summary(spark, sf):
    """The KG 'entity page' a serving layer materializes per canonical
    PERSON: mention count, doc coverage, alias count, and triple count
    — a star composition over S2/S3/S4 outputs. Scale shape: the
    surface->canonical members map broadcasts into both the mention
    stream and the triple stream (corpus-sized sides never shuffle to
    meet each other); the three per-canonical aggs map-side combine and
    join on the entity-table-sized keys. Oracle recomputes every leg
    from planted ground truth."""
    m = _pipeline(spark, sf)["mentions"]
    t = _pipeline(spark, sf)["triples"]
    persons = m.where(F.col("entity_type") == "PERSON")
    members = entity_members(persons).localCheckpoint(eager=True)
    resolved = resolve_mentions(persons, members, pin=False)
    stats = resolved.groupBy("canonical").agg(
        F.count("*").cast("bigint").alias("n_mentions"),
        F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
    )
    aliases = members.groupBy("canonical").agg(
        F.count("*").cast("bigint").alias("n_aliases")
    )
    norm_map = members.select("norm", "canonical")
    trips = (
        t.select(
            F.expr(
                "lower(regexp_replace(trim(subj), '\\\\s+', ' '))"
            ).alias("norm")
        )
        .join(L.gated_broadcast(norm_map, pin=False), "norm")
        .groupBy("canonical")
        .agg(F.count("*").cast("bigint").alias("n_triples"))
    )
    return (
        stats.join(aliases, "canonical")
        .join(trips, "canonical", "left")
        .select(
            "canonical",
            "n_aliases",
            "n_mentions",
            "n_docs",
            F.expr("coalesce(n_triples, cast(0 as bigint))").alias(
                "n_triples"
            ),
        )
    )


@query(lambda: WG.duck_web_graph_sql(_PAGES))
def q_web_graph(spark, sf):
    """Host-level link graph extracted from page anchors (webgraph.py):
    regexp over html bytes in codegen, one map-side-combined edge count;
    oracle = planted link ground truth, so a match certifies extraction
    P/R = 1.0. Hub hosts carry ~75x in-degree skew — absorbed by the
    partial agg, never a hot reducer."""
    return WG.web_graph(_pipeline(spark, sf)["pages"])


@query(lambda: duck_pagerank_sql(
    f"select src_host as subj, dst_host as obj from"
    f" ({WG.duck_planted_links_sql(_PAGES)})",
    n_iter=3,
))
def q_host_pagerank(spark, sf):
    """PageRank over the extracted host graph — extract.pagerank reused
    unchanged (integer fixed-point, chained-CTE oracle certifies the
    distributed iteration bit-for-bit)."""
    return pagerank(WG.host_edges_for_pagerank(_pipeline(spark, sf)["pages"]), n_iter=3)


@query(lambda: duck_hits_sql(
    f"select src_host as subj, dst_host as obj from"
    f" ({WG.duck_planted_links_sql(_PAGES)})",
    n_iter=2,
))
def q_hits(spark, sf):
    """HITS hubs/authorities over the extracted host graph — the crawl
    -prioritization complement to PageRank (extract.hits: integer L1
    -normalized mutual reinforcement; chained-CTE oracle certifies the
    distributed iteration bit-for-bit). The planted 13 hub{k}.example
    hosts surface as the authority head (~75x in-degree skew)."""
    return hits(
        WG.host_edges_for_pagerank(_pipeline(spark, sf)["pages"]), n_iter=2
    )


@query(lambda: WG.duck_cocitation_sql(_PAGES), bench=True)
def q_cocitation(spark, sf):
    """Host co-citation counts from per-page outlinks (webgraph
    .cocitation): per-page distinct + fan-out cap bounds the pair
    blow-up, map-side-combined pair counts absorb the hub skew; oracle
    recomputes pairs from the planted link arithmetic, certifying
    extraction + pairing P/R = 1.0."""
    return WG.cocitation(_pipeline(spark, sf)["pages"])


@query(lambda: WG.duck_host_components_sql(_PAGES), bench=True)
def q_host_components(spark, sf):
    """Weakly-connected components of the extracted host graph
    (webgraph.host_components): large-star / small-star contraction
    (link.connected_components), O(log n) rounds with per-half-round
    localCheckpoint; oracle = true WCC over the planted link set via a
    recursive min-label CTE — an independent formulation, so a split
    or merged component fails."""
    return WG.host_components(_pipeline(spark, sf)["pages"])


@query(lambda: WG.duck_lpa_communities_sql(_PAGES), bench=True)
def q_communities(spark, sf):
    """Bounded-round synchronous label propagation communities over the
    host graph (webgraph.lpa_communities): per round one equi-join + two
    map-side-combined aggs, deterministic majority vote with
    lexicographic tie-break; fixed rounds (not convergence) so the
    chained-CTE oracle replays the rounds exactly."""
    return WG.lpa_communities(_pipeline(spark, sf)["pages"])


@query(lambda: WG.duck_effective_diameter_sql(_PAGES))
def q_eff_diameter(spark, sf):
    """Effective diameter from the ANF curve (webgraph.
    effective_diameter): smallest radius reaching 90% of the horizon
    neighborhood function — integer threshold 10*N(r) >= 9*N(R), one-row
    broadcast composition over q_anf's sketch rounds."""
    return WG.effective_diameter(_pipeline(spark, sf)["pages"])


@query(lambda: WG.duck_harmonic_centrality_sql(_PAGES))
def q_harmonic_centrality(spark, sf):
    """HyperBall harmonic centrality (webgraph.harmonic_centrality):
    1/d-weighted ball-growth differences from the same per-node HLL
    sketches as q_anf — the closeness metric HyperBall exists for;
    integer fold, node-sized joins only; oracle replays the sketch and
    the fold bit-for-bit over the planted link set."""
    return WG.harmonic_centrality(_pipeline(spark, sf)["pages"])


@query(lambda: WG.duck_outlink_entropy_sql(_PAGES))
def q_outlink_entropy(spark, sf):
    """Per-host outlink-distribution entropy (webgraph.outlink_entropy):
    the structural link-spam signal — low entropy at high volume =
    template linking. Integer floor-log2 identity (1000*ilog2(T) -
    1000*sum(c*ilog2(c)) div T), two chained map-side-combined aggs,
    no join/window; oracle replays over the planted link set."""
    return WG.outlink_entropy(_pipeline(spark, sf)["pages"])


@query(lambda: WG.duck_host_reciprocity_sql(_PAGES), bench=True)
def q_host_reciprocity(spark, sf):
    """Per-host link reciprocity (webgraph.host_reciprocity): the
    link-exchange spam fingerprint — one checkpointed distinct edge
    list, one (u, v)-keyed self-semi-join, two map-side-combined
    counts; integer recip_milli, oracle replays over the planted link
    set via an independent left-self-join formulation."""
    return WG.host_reciprocity(_pipeline(spark, sf)["pages"])


@query(lambda: WG.duck_degree_assortativity_sql(_PAGES))
def q_assortativity(spark, sf):
    """Degree assortativity of the undirected host graph
    (webgraph.degree_assortativity): Newman's r over directed stubs as
    pure-integer sufficient statistics + truncating-div r_milli (hub
    -skewed web graphs are disassortative — the planted graph scores
    negative, exercising the verified div/`//` sign parity); two
    degree-decorating joins + one global agg."""
    return WG.degree_assortativity(_pipeline(spark, sf)["pages"])


@query(lambda: WG.duck_spam_mass_sql(_PAGES), bench=True)
def q_spam_mass(spark, sf):
    """Spam mass per host (webgraph.spam_mass): 1000 * (PR - TR) div PR
    from the bigint fixed-point PageRank and TrustRank over ONE
    checkpointed link list — the actionable web-spam demotion score;
    the oracle composes both chained-CTE iteration replays, so the
    full two-algorithm pipeline is certified bit-for-bit."""
    return WG.spam_mass(_pipeline(spark, sf)["pages"])


@query(lambda: TS.duck_bm25_topk_sql(), bench=True)
def q_bm25(spark, sf):
    """BM25 top-10 retrieval for a fixed query (textstats.bm25_topk):
    per-term tf via array-filter projections over ONE token-array
    column (no explode, no token shuffle), one broadcast global-stats
    agg, quantize-then-rank TakeOrdered; the oracle runs the identical
    quantized-score expression in DuckDB."""
    return TS.bm25_topk(_load(spark, sf, "documents"))


@query(lambda: (
    "select doc_id, url_raw, url_want as url_norm from"
    f" ({P.noisy_urls_sql('duck')})"
), bench=True)
def q_url_normalize(spark, sf):
    """Lossless-semantic URL normalization (dedup.url_normalize):
    scheme/host-only lowercase, default-port strip, fragment drop,
    utm_* removal with surviving params SORTED — pure whole-stage
    -codegen string/array exprs, zero shuffle; the oracle emits the
    PLANTED truth table (pages.noisy_urls_sql pairs every corruption
    with its known normal form), so a match certifies the normalizer
    end-to-end, not expression parity."""
    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_nu")
    noisy = spark.sql(P.noisy_urls_sql("spark", doc_rel="nerpii_documents_nu"))
    return D.url_normalize(noisy).select("doc_id", "url_raw", "url_norm")


@query(lambda: TS.duck_dsir_weights_sql())
def q_dsir_weights(spark, sf):
    """DSIR importance resampling (textstats.dsir_weights): hashed
    unigram+bigram log-ratio importance scores against the target-lang
    slice, min-max-normalized into a deterministic keyed-hash resample —
    one map-side-combined bucket agg (<= 4096 rows), broadcast weight
    table, one doc-keyed sum; integer end to end."""
    return TS.dsir_weights(_load(spark, sf, "documents"))


@query(lambda: WG.duck_recrawl_cadence_sql(
    P.crawl_sql("duck")
), bench=True)
def q_recrawl_cadence(spark, sf):
    """Per-host recrawl cadence over the raw crawl log
    (webgraph.recrawl_cadence): canonical-URL capture gaps via one lag
    window (high-cardinality key) + a per-URL agg reusing its
    partitioning + one map-side-combined per-host rollup; integer
    seconds and floor-div average, so the oracle matches exactly."""
    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_cadence")
    crawl = spark.sql(
        P.crawl_sql("spark", doc_rel="nerpii_documents_cadence")
    )
    return WG.recrawl_cadence(crawl)


@query(lambda: WG.duck_host_mirror_topk_sql(_PAGES), bench=True)
def q_host_mirrors(spark, sf):
    """Mirror/duplicate-site detection (webgraph.host_mirror_topk): top-k
    host pairs by out-link-set Jaccard — df-capped posting self-join for
    candidates (the hub hosts are exactly the capped features), exact
    counts from full postings via joins (no collect_set), integer sim_e6
    ranking with a two-phase salted top-k; oracle replays cap, counts
    and ranking over the planted link set."""
    return WG.host_mirror_topk(_pipeline(spark, sf)["pages"])


@query(lambda: WG.duck_kcore_sql(_PAGES), bench=True)
def q_kcore(spark, sf):
    """Bounded-round k-core peel over the host graph (webgraph.kcore):
    per round one map-side-combined degree count + two semi-joins, fixed
    rounds with a pytest-verified fixpoint on the planted graph; the
    chained-CTE oracle replays the peel over the planted link set."""
    return WG.kcore(_pipeline(spark, sf)["pages"])


@query(lambda: WG.duck_neighborhood_function_sql(_PAGES))
def q_anf(spark, sf):
    """ANF/HyperBall neighborhood function over the host graph
    (webgraph.neighborhood_function): per-node HLL balls propagated as
    sparse (node, register, rho) rows — register merge is MAX, so each
    round is one equi-join + one map-side-combined groupBy; integer
    estimate arithmetic from the frozen hash chain, so the oracle
    replays the distributed sketch bit-for-bit; accuracy vs exact BFS
    balls gated in pytest."""
    return WG.neighborhood_function(_pipeline(spark, sf)["pages"])


@query(lambda: SIM.duck_pq_topk_sql("vec_id < 32", k=3))
def q_embed_pq(spark, sf):
    """PQ asymmetric-distance top-3 (similarity.pq_topk): vectors
    compress to 8 codebook codes, the ADC scan is a broadcast LUT join +
    one map-side-combined sum, and the shortlist re-ranks by exact L2
    (FAISS ADC+refine) — the compression ANN shape next to LSH (prune by
    signature) and IVF (prune by cell); integer end to end, so the
    oracle replays training, encoding, scan and re-rank bit-for-bit;
    recall vs exact L2 gated in pytest."""
    return SIM.pq_topk(_load(spark, sf, "embeddings"), "vec_id < 32", k=3)


@query(lambda: WG.duck_trustrank_sql(
    f"select src_host as subj, dst_host as obj from"
    f" ({WG.duck_planted_links_sql(_PAGES)})",
    n_iter=3,
))
def q_trustrank(spark, sf):
    """TrustRank over the extracted host graph (webgraph.trustrank):
    PageRank with the teleport vector concentrated on the top-in-degree
    trusted seed set and dangling mass returned to the seeds — the
    web-spam demotion signal; bigint fixed-point throughout, so the
    chained-CTE oracle certifies the distributed iteration bit-for-bit."""
    return WG.trustrank(
        WG.host_edges_for_pagerank(_pipeline(spark, sf)["pages"]), n_iter=3
    )


@query(lambda: WG.duck_crawl_depth_sql(_PAGES), bench=True)
def q_crawl_depth(spark, sf):
    """Multi-source BFS hop distance from the authority core
    (webgraph.crawl_depth): seeds = top-16 in-degree hosts (deterministic
    tie-break), bounded frontier expansion — per round one equi-join +
    one distinct + one anti-join, per-round localCheckpoint; chained-CTE
    oracle replays the same bounded expansion with an independent
    row_number seed selection."""
    return WG.crawl_depth(_pipeline(spark, sf)["pages"])


@query(lambda: L.duck_fuzzy_pairs_sql(_GM), bench=True)
def q_fuzzy_match(spark, sf):
    """Edit-distance-1 PERSON surface pairs via FastSS deletion
    neighborhoods (link.fuzzy_surface_pairs): vocabulary-level variant
    explode + equi-join + built-in levenshtein verify — the typo-capture
    blocking strategy MinHash misses; oracle = brute-force exact
    levenshtein over the planted surfaces (no blocking), certifying
    candidate completeness."""
    return fuzzy_surface_pairs(_pipeline(spark, sf)["mentions"])


@query(lambda: L.duck_fellegi_sunter_sql(
    P.vals_cte_sql("duck", "documents")
), bench=True)
def q_linkage_weights(spark, sf):
    """Fellegi-Sunter record-linkage parameter estimation
    (link.fellegi_sunter_weights): m/u agreement probabilities in exact
    integer ppm for four comparison features over PERSON surface pairs
    from SORTED-NEIGHBORHOOD blocking (surname block, rank window 12) —
    the third blocking flavor next to LSH banding and FastSS deletion
    neighborhoods, with pair count linear in the distinct-surface
    vocabulary by construction. Oracle replays blocking + estimator
    over the planted person surfaces (lower(person) IS the mention
    norm), so a bit-match certifies both."""
    from nerpii_spark.operators.link import fellegi_sunter_weights

    return fellegi_sunter_weights(_pipeline(spark, sf)["mentions"])


@query(lambda: TS.duck_textrank_sql(), bench=True)
def q_textrank(spark, sf):
    """TextRank keyword top-20 (textstats.textrank_topk): bigint
    fixed-point weighted PageRank over the symmetric min_pair-floored
    word-bigram graph of the documents corpus — graph-based keyword
    extraction for KG concept mining, riding the certified
    pagerank_weighted integer iteration, so the DuckDB replay is
    bit-exact including the top-k boundary."""
    return TS.textrank_topk(_load(spark, sf, "documents"))


@query(lambda: SK.duck_hdr_quantiles_sql(
    "select cast(round(l_extendedprice * 100) as bigint) as v_c"
    " from lineitem",
    "v_c",
), bench=True)
def q_quantile_sketch(spark, sf):
    """Mergeable HDR-style quantile sketch (sketch.hdr_quantiles) over
    lineitem price cents: p50/p90/p99 bands from 8-per-octave log2
    buckets — the mergeable-quantiles companion to the exact
    q_percentiles histogram (shard sketches merge by ADDITION; <= 12.5%
    relative-error bands at any value range). One map-side-combined
    groupBy into <= 504 cells; integer bin()/shift bucket map replayed
    bit-exactly by the oracle."""
    from nerpii_spark.operators.sketch import hdr_quantiles

    return hdr_quantiles(
        _load(spark, sf, "lineitem"),
        "cast(round(l_extendedprice * 100) as bigint)",
    )


@query(lambda: WG.duck_luby_mis_sql(_PAGES), bench=True)
def q_crawl_waves(spark, sf):
    """Luby maximal-independent-set crawl waves (webgraph.luby_mis):
    conflict-free parallel fetch scheduling — no two directly-linked
    hosts share a wave; portable strhash priorities with (p, host)
    lexicographic symmetry breaking, 12 fixed rounds + deterministic
    wave=-1 for the unresolved tail. Per round two semi-joins + one
    combined min agg + tie-break agg + two anti-joins, per-round
    localCheckpoint (the CC fixpoint discipline); oracle replays every
    round over the planted link set."""
    return WG.luby_mis(_pipeline(spark, sf)["pages"])


@query(lambda: duck_frequent_itemsets_sql(_GM, _PAGES), bench=True)
def q_itemsets(spark, sf):
    """Distributed Apriori frequent itemsets (extract.frequent_itemsets)
    over per-host entity baskets: frequent 1/2/3-sets of co-hosted
    entity surfaces at a data-derived 5% support floor — k=3 sets
    surface the org+city+state co-location patterns q_entity_cooccur's
    per-doc pairs cannot. Candidate triads are generated from
    L1-restricted baskets and pruned by three frequent-pair semi-joins
    BEFORE counting (the Apriori property doing the scale work)."""
    from nerpii_spark.operators.extract import frequent_itemsets

    p = _pipeline(spark, sf)
    return frequent_itemsets(p["mentions"], p["clean"])


@query(lambda: TS.duck_readability_sql(), bench=True)
def q_readability(spark, sf):
    """Flesch reading-ease band histogram (textstats.readability_bands):
    integer milli-point score from word/sentence/vowel-group counts —
    the classic readability gate next to the stopword and Gopher
    filters, whole-stage codegen throughout, one combined groupBy into
    ~21 band cells."""
    return TS.readability_bands(_load(spark, sf, "documents"))


@query(lambda: WG.duck_crawl_frontier_sql(_PAGES, k=4), bench=True)
def q_frontier(spark, sf):
    """Politeness-capped recrawl frontier: per host the k stalest pages
    via the two-phase salted window (webgraph.crawl_frontier); oracle =
    the single-window form, certifying the skew-safe plan is exact."""
    return WG.crawl_frontier(_pipeline(spark, sf)["pages"], k=4)


@query(lambda: WG.duck_resolve_redirects_sql(
    P.redirects_sql("duck")
), bench=True)
def q_resolve_redirects(spark, sf):
    """Redirect-chain resolution by pointer doubling (webgraph
    .resolve_redirects): chains of length 1..3 planted per doc_id % 4;
    oracle = closed-form 3-hop fold, an independent implementation, so
    a match certifies the doubling iteration itself."""
    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_rd")
    edges = spark.sql(P.redirects_sql("spark", doc_rel="nerpii_documents_rd"))
    return WG.resolve_redirects(edges)


@query(lambda: column_profile_sql(
    "duck", P.personal_info_sql("duck"), P.PERSONAL_INFO_COLS
))
def q_column_profile(spark, sf):
    """Tabular mode: the reference's full dict_global_entities pipeline
    (presidio stage -> manual name rules -> model stage) over the planted
    personal_info table; oracle recomputes the same staged rules in DuckDB."""
    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_pi")
    pi = spark.sql(P.personal_info_sql("spark", doc_rel="nerpii_documents_pi"))
    return column_profile(pi)


# expected profile of the planted personal_info table (verified separately
# by q_column_profile) — used to build the mask oracle's routing
_PI_PROFILE = [
    ("person", "PERSON", 1.0),
    ("first_name", "PERSON", 1.0),
    ("last_name", None, None),
    ("first_name_gender", None, None),
    ("company_name", "ORGANIZATION", 0.5),
    ("city", "LOCATION", 1.0),
    ("state", "LOCATION", 1.0),
    ("zip", "ZIPCODE", 1.0),
    ("phone", "PHONE_NUMBER", 1.0),
    ("email", "EMAIL_ADDRESS", 1.0),
    ("web", "URL", 1.0),
    ("ssn", "US_SSN", 1.0),
    ("credit_card_number", "CREDIT_CARD_NUMBER", 1.0),
    ("address", "ADDRESS", 1.0),
    ("country", "LOCATION", 1.0),
]


def _personal_info(spark, sf):
    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_pi2")
    return spark.sql(P.personal_info_sql("spark", doc_rel="nerpii_documents_pi2"))


@query(lambda: column_profile_sql(
    "duck", P.personal_info_sql("duck"), P.PERSONAL_INFO_COLS,
    manual=False, model=False,
))
def q_profile_presidio(spark, sf):
    """E1 presidio-only profile (O11-O13): no manual/model stages."""
    return column_profile(_personal_info(spark, sf), manual=False, model=False)


@query(lambda: (
    "select col, entity from ("
    + column_profile_sql(
        "duck", P.personal_info_sql("duck"), P.PERSONAL_INFO_COLS
    )
    + ") where confidence > 0.3"
))
def q_conf_filter(spark, sf):
    """O19: columns with assigned entity and confidence > 0.3."""
    return column_profile(_personal_info(spark, sf)).where(
        F.col("confidence") > 0.3
    ).select("col", "entity")


@query(
    "select 'zip' as col, 'ZIPCODE' as entity union all"
    " select 'credit_card_number', 'CREDIT_CARD_NUMBER'"
)
def q_manual_rules(spark, sf):
    """O16 metadata-only rules over the personal_info column names."""
    from nerpii_spark.operators.profile import manual_rule_entity

    rows = [
        (c, manual_rule_entity(c))
        for c in P.PERSONAL_INFO_COLS
        if manual_rule_entity(c)
    ]
    return spark.createDataFrame(rows, "col string, entity string")


@query(
    "select 'person' as col, 'PERSON' as entity union all"
    " select 'company_name', 'ORGANIZATION'"
)
def q_not_synth(spark, sf):
    """O32: assigned-entity columns no synthesizer covers."""
    from nerpii_spark.operators.mask import (
        columns_not_synthesized,
        route_columns,
    )

    pi = _personal_info(spark, sf)
    prof_rows = [
        (r["col"], r["entity"], r["confidence"])
        for r in column_profile(pi).collect()
    ]
    routing = route_columns(prof_rows, list(pi.columns), {"state"})
    rows = columns_not_synthesized(prof_rows, routing)
    return spark.createDataFrame(rows, "col string, entity string")


# expected profile of the planted Italian personal_info table (verified
# separately by q_profile_it) — used to build the it mask oracle's routing
_PI_IT_PROFILE = [
    ("person", "PERSON", 1.0),
    ("first_name", "PERSON", 1.0),
    ("last_name", None, None),
    ("first_name_gender", None, None),
    ("city", "LOCATION", 1.0),
    ("cap", "ZIPCODE", 1.0),
    ("telefono", "PHONE_NUMBER", 1.0),
    ("email", "EMAIL_ADDRESS", 1.0),
    ("indirizzo", "ADDRESS", 1.0),
    ("carta_di_credito", "CREDIT_CARD_NUMBER", 1.0),
]


def _personal_info_it(spark, sf):
    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_pi_it")
    return spark.sql(
        P.personal_info_it_sql("spark", doc_rel="nerpii_documents_pi_it")
    )


@query(lambda: column_profile_sql(
    "duck", P.personal_info_it_sql("duck"), P.PERSONAL_INFO_IT_COLS,
    lang="it",
))
def q_profile_it(spark, sf):
    """Italian tabular profile: the it detector suite (IT name/city
    gazetteers standing in for it_core_news_lg) + the it-specific manual
    rules ('cap', 'carta...credito') over the planted Italian table."""
    return column_profile(_personal_info_it(spark, sf), lang="it")


@query(lambda: masked_select_sql(
    "duck",
    f"({P.personal_info_it_sql('duck')})",
    P.PERSONAL_INFO_IT_COLS,
    route_columns(_PI_IT_PROFILE, P.PERSONAL_INFO_IT_COLS, set()),
    "row_id",
    gender_col="first_name_gender",
    lang="it",
))
def q_mask_personal_info_it(spark, sf):
    """Italian masking: Faker(['it_IT']) parity — Italian name/city/street
    draws, 'Via ...' addresses, CAP postcodes (postcode() vs zipcode(),
    faker_generator.py:478-513), routed through the 'indirizzo'/'cap'
    clauses."""
    pi = _personal_info_it(spark, sf)
    prof = column_profile(pi, lang="it")
    return mask_table(pi, prof, "row_id", lang="it")


def _marked_pi_sql(dialect: str, doc_rel: str) -> str:
    """personal_info with ssn/phone cells replaced by the generation mark
    '*' on every 3rd row — the reference's get_faker_generation input
    shape (faker_generator.py:56,91,137-154)."""
    inner = P.personal_info_sql(dialect, doc_rel)
    qc = (lambda c: f'"{c}"') if dialect == "duck" else (lambda c: f"`{c}`")
    cols = []
    for c in P.PERSONAL_INFO_COLS:
        if c in ("ssn", "phone"):
            cols.append(
                f"case when row_id % 3 = 0 then '*' else {qc(c)} end as {c}"
            )
        else:
            cols.append(f"{qc(c)} as {c}")
    return f"select row_id, {', '.join(cols)} from ({inner})"


@query(lambda: masked_select_sql(
    "duck",
    f"({_marked_pi_sql('duck', 'documents')})",
    P.PERSONAL_INFO_COLS,
    route_columns(_PI_PROFILE, P.PERSONAL_INFO_COLS, {"state"}),
    "row_id",
    mark="*",
    gender_col="first_name_gender",
))
def q_mask_marked(spark, sf):
    """Generation-mark mode: only cells equal to '*' are synthesized;
    every other cell (PII included) passes through unchanged
    (faker_generator.py:137-154). Routing from the verified static
    profile; oracle recomputes the same marked relation + masked SELECT
    in DuckDB."""
    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_mark")
    marked = spark.sql(_marked_pi_sql("spark", "nerpii_documents_mark"))
    prof = spark.createDataFrame(
        _PI_PROFILE, "col string, entity string, confidence double"
    )
    return mask_table(marked, prof, "row_id", mark="*")


@query("""
            select time_bucket(interval '10 minutes', ts) as window_start,
                   event_type, count(*) as n,
                   cast(sum(cast(round(value * 100) as bigint)) as bigint)
                     as sum_value_c
            from events group by 1, 2
        """)
def q_events_window(spark, sf):
    """Tumbling 10-minute windowed aggregation over the events feed (the
    same operator runs on readStream with a watermark — tests prove
    batch/stream equality)."""
    from nerpii_spark.streaming.windows import windowed_event_counts

    return windowed_event_counts(_load(spark, sf, "events"))


@query(
    "select event_id,"
    " cast(json_extract_string(props, '$.k') as bigint) as k"
    " from events"
)
def q_events_json(spark, sf):
    """JSON property extraction from the events props column."""
    e = _load(spark, sf, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    )


@query(lambda: EV.duck_asof_sql())
def q_events_asof(spark, sf):
    """As-of (attribution) join: each purchase gets the user's most
    recent prior click — running last-ignorenulls window over one
    user_id shuffle; the DuckDB oracle is the native ASOF JOIN, so the
    check cross-validates two independent implementations."""
    return EV.asof_join(_load(spark, sf, "events"))


@query("""
            with g as (
              select user_id, ts,
                     case when date_diff('second',
                              lag(ts) over (partition by user_id order by ts),
                              ts) > 1800 then 1 else 0 end as is_new
              from events
            ),
            s as (
              select user_id,
                     sum(is_new) over (partition by user_id order by ts
                         rows between unbounded preceding and current row)
                       as session_idx
              from g
            )
            select user_id, cast(max(session_idx) + 1 as bigint) as n_sessions,
                   count(*) as n_events
            from s group by 1
        """)
def q_sessionize(spark, sf):
    """Session windows over the events feed: a >30-minute gap starts a new
    session (lag + running sum window, then per-user rollup)."""
    e = _load(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts")
    gap = (
        F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    )
    new_sess = F.when(gap > 1800, 1).otherwise(0)
    sess = e.withColumn(
        "session_idx",
        F.sum(new_sess).over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    return sess.groupBy("user_id").agg(
        (F.max("session_idx") + 1).alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


@query("""
            -- gap > 1800 matches Spark session_window's MERGE-at-boundary
            -- rule: an event exactly 1800s after the previous one extends
            -- the session (measured in tests/test_extras.py
            -- test_session_window_exact_gap_merges)
            with g as (
              select user_id, ts,
                     case when date_diff('second',
                              lag(ts) over (partition by user_id order by ts),
                              ts) > 1800 then 1 else 0 end as is_new
              from events
            ),
            s as (
              select user_id, ts,
                     sum(is_new) over (partition by user_id order by ts
                         rows between unbounded preceding and current row)
                       as session_idx
              from g
            )
            select user_id,
                   min(ts) as session_start,
                   max(ts) + interval '30 minutes' as session_end,
                   count(*) as n_events
            from s group by user_id, session_idx
        """)
def q_session_window(spark, sf):
    """Native session_window (gap-close 30 min) — the built-in streaming
    session operator run in batch mode; oracle reconstructs the same
    sessions with the lag/cumsum trick and end = max(ts) + gap."""
    e = _load(spark, sf, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


@query("""
            -- gap > 1800 = Spark session_window's merge-at-boundary rule;
            -- the inclusive end in the containment is safe because no
            -- event can sit at a FINAL session_end (it would have merged)
            with g as (
              select user_id, ts,
                     case when date_diff('second',
                              lag(ts) over (partition by user_id order by ts),
                              ts) > 1800 then 1 else 0 end as is_new
              from events
            ),
            s as (
              select user_id, ts,
                     sum(is_new) over (partition by user_id order by ts
                         rows between unbounded preceding and current row)
                       as session_idx
              from g
            ),
            sess as (
              select user_id,
                     min(ts) as session_start,
                     max(ts) + interval '30 minutes' as session_end
              from s group by user_id, session_idx
            )
            select e.event_id as event_id, e.user_id as user_id,
                   sess.session_start as session_start,
                   sess.session_end as session_end
            from events e join sess
              on e.user_id = sess.user_id
             and e.ts >= sess.session_start and e.ts <= sess.session_end
        """)
def q_interval_join(spark, sf):
    """Banded interval-containment join: every event is matched to the
    session window containing it — an equi-join on (user_id, hour
    bucket) with an exact post-filter, never a per-user nested loop.
    Oracle = inequality join over lag/cumsum sessions (independent
    algorithm on both axes). Boundary audit (ADVICE r2): Spark
    session_window MERGES an event exactly gap seconds after the
    previous one (measured — test_session_window_exact_gap_merges), so
    the oracle's is_new rule is gap > 1800, and the inclusive `ts <=
    session_end` containment cannot double-match: an event at a final
    session_end would have merged into that session."""
    e = _load(spark, sf, "events")
    sess = (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
        )
    )
    return EV.interval_join(e, sess).select(
        "event_id", "user_id", "session_start", "session_end"
    )


@query(lambda: LAY.zorder_stats_sql("duck"))
def q_zorder_stats(spark, sf):
    """Z-order (Morton) layout key over (event-minute, user_id) +
    per-bucket min/max pruning stats: every 1/256th of the key range
    covers <= 1/16 of EACH dimension, the property that lets parquet
    footer min/max prune on both dimensions at once (operators/layout.py;
    the write path is one repartitionByRange(z) — range bounds from
    reservoir-sampled z, so dimension skew cannot overload a writer)."""
    return LAY.zorder_stats(_load(spark, sf, "events"))


@query(lambda: EV.duck_percentiles_sql())
def q_percentiles(spark, sf):
    """Exact per-type value percentiles via the map-side value
    histogram — reducer load bounded by value cardinality, not row
    count; integer rank arithmetic, bit-exact oracle."""
    return EV.grouped_percentiles(_load(spark, sf, "events"))


@query("""
            select l_returnflag, l_linestatus, count(*) as n_rows,
                   cast(sum(cast(round(l_quantity * 100) as bigint)) as bigint)
                     as sum_qty_c
            from lineitem group by rollup (l_returnflag, l_linestatus)
        """)
def q_rollup_lineitem(spark, sf):
    """ROLLUP aggregation (grand/sub-total rows) over lineitem."""
    li = _load(spark, sf, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.round(F.col("l_quantity") * 100).cast("bigint")).alias("sum_qty_c"),
    )


@query("""
            select l_returnflag, l_linestatus, count(*) as n_rows,
                   cast(sum(cast(round(l_quantity * 100) as bigint)) as bigint)
                     as sum_qty_c
            from lineitem group by cube (l_returnflag, l_linestatus)
        """)
def q_cube_lineitem(spark, sf):
    """CUBE aggregation (all grouping-set combinations) over lineitem —
    completes the grouping-sets family next to q_rollup_lineitem. One
    shuffle; Spark expands the sets map-side so partials still combine."""
    li = _load(spark, sf, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.round(F.col("l_quantity") * 100).cast("bigint")).alias("sum_qty_c"),
    )


# fixed pivot column list: passing explicit values keeps the pivot a single
# aggregation pass — Spark's values-less pivot first runs a driver-side
# distinct scan over the whole table to discover the columns
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query(lambda: (
    "select user_id, "
    + ", ".join(
        f"count(*) filter (where event_type = '{t}') as {t}"
        for t in EVENT_TYPES
    )
    + " from events group by user_id"
))
def q_pivot_events(spark, sf):
    """Per-user event-type pivot (long -> wide counts) as ONE
    conditional aggregation. Deliberately not DataFrame.pivot(): even
    with explicit values its executed plan is TWO exchanges (a
    (user, type) pre-agg, then a pivotfirst re-agg on user); the
    count(when(...)) form is a single map-side-combined shuffle on
    user_id — half the exchanges for identical output (locked in
    tests/test_plans.py)."""
    e = _load(spark, sf, "events")
    return e.groupBy("user_id").agg(
        *[
            F.count(F.when(F.col("event_type") == t, 1)).alias(t)
            for t in EVENT_TYPES
        ]
    )


@query("""
            select event_id, user_id,
                   cast(sum(cast(round(value * 100) as bigint)) over w
                        as bigint) as roll_sum_c,
                   cast(count(*) over w as bigint) as roll_n
            from events
            window w as (partition by user_id order by ts, event_id
                         rows between 2 preceding and current row)
        """)
def q_events_rolling(spark, sf):
    """Per-user rolling 3-event moving sum (ROWS frame): one user_id
    shuffle + per-partition sort; the bounded frame is computed
    incrementally during the window pass (state = 3 rows). Total order
    (ts, event_id) makes the frame — and the oracle — deterministic."""
    e = _load(spark, sf, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, W.currentRow)
    )
    value_c = F.round(F.col("value") * 100).cast("bigint")
    return e.select(
        "event_id",
        "user_id",
        F.sum(value_c).over(w).alias("roll_sum_c"),
        F.count("*").over(w).alias("roll_n"),
    )


@query(lambda: f"""
            with train as (
              select doc_id, lang from documents
              where {sql_h1('doc_id', 23)} % 1000 >= 10
            ),
            emb as (select vec_id as e_id from embeddings
                    where vec_id % 5 <> 0)
            select case
                     when doc_id is not null and e_id is not null
                       then 'covered'
                     when doc_id is not null then 'missing_embedding'
                     else 'orphan_embedding' end as status,
                   lang, count(*) as n
            from train full outer join emb on train.doc_id = emb.e_id
            group by 1, 2
        """)
def q_embed_coverage(spark, sf):
    """Embedding-coverage audit (FULL OUTER reconciliation): the
    training split (docs outside the test holdout) against the
    embeddings actually computed (an embedding job that skipped shard
    vec_id%5=0, planted deterministically) -> per-(status, lang) counts
    of covered / missing_embedding / orphan_embedding. The one place a
    full outer join IS the right plan: both sides are independently
    filtered sets and every row of each must be classified; the join key
    is unique on both sides, so the output is row-bounded by the union."""
    d = _load(spark, sf, "documents")
    train = d.where(
        F.expr(f"{sql_h1('doc_id', 23)} % 1000") >= 10
    ).select("doc_id", "lang")
    emb = (
        _load(spark, sf, "embeddings")
        .where(F.col("vec_id") % 5 != 0)
        .select(F.col("vec_id").alias("e_id"))
    )
    j = train.join(emb, train.doc_id == emb.e_id, "full_outer")
    status = (
        F.when(F.col("doc_id").isNotNull() & F.col("e_id").isNotNull(),
               "covered")
        .when(F.col("doc_id").isNotNull(), "missing_embedding")
        .otherwise("orphan_embedding")
    )
    return (
        j.select(status.alias("status"), F.col("lang"))
        .groupBy("status", "lang")
        .agg(F.count("*").alias("n"))
    )


@query(lambda: f"""
            select doc_id, lang,
                   case when {sql_h1('doc_id', 23)} % 1000 < 10 then 'test'
                        when {sql_h1('doc_id', 23)} % 1000 < 20 then 'val'
                        else 'train' end as split
            from documents
        """)
def q_split_assign(spark, sf):
    """Deterministic train/val/test split assignment (training-data
    prep): a seeded portable-hash range per doc keeps the split a pure
    function of doc_id — join-free, resumable, identical on re-run, and
    stratified in expectation within every language. 1% test, 1% val."""
    d = _load(spark, sf, "documents")
    r = F.expr(f"{sql_h1('doc_id', 23)} % 1000")
    return d.select(
        "doc_id",
        "lang",
        F.when(r < 10, F.lit("test"))
        .when(r < 20, F.lit("val"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


@query(lambda: masked_select_sql(
    "duck",
    f"({P.personal_info_sql('duck')})",
    P.PERSONAL_INFO_COLS,
    route_columns(_PI_PROFILE, P.PERSONAL_INFO_COLS, {"state"}),
    "row_id",
    gender_col="first_name_gender",
))
def q_mask_personal_info(spark, sf):
    """S5: full FakerGenerator-parity masking of the planted personal_info
    table; keyed deterministic synthetics, so the oracle recomputes the
    exact masked values in DuckDB."""
    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_mask")
    pi = spark.sql(P.personal_info_sql("spark", doc_rel="nerpii_documents_mask"))
    prof = column_profile(pi)
    return mask_table(pi, prof, "row_id")


@query(lambda: duck_redact_text_sql(_PAGES, _GM))
def q_redact_text(spark, sf):
    """Corpus-level PII scrub: every detected mention replaced by its
    typed placeholder, longest-first deterministic order; Catalyst fold,
    zero Python; oracle replays the ordered replacement via an
    independent recursive-CTE mechanism."""
    p = _pipeline(spark, sf)
    return redact_text(p["clean"], p["mentions"])


@query(lambda: (
    lambda se: (
        f"select doc_id, {se[0]} as subj, pred, {se[1]} as obj"
        f" from ({P.golden_triples_sql('duck')})"
    )
)(masked_triples_exprs("duck")))
def q_mask_triples(spark, sf):
    """S5 masked-triple variant: person subjects and email/phone objects
    replaced by surface-keyed synthetics (stable join keys)."""
    t = _pipeline(spark, sf)["triples"]
    return mask_triples(t).select("doc_id", "subj", "pred", "obj")


# ---------------------------------------------------------------------------
# training-data pipeline extras (dedup / similarity / text / multimodal)
# ---------------------------------------------------------------------------


def _dup_docs(spark, sf):
    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_dup")
    return spark.sql(D.dup_docs_sql("spark", doc_rel="nerpii_documents_dup"))


# curation per-mille keep rates: en 600, every other lang 900
CURATION_SALT = 11


@query(lambda: (
    lambda g, ws: f"""
            with surv as (
              select keep_id from ({D.duck_near_dedup_survivors_sql(
                  f"select id_a, id_b from ({_EXACT_JACCARD})"
              )})
            ),
            dupd as ({_DUP})
            select d.doc_id as doc_id, d.lang as lang,
                   cast({ws} as bigint) as ws_tokens
            from dupd d join surv s on d.doc_id = s.keep_id
            where {g['keep']}
              and {sql_h1('d.doc_id', CURATION_SALT)} % 1000 <
                  (case when d.lang = 'en' then 600 else 900 end)
            """
)(TS.gopher_sql("duck", "d.text"), TS.token_count_sql("duck", "d.text")[0]))
def q_curation(spark, sf):
    """The training-data curation pipeline END TO END as one declarative
    dataflow: near-dedup survivors (MinHash-LSH -> CC -> min-id) ->
    Gopher quality gates -> per-language stratified hash sample ->
    token-counted manifest (doc_id, lang, ws_tokens). Every stage is an
    operator certified on its own elsewhere; this query certifies their
    COMPOSITION against an oracle that recomputes the full cascade from
    exact ground truth (true-Jaccard clusters, not MinHash). No stage
    materializes: Catalyst fuses the gates and the sample into the
    survivor join's output pass."""
    dup = _dup_docs(spark, sf)
    surv = D.near_dedup_survivors(dup).select(
        F.col("keep_id").alias("doc_id")
    )
    kept = dup.join(surv, "doc_id", "left_semi")
    g = TS.gopher_sql("spark", "text")
    ws, _ = TS.token_count_sql("spark", "text")
    rate = F.when(F.col("lang") == "en", F.lit(600)).otherwise(F.lit(900))
    return (
        kept.where(F.expr(g["keep"]))
        .where(F.expr(f"{sql_h1('doc_id', CURATION_SALT)} % 1000") < rate)
        .select(
            "doc_id", "lang", F.expr(ws).cast("bigint").alias("ws_tokens")
        )
    )


@query(lambda: (
    f"select md5(text) as content_hash, count(*) as n_copies,"
    f" min(doc_id) as keep_id from ({_DUP}) group by 1"
))
def q_dedup_exact(spark, sf):
    """Exact dedup: content-hash groupBy over the planted dup corpus."""
    return D.exact_dedup_groups(_dup_docs(spark, sf))


@query(lambda: D.duck_span_dedup_sql(_DUP), bench=True)
def q_dedup_spans(spark, sf):
    """Exact duplicated-span stats (Lee et al. ExactSubstr, distributed):
    w-token window fingerprints, canonical-occurrence rule, island-merged
    coverage — shuffles only (md5, bigint) pairs, never text."""
    return D.span_dedup_stats(_dup_docs(spark, sf))


@query(lambda: (
    f"select id_a, id_b from ({_EXACT_JACCARD})"
), bench=True)
def q_dedup_minhash(spark, sf):
    """MinHash-LSH near-dup pairs; oracle = planted ground-truth pairs,
    so a match certifies dedup P/R = 1.0."""
    return D.minhash_dup_pairs(_dup_docs(spark, sf))


@query(_EXACT_JACCARD)
def q_dedup_ngram(spark, sf):
    """Exact n-gram Jaccard pairs with integer intersection/union counts."""
    return D.ngram_jaccard_pairs(_dup_docs(spark, sf))


@query(lambda: WG.duck_modularity_sql(_PAGES))
def q_modularity(spark, sf):
    """Newman modularity of the LPA partition (webgraph.modularity):
    integer sufficient statistics + q_e6 via the verified
    truncate-toward-zero div pair; oracle composes the LPA chained-CTE
    replay with the same statistic over the planted links — partition
    AND score certified together."""
    return WG.modularity(_pipeline(spark, sf)["pages"])


@query(lambda: WG.duck_scd2_urls_sql(P.crawl_sql("duck")))
def q_scd2_urls(spark, sf):
    """SCD2 validity intervals per canonical URL (webgraph.scd2_urls):
    the slowly-changing-dimension spine facts join as-of — lead +
    row_number share ONE window spec (one Window operator, one
    exchange) over the canonical collapse of the raw fetch log."""
    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_scd")
    crawl = spark.sql(P.crawl_sql("spark", doc_rel="nerpii_documents_scd"))
    return WG.scd2_urls(crawl)


@query(lambda: WG.duck_host_quota_sample_sql(_PAGES))
def q_host_quota(spark, sf):
    """Anti-domination host cap (webgraph.host_quota_sample): keep at
    most k docs per host by portable hash order — the C4/RefinedWeb
    per-domain diversity cap; two-phase salted top-k so a mega-host
    never lands on one reducer; oracle = the single-window form."""
    return WG.host_quota_sample(_pipeline(spark, sf)["pages"])


@query(lambda: L.duck_entity_timeline_sql(
    P.golden_resolved_persons_sql(), P.BASE_EPOCH
))
def q_entity_timeline(spark, sf):
    """Entity lifecycle (link.entity_timeline): first/last capture time
    + breadth per canonical entity — one doc_id join + one
    map-side-combined agg; oracle folds the planted clock
    (warc_ts = BASE_EPOCH + doc_id) over golden resolved persons,
    certifying linking, the ts join and the epoch conversion."""
    p = _pipeline(spark, sf)
    m = p["mentions"].where(F.col("entity_type") == "PERSON")
    resolved = L.resolve_mentions(m, entity_members(m)).select(
        "doc_id", "canonical"
    )
    return L.entity_timeline(resolved, p["pages"])


@query(lambda: duck_triple_support_sql(_GT, _PAGES), bench=True)
def q_triple_support(spark, sf):
    """Provenance-weighted triple confidence (extract.triple_support):
    distinct-doc and distinct-HOST corroboration per fact — one expand
    + map-side-combined agg on the triple key; oracle = the same
    counts over planted golden triples joined to planted urls."""
    return triple_support(_pipeline(spark, sf)["triples"])


@query(lambda: L.duck_surface_type_vote_sql(_GM), bench=True)
def q_type_vote(spark, sf):
    """Cross-document type voting per mention surface
    (link.surface_type_vote): majority entity_type with deterministic
    tie-break — two chained map-side-combined aggs, no window; the
    oracle votes over the PLANTED golden mentions, so a match
    certifies detection + vote end-to-end."""
    return L.surface_type_vote(_pipeline(spark, sf)["mentions"])


@query(lambda: duck_triple_typecheck_sql(_GT, _GM), bench=True)
def q_triple_typecheck(spark, sf):
    """Ontology domain/range validation (extract.triple_typecheck):
    per-predicate counts of triples whose subject/object corpus-majority
    type (surface_type_vote) disagrees with the predicate's declared
    domain/range (the RULES schema, broadcast). Two vocabulary-keyed
    lookup joins + one map-side-combined pred rollup; the oracle
    recomputes vote + check over planted golden triples and mentions."""
    p = _pipeline(spark, sf)
    return triple_typecheck(p["triples"], p["mentions"])


@query(lambda: WG.duck_host_components_sql(_PAGES), bench=True)
def q_cc_bigstar(spark, sf):
    """Host-graph connected components (webgraph.host_components), kept
    under its own name as the large-star / small-star entry of the
    contract: link.connected_components (Kiveris et al. 2014) reaches
    the component minima in O(log n) shuffle rounds regardless of graph
    DIAMETER and raises on an exhausted round budget. Oracle = the same
    independent recursive-CTE true WCC q_host_components is graded on."""
    return WG.host_components(_pipeline(spark, sf)["pages"])


@query(lambda: TS.duck_collocations_sql(), bench=True)
def q_collocations(spark, sf):
    """Dice-scored collocation top-k over the documents corpus
    (textstats.collocations_topk): map-side-combined unigram + bigram
    counts, pre-projected token arrays (the no-CSE HOF rule), integer
    Dice in [0, 1e6] at any corpus size (the PMI N^2 overflow argument
    lives in the docstring), two-phase salted top-k window."""
    return TS.collocations_topk(_load(spark, sf, "documents"))


@query(lambda: TS.duck_weighted_sample_sql(), bench=True)
def q_sample_weighted(spark, sf):
    """Efraimidis-Spirakis weighted reservoir: exactly k docs per lang,
    inclusion probability proportional to token count (textstats.
    weighted_sample_topk) — keys are -log2(hash-uniform) div weight in
    fixed-point integer log2 (functions/intmath, codegen digit
    recurrence, zero Python), two-phase salted per-group windows;
    oracle replays hash, log and floor-div bit-for-bit."""
    return TS.weighted_sample_topk(_load(spark, sf, "documents"))


@query(lambda: SIM.duck_hard_negatives_sql("vec_id < 32", k=3), bench=True)
def q_hard_negatives(spark, sf):
    """Semi-hard negative mining for contrastive training
    (similarity.hard_negatives, the FaceNet band rule corpus-side):
    per anchor the top-k neighbors with tau_min <= cos < tau_dup —
    above the band is a near-dup (a positive in disguise), below it
    the loss learns nothing. Broadcast anchor batch, band filter
    BEFORE the rank window; quantized cosine so thresholds and
    ranking replay exactly in the oracle."""
    return SIM.hard_negatives(
        _load(spark, sf, "embeddings"), "vec_id < 32", k=3
    )


@query(lambda: duck_dp_noisy_counts_sql(
    f"""
            with pg as ({_PAGES}),
            pm as (select doc_id, count(*) as n_m from ({_GM}) group by 1)
            select {TS.domain_expr('duck', 'url')} as domain,
                   cast(sum(coalesce(pm.n_m, 0)) as bigint) as n_mentions
            from pg left join pm using (doc_id)
            group by 1
            """,
    "domain",
    "n_mentions",
), bench=True)
def q_dp_counts(spark, sf):
    """Noisy per-domain PII-mention release with discrete-Laplace
    (two-sided geometric) noise (profile.dp_noisy_counts, the
    Ghosh-Roughgarden-Sundararajan mechanism with seeded portable-hash
    draws — the repo's determinism convention, oracle-replayable):
    geometric inversion = e_fp div A_FP over the intmath fixed-point
    log2, ~24 chained codegen projections on the already-aggregated
    cell table, zero Python."""
    from nerpii_spark.operators.profile import dp_noisy_counts

    p = _pipeline(spark, sf)
    per_doc = p["mentions"].groupBy("doc_id").agg(
        F.count("*").alias("n_m")
    )
    counts = (
        p["clean"]
        .select(
            "doc_id",
            F.expr(TS.domain_expr("spark", "url")).alias("domain"),
        )
        .join(per_doc, "doc_id", "left")
        .groupBy("domain")
        .agg(
            F.sum(F.coalesce(F.col("n_m"), F.lit(0)))
            .cast("bigint")
            .alias("n_mentions")
        )
    )
    return dp_noisy_counts(counts, "domain", "n_mentions")


@query(lambda: duck_pagerank_weighted_sql(
    f"select src_host as src, dst_host as dst, n_links as w"
    f" from ({WG.duck_web_graph_sql(_PAGES)})",
    n_iter=3,
), bench=True)
def q_pagerank_weighted(spark, sf):
    """WEIGHTED host PageRank (extract.pagerank_weighted): rank flows
    in proportion to link multiplicity n_links — the endorsement-volume
    variant next to q_host_pagerank's collapsed-edge form. Weights
    normalize to integer millionth-shares ONCE before the loop (the
    documented overflow argument: rank * 1e6 stays in int64 at any
    weight distribution where rank * w does not); chained-CTE oracle
    replays normalization + iteration bit-for-bit over planted links."""
    from nerpii_spark.operators.extract import pagerank_weighted

    edges = WG.web_graph(_pipeline(spark, sf)["pages"]).select(
        F.col("src_host").alias("src"),
        F.col("dst_host").alias("dst"),
        F.col("n_links").alias("w"),
    )
    return pagerank_weighted(edges, n_iter=3)


@query(lambda: P.golden_triples_canonical_sql(_GT), bench=True)
def q_triples_canonical(spark, sf):
    """The canonicalized KG export — the north-star deliverable shape:
    PERSON-subject triples with the subject replaced by its canonical
    entity (S4 linking), deduplicated with assertion counts ->
    (subj_canonical, pred, obj, n_assertions). Scale shape: the
    surface->canonical members map broadcasts into the triple stream
    (the q_entity_summary convention — corpus-sized sides never shuffle
    to meet each other; link.gated_broadcast COUNT-GATES the hint, so
    past its row threshold this flips to a shuffle hash join, same
    plan shape otherwise); the final triple-key agg
    map-side combines. Oracle recomputes linking ground truth + planted
    triples, so canonicalization P/R = 1.0 rides along."""
    p = _pipeline(spark, sf)
    persons = p["mentions"].where(F.col("entity_type") == "PERSON")
    norm_map = entity_members(persons).select("norm", "canonical")
    t = p["triples"].select(
        F.expr("lower(regexp_replace(trim(subj), '\\\\s+', ' '))").alias(
            "norm"
        ),
        "pred",
        "obj",
    )
    return (
        t.join(L.gated_broadcast(norm_map), "norm")
        .groupBy(
            F.col("canonical").alias("subj_canonical"), "pred", "obj"
        )
        .agg(F.count("*").cast("bigint").alias("n_assertions"))
    )


@query(lambda: f"""
            with surv as ({D.duck_near_dedup_survivors_sql(
                f"select id_a, id_b from ({_EXACT_JACCARD})")})
            select cast(length(to_base(n_members, 2)) - 1 as bigint)
                     as size_bucket,
                   cast(count(*) as bigint) as n_clusters,
                   cast(sum(n_members) as bigint) as n_docs,
                   cast(max(n_members) as bigint) as max_size
            from surv group by 1
        """, bench=True)
def q_dedup_cluster_stats(spark, sf):
    """Near-dup cluster-size audit over the MinHash->CC survivors: per
    log2 size bucket (bit-length, the degree_histogram idiom), how many
    clusters and how many member docs -> (size_bucket, n_clusters,
    n_docs, max_size). The curation report that decides whether
    near-dedup is removing boilerplate families (head of the histogram)
    or eating the corpus (mass in big buckets); one map-side-combined
    agg over the cluster table (already one row per cluster)."""
    return D.cluster_size_stats(
        D.near_dedup_survivors(_dup_docs(spark, sf))
    )


@query("""
            select c_name, o_orderkey,
                   cast(round(o_totalprice * 100) as bigint) as totalprice_c,
                   total_qty
            from orders
            join (select l_orderkey,
                         cast(sum(l_quantity) as bigint) as total_qty
                  from lineitem group by 1
                  having cast(sum(l_quantity) as bigint) > 300) big
              on big.l_orderkey = o_orderkey
            join customer on c_custkey = o_custkey
            order by totalprice_c desc, o_orderkey asc
            limit 10
        """, bench=True)
def q_tpch_bigorders(spark, sf):
    """TPC-H Q18 shape (large-volume customers): lineitem groupBy
    orderkey HAVING sum(qty) > 300, joined back to orders + customer,
    deterministic top-10 by order value. Plan notes: the having-agg
    map-side combines lineitem down to ~1e-3 of its rows BEFORE any
    join; AQE sees the tiny filtered agg at runtime and converts the
    orders join to broadcast (the static planner cannot know this —
    the canonical AQE showcase); customer broadcasts statically;
    price quantized to bigint cents."""
    li = _load(spark, sf, "lineitem")
    o = _load(spark, sf, "orders")
    c = _load(spark, sf, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.expr("cast(sum(l_quantity) as bigint)").alias("total_qty"))
        .where(F.col("total_qty") > 300)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.expr("cast(round(o_totalprice * 100) as bigint)").alias(
                "totalprice_c"
            ),
            "total_qty",
        )
        .orderBy(F.desc("totalprice_c"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(lambda: D.duck_quality_survivors_sql(
    f"select id_a, id_b from ({_EXACT_JACCARD})"
), bench=True)
def q_quality_survivors(spark, sf):
    """Quality-aware near-dedup survivors (dedup.quality_survivors):
    per duplicate cluster keep the max-classifier-margin member (tie
    min id) — the C4/CCNet keep-best policy replacing min-id; one
    max_by agg, no per-cluster window; oracle recomputes clusters from
    exact-Jaccard truth + the classifier twin + row_number."""
    return D.quality_survivors(_dup_docs(spark, sf))


@query(lambda: D.duck_containment_pairs_sql(_DUP), bench=True)
def q_dedup_containment(spark, sf):
    """Min-side shingle containment pairs (dedup.containment_pairs):
    the doc-in-doc / quote-inclusion overlap Jaccard misses — same
    checkpointed shingle pass and df-capped posting join as ngram,
    integer cont_milli verification; oracle = brute-force containment
    over ALL pairs (no blocking), certifying candidate completeness."""
    return D.containment_pairs(_dup_docs(spark, sf))


@query(_EXACT_JACCARD)
def q_dedup_prefix(spark, sf):
    """Exact Jaccard pairs via PPJoin-style prefix filtering — the
    cap-free exact near-dup join whose candidate completeness is a
    theorem (dedup.prefix_filter_pairs); oracle = the same brute-force
    exact-Jaccard truth as minhash/ngram, so all three strategies are
    certified against one ground truth."""
    return D.prefix_filter_pairs(_dup_docs(spark, sf))


@query(lambda: D.duck_near_dedup_survivors_sql(
    f"select id_a, id_b from ({_EXACT_JACCARD})"
))
def q_dedup_survivors(spark, sf):
    """Full near-dedup materialization: MinHash pairs -> connected
    components -> min-id survivor per cluster; oracle recomputes the
    clusters from exact-Jaccard ground truth with a recursive CTE."""
    return D.near_dedup_survivors(_dup_docs(spark, sf))


@query(lambda: (
    f"select doc_id, {D.simhash_sql_duck('text')} as simhash"
    f" from ({_DUP})"
))
def q_simhash(spark, sf):
    """SimHash signatures (Arrow-batched pandas UDF); oracle recomputes
    the 32-bit signature bit-for-bit in DuckDB SQL."""
    return D.simhash_signatures(_dup_docs(spark, sf))


# exact ground truth: hamming <= 3; the 4-block permutation join is
# lossless for hamming <= n_blocks - 1 (pigeonhole), so the Spark
# result must equal this exactly
@query(lambda: f"""
            with s as (select doc_id, {D.simhash_sql_duck('text')} as h
                       from ({_DUP}))
            select a.doc_id as id_a, b.doc_id as id_b
            from s a join s b on a.doc_id < b.doc_id
            where bit_count(xor(a.h, b.h)) <= 3
        """)
def q_dedup_simhash(spark, sf):
    """SimHash near-dup pairs via block-permutation hamming join."""
    return D.simhash_dup_pairs(D.simhash_signatures(_dup_docs(spark, sf)))


@query(lambda: SIM.duck_cosine_topk_sql("vec_id < 32", k=3))
def q_embed_topk(spark, sf):
    """Brute-force cosine top-3 for query vectors (vec_id < 32)."""
    return SIM.cosine_topk(_load(spark, sf, "embeddings"), "vec_id < 32", k=3)


@query(lambda: SIM.duck_hyperplane_lsh_topk_sql(
    "vec_id < 32", k=3
))
def q_embed_topk_lsh(spark, sf):
    """ANN top-3 via random-hyperplane sign bands. Approximate vs brute
    force (recall gated in pytest) but DETERMINISTIC: the plane
    dot-products are exact int64 (quantized vectors x integer LCG
    weights), so the DuckDB oracle replays the identical candidate set
    and the 6-dp re-rank cosine — full value-hash check."""
    return SIM.hyperplane_lsh_topk(
        _load(spark, sf, "embeddings"), "vec_id < 32", k=3
    )


@query(lambda: SIM.duck_ivf_topk_sql("vec_id < 32", k=3))
def q_embed_topk_ivf(spark, sf):
    """ANN top-3 via IVF coarse quantization: integer-Lloyd centroids
    trained on a deterministic hash-sample (numpy int64 Arrow-batch
    assignment — exact, no float) + n_probe nearest-cell search +
    quantized-cosine re-rank. Approximate vs brute force (recall gated
    in pytest) but bit-replayable: the DuckDB oracle chains the Lloyd
    CTEs and matches hash-for-hash."""
    return SIM.ivf_topk(_load(spark, sf, "embeddings"), "vec_id < 32", k=3)


def _dup_embs(spark, sf):
    embs = _load(spark, sf, "embeddings")
    embs.createOrReplaceTempView("nerpii_embeddings_dup")
    return spark.sql(SIM.dup_embs_sql("spark", emb_rel="nerpii_embeddings_dup"))


@query(lambda: SIM.duck_embedding_dup_pairs_sql())
def q_embed_dup_pairs(spark, sf):
    """Embedding near-dup pairs over the planted dup-emb corpus: LSH
    sign-band candidates + exact cosine verify (the scale path — no
    cartesian in the plan); oracle = exact brute force in DuckDB, so a
    hash match certifies LSH recall AND precision = 1.0."""
    return SIM.embedding_dup_pairs(
        _dup_embs(spark, sf), tau=SIM.DUP_TAU, method="lsh"
    )


@query(lambda: SIM.duck_embedding_dup_survivors_sql())
def q_embed_dup_survivors(spark, sf):
    """Embedding-level near-dedup end to end: LSH-verified pairs -> CC
    fixpoint -> min-id survivor per cluster; oracle = recursive-CTE CC
    over the brute-force pair ground truth."""
    return SIM.embedding_dup_survivors(_dup_embs(spark, sf), tau=SIM.DUP_TAU)


@query(lambda: _CL.duck_kcenter_sql())
def q_embed_kcenter(spark, sf):
    """Greedy k-center diversity selection (cluster.kcenter_select):
    the coreset primitive next to SemDeDup k-means — one running-dmin
    column updated against the newest center only, ONE max_by row to
    the driver per round (BPE/Lloyd discipline), exact int64 L2 so the
    chained-CTE oracle replays every pick bit-for-bit."""
    from nerpii_spark.operators import cluster as CL

    return CL.kcenter_select(_load(spark, sf, "embeddings"))


@query(lambda: _CL.duck_kmeans_sql())
def q_kmeans(spark, sf):
    """SemDeDup-style embedding clustering: 3 exact-integer Lloyd
    iterations from a deterministic init; per iteration one Arrow-batch
    numpy assignment pass + one map-side-combined K x d agg (only K x d
    numbers reach the driver). All-bigint arithmetic, so the chained-CTE
    DuckDB oracle replaying the full iteration matches bit-for-bit —
    certifying the distributed iteration itself (pagerank pattern)."""
    from nerpii_spark.operators import cluster as CL

    return CL.kmeans_assign(_load(spark, sf, "embeddings"))


@query(lambda: BPE.duck_bpe_merges_sql(
    docs_rel=f"({P.pages_sql('duck')})"
), bench=True)
def q_bpe_merges(spark, sf):
    """Distributed BPE tokenizer training (operators/bpe.py): corpus
    collapses to the vocabulary once; each merge iteration = pair
    explode + map-side-combined weighted count + one argmax row to the
    driver + a zero-shuffle Catalyst-fold rewrite. Oracle replays the
    iterations with an INDEPENDENT merge algorithm (recursive-CTE
    replace-first), cross-validating the semantics."""
    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_bpe")
    pg = spark.sql(P.pages_sql("spark", doc_rel="nerpii_documents_bpe"))
    return BPE.bpe_merges(pg)


@query(lambda: BPE.duck_bpe_encode_sql(
    docs_rel=f"({P.pages_sql('duck')})"
))
def q_bpe_encode(spark, sf):
    """Tokenizer APPLY: encode the pages corpus with the merges trained
    on it (q_bpe_merges) — vocabulary-level merge folds + broadcast
    word->tokens join + one doc-keyed reassembly. tokens_str carries the
    full token stream, so the oracle hash certifies the encoding itself;
    the oracle re-trains AND re-encodes with independent algorithms
    (recursive replace-first splice vs Catalyst fold)."""
    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_bpe_enc")
    pg = spark.sql(P.pages_sql("spark", doc_rel="nerpii_documents_bpe_enc"))
    return BPE.bpe_encode(pg)


@query(lambda: SK.hll_distinct_sql(
    "duck", doc_rel=f"({P.pages_sql('duck')})"
))
def q_distinct_hll(spark, sf):
    """Per-language vocabulary-size estimate via the portable
    64-register HLL sketch (operators/sketch.py): the token stream is
    never shuffled by token — one groupBy(lang, register) MAX whose
    map-side partial state is bounded at 64 rows per lang per task; the
    sketch is mergeable across corpus shards. Every bit derives from the
    frozen hash chain, so the DuckDB oracle replays the sketch
    bit-for-bit (certifying the distributed computation); estimate
    accuracy vs the exact distinct count is gated in pytest."""
    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_hll")
    pg = spark.sql(P.pages_sql("spark", doc_rel="nerpii_documents_hll"))
    return SK.hll_distinct(pg)


@query(lambda: SK.duck_cms_counts_sql(
    doc_rel=f"({P.pages_sql('duck')})"
))
def q_heavy_hitters_cms(spark, sf):
    """Count-Min heavy-hitter estimates (operators/sketch.py): token
    counts without a token-keyed shuffle — ONE groupBy over 4x256
    mergeable counters (bounded map-side state, shards combine by +);
    probe lookups are a broadcast join of the 1024-row matrix. Oracle
    replays counters + lookups bit-for-bit; the CMS overestimate bound
    vs exact counts is gated in pytest."""
    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_cms")
    pg = spark.sql(P.pages_sql("spark", doc_rel="nerpii_documents_cms"))
    return SK.cms_counts(pg)


@query(lambda: (
    f"select doc_id, {TS.lang_id_sql('duck', 'text')} as lang_pred"
    " from documents"
))
def q_lang_id(spark, sf):
    return TS.lang_id(_load(spark, sf, "documents"))


@query(lambda: (
    f"select doc_id, {_WS} as ws_tokens, {_BPE} as bpe_tokens"
    " from documents"
))
def q_token_counts(spark, sf):
    return TS.token_counts(_load(spark, sf, "documents"))


@query(lambda: f"select doc_id, {_QUAL_COLS} from documents")
def q_quality(spark, sf):
    return TS.quality_scores(_load(spark, sf, "documents"))


@query(lambda: (
    f"select doc_id, {TS.fingerprint_sql('duck', 'text')} as fingerprint"
    " from documents"
))
def q_fingerprint(spark, sf):
    return TS.fingerprints(_load(spark, sf, "documents"))


@query(lambda: (
    lambda g: "select doc_id, "
    + ", ".join(f"{e} as {name}" for name, e in g.items())
    + " from documents"
)(TS.gopher_sql("duck", "text")))
def q_quality_gopher(spark, sf):
    """Gopher/C4-style quality gates (word-count band, mean word length,
    unique-word ratio, alphabetic ratio, max word length) + combined
    keep flag, all Catalyst scalar exprs with an exact DuckDB twin."""
    return TS.gopher_quality(_load(spark, sf, "documents"))


@query(lambda: TS.duck_lm_surprisal_sql(), bench=True)
def q_quality_lm(spark, sf):
    """Unigram-LM surprisal scoring (CCNet-style perplexity filtering):
    corpus-trained token surprisal quantized to integer log2 bits, so
    both engines agree bit-for-bit; head vocab broadcast, token stream
    never shuffled by token."""
    return TS.lm_surprisal(_load(spark, sf, "documents"))


@query(lambda: f"""
            select {TS.domain_expr('duck', 'url')} as domain,
                   count(*) as n_docs,
                   cast(sum(length(text)) as bigint) as total_chars
            from ({P.pages_sql('duck')}) group by 1
        """)
def q_domain_stats(spark, sf):
    """Per-domain corpus rollup over the cleaned pages (doc count +
    total text bytes) — the partitioning/prioritization signal a corpus
    pipeline feeds into dedup and quality stages."""
    return TS.domain_stats(_pipeline(spark, sf)["clean"])


@query(lambda: TS.duck_repetition_sql(), bench=True)
def q_quality_repetition(spark, sf):
    """Gopher repetition gate: per-doc share of word bigrams taken by the
    most frequent bigram (explode -> two map-side-combined aggs)."""
    return TS.repetition_stats(_load(spark, sf, "documents"))


@query(lambda: TS.duck_vocab_topk_sql(10))
def q_vocab_topk(spark, sf):
    """Per-language vocabulary head (top-10 tokens, deterministic
    tie-break); the rank window moves only |vocab| rows per lang."""
    return TS.vocab_topk(_load(spark, sf, "documents"), k=10)


@query(lambda: TS.duck_tfidf_topk_sql(5))
def q_tfidf_topk(spark, sf):
    """Per-doc top-5 keywords by tf-idf; ranking uses the quantized
    tfidf_e6 so a last-ulp ln() difference cannot reorder engines."""
    return TS.tfidf_topk(_load(spark, sf, "documents"), k=5)


@query(lambda: D.duck_decontaminate_sql())
def q_decontaminate(spark, sf):
    """Benchmark decontamination: training docs (dup corpus minus the
    eval originals) flagged when >= 50% of their shingles appear in the
    broadcast eval shingle union; planted copies of eval docs must come
    out contaminated. Oracle recomputes exact string-shingle overlap."""
    dup = _dup_docs(spark, sf)
    docs = _load(spark, sf, "documents")
    train = dup.where(F.expr(f"doc_id % {D.EVAL_MOD} <> {D.EVAL_RES}"))
    ev = docs.where(F.expr(f"doc_id % {D.EVAL_MOD} = {D.EVAL_RES}"))
    return D.decontaminate(train, ev)


@query(lambda: D.duck_decontaminate_bloom_sql())
def q_decontaminate_bloom(spark, sf):
    """Bloom-filter decontamination — the fixed-size-broadcast scale
    path (bitmap size set by FP budget, independent of eval-corpus
    size). Same planted eval/train split and output contract as
    q_decontaminate; oracle replays the bitmap and every probe
    bit-for-bit (the sketch itself is certified, like HLL/CMS)."""
    dup = _dup_docs(spark, sf)
    docs = _load(spark, sf, "documents")
    train = dup.where(F.expr(f"doc_id % {D.EVAL_MOD} <> {D.EVAL_RES}"))
    ev = docs.where(F.expr(f"doc_id % {D.EVAL_MOD} = {D.EVAL_RES}"))
    return D.decontaminate_bloom(train, ev)


K_ANON_QUASI = ["c_nationkey", "c_mktsegment"]
K_ANON_SENS = "cast(floor(c_acctbal / 1000) as bigint)"
K_ANON_K, K_ANON_L = 12, 3


@query(lambda: duck_k_anonymity_sql(
    "customer", K_ANON_QUASI, K_ANON_SENS, k=K_ANON_K, l_div=K_ANON_L
))
def q_k_anonymity(spark, sf):
    """Privacy-risk report the reference's masking workflow implies but
    never computes: k-anonymity / l-diversity per quasi-identifier
    equivalence class of the customer table (nation x market segment;
    sensitive = account-balance band). One map-side-combined agg pass;
    the same report over mask_table output verifies the synthesis broke
    quasi-identifier linkage."""
    from nerpii_spark.operators.profile import k_anonymity_report

    return k_anonymity_report(
        _load(spark, sf, "customer"), K_ANON_QUASI, K_ANON_SENS,
        k=K_ANON_K, l_div=K_ANON_L,
    )


@query(lambda: (
    f"select id_a, id_b from ({_EXACT_JACCARD})"
    " where id_a % 4 = 0 or id_b % 4 = 0"
), bench=True)
def q_dedup_incremental(spark, sf):
    """Incremental near-dedup (dedup.incremental_dup_pairs): the delta
    quarter of the dup corpus (doc_id % 4 == 0, the repo's incremental
    split convention) probed against the persisted band index of the
    base three quarters — pairs touching the delta only, delta-sized
    probe join, base never self-joined. Oracle = brute-force exact
    Jaccard truth restricted to delta-touching pairs, certifying
    candidate completeness of the incremental path too."""
    d = _dup_docs(spark, sf)
    return D.incremental_dup_pairs(
        d.where(F.expr("doc_id % 4 != 0")),
        d.where(F.expr("doc_id % 4 = 0")),
    )


@query(lambda: f"""
            with t as (select distinct doc_id, subj, pred, obj
                       from ({_GT})),
            g as (select distinct doc_id, subj, pred, obj from ({_GT})),
            np as (select cast(count(*) as bigint) as n_pred from t),
            nt as (select cast(count(*) as bigint) as n_true from g),
            nc as (select cast(count(*) as bigint) as n_correct
                   from t join g using (doc_id, subj, pred, obj))
            select n_pred, n_true, n_correct,
                   1000000 * n_correct // n_pred as precision_ppm,
                   1000000 * n_correct // n_true as recall_ppm
            from np cross join nt cross join nc
        """, bench=True)
def q_triple_eval(spark, sf):
    """The north-rule metric AS A QUERY: precision/recall of the
    pipeline's emitted (doc_id, subj, pred, obj) triples against the
    planted golden truth, in exact ppm -> one row (n_pred, n_true,
    n_correct, precision_ppm, recall_ppm). Truth is derivable in BOTH
    dialects from the same planted chain, so the Spark side joins
    pipeline output to Spark-side truth while the oracle replays
    truth-vs-truth — any divergence of the real pipeline from truth
    breaks the hash match, making the P/R=1.0 claim a certified value,
    not a narrative. Two distinct-collapses + one equi-join on the
    4-tuple + a 1-row fold."""
    t = (
        _pipeline(spark, sf)["triples"]
        .select("doc_id", "subj", "pred", "obj")
        .distinct()
    )
    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_eval")
    g = spark.sql(
        P.golden_triples_sql("spark", doc_rel="nerpii_documents_eval")
    ).distinct()
    npred = t.agg(F.expr("cast(count(*) as bigint)").alias("n_pred"))
    ntrue = g.agg(F.expr("cast(count(*) as bigint)").alias("n_true"))
    ncorr = t.join(g, ["doc_id", "subj", "pred", "obj"]).agg(
        F.expr("cast(count(*) as bigint)").alias("n_correct")
    )
    return (
        npred.crossJoin(F.broadcast(ntrue))
        .crossJoin(F.broadcast(ncorr))
        .selectExpr(
            "n_pred",
            "n_true",
            "n_correct",
            "1000000 * n_correct div n_pred as precision_ppm",
            "1000000 * n_correct div n_true as recall_ppm",
        )
    )


@query(lambda: SK.duck_windowed_user_hll_sql("events"), bench=True)
def q_window_user_hll(spark, sf):
    """Windowed distinct-user HLL (streaming/windows.
    windowed_user_hll_registers + sketch.hll_estimate_from_registers):
    per (day window, event_type) the 64-register sketch state — whose
    merge op (register max) is exactly what a streaming agg maintains
    with 64-rows-per-open-window state, vs count-distinct state that
    grows with users — rolled up on read with the raw estimator +
    small-range linear-counting branch in the shared integer log2
    fixed point. Same code runs the streaming half (batch-equality +
    accuracy gated in tests/test_streaming.py); oracle replays
    registers, estimator and LC branch bit-for-bit."""
    from nerpii_spark.operators.sketch import hll_estimate_from_registers
    from nerpii_spark.streaming.windows import windowed_user_hll_registers

    regs = windowed_user_hll_registers(_load(spark, sf, "events"))
    return hll_estimate_from_registers(
        regs, ["window_start", "event_type"]
    )


@query(lambda: f"""
            with p as ({_PAGES}),
            e as (select cast({P.BASE_EPOCH} + doc_id as bigint) as e
                  from p),
            b as (select min(e) as lo, max(e) as hi from e)
            select case when (e - lo) * 10 < (hi - lo) * 8 then 'train'
                        when (e - lo) * 10 < (hi - lo) * 9 then 'val'
                        else 'test' end as split,
                   cast(count(*) as bigint) as n_docs,
                   cast(min(e) as bigint) as min_epoch,
                   cast(max(e) as bigint) as max_epoch
            from e cross join b group by 1
        """, bench=True)
def q_split_temporal(spark, sf):
    """Temporal holdout split — the leakage-free complement to the
    hash split (q_split_assign) for anything time-ordered: train on
    the first 80% of the crawl clock, validate on the next 10%, test
    on the tail; boundaries are exact integer fractions of the
    observed [min, max] epoch span (one 2-number agg broadcast back),
    so no future byte can inform a past-split model. Output per
    split: (split, n_docs, min_epoch, max_epoch). Reads the CACHED
    clean stage (same warc_ts as pages) — the raw pages DF would
    regenerate the planted html on both scans."""
    pages = _pipeline(spark, sf)["clean"]
    ep = (
        "(cast(datediff(cast(warc_ts as date), date '1970-01-01')"
        " as bigint) * 86400 + hour(warc_ts) * 3600"
        " + minute(warc_ts) * 60 + second(warc_ts))"
    )
    b = pages.agg(
        F.expr(f"min({ep})").alias("lo"), F.expr(f"max({ep})").alias("hi")
    )
    return (
        pages.select(F.expr(ep).alias("e"))
        .crossJoin(F.broadcast(b))
        .selectExpr(
            "case when (e - lo) * 10 < (hi - lo) * 8 then 'train'"
            " when (e - lo) * 10 < (hi - lo) * 9 then 'val'"
            " else 'test' end as split",
            "e",
        )
        .groupBy("split")
        .agg(
            F.expr("cast(count(*) as bigint)").alias("n_docs"),
            F.expr("cast(min(e) as bigint)").alias("min_epoch"),
            F.expr("cast(max(e) as bigint)").alias("max_epoch"),
        )
    )


@query(lambda: (
    f"select lang as lang_meta,"
    f" {TS.lang_id_sql('duck', 'text')} as lang_pred,"
    " cast(count(*) as bigint) as n_docs"
    " from documents group by 1, 2"
), bench=True)
def q_lang_drift(spark, sf):
    """Metadata-vs-content language drift audit: cross-tabulate the
    crawl's CLAIMED lang column against the content-based stopword
    classifier -> (lang_meta, lang_pred, n_docs). Crawl metadata lies
    constantly (server headers, TLD guesses, stale sitemaps); this is
    the report that decides whether downstream lang partitioning can
    trust the metadata or must re-derive lang from content. On the
    planted corpus it correctly EXPOSES the drift: the synthetic text
    is English-vocabulary filler under rotated metadata labels, so
    only the en rows agree — pinned in pytest (the classifier itself
    is accuracy-certified separately on a 12-language planted slice in
    tests/test_extras.py). One projection + one map-side-combined
    two-key agg; |langs|^2-bounded output."""
    d = _load(spark, sf, "documents")
    return (
        d.select(
            F.col("lang").alias("lang_meta"),
            F.expr(TS.lang_id_sql("spark", "text")).alias("lang_pred"),
        )
        .groupBy("lang_meta", "lang_pred")
        .agg(F.expr("cast(count(*) as bigint)").alias("n_docs"))
    )


@query(lambda: WG.duck_host_gini_sql(_PAGES), bench=True)
def q_host_gini(spark, sf):
    """Crawl-concentration Gini over pages-per-host (webgraph.
    host_gini): the scalar that tracks mega-host drift, exact bigint
    ppm via the rank-statistic formula; the sort runs over hosts, not
    pages (overflow bound documented in the operator)."""
    return WG.host_gini(_pipeline(spark, sf)["clean"])


# not benched, like the other masking queries: its cost is
# column_profile's detection scan, benched via e2e_triples
@query(lambda: duck_mask_leakage_sql(
    P.personal_info_sql("duck"),
    masked_select_sql(
        "duck",
        f"({P.personal_info_sql('duck')})",
        P.PERSONAL_INFO_COLS,
        route_columns(_PI_PROFILE, P.PERSONAL_INFO_COLS, {"state"}),
        "row_id",
        gender_col="first_name_gender",
    ),
    sorted(
        route_columns(_PI_PROFILE, P.PERSONAL_INFO_COLS, {"state"})
    ),
    "row_id",
))
def q_mask_leakage(spark, sf):
    """Post-synthesis leakage audit (mask.mask_leakage_report): per
    routed column, the ppm of cells where the keyed synthetic EQUALS
    the original value — the release-time check that masking actually
    replaced the PII (coincidence floor ~1/|gazetteer| per cell; a
    rate spiking toward 1e6 means a copy-through). One row_id join +
    one conditional-count agg; 12 rows out."""
    from nerpii_spark.operators.mask import mask_leakage_report

    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_leak")
    pi = spark.sql(
        P.personal_info_sql("spark", doc_rel="nerpii_documents_leak")
    )
    prof = column_profile(pi)
    masked = mask_table(pi, prof, "row_id")
    routed = route_columns(_PI_PROFILE, P.PERSONAL_INFO_COLS, {"state"})
    return mask_leakage_report(pi, masked, sorted(routed), "row_id")


@query(lambda: D.duck_lsh_tuning_sql(_EXACT_JACCARD), bench=True)
def q_lsh_tuning(spark, sf):
    """LSH banding parameter advisor (dedup.lsh_tuning_report): for
    five (n_bands, band_rows) layouts of the same 16 minhashes, the
    expected candidate recall E[p(s)] = E[1-(1-s^r)^b] under the
    OBSERVED exact-Jaccard distribution of the certified near-dup
    pairs — the report that justifies the shipped r=1/b=16 choice and
    quantifies what a sharper r=4 threshold would forfeit. S-curve is
    an integer-exact constant table; the data side is a <= 21-row
    histogram over the verified pair set. Pair truth rides
    prefix_filter_pairs (candidate completeness is a theorem AND the
    candidate set is precise — measured 2.2x faster than the df-capped
    shingle join here, whose cap-64 candidates numbered 1.75M for 1705
    true pairs on this corpus)."""
    return D.lsh_tuning_report(D.prefix_filter_pairs(_dup_docs(spark, sf)))


@query("""
            select l_returnflag, cast(count(*) as bigint) as n_rows,
                   cast(sum(cast(round(l_quantity * 100) as bigint))
                        as bigint) as sum_qty_c
            from lineitem
            where l_orderkey in (select o_orderkey from orders
                                 where o_totalprice > 450000)
            group by 1
        """, bench=True)
def q_bloom_semijoin(spark, sf):
    """Runtime Bloom-filter semi-join pushdown (runtime_filter.
    bloom_semi_join): lineitem ⋉ high-value orders with a certified
    2048-word Bloom bitmap pre-filter on the fact side — k broadcast
    word lookups in whole-stage codegen drop ~90% of fact rows BEFORE
    the exact semi join (the runtime-filter/bloom-index technique made
    explicit and engine-portable). Result is EXACTLY the plain semi
    join; rolled up per returnflag, quantities in bigint cents."""
    from nerpii_spark.operators.runtime_filter import bloom_semi_join

    li = _load(spark, sf, "lineitem")
    big = _load(spark, sf, "orders").where("o_totalprice > 450000")
    return (
        bloom_semi_join(li, big, "l_orderkey", "o_orderkey")
        .groupBy("l_returnflag")
        .agg(
            F.expr("cast(count(*) as bigint)").alias("n_rows"),
            F.expr(
                "cast(sum(cast(round(l_quantity * 100) as bigint))"
                " as bigint)"
            ).alias("sum_qty_c"),
        )
    )


@query(lambda: duck_pagerank_incremental_sql(
    f"select src_host as subj, dst_host as obj from"
    f" ({WG.duck_planted_links_sql(f'select * from ({_PAGES}) where doc_id % 4 <> 0')})",
    f"select src_host as subj, dst_host as obj from"
    f" ({WG.duck_planted_links_sql(f'select * from ({_PAGES}) where doc_id % 4 = 0')})",
), bench=True)
def q_pagerank_incremental(spark, sf):
    """Warm-started incremental PageRank over the host graph
    (extract.pagerank_incremental — the rank analog of the incremental
    linker): ranks for 3/4 of the crawl persist as base state, the
    remaining 1/4 folds in as a delta batch and the damped update
    resumes from the warm vector for 2 rounds instead of iterating the
    merged graph from uniform. Same per-round plan as q_host_pagerank;
    the saving is rounds. Oracle replays base fixed point + warm
    rounds bit-for-bit over the planted link truth. Reads the CACHED
    clean stage (html survives S1) so the two filtered scans don't
    regenerate the planted corpus."""
    pages = _pipeline(spark, sf)["clean"]
    base = WG.host_edges_for_pagerank(
        pages.where(F.expr("doc_id % 4 != 0"))
    )
    delta = WG.host_edges_for_pagerank(
        pages.where(F.expr("doc_id % 4 = 0"))
    )
    return pagerank_incremental(base, delta)


@query(lambda: DG.duck_expectations_sql(
    _PAGES, _GM, _GT, langs=sorted(G.LANG_STOPWORDS)
), bench=True)
def q_expectations(spark, sf):
    """Data-quality expectations gate (diagnose.expectations_report —
    the Deequ-style constraint suite a pipeline runs before publishing
    a snapshot): 10 checks over pages/mentions/triples — non-empty
    fields, url uniqueness, lang/entity-type/predicate vocabularies,
    duplicate assertions, doc_id referential integrity. One
    conditional-count agg per table + two doc_id-keyed FK left joins;
    constant ~10 rows out, the `passed` bit blocks the publish."""
    from nerpii_spark.operators.diagnose import expectations_report

    p = _pipeline(spark, sf)
    return expectations_report(
        p["clean"], p["mentions"].select("doc_id", "entity_type", "mention"),
        p["triples"], langs=sorted(G.LANG_STOPWORDS),
    )


@query(lambda: duck_reident_risk_sql(
    f"({P.personal_info_sql('duck')}) pi", ["city", "state", "zip"]
), bench=True)
def q_reident_risk(spark, sf):
    """Aggregate disclosure-risk report (profile.reident_risk) over the
    planted personal-info fixture with the classic quasi-identifier
    tuple (city, state, zip): uniqueness / marketer / journalist risk
    as exact integer ppm. One class-count agg + one 8-number fold; the
    zip column makes essentially every row a population unique — the
    Sweeney result the masking stage exists to break."""
    from nerpii_spark.operators.profile import reident_risk

    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_rr")
    pi = spark.sql(P.personal_info_sql("spark", doc_rel="nerpii_documents_rr"))
    return reident_risk(pi, ["city", "state", "zip"])


@query(lambda: generalization_ladder_sql(
    "duck", f"({P.personal_info_sql('duck')}) pi"
), bench=True)
def q_generalize_ladder(spark, sf):
    """Generalization ladder (profile.generalization_ladder_sql): k-
    anonymity statistics at four coarsening levels of the personal-info
    quasi-identifiers — (city,state,zip) -> (state,zip3) -> (state) ->
    (*) — the privacy-utility curve that decides how much detail a
    release can keep. Four tiny aggs over one scan, dual-dialect SQL."""
    from nerpii_spark.operators.profile import generalization_ladder_sql

    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_gl")
    spark.sql(
        "create or replace temporary view nerpii_pi_gl as "
        + P.personal_info_sql("spark", doc_rel="nerpii_documents_gl")
    )
    return spark.sql(generalization_ladder_sql("spark", "nerpii_pi_gl"))


@query(lambda: LAY.manifest_prune_sql("duck", "events"), bench=True)
def q_manifest_prune(spark, sf):
    """File-skipping audit (layout.manifest_prune_sql): min/max manifest
    pruning simulated for the same rows under the Z-order layout vs a
    time-only layout against a fixed 6-predicate box workload —
    (layout, pred_id, files_total, files_scanned, rows_scanned). The
    numbers certify why write_zordered exists: time files span the full
    user axis, so user-constrained predicates skip nothing there."""
    ev = _load(spark, sf, "events")
    ev.createOrReplaceTempView("nerpii_events_prune")
    return spark.sql(LAY.manifest_prune_sql("spark", "nerpii_events_prune"))


@query(lambda: LAY.duck_compaction_plan_sql(
    "select lang as part, cast(doc_id % 256 as bigint) as file_id,"
    " cast(sum(n_chars) as bigint) as bytes"
    " from documents group by 1, 2",
    target_bytes=16384,
), bench=True)
def q_compaction_plan(spark, sf):
    """Small-file compaction planner (layout.compaction_plan): bin-pack
    a (lang, file, bytes) manifest — derived deterministically from
    documents as 256 hash files per lang — into target-size output
    files; files already at target ride solo. Pure manifest arithmetic
    (one window + one agg over file-count-scale rows); the data files
    are never read, exactly like Iceberg's rewrite_data_files planner."""
    files = (
        _load(spark, sf, "documents")
        .groupBy(
            F.col("lang").alias("part"),
            (F.col("doc_id") % 256).cast("bigint").alias("file_id"),
        )
        .agg(F.expr("cast(sum(n_chars) as bigint)").alias("bytes"))
    )
    return LAY.compaction_plan(files, target_bytes=16384)


@query(lambda: LAY.snapshot_expiry_sql("duck", "events"), bench=True)
def q_snapshot_expiry(spark, sf):
    """Snapshot-retention plan (layout.snapshot_expiry_sql): Iceberg's
    expire_snapshots dual gate (newest 5 per table OR younger than 48 h
    of the table head) over a snapshot log derived from the event
    stream (one commit per event_type x hour). Metadata-scale windows;
    timezone-free integer epoch comparison on both engines."""
    ev = _load(spark, sf, "events")
    ev.createOrReplaceTempView("nerpii_events_snap")
    return spark.sql(LAY.snapshot_expiry_sql("spark", "nerpii_events_snap"))


@query(lambda: f"""
            with pg as ({_PAGES}),
            pm as (select doc_id, count(*) as n_m from ({_GM}) group by 1)
            select {TS.domain_expr('duck', 'url')} as domain,
                   count(*) as n_docs,
                   cast(sum(coalesce(pm.n_m, 0)) as bigint) as n_mentions,
                   cast(sum(length(text)) as bigint) as total_chars
            from pg left join pm using (doc_id)
            group by 1
        """)
def q_pii_by_domain(spark, sf):
    """PII density rollup: mentions per domain over the cleaned pages —
    the prioritization signal a masking stage consumes. Mention counts
    pre-aggregate per doc before the (low-cardinality) domain agg."""
    p = _pipeline(spark, sf)
    per_doc = p["mentions"].groupBy("doc_id").agg(
        F.count("*").alias("n_m")
    )
    return (
        p["clean"]
        .select(
            "doc_id",
            F.expr(TS.domain_expr("spark", "url")).alias("domain"),
            F.length("text").cast("bigint").alias("n_chars"),
        )
        .join(per_doc, "doc_id", "left")
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.coalesce(F.col("n_m"), F.lit(0))).cast("bigint").alias(
                "n_mentions"
            ),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


def _media(spark, sf):
    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_media")
    return spark.sql(MM.media_sql("spark", doc_rel="nerpii_documents_media"))


@query(lambda: MM.duck_features_sql())
def q_media_features(spark, sf):
    """Multimodal plumbing: binary payloads through Arrow-batched
    mapInPandas.  Since r5 the decode seam is REAL for planted
    uncompressed-BMP / PCM-WAV payloads (struct-based pure-Python
    parsers; decoded_w/decoded_h/decoded_sum are genuinely decoded,
    and the DuckDB oracle re-decodes the payload bytes
    independently); compressed codec kinds stay behind the honest
    NotImplementedError seam — no codec libs in the sandbox."""
    return MM.extract_features(_media(spark, sf))


@query(lambda: f"""
            with media as ({MM.media_sql('duck')})
            select doc_id, unnest(range(0, meta.duration_ms, 40)) as offset_ms
            from media where kind = 'video'
        """)
def q_frame_offsets(spark, sf):
    """Video frame-sampling plan (pure Catalyst sequence explode)."""
    return MM.frame_sample_offsets(_media(spark, sf))


@query("select * from customer")
def q_scan(spark, sf):
    return _load(spark, sf, "customer")


@query(lambda: (
    f"select * from customer where {sql_h1('c_custkey', 7)} % 100 < 10"
))
def q_sample(spark, sf):
    c = _load(spark, sf, "customer")
    return c.where(F.expr(f"{sql_h1('c_custkey', 7)} % 100 < 10"))


@query(lambda: f"""
            select doc_id, lang from documents
            where {sql_h1('doc_id', 11)} % 1000 <
                  (case when lang = 'en' then 100 else 500 end)
        """)
def q_sample_stratified(spark, sf):
    """Per-language stratified sample (training-data mixing): en keeps
    10%, every other lang 50% — a seeded portable-hash filter, so the
    sample is deterministic, join-free, and pushed to the scan."""
    d = _load(spark, sf, "documents")
    rate = F.when(F.col("lang") == "en", F.lit(100)).otherwise(F.lit(500))
    return d.where(
        F.expr(f"{sql_h1('doc_id', 11)} % 1000") < rate
    ).select("doc_id", "lang")


@query(lambda: TS.duck_mix_weights_sql())
def q_mix_weights(spark, sf):
    """Alpha-smoothed language mixture weights (XLM-R sampling recipe);
    per-row quantized pow + bigint normalization keeps both engines
    bit-identical."""
    return TS.mix_weights(_load(spark, sf, "documents"))


@query(lambda: TS.duck_mix_sample_sql())
def q_mix_sample(spark, sf):
    """Materialized weight-driven training mixture: broadcast per-lang
    hash rates derived from the alpha-smoothed targets; binding language
    keeps 100%, the rest downsample to match — one zero-shuffle corpus
    pass."""
    return TS.mix_sample(_load(spark, sf, "documents"))


@query(lambda: TS.duck_quality_classifier_sql(), bench=True)
def q_quality_classifier(spark, sf):
    """Hashed-feature linear classifier scoring over documents — the
    model-inference-at-scale shape: the model is a fixed-size broadcast
    (hashing trick), scoring is explode+join+map-side-combined agg,
    all codegen SQL."""
    return TS.quality_classifier(_load(spark, sf, "documents"))


@query(lambda: TS.duck_chunk_text_sql(), bench=True)
def q_chunk_text(spark, sf):
    """RAG sliding-window chunking of the documents table: one
    zero-shuffle explode projection; every token covered, consecutive
    chunks share CHUNK_OVERLAP tokens."""
    return TS.chunk_text(_load(spark, sf, "documents"))


@query(lambda: TS.duck_pack_sequences_sql(), bench=True)
def q_pack_sequences(spark, sf):
    """Deterministic concat-and-chunk sequence packing into bucketed
    token streams: one shuffle by bucket, running-sum window per bucket,
    layout a pure function of (doc_id, n_buckets, seq_len)."""
    return TS.pack_sequences(_load(spark, sf, "documents"))


@query("select c_name, c_mktsegment from customer")
def q_project_str(spark, sf):
    return _load(spark, sf, "customer").select("c_name", "c_mktsegment")


@query(
    "select doc_id, coalesce(nullif(source, 'src0'), '?')"
    " as source_filled from documents"
)
def q_nan_fill(spark, sf):
    d = _load(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.coalesce(F.nullif("source", F.lit("src0")), F.lit("?")).alias(
            "source_filled"
        ),
    )


@query(lambda: f"""
            select split_part(person, ' ', 1) as first_name,
                   coalesce(nullif(split_part(person, ' ', 2), ''), '-') as last_name
            from (select distinct subj as person from ({_GT}) where pred = 'works_at')
        """)
def q_split_name(spark, sf):
    t = _pipeline(spark, sf)["triples"]
    persons = t.where(F.col("pred") == "works_at").select(
        F.col("subj").alias("person")
    ).distinct()
    return split_name(persons, "person")


@query(
    "select lang, count(*) * 1.0 / (select count(*) from documents)"
    " as freq from documents group by lang"
)
def q_frequency(spark, sf):
    """O6: one-scan relative frequencies (window-normalized counts)."""
    from nerpii_spark.functions.text import frequency_df

    return frequency_df(_load(spark, sf, "documents"), "lang")


@query(lambda: (
    f"select doc_id from ({_PAGES})"
    f" where regexp_matches(text, '{address_pattern()}')"
))
def q_address_denylist(spark, sf):
    c = _pipeline(spark, sf)["clean"]
    return c.where(F.col("text").rlike(address_pattern())).select("doc_id")


@query(lambda: f"""
            select first_name,
                   case when lower(first_name) in ({_FEMALE}) then 'female'
                        when lower(first_name) in ({_MALE}) then 'male'
                        else 'unknown' end as first_name_gender
            from (select distinct split_part(subj, ' ', 1) as first_name
                  from ({_GT}) where pred = 'works_at')
        """)
def q_gender(spark, sf):
    t = _pipeline(spark, sf)["triples"]
    firsts = (
        t.where(F.col("pred") == "works_at")
        .select(F.element_at(F.split("subj", " "), 1).alias("first_name"))
        .distinct()
    )
    return with_gender(firsts, "first_name").select("first_name", "first_name_gender")


@query(lambda: f"""
            select pred, obj, n, rk from (
              select pred, obj, n,
                     row_number() over (partition by pred
                                        order by n desc, obj asc) as rk
              from (select pred, obj, count(*) as n from ({_GT}) group by 1, 2)
            ) where rk <= 3
        """, bench=True)
def q_topk_objs_per_pred(spark, sf):
    """Exact top-3 objects per predicate, two-phase salted windows so a
    Zipf-hot predicate's object counts never land on one reducer."""
    return topk_objs_per_pred(_pipeline(spark, sf)["triples"], k=3)


@query(lambda: f"""
            with e as (
              select subj as node, obj as nbr from ({_GT})
              union all
              select obj, subj from ({_GT})
            )
            select node, count(*) as n_edges,
                   cast(count(distinct nbr) as bigint) as n_neighbors
            from e group by 1
        """)
def q_entity_degree(spark, sf):
    """KG degree stats: triple occurrences + distinct counterparties per
    node (subjects and objects as one node set)."""
    return entity_degree(_pipeline(spark, sf)["triples"])


@query(lambda: duck_degree_histogram_sql(f"""
            with e as (
              select subj as node, obj as nbr from ({_GT})
              union all
              select obj, subj from ({_GT})
            )
            select node, count(*) as n_edges,
                   cast(count(distinct nbr) as bigint) as n_neighbors
            from e group by 1
        """))
def q_degree_hist(spark, sf):
    """Log2-bucketed degree distribution (power-law diagnostic): bucket
    via integer bit-length, exact in both engines; <= 64 output rows."""
    return degree_histogram(_pipeline(spark, sf)["triples"])


@query(lambda: f"""
            with wa as (select distinct subj as person, obj as org
                        from ({_GT}) where pred = 'works_at'),
                 li as (select distinct subj as org, obj as location
                        from ({_GT}) where pred = 'located_in')
            select person, location,
                   cast(count(distinct org) as bigint) as n_paths
            from wa join li using (org) group by 1, 2
        """)
def q_kg_2hop(spark, sf):
    """Multi-hop KG inference: works_at o located_in -> person-location
    facts, both sides pre-collapsed to distinct entity pairs."""
    return two_hop_locations(_pipeline(spark, sf)["triples"])


@query(lambda: f"""
            with e as (
              select distinct least(subj, obj) as a, greatest(subj, obj) as b
              from ({_GT}) where subj <> obj
            ),
            v as (select count(*) as n_nodes
                  from (select a as n from e union select b from e)),
            ne as (select count(*) as n_edges from e),
            tri as (select count(*) as n_triangles
                    from e e1
                    join e e2 on e2.a = e1.b
                    join e e3 on e3.a = e1.a and e3.b = e2.b)
            select cast(v.n_nodes as bigint) as n_nodes,
                   cast(ne.n_edges as bigint) as n_edges,
                   cast(tri.n_triangles as bigint) as n_triangles
            from v, ne, tri
        """)
def q_kg_triangles(spark, sf):
    """Triangle census of the entity graph via the degree-oriented
    node-iterator (per-node wedge fan-out bounded by out-degree <=
    O(sqrt(m)); a hub generates zero wedges)."""
    return kg_triangles(_pipeline(spark, sf)["triples"])


@query(lambda: duck_pagerank_sql(_GT, n_iter=3))
def q_pagerank(spark, sf):
    """3-step fixed-point PageRank over the directed entity graph; all
    arithmetic bigint fixed-point (rank_e12), so the chained-CTE DuckDB
    oracle matches bit-for-bit — certifying the distributed iteration,
    not just the plumbing."""
    return pagerank(_pipeline(spark, sf)["triples"], n_iter=3)


@query(lambda: duck_kg_negative_samples_sql(_GT))
def q_kg_negatives(spark, sf):
    """Deterministic negative sampling for KG-embedding training: each
    triple's object corrupted by a hash-drawn representative from 64
    bucketed entity-pool reps (one map-side agg + a broadcast join of 64
    rows — no global entity index, no collect); draws replay bit-for-bit
    in the DuckDB oracle."""
    return kg_negative_samples(_pipeline(spark, sf)["triples"])


@query(lambda: f"""
            select subj, pred,
                   max_by(obj, lpad(cast(doc_id as varchar), 12, '0')
                               || '|' || obj) as obj_latest,
                   max(doc_id) as asserted_doc,
                   cast(count(distinct obj) as bigint) as n_versions
            from ({_GT}) group by 1, 2
        """)
def q_kg_latest_facts(spark, sf):
    """Temporal fact resolution (SCD-style 'current belief' table): per
    (subj, pred) keep the object asserted by the LATEST capture —
    warc_ts = BASE_EPOCH + doc_id on the planted corpus, so max_by over
    doc_id IS the time order; one map-side-combined agg (max_by/count
    partials), no window, no self-join."""
    t = _pipeline(spark, sf)["triples"]
    # tie-break key as a padded string: DuckDB's max_by cannot order by a
    # struct, and two sentences in ONE doc can assert different objects
    return t.groupBy("subj", "pred").agg(
        F.expr(
            "max_by(obj, lpad(cast(doc_id as string), 12, '0') || '|' || obj)"
        ).alias("obj_latest"),
        F.max("doc_id").alias("asserted_doc"),
        F.countDistinct("obj").cast("bigint").alias("n_versions"),
    )


_CHURN_KEY = "lpad(cast(doc_id as string), 12, '0') || '|' || obj"


@query(lambda: (
    lambda k: f"""
            select subj, pred,
                   max_by(obj, {k}) filter (doc_id % 4 != 0) as obj_old,
                   max_by(obj, {k}) filter (doc_id % 4 = 0) as obj_new,
                   case when count(*) filter (doc_id % 4 != 0) = 0
                        then 'added'
                        when count(*) filter (doc_id % 4 = 0) = 0
                        then 'removed'
                        when max_by(obj, {k}) filter (doc_id % 4 != 0)
                          != max_by(obj, {k}) filter (doc_id % 4 = 0)
                        then 'changed' else 'stable' end as status
            from ({_GT}) group by 1, 2
            """
)("lpad(cast(doc_id as varchar), 12, '0') || '|' || obj"))
def q_fact_churn(spark, sf):
    """KG maintenance diff between two crawl windows (the triple-table
    analog of q_crawl_diff): per (subj, pred), the latest asserted
    object in the OLD window (doc_id % 4 != 0) vs the NEW delta batch
    (doc_id % 4 = 0 — the same split q_entities_incremental folds), and
    a status in {added, removed, changed, stable}. ONE map-side-combined
    groupBy with FILTER-clause max_by on both windows — no self-join,
    no window function, single scan of the triple table; the
    per-window tie-break key is the same padded (doc, obj) string
    kg_latest_facts uses."""
    t = _pipeline(spark, sf)["triples"]
    return t.groupBy("subj", "pred").agg(
        F.expr(
            f"max_by(obj, {_CHURN_KEY}) filter (where doc_id % 4 != 0)"
        ).alias("obj_old"),
        F.expr(
            f"max_by(obj, {_CHURN_KEY}) filter (where doc_id % 4 = 0)"
        ).alias("obj_new"),
        F.expr(
            "case when count(*) filter (where doc_id % 4 != 0) = 0"
            " then 'added'"
            " when count(*) filter (where doc_id % 4 = 0) = 0"
            " then 'removed'"
            f" when max_by(obj, {_CHURN_KEY}) filter (where doc_id % 4 != 0)"
            f"   != max_by(obj, {_CHURN_KEY}) filter (where doc_id % 4 = 0)"
            " then 'changed' else 'stable' end"
        ).alias("status"),
    )


@query(lambda: f"""
            select subj, pred, count(*) as n_objs
            from (select distinct subj, pred, obj from ({_GT}))
            group by 1, 2 having count(*) > 1
        """)
def q_kg_conflicts(spark, sf):
    """KG quality gate: functional-dependency violations — subjects
    asserting more than one object for the same predicate (multi-valued
    facts a curation pass must adjudicate). Distinct pre-collapse then
    one count agg; output bounded by violating keys only."""
    t = _pipeline(spark, sf)["triples"]
    return (
        t.select("subj", "pred", "obj")
        .distinct()
        .groupBy("subj", "pred")
        .agg(F.count("*").alias("n_objs"))
        .where(F.col("n_objs") > 1)
    )


@query(lambda: duck_neighbor_sample_sql(_GT))
def q_neighbor_sample(spark, sf):
    """GraphSAGE-style deterministic neighbor sampling (fan-out cap 3):
    sampling order = portable hash of (node, nbr), two-phase salted
    windows so a hub never lands on one reducer unsharded; oracle
    replays the sample with a single global window."""
    return neighbor_sample(_pipeline(spark, sf)["triples"])


@query(lambda: duck_walk_pairs_sql(_GT))
def q_walk_pairs(spark, sf):
    """Skip-gram (center, context) pairs from the deterministic walk
    corpus — the actual embedding-trainer input: bounded self-join on
    the walk key ((n_steps+1)^2 fan-out per walk), map-side-combined
    pair counts; oracle replays walks + pairing bit-for-bit."""
    return walk_pairs(_pipeline(spark, sf)["triples"])


@query(lambda: DG.duck_skew_report_sql(_GT, ["pred"]))
def q_skew_report(spark, sf):
    """Pre-shuffle skew diagnostic over the triple table's hot key
    (pred): log2 row-count histogram + per-bucket hottest key
    (diagnose.skew_report) — the <= 64-row report that decides between
    plain shuffle / broadcast / salting before the expensive stage."""
    return DG.skew_report(_pipeline(spark, sf)["triples"], ["pred"])


@query(lambda: duck_random_walks_sql(_GT))
def q_random_walks(spark, sf):
    """Deterministic DeepWalk corpus: one 3-step walk per node, step t
    moves to the neighbor minimizing the portable hash of (cur, nbr, t);
    each step = one equi-join + map-side-combined min(struct) argmin
    (never a window over a hub's neighbor list); chained-CTE oracle
    replays the iteration with a row_number argmin."""
    return random_walks(_pipeline(spark, sf)["triples"])


@query(lambda: f"""
            with surf as (
              select distinct doc_id, mention from ({_GM})
              where entity_type in ('LOCATION', 'ORGANIZATION', 'PERSON')
            ),
            ok as (select doc_id from surf group by 1 having count(*) <= 64),
            s2 as (select surf.* from surf join ok using (doc_id)),
            pairs as (
              select a.mention as a, b.mention as b,
                     cast(count(*) as bigint) as n_ab
              from s2 a join s2 b
                on a.doc_id = b.doc_id and a.mention < b.mention
              group by 1, 2
            ),
            marg as (select mention, cast(count(*) as bigint) as c
                     from s2 group by 1),
            n as (select cast(count(distinct doc_id) as bigint) as n_docs
                  from s2)
            select p.a, p.b, p.n_ab,
                   cast((p.n_ab * n.n_docs * 1000000) // (ma.c * mb.c)
                        as bigint) as lift_e6
            from pairs p
            join marg ma on p.a = ma.mention
            join marg mb on p.b = mb.mention, n
        """)
def q_entity_cooccur(spark, sf):
    """Per-document entity co-occurrence with exact integer lift_e6
    scoring (PMI numerator/denominator without the log — bigint-only
    arithmetic, so both engines agree bit-for-bit)."""
    return entity_cooccur(_pipeline(spark, sf)["mentions"])


@query(lambda: D.duck_url_dedup_sql(P.crawl_sql("duck")))
def q_dedup_url(spark, sf):
    """Crawl-log URL dedup: canonicalize planted re-capture variants
    (tracking params / fragments / case / trailing slash) and keep the
    latest capture per canonical URL."""
    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_crawl")
    crawl = spark.sql(P.crawl_sql("spark", doc_rel="nerpii_documents_crawl"))
    return D.url_dedup(crawl)


@query(lambda: TS.duck_url_filter_sql(
    f"(select doc_id, url from ({P.crawl_sql('duck')}))"
), bench=True)
def q_url_filter(spark, sf):
    """UT1-style URL curation over the crawl log: domain-suffix
    blocklist via bounded-depth broadcast joins (no explode, no per-doc
    re-agg) + tracking-URL pattern rule; every row keeps a keep/reason
    verdict."""
    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_crawl")
    crawl = spark.sql(P.crawl_sql("spark", doc_rel="nerpii_documents_crawl"))
    return TS.url_filter(crawl)


@query(lambda: D.duck_crawl_diff_sql(
    P.crawl_sql("duck"), split_ts=P.BASE_EPOCH + 216000
))
def q_crawl_diff(spark, sf):
    """Crawl snapshot diff: canonical URLs classified added / removed /
    persisting across two capture windows — ONE map-side-combined
    groupBy with conditional window counts (not two aggs + a full outer
    join: the same key set would cross the wire twice)."""
    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_crawl")
    crawl = spark.sql(P.crawl_sql("spark", doc_rel="nerpii_documents_crawl"))
    return D.crawl_diff(crawl, split_ts=P.BASE_EPOCH + 216000)


@query(lambda: D.duck_line_dedup_sql(P.pages_sql("duck")), bench=True)
def q_dedup_lines(spark, sf):
    """Corpus-frequency line dedup (C4/RefinedWeb boilerplate removal):
    lines repeated across > df_cap documents — the planted nav / footer /
    title / script template segments — are discovered statistically and
    dropped; per-page content survives in original order."""
    return D.line_dedup(_pipeline(spark, sf)["pages"])


@query(
    "select c_custkey from customer c where not exists"
    " (select 1 from orders o where o.o_custkey = c.c_custkey)",
    bench=True,
)
def q_anti_join(spark, sf):
    c = _load(spark, sf, "customer")
    o = _load(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


@query("""
            select l_returnflag, l_linestatus, count(*) as n_rows,
                   cast(sum(cast(round(l_quantity * 100) as bigint)) as bigint)
                     as sum_qty_c,
                   cast(sum(cast(round(l_extendedprice * 100) as bigint))
                        as bigint) as sum_price_c
            from lineitem group by 1, 2
        """, bench=True)
def q_agg_lineitem(spark, sf):
    li = _load(spark, sf, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.round(F.col("l_quantity") * 100).cast("bigint")).alias("sum_qty_c"),
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias(
            "sum_price_c"
        ),
    )


@query("""
            select c_mktsegment, count(*) as n_orders,
                   cast(sum(cast(round(o_totalprice * 100) as bigint)) as bigint)
                     as revenue_c
            from orders join customer on o_custkey = c_custkey
            group by 1
        """, bench=True)
def q_join_orders_customer(spark, sf):
    o = _load(spark, sf, "orders")
    c = _load(spark, sf, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                "revenue_c"
            ),
        )
    )


@query("""
            select l_orderkey,
                   cast(sum(cast(round(l_extendedprice * (1 - l_discount)
                                       * 100) as bigint)) as bigint)
                     as revenue_c
            from customer
            join orders on o_custkey = c_custkey
            join lineitem on l_orderkey = o_orderkey
            where c_mktsegment = 'BUILDING'
              and o_orderdate < timestamp '1998-06-01 00:00:00'
              and l_shipdate > timestamp '1998-06-01 00:00:00'
            group by 1
            order by revenue_c desc, l_orderkey asc
            limit 10
        """)
def q_tpch_shipping(spark, sf):
    """TPC-H Q3 shape (shipping-priority top-k): customer |> orders |>
    lineitem with segment + date-window filters, revenue per order,
    deterministic top-10. Plan notes: customer (small dim, filtered
    first) broadcasts into orders; only lineitem is corpus-sized; the
    per-order agg map-side combines; revenue is quantized to bigint
    cents (identical IEEE product + round in both engines) so the hash
    compare is exact."""
    c = _load(spark, sf, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = _load(spark, sf, "orders").where(
        F.expr("o_orderdate < timestamp'1998-06-01 00:00:00'")
    )
    li = _load(spark, sf, "lineitem").where(
        F.expr("l_shipdate > timestamp'1998-06-01 00:00:00'")
    )
    return (
        li.join(
            F.broadcast(
                o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
                    "o_orderkey"
                )
            ),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                F.expr(
                    "cast(round(l_extendedprice * (1 - l_discount) * 100)"
                    " as bigint)"
                )
            ).cast("bigint").alias("revenue_c")
        )
        .orderBy(F.desc("revenue_c"), F.asc("l_orderkey"))
        .limit(10)
    )


@query("""
            select n_name,
                   cast(sum(cast(round(l_extendedprice * (1 - l_discount)
                                       * 100) as bigint)) as bigint)
                     as revenue_c
            from region
            join nation on n_regionkey = r_regionkey
            join customer on c_nationkey = n_nationkey
            join orders on o_custkey = c_custkey
            join lineitem on l_orderkey = o_orderkey
            join supplier on s_suppkey = l_suppkey
                         and s_nationkey = c_nationkey
            where r_name = 'ASIA'
              and o_orderdate >= timestamp '1997-01-01 00:00:00'
              and o_orderdate < timestamp '1999-01-01 00:00:00'
            group by 1
        """)
def q_tpch_volume(spark, sf):
    """TPC-H Q5 shape (local-supplier volume): the 6-way star join
    region |> nation |> customer/supplier |> orders |> lineitem with
    the c_nationkey = s_nationkey locality constraint, revenue per
    nation. Every dimension broadcasts; lineitem is the only
    corpus-sized side; the nation agg is <= 25 rows map-side."""
    r = _load(spark, sf, "region").where(F.col("r_name") == "ASIA")
    n = _load(spark, sf, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == r.r_regionkey
    )
    c = _load(spark, sf, "customer")
    s = _load(spark, sf, "supplier")
    o = _load(spark, sf, "orders").where(
        F.expr(
            "o_orderdate >= timestamp'1997-01-01 00:00:00'"
            " and o_orderdate < timestamp'1999-01-01 00:00:00'"
        )
    )
    li = _load(spark, sf, "lineitem")
    return (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(
                F.expr(
                    "cast(round(l_extendedprice * (1 - l_discount) * 100)"
                    " as bigint)"
                )
            ).cast("bigint").alias("revenue_c")
        )
    )


@query("""
            select o_orderpriority,
                   cast(count(*) as bigint) as n_late_orders
            from orders
            where o_orderdate >= timestamp '1997-01-01 00:00:00'
              and o_orderdate < timestamp '1998-01-01 00:00:00'
              and exists (
                select 1 from lineitem
                where l_orderkey = o_orderkey
                  and cast(l_shipdate as date)
                      > cast(o_orderdate as date) + interval 60 day
              )
            group by 1
        """, bench=True)
def q_tpch_late(spark, sf):
    """TPC-H Q4 shape (order-priority checking): per o_orderpriority,
    the count of orders with AT LEAST ONE late lineitem (shipped > 60
    days after the order date) inside a one-year order window. The
    plan the shape exists to test: the EXISTS subquery becomes a LEFT
    SEMI join — lineitem is never aggregated or widened, duplicate
    late lines collapse in the join itself (no distinct), and the
    date-window filter prunes orders BEFORE the join; the 5-row
    priority rollup map-side combines. The late predicate compares two
    timestamp columns via date arithmetic only — tz-pin-free."""
    o = _load(spark, sf, "orders").where(
        F.expr(
            "o_orderdate >= timestamp'1997-01-01 00:00:00'"
            " and o_orderdate < timestamp'1998-01-01 00:00:00'"
        )
    )
    li = _load(spark, sf, "lineitem")
    late = o.join(
        li,
        (li.l_orderkey == o.o_orderkey)
        & F.expr(
            "cast(l_shipdate as date) > cast(o_orderdate as date)"
            " + interval 60 days"
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_late_orders")
    )


@query("""
            with j as (
              select cast(round(l_extendedprice * (1 - l_discount) * 100)
                          as bigint) as rev_c,
                     p_type
              from lineitem join part on l_partkey = p_partkey
              where l_shipdate >= timestamp '1998-03-01 00:00:00'
                and l_shipdate < timestamp '1998-04-01 00:00:00'
            )
            select cast(sum(rev_c) filter (where p_type = 'PROMO')
                        as bigint) as promo_revenue_c,
                   cast(sum(rev_c) as bigint) as total_revenue_c,
                   cast(coalesce(sum(rev_c) filter (where p_type = 'PROMO'),
                                 0) * 1000000
                        // cast(sum(rev_c) as bigint) as bigint)
                     as promo_share_ppm
            from j
        """, bench=True)
def q_tpch_promo(spark, sf):
    """TPC-H Q14 shape (promotion revenue share): the conditional
    aggregate over one join — promo revenue / total revenue for
    lineitems in a ship-date month, part type from the (small) part
    dim. part broadcasts; the FILTER-clause conditional sum and the
    total compute in ONE map-side-combined pass (no second scan, no
    self-join); share in exact ppm over bigint cents."""
    li = _load(spark, sf, "lineitem").where(
        F.expr(
            "l_shipdate >= timestamp'1998-03-01 00:00:00'"
            " and l_shipdate < timestamp'1998-04-01 00:00:00'"
        )
    )
    p = _load(spark, sf, "part").select("p_partkey", "p_type")
    rev = "cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)"
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.expr(
                f"cast(sum({rev}) filter (where p_type = 'PROMO')"
                " as bigint)"
            ).alias("promo_revenue_c"),
            F.expr(f"cast(sum({rev}) as bigint)").alias("total_revenue_c"),
        )
        .select(
            "promo_revenue_c",
            "total_revenue_c",
            F.expr(
                "cast(coalesce(promo_revenue_c, 0) * 1000000"
                " div total_revenue_c as bigint)"
            ).alias("promo_share_ppm"),
        )
    )


@query(lambda: EV.duck_anomaly_sql())
def q_events_anomaly(spark, sf):
    """Per-user k-sigma spike detection over the event log
    (events.anomaly_events): the test multiplies through by n^2 so
    (n*v - S1)^2 > k^2*(n*S2 - S1^2) is pure-bigint — no sqrt, no
    float variance, engine-exact. ONE shuffle on user_id; the
    whole-partition window computes the sufficient statistics in the
    same pass that filters."""
    return EV.anomaly_events(_load(spark, sf, "events"))


@query(lambda: EV.duck_funnel_sql())
def q_events_funnel(spark, sf):
    """Ordered view->click->purchase funnel (events.funnel): one
    exchange on user_id, three whole-partition window minima reusing
    it, 1-row conditional-count rollup with integer conversion rates.
    Timestamps are only compared, never converted — tz-pin-free."""
    return EV.funnel(_load(spark, sf, "events"))


@query(lambda: duck_rule_mining_sql(_GT))
def q_rule_mining(spark, sf):
    """AMIE-style horn-rule mining over the extracted triples
    (extract.rule_mining): pair rules p1(x,y)=>p2(x,y) and path rules
    p1(x,y)&p2(y,z)=>p3(x,z) scored support / conf_e6 over distinct
    facts. On the planted corpus the miner recovers EXACTLY the
    planted inference rule works_at & located_in => lives_in (and
    nothing else) — certified because the oracle recomputes the rule
    scores from the golden triple truth."""
    return rule_mining(_pipeline(spark, sf)["triples"])


@query(lambda: WG.duck_bowtie_sql(_PAGES))
def q_bowtie(spark, sf):
    """Broder-2000 bow-tie decomposition of the host graph
    (webgraph.bowtie): seed = top in-degree host with >= 1 out-edge,
    two bounded BFS reaches (forward / backward), core = F ∩ B. The
    planted corpus' directed site chain is adversarial (depth-bounded
    core — documented at the operator); the crafted-graph pytest shows
    the full anatomy."""
    return WG.bowtie(_pipeline(spark, sf)["pages"])


@query(lambda: TS.duck_url_templates_sql(_PAGES))
def q_url_templates(spark, sf):
    """Crawler-trap / infinite-space detection (textstats.url_templates):
    URL paths fold id segments (hex->H, digits->N) into per-host
    templates with distinct-URL counts — pure codegen regex + ONE
    map-side-combined agg."""
    return TS.url_templates(_pipeline(spark, sf)["pages"])


@query(lambda: D.duck_host_templates_sql(_PAGES))
def q_host_templates(spark, sf):
    """Per-host template-line discovery (dedup.host_templates): a line
    in >= 80% of a host's pages (>= 2 pages) is that host's
    boilerplate — the host-local complement of q_dedup_lines' global
    df cap; integer ratio test, line identity = md5 shared with the
    exact-dedup family."""
    return D.host_templates(_pipeline(spark, sf)["pages"])


@query(lambda: WG.duck_powerlaw_alpha_sql(_PAGES))
def q_powerlaw_alpha(spark, sf):
    """Hill MLE power-law exponent of the host in-degree tail
    (webgraph.powerlaw_alpha): ln(d/dmin) in bit-exact integer
    fixed-point (functions/intmath log2fp), ln2 as 693147/1e6 with an
    overflow-ordered two-stage division; ONE global agg row."""
    return WG.powerlaw_alpha(_pipeline(spark, sf)["pages"])


@query(lambda: WG.duck_linkpred_auc_sql(_PAGES))
def q_linkpred_auc(spark, sf):
    """Link-prediction evaluation over the host graph
    (webgraph.linkpred_auc): hash holdout split, pool-representative
    negatives anti-joined against true edges, common-neighbor scoring
    over a degree-capped train adjacency, and an EXACT integer
    Mann-Whitney AUC from a score histogram (tie-averaged rank2 =
    min+max). The planted graph has ~no triadic closure, so the
    metric honestly reports an uninformative scorer (~0.47e6) — the
    protocol is the deliverable; the crafted triangle-rich pytest
    graph shows auc -> 1."""
    return WG.linkpred_auc(_pipeline(spark, sf)["pages"])


@query(lambda: TS.duck_pr_curve_sql())
def q_pr_curve(spark, sf):
    """Precision/recall threshold sweep of the hashed-feature quality
    classifier against the Gopher keep gate
    (textstats.classifier_pr_curve): <= 65 margin buckets BY
    CONSTRUCTION (clamped truncating division), cumulative tp/pp via
    two bounded windows, integer milli ratios — the calibration report
    behind picking a curation cutoff."""
    return TS.classifier_pr_curve(_load(spark, sf, "documents"))


@query(lambda: duck_scd2_facts_sql(_GT), bench=True)
def q_scd2_facts(spark, sf):
    """SCD2 validity intervals over the fact table (extract.scd2_facts):
    per (subj, pred) the timeline of object CHANGES with
    change-point compression — kg_latest_facts is its current rows,
    fact_churn its two-window diff; lag/row_number/lead all share one
    (subj, pred) exchange. Oracle derives capture time independently
    from the planted clock, certifying the ts join + epoch conversion
    too."""
    p = _pipeline(spark, sf)
    return scd2_facts(p["triples"], p["pages"])


@query(lambda: DG.duck_join_estimate_sql(
    "(select o_custkey as k from orders)",
    "(select c_custkey as k from customer)",
    "k",
))
def q_join_estimate(spark, sf):
    """Optimizer-statistics audit (diagnose.join_estimate): the
    textbook |L|*|R|/max(ndv) equi-join cardinality estimate next to
    the true join count (orders x customer on custkey), err_e6
    quantifying how far skew bends the uniformity assumption — the
    report that decides whether ANALYZE stats can be trusted for join
    ordering. Two 1-row stat aggs + the audited join; 1-row broadcast
    crossJoins."""
    o = _load(spark, sf, "orders").select(
        F.col("o_custkey").alias("k")
    )
    c = _load(spark, sf, "customer").select(
        F.col("c_custkey").alias("k")
    )
    return DG.join_estimate(o, c, "k")


@query(lambda: BPE.duck_tokenizer_fertility_sql())
def q_tokenizer_fertility(spark, sf):
    """Per-language BPE fertility (bpe.tokenizer_fertility): tokens
    per whitespace word as an e6 integer — the first metric tokenizer
    papers compare, and what the mixture/vocab-budget decisions key
    on. Merge fold evaluates over the distinct word vocabulary only;
    the corpus contributes one (lang, word) count agg. Oracle
    re-trains AND re-encodes with the independent recursive
    replace-first chain."""
    return BPE.tokenizer_fertility(_load(spark, sf, "documents"))


@query(lambda: WG.duck_sssp_weighted_sql(_PAGES))
def q_sssp_weighted(spark, sf):
    """Weighted multi-source shortest paths over the host graph
    (webgraph.sssp_weighted): bounded Bellman-Ford from the authority
    core with link-mass-aware edge costs — crawl_depth upgraded from
    hop count to the distance frontier scheduling actually ranks by.
    One edge-keyed join + min agg per round, localCheckpoint'd;
    all-bigint; chained-CTE oracle replays the bounded relaxation."""
    return WG.sssp_weighted(_pipeline(spark, sf)["pages"])


@query(lambda: P.golden_el_candidates_sql())
def q_el_candidates(spark, sf):
    """Entity-linking candidate table with commonness priors
    (link.el_candidates): per surface form, its candidate canonical
    entities across types ranked by p(entity|surface) — the
    Milne-Witten anchor prior every EL disambiguator seeds from.
    Rides the certified linker; rank partitions are <= |types| rows
    by construction. Oracle = planted cluster ground truth."""
    return L.el_candidates(_pipeline(spark, sf)["mentions"])


@query(lambda: P.golden_el_disambig_sql(), bench=True)
def q_el_disambig(spark, sf):
    """Collective EL disambiguation (link.el_disambig): one decision
    row per (doc, surface) — candidate priors re-ranked by alias-in-doc
    direct evidence and global co-occurrence coherence, the Milne-
    Witten/Ratinov context stage on top of q_el_candidates. All-bigint
    scoring; the oracle recomputes the full context algebra (leave-one-
    out ctx sets, cluster co-occurrence edges, direct/coherence sums,
    winner rank) from the planted mention truth, independent of the
    linker."""
    return L.el_disambig(_pipeline(spark, sf)["mentions"])


@query(lambda: P.golden_hearst_sql(), bench=True)
def q_hearst(spark, sf):
    """Hearst-pattern hypernym extraction (extract.hearst_hypernyms):
    is_a triples from the three classic lexical frames (such as /
    including / and other) over the planted taxonomy corpus
    (pages.hearst_sql). Row-local: one coalesced regex projection +
    split/explode, zero shuffles; the oracle recomputes the truth from
    the hash chain WITHOUT parsing, certifying the frame grammar."""
    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_hearst")
    h = spark.sql(P.hearst_sql("spark", doc_rel="nerpii_documents_hearst"))
    return hearst_hypernyms(h)


@query(lambda: P.golden_coref_sql(), bench=True)
def q_coref_resolve(spark, sf):
    """Coreference-lite pronoun resolution (extract.coref_resolve):
    gender-agreeing nearest-preceding antecedent binding over the
    planted two-person corpus (pages.coref_sql) -> resolved triples.
    Gender agreement is load-bearing (the nearer candidate always has
    the wrong gender); the whole resolution is row-local (one
    aggregate() scan per doc, zero shuffles). Parse-free hash-chain
    oracle."""
    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_coref")
    c = spark.sql(P.coref_sql("spark", doc_rel="nerpii_documents_coref"))
    return coref_resolve(c)


@query(lambda: WG.duck_community_graph_sql(_PAGES), bench=True)
def q_community_graph(spark, sf):
    """Community quotient graph (webgraph.community_graph): per-LPA-
    community host counts and intra/out/in distinct-edge rollups — the
    graph-summarization view of the host graph. Two label equi-joins +
    three map-side-combined aggs; oracle chains the certified LPA
    replay."""
    return WG.community_graph(_pipeline(spark, sf)["pages"])


@query(lambda: duck_rule_infer_sql(_GT), bench=True)
def q_rule_infer(spark, sf):
    """AMIE rule APPLICATION -> novel inferred triples
    (extract.rule_infer): every mined rule with support >= 2 and PCA
    confidence >= 0.5 fires over the fact table; derived facts not
    already asserted come back as (subj, pred, obj) with the best
    supporting rule and its confidence — the KG-completion step that
    closes the mine->apply loop q_rule_mining opens. Facts distinct is
    checkpointed once for its five consumers; the accepted rule set is
    vocabulary-bounded and broadcast; novelty is one left-anti join on
    the triple key; best-rule dedup is a window whose partitions are
    <= |rules| by construction."""
    return rule_infer(_pipeline(spark, sf)["triples"])


@query(lambda: P.golden_bio_sql(_PAGES), bench=True)
def q_ner_bio(spark, sf):
    """CoNLL-style BIO token export (extract.ner_bio_export): the
    certified PERSON/ORGANIZATION/LOCATION mention spans projected
    onto the whitespace token stream as (doc_id, t, token, tag) NER
    training sequences — the silver-standard training-data factory
    view. One doc-keyed span collect + 1:1 join, then row-local
    offset/tag algebra (aggregate + two single-responsibility HOF
    projections). Oracle rebuilds every span's ABSOLUTE [begin, end)
    from template-length arithmetic and replays the token projection
    relationally — a hash match certifies per-occurrence END offsets
    corpus-wide."""
    pipe = _pipeline(spark, sf)
    return ner_bio_export(pipe["clean"], pipe["mentions"])


@query(lambda: duck_ntriples_sql(_GT), bench=True)
def q_ntriples(spark, sf):
    """Canonical N-Triples export (extract.ntriples_export): the KG
    interchange sink — entity preds as %20-encoded IRIs, attribute
    preds (has_email/has_phone) as spec-escaped string literals, one
    distinct line per fact. Hash match = byte-exact serialization.
    One map-side distinct + a row-local string projection."""
    return ntriples_export(_pipeline(spark, sf)["triples"])


@query(lambda: duck_shacl_sql(_GT), bench=True)
def q_shacl(spark, sf):
    """SHACL-lite shape validation (extract.shacl_report): maxCount
    bounds (one home city, one org location, <= 2 employers) plus the
    works_at => lives_in implication over the fact table — violations
    only, the KG quality gate feeding conflict resolution and targeted
    re-extraction. Facts checkpointed once for three consumers; shapes
    broadcast; output bounded by actual inconsistency."""
    return shacl_report(_pipeline(spark, sf)["triples"])


@query(lambda: SK.duck_hll_overlap_sql(
    f"({P.pages_sql('duck')})"
), bench=True)
def q_hll_overlap(spark, sf):
    """HLL set-algebra overlap (sketch.hll_overlap): per language-pair
    distinct-token union / intersection / Jaccard by REGISTER MERGE
    (elementwise max) + inclusion-exclusion — the audience-overlap
    query that costs no second corpus pass; registers, closed-form
    unseen mass and the integer estimator are shared bit-for-bit with
    the certified hll_distinct chain. One register agg (token stream
    never shuffled by token), checkpointed; pair table = |langs|^2 x
    64 ints."""
    from nerpii_spark.operators.sketch import hll_overlap

    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_hllov")
    pg = spark.sql(P.pages_sql("spark", doc_rel="nerpii_documents_hllov"))
    return hll_overlap(pg)


@query(lambda: LAY.hilbert_stats_sql("duck", "events"), bench=True)
def q_hilbert_stats(spark, sf):
    """Hilbert-curve layout statistics (layout.hilbert_stats): per-
    bucket row counts + (x, y) bounding boxes of the events table
    under a 32-bit Hilbert key — computed by a 4-state LUT machine as
    ONE linear codegen expression (no HOF, no CASE-unroll blowup);
    the zorder_stats twin, so the two curves' locality is directly
    comparable (Hilbert's unit-step property gives tighter boxes —
    gated in pytest). Oracle replays the identical LUT chain."""
    from nerpii_spark.operators.layout import hilbert_stats

    return hilbert_stats(_load(spark, sf, "events"))


@query(lambda: P.golden_mixed_sql(), bench=True)
def q_extract_mixed(spark, sf):
    """Suite-level extraction precision (extract.extract_mixed): all
    six frame grammars over a mixed corpus where doc_id %% 6 selects
    the planted family — the oracle unions the per-family goldens, so
    a hash match proves each grammar fires ONLY on its own family
    (zero cross-talk on five families of confusable near-miss text).
    Corpus checkpointed once; each grammar one row-local pass."""
    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_mixed")
    mx = spark.sql(P.mixed_sql("spark", doc_rel="nerpii_documents_mixed"))
    return extract_mixed(mx)


@query(lambda: EV.duck_watermark_audit_sql("events"), bench=True)
def q_watermark_audit(spark, sf):
    """Watermark-lateness profile (events.watermark_audit): per-user
    event-time high-water-mark lateness under a planted deterministic
    arrival delay, log2-bucketed seconds — the empirical report that
    SIZES the streaming watermarks this repo's withWatermark settings
    otherwise guess. One bounded user-keyed window + a <= 64-row
    histogram agg."""
    from nerpii_spark.operators.events import watermark_audit

    return watermark_audit(_load(spark, sf, "events"))


@query(lambda: EV.duck_json_props_sql("events"), bench=True)
def q_json_props(spark, sf):
    """Schema-on-read JSON ingest (events.json_props_stats): the
    events feed's JSON props column parsed with an explicit from_json
    schema (codegen JsonToStructs, field-pruned, malformed -> NULL
    surfaced in n - n_k) rolled up per event type — the
    semi-structured leg of source-format breadth."""
    from nerpii_spark.operators.events import json_props_stats

    return json_props_stats(_load(spark, sf, "events"))


@query(lambda: duck_kg_pattern_sql(_GT), bench=True)
def q_kg_pattern(spark, sf):
    """Conjunctive KG pattern query (extract.kg_pattern_residence):
    ?p works_at ?o . ?o located_in ?wc . OPTIONAL ?p lives_in ?hc —
    the SPARQL-shape multi-join with an OPTIONAL leg as a LEFT join
    and a consistency flag; facts checkpointed once for its three
    predicate legs; bag semantics like SPARQL."""
    return kg_pattern_residence(_pipeline(spark, sf)["triples"])


@query(lambda: WG.duck_host_skyline_sql(_PAGES), bench=True)
def q_host_skyline(spark, sf):
    """Distributed 2-D Pareto frontier (webgraph.host_skyline): hosts
    maximal in (n_pages, n_langs) via three suffix-maxima certificates
    (equal-x / higher-x-in-bucket / higher-bucket) instead of an
    O(n^2) dominance self-join; windows only over bounded distinct-x
    and <= 64-bucket tables. Oracle = brute-force NOT EXISTS over the
    definition itself."""
    return WG.host_skyline(_pipeline(spark, sf)["pages"])


@query("""
with li as (
  select * from lineitem
  where l_shipdate >= timestamp '1997-01-01 00:00:00'
),
best as (
  select l_partkey as partkey, l_suppkey as suppkey,
         cast(round(l_extendedprice * 100) as bigint) as min_price_cents,
         cast(count(*) over (partition by l_partkey) as bigint) as n_offers
  from li
  qualify row_number() over (partition by l_partkey
            order by l_extendedprice asc, l_suppkey asc) = 1
)
select partkey, suppkey, s.s_name, min_price_cents, n_offers
from best join supplier s on s.s_suppkey = suppkey
""", bench=True)
def q_tpch_minsupp(spark, sf):
    """TPC-H Q2 shape (min-cost supplier): for each part shipped in a
    window, the supplier row attaining the MINIMUM extended price —
    the correlated-scalar-subquery pattern decorrelated into ONE
    map-side-combined min_by aggregation (no join-back, no window over
    the fact table); supplier dim broadcasts onto the part-sized
    result. Ties break deterministically by (price, suppkey)."""
    li = _load(spark, sf, "lineitem").where(
        F.expr("l_shipdate >= timestamp'1997-01-01 00:00:00'")
    )
    s_dim = _load(spark, sf, "supplier")
    best = li.groupBy("l_partkey").agg(
        F.expr(
            "min_by(named_struct('sk', l_suppkey, 'px', l_extendedprice),"
            " named_struct('px', l_extendedprice, 'sk', l_suppkey))"
        ).alias("b"),
        F.expr("cast(count(*) as bigint)").alias("n_offers"),
    )
    return (
        best.select(
            F.col("l_partkey").alias("partkey"),
            F.col("b.sk").alias("suppkey"),
            F.expr("cast(round(b.px * 100) as bigint)").alias(
                "min_price_cents"
            ),
            "n_offers",
        )
        .join(
            F.broadcast(
                s_dim.select(
                    F.col("s_suppkey").alias("suppkey"), "s_name"
                )
            ),
            "suppkey",
        )
        .select("partkey", "suppkey", "s_name", "min_price_cents", "n_offers")
    )


@query(lambda: duck_ner_eval_sql(_GM), bench=True)
def q_ner_eval(spark, sf):
    """Span-level detector evaluation (extract.ner_eval): multiset
    mention P/R per entity type vs the planted truth — the detector-
    level leg of the evaluation stack (q_link_eval: entities,
    q_triple_eval: facts). Both sides collapse to per-key counts
    map-side; full-outer on the mention key; |types| rows out. Oracle
    asserts P/R = 1.0 numerically (the q_detect_mentions structural
    gate made metric); imperfect-detector algebra pinned in pytest."""
    m = _pipeline(spark, sf)["mentions"].select(
        "doc_id", "entity_type", "mention"
    )
    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_nereval")
    truth = spark.sql(
        P.golden_mentions_sql("spark", doc_rel="nerpii_documents_nereval")
    )
    return ner_eval(m, truth)


@query(lambda: TS.duck_robots_sql(_PAGES, P.robots_rules_sql("duck")), bench=True)
def q_robots(spark, sf):
    """robots.txt policy evaluation (textstats.robots_verdicts):
    Google-REP longest-match verdicts (Allow-overrides-Disallow on
    deeper prefixes, default allow) for every corpus page against the
    planted per-host rule table (pages.robots_rules_sql). Hosts-sized
    rule broadcast, host-keyed join with the prefix test in the
    condition, one map-side max_by per page."""
    from nerpii_spark.operators.textstats import robots_verdicts

    rules = spark.sql(P.robots_rules_sql("spark"))
    return robots_verdicts(_pipeline(spark, sf)["pages"], rules)


@query(lambda: P.golden_negation_sql(), bench=True)
def q_polarity(spark, sf):
    """Negation-aware extraction (extract.polarity_triples): the
    employment frame plus three negation surfaces classified pos/neg
    over the planted polarity corpus (pages.negation_sql) — the
    extraction-precision guard against asserting negated facts.
    Row-local single regex projection; hash-chain oracle."""
    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_neg")
    n = spark.sql(P.negation_sql("spark", doc_rel="nerpii_documents_neg"))
    return polarity_triples(n)


@query(lambda: P.golden_voice_sql(), bench=True)
def q_voice(spark, sf):
    """Voice canonicalization (extract.voice_triples): active and
    passive acquisition frames both emit the canonical (acquirer,
    acquired, target) over the planted voice corpus (pages.voice_sql)
    — the argument-order normalization passive voice demands.
    Row-local two-regex projection; hash-chain oracle replays the
    canonical triple regardless of surface form."""
    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_voice")
    v = spark.sql(P.voice_sql("spark", doc_rel="nerpii_documents_voice"))
    return voice_triples(v)


@query(lambda: P.golden_metric_sql(), bench=True)
def q_numeric_facts(spark, sf):
    """Numeric-fact extraction (extract.numeric_facts): measurement
    sentences -> (doc_id, subj, pred, value) with EXACT bigint unit
    normalization ($12.4 billion / $87 million / 1,234,567) over the
    planted metric corpus (pages.metric_sql). Row-local single
    projection, zero shuffles; hash-chain oracle certifies grammar AND
    integer normalization."""
    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_metric")
    m = spark.sql(P.metric_sql("spark", doc_rel="nerpii_documents_metric"))
    return numeric_facts(m)


@query(lambda: P.golden_timex_sql(), bench=True)
def q_date_facts(spark, sf):
    """Temporal fact normalization (extract.date_facts): three date
    surface forms (US prose / ISO / European prose) normalized to ISO
    'YYYY-MM-DD' facts over the planted corpus (pages.timex_sql).
    Row-local single projection, zero shuffles; hash-chain oracle
    certifies format coverage and month/zero-pad normalization."""
    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_timex")
    tx = spark.sql(P.timex_sql("spark", doc_rel="nerpii_documents_timex"))
    return date_facts(tx)


@query(lambda: duck_cluster_eval_sql(
    P.planted_cluster_truth_sql("duck")
), bench=True)
def q_link_eval(spark, sf):
    """Entity-resolution quality report (link.cluster_eval): pairwise
    AND B-cubed P/R of the linker's partition vs the planted cluster
    truth, per entity type, as all-bigint sufficient statistics —
    the certified ENTITY-level measurement of the north-star P/R
    criterion (q_triple_eval covers triples). Items checkpointed for
    the three cluster aggs; oracle replays the truth partition (the
    linker is exact on this corpus — q_entities' structural gate made
    numeric: P/R = B-cubed = 1.0 exactly); imperfect-partition algebra
    pinned in tests/test_wave18.py."""
    m = _pipeline(spark, sf)["mentions"]
    members = linked_members(m)
    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_linkeval")
    truth = spark.sql(
        P.planted_cluster_truth_sql("spark", doc_rel="nerpii_documents_linkeval")
    )
    return cluster_eval(members, truth)


@query(lambda: P.golden_quote_sql(), bench=True)
def q_quotes(spark, sf):
    """Quotation attribution (extract.quote_attribution): attributed
    direct speech -> (doc_id, speaker, verb, quote, form) over the
    planted two-frame quotation corpus (pages.quote_sql). Row-local
    (six coalesced regexp_extracts in one projection, zero shuffles);
    parse-free hash-chain oracle."""
    docs = _load(spark, sf, "documents")
    docs.createOrReplaceTempView("nerpii_documents_quote")
    q = spark.sql(P.quote_sql("spark", doc_rel="nerpii_documents_quote"))
    return quote_attribution(q)


@query(lambda: EV.duck_retention_sql())
def q_retention_cohorts(spark, sf):
    """Cohort retention triangle over the events feed
    (events.retention_cohorts): users bucketed by first-seen calendar
    day x days-since-cohort, calendar-date arithmetic in both engines
    (no epoch conversion, tz-pin-free). One min agg + user-keyed join
    + map-side dedup."""
    return EV.retention_cohorts(_load(spark, sf, "events"))


# profiled orders columns: native-orderable, float-free (engine
# float->string formatting differs; see diagnose.table_profile)
PROFILE_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate",
    "o_orderpriority",
]


@query(lambda: DG.duck_table_profile_sql(
    "orders", PROFILE_COLS
))
def q_table_profile(spark, sf):
    """ANALYZE-style statistics collection over orders
    (diagnose.table_profile): per column null count, exact NDV,
    native-typed min/max — the stats that feed join-size estimates
    and zone-map pruning. ONE corpus pass (expand agg), |cols| rows
    out."""
    return DG.table_profile(_load(spark, sf, "orders"), PROFILE_COLS)


@query(lambda: D.duck_split_leakage_sql(
    f"select id_a, id_b from ({_EXACT_JACCARD})",
    f"""case when {sql_h1('doc_id', 23)} % 1000 < 10 then 'test'
                 when {sql_h1('doc_id', 23)} % 1000 < 20 then 'val'
                 else 'train' end""",
), bench=True)
def q_split_leakage(spark, sf):
    """Train/val/test leakage audit over near-dup clusters
    (dedup.split_leakage): every multi-member MinHash->CC cluster with
    its split profile and a leaked flag — the near-dup eval
    contamination a doc-hash split silently creates (q_decontaminate
    catches only verbatim overlap). Same split rule as q_split_assign;
    oracle recomputes clusters from exact-Jaccard truth and replays
    the hash."""
    dup = _dup_docs(spark, sf)
    r = F.expr(f"{sql_h1('doc_id', 23)} % 1000")
    splits = dup.select(
        "doc_id",
        F.when(r < 10, F.lit("test"))
        .when(r < 20, F.lit("val"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )
    return D.split_leakage(dup, splits)


@query(lambda: TS.duck_vocab_growth_sql(gram=2), bench=True)
def q_vocab_growth(spark, sf):
    """Good-Turing frequency-of-frequencies per language
    (textstats.vocab_growth): N_r for r<=10 with token-mass share
    (the r=1 share = GT unseen-mass estimate) and smoothed r* — the
    statistic behind LM smoothing and vocabulary-saturation checks.
    One corpus pass; everything after is vocab-bounded."""
    return TS.vocab_growth(_load(spark, sf, "documents"), gram=2)


@query(lambda: TS.duck_phrase_search_sql(["merge", "group"]), bench=True)
def q_phrase_search(spark, sf):
    """Exact phrase search via positional postings
    (textstats.phrase_search): docs containing the consecutive token
    pair 'merge group' with match counts; postings restrict to the
    phrase terms before any join so work ~ df(term), not corpus
    size."""
    return TS.phrase_search(_load(spark, sf, "documents"),
                            ["merge", "group"])


@query(lambda: duck_asof_facts_sql(_GT, _PAGES))
def q_asof_facts(spark, sf):
    """Point-in-time KG read (extract.asof_facts): the fact version
    current at each of 8 probe instants evenly spaced over the corpus
    clock — the time-travel query the SCD2 spine exists to answer.
    Probe table built distributed (1-row min/max agg -> sequence
    explode), broadcast into the range join; oracle derives probes
    independently from the planted clock."""
    p = _pipeline(spark, sf)
    return asof_facts(p["triples"], p["pages"])


@query(lambda: duck_pred_cardinality_sql(_GT))
def q_pred_cardinality(spark, sf):
    """Per-predicate AMIE functionality profile
    (extract.pred_cardinality): distinct facts/subjects/objects and
    e6-integer fun/ifun ratios — what orients mined rules, scopes
    conflict detection, and thresholds schema induction. One distinct
    + one expand agg, no join."""
    return pred_cardinality(_pipeline(spark, sf)["triples"])


@query(lambda: duck_truth_discovery_sql(_GT, _PAGES), bench=True)
def q_truth_discovery(spark, sf):
    """Source-reliability truth discovery (extract.truth_discovery):
    2-round Sums fixed point (Pasternack & Roth 2010) scoring every
    (host-asserted) claim by learned host trust — the adjudication
    pass beyond kg_conflicts' majority vote. All-bigint with 1-row
    max normalization; chained-CTE oracle replays both rounds."""
    return truth_discovery(_pipeline(spark, sf)["triples"])


@query(lambda: WG.duck_clustering_coeff_sql(_PAGES))
def q_clustering_coeff(spark, sf):
    """Per-host local clustering coefficient (webgraph.clustering_coeff):
    the kg_triangles degree-oriented wedge census with each closed
    triangle exploded to its three corners for per-node attribution;
    integer 2e6*tri div d(d-1). Oracle = INDEPENDENT brute a<b<c
    enumeration with no orientation."""
    return WG.clustering_coeff(_pipeline(spark, sf)["pages"])


@query(lambda: WQ.duck_extract_diag_sql(_PAGES), bench=True)
def q_extract_diag(spark, sf):
    """Boilerplate-extraction accounting per language
    (webquality.extract_diag): html bytes in vs extracted-text bytes
    out, tag/anchor/script densities, text-to-html ppm. All counts are
    replace-difference arithmetic in codegen (no regex); one scan +
    one map-side-combined agg, |langs| rows. The oracle REBUILDS the
    html from the planted text via the shared html_expr constructor,
    so byte counts are engine-exact. int64 note: the ppm product bounds
    per-lang html_bytes < 9.2e12 (~9 TB/lang); past that, promote the
    two sums to decimal(38) before the multiply."""
    return WQ.extract_diag(_pipeline(spark, sf)["clean"])


@query(lambda: WQ.duck_encoding_health_sql(_PAGES), bench=True)
def q_encoding_health(spark, sf):
    """Mojibake/control-char decode audit per language
    (webquality.encoding_health): U+FFFD and C0-control counts, pages
    affected, ppm. Corruption is planted IN-QUERY identically on both
    engines (the dup_embs_sql discipline) since the synthetic corpus is
    clean by construction. Zero corpus-sized shuffles."""
    return WQ.encoding_health(_pipeline(spark, sf)["clean"])


@query(lambda: WQ.duck_span_reuse_sql(_PAGES), bench=True)
def q_span_reuse(spark, sf):
    """Cross-host content-syndication pairs (webquality.span_reuse):
    top-k host pairs sharing >= 3 distinct exact 8-token spans — the
    content-level companion to q_host_mirrors' link-overlap pairing.
    Span vocabulary df-capped at 64 hosts (template boilerplate
    discriminates nothing), shuffles carry (md5, host) only, global
    top-k is TakeOrderedAndProject."""
    return WQ.span_reuse(_pipeline(spark, sf)["clean"])


@query(lambda: WQ.duck_host_lang_mix_sql(_PAGES))
def q_host_lang_mix(spark, sf):
    """Per-host language-mix profile (webquality.host_lang_mix):
    n_langs / dominant lang + share ppm / integer floor-log2 entropy —
    the multilingual-site detector feeding crawl routing and mixture
    sampling. Two chained map-side-combined aggs, no window or join;
    the top-lang tie-break is the lexicographic struct-min trick,
    verified identical in DuckDB."""
    return WQ.host_lang_mix(_pipeline(spark, sf)["pages"])


@query(lambda: WG.duck_crawl_budget_sql(_PAGES))
def q_crawl_budget(spark, sf):
    """Hamilton largest-remainder apportionment of a fixed fetch budget
    across hosts (webgraph.crawl_budget): integer-exact — sum(alloc) ==
    budget always, each host within one fetch of its proportional
    share (pinned in pytest). One map-side count, one-row total/leftover
    broadcasts, ranking window over the HOST-cardinality table only
    (the host_gini precedent)."""
    return WG.crawl_budget(_pipeline(spark, sf)["pages"])


@query(lambda: P.golden_salience_sql("duck"), bench=True)
def q_entity_salience(spark, sf):
    """Per-document entity salience (extract.entity_salience): the
    position+frequency signal that weights which facts a page is ABOUT.
    One map-side-combined groupBy over (doc, type, surface-norm) + a
    rank window over the per-doc ENTITY rows only. The golden oracle
    rebuilds every occurrence's absolute 0-based begin offset from
    template length arithmetic — an independent construction, so a hash
    match certifies the detector's per-occurrence offsets corpus-wide
    (rel_evidence certifies spans; this certifies positions)."""
    return entity_salience(_pipeline(spark, sf)["mentions"])


@query(lambda: WARC.duck_cdx_sql(P.pages_sql("duck")), bench=True)
def q_cdx_index(spark, sf):
    """CDX-style WARC byte-offset index of the corpus (operators/warc.py):
    (doc_id, url, segment, rec_offset, record_len) — every record's
    on-disk position from pure length arithmetic in codegen (the WARC
    header is fixed text + url + fixed-width date + Content-Length
    digits), zero byte materialization. One shuffle keyed by segment
    (the target file layout itself), a running-sum window per segment;
    segments are independent, so the plan parallelizes across all of
    them. The byte path (build_segments -> parse_segments round trip
    against this index) is pinned in tests/test_wave13.py; the DuckDB
    oracle rebuilds html inline and replays the arithmetic."""
    return WARC.cdx_index(_pipeline(spark, sf)["pages"])


@query(lambda: duck_fact_decay_sql(_GT), bench=True)
def q_fact_decay(spark, sf):
    """Freshness-decayed assertion support per (subj, pred, obj)
    (extract.fact_decay): each assertion weighs 2^-(age // half_life)
    in Q40 integer fixed point — exact halving per half-life, so the
    DuckDB oracle replays the decay bit-for-bit over the planted-truth
    triples. One 1-row max(doc_id) broadcast + ONE map-side-combined
    groupBy; the stale-belief signal KG maintenance ranks retirements
    by."""
    return fact_decay(_pipeline(spark, sf)["triples"])


@query(lambda: D.duck_minimizer_pairs_sql(
    D.dup_docs_sql("duck")
), bench=True)
def q_minimizers(spark, sf):
    """Winnowing minimizer overlap pairs (dedup.minimizer_overlap_pairs,
    Schleimer et al. 2003 / MOSS): ~2/(w+1) of gram positions sampled
    yet any shared run of >= w+2 grams GUARANTEES a shared fingerprint
    — the local-overlap detector next to minhash (global estimate) and
    span dedup (dense exact). Selection is row-local array math (each
    HOF stage materialized as its own projection per the no-CSE rule);
    first exchange is the fingerprint groupBy; df-cap 2..64 kills
    boilerplate keys before the self-join. Bit-exact DuckDB replay."""
    return D.minimizer_overlap_pairs(_dup_docs(spark, sf))


@query(lambda: SK.duck_lang_minhash_matrix_sql(
    "select lang, text from documents"
), bench=True)
def q_lang_sim_matrix(spark, sf):
    """Cross-language corpus resemblance matrix (sketch.
    lang_minhash_matrix, Broder 1997): per lang a 16-wide MinHash
    signature of the union of its docs' shingle sets (one map-side-
    combined groupBy, <=|langs| x 16 mins — the token stream is never
    shuffled by token), then |langs|^2 signature-agreement pairs. The
    mixture-design / cross-lingual-contamination diagnostic; bit-exact
    DuckDB replay, merge property pinned in pytest."""
    return SK.lang_minhash_matrix(_load(spark, sf, "documents"))


@query(lambda: EV.duck_event_sequences_sql("events"), bench=True)
def q_event_sequences(spark, sf):
    """Frequent contiguous event-type sequences (events.event_sequences,
    PrefixSpan-restricted k=2,3, Pei 2001) with per-USER support — a
    user counts once per pattern however often they repeat it (the
    definition a plain pair count gets wrong). ONE user_id exchange;
    lead(1)/lead(2) share a single Window; distinct + support both
    map-side combine; output bounded by |types|^2 + |types|^3."""
    return EV.event_sequences(_load(spark, sf, "events"))


@query(lambda: P.golden_rel_evidence_sql("duck"), bench=True)
def q_rel_evidence(spark, sf):
    """Distant-supervision evidence spans (extract.rel_evidence, Mintz
    2009): every emitted triple with the exact subj..obj substring of
    the clean text — the relation-classifier training-example emitter,
    and a driver-grade certification of the detector's byte offsets:
    the oracle rebuilds each evidence string from the planted template
    surfaces (an independent construction), so the hash only matches if
    begin/end arithmetic is exact end-to-end. Same sentence-local pair
    join as S3 plus ONE doc-keyed join for the substring."""
    p = _pipeline(spark, sf)
    return rel_evidence(p["mentions"], p["clean"])


@query("""
            select doc_id, lang, text,
                   cast(null as bigint) as quality, 'v1' as snap
            from documents where doc_id % 2 = 0
            union all
            select doc_id, lang, cast(null as string) as text,
                   cast(length(text) as bigint) as quality, 'v2'
            from documents where doc_id % 2 = 1
        """, bench=True)
def q_schema_evolution(spark, sf):
    """Schema-drift union (catalog.union_evolved): two snapshots of the
    documents table whose schemas drifted — v1 carries (doc_id, lang,
    text), v2 dropped text and ADDED a derived quality column — merged
    by NAME with NULL fill (positional unionAll would silently
    mis-align, the classic evolution bug). The file-level twin
    (parquet mergeSchema over drifted footers) is pinned in
    tests/test_wave13.py with actually-written files."""
    docs = _load(spark, sf, "documents")
    v1 = docs.where("doc_id % 2 = 0").select(
        "doc_id", "lang", "text", F.lit("v1").alias("snap")
    )
    v2 = docs.where("doc_id % 2 = 1").select(
        "doc_id",
        "lang",
        F.expr("cast(length(text) as bigint)").alias("quality"),
        F.lit("v2").alias("snap"),
    )
    return CAT.union_evolved([v1, v2])


@query(lambda: D.duck_cdc_apply_sql(_PAGES), bench=True)
def q_cdc_apply(spark, sf):
    """CDC MERGE apply (dedup.cdc_apply): base host snapshot + ordered
    U/D changelog -> next snapshot, the MERGE INTO contract. Only the
    LAST op per key counts (max_by); a final D removes, a final U
    rewrites, untouched rows pass through 'kept'. ONE map-side max_by
    per window + one anti-join + union — no windows, host-cardinality
    output; the delta pass is the only corpus scan at scale."""
    return D.cdc_apply(_pipeline(spark, sf)["pages"])


@query(lambda: LAY.duck_reshard_plan_sql(_PAGES), bench=True)
def q_reshard_plan(spark, sf):
    """Reshard movement audit for n -> n+1 shards (layout.reshard_plan,
    rendezvous/HRW hashing, Thaler & Ravishankar 1998): under mod
    hashing ~n/(n+1) of keys move; under HRW only the keys the NEW
    shard wins move — and only INTO it (n_moved == n_moved_to_new, the
    invariant the oracle certifies). Per-row codegen hashing over one
    materialized key + ONE 2-row map-side aggregate; the decision input
    for partition-layout evolution where every moved key is bytes
    rewritten."""
    return LAY.reshard_plan(_pipeline(spark, sf)["pages"])


@query(lambda: SK.duck_pred_agg_sql(_GT), bench=True)
def q_agg_incremental(spark, sf):
    """Incremental rollup maintenance (sketch.pred_agg_incremental):
    per-predicate count + latest capture + HLL distinct-subject
    estimate, refreshed by folding the delta batch into PERSISTED old-
    window state (counts add, maxes max, registers elementwise-max via
    a full-outer register join) — never rescanning the old window. The
    oracle is the from-scratch single pass, so the hash match certifies
    the commutative-monoid merge itself. State is metadata-sized
    (<=|preds| x 64 registers) at any corpus scale."""
    return SK.pred_agg_incremental(_pipeline(spark, sf)["triples"])


@query(lambda: WG.duck_rectangle_census_sql(_PAGES), bench=True)
def q_rectangles(spark, sf):
    """Global 4-cycle census of the host graph (webgraph.
    rectangle_census): the next motif up from q_kg_triangles — mirror
    farms and template navigation close rectangles without closing
    triangles, so C4/triangle separates copy-link structure from
    community closure. ONE adjacency self-join -> map-side-combined
    common-neighbor counts -> one global agg; the oracle is an
    independent brute canonical-cycle enumeration, so the hash match
    certifies the counting identity (n_c4 = sum C(c,2) / 2), not just
    the plumbing."""
    return WG.rectangle_census(_pipeline(spark, sf)["pages"])


@query(lambda: SIM.duck_sage_mean_features_sql("embeddings"), bench=True)
def q_sage_features(spark, sf):
    """GraphSAGE layer-1 mean aggregation (similarity.
    sage_mean_features, Hamilton et al. 2017): per node the element-
    wise int64 mean of its LSH-band neighbors' quantized vectors —
    the feature a GNN training pipeline materializes. posexplode ->
    groupBy(node, dim) shards a hub's accumulation across 64 dim keys
    (no collect_list hot reducer); h_feat checksums all dims so the
    driver certifies the full vector."""
    return SIM.sage_mean_features(_load(spark, sf, "embeddings"))


@query("""
with pp as (
  select l_partkey,
         cast(sum(cast(round(l_quantity * 100) as bigint)) as bigint)
           as sum_qty_c,
         cast(count(*) as bigint) as n_li
  from lineitem group by 1
)
select cast(count(*) as bigint) as n_rows,
       cast(sum(cast(round(l_extendedprice * 100) as bigint)) as bigint)
         as sum_price_c,
       cast(sum(cast(round(l_extendedprice * 100) as bigint)) as bigint)
         // 7 as avg_yearly_c
from lineitem li
join part p on p.p_partkey = li.l_partkey and p.p_brand = 'Brand#2'
join pp on pp.l_partkey = li.l_partkey
where cast(round(l_quantity * 100) as bigint) * 5 * n_li < sum_qty_c
""", bench=True)
def q_tpch_smallqty(spark, sf):
    """TPC-H Q17 shape (small-quantity revenue): for a brand's parts,
    revenue from lineitems below 20% of that part's average quantity —
    the canonical correlated-scalar-subquery DECORRELATED into one
    map-side-combined per-part aggregate joined back to the fact
    table. The avg comparison stays integer: qty_c * 5 * n_li <
    sum_qty_c (both sides bigint) instead of a float avg — engine-
    exact at any scale. Part dim broadcasts; the per-part agg is
    partkey-sized so AQE broadcasts it onto the second fact pass."""
    li = _load(spark, sf, "lineitem")
    p = _load(spark, sf, "part").where(F.col("p_brand") == "Brand#2")
    per_part = li.groupBy("l_partkey").agg(
        F.expr(
            "cast(sum(cast(round(l_quantity * 100) as bigint)) as bigint)"
        ).alias("sum_qty_c"),
        F.count("*").cast("bigint").alias("n_li"),
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(per_part, "l_partkey")
        .where(
            F.expr(
                "cast(round(l_quantity * 100) as bigint) * 5 * n_li"
                " < sum_qty_c"
            )
        )
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.expr(
                "cast(sum(cast(round(l_extendedprice * 100) as bigint))"
                " as bigint)"
            ).alias("sum_price_c"),
            F.expr(
                "cast(sum(cast(round(l_extendedprice * 100) as bigint))"
                " as bigint) div 7"
            ).alias("avg_yearly_c"),
        )
    )


@query(lambda: TS.duck_kn_bigram_sql(), bench=True)
def q_kn_bigram(spark, sf):
    """Interpolated Kneser-Ney bigram LM (textstats.kn_bigram_topk,
    Kneser & Ney 1995 / Chen & Goodman 1999): absolute discount +
    continuation probability, all-integer fixed evaluation order so
    both engines agree bit-for-bit; every aggregate past the one
    corpus pass runs over the vocabulary^2-bounded bigram-type table;
    top-k via the two-phase salted window."""
    return TS.kn_bigram_topk(_load(spark, sf, "documents"))


@query(lambda: L.duck_phonetic_blocks_sql(_GM), bench=True)
def q_soundex_blocks(spark, sf):
    """Soundex phonetic blocking index over PERSON name tokens
    (link.phonetic_blocks) — the third blocking family next to
    MinHash-LSH and embedding sign-bands: variant spellings keep the
    same code (Smith/Smythe -> S530). Token stream collapses to
    distinct surfaces map-side BEFORE soundex; oracle inlines planted
    truth from the bit-exact Python mirror of Spark's soundex()."""
    return L.phonetic_blocks(_pipeline(spark, sf)["mentions"])


@query(lambda: duck_node2vec_walks_sql(_GT), bench=True)
def q_node2vec_walks(spark, sf):
    """node2vec second-order biased walks (extract.node2vec_walks,
    Grover & Leskovec 2016): p/q-weighted neighbor choice realized by
    an exact cumulative-weight threshold pick over the degree-capped
    adjacency — every draw a pure function of the edge set, replayed
    bit-for-bit by the chained-CTE oracle; per step one equi-join + a
    prev-adjacency mark join + two windows sharing one root exchange."""
    return node2vec_walks(_pipeline(spark, sf)["triples"])


@query(lambda: SIM.duck_rrf_sql([
    SIM.duck_hyperplane_lsh_topk_sql("vec_id < 32", k=3),
    SIM.duck_ivf_topk_sql("vec_id < 32", k=3),
], k=3), bench=True)
def q_embed_rrf(spark, sf):
    """Reciprocal-rank fusion of the LSH-band and IVF ANN rankings
    (similarity.rrf_fuse, Cormack 2009) — the hybrid-retrieval
    combiner: rank-only integer scores (1e6 div (60 + rank)), absent
    neighbors contribute 0, fused output bounded by queries x 2k; the
    oracle composes BOTH bit-exact ANN replays plus the fusion, so the
    end-to-end hybrid stack is value-hash certified."""
    embs = _load(spark, sf, "embeddings")
    return SIM.rrf_fuse(
        [
            SIM.hyperplane_lsh_topk(embs, "vec_id < 32", k=3),
            SIM.ivf_topk(embs, "vec_id < 32", k=3),
        ],
        k=3,
    )


@query(lambda: WG.duck_ktruss_sql(_GT), bench=True)
def q_ktruss(spark, sf):
    """Bounded-round k-truss peel of the host graph (webgraph.ktruss,
    Cohen 2008): the EDGE-centric density core next to q_kcore's
    vertex one, over the triangle-bearing ENTITY graph (the planted
    host graph is hub-spoke + chain, triangle-free by construction) —
    every surviving edge closes >= k-2 triangles among
    survivors; per round the degree-oriented wedge census explodes
    each triangle to its three member edges (map-side-combined
    support counts), fixed round budget with the fixpoint asserted in
    pytest; oracle replays rounds with independent brute triangle
    enumeration."""
    return WG.ktruss(_pipeline(spark, sf)["triples"])


@query(lambda: TS.duck_greedy_cover_sql(), bench=True)
def q_greedy_cover(spark, sf):
    """Greedy max-coverage corpus selection (textstats.greedy_cover,
    Nemhauser-Wolsey-Fisher 1 - 1/e): k docs picked by marginal NEW
    distinct tokens — facility-location data selection; one postings
    pass, then per round an anti-join + map-side per-doc count + ONE
    argmax row to the driver (the BPE/Lloyd discipline); saturation
    stops early identically in both engines; submodular monotone
    gains asserted in pytest."""
    return TS.greedy_cover(_load(spark, sf, "documents"))


@query("""
with lo as (
  select l_orderkey, l_suppkey,
         l_shipdate > o_orderdate + interval 60 day as late
  from lineitem join orders on o_orderkey = l_orderkey
),
w as (
  select distinct l_orderkey, l_suppkey from lo l1
  where late
    and exists (select 1 from lo l2 where l2.l_orderkey = l1.l_orderkey
                and l2.l_suppkey <> l1.l_suppkey)
    and not exists (select 1 from lo l3 where l3.l_orderkey = l1.l_orderkey
                    and l3.l_suppkey <> l1.l_suppkey and l3.late)
),
agg as (
  select l_suppkey as suppkey, cast(count(*) as bigint) as n_waits
  from w group by 1
)
select suppkey, s.s_name, n_waits, cast(rank as bigint) as rank
from (
  select *, row_number() over (order by n_waits desc, suppkey asc) as rank
  from agg
) a join supplier s on s.s_suppkey = a.suppkey
where rank <= 10
""", bench=True)
def q_tpch_waiting(spark, sf):
    """TPC-H Q21 shape (suppliers who kept orders waiting): multi-
    supplier orders where EXACTLY ONE supplier shipped late — the
    hardest TPC-H pattern (correlated EXISTS + NOT EXISTS pair)
    DECORRELATED into one per-order aggregate: n_supps (distinct
    suppliers) and n_late_supps (distinct late suppliers) computed in
    ONE map-side-combined pass, then the late lineitems keep orders
    with n_supps > 1 and n_late_supps = 1 via an order-keyed equi-join
    — no correlated re-scan of the fact table. 'Late' emulates
    receipt-past-commit as l_shipdate > o_orderdate + 60 days (the
    corpus carries no receipt/commit dates — documented). The oracle
    runs the TEXTBOOK EXISTS/NOT-EXISTS formulation, certifying the
    decorrelation itself. Top-10 by (n_waits desc, suppkey)."""
    li = _load(spark, sf, "lineitem")
    o = _load(spark, sf, "orders")
    s_dim = _load(spark, sf, "supplier")
    lo = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "l_orderkey", "l_suppkey",
            F.expr(
                "l_shipdate > o_orderdate + interval 60 days"
            ).alias("late"),
        )
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supps"),
        F.count_distinct(
            F.expr("case when late then l_suppkey end")
        ).alias("n_late_supps"),
    )
    waits = (
        lo.where("late")
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .join(
            per_order.where(
                (F.col("n_supps") > 1) & (F.col("n_late_supps") == 1)
            ),
            "l_orderkey",
        )
        .groupBy("l_suppkey")
        .agg(F.count("*").cast("bigint").alias("n_waits"))
    )
    w = W.orderBy(F.desc("n_waits"), F.asc("suppkey"))
    return (
        waits.join(
            F.broadcast(s_dim.select("s_suppkey", "s_name")),
            waits.l_suppkey == F.col("s_suppkey"),
        )
        .select(
            F.col("l_suppkey").alias("suppkey"), "s_name", "n_waits"
        )
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= 10)
    )


@query("""
with s as (
  select cast(sum(cast(round(c_acctbal * 100) as bigint)) as bigint)
           as sum_pos_c,
         cast(count(*) as bigint) as n_pos
  from customer where c_acctbal > 0
)
select cast(c_nationkey as bigint) as nationkey,
       cast(count(*) as bigint) as n_custs,
       cast(sum(cast(round(c_acctbal * 100) as bigint)) as bigint)
         as total_bal_c
from customer, s
where cast(round(c_acctbal * 100) as bigint) * n_pos > sum_pos_c
  and not exists (select 1 from orders o where o.o_custkey = c_custkey
                  and o.o_orderdate >= timestamp '2001-01-01')
group by 1
""", bench=True)
def q_tpch_idle(spark, sf):
    """TPC-H Q22 shape (global-sales-opportunity / dormant high-value
    customers): customers with above-average positive balance and NO
    order since 2001-01-01, rolled up by nation. The correlated AVG
    subquery decorrelates to a 1-row broadcast crossJoin, and the
    above-average test is the integer cross-multiplication
    bal_c * n_pos > sum_pos_c (exact where a float avg threshold is
    engine-rounded); the NOT EXISTS decorrelates to a left-anti join
    against the date-filtered orders (the filter pushes to the scan).
    Oracle keeps NOT EXISTS + the same integer arithmetic — the
    anti-join semantics are the certified element."""
    c = _load(spark, sf, "customer")
    o = _load(spark, sf, "orders")
    stats = c.where("c_acctbal > 0").agg(
        F.expr(
            "cast(sum(cast(round(c_acctbal * 100) as bigint)) as bigint)"
        ).alias("sum_pos_c"),
        F.count("*").cast("bigint").alias("n_pos"),
    )
    recent = o.where(
        F.expr("o_orderdate >= timestamp'2001-01-01 00:00:00'")
    ).select("o_custkey")
    return (
        c.crossJoin(F.broadcast(stats))
        .where(
            F.expr(
                "cast(round(c_acctbal * 100) as bigint) * n_pos"
                " > sum_pos_c"
            )
        )
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").cast("bigint").alias("nationkey"))
        .agg(
            F.count("*").cast("bigint").alias("n_custs"),
            F.expr(
                "cast(sum(cast(round(c_acctbal * 100) as bigint))"
                " as bigint)"
            ).alias("total_bal_c"),
        )
    )


@query(lambda: TS.duck_bootstrap_agreement_sql(), bench=True)
def q_bootstrap_ci(spark, sf):
    """Deterministic Poisson-bootstrap replica table for the
    classifier-vs-Gopher agreement rate (textstats.bootstrap_agreement,
    Efron 1979 / Oza-Russell streaming bootstrap): 64 hash-drawn
    Poisson(1) reweightings, acc_ppm per replica, reducer state 64
    rows total; the driver hash certifies every replica; pytest
    derives the percentile CI and pins the point estimate inside it."""
    return TS.bootstrap_agreement(_load(spark, sf, "documents"))


# benched: the heaviest iterative operator in the contract
@query(lambda: WG.duck_boruvka_msf_sql(_PAGES), bench=True)
def q_boruvka_msf(spark, sf):
    """Boruvka minimum spanning forest of the weighted host graph
    (webgraph.boruvka_msf, Boruvka 1926 — THE parallel MST algorithm):
    per round every component grabs its cheapest outgoing edge under
    the (w, a, b) total order (components >= halve, O(log n) rounds),
    merged components contract via link.connected_components (exact
    fixpoint; the oracle replays a fixed-budget min-label pass);
    weights are the SSSP link-mass convention. Oracle replays every
    round; pytest pins the forest == a Python Kruskal ground truth
    (unique under the total order, so two independent algorithms must
    agree edge-for-edge)."""
    return WG.boruvka_msf(_pipeline(spark, sf)["pages"])


@query(lambda: L.duck_sorted_neighborhood_sql(_GM), bench=True)
def q_sn_blocks(spark, sf):
    """Sorted-neighborhood blocking (link.sorted_neighborhood_pairs,
    Hernandez & Stolfo 1995) — the fourth blocking family (LSH
    shingles / sign-bands / Soundex / sorted windows): normalized
    PERSON surfaces sorted once, lead(d) pairs within the window, all
    lead calls sharing ONE vocabulary-sized ordering."""
    return L.sorted_neighborhood_pairs(_pipeline(spark, sf)["mentions"])


@query("""
            select l_returnflag, l_linestatus,
                   cast(grouping_id(l_returnflag, l_linestatus) as bigint)
                     as gid,
                   cast(count(*) as bigint) as n_rows,
                   cast(sum(cast(round(l_extendedprice * 100) as bigint))
                        as bigint) as sum_price_c
            from lineitem
            group by grouping sets ((l_returnflag, l_linestatus),
                                    (l_returnflag), ())
        """, bench=True)
def q_grouping_sets(spark, sf):
    """Explicit GROUPING SETS with grouping_id over lineitem — the
    third grouping-family surface next to rollup and cube: exactly the
    requested subtotal combinations ((flag, status), (flag), ()) plus
    the integer grouping_id that downstream consumers key subtotal
    rows on (NULL-vs-subtotal disambiguation, the trap grouping_id
    exists for). Partial aggregation still combines map-side under the
    expand; sums quantized to bigint cents."""
    e = _load(spark, sf, "lineitem")
    e.createOrReplaceTempView("nerpii_li_gsets")
    return spark.sql(
        """
        select l_returnflag, l_linestatus,
               cast(grouping_id(l_returnflag, l_linestatus) as bigint)
                 as gid,
               cast(count(*) as bigint) as n_rows,
               cast(sum(cast(round(l_extendedprice * 100) as bigint))
                    as bigint) as sum_price_c
        from nerpii_li_gsets
        group by grouping sets ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
        """
    )


@query("""
            with e as (
              select event_id, user_id,
                     epoch_ms(ts) // 1000 as ts_s,
                     cast(round(value * 100) as bigint) as v_c
              from events
            )
            select event_id, user_id,
                   cast(count(*) over w as bigint) as n_1h,
                   cast(sum(v_c) over w as bigint) as sum_1h_c
            from e
            window w as (partition by user_id order by ts_s
                         range between 3600 preceding and current row)
        """, bench=True)
def q_range_frame(spark, sf):
    """Time-RANGE window frame (the feature ROWS frames cannot
    express): per user the event count and value sum over the
    TRAILING HOUR of event time — frame membership is defined by the
    ORDER-BY VALUE distance, so ties and gaps behave correctly where
    a row-count frame drifts. Order key = tz-free integer epoch
    seconds (the layout.X_SQL convention: epoch arithmetic, never
    session-zone unix_timestamp); one user_id exchange, the frame
    state is the in-window row span."""
    e = _load(spark, sf, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_s")
        .rangeBetween(-3600, 0)
    )
    return (
        e.select(
            "event_id",
            "user_id",
            F.expr("unix_micros(cast(ts as timestamp)) div 1000000")
            .alias("ts_s"),
            F.round(F.col("value") * 100).cast("bigint").alias("v_c"),
        )
        .select(
            "event_id",
            "user_id",
            F.count("*").over(w).cast("bigint").alias("n_1h"),
            F.sum("v_c").over(w).cast("bigint").alias("sum_1h_c"),
        )
    )
