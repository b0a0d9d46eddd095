"""Host-level web-graph extraction from page anchors.

Common-Crawl pages carry outlinks; the host graph built from them is the
other graph a web-scale KG pipeline materializes next to the entity
graph (crawl prioritization, spam/hub detection, domain authority as a
quality prior). The planted corpus embeds two anchors per page
(sources/pages.py link_hosts): one into a uniform 977-host pool and one
into 13 hot hub hosts — in-degree skew ~75x.

Scale shape: extraction is regexp_extract_all over the html bytes —
whole-stage codegen, zero Python, zero shuffle; the only exchange is the
(src_host, dst_host) count aggregation, which map-side combines (the
hub hosts are hot keys, but a count partial is one row per (src, hub)
pair per task — the skew arrives pre-aggregated). PageRank over the
host graph reuses operators/extract.pagerank unchanged (integer
fixed-point, bit-exact oracle).

The DuckDB oracle recomputes the PLANTED link set from doc_id
arithmetic — matching it certifies extraction precision/recall = 1.0
against ground truth, not just plumbing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nerpii_spark.functions.hashing import sql_h1
from nerpii_spark.operators.extract import _closed_triangles, _undirected_edges
from nerpii_spark.sources.pages import HUB_SALT, N_HUB_HOSTS, N_SITE_HOSTS

_HOST_RE = "https?://([^/]+)"


def host_links(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """(src_host, dst_host) per anchor in each page's html."""
    hrefs = F.expr(
        f"regexp_extract_all(cast({html_col} as string),"
        " 'href=\"([^\"]+)\"', 1)"
    )
    return (
        pages.select(
            F.expr(f"regexp_extract({url_col}, '{_HOST_RE}', 1)").alias(
                "src_host"
            ),
            F.explode(hrefs).alias("href"),
        )
        .select(
            "src_host",
            F.expr(f"regexp_extract(href, '{_HOST_RE}', 1)").alias(
                "dst_host"
            ),
        )
        .where(F.col("dst_host") != "")
    )


def web_graph(pages: DataFrame) -> DataFrame:
    """Host-level edge list with link multiplicity ->
    (src_host, dst_host, n_links)."""
    return host_links(pages).groupBy("src_host", "dst_host").agg(
        F.count("*").alias("n_links")
    )


def distinct_host_edges(pages: DataFrame) -> DataFrame:
    """(u, v): distinct directed host edges, self-loops dropped — the
    shared first step of every host-graph analytic."""
    return (
        host_links(pages)
        .where(F.col("src_host") != F.col("dst_host"))
        .select(
            F.col("src_host").alias("u"), F.col("dst_host").alias("v")
        )
        .distinct()
    )


def sym_host_edges(pages: DataFrame, e: DataFrame | None = None) -> DataFrame:
    """(node, nbr): symmetric closure of the distinct host edges,
    checkpointed — the ONE shared construction every undirected
    host-graph op consumes (LPA, BFS depth, HyperBall, k-core), so an
    edge-policy change (normalization, self-loop handling) lands once
    and every oracle stays in lock-step."""
    if e is None:
        e = distinct_host_edges(pages)
    return (
        e.union(e.select("v", "u"))
        .distinct()
        .select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .localCheckpoint(eager=True)
    )


def host_edges_for_pagerank(pages: DataFrame) -> DataFrame:
    """Edges renamed to the (subj, obj) contract extract.pagerank
    consumes (it de-duplicates multi-edges itself)."""
    return host_links(pages).select(
        F.col("src_host").alias("subj"), F.col("dst_host").alias("obj")
    )


def cocitation(pages: DataFrame, max_per_page: int = 16) -> DataFrame:
    """Co-citation counts over the page-level link graph: for every
    unordered pair of hosts linked FROM THE SAME PAGE,
    (a, b, n_pages) — the classic relatedness signal (Small 1973)
    a web-scale KG uses as an entity-relatedness prior next to
    anchor-text and PageRank.

    Scale shape (same discipline as extract.entity_cooccur): outlinks
    are DISTINCT per (page, host) first, then a window count drops
    degenerate pages with > max_per_page distinct outlink hosts — a
    directory page linking thousands of hosts would otherwise emit
    O(L^2) pairs. The pair self-join keys on the page url (uniform,
    high-cardinality; fan-out bounded by the cap) and reuses the
    window's hash partitioning on both sides; the final (a, b) count
    map-side combines, so the hot hub-host pairs arrive at the
    reducer pre-aggregated."""
    from pyspark.sql import Window as W

    hrefs = F.expr(
        "regexp_extract_all(cast(html as string), 'href=\"([^\"]+)\"', 1)"
    )
    links = (
        pages.select(F.col("url"), F.explode(hrefs).alias("href"))
        .select(
            "url",
            F.expr(f"regexp_extract(href, '{_HOST_RE}', 1)").alias("host"),
        )
        .where(F.col("host") != "")
        .distinct()
    )
    links = (
        links.withColumn("nl", F.count("*").over(W.partitionBy("url")))
        .where(F.col("nl") <= max_per_page)
        .drop("nl")
    )
    b = links.select(
        F.col("url").alias("b_url"), F.col("host").alias("b_host")
    )
    return (
        links.join(
            b, (links.url == b.b_url) & (links.host < b.b_host)
        )
        .groupBy(F.col("host").alias("a"), F.col("b_host").alias("b"))
        .agg(F.count("*").cast("bigint").alias("n_pages"))
    )


def crawl_frontier(
    pages: DataFrame, k: int = 4, n_salt: int = 32
) -> DataFrame:
    """Politeness-capped recrawl frontier: per source host, the k
    STALEST pages -> (host, url, warc_ts, rk). A crawl scheduler's
    per-cycle work list: politeness limits fetches per host per cycle,
    and staleness (oldest warc_ts first) is the refresh priority.

    Skew shape (same two-phase trick as extract.topk_objs_per_pred): a
    single row_number window partitioned by host alone puts EVERY page
    of a giant host on one reducer (a wiki-sized host at crawl scale is
    10^8 rows); the pre-window partitions by (host, hash(url) % n_salt)
    and keeps each shard's local top-k — a superset of the global
    top-k — so the final host-only window ranks <= k * n_salt
    survivors per host. Ordering (ts_s asc, url asc) is total, so the
    result is deterministic and identical to the single-window form.
    The fetch time is emitted as integer epoch seconds ts_s via
    unix_micros — an instant, not a session-timezone rendering (the
    layout.X_SQL tz trap)."""
    from pyspark.sql import Window as W

    cand = pages.select(
        F.expr(f"regexp_extract(url, '{_HOST_RE}', 1)").alias("host"),
        "url",
        F.expr("unix_micros(warc_ts) div 1000000").alias("ts_s"),
    )
    w_shard = W.partitionBy(
        "host", F.pmod(F.xxhash64("url"), F.lit(n_salt))
    ).orderBy(F.asc("ts_s"), F.asc("url"))
    survivors = (
        cand.withColumn("prk", F.row_number().over(w_shard))
        .where(F.col("prk") <= k)
        .drop("prk")
    )
    w = W.partitionBy("host").orderBy(F.asc("ts_s"), F.asc("url"))
    return (
        survivors.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .withColumn("rk", F.col("rk").cast("bigint"))
    )


def duck_crawl_frontier_sql(pages_sql_duck: str, k: int = 4) -> str:
    """Oracle: the single-window form the two-phase plan must equal.
    The duck pages builder carries no warc_ts column; ts_s is recomputed
    from the planted BASE_EPOCH + doc_id arithmetic."""
    from nerpii_spark.sources.pages import BASE_EPOCH

    return f"""
with c as (
  select regexp_extract(url, '{_HOST_RE}', 1) as host, url,
         cast({BASE_EPOCH} + doc_id as bigint) as ts_s
  from ({pages_sql_duck})
),
r as (
  select host, url, ts_s,
         row_number() over (partition by host
                            order by ts_s asc, url asc) as rk
  from c
)
select host, url, ts_s, cast(rk as bigint) as rk from r where rk <= {k}
"""


def duck_cocitation_sql(pages_sql_duck: str) -> str:
    """Oracle: pair counts recomputed from the planted per-page link
    arithmetic (each page links exactly its next-site host and one hub
    host, so every page contributes one pair)."""
    nxt = f"cast({sql_h1('(doc_id + 1)', 0)} % {N_SITE_HOSTS} as string)"
    hub = f"cast({sql_h1('doc_id', HUB_SALT)} % {N_HUB_HOSTS} as string)"
    return f"""
with pg as (select doc_id from ({pages_sql_duck})),
p as (
  select least('site' || {nxt} || '.example',
               'hub' || {hub} || '.example') as a,
         greatest('site' || {nxt} || '.example',
                  'hub' || {hub} || '.example') as b
  from pg
)
select a, b, cast(count(*) as bigint) as n_pages from p group by 1, 2
"""


def resolve_redirects(edges: DataFrame, max_rounds: int = 16) -> DataFrame:
    """Redirect-chain resolution by POINTER DOUBLING: given the
    (src_url, dst_url) 3xx/rel=canonical edge set, map every source to
    its terminal target -> (src_url, final_url, hops).

    Each round composes the mapping with itself (u->v, v->w  =>  u->w,
    hops added), so a chain of length L resolves in ceil(log2 L)
    rounds — the textbook trick that turns an O(L)-step sequential
    walk into a handful of corpus-sized equi-joins (L can be 10^2 on
    real crawls; sequential per-hop joins would be 100 passes, this is
    7). Each round is one self-join + one convergence semi-join count;
    per-round localCheckpoint truncates the lineage (same discipline
    as CC/PageRank). A redirect CYCLE never terminates under doubling;
    max_rounds bounds the loop at 2^max_rounds hops (crawlers cap
    redirect chains far lower), leaving cycle members mapped to a
    cycle node rather than looping forever.

    Doubling requires a FUNCTIONAL map: a source recorded with two
    different targets (real crawl logs do this when a redirect changed
    between captures) would otherwise fan out multiplicatively each
    round — 2^r rows per source over r ambiguous hops. The map is
    therefore collapsed to one target per source up front
    (deterministic min(dst_url); a production resolver would pick
    latest-capture-wins by fetch timestamp BEFORE calling this, the
    same rule dedup.canonical_urls applies)."""
    m = (
        edges.groupBy(F.col("src_url").alias("u"))
        .agg(F.min("dst_url").alias("v"))
        .select("u", "v", F.lit(1).cast("bigint").alias("hops"))
        .localCheckpoint(eager=True)
    )
    srcs = m.select(F.col("u").alias("s_u")).localCheckpoint(eager=True)
    for _ in range(max_rounds):
        j = m.select(
            F.col("u").alias("ju"),
            F.col("v").alias("jv"),
            F.col("hops").alias("jh"),
        )
        m = (
            m.join(j, m.v == j.ju, "left")
            .select(
                "u",
                F.coalesce("jv", "v").alias("v"),
                (
                    F.col("hops")
                    + F.coalesce(F.col("jh"), F.lit(0).cast("bigint"))
                ).alias("hops"),
            )
            .localCheckpoint(eager=True)
        )
        pending = m.join(srcs, m.v == srcs.s_u, "left_semi").count()
        if pending == 0:
            break
    return m.select(
        F.col("u").alias("src_url"),
        F.col("v").alias("final_url"),
        "hops",
    )


def duck_resolve_redirects_sql(redirects_sql_duck: str) -> str:
    """Oracle: closed-form 3-hop fold (the planted chains are <= 3
    edges), independent of the doubling iteration."""
    return f"""
with e as ({redirects_sql_duck})
select a.src_url,
       coalesce(c.dst_url, b.dst_url, a.dst_url) as final_url,
       cast(1 + cast(b.src_url is not null as int)
              + cast(c.src_url is not null as int) as bigint) as hops
from e a
left join e b on b.src_url = a.dst_url
left join e c on c.src_url = b.dst_url
"""


def host_components(pages: DataFrame) -> DataFrame:
    """Weakly-connected components of the host graph -> (host, component);
    component = lexicographic-min host label. The crawl-health diagnostic
    a web-scale pipeline runs before graph analytics: PageRank/HITS
    numbers are only comparable within a component, and a crawl whose
    host graph fragments into many components usually lost a seed list.

    Scale shape: reuses link.connected_components (large-star /
    small-star contraction: two map-side-combined min aggs + two
    node-keyed joins per round, per-half-round localCheckpoint, a
    star-forest probe that raises on an exhausted budget). Rounds are
    O(log n) whatever the diameter, so a crawl whose host graph is a
    long filament costs no more rounds than the small-world planted
    graph (every page links one of 13 hub hosts, diameter ~4). On the
    sf0.01 host graph it ran 50 Spark jobs where min-label propagation
    ran 70, at the same wall.

    The DuckDB oracle recomputes true components over the PLANTED link
    set via a recursive min-label CTE — an independent formulation, so a
    split or merged component fails the gate."""
    from nerpii_spark.operators.link import connected_components

    e = distinct_host_edges(pages)
    edges = e.select(
        F.col("u").alias("sid_a"), F.col("v").alias("sid_b")
    )
    nodes = (
        e.select(F.col("u").alias("sid")).union(e.select("v")).distinct()
    )
    return connected_components(nodes, edges).select(
        F.col("sid").alias("host"), F.col("label").alias("component")
    )


def duck_host_components_sql(pages_sql_duck: str) -> str:
    """Oracle: true WCC over the planted link set (recursive CTE, the
    dedup-survivors pattern)."""
    return f"""
with recursive
links as materialized (
  select src_host, dst_host from ({duck_planted_links_sql(pages_sql_duck)})
  where src_host <> dst_host
),
nodes as materialized (
  select src_host as host from links union select dst_host from links
),
sym as materialized (
  select src_host as src, dst_host as dst from links
  union select dst_host, src_host from links
),
reach(id, lbl) as (
  select host, host from nodes
  union
  select s.dst, r.lbl
  from reach r join sym s on s.src = r.id
  where r.lbl < s.dst
)
select id as host, min(lbl) as component from reach group by 1
"""


LPA_ROUNDS = 2


def lpa_communities(pages: DataFrame, n_rounds: int = LPA_ROUNDS) -> DataFrame:
    """Bounded-round synchronous label propagation (Raghavan et al. 2007)
    over the undirected host graph -> (host, community). The cheap
    community detector a web pipeline uses for mirror-farm / link-ring
    grouping where CC is too coarse (everything is one component through
    the hubs) and modularity methods are too expensive.

    Semantics (deterministic by construction, so the oracle replays it
    exactly): labels start as the host itself; each round every node
    adopts the most frequent label among its neighbors, ties broken by
    lexicographic-min label, all nodes updating synchronously from the
    previous round's labels; a FIXED n_rounds (not convergence) — classic
    LPA oscillates on bipartite structures, so bounded rounds is the
    reproducible variant.

    Scale shape: per round ONE equi-join (neighbor labels) + one
    (node, label) count that map-side combines + one min(struct(-count,
    label)) argmax that also combines — hub nodes' votes arrive
    pre-aggregated; localCheckpoint per round truncates the iterative
    lineage (the CC/PageRank discipline)."""
    sym = sym_host_edges(pages)
    labels = (
        sym.select("node")
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint(eager=True)
    )
    lab = labels
    for _ in range(n_rounds):
        nl = lab.select(F.col("node").alias("l_node"), "label")
        votes = (
            sym.join(nl, sym.nbr == nl.l_node)
            .groupBy("node", "label")
            .agg(F.count("*").alias("c"))
        )
        best = (
            votes.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("c")).alias("nc"), F.col("label").alias("l")
                    )
                ).alias("b")
            )
            .select("node", F.col("b.l").alias("new_label"))
        )
        lab = (
            lab.join(best, "node", "left")
            .select(
                "node",
                F.coalesce("new_label", "label").alias("label"),
            )
            .localCheckpoint(eager=True)
        )
    return lab.select(F.col("node").alias("host"), F.col("label").alias("community"))


def duck_lpa_communities_sql(
    pages_sql_duck: str, n_rounds: int = LPA_ROUNDS
) -> str:
    """Oracle: the same synchronous rounds as chained MATERIALIZED CTEs;
    the argmax is a row_number window — an independent formulation of
    min(struct(-count, label))."""
    ctes = [
        f"""
links as materialized (
  select distinct src_host as u, dst_host as v
  from ({duck_planted_links_sql(pages_sql_duck)})
  where src_host <> dst_host
),
sym as materialized (
  select u as node, v as nbr from links union select v, u from links
),
l0 as materialized (select distinct node as host, node as label from sym)"""
    ]
    for r in range(1, n_rounds + 1):
        p = r - 1
        ctes.append(
            f"""
v{r} as materialized (
  select s.node, l.label, count(*) as c
  from sym s join l{p} l on l.host = s.nbr
  group by 1, 2
),
r{r} as materialized (
  select node, label,
         row_number() over (partition by node
                            order by c desc, label asc) as rk
  from v{r}
),
l{r} as materialized (
  select l{p}.host, coalesce(r.label, l{p}.label) as label
  from l{p} left join (select * from r{r} where rk = 1) r
    on r.node = l{p}.host
)"""
        )
    return (
        "with " + ",".join(ctes)
        + f"\nselect host, label as community from l{n_rounds}"
    )


def duck_planted_links_sql(pages_sql_duck: str) -> str:
    """Planted ground-truth link set (src_host, dst_host) recomputed from
    doc_id arithmetic — the oracle side of the extraction check."""
    nxt = f"cast({sql_h1('(doc_id + 1)', 0)} % {N_SITE_HOSTS} as string)"
    hub = f"cast({sql_h1('doc_id', HUB_SALT)} % {N_HUB_HOSTS} as string)"
    return f"""
with pg as (select doc_id, url from ({pages_sql_duck})),
links as (
  select regexp_extract(url, '{_HOST_RE}', 1) as src_host,
         'site' || {nxt} || '.example' as dst_host
  from pg
  union all
  select regexp_extract(url, '{_HOST_RE}', 1),
         'hub' || {hub} || '.example'
  from pg
)
select src_host, dst_host from links
"""


def duck_web_graph_sql(pages_sql_duck: str) -> str:
    return f"""
select src_host, dst_host, count(*) as n_links
from ({duck_planted_links_sql(pages_sql_duck)})
group by 1, 2
"""


BFS_SEEDS = 16
BFS_MAX_DEPTH = 4


def crawl_depth(
    pages: DataFrame,
    n_seeds: int = BFS_SEEDS,
    max_depth: int = BFS_MAX_DEPTH,
) -> DataFrame:
    """Multi-source BFS hop distance from the authority core ->
    (host, depth): seeds are the top `n_seeds` hosts by in-degree
    (deterministic tie-break by host name), depth = undirected hops to
    the nearest seed, hosts beyond max_depth omitted. The crawl-planning
    metric behind "how far is this host from the well-connected core" —
    frontier scheduling and spam heuristics both key on it.

    Scale shape: the seeds come from `_top_indeg_seeds` (driver holds
    n_seeds keys, never the degree table); the BFS is `_bounded_reach`
    over the symmetric edge list, one frontier equi-join + anti-join
    per round. Rounds are FIXED (max_depth), not convergence-tested —
    depth beyond the horizon is "not reachable in budget", which is the
    semantics a crawl budget actually has; the chained-CTE oracle
    replays the same bounded expansion."""
    e = distinct_host_edges(pages)
    sym = sym_host_edges(pages, e)
    return _bounded_reach(sym, _top_indeg_seeds(e, n_seeds), max_depth)


def _top_indeg_seeds(e: DataFrame, n_seeds: int) -> DataFrame:
    """(host): the `n_seeds` heads of (u, v) edges with the most
    in-edges, ties by host name — a map-side-combined in-degree count
    and a TakeOrdered of n_seeds rows."""
    indeg = e.groupBy(F.col("v").alias("host")).agg(
        F.count("*").alias("indeg")
    )
    return (
        indeg.orderBy(F.desc("indeg"), F.asc("host"))
        .limit(n_seeds)
        .select("host")
    )


def _bounded_reach(
    directed: DataFrame, seed: DataFrame, max_depth: int
) -> DataFrame:
    """Hosts reachable from `seed` (host) following `directed`
    (node -> nbr) edges within max_depth hops -> (host, depth), depth =
    hops to the nearest seed, seeds at 0. Each round is one frontier
    equi-join + one anti-join against everything reached so far; the
    new frontier and the reached set are pinned eagerly per round, so
    no round re-plans an earlier one."""
    reach = seed.select(
        "host", F.lit(0).cast("bigint").alias("depth")
    ).localCheckpoint(eager=True)
    frontier = reach
    for d in range(1, max_depth + 1):
        new = (
            directed.join(frontier, directed.node == frontier.host)
            .select(F.col("nbr").alias("host"))
            .distinct()
            .join(reach, "host", "left_anti")
            .select("host", F.lit(d).cast("bigint").alias("depth"))
            .localCheckpoint(eager=True)
        )
        reach = reach.unionByName(new).localCheckpoint(eager=True)
        frontier = new
    return reach


def duck_crawl_depth_sql(
    pages_sql_duck: str,
    n_seeds: int = BFS_SEEDS,
    max_depth: int = BFS_MAX_DEPTH,
) -> str:
    """Oracle: the same bounded expansion as chained MATERIALIZED CTEs;
    seed selection is an independent row_number formulation of the
    TakeOrdered."""
    ctes = [
        f"""
links as materialized (
  select distinct src_host as u, dst_host as v
  from ({duck_planted_links_sql(pages_sql_duck)})
  where src_host <> dst_host
),
sym as materialized (
  select u as node, v as nbr from links union select v, u from links
),
indeg as materialized (select v as host, count(*) as c from links group by 1),
seeds as materialized (
  select host from (
    select host, row_number() over (order by c desc, host asc) as rk
    from indeg
  ) where rk <= {n_seeds}
),
d0 as materialized (select host, cast(0 as bigint) as depth from seeds)"""
    ]
    acc = "d0"
    for d in range(1, max_depth + 1):
        ctes.append(
            f"""
f{d} as materialized (
  select distinct s.nbr as host, cast({d} as bigint) as depth
  from sym s join {acc} a on a.host = s.node and a.depth = {d - 1}
  where s.nbr not in (select host from {acc})
),
d{d} as materialized (
  select host, depth from {acc} union all select host, depth from f{d}
)"""
        )
        acc = f"d{d}"
    return (
        "with " + ",".join(ctes)
        + f"\nselect host, depth from {acc}"
    )


TRUST_SEEDS = 16


def trustrank(
    edges: DataFrame, n_iter: int = 3, n_seeds: int = TRUST_SEEDS
) -> DataFrame:
    """TrustRank (Gyongyi et al. 2004) over a directed (subj, obj) edge
    list -> (node, trust_e12): PageRank with the teleport vector
    CONCENTRATED on a trusted seed set instead of uniform — trust flows
    out from the seeds along links, so link-farm islands that inflate
    plain PageRank score ~zero. The classic web-spam demotion signal a
    crawl pipeline computes next to PageRank.

    Seeds here are the top n_seeds hosts by in-degree (deterministic
    tie-break by name) — the stand-in for a human-vetted whitelist; the
    operator takes any seed rule that yields a DataFrame.

    The round is extract's `_rank_rounds` with the seeds passed in, so
    the chained-CTE DuckDB oracle replays it bit-for-bit:

      r'(v) = (150*seed_base(v) + 850*(contrib(v)
               + [v in seeds] * (dang div n_actual))) div 1000

    where seed_base(v) = PR_SCALE div n_actual on seeds else 0, and
    dangling mass teleports BACK TO THE SEEDS (uniform redistribution
    would leak trust to spam sinks — the differentiator vs pagerank).
    The seed flag is an n_seeds-row broadcast join before the loop."""
    from nerpii_spark.operators.extract import _rank_edges, _rank_rounds

    e = _rank_edges(
        edges.select(
            F.col("subj").alias("src"), F.col("obj").alias("dst")
        ).distinct()
    )
    seeds = (
        e.groupBy(F.col("dst").alias("node"))
        .agg(F.count("*").alias("indeg"))
        .orderBy(F.desc("indeg"), F.asc("node"))
        .limit(n_seeds)
        .localCheckpoint(eager=True)
    )
    ranks = _rank_rounds(e, None, n_iter, "rank div odeg", seeds=seeds)
    return ranks.select("node", F.col("rank").alias("trust_e12"))


def duck_trustrank_sql(
    edges_sql: str, n_iter: int = 3, n_seeds: int = TRUST_SEEDS
) -> str:
    """Oracle: the same seeded integer fixed-point unrolled as chained
    MATERIALIZED CTEs; seed selection is an independent row_number
    formulation of the TakeOrdered."""
    from nerpii_spark.operators.extract import PR_DAMP, PR_SCALE

    head = f"""
with
e as materialized (select distinct subj as src, obj as dst
      from ({edges_sql}) where subj <> obj),
nodes as materialized (select src as node from e union select dst from e),
indeg as materialized (select dst as node, count(*) as c from e group by 1),
seeds as materialized (
  select node from (
    select node, row_number() over (order by c desc, node asc) as rk
    from indeg
  ) where rk <= {n_seeds}
),
meta as materialized (select count(*) as ns from seeds),
sbase as materialized (
  select cast({PR_SCALE} // (select ns from meta) as bigint) as b
),
od as materialized (select src, count(*) as odeg from e group by 1),
r0 as materialized (
  select n.node,
         case when s.node is not null then (select b from sbase)
              else cast(0 as bigint) end as rank
  from nodes n left join seeds s on s.node = n.node
)"""
    steps = []
    for i in range(1, n_iter + 1):
        p = i - 1
        steps.append(f"""
c{i} as materialized (
  select e.dst as node, cast(sum(r.rank // od.odeg) as bigint) as c
  from e join r{p} r on r.node = e.src join od on od.src = e.src
  group by 1),
d{i} as materialized (
  select cast(coalesce(sum(r.rank), 0) as bigint) as dang
  from r{p} r left join od on od.src = r.node where od.src is null),
r{i} as materialized (
  select n.node,
         cast((150 * (case when s.node is not null
                           then (select b from sbase)
                           else cast(0 as bigint) end)
               + {PR_DAMP} * (coalesce(c.c, cast(0 as bigint))
                   + (case when s.node is not null
                      then (select dang from d{i})
                           // (select cast(ns as bigint) from meta)
                      else cast(0 as bigint) end)))
              // 1000 as bigint) as rank
  from nodes n
  left join c{i} c on c.node = n.node
  left join seeds s on s.node = n.node)""")
    return (
        head + "," + ",".join(steps)
        + f"\nselect node, rank as trust_e12 from r{n_iter}"
    )


ANF_ROUNDS = 3


def neighborhood_function(
    pages: DataFrame, n_rounds: int = ANF_ROUNDS
) -> DataFrame:
    """ANF / HyperBall (Palmer et al. 2002; Boldi et al. 2011): the
    neighborhood function N(r) = sum over nodes of |ball(v, r)| estimated
    with per-node HLL register sketches propagated along edges ->
    (r, est_pairs) for r = 0..n_rounds. THE scalable way to measure a
    graph's effective diameter: exact per-node balls need O(n^2) state,
    the sketch needs <= 64 registers per node, and register MERGE is MAX
    — associative, commutative, idempotent — so ball growth is one
    groupBy-MAX per round.

    Every bit derives from the repo's frozen portable hash chain exactly
    as operators/sketch.hll_distinct does (same register count, rho, and
    integer estimate arithmetic), so the DuckDB oracle replays the
    DISTRIBUTED SKETCH ITSELF bit-for-bit; a pytest gates estimate
    accuracy against exact BFS ball sizes (the part an identical
    recomputation cannot certify). Raw HLL has no small-range
    correction, so the r=0 row (every ball = 1) reads ~alpha*m — kept
    anyway because the oracle must replay all rounds and the row
    documents the small-range regime honestly.

    Scale shape: registers live as SPARSE (node, j, rho) rows — at most
    min(|ball|, 64) per node; each round is ONE equi-join of the
    symmetric edge list against the register table + one groupBy(node,
    j) MAX whose map-side partial state is bounded by 64 rows per node
    per task (hub skew arrives pre-combined), then a <= 2-level sum for
    the estimate row; per-round localCheckpoint truncates lineage.
    Undirected balls (the crawl_depth convention)."""
    sym, regs = _hyperball_init(pages)

    def est_row(regs_df: DataFrame, r: int) -> DataFrame:
        return _hyperball_node_est(regs_df).agg(
            F.lit(r).cast("bigint").alias("r"),
            F.sum("est").cast("bigint").alias("est_pairs"),
        )

    out = est_row(regs, 0)
    for r in range(1, n_rounds + 1):
        regs = _hyperball_step(sym, regs)
        out = out.unionByName(est_row(regs, r))
    return out


def _hyperball_init(pages: DataFrame):
    """Shared HyperBall state: (sym edge list, round-0 registers) — the
    sparse (node, j, rho) single-element sketches seeded from the frozen
    hash chain (operators/sketch conventions)."""
    from nerpii_spark.functions.hashing import sql_h2, sql_strhash
    from nerpii_spark.operators.sketch import M_REGS, _rho_sql

    sym = sym_host_edges(pages)
    w = sql_h2(sql_strhash("node"), 5)
    u_expr = sql_h2("w", 7)
    regs = (
        sym.select("node")
        .distinct()
        .selectExpr("node", f"{w} as w")
        .selectExpr(
            "node",
            f"w % {M_REGS} as j",
            f"cast({_rho_sql(u_expr)} as bigint) as rho",
        )
        .localCheckpoint(eager=True)
    )
    return sym, regs


def _hyperball_step(sym: DataFrame, regs: DataFrame) -> DataFrame:
    """One ball-growth round: merge every node's registers with its
    neighbors' (register merge is MAX — one equi-join + one map-side-
    combined groupBy-MAX), lineage truncated per round."""
    nbr_regs = sym.join(regs.withColumnRenamed("node", "nbr"), "nbr").select(
        "node", "j", "rho"
    )
    return (
        regs.unionByName(nbr_regs)
        .groupBy("node", "j")
        .agg(F.max("rho").alias("rho"))
        .localCheckpoint(eager=True)
    )


def _hyperball_node_est(regs_df: DataFrame) -> DataFrame:
    """(node, j, rho) registers -> (node, est): the integer HLL ball-size
    estimate per node (same arithmetic as sketch.hll_distinct)."""
    from nerpii_spark.operators.sketch import (
        M_REGS,
        RHO_CAP,
        _EST_NUM,
        _EST_DEN,
        _pow2_sql,
    )

    return regs_df.groupBy("node").agg(
        F.expr(
            f"cast({_EST_NUM} div ({_EST_DEN} *"
            f" (cast(sum({_pow2_sql('spark', f'{RHO_CAP} - rho')})"
            f" + ({M_REGS} - count(*))"
            f" * {_pow2_sql('spark', str(RHO_CAP))} as bigint)))"
            " as bigint)"
        ).alias("est")
    )


def harmonic_centrality(
    pages: DataFrame, n_rounds: int = ANF_ROUNDS
) -> DataFrame:
    """HyperBall harmonic centrality (Boldi & Vigna 2014 — the metric
    HyperBall was built to compute at web scale) -> (host,
    harmonic_milli): C_H(v) = sum over distances d of |ball(v,d)| -
    |ball(v,d-1)| weighted 1/d, estimated from the SAME per-node HLL
    ball sketches as neighborhood_function. The centrality a crawl/KG
    ranker uses when PageRank's link-endorsement prior is wrong for the
    question "how close is this host to everything else" (spam farms
    inflate in-links but not closeness).

    Integer identity per round r >= 1: term = (1000 * (est_r - est_{r-1}))
    div r, summed over rounds — register MAX only grows, so s_sum only
    shrinks and est is monotone non-decreasing: every term is >= 0 by
    construction. Same frozen hash chain as the sketch family, so the
    DuckDB oracle replays the distributed sketch AND the centrality fold
    bit-for-bit.

    Scale shape: identical to neighborhood_function (one equi-join + one
    bounded groupBy-MAX per round, per-round localCheckpoint); the
    per-round difference is a node-keyed join of two node-sized
    estimate tables — never corpus-sized, and the final rollup is one
    map-side-combined sum."""
    sym, regs = _hyperball_init(pages)
    prev = _hyperball_node_est(regs)
    acc = None
    for r in range(1, n_rounds + 1):
        regs = _hyperball_step(sym, regs)
        cur = _hyperball_node_est(regs)
        term = (
            cur.join(
                prev.select(
                    "node", F.col("est").alias("est_p")
                ),
                "node",
            )
            .select(
                "node",
                F.expr(
                    f"cast((1000 * (est - est_p)) div {r} as bigint)"
                ).alias("term"),
            )
        )
        acc = term if acc is None else acc.unionByName(term)
        prev = cur
    return acc.groupBy(F.col("node").alias("host")).agg(
        F.sum("term").cast("bigint").alias("harmonic_milli")
    )


def _duck_hyperball_ctes(pages_sql_duck: str, n_rounds: int) -> list[str]:
    """Shared oracle CTE chain sym, g0..g{n_rounds} replaying the
    HyperBall register propagation over the planted link set."""
    from nerpii_spark.functions.hashing import sql_h2, sql_strhash
    from nerpii_spark.operators.sketch import M_REGS, _rho_sql

    w = sql_h2(sql_strhash("node"), 5)
    u_expr = sql_h2("w", 7)
    ctes = [
        f"""
links as materialized (
  select distinct src_host as u, dst_host as v
  from ({duck_planted_links_sql(pages_sql_duck)})
  where src_host <> dst_host
),
sym as materialized (
  select u as node, v as nbr from links union select v, u from links
),
g0 as materialized (
  select node, w % {M_REGS} as j, cast({_rho_sql(u_expr)} as bigint) as rho
  from (select distinct node, {w} as w from (select node from sym))
)"""
    ]
    for r in range(1, n_rounds + 1):
        p = r - 1
        ctes.append(
            f"""
g{r} as materialized (
  select node, j, max(rho) as rho from (
    select node, j, rho from g{p}
    union all
    select s.node, g.j, g.rho from sym s join g{p} g on g.node = s.nbr
  ) group by node, j
)"""
        )
    return ctes


def _duck_hyperball_node_est(rel: str) -> str:
    """Per-node integer HLL estimate subquery over a register CTE."""
    from nerpii_spark.operators.sketch import (
        M_REGS,
        RHO_CAP,
        _EST_NUM,
        _EST_DEN,
        _pow2_sql,
    )

    p2 = lambda ex: _pow2_sql("duckdb", ex)
    return f"""
select node, cast({_EST_NUM} // ({_EST_DEN} * s_sum) as bigint) as est
from (
  select node,
         cast(sum({p2(f"{RHO_CAP} - rho")})
              + ({M_REGS} - count(*)) * {p2(str(RHO_CAP))} as bigint) as s_sum
  from {rel} group by node
)"""


def duck_neighborhood_function_sql(
    pages_sql_duck: str, n_rounds: int = ANF_ROUNDS
) -> str:
    """Oracle: the same register propagation + integer estimate as
    chained MATERIALIZED CTEs (sum(bigint) is HUGEINT in DuckDB — cast
    at every level, the CLAUDE.md trap)."""
    est = (
        lambda rel, r: f"""
select cast({r} as bigint) as r,
       cast(sum(est) as bigint) as est_pairs
from ({_duck_hyperball_node_est(rel)})"""
    )
    ctes = _duck_hyperball_ctes(pages_sql_duck, n_rounds)
    finals = [est(f"g{r}", r) for r in range(n_rounds + 1)]
    return "with " + ",".join(ctes) + " " + " union all ".join(finals)


def duck_harmonic_centrality_sql(
    pages_sql_duck: str, n_rounds: int = ANF_ROUNDS
) -> str:
    """Oracle: the same HyperBall chain, per-node estimates per round,
    and the integer 1/d-weighted difference fold."""
    ctes = _duck_hyperball_ctes(pages_sql_duck, n_rounds)
    for r in range(n_rounds + 1):
        ctes.append(
            f"e{r} as materialized ({_duck_hyperball_node_est(f'g{r}')})"
        )
    terms = " union all ".join(
        f"""
select c.node, cast((1000 * (c.est - p.est)) // {r} as bigint) as term
from e{r} c join e{r - 1} p using (node)"""
        for r in range(1, n_rounds + 1)
    )
    return (
        "with " + ",".join(ctes)
        + f"""
select node as host, cast(sum(term) as bigint) as harmonic_milli
from ({terms}) group by 1
"""
    )


KCORE_K = 3
KCORE_ROUNDS = 4


def kcore(
    pages: DataFrame, k: int = KCORE_K, n_rounds: int = KCORE_ROUNDS
) -> DataFrame:
    """Bounded-round k-core peel (Seidman 1983 cores; the Batagelj-
    Zaversnik peel expressed as synchronous rounds) over the undirected
    host graph -> (host, core_deg): repeatedly delete every node whose
    remaining degree is < k, then report each survivor's degree inside
    the surviving subgraph. The web-graph densest-region primitive —
    link-farm and mirror-ring detection key on "is this host in a dense
    core", and crawl schedulers protect the k-core as the canonical
    authority nucleus (PageRank mass concentrates there).

    Rounds are FIXED (n_rounds), not convergence-tested — the same
    reproducibility convention as lpa_communities; each extra round past
    the fixpoint is a no-op on both engines, and the pytest gate asserts
    the planted graph actually reaches its fixpoint inside the budget
    (one more round changes nothing), so the bound is verified rather
    than hoped.

    Scale shape: per round ONE map-side-combined degree count + two
    semi-joins restricting the edge list to surviving endpoints (hash
    joins on the host key; the hub-host skew arrives at the reducer
    pre-aggregated because a count partial is one row per (task, node)).
    localCheckpoint per round truncates the iterative lineage (the
    CC/PageRank discipline). No window over the full edge list, no
    collect — the driver never holds anything."""
    sym = sym_host_edges(pages)
    for _ in range(n_rounds):
        deg = sym.groupBy("node").agg(F.count("*").alias("deg"))
        keep = deg.where(F.col("deg") >= k).select("node")
        sym = (
            sym.join(keep, "node", "left_semi")
            .join(
                keep.select(F.col("node").alias("nbr")), "nbr", "left_semi"
            )
            .localCheckpoint(eager=True)
        )
    return sym.groupBy(F.col("node").alias("host")).agg(
        F.count("*").cast("bigint").alias("core_deg")
    )


def duck_kcore_sql(
    pages_sql_duck: str, k: int = KCORE_K, n_rounds: int = KCORE_ROUNDS
) -> str:
    """Oracle: the same synchronous peel rounds as chained MATERIALIZED
    CTEs over the PLANTED link set (extraction correctness rides along,
    as in every webgraph oracle)."""
    ctes = [
        f"""
links as materialized (
  select distinct src_host as u, dst_host as v
  from ({duck_planted_links_sql(pages_sql_duck)})
  where src_host <> dst_host
),
e0 as materialized (
  select u as node, v as nbr from links union select v, u from links
)"""
    ]
    for r in range(1, n_rounds + 1):
        p = r - 1
        ctes.append(
            f"""
k{r} as materialized (
  select node from e{p} group by node having count(*) >= {k}
),
e{r} as materialized (
  select e.node, e.nbr from e{p} e
  join k{r} a on a.node = e.node
  join k{r} b on b.node = e.nbr
)"""
        )
    return (
        "with " + ",".join(ctes)
        + f"""
select node as host, cast(count(*) as bigint) as core_deg
from e{n_rounds} group by 1
"""
    )


MIRROR_TOPK = 20
MIRROR_MAX_DF = 8
MIRROR_SALT = 32


def host_mirror_topk(
    pages: DataFrame,
    k: int = MIRROR_TOPK,
    max_df: int = MIRROR_MAX_DF,
    n_salt: int = MIRROR_SALT,
) -> DataFrame:
    """Mirror / duplicate-site detection: the k host pairs with the most
    similar distinct OUT-LINK sets -> (rank, host_a, host_b, n_inter,
    n_union, sim_e6), sim_e6 = floor(1e6 * |A∩B| / |A∪B|). Mirrors,
    parked-domain farms and boilerplate-syndication rings link the same
    places; out-link Jaccard is the classic structural signal that needs
    no content fetch.

    Scale shape (the ngram-dedup discipline applied to the graph):
      * candidates come from a df-CAPPED posting self-join
        (dedup._bucket_pairs, degrade=False): a destination linked from
        more than max_df hosts — the hub hosts by construction — carries
        no mirror signal and would land O(df^2) pairs on one reducer;
        the df count pre-aggregates map-side, so the hot hub key never
        concentrates its posting list.
      * counts are EXACT from the full posting lists (hubs included):
        n_inter is one join keyed on (candidate, dst) — per-pair cost is
        deg(host_a) joined rows, never a collected set — and n_union =
        deg_a + deg_b - n_inter from the map-side-combined degree table;
        no collect_set of an out-link set that grows with the corpus.
      * integer sim_e6 ranks identically on both engines (no float
        ordering); top-k is the two-phase salted window (pre-rank per
        hash(host_a, host_b) % n_salt shard, final over <= k * n_salt
        survivors) so the global ranking never funnels all candidates
        through one reducer.
    The pytest gate plants literal mirrors on a crafted graph; the
    DuckDB oracle replays cap, counts and ranking over the planted link
    set, so extraction rides along (P/R = 1.0) as in every webgraph
    oracle."""
    from pyspark.sql import Window as W

    from nerpii_spark.operators.dedup import _bucket_pairs

    posting = (
        distinct_host_edges(pages)
        .select(F.col("v").alias("feat"), F.col("u").alias("sid"))
        .localCheckpoint(eager=False)
    )
    pairs = _bucket_pairs(posting, ["feat"], "sid", max_df, degrade=False)
    deg = posting.groupBy("sid").agg(F.count("*").alias("deg"))
    pa = posting.select(F.col("sid").alias("id_a"), "feat")
    pb = posting.select(F.col("sid").alias("id_b"), "feat")
    inter = (
        pairs.join(pa, "id_a")
        .join(pb, ["id_b", "feat"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    scored = (
        inter.join(deg.select(F.col("sid").alias("id_a"),
                              F.col("deg").alias("deg_a")), "id_a")
        .join(deg.select(F.col("sid").alias("id_b"),
                         F.col("deg").alias("deg_b")), "id_b")
        .select(
            F.col("id_a").alias("host_a"),
            F.col("id_b").alias("host_b"),
            F.col("n_inter").cast("bigint").alias("n_inter"),
            (F.col("deg_a") + F.col("deg_b") - F.col("n_inter"))
            .cast("bigint")
            .alias("n_union"),
        )
        .withColumn(
            "sim_e6",
            F.expr("cast(n_inter * 1000000 as bigint) div n_union"),
        )
    )
    order = [F.desc("sim_e6"), F.asc("host_a"), F.asc("host_b")]
    w_shard = W.partitionBy(
        F.pmod(F.xxhash64("host_a", "host_b"), F.lit(n_salt))
    ).orderBy(*order)
    return (
        scored.withColumn("prk", F.row_number().over(w_shard))
        .where(F.col("prk") <= k)
        .withColumn("rank", F.row_number().over(W.orderBy(*order)))
        .where(F.col("rank") <= k)
        .select(
            F.col("rank").cast("bigint").alias("rank"),
            "host_a", "host_b", "n_inter", "n_union", "sim_e6",
        )
    )


def duck_host_mirror_topk_sql(
    pages_sql_duck: str,
    k: int = MIRROR_TOPK,
    max_df: int = MIRROR_MAX_DF,
) -> str:
    """Oracle: df cap, exact intersection counts and integer-Jaccard
    ranking replayed over the PLANTED link set; single global
    row_number (provably equal to the two-phase salted form)."""
    return f"""
with links as materialized (
  select distinct src_host, dst_host
  from ({duck_planted_links_sql(pages_sql_duck)})
  where src_host <> dst_host
),
deg as materialized (
  select src_host as sid, count(*) as deg from links group by 1
),
lowdf as materialized (
  select dst_host from links group by 1 having count(*) <= {max_df}
),
cand as materialized (
  select distinct a.src_host as host_a, b.src_host as host_b
  from links a
  join lowdf f on f.dst_host = a.dst_host
  join links b on b.dst_host = a.dst_host and a.src_host < b.src_host
),
inter as materialized (
  select c.host_a, c.host_b, cast(count(*) as bigint) as n_inter
  from cand c
  join links la on la.src_host = c.host_a
  join links lb on lb.src_host = c.host_b and lb.dst_host = la.dst_host
  group by 1, 2
),
scored as (
  select i.host_a, i.host_b, i.n_inter,
         cast(da.deg + db.deg - i.n_inter as bigint) as n_union,
         cast((i.n_inter * 1000000)
              // (da.deg + db.deg - i.n_inter) as bigint) as sim_e6
  from inter i
  join deg da on da.sid = i.host_a
  join deg db on db.sid = i.host_b
)
select cast(rank as bigint) as rank,
       host_a, host_b, n_inter, n_union, sim_e6 from (
  select *, row_number() over (order by sim_e6 desc,
                               host_a asc, host_b asc) as rank
  from scored
) where rank <= {k}
"""


def recrawl_cadence(
    crawl: DataFrame, url_col: str = "url", ts_col: str = "ts_s"
) -> DataFrame:
    """Per-host recrawl cadence from the raw fetch log -> (host, n_urls,
    n_captures, n_gaps, min_gap_s, max_gap_s, avg_gap_s): captures
    collapse onto canonical URLs (dedup.canonical_url_expr — tracking
    params / fragments / case / slash variants are the SAME page), the
    inter-capture gaps per canonical URL feed one per-host rollup. The
    freshness prior a crawl scheduler keys on: a host whose pages change
    (hence get re-fetched) hourly earns a different budget than one
    stable for months.

    Scale shape: ONE lag window partitioned by the canonical URL
    (high-cardinality, no skew — a URL's capture history is short by
    definition of a polite crawler), then a per-URL agg that REUSES the
    window's hash partitioning (zero extra exchange, verified in
    tests/test_plans.py conventions), then a per-host agg whose
    count/sum/min/max partials all map-side combine — a million-page
    host arrives at its reducer pre-aggregated. Integer seconds end to
    end; avg is integer floor-div so both engines agree exactly."""
    from pyspark.sql import Window as W

    from nerpii_spark.operators.dedup import canonical_url_expr

    w = W.partitionBy("curl").orderBy("ts")
    per_url = (
        crawl.select(
            F.expr(canonical_url_expr(url_col)).alias("curl"),
            F.col(ts_col).alias("ts"),
        )
        .withColumn("gap", F.col("ts") - F.lag("ts").over(w))
        .groupBy("curl")
        .agg(
            F.count("*").alias("caps"),
            F.count("gap").alias("ng"),
            F.sum("gap").alias("sg"),
            F.min("gap").alias("mn"),
            F.max("gap").alias("mx"),
        )
    )
    return (
        per_url.withColumn(
            "host", F.expr(f"regexp_extract(curl, '{_HOST_RE}', 1)")
        )
        .groupBy("host")
        .agg(
            F.count("*").cast("bigint").alias("n_urls"),
            F.sum("caps").cast("bigint").alias("n_captures"),
            F.sum("ng").cast("bigint").alias("n_gaps"),
            F.min("mn").cast("bigint").alias("min_gap_s"),
            F.max("mx").cast("bigint").alias("max_gap_s"),
            F.expr(
                "case when sum(ng) > 0"
                " then cast(sum(sg) div sum(ng) as bigint) end"
            ).alias("avg_gap_s"),
        )
    )


def duck_recrawl_cadence_sql(crawl_rel_sql: str) -> str:
    """Oracle twin of recrawl_cadence (HUGEINT sums cast back, integer
    floor-div average)."""
    from nerpii_spark.operators.dedup import canonical_url_expr

    return f"""
with c as materialized (
  select {canonical_url_expr('url')} as curl, ts_s as ts
  from ({crawl_rel_sql})
),
g as materialized (
  select curl, ts,
         ts - lag(ts) over (partition by curl order by ts) as gap
  from c
),
pu as materialized (
  select curl, count(*) as caps, count(gap) as ng,
         cast(sum(gap) as bigint) as sg, min(gap) as mn, max(gap) as mx
  from g group by 1
)
select regexp_extract(curl, '{_HOST_RE}', 1) as host,
       cast(count(*) as bigint) as n_urls,
       cast(sum(caps) as bigint) as n_captures,
       cast(sum(ng) as bigint) as n_gaps,
       cast(min(mn) as bigint) as min_gap_s,
       cast(max(mx) as bigint) as max_gap_s,
       case when sum(ng) > 0
            then cast(cast(sum(sg) as bigint) // cast(sum(ng) as bigint)
                      as bigint) end as avg_gap_s
from pu group by 1
"""


def outlink_entropy(pages: DataFrame) -> DataFrame:
    """Per-host outlink-distribution entropy -> (src_host, n_dst,
    n_links, entropy_milli): the structural link-spam signal — a
    template/link-farm host repeats the same few destinations (low
    entropy at high volume) while an organic host's outlinks spread
    (entropy near ilog2(n_dst)). entropy_milli approximates 1000 * H
    bits with the repo's integer floor-log2 (length(bin(x)) - 1, the
    lm_surprisal discipline — deterministic across engines where float
    log2 misrounds near powers of two):

        H_milli = 1000 * ilog2(T) - (1000 * sum(c * ilog2(c))) div T

    (T = total links, c = per-destination multiplicity; exact identity
    H = log T - (1/T) * sum c*log c with both logs floored). A
    single-destination host scores exactly 0.

    Scale shape: the (src, dst) multiplicity count map-side combines
    (web_graph's only exchange), then ONE more map-side-combined agg
    keyed by src_host — the sum of c * ilog2(c) folds partially, so a
    million-outlink host arrives pre-aggregated; no window, no join,
    nothing corpus-sized past the first count."""
    return (
        web_graph(pages)
        .groupBy("src_host")
        .agg(
            F.count("*").cast("bigint").alias("n_dst"),
            F.sum("n_links").cast("bigint").alias("n_links"),
            F.expr(
                "cast(1000 * (length(bin(sum(n_links))) - 1)"
                " - (1000 * sum(n_links * (length(bin(n_links)) - 1)))"
                " div sum(n_links) as bigint)"
            ).alias("entropy_milli"),
        )
    )


def duck_outlink_entropy_sql(pages_sql_duck: str) -> str:
    """Oracle: same integer-entropy identity over the PLANTED link set
    (to_base bit-length, HUGEINT sums cast back)."""
    return f"""
with e as materialized (
  select src_host, dst_host, cast(count(*) as bigint) as n_links
  from ({duck_planted_links_sql(pages_sql_duck)})
  group by 1, 2
)
select src_host,
       cast(count(*) as bigint) as n_dst,
       cast(sum(n_links) as bigint) as n_links,
       cast(1000 * (length(to_base(cast(sum(n_links) as bigint), 2)) - 1)
            - (1000 * cast(sum(n_links
                 * (length(to_base(n_links, 2)) - 1)) as bigint))
              // cast(sum(n_links) as bigint) as bigint) as entropy_milli
from e group by 1
"""


def effective_diameter(
    pages: DataFrame, n_rounds: int = ANF_ROUNDS, pct10: int = 9
) -> DataFrame:
    """Effective diameter from the ANF curve (Palmer 2002's headline
    metric): the smallest radius r whose neighborhood function reaches
    pct10/10 of its horizon value -> ONE row (eff_diameter, est_max).
    The integer threshold 10 * N(r) >= pct10 * N(R) avoids float
    division entirely. Overflow bound: est_pairs <= n_hosts * ball <=
    n^2, so 10 * est_pairs needs n < ~9.6e8 hosts in int64 — documented
    like the HITS bound; past that, scale the threshold down instead.

    Scale shape: pure composition over neighborhood_function's
    (n_rounds + 1)-row output — the horizon value rides along as a
    one-row broadcast crossJoin, nothing corpus-sized is touched beyond
    the sketch rounds themselves."""
    nf = neighborhood_function(pages, n_rounds)
    horizon = nf.agg(F.expr("max_by(est_pairs, r)").alias("est_max"))
    return (
        nf.crossJoin(F.broadcast(horizon))
        .where(F.expr(f"10 * est_pairs >= {pct10} * est_max"))
        .agg(
            F.min("r").cast("bigint").alias("eff_diameter"),
            F.max("est_max").cast("bigint").alias("est_max"),
        )
    )


def duck_effective_diameter_sql(
    pages_sql_duck: str, n_rounds: int = ANF_ROUNDS, pct10: int = 9
) -> str:
    """Oracle: the same integer threshold over the replayed ANF curve."""
    return f"""
with nf as materialized (
  select * from ({duck_neighborhood_function_sql(pages_sql_duck, n_rounds)})
),
t as (select max_by(est_pairs, r) as est_max from nf)
select cast(min(nf.r) as bigint) as eff_diameter,
       cast(max(t.est_max) as bigint) as est_max
from nf, t
where 10 * nf.est_pairs >= {pct10} * t.est_max
"""


def host_reciprocity(pages: DataFrame) -> DataFrame:
    """Per-host link reciprocity over the distinct directed host edges
    -> (host, n_out, n_recip, recip_milli): the fraction of a host's
    out-edges that are reciprocated (recip_milli = 1000 * n_recip div
    n_out). High reciprocity at volume is the classic link-exchange /
    link-farm fingerprint (organic cross-host linking is mostly
    one-way), so crawl pipelines compute it next to outlink entropy and
    TrustRank as a spam prior.

    Scale shape: the distinct edge list is localCheckpoint'd once, then
    reciprocation is ONE self-equi-join on the full (u, v) key — both
    sides hash-partition identically, so the join adds a single
    exchange of the already-distinct edges; the two counts map-side
    combine. No window, no collect, nothing quadratic: a hub with 1e6
    in-links contributes 1e6 join probes, not pairs."""
    e = distinct_host_edges(pages).localCheckpoint(eager=True)
    rev = e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    recip = e.join(rev, ["u", "v"], "left_semi")
    out = e.groupBy("u").agg(F.count("*").cast("bigint").alias("n_out"))
    rc = recip.groupBy("u").agg(
        F.count("*").cast("bigint").alias("n_recip")
    )
    return out.join(rc, "u", "left").select(
        F.col("u").alias("host"),
        "n_out",
        F.coalesce(F.col("n_recip"), F.lit(0))
        .cast("bigint")
        .alias("n_recip"),
        F.expr(
            "cast(1000 * coalesce(n_recip, cast(0 as bigint))"
            " div n_out as bigint)"
        ).alias("recip_milli"),
    )


def duck_host_reciprocity_sql(pages_sql_duck: str) -> str:
    """Oracle: the same counts over the PLANTED link set via a left
    self-join (an independent formulation of the semi-join)."""
    return f"""
with e as materialized (
  select distinct src_host as u, dst_host as v
  from ({duck_planted_links_sql(pages_sql_duck)})
  where src_host <> dst_host
)
select e.u as host,
       cast(count(*) as bigint) as n_out,
       cast(count(e2.u) as bigint) as n_recip,
       cast(1000 * count(e2.u) // count(*) as bigint) as recip_milli
from e left join e e2 on e2.u = e.v and e2.v = e.u
group by 1
"""


def degree_assortativity(pages: DataFrame) -> DataFrame:
    """Degree assortativity (Newman 2002) of the undirected host graph
    -> ONE row (m_stubs, sum_deg, sum_deg_sq, sum_deg_prod, r_milli):
    the Pearson correlation of endpoint degrees over directed stubs,
    r = (m*Sxy - Sx^2) / (m*Sxx - Sx^2), emitted as integer sufficient
    statistics plus r_milli = (1000 * num) div den (Spark `div` and
    DuckDB `//` both truncate toward zero, so a negative r — the
    expected sign for a hub-skewed web graph — is engine-exact). The
    symmetric stub list makes Sx = Sy and Sxx = Syy, so the whole
    statistic is integer arithmetic; den = 0 (a regular graph) yields
    NULL via nullif rather than a divide error under ANSI mode.

    Overflow bound: num/den <= m * max_deg^2 must fit int64 — fine to
    ~1e9 stubs at 1e4 max degree; past that, compute in e3-scaled
    degree buckets (the HITS-bound discipline).

    Scale shape: two equi-joins decorate each stub with its endpoint
    degrees (the degree table is node-sized — AQE broadcasts it while
    it fits, falls back to shuffle when it doesn't), then ONE
    map-side-combined global agg; nothing corpus-sized is re-keyed."""
    sym = sym_host_edges(pages)
    deg = sym.groupBy("node").agg(
        F.count("*").cast("bigint").alias("deg")
    )
    dv = deg.select(
        F.col("node").alias("nbr"), F.col("deg").alias("deg_nbr")
    )
    stubs = sym.join(deg, "node").join(dv, "nbr")
    return (
        stubs.agg(
            F.count("*").cast("bigint").alias("m_stubs"),
            F.sum("deg").cast("bigint").alias("sum_deg"),
            F.sum(F.expr("deg * deg")).cast("bigint").alias("sum_deg_sq"),
            F.sum(F.expr("deg * deg_nbr"))
            .cast("bigint")
            .alias("sum_deg_prod"),
        )
        .select(
            "m_stubs",
            "sum_deg",
            "sum_deg_sq",
            "sum_deg_prod",
            F.expr(
                "cast((1000 * (m_stubs * sum_deg_prod"
                " - sum_deg * sum_deg))"
                " div nullif(m_stubs * sum_deg_sq"
                " - sum_deg * sum_deg, 0) as bigint)"
            ).alias("r_milli"),
        )
    )


def duck_degree_assortativity_sql(pages_sql_duck: str) -> str:
    """Oracle: identical integer statistic over the planted link set's
    symmetric closure (HUGEINT sums cast back before the ratio)."""
    return f"""
with e as materialized (
  select distinct src_host as u, dst_host as v
  from ({duck_planted_links_sql(pages_sql_duck)})
  where src_host <> dst_host
),
sym as materialized (
  select u as node, v as nbr from e union select v, u from e
),
deg as materialized (
  select node, cast(count(*) as bigint) as deg from sym group by 1
),
s as (
  select cast(count(*) as bigint) as m_stubs,
         cast(sum(d1.deg) as bigint) as sum_deg,
         cast(sum(d1.deg * d1.deg) as bigint) as sum_deg_sq,
         cast(sum(d1.deg * d2.deg) as bigint) as sum_deg_prod
  from sym
  join deg d1 on d1.node = sym.node
  join deg d2 on d2.node = sym.nbr
)
select m_stubs, sum_deg, sum_deg_sq, sum_deg_prod,
       cast((1000 * (m_stubs * sum_deg_prod - sum_deg * sum_deg))
            // nullif(m_stubs * sum_deg_sq - sum_deg * sum_deg, 0)
            as bigint) as r_milli
from s
"""


def spam_mass(
    pages: DataFrame, n_iter: int = 3, n_seeds: int = TRUST_SEEDS
) -> DataFrame:
    """Spam mass (Gyongyi et al. 2006) per host -> (host, rank_e12,
    trust_e12, spam_milli): the share of a host's PageRank NOT backed
    by trust, spam_milli = 1000 * (PR - TR) div PR — the actionable
    composition of the two authority scores this module already
    computes (a high-PR low-trust host is the demotion target; trusted
    seeds score negative because dangling mass teleports back to them).
    Both inputs are bigint fixed-point (PR_SCALE = 1e12) normalized to
    the same total mass, so the difference is meaningful and the whole
    statistic replays bit-for-bit. PR has a positive floor (150 * base
    div 1000 for every node), so the divisor is never zero.

    Scale shape: the extraction runs ONCE (the link list is
    localCheckpoint'd and feeds both iterations); each fixed-point
    inherits pagerank/trustrank's audited per-iteration shape; the
    final composition is one node-sized equi-join."""
    from nerpii_spark.operators.extract import pagerank

    el = (
        host_links(pages)
        .select(F.col("src_host").alias("subj"), F.col("dst_host").alias("obj"))
        .localCheckpoint(eager=True)
    )
    pr = pagerank(el, n_iter=n_iter)
    tr = trustrank(el, n_iter=n_iter, n_seeds=n_seeds)
    return pr.join(tr, "node").select(
        F.col("node").alias("host"),
        "rank_e12",
        "trust_e12",
        F.expr(
            "cast((1000 * (rank_e12 - trust_e12)) div rank_e12 as bigint)"
        ).alias("spam_milli"),
    )


def duck_spam_mass_sql(pages_sql_duck: str, n_iter: int = 3) -> str:
    """Oracle: the pagerank and trustrank chained-CTE replays composed
    over the planted link set, then the same integer ratio."""
    return _duck_spam_mass_of_edges_sql(
        f"select src_host as subj, dst_host as obj from"
        f" ({duck_planted_links_sql(pages_sql_duck)})",
        n_iter,
    )


def _duck_spam_mass_of_edges_sql(edges: str, n_iter: int) -> str:
    """duck_spam_mass_sql over any (subj, obj) edge relation."""
    from nerpii_spark.operators.extract import duck_pagerank_sql

    return f"""
with pr as materialized (
  select * from ({duck_pagerank_sql(edges, n_iter=n_iter)})
),
tr as materialized (
  select * from ({duck_trustrank_sql(edges, n_iter=n_iter)})
)
select pr.node as host, pr.rank_e12, tr.trust_e12,
       cast((1000 * (pr.rank_e12 - tr.trust_e12)) // pr.rank_e12
            as bigint) as spam_milli
from pr join tr on tr.node = pr.node
"""


def scd2_urls(
    crawl: DataFrame, url_col: str = "url", ts_col: str = "ts_s"
) -> DataFrame:
    """SCD2 validity intervals per canonical URL -> (curl, version,
    valid_from_s, valid_to_s, is_current): each capture of a page opens
    a version row valid until the next capture (valid_to = next - 1,
    NULL while current) — the slowly-changing-dimension build a
    warehouse runs over the fetch log so every fact joins to "the page
    AS OF its extraction time" (the temporal spine q_kg_latest_facts
    and q_events_asof consume downstream).

    Scale shape: captures collapse onto the canonical URL (codegen
    regexp), then ONE window partitioned by curl (high-cardinality, no
    skew — capture history per URL is short by crawler politeness)
    computes lead + row_number in the SAME window spec, so Catalyst
    evaluates both in one Window operator over one exchange. Integer
    seconds; no join, no second shuffle."""
    from pyspark.sql import Window as W

    from nerpii_spark.operators.dedup import canonical_url_expr

    w = W.partitionBy("curl").orderBy("ts")
    return (
        crawl.select(
            F.expr(canonical_url_expr(url_col)).alias("curl"),
            F.col(ts_col).alias("ts"),
        )
        .select(
            "curl",
            F.row_number().over(w).cast("bigint").alias("version"),
            F.col("ts").cast("bigint").alias("valid_from_s"),
            (F.lead("ts").over(w) - 1).cast("bigint").alias("valid_to_s"),
        )
        .withColumn("is_current", F.col("valid_to_s").isNull())
    )


def duck_scd2_urls_sql(crawl_rel_sql: str) -> str:
    """Oracle twin: same lead/row_number spine over the canonical
    collapse."""
    from nerpii_spark.operators.dedup import canonical_url_expr

    return f"""
with c as materialized (
  select {canonical_url_expr('url')} as curl, ts_s as ts
  from ({crawl_rel_sql})
)
select curl,
       cast(row_number() over (partition by curl order by ts) as bigint)
         as version,
       cast(ts as bigint) as valid_from_s,
       cast(lead(ts) over (partition by curl order by ts) - 1 as bigint)
         as valid_to_s,
       (lead(ts) over (partition by curl order by ts)) is null as is_current
from c
"""


def host_quota_sample(
    pages: DataFrame, k: int = 8, n_salt: int = 32
) -> DataFrame:
    """Anti-domination host cap for pretraining curation -> (host,
    doc_id, hrk): keep at most k documents per host, chosen by the
    portable hash of (host, doc_id) — the diversity cap that stops one
    template-heavy mega-host from dominating a training mixture (the
    per-domain cap in C4/RefinedWeb-style pipelines). Hash order (not
    doc_id order) makes the kept set a pure, crawl-order-independent
    function of the corpus; the operator is resumable and re-runs pick
    the same rows.

    Skew shape: two-phase salted top-k exactly like crawl_frontier —
    the pre-window partitions by (host, hash % n_salt) so a 1e8-page
    host never lands on one reducer; ordering (h, doc_id) is total, so
    the result equals the single-window form (the oracle)."""
    from pyspark.sql import Window as W

    from nerpii_spark.functions.hashing import sql_h1

    cand = pages.select(
        F.expr(f"regexp_extract(url, '{_HOST_RE}', 1)").alias("host"),
        "doc_id",
        F.expr(
            f"cast({sql_h1('doc_id', 53)} as bigint)"
        ).alias("h"),
    )
    w_shard = W.partitionBy(
        "host", F.pmod(F.xxhash64("doc_id"), F.lit(n_salt))
    ).orderBy(F.asc("h"), F.asc("doc_id"))
    survivors = (
        cand.withColumn("prk", F.row_number().over(w_shard))
        .where(F.col("prk") <= k)
        .drop("prk")
    )
    w = W.partitionBy("host").orderBy(F.asc("h"), F.asc("doc_id"))
    return (
        survivors.withColumn("hrk", F.row_number().over(w).cast("bigint"))
        .where(F.col("hrk") <= k)
        .select("host", "doc_id", "hrk")
    )


def duck_host_quota_sample_sql(pages_sql_duck: str, k: int = 8) -> str:
    """Oracle: the single-window form over the same portable hash."""
    from nerpii_spark.functions.hashing import sql_h1

    return f"""
with c as (
  select regexp_extract(url, '{_HOST_RE}', 1) as host, doc_id,
         cast({sql_h1('doc_id', 53)} as bigint) as h
  from ({pages_sql_duck})
),
r as (
  select host, doc_id,
         row_number() over (partition by host
                            order by h asc, doc_id asc) as hrk
  from c
)
select host, doc_id, cast(hrk as bigint) as hrk from r where hrk <= {k}
"""


def modularity(pages: DataFrame, n_rounds: int = LPA_ROUNDS) -> DataFrame:
    """Newman modularity of the LPA partition -> ONE row (s_stubs,
    e_in_stubs, sum_dc2, q_e6): the quality score that tells a pipeline
    whether its community structure is real before acting on it
    (promoting link-ring groups to a blocklist, say). With S = 2m
    directed stubs, e_in = stubs whose endpoints share a community and
    d_c = per-community degree mass:

        Q = e_in/S - sum_c d_c^2 / S^2
        q_e6 = (1e6 * (S * e_in - sum_dc2)) div (S * S)

    — all bigint with the verified truncate-toward-zero div pair, so
    the oracle (LPA chained-CTE replay + the same statistic over the
    planted links) certifies partition AND score bit-for-bit. Overflow
    bound: S^2 must fit int64 — S < ~3e9 stubs; past that, compute
    per-community terms e3-scaled (the HITS-bound discipline).

    Scale shape: two label-decorating equi-joins on the stub list (the
    degree/label tables are node-sized, AQE broadcasts while small),
    ONE conditional-count global agg for e_in, one per-community
    map-side-combined degree rollup, then a one-row crossJoin
    composition — nothing corpus-sized is re-keyed twice."""
    labels = lpa_communities(pages, n_rounds)
    sym = sym_host_edges(pages)
    la = labels.select(
        F.col("host").alias("node"), F.col("community").alias("ca")
    )
    lb = labels.select(
        F.col("host").alias("nbr"), F.col("community").alias("cb")
    )
    stub_stats = (
        sym.join(la, "node")
        .join(lb, "nbr")
        .agg(
            F.count("*").cast("bigint").alias("s_stubs"),
            F.sum(F.expr("case when ca = cb then 1 else 0 end"))
            .cast("bigint")
            .alias("e_in_stubs"),
        )
    )
    deg = sym.groupBy("node").agg(F.count("*").alias("deg"))
    dc2 = (
        deg.join(la, "node")
        .groupBy("ca")
        .agg(F.sum("deg").cast("bigint").alias("dc"))
        .agg(F.sum(F.expr("dc * dc")).cast("bigint").alias("sum_dc2"))
    )
    return stub_stats.crossJoin(F.broadcast(dc2)).select(
        "s_stubs",
        "e_in_stubs",
        "sum_dc2",
        F.expr(
            "cast((1000000 * (s_stubs * e_in_stubs - sum_dc2))"
            " div (s_stubs * s_stubs) as bigint)"
        ).alias("q_e6"),
    )


def duck_modularity_sql(
    pages_sql_duck: str, n_rounds: int = LPA_ROUNDS
) -> str:
    """Oracle: the LPA replay composed with the same integer statistic
    over the planted link set's symmetric closure."""
    return f"""
with lab as materialized (
  select * from ({duck_lpa_communities_sql(pages_sql_duck, n_rounds)})
),
e0 as materialized (
  select distinct src_host as u, dst_host as v
  from ({duck_planted_links_sql(pages_sql_duck)})
  where src_host <> dst_host
),
sym as materialized (
  select u as node, v as nbr from e0 union select v, u from e0
),
ss as (
  select cast(count(*) as bigint) as s_stubs,
         cast(sum(case when la.community = lb.community then 1 else 0 end)
              as bigint) as e_in_stubs
  from sym
  join lab la on la.host = sym.node
  join lab lb on lb.host = sym.nbr
),
deg as materialized (
  select node, cast(count(*) as bigint) as deg from sym group by 1
),
dc as (
  select la.community, cast(sum(deg) as bigint) as dc
  from deg join lab la on la.host = deg.node group by 1
),
d2 as (select cast(sum(dc * dc) as bigint) as sum_dc2 from dc)
select s_stubs, e_in_stubs, sum_dc2,
       cast((1000000 * (s_stubs * e_in_stubs - sum_dc2))
            // (s_stubs * s_stubs) as bigint) as q_e6
from ss, d2
"""


# ---------------------------------------------------------------------------
# Bow-tie decomposition (Broder 2000)
# ---------------------------------------------------------------------------

BOWTIE_MAX_DEPTH = 8


def bowtie(
    pages: DataFrame, max_depth: int = BOWTIE_MAX_DEPTH
) -> DataFrame:
    """Broder-2000 bow-tie decomposition of the directed host graph ->
    (host, component in {'core', 'in', 'out', 'other'}): the structural
    census (how much of the crawl is the strongly-connected nucleus vs
    upstream feeders vs downstream sinks) that crawl scheduling and
    spam triage read before anything else.

    Construction: seed = the top in-degree host AMONG HOSTS WITH AT
    LEAST ONE OUT-EDGE (deterministic tie-break host asc — the
    trustrank/crawl_depth seed convention, restricted because a pure
    sink can never sit in a non-trivial SCC: on this corpus the raw
    top-in-degree host is a hub with zero out-links and the
    decomposition would collapse to core = {hub}); F = hosts
    forward-reachable from the seed, B = hosts that reach the seed
    (backward BFS over reversed edges). Then core = F∩B (the SCC
    containing the seed, exactly — any core member reaches the seed and
    is reached by it), out = F−B, in = B−F, other = everything else
    (tendrils + tubes + disconnected, not separable without more BFS
    passes; labeled honestly).

    Scale shape: two BOUNDED BFS fixpoints (`_bounded_reach`, max_depth
    rounds each; the web's effective diameter is ~6-8, and
    q_eff_diameter measures this corpus's, so the budget is an argument
    not a guess), each round ONE frontier equi-join + anti-join + two
    pins; the depth column is dropped. Like crawl_depth,
    "beyond the budget" rows land in 'in'/'out'/'other' by where the
    budget cut them — the oracle replays the same bounded expansion, so
    the semantics are total and engine-exact. NOTE the planted corpus
    is adversarial for this op: its directed site edges follow the
    doc-id chain (site(i) -> site(i+1)), a path whose DIRECTED diameter
    grows with the corpus, so the depth-bounded core stays near the
    seed here; the crafted-graph pytest is where the full
    core/in/out/other anatomy is exercised (a real crawl's directed
    diameter is small and the budget covers it). Classification is
    two left-join flags over the node set — node-table-sized, never
    corpus-sized. The hub skew concentrates in-degree, which only
    SHRINKS frontier rounds (hubs pull most of the graph into round 1).
    """
    return bowtie_from_edges(distinct_host_edges(pages), max_depth)


def bowtie_from_edges(
    e: DataFrame, max_depth: int = BOWTIE_MAX_DEPTH
) -> DataFrame:
    """:func:`bowtie` over an explicit distinct (u, v) edge list."""
    indeg = e.groupBy(F.col("v").alias("host")).agg(
        F.count("*").alias("indeg")
    )
    has_out = e.select(F.col("u").alias("host")).distinct()
    seed = (
        indeg.join(has_out, "host", "left_semi")
        .orderBy(F.desc("indeg"), F.asc("host"))
        .limit(1)
        .select("host")
    )
    fwd = e.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
    bwd = e.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    f_reach = _bounded_reach(fwd, seed, max_depth).select(
        "host", F.lit(1).alias("in_f")
    )
    b_reach = _bounded_reach(bwd, seed, max_depth).select(
        "host", F.lit(1).alias("in_b")
    )
    nodes = (
        e.select(F.col("u").alias("host"))
        .unionByName(e.select(F.col("v").alias("host")))
        .distinct()
    )
    return (
        nodes.join(f_reach, "host", "left")
        .join(b_reach, "host", "left")
        .select(
            "host",
            F.when(
                F.col("in_f").isNotNull() & F.col("in_b").isNotNull(),
                F.lit("core"),
            )
            .when(F.col("in_f").isNotNull(), F.lit("out"))
            .when(F.col("in_b").isNotNull(), F.lit("in"))
            .otherwise(F.lit("other"))
            .alias("component"),
        )
    )


def duck_bowtie_sql(
    pages_sql_duck: str, max_depth: int = BOWTIE_MAX_DEPTH
) -> str:
    """Oracle: both bounded expansions as chained MATERIALIZED CTEs
    (independent row_number seed selection), then the same case
    classification."""
    ctes = [
        f"""
links as materialized (
  select distinct src_host as u, dst_host as v
  from ({duck_planted_links_sql(pages_sql_duck)})
  where src_host <> dst_host
),
indeg as materialized (select v as host, count(*) as c from links group by 1),
seed as materialized (
  select host from (
    select host, row_number() over (order by c desc, host asc) as rk
    from indeg
    where host in (select u from links)
  ) where rk = 1
),
f0 as materialized (select host from seed),
b0 as materialized (select host from seed)"""
    ]
    for d in range(1, max_depth + 1):
        ctes.append(
            f"""
f{d} as materialized (
  select host from f{d - 1}
  union
  select l.v from links l join f{d - 1} a on a.host = l.u
),
b{d} as materialized (
  select host from b{d - 1}
  union
  select l.u from links l join b{d - 1} a on a.host = l.v
)"""
        )
    last = max_depth
    return (
        "with " + ",".join(ctes)
        + f"""
, nodes as (select u as host from links union select v from links)
select n.host,
       case when f.host is not null and b.host is not null then 'core'
            when f.host is not null then 'out'
            when b.host is not null then 'in'
            else 'other' end as component
from nodes n
left join f{last} f on f.host = n.host
left join b{last} b on b.host = n.host
"""
    )


# ---------------------------------------------------------------------------
# Power-law tail fit (Hill MLE over host in-degrees)
# ---------------------------------------------------------------------------

POWERLAW_DMIN = 2


def powerlaw_alpha(
    pages: DataFrame, dmin: int = POWERLAW_DMIN
) -> DataFrame:
    """Hill maximum-likelihood power-law exponent of the host in-degree
    tail -> one row (dmin, n_tail, denom_fp, alpha_milli): the
    standard web-graph diagnostic (Broder 2000 measures alpha ~ 2.1
    for in-degree) that q_degree_hist eyeballs and this op fits:

        alpha = 1 + n / sum_{d >= dmin} ln(d / dmin)

    computed ENTIRELY in integer fixed-point: ln(d/dmin) =
    ln2 * (log2fp(d) - log2fp(dmin)) / 2^FRAC_BITS with log2fp the
    repo's bit-exact square-and-compare recurrence (functions/intmath),
    and ln2 applied as the rational 693147/1e6 in a two-stage integer
    division ordered so nothing overflows: denom_milli =
    (denom_fp * 693147) div 1e6 keeps denom_fp < 1.3e13 (comfortable:
    it is ~4096 * ln-sum), then alpha_milli = 1000 +
    (1000 * n * 4096) div denom_milli keeps n < 2e12 hosts. Both
    engines run the identical recurrence, so the fit is bit-exact —
    a float log2 would make the last digit engine-dependent.

    Scale shape: ONE map-side-combined in-degree count over distinct
    edges, the log2fp chain is pure whole-stage codegen (no Python, no
    UDF), and the fit is ONE global agg row. NULL alpha when the tail
    is degenerate (all tail degrees == dmin -> zero denominator).
    """
    return powerlaw_alpha_from_edges(distinct_host_edges(pages), dmin)


def powerlaw_alpha_from_edges(
    e: DataFrame, dmin: int = POWERLAW_DMIN
) -> DataFrame:
    """:func:`powerlaw_alpha` over an explicit distinct (u, v) edge
    list."""
    from ..functions.intmath import FP_ONE, log2fp, spark_log2fp_cols

    indeg = e.groupBy(F.col("v").alias("host")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    tail = indeg.where(F.col("d") >= dmin)
    tail = spark_log2fp_cols(tail, "d", "l2d")
    l2min = log2fp(dmin)
    agg = tail.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tail"),
        (F.sum("l2d") - F.count(F.lit(1)) * F.lit(l2min))
        .cast("bigint")
        .alias("denom_fp"),
    )
    return agg.select(
        F.lit(dmin).cast("bigint").alias("dmin"),
        "n_tail",
        "denom_fp",
        F.expr(
            f"case when (denom_fp * 693147) div 1000000 > 0 then"
            f" 1000 + (1000 * n_tail * {FP_ONE})"
            f" div ((denom_fp * 693147) div 1000000)"
            f" else cast(null as bigint) end"
        ).alias("alpha_milli"),
    )


def duck_powerlaw_alpha_sql(
    pages_sql_duck: str, dmin: int = POWERLAW_DMIN
) -> str:
    """DuckDB twin: identical integer recurrence + division order."""
    from ..functions.intmath import FP_ONE, duck_log2fp_expr, log2fp

    l2min = log2fp(dmin)
    return f"""
with links as (
  select distinct src_host as u, dst_host as v
  from ({duck_planted_links_sql(pages_sql_duck)})
  where src_host <> dst_host
),
indeg as (
  select v as host, cast(count(*) as bigint) as d from links group by 1
),
tail as (
  select d, {duck_log2fp_expr('d')} as l2d from indeg where d >= {dmin}
),
agg as (
  select cast(count(*) as bigint) as n_tail,
         cast(sum(l2d) - count(*) * {l2min} as bigint) as denom_fp
  from tail
)
select cast({dmin} as bigint) as dmin, n_tail, denom_fp,
       case when (denom_fp * 693147) // 1000000 > 0 then
         1000 + (1000 * n_tail * {FP_ONE})
              // ((denom_fp * 693147) // 1000000)
       else cast(null as bigint) end as alpha_milli
from agg
"""


# ---------------------------------------------------------------------------
# Link-prediction evaluation (common-neighbor AUC, integer Mann-Whitney)
# ---------------------------------------------------------------------------

LP_TEST_MOD = 10       # 1/10 of edges held out as test positives
LP_SPLIT_SALT = 67
LP_NEG_SALT = 71
LP_CAP = 16            # degree cap of the scoring adjacency
LP_CAP_SALT = 73
LP_POOL = 64           # negative-sampling bucket representatives


def _lp_edge_key(u: str = "u", v: str = "v") -> str:
    from nerpii_spark.functions.hashing import M, sql_h2, sql_strhash

    return sql_h2(
        f"({sql_strhash(u)} + {sql_strhash(v)}) % {M}", LP_SPLIT_SALT
    )


def linkpred_auc(
    pages: DataFrame,
    cap: int = LP_CAP,
    n_salt: int = 32,
) -> DataFrame:
    """Link-prediction evaluation over the host graph -> ONE row
    (n_pos, n_neg, sum_cn_pos, sum_cn_neg, auc_e6): the end-to-end
    graph-ML eval protocol (the experiment a KG/embedding team runs
    before trusting any link scorer) made fully deterministic:

      1. SPLIT  — 1/|LP_TEST_MOD| of distinct edges held out as test
         positives by a portable hash of the pair (train never sees
         them);
      2. NEGATIVES — each positive (u, v) is corrupted to (u, v') with
         v' a hash-drawn member of a 64-representative host pool (the
         kg_negatives discipline: one map-side agg + a 64-row
         broadcast, no global entity index), anti-joined against the
         FULL edge set so no accidental true edge scores as negative;
      3. SCORE  — common-neighbor count over the DEGREE-CAPPED train
         adjacency (the neighbor_sample two-phase salted cap, so a hub
         contributes <= cap neighbors and the candidate join fan-out
         is N_cand * cap, never N_cand * degree);
      4. AUC    — exact Mann-Whitney with tie-averaged ranks in pure
         integers: scores collapse to a <= cap+1-row histogram (the
         grouped_percentiles discipline — reducer load is score
         cardinality, not candidate count), tie rank2 = min+max =
         2*cum_before + n + 1, and
         auc_e6 = 500000*(sum(rank2_pos) - n_pos*(n_pos+1))
                  div (n_pos*n_neg)
         — the 2 of U/(n_pos*n_neg) folded into the scale so the
         int64 bound is n_pos*n_neg < 1.8e13 (at larger eval sets,
         hash-sample the holdout first — standard AUC practice).

    Every draw/split/cap replays bit-for-bit in the DuckDB oracle.
    NULL auc when either class is empty.

    NOTE the planted corpus is (deliberately) a hard case for LOCAL
    similarity scorers: its site edges follow the doc-id chain and its
    hubs are pure sinks, so the graph has almost no triadic closure
    and common-neighbor scores are uninformative — the measured
    auc_e6 ~ 0.47e6 is the metric doing its job (reporting that this
    scorer does not transfer to this graph), not a defect; the
    crafted triangle-rich pytest graph shows auc -> 1. The protocol
    (split/negatives/capped scoring/rank AUC) is the deliverable.
    """
    from pyspark.sql import Window as W

    from nerpii_spark.functions.hashing import M, sql_h2, sql_strhash

    # _ek is materialized INSIDE the checkpoint: downstream filters and
    # joins then reference a plain attribute. Filtering on the inlined
    # hash expression instead sends Catalyst constraint propagation
    # into a combinatorial blow-up (measured: a 97x64-row broadcast
    # join hung the DRIVER for minutes at sf0.01 while planning
    # constraints over the strhash tree; with the column materialized,
    # planning is instant).
    ekey = _lp_edge_key()
    e = (
        distinct_host_edges(pages)
        .withColumn("_ek", F.expr(ekey))
        .localCheckpoint(eager=True)
    )
    pos = e.where(F.col("_ek") % LP_TEST_MOD == 0).select("u", "v", "_ek")
    train = e.where(F.col("_ek") % LP_TEST_MOD != 0).select("u", "v")

    # 64-representative negative pool (map-side agg, broadcast join)
    hosts = (
        e.select(F.col("u").alias("host"))
        .unionByName(e.select(F.col("v").alias("host")))
        .distinct()
    )
    # Representatives index densely (rid = rank of the occupied bucket)
    # and draws go modulo the ACTUAL pool size: on a corpus whose hosts
    # occupy all LP_POOL buckets this is identical to drawing the raw
    # bucket id, but on a small graph (pytest; a filtered shard) empty
    # buckets would otherwise swallow the draw and leave n_neg = 0.
    from pyspark.sql import Window as _W

    reps = (
        hosts.groupBy(
            F.expr(f"{sql_strhash('host')} % {LP_POOL}").alias("b")
        )
        .agg(F.min("host").alias("v_neg"))
        .withColumn(
            "rid",
            F.row_number().over(_W.orderBy(F.asc("b"))) - F.lit(1),
        )
    )
    nr = reps.agg(F.count(F.lit(1)).alias("nreps"))
    neg = (
        pos.crossJoin(F.broadcast(nr))
        .withColumn(
            "rid",
            F.expr(f"({sql_h2('_ek', LP_NEG_SALT)}) % nreps"),
        )
        .join(F.broadcast(reps.select("rid", "v_neg")), "rid")
        .where(F.col("v_neg") != F.col("u"))
        .select("u", F.col("v_neg").alias("v"))
        .distinct()
        .join(
            e.select("u", "v").unionByName(
                e.select(F.col("v").alias("u"), F.col("u").alias("v"))
            ),
            ["u", "v"],
            "left_anti",
        )
    )
    cand = pos.select(
        "u", "v", F.lit(1).alias("label")
    ).unionByName(neg.select("u", "v", F.lit(0).alias("label")))

    # degree-capped symmetric train adjacency (two-phase salted cap)
    sym = (
        train.select(F.col("u").alias("node"), F.col("v").alias("nbr"))
        .unionByName(
            train.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
        )
        .distinct()
    )
    hadj = sql_h2(
        f"({sql_strhash('node')} + {sql_strhash('nbr')}) % {M}",
        LP_CAP_SALT,
    )
    sym = sym.withColumn("h", F.expr(hadj))
    w_shard = W.partitionBy(
        "node", F.pmod(F.xxhash64("nbr"), F.lit(n_salt))
    ).orderBy(F.asc("h"), F.asc("nbr"))
    w_node = W.partitionBy("node").orderBy(F.asc("h"), F.asc("nbr"))
    adj = (
        sym.withColumn("prk", F.row_number().over(w_shard))
        .where(F.col("prk") <= cap)
        .withColumn("rk", F.row_number().over(w_node))
        .where(F.col("rk") <= cap)
        .select("node", "nbr")
        .localCheckpoint(eager=True)
    )

    a1 = adj.select(F.col("node").alias("u"), F.col("nbr").alias("w"))
    a2 = adj.select(F.col("node").alias("v"), F.col("nbr").alias("w"))
    cn = (
        cand.join(a1, "u")
        .join(a2, ["v", "w"])
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    scored = cand.join(cn, ["u", "v"], "left").select(
        "label", F.coalesce(F.col("cn"), F.lit(0)).cast("bigint").alias("score")
    )
    hist = scored.groupBy("score").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("label").cast("bigint").alias("np"),
    )
    w_rank = W.orderBy(F.asc("score")).rowsBetween(
        W.unboundedPreceding, -1
    )
    ranked = hist.select(
        "n", "np", F.col("score").alias("score2"),
        (F.lit(2) * F.coalesce(F.sum("n").over(w_rank), F.lit(0))
         + F.col("n") + F.lit(1)).alias("rank2"),
    )
    return ranked.agg(
        F.sum("np").cast("bigint").alias("n_pos"),
        (F.sum("n") - F.sum("np")).cast("bigint").alias("n_neg"),
        F.sum(F.col("np") * F.col("rank2")).cast("bigint").alias("r2p"),
        F.sum(F.col("np") * F.col("score2")).cast("bigint")
        .alias("sum_cn_pos"),
        F.sum((F.col("n") - F.col("np")) * F.col("score2"))
        .cast("bigint").alias("sum_cn_neg"),
    ).select(
        "n_pos", "n_neg", "sum_cn_pos", "sum_cn_neg",
        F.expr(
            "case when n_pos > 0 and n_neg > 0 then"
            " (500000 * (r2p - n_pos * (n_pos + 1)))"
            " div (n_pos * n_neg)"
            " else cast(null as bigint) end"
        ).alias("auc_e6"),
    )


def duck_linkpred_auc_sql(
    pages_sql_duck: str, cap: int = LP_CAP
) -> str:
    """DuckDB twin: identical split/draw/cap/rank arithmetic; the
    adjacency cap replays as a single window (provably identical to
    the two-phase Spark form — shard top-k unions are supersets of the
    global top-k under any total order)."""
    from nerpii_spark.functions.hashing import M, sql_h2, sql_strhash

    ekey = _lp_edge_key()
    hadj = sql_h2(
        f"({sql_strhash('node')} + {sql_strhash('nbr')}) % {M}",
        LP_CAP_SALT,
    )
    return f"""
with e as (
  select distinct src_host as u, dst_host as v
  from ({duck_planted_links_sql(pages_sql_duck)})
  where src_host <> dst_host
),
ek as (select u, v, {ekey} as _ek from e),
pos as (select u, v, _ek from ek where _ek % {LP_TEST_MOD} = 0),
train as (select u, v from ek where _ek % {LP_TEST_MOD} <> 0),
hosts as (select u as host from e union select v from e),
reps as (
  select b, v_neg, row_number() over (order by b asc) - 1 as rid
  from (
    select {sql_strhash('host')} % {LP_POOL} as b, min(host) as v_neg
    from hosts group by 1
  )
),
nr as (select count(*) as nreps from reps),
neg as (
  select distinct p.u, r.v_neg as v
  from (select u, v,
               ({sql_h2("_ek", LP_NEG_SALT)}) % (select nreps from nr)
                 as rid
        from pos) p
  join reps r using (rid)
  where r.v_neg <> p.u
    and not exists (select 1 from e
                    where (e.u = p.u and e.v = r.v_neg)
                       or (e.v = p.u and e.u = r.v_neg))
),
cand as (
  select u, v, 1 as label from pos
  union all
  select u, v, 0 as label from neg
),
sym as (
  select distinct node, nbr from (
    select u as node, v as nbr from train
    union all
    select v, u from train
  ) where node <> nbr
),
adj as (
  select node, nbr from (
    select node, nbr,
           row_number() over (partition by node
                              order by {hadj} asc, nbr asc) as rk
    from sym
  ) where rk <= {cap}
),
cn as (
  select c.u, c.v, cast(count(*) as bigint) as cn
  from cand c
  join adj a1 on a1.node = c.u
  join adj a2 on a2.node = c.v and a2.nbr = a1.nbr
  group by 1, 2
),
scored as (
  select c.label, coalesce(cn.cn, 0) as score
  from cand c left join cn on cn.u = c.u and cn.v = c.v
),
hist as (
  select score, cast(count(*) as bigint) as n,
         cast(sum(label) as bigint) as np
  from scored group by 1
),
ranked as (
  select n, np, score,
         2 * coalesce(sum(n) over (order by score asc
              rows between unbounded preceding and 1 preceding), 0)
           + n + 1 as rank2
  from hist
),
agg as (
  select cast(sum(np) as bigint) as n_pos,
         cast(sum(n) - sum(np) as bigint) as n_neg,
         cast(sum(np * rank2) as bigint) as r2p,
         cast(sum(np * score) as bigint) as sum_cn_pos,
         cast(sum((n - np) * score) as bigint) as sum_cn_neg
  from ranked
)
select n_pos, n_neg, sum_cn_pos, sum_cn_neg,
       case when n_pos > 0 and n_neg > 0 then
         (500000 * (r2p - n_pos * (n_pos + 1))) // (n_pos * n_neg)
       else cast(null as bigint) end as auc_e6
from agg
"""


# ---------------------------------------------------------------------------
# Local clustering coefficient (per-host triadic closure)
# ---------------------------------------------------------------------------

def clustering_coeff(pages: DataFrame) -> DataFrame:
    """Local clustering coefficient per host -> (host, d, n_tri,
    coeff_e6 = 2e6 * n_tri div (d * (d-1))): the per-node triadic-
    closure metric (Watts-Strogatz 1998) — link farms and genuine
    communities close triangles, navigational chains do not; the
    global census q_kg_triangles reports one number, this attributes
    closure to each host.

    Scale shape: `extract._closed_triangles` over
    `extract._undirected_edges` (orientation bounds wedge fan-out by
    O(sqrt(m)); a hub generates zero wedges), with one addition: each
    closed triangle EXPLODES to its three corners (a constant x3) so a
    map-side-combined per-node count attributes it to every member.
    Division is integer (truncating), d < 2 yields coeff 0 — totals
    and ties engine-exact. int64 bound: d*(d-1) and 2e6*n_tri both
    comfortably inside (n_tri <= d^2 locally; a 1e6-degree host would
    need ~2e12*1e6 -> re-quantize — documented, not reachable before
    the wedge cap a real deployment adds)."""
    e = _undirected_edges(distinct_host_edges(pages), "u", "v")
    deg, tri = _closed_triangles(e.localCheckpoint(eager=True))
    corners = tri.select(
        F.explode(F.array("src", "v", "w")).alias("n")
    ).groupBy("n").agg(F.count("*").cast("bigint").alias("n_tri"))
    return (
        deg.join(corners, "n", "left")
        .select(
            F.col("n").alias("host"),
            "d",
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("bigint")
            .alias("n_tri"),
            F.expr(
                "case when d >= 2 then"
                " (2000000 * coalesce(n_tri, 0)) div (d * (d - 1))"
                " else cast(0 as bigint) end"
            ).alias("coeff_e6"),
        )
    )


def duck_clustering_coeff_sql(pages_sql_duck: str) -> str:
    """Oracle: brute a<b<c triangle enumeration (an INDEPENDENT
    formulation — no degree orientation) + corner unnest + the same
    integer division."""
    return f"""
with links as (
  select distinct src_host as u, dst_host as v
  from ({duck_planted_links_sql(pages_sql_duck)})
  where src_host <> dst_host
),
e as (
  select distinct least(u, v) as a, greatest(u, v) as b from links
),
deg as (
  select n, cast(count(*) as bigint) as d from (
    select a as n from e union all select b from e
  ) group by 1
),
tri as (
  select e1.a as x, e1.b as y, e2.b as z
  from e e1
  join e e2 on e2.a = e1.b
  join e e3 on e3.a = e1.a and e3.b = e2.b
),
corners as (
  select n, cast(count(*) as bigint) as n_tri from (
    select unnest([x, y, z]) as n from tri
  ) group by 1
)
select deg.n as host, d,
       cast(coalesce(corners.n_tri, 0) as bigint) as n_tri,
       case when d >= 2 then
         (2000000 * coalesce(corners.n_tri, 0)) // (d * (d - 1))
       else cast(0 as bigint) end as coeff_e6
from deg left join corners on corners.n = deg.n
"""


SSSP_ROUNDS = 4


def sssp_weighted(
    pages: DataFrame,
    n_seeds: int = BFS_SEEDS,
    n_rounds: int = SSSP_ROUNDS,
) -> DataFrame:
    """Weighted multi-source shortest paths over the DIRECTED host
    graph -> (host, cost_e6): bounded Bellman-Ford from the authority
    core (same top-in-degree seeds as crawl_depth), where an edge's
    cost is cheap when many links carry it — cost_e6(u, v) = 1e6 div
    (1 + n_links(u, v)) + 1 (the +1 keeps every hop strictly
    positive, so cost is a path-length refinement, not free). This is
    crawl_depth's metric upgraded from hop count to link-mass-aware
    distance: two hosts one hop apart over a single stray link are
    FARTHER than two hosts three hops apart over heavily-linked spines,
    which is what frontier scheduling actually wants to rank by.

    Rounds are FIXED (n_rounds), not convergence-tested: the result is
    "cheapest path using <= n_rounds edges", the budgeted semantics of
    crawl planning, replayed identically by the chained-CTE oracle.

    Scale shape: each round is ONE equi-join of the current distance
    table against the weighted edge list (edge-keyed, high-cardinality
    (u, v) — a hub host inflates a probe side, AQE splits it) + one
    map-side-combined min agg, localCheckpoint'd per round (the
    CC/PageRank discipline). All-bigint: cost <= n_rounds * (1e6 + 1),
    nowhere near overflow."""
    e = web_graph(pages).where(
        F.col("src_host") != F.col("dst_host")
    ).select(
        F.col("src_host").alias("u"),
        F.col("dst_host").alias("v"),
        F.expr("(1000000 div (1 + n_links)) + 1").cast("bigint").alias(
            "w"
        ),
    ).localCheckpoint(eager=True)
    dist = _top_indeg_seeds(e, n_seeds).select(
        "host", F.lit(0).cast("bigint").alias("cost_e6")
    ).localCheckpoint(eager=True)
    for _ in range(n_rounds):
        relaxed = (
            dist.join(e, dist.host == e.u)
            .select(
                F.col("v").alias("host"),
                (F.col("cost_e6") + F.col("w")).alias("cost_e6"),
            )
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("host")
            .agg(F.min("cost_e6").cast("bigint").alias("cost_e6"))
            .localCheckpoint(eager=True)
        )
    return dist


def duck_sssp_weighted_sql(
    pages_sql_duck: str,
    n_seeds: int = BFS_SEEDS,
    n_rounds: int = SSSP_ROUNDS,
) -> str:
    """Oracle: the same bounded relaxation as chained CTEs. Literal-int
    trap: 1000000 // (1 + n_links) stays in range, but cast the
    running sums to bigint (DuckDB sum/min promote)."""
    ctes = [
        f"""e as (
  select src_host as u, dst_host as v,
         cast((1000000 // (1 + count(*))) + 1 as bigint) as w
  from ({duck_planted_links_sql(pages_sql_duck)})
  where src_host <> dst_host
  group by 1, 2
)""",
        f"""seeds as (
  select host from (
    select v as host, count(*) as indeg from e group by 1
  ) order by indeg desc, host asc limit {n_seeds}
)""",
        "d0 as (select host, cast(0 as bigint) as cost_e6 from seeds)",
    ]
    prev = "d0"
    for i in range(1, n_rounds + 1):
        ctes.append(
            f"""d{i} as (
  select host, cast(min(cost_e6) as bigint) as cost_e6 from (
    select host, cost_e6 from {prev}
    union all
    select e.v as host, d.cost_e6 + e.w as cost_e6
    from {prev} d join e on d.host = e.u
  ) group by 1
)"""
        )
        prev = f"d{i}"
    return "with " + ",\n".join(ctes) + f"\nselect host, cost_e6 from {prev}"


# ---------------------------------------------------------------------------
# crawl concentration: Gini coefficient of pages-per-host
# ---------------------------------------------------------------------------


def host_gini(pages: DataFrame) -> DataFrame:
    """Crawl-concentration report -> ONE row (n_hosts, total_pages,
    gini_e6): the Gini coefficient of the pages-per-host distribution,
    the single number that tracks whether the crawler is drifting into
    a few mega-hosts (Gini -> 1e6) or spreading politely (-> 0); the
    scheduling complement to host_quota_sample and the scalar summary
    of the degree histogram's power-law tail. Exact rank-statistic
    formula over the ascending order (ties broken by host for a total
    order): G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)), released
    as exact bigint ppm.

    Scale shape: the per-host count is one map-side-combined agg (the
    row-scale pass); the rank is ONE window over the host-cardinality
    agg output — a rank statistic needs a total order by definition,
    and that sort runs over hosts, not pages. Overflow bound (stated,
    not silent): sum(i*x) <= n_hosts*total_pages and the e6 release
    multiplies the numerator by 1e6, so bigint requires
    n_hosts*total_pages < 9.2e12 — past that, pre-scale x (count in
    thousands) before ranking, same plan."""
    from pyspark.sql import Window

    counts = (
        pages.select(
            F.expr(f"regexp_extract(url, '{_HOST_RE}', 1)").alias("host")
        )
        .groupBy("host")
        .agg(F.count("*").cast("bigint").alias("x"))
    )
    w = Window.orderBy(F.asc("x"), F.asc("host"))
    ranked = counts.withColumn(
        "i", F.row_number().over(w).cast("bigint")
    )
    return ranked.agg(
        F.expr("cast(count(*) as bigint)").alias("n_hosts"),
        F.expr("cast(sum(x) as bigint)").alias("total_pages"),
        F.expr("cast(sum(i * x) as bigint)").alias("_s"),
    ).selectExpr(
        "n_hosts",
        "total_pages",
        "(1000000 * (2 * _s - (n_hosts + 1) * total_pages))"
        " div (n_hosts * total_pages) as gini_e6",
    )


def duck_host_gini_sql(pages_sql_duck: str) -> str:
    """Oracle twin of host_gini (same rank order, same floor-div ppm;
    sum casts per the HUGEINT trap)."""
    return f"""
with counts as (
  select regexp_extract(url, '{_HOST_RE}', 1) as host,
         cast(count(*) as bigint) as x
  from ({pages_sql_duck}) group by 1
),
ranked as (
  select x, cast(row_number() over (order by x asc, host asc) as bigint) as i
  from counts
),
a as (
  select cast(count(*) as bigint) as n_hosts,
         cast(sum(x) as bigint) as total_pages,
         cast(sum(i * x) as bigint) as s
  from ranked
)
select n_hosts, total_pages,
       (1000000 * (2 * s - (n_hosts + 1) * total_pages))
         // (n_hosts * total_pages) as gini_e6
from a
"""


# ---------------------------------------------------------------------------
# Luby maximal independent set (crawl-wave scheduling)
# ---------------------------------------------------------------------------

# Measured on the planted hub graph: 7/499 residual at 8 rounds,
# 0/499 at 10 (vs 33/499 at 8 when the reshuffle was accidentally a
# no-op — see _mis_mult). 12 = headroom: a star hub's residual spokes
# halve per round in expectation, and rounds run over the shrinking
# residual only, so extra rounds cost residual-sized joins, not
# corpus-sized ones.
MIS_ROUNDS = 12


def _mis_mult(r: int) -> int:
    """Per-round priority multiplier: p_r(host) = base * A_r mod M with
    M prime (hashing.M) is a universal-hash-family reshuffle — a
    DIFFERENT bijection of Z_M each round, product < 2^62 so int64-safe
    in both engines. This matters: strhash only folds the first
    STRHASH_CHARS chars, so an APPENDED per-round salt never reaches
    the polynomial on >=12-char hosts, and a PREPENDED salt is a common
    prefix = a constant addend that preserves relative order except at
    the modulus wrap (measured: both 'fresh' variants left the same
    33/499 residual as fixed priorities at 8 rounds). A_r must be a
    large spread constant — a small a makes a*x mod M piecewise
    order-preserving with only a pieces — so A_r is itself
    strhash('wave:r'), floored to 2 to stay a bijection."""
    from ..functions.hashing import strhash

    return max(2, strhash(f"wave:{r}"))


def luby_mis(pages: DataFrame, n_rounds: int = MIS_ROUNDS) -> DataFrame:
    """Crawl-wave scheduling by iterated Luby-style independent sets
    (Luby 1986 symmetry breaking; greedy distance-1 coloring) ->
    (host, wave): every linked host gets a wave, and no two
    directly-linked hosts EVER share one — conflict-free parallel
    fetch scheduling. Each round, the hosts whose (priority, host)
    pair is lexicographically smaller than EVERY unscheduled
    neighbor's form that wave (the local-minima independent set of
    the residual graph) and ONLY they leave; their neighbors stay
    eligible for later waves, which is what makes the output a
    PARTITION rather than one MIS. Priorities are FRESH each round —
    base = strhash(host) hashed ONCE into the checkpointed node list
    (the linkpred constraint-propagation lesson), then reshuffled per
    round by _mis_mult's multiplicative universal hash — which is what
    Luby's analysis needs: with effectively-fixed priorities the
    planted graph stalled at 33/499 after 8 rounds (a lexicographic
    chain clears slowly); with real reshuffles it empties by round 10.
    The DuckDB replay is bit-exact; the (p, host) lexicographic
    compare makes hash collisions harmless.

    Rounds are FIXED; anything still unscheduled after the last round
    is reported as wave -1, deterministically (a production scheduler
    iterates until empty; local minima clear a constant expected
    fraction per round on bounded-degree graphs). Per round: two
    semi-joins restrict edges to unscheduled nodes, ONE map-side-
    combined min(p) agg + one tie-break min(host) agg over nodes whose
    neighbor hits that min, one anti-join deactivates; active is
    localCheckpoint'd so the iterative lineage stays flat — the
    CC/PageRank fixpoint discipline."""
    from ..functions.hashing import M, sql_strhash

    edges = sym_host_edges(pages)

    # ONE state DataFrame (node, base, wave) and ONE checkpoint barrier
    # per round, THREE shuffles per round total — the minimal residual-MIS
    # round. Two fusions make it minimal, both identity-preserving:
    #   * the node-side "is the node still active" semi-join is REDUNDANT:
    #     mm rows for already-scheduled nodes are discarded by the
    #     wave-IS-NULL branch of the state update, so only the NEIGHBOR
    #     side needs the active restriction (and it gets it for free —
    #     pn comes from joining the active-only priority projection);
    #   * the mis join is GONE: a node's own priority is a pure function
    #     of its checkpointed base, so the local-minimum test runs inline
    #     in the state-update projection instead of a third join.
    # (Naive form: 6 shuffles + 2 barriers/round, measured 6.0-6.6 s at
    # sf0.01 where per-stage overhead dominates; this form ~5.3 s — and
    # at scale the win is real work, not scheduling: two graph-sized
    # semi-join exchanges and one mis-join exchange per round removed.
    # Checkpointing every 2nd round instead was NOT faster — the doubled
    # per-job lineage costs in planning what it saves in barriers.)
    state = (
        edges.select("node", F.expr(sql_strhash("node")).alias("base"))
        .distinct()
        .withColumn("wave", F.lit(None).cast("bigint"))
        .localCheckpoint(eager=True)
    )
    for r in range(1, n_rounds + 1):
        mult = F.lit(_mis_mult(r))
        pr = state.where(F.col("wave").isNull()).select(
            F.col("node").alias("nbr"),
            ((F.col("base") * mult) % F.lit(M)).alias("pn"),
        )
        # ONE lexicographic struct-min = (min active-nbr priority, min
        # nbr among priority ties): identical by definition to the
        # oracle's two-step min(pn) + tie-break min(nbr).
        mm = (
            edges.join(pr, "nbr")
            .groupBy("node")
            .agg(F.min(F.struct(F.col("pn"), F.col("nbr"))).alias("s"))
            .select(
                "node", F.col("s.pn").alias("mp"), F.col("s.nbr").alias("mu")
            )
        )
        p = (F.col("base") * mult) % F.lit(M)
        state = (
            state.join(mm, "node", "left")
            .select(
                "node",
                "base",
                F.when(F.col("wave").isNotNull(), F.col("wave"))
                .when(
                    F.col("mp").isNull()
                    | (p < F.col("mp"))
                    | ((p == F.col("mp")) & (F.col("node") < F.col("mu"))),
                    F.lit(r).cast("bigint"),
                )
                .alias("wave"),
            )
            .localCheckpoint(eager=True)
        )
    return state.select(
        F.col("node").alias("host"),
        F.coalesce(F.col("wave"), F.lit(-1).cast("bigint")).alias("wave"),
    )


def duck_luby_mis_sql(
    pages_sql_duck: str, n_rounds: int = MIS_ROUNDS
) -> str:
    """Oracle twin of luby_mis: the same wave rounds unrolled as
    chained MATERIALIZED CTEs over the PLANTED link set, identical
    base-strhash + per-round _mis_mult multiplicative priorities,
    (p, host) lexicographic rule and mis-only deactivation."""
    from ..functions.hashing import M, sql_strhash

    ctes = [
        f"""
links as materialized (
  select distinct src_host as u, dst_host as v
  from ({duck_planted_links_sql(pages_sql_duck)})
  where src_host <> dst_host
),
e0 as materialized (
  select u as node, v as nbr from links union select v, u from links
),
a0 as materialized (
  select node, {sql_strhash('node')} as base
  from (select distinct node from e0)
)"""
    ]
    sel = []
    for r in range(1, n_rounds + 1):
        p = r - 1
        mult = _mis_mult(r)
        ctes.append(
            f"""
pr{r} as materialized (
  select node, (base * cast({mult} as bigint)) % {M} as p from a{p}
),
nb{r} as materialized (
  select e.node, cast(min(q.p) as bigint) as mp
  from e0 e
  join a{p} s on s.node = e.node
  join pr{r} q on q.node = e.nbr
  group by 1
),
mu{r} as materialized (
  select e.node, min(e.nbr) as mu
  from e0 e
  join a{p} s on s.node = e.node
  join pr{r} q on q.node = e.nbr
  join nb{r} n on n.node = e.node and q.p = n.mp
  group by 1
),
mis{r} as materialized (
  select a.node
  from pr{r} a
  left join nb{r} n on n.node = a.node
  left join mu{r} m on m.node = a.node
  where n.mp is null or a.p < n.mp
     or (a.p = n.mp and a.node < m.mu)
),
a{r} as materialized (
  select a.node, a.base from a{p} a
  where not exists (select 1 from mis{r} x where x.node = a.node)
)"""
        )
        sel.append(
            f"select node as host, cast({r} as bigint) as wave from mis{r}"
        )
    sel.append(
        f"select node as host, cast(-1 as bigint) as wave from a{n_rounds}"
    )
    return "with " + ",".join(ctes) + "\n" + "\nunion all\n".join(sel)


# ---------------------------------------------------------------------------
# Crawl-budget apportionment (Hamilton largest remainder)
# ---------------------------------------------------------------------------

CRAWL_BUDGET = 100_000


def crawl_budget(pages: DataFrame, budget: int = CRAWL_BUDGET) -> DataFrame:
    """-> (host, n_pages, alloc): apportion a fixed per-cycle fetch
    budget across hosts proportionally to their page counts by
    Hamilton's largest-remainder method — the integer-exact allocation
    rule (sum(alloc) == budget ALWAYS, every host within one fetch of
    its exact proportional share) that floats-and-round cannot give.
    The same arithmetic apportions congressional seats and mixture
    sampling quotas; here it turns q_host_gini's concentration
    diagnosis into an actionable schedule.

        base_i = (B * p_i) div T,  rem_i = (B * p_i) mod T
        leftover L = B - sum(base_i)  (0 <= L < n_hosts)
        alloc_i = base_i + 1 for the L largest (rem_i, host asc) rows

    Scale shape: the page count map-side combines; T and L are ONE-ROW
    aggs broadcast back (the web_graph counting idiom); the ranking
    window runs over the HOST-cardinality table, never pages (the
    host_gini precedent — its WindowExec warning is bounded by
    construction). int64: B * p_i < 9.2e18 holds to ~9e13 pages per
    host at the default budget."""
    counts = (
        pages.select(
            F.expr(f"regexp_extract(url, '{_HOST_RE}', 1)").alias("host")
        )
        .groupBy("host")
        .agg(F.count("*").cast("bigint").alias("n_pages"))
    )
    tot = counts.agg(F.sum("n_pages").cast("bigint").alias("t"))
    quota = counts.crossJoin(F.broadcast(tot)).select(
        "host",
        "n_pages",
        F.expr(f"cast({budget} as bigint) * n_pages div t").alias("base"),
        F.expr(f"cast({budget} as bigint) * n_pages % t").alias("rem"),
    )
    left = quota.agg(
        F.expr(f"cast({budget} - sum(base) as bigint)").alias("l")
    )
    from pyspark.sql import Window as W

    rk = F.row_number().over(
        W.orderBy(F.desc("rem"), F.asc("host"))
    )
    return (
        quota.withColumn("rk", rk)
        .crossJoin(F.broadcast(left))
        .select(
            "host",
            "n_pages",
            F.expr(
                "cast(base + case when rk <= l then 1 else 0 end"
                " as bigint)"
            ).alias("alloc"),
        )
    )


def duck_crawl_budget_sql(
    pages_sql_duck: str, budget: int = CRAWL_BUDGET
) -> str:
    """Oracle twin: same floor-div quotas, same (rem desc, host asc)
    ranking, same leftover top-up."""
    return f"""
with p as ({pages_sql_duck}),
counts as (
  select regexp_extract(url, '{_HOST_RE}', 1) as host,
         cast(count(*) as bigint) as n_pages
  from p group by 1
),
q as (
  select host, n_pages,
         (cast({budget} as bigint) * n_pages)
           // (select cast(sum(n_pages) as bigint) from counts) as base,
         (cast({budget} as bigint) * n_pages)
           % (select cast(sum(n_pages) as bigint) from counts) as rem
  from counts
),
r as (
  select host, n_pages, base,
         row_number() over (order by rem desc, host asc) as rk,
         (select {budget} - cast(sum(base) as bigint) from q) as l
  from q
)
select host, n_pages,
       cast(base + case when rk <= l then 1 else 0 end as bigint) as alloc
from r
"""


# ---------------------------------------------------------------------------
# Community quotient graph (graph summarization over LPA labels)
# ---------------------------------------------------------------------------


def community_graph(
    pages: DataFrame, n_rounds: int = LPA_ROUNDS
) -> DataFrame:
    """Quotient-graph summary over the LPA communities -> one row per
    community: (community, n_hosts, intra_edges, out_edges, in_edges).
    The graph-summarization rollup a web pipeline reads instead of the
    raw host graph: community sizes plus how many distinct directed
    host edges stay inside the community vs cross its boundary
    (out = tail inside, head elsewhere; in = the reverse) — the
    link-ring / mirror-farm audit view, and the quotient edge counts
    modularity-style diagnostics start from.

    Scale shape: labels come from the certified bounded-round LPA
    (lpa_communities, checkpointed per round); the distinct directed
    edge list joins the label table TWICE on host (label table is
    host-sized — an equi-join each side, no broadcast assumption at
    web scale), then everything collapses through THREE map-side-
    combined aggs (per-tail, per-head, per-label counts) full-outer-
    merged on the community key — community-count-sized, so no
    corpus-scale rows survive past the two label joins. A hot
    community (giant LPA basin) is only a COUNT hot key — partial
    aggregation absorbs it map-side; nothing fans out."""
    labels = lpa_communities(pages, n_rounds)
    e = distinct_host_edges(pages)
    lab_u = labels.select(
        F.col("host").alias("u"), F.col("community").alias("cu")
    )
    lab_v = labels.select(
        F.col("host").alias("v"), F.col("community").alias("cv")
    )
    e2 = e.join(lab_u, "u").join(lab_v, "v")
    by_tail = e2.groupBy(F.col("cu").alias("community")).agg(
        F.sum((F.col("cu") == F.col("cv")).cast("long")).alias("intra_edges"),
        F.sum((F.col("cu") != F.col("cv")).cast("long")).alias("out_edges"),
    )
    by_head = (
        e2.where(F.col("cu") != F.col("cv"))
        .groupBy(F.col("cv").alias("community"))
        .agg(F.count("*").alias("in_edges"))
    )
    sizes = labels.groupBy(F.col("community")).agg(
        F.count("*").alias("n_hosts")
    )
    return (
        sizes.join(by_tail, "community", "left")
        .join(by_head, "community", "left")
        .select(
            "community",
            F.col("n_hosts").cast("bigint").alias("n_hosts"),
            F.coalesce("intra_edges", F.lit(0)).cast("bigint").alias(
                "intra_edges"
            ),
            F.coalesce("out_edges", F.lit(0)).cast("bigint").alias(
                "out_edges"
            ),
            F.coalesce("in_edges", F.lit(0)).cast("bigint").alias(
                "in_edges"
            ),
        )
    )


def duck_community_graph_sql(
    pages_sql_duck: str, n_rounds: int = LPA_ROUNDS
) -> str:
    """Oracle twin of community_graph: LPA labels via the certified
    chained-CTE replay, the same two label joins and three rollups."""
    lpa = duck_lpa_communities_sql(pages_sql_duck, n_rounds)
    return f"""
with labels as materialized ({lpa}),
e as (
  select distinct src_host as u, dst_host as v
  from ({duck_planted_links_sql(pages_sql_duck)})
  where src_host <> dst_host
),
e2 as (
  select lu.community as cu, lv.community as cv
  from e
  join labels lu on lu.host = e.u
  join labels lv on lv.host = e.v
),
by_tail as (
  select cu as community,
         cast(sum(case when cu = cv then 1 else 0 end) as bigint)
             as intra_edges,
         cast(sum(case when cu <> cv then 1 else 0 end) as bigint)
             as out_edges
  from e2 group by 1
),
by_head as (
  select cv as community, cast(count(*) as bigint) as in_edges
  from e2 where cu <> cv group by 1
),
sizes as (
  select community, cast(count(*) as bigint) as n_hosts
  from labels group by 1
)
select s.community, s.n_hosts,
       coalesce(t.intra_edges, 0) as intra_edges,
       coalesce(t.out_edges, 0) as out_edges,
       coalesce(h.in_edges, 0) as in_edges
from sizes s
left join by_tail t using (community)
left join by_head h using (community)
"""


# ---------------------------------------------------------------------------
# Distributed 2-D skyline (Pareto frontier) over host metrics
# ---------------------------------------------------------------------------

SKYLINE_BUCKETS = 64


def host_skyline(
    pages: DataFrame, n_buckets: int = SKYLINE_BUCKETS
) -> DataFrame:
    """2-D Pareto frontier over per-host metrics -> (host, n_pages,
    n_langs): the hosts NOT dominated (another host >= on both axes
    and > on at least one) when maximizing page count AND language
    breadth — the crawl-planning shortlist shape ("biggest and most
    multilingual") that no single ORDER BY expresses. Co-optimal
    duplicates are all kept (set semantics of the frontier).

    Scale shape: the naive formulation is an O(n^2) self-join; here a
    host is tested against three SUFFIX MAXIMA instead of against
    other hosts pairwise:

      eqx:  max y at the SAME x            (distinct-x agg, map-side)
      hs:   max y over strictly higher x
            within the host's x-bucket     (window over the bucket's
                                            distinct-x rows — bounded)
      bs:   max y over strictly higher
            x-buckets                      (window over <= n_buckets
                                            rows, broadcast back)

    dominated iff y < eqx, or hs >= y, or bs >= y — each certificate
    is a SINGLE real dominating point (equal-x-higher-y, higher-x in
    bucket, or any host of a higher bucket, whose x is strictly
    greater by bucket monotonicity). Work: two small aggs, two
    bounded windows, agg-keyed joins; no corpus self-join anywhere.
    The brute-force NOT EXISTS oracle certifies the algorithm against
    the definition itself."""
    from pyspark.sql import Window as W

    m = (
        pages.select(
            F.expr("parse_url(url, 'HOST')").alias("host"), "lang"
        )
        .groupBy("host")
        .agg(
            F.count("*").cast("bigint").alias("n_pages"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
        )
        .localCheckpoint(eager=True)
    )
    mx = m.agg(F.max("n_pages").alias("mx"))
    b = m.crossJoin(F.broadcast(mx)).withColumn(
        "bk",
        F.expr(
            f"least(cast((n_pages * {n_buckets}) div (mx + 1) as bigint),"
            f" {n_buckets - 1})"
        ),
    ).drop("mx")
    dx = b.groupBy("bk", "n_pages").agg(
        F.max("n_langs").alias("eqx")
    )
    whs = W.partitionBy("bk").orderBy(F.desc("n_pages")).rowsBetween(
        W.unboundedPreceding, -1
    )
    dxs = dx.withColumn("hs", F.max("eqx").over(whs))
    bmax = dx.groupBy("bk").agg(F.max("eqx").alias("bymax"))
    wbs = W.orderBy(F.desc("bk")).rowsBetween(W.unboundedPreceding, -1)
    bsuf = bmax.select("bk", F.max("bymax").over(wbs).alias("bs"))
    j = b.join(dxs, ["bk", "n_pages"]).join(F.broadcast(bsuf), "bk")
    return j.where(
        (F.col("n_langs") == F.col("eqx"))
        & (F.col("hs").isNull() | (F.col("hs") < F.col("n_langs")))
        & (F.col("bs").isNull() | (F.col("bs") < F.col("n_langs")))
    ).select("host", "n_pages", "n_langs")


def duck_host_skyline_sql(pages_sql_duck: str) -> str:
    """Oracle twin of host_skyline: brute-force NOT EXISTS dominance —
    certifying the grid algorithm against the definition itself."""
    return f"""
with m as (
  select regexp_extract(url, '^https://([^/]+)', 1) as host,
         cast(count(*) as bigint) as n_pages,
         cast(count(distinct lang) as bigint) as n_langs
  from ({pages_sql_duck}) group by 1
)
select host, n_pages, n_langs
from m a
where not exists (
  select 1 from m b
  where b.n_pages >= a.n_pages and b.n_langs >= a.n_langs
    and (b.n_pages > a.n_pages or b.n_langs > a.n_langs)
)
"""


def rectangle_census(pages: DataFrame) -> DataFrame:
    """Global 4-cycle (rectangle) census of the undirected host graph
    -> one row (n_nodes, n_edges, n_diag_pairs, n_c4): the next motif
    up from q_kg_triangles' triangle census. Rectangles are the
    signature of bipartite-ish link structure — mirror farms and
    template navigation close C4s without closing triangles — so the
    C4/triangle ratio separates copy-link spam from genuine community
    closure (Kolountzakis et al. motif-counting line of work).

    Counting identity: every unordered pair {u, w} with c common
    neighbors contributes C(c, 2) cycles (choose the other diagonal's
    two corners), and every 4-cycle is counted at BOTH its diagonals,
    so n_c4 = sum_pairs C(c, 2) / 2 — both divisions exact (c*(c-1) is
    even; the double-count halving is exact by the identity).

    Scale shape: ONE self-join of the symmetric adjacency on the center
    node builds wedges (u < w kills mirror duplicates), and a
    map-side-combined groupBy(u, w) collapses them to common-neighbor
    counts before the single global agg — no per-node state, no
    iteration. Wedge fan-out is sum_x d(x)^2, the known cost of any
    exact C4 count; a web-scale run bounds it the way the repo's
    triangle census does (degree orientation cannot apply here — the
    diagonal pair needs ALL common neighbors — so production caps
    center degree and counts hub centers via the dense-block identity
    instead; the cap's effect is observable, not silent, because the
    census reports the wedge-pair total it summed)."""
    e = _undirected_edges(distinct_host_edges(pages), "u", "v")
    e = e.localCheckpoint(eager=True)
    adj = e.select(F.col("a").alias("x"), F.col("b").alias("n")).unionAll(
        e.select(F.col("b").alias("x"), F.col("a").alias("n"))
    )
    wedges = (
        adj.select("x", F.col("n").alias("u"))
        .join(adj.select("x", F.col("n").alias("w")), "x")
        .where(F.col("u") < F.col("w"))
    )
    pairs = wedges.groupBy("u", "w").agg(
        F.count("*").cast("bigint").alias("c")
    )
    n_c4 = pairs.agg(
        F.count("*").cast("bigint").alias("n_diag_pairs"),
        # all-integer: sum is provably even (each C4 counted at both
        # diagonals), so the final div 2 is exact — no float leg
        F.expr("sum((c * (c - 1)) div 2) div 2")
        .cast("bigint")
        .alias("n_c4"),
    )
    n_nodes = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .distinct()
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
    )
    n_edges = e.agg(F.count("*").cast("bigint").alias("n_edges"))
    return n_nodes.crossJoin(n_edges).crossJoin(
        n_c4.select(
            "n_diag_pairs", F.coalesce("n_c4", F.lit(0)).alias("n_c4")
        )
    )


def duck_rectangle_census_sql(pages_sql_duck: str) -> str:
    """Oracle: INDEPENDENT brute enumeration — each 4-cycle a-b-c-d-a
    materialized exactly once in canonical form (a = min corner, b < d
    picks one traversal direction), certifying the common-neighbor
    identity against the cycle definition itself. The diag-pair total
    is recomputed via the wedge identity (same formulation both
    engines — it IS the definition of that column)."""
    return f"""
with links as (
  select distinct src_host as u, dst_host as v
  from ({duck_planted_links_sql(pages_sql_duck)})
  where src_host <> dst_host
),
e as (
  select distinct least(u, v) as a, greatest(u, v) as b from links
),
adj as (
  select a as x, b as n from e union all select b, a from e
),
cyc as (
  select 1 from adj e1
  join adj e2 on e2.x = e1.n
  join adj e3 on e3.x = e2.n
  join adj e4 on e4.x = e3.n and e4.n = e1.x
  where e1.x < e1.n and e1.x < e2.n and e1.x < e3.n
    and e1.n < e3.n and e2.n <> e1.x
),
pairs as (
  select w1.n as u, w2.n as w, cast(count(*) as bigint) as c
  from adj w1 join adj w2 on w2.x = w1.x and w1.n < w2.n
  group by 1, 2
)
select (select cast(count(distinct n) as bigint) from adj) as n_nodes,
       (select cast(count(*) as bigint) from e) as n_edges,
       (select cast(count(*) as bigint) from pairs) as n_diag_pairs,
       (select cast(count(*) as bigint) from cyc) as n_c4
"""


KTRUSS_K = 3
KTRUSS_ROUNDS = 3


def ktruss(triples: DataFrame, k: int = KTRUSS_K,
           n_rounds: int = KTRUSS_ROUNDS) -> DataFrame:
    """k-truss of the undirected ENTITY graph (see ktruss_from_edges).
    The entity graph is the triangle-bearing one — the planted host
    graph is hub-spoke + chain, hence triangle-free by construction
    (measured; its truss is empty at any k >= 3)."""
    e = _undirected_edges(triples, "subj", "obj")
    return ktruss_from_edges(e, k=k, n_rounds=n_rounds)


def ktruss_from_edges(edges: DataFrame, k: int = KTRUSS_K,
                      n_rounds: int = KTRUSS_ROUNDS) -> DataFrame:
    """Bounded-round k-truss peel of the undirected host graph ->
    surviving edges (a, b, support): the EDGE-centric density core
    (Cohen 2008) next to q_kcore's vertex-centric one — every
    surviving edge closes >= k-2 triangles within the surviving
    subgraph, the standard community-core / link-farm-nucleus
    primitive (a k-truss is a stronger certificate than a k-core:
    cohesion via shared neighbors, not bare degree).

    Semantics: FIXED n_rounds peel iterations (the kcore/crawl-depth
    budget discipline — at web scale you run a round budget, not an
    unbounded fixpoint); the planted graph reaches its fixpoint within
    the budget, asserted in pytest by an extra round being a no-op.

    Scale shape per round: triangle support comes from
    `extract._closed_triangles` (orientation bounds wedge fan-out by
    O(sqrt m); hubs generate zero wedges), each closed triangle
    EXPLODES to its three member edges (constant x3) into a map-side-
    combined per-edge count; the < k-2 filter is a join-back; two
    semi-joins restrict the edge set. Edge state localCheckpoint'd per
    round (the CC discipline)."""
    if n_rounds < 1:
        raise ValueError(
            f"ktruss_from_edges needs n_rounds >= 1 (got {n_rounds}): "
            "zero rounds would compute no support at all"
        )
    e = edges.localCheckpoint(eager=True)
    sup = None
    for _ in range(n_rounds):
        _, tri = _closed_triangles(e)
        edge_sup = (
            tri.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.least("src", "v").alias("a"),
                            F.greatest("src", "v").alias("b"),
                        ),
                        F.struct(
                            F.least("src", "w").alias("a"),
                            F.greatest("src", "w").alias("b"),
                        ),
                        F.struct(F.col("v").alias("a"), F.col("w").alias("b")),
                    )
                ).alias("e")
            )
            .select("e.a", "e.b")
            .groupBy("a", "b")
            .agg(F.count("*").cast("bigint").alias("support"))
        )
        sup = e.join(edge_sup, ["a", "b"], "left").select(
            "a", "b",
            F.coalesce("support", F.lit(0)).cast("bigint").alias("support"),
        )
        e = (
            sup.where(F.col("support") >= k - 2)
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
    return sup.where(F.col("support") >= k - 2)


def duck_ktruss_sql(triples_sql: str, k: int = KTRUSS_K,
                    n_rounds: int = KTRUSS_ROUNDS) -> str:
    """Chained-CTE replay: per round the INDEPENDENT brute a<b<c
    triangle enumeration (no degree orientation — certifying the
    oriented wedge join against the definition), corner-edge unnest,
    filter, repeat."""
    ctes = [f"""
e0 as (
  select distinct least(subj, obj) as a, greatest(subj, obj) as b
  from ({triples_sql}) where subj <> obj
)"""]
    for r in range(1, n_rounds + 1):
        ctes.append(f"""
tri{r} as materialized (
  select e1.a as x, e1.b as y, e2.b as z
  from e{r - 1} e1
  join e{r - 1} e2 on e2.a = e1.b
  join e{r - 1} e3 on e3.a = e1.a and e3.b = e2.b
),
sup{r} as materialized (
  select ea, eb, cast(count(*) as bigint) as support from (
    select unnest([x, x, y]) as ea, unnest([y, z, z]) as eb from tri{r}
  ) group by 1, 2
),
s{r} as materialized (
  select e.a, e.b, cast(coalesce(sup{r}.support, 0) as bigint) as support
  from e{r - 1} e left join sup{r}
    on sup{r}.ea = e.a and sup{r}.eb = e.b
),
e{r} as materialized (
  select a, b from s{r} where support >= {k - 2}
)""")
    return (
        "with " + ",".join(ctes)
        + f" select a, b, support from s{n_rounds} where support >= {k - 2}"
    )


# ---------------------------------------------------------------------------
# Boruvka minimum spanning forest (Boruvka 1926; THE parallel MST
# algorithm — every round each component grabs its cheapest outgoing
# edge, components at least halve, O(log n) rounds) over the weighted
# host graph. The backbone/de-duplication view of the link structure:
# the MST keeps the cheapest connectivity skeleton (cost = the SSSP
# convention 1e6 div (1 + n_links) + 1, so heavily-linked edges are
# cheap) and drops redundant navigation.

MST_ROUNDS = 6       # outer rounds: components >= halve/round (sf0.1 needs 5; early break when done)
MST_CC_ROUNDS = 8    # min-label contraction budget of the DuckDB replay


def boruvka_msf(pages: DataFrame, n_rounds: int = MST_ROUNDS) -> DataFrame:
    """Minimum spanning forest -> (a, b, w) selected edges. Weights:
    w = 1e6 div (1 + n_links(a,b)) + 1 over the undirected host graph
    (link multiplicity summed over both directions), ties broken by
    the total order (w, a, b) so the forest is unique and the oracle
    replays it edge-for-edge.

    Round shape (see msf_from_weighted_edges for the full mechanics):
    the edge table carries its endpoint component labels, ONE
    map-side-combined min(struct(w, a, b)) per component selects each
    component's cheapest outgoing edge (proposed from both endpoints),
    merged components contract via link.connected_components over the
    selected comp-level edges, and newly intra-component edges are
    PRUNED so later rounds scan a geometrically shrinking edge set.
    pytest pins the planted graph's forest == a Python Kruskal ground
    truth.

    Scale: O(log n) outer rounds by the halving argument; every
    aggregation map-side combines; no driver-side data beyond the
    loop counter."""
    links = host_links(pages).where(F.col("src_host") != F.col("dst_host"))
    e = (
        links.select(
            F.least("src_host", "dst_host").alias("a"),
            F.greatest("src_host", "dst_host").alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count("*").cast("bigint").alias("n_links"))
        .select(
            "a", "b",
            F.expr(
                "cast(1000000 as bigint) div (1 + n_links) + 1"
            ).alias("w"),
        )
    )
    return msf_from_weighted_edges(e, n_rounds=n_rounds)


def msf_from_weighted_edges(weighted: DataFrame,
                            n_rounds: int = MST_ROUNDS) -> DataFrame:
    """Boruvka MSF core over an arbitrary (a, b, w) edge table with
    a < b and a strict (w, a, b) total order — the graph-independent
    seam boruvka_msf delegates to (and the unit-test entry point for
    adversarial selection shapes the planted corpus never produces,
    e.g. a monotone chain whose round-1 selection is one long path).

    The edge table CARRIES its endpoint component labels (ca, cb)
    instead of re-joining a node-level label table every round — after
    each contraction the surviving cross-component edges are relabeled
    through the comp-level map m (two joins against a
    component-count-sized table) and intra-component edges are PRUNED,
    so by Boruvka's halving argument every later round decorates a
    geometrically shrinking edge set. Only edges and comp-level maps
    ever shuffle.

    Contraction is one link.connected_components call over the round's
    selected comp-level edges: m(c) = the min comp reachable from c
    through this round's selections, a true fixpoint reached in
    O(log n) star-contraction rounds whatever the selection path's
    diameter (a monotone chain's first round selects every edge, one
    long path), and an exhausted CC budget raises instead of emitting a
    cycle-forming edge. DuckDB-oracle parity: the replay contracts with a FIXED
    MST_CC_ROUNDS min-label + pointer-jump budget, so the two agree
    exactly whenever that budget reaches the fixpoint — pytest
    (test_boruvka_corpus_converges_within_oracle_budget) pins the
    contract corpus edge-for-edge, and a shortfall on other inputs
    surfaces as a loud check_oracle divergence instead of two
    silently-agreeing wrong answers."""
    from nerpii_spark.operators.link import connected_components

    e = weighted.select("a", "b", "w").localCheckpoint(eager=True)
    # dec: surviving cross-component edges decorated with their current
    # endpoint components.  Initially every node is its own component
    # and a < b guarantees ca != cb.
    dec = e.select("a", "b", "w", F.col("a").alias("ca"),
                   F.col("b").alias("cb"))
    forest = None
    for _ in range(n_rounds):
        # ca/cb are functionally determined by (a, b) this round, so
        # appending them to the struct leaves the (w, a, b) argmin
        # order intact while letting sel keep its comp decoration
        # (saves the two node-level joins the contraction used to pay)
        cand = dec.select(
            F.explode(F.array("ca", "cb")).alias("comp"),
            F.struct("w", "a", "b", "ca", "cb").alias("e"),
        )
        sel = (
            cand.groupBy("comp")
            .agg(F.min("e").alias("m"))
            .select(F.col("m.a").alias("a"), F.col("m.b").alias("b"),
                    F.col("m.w").alias("w"), F.col("m.ca").alias("ca"),
                    F.col("m.cb").alias("cb"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        if sel.isEmpty():
            break  # forest complete (no cross-component edge remains)
        picked = sel.select("a", "b", "w")
        forest = (picked if forest is None
                  else forest.unionByName(picked).distinct())
        # contract over the COMPONENT graph.  Every comp with a
        # surviving cross edge proposed an edge, so the selected edges'
        # endpoints cover every comp that needs relabeling; untouched
        # comps have no dec edges left either.
        ce = sel.select(F.col("ca").alias("sid_a"),
                        F.col("cb").alias("sid_b"))
        comps = (
            ce.select(F.col("sid_a").alias("sid"))
            .union(ce.select("sid_b")).distinct()
        )
        m = connected_components(comps, ce).localCheckpoint(eager=True)
        # prune + re-decorate: map the surviving edges' comps through
        # the comp-level contraction and DROP newly intra-component
        # edges, so the next round's argmin scans only what can still
        # be selected (geometric shrink; two comp-keyed joins against
        # the already-pinned m, no node-level table).
        dec = (
            dec.join(m.select(F.col("sid").alias("ca"),
                              F.col("label").alias("la")), "ca")
            .join(m.select(F.col("sid").alias("cb"),
                           F.col("label").alias("lb")), "cb")
            .where(F.col("la") != F.col("lb"))
            .select("a", "b", "w", F.col("la").alias("ca"),
                    F.col("lb").alias("cb"))
            .localCheckpoint(eager=True)
        )
    return (forest if forest is not None
            else e.where(F.lit(False))).select("a", "b", "w")


def duck_boruvka_msf_sql(pages_sql_duck: str,
                         n_rounds: int = MST_ROUNDS,
                         cc_rounds: int = MST_CC_ROUNDS) -> str:
    """Chained-CTE replay of boruvka_msf: identical weights, per-round
    cross-component arg-min (row_number over the same (w, a, b) total
    order — an independent formulation of min(struct)) and a FIXED
    cc_rounds min-label + pointer-jump contraction.  The Spark side
    contracts to the exact components (link.connected_components, a
    verified fixpoint), so this fixed replay agrees exactly on every
    graph whose selections converge within cc_rounds (pinned for the
    contract corpus by pytest; see msf_from_weighted_edges).  Spark's early exit on an empty
    cross-component round is a no-op here (empty CTEs flow through).
    Every CTE MATERIALIZED (the duck_random_walks_sql planning note)."""
    ctes = [f"""
links as (
  select src_host as u, dst_host as v
  from ({duck_planted_links_sql(pages_sql_duck)})
  where src_host <> dst_host
),
e as materialized (
  select a, b, cast(1000000 as bigint) // (1 + n_links) + 1 as w
  from (
    select least(u, v) as a, greatest(u, v) as b,
           cast(count(*) as bigint) as n_links
    from links group by 1, 2
  )
),
l0 as materialized (
  select n, n as comp from (
    select distinct a as n from e union select b from e
  )
),
f0 as materialized (
  select a, b, w from e where false
)"""]
    for r in range(1, n_rounds + 1):
        p = r - 1
        ctes.append(f"""
dec{r} as materialized (
  select e.a, e.b, e.w, la.comp as ca, lb.comp as cb
  from e join l{p} la on la.n = e.a join l{p} lb on lb.n = e.b
  where la.comp <> lb.comp
),
sel{r} as materialized (
  select distinct a, b, w from (
    select comp, a, b, w,
           row_number() over (partition by comp
                              order by w asc, a asc, b asc) as rk
    from (select ca as comp, a, b, w from dec{r}
          union all select cb, a, b, w from dec{r})
  ) where rk = 1
),
f{r} as materialized (
  select distinct a, b, w from
    (select * from f{p} union all select * from sel{r})
),
sym{r} as materialized (
  select distinct x, y from (
    select la.comp as x, lb.comp as y
    from sel{r} s join l{p} la on la.n = s.a join l{p} lb on lb.n = s.b
    union all
    select lb.comp, la.comp
    from sel{r} s join l{p} la on la.n = s.a join l{p} lb on lb.n = s.b
  )
),
m{r}_0 as materialized (
  select distinct comp, comp as lbl from l{p}
)""")
        for i in range(1, cc_rounds + 1):
            # neighbor min + pointer jump via the self-label edge
            # (c, lbl(c)) — an independent formulation of the Spark
            # star contraction; both fixpoints are the component minima
            ctes.append(f"""
m{r}_{i} as materialized (
  select e.x as comp, min(mm.lbl) as lbl
  from (
    select x, y from sym{r}
    union all
    select comp as x, lbl as y from m{r}_{i - 1}
  ) e
  join m{r}_{i - 1} mm on mm.comp = e.y
  group by 1
)""")
        ctes.append(f"""
l{r} as materialized (
  select l.n, m.lbl as comp
  from l{p} l join m{r}_{cc_rounds} m on m.comp = l.comp
)""")
    return (
        "with " + ",".join(ctes)
        + f" select a, b, w from f{n_rounds}"
    )
