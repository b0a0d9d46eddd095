"""S4 — entity linking + canonicalization (north_rule core).

mentions -> canonical `entities` table via the classic three-stage
record-linkage architecture, each stage a distributed DataFrame op:

1. **MinHash-LSH blocking** (`lsh_candidate_pairs`): dedup mentions to
   surface nodes keyed by normalized form; 3-gram shingles; B minhash
   bands (r=1) computed JVM-side with `xxhash64(shingle, band)`; surfaces
   sharing any band bucket become candidate pairs. Bucket size is capped
   (`max_bucket`) — the explicit skew guard: a hot bucket (stopword-ish
   shingle) would otherwise produce O(k^2) pairs on one reducer.
2. **Candidate scoring** (`score_pairs`): candidates join back to surface
   features (shingle + token arrays). A pair matches when its
   long-token sets are identical (middle-initial-insensitive name rule,
   e.g. "Frank D. Kemp" ~ "Frank Kemp") or its exact shingle Jaccard
   >= `tau_string` (near-identical strings). Plain 3-gram Jaccard alone
   cannot separate true initial-variants (min J .57) from sibling names
   like "Robert X. Keller"/"Robert X. Kemp" (max J .63) — measured on the
   planted corpus — hence the token-aware score.
3. **Connected components** (`connected_components`): alternating
   large-star / small-star contraction (Kiveris et al. 2014) over the
   edge DataFrame — O(log n) rounds whatever the diameter, a driver-side
   loop with localCheckpoint per half-round (Catalyst cannot express
   iteration; lineage must be truncated — SURVEY.md §4.3) and a
   star-forest probe per round that raises ValueError when the round
   budget runs out, never returning a split component. It is the one CC
   of the engine: dedup, similarity, host components and Boruvka's
   contraction call it too.

Reference parity: generalizes the per-column majority-vote entity
assignment (named_entity_recognizer.py:432-489) from columns to corpus-
wide surface forms; the reference has no linking stage (it never needs
one at 500 rows) — this is the north_rule web-scale addition.

**Incremental mode** (`incremental_members` / `incremental_link_entities`):
newly arrived mentions fold into a persisted members table without
relinking the old corpus — old components contract to super-nodes by
label, candidate pairs require >= 1 new endpoint, and the CC fixpoint
runs over the touched subgraph only. At 10^12 docs this turns the daily
linking cost from O(corpus) pairwise work into O(delta x bucket).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LINK_TYPES = ["PERSON", "ORGANIZATION", "LOCATION"]
N_BANDS = 16
MAX_BUCKET = 32
TAU_STRING = 0.85

_NORM = "lower(regexp_replace(trim(mention), '\\\\s+', ' '))"
# tokens that are not middle initials ("q.")
_LONG_TOKENS = (
    "array_sort(array_distinct(filter(split(norm, ' '),"
    " t -> t not rlike '^[a-z]\\\\.?$')))"
)
_SHINGLES = (
    "array_distinct(transform(sequence(1, greatest(length(norm) - 2, 1)),"
    " i -> substring(norm, i, 3)))"
)


def surface_nodes(mentions: DataFrame, types: list[str] | None = None) -> DataFrame:
    """Dedup mentions into surface nodes:
    (entity_type, norm, sid, n_mentions, shingles, toks).
    One shuffle (groupBy normalized surface); casing/whitespace variants
    collapse here, before any pairwise work."""
    types = types or LINK_TYPES
    return (
        mentions.where(F.col("entity_type").isin(types))
        .withColumn("norm", F.expr(_NORM))
        .groupBy("entity_type", "norm")
        .agg(F.count("*").alias("n_mentions"))
        .withColumn("sid", F.xxhash64("entity_type", "norm"))
        .withColumn("shingles", F.expr(_SHINGLES))
        .withColumn("toks", F.expr(_LONG_TOKENS))
    )


def lsh_candidate_pairs(
    nodes: DataFrame, n_bands: int = N_BANDS, max_bucket: int = MAX_BUCKET
) -> DataFrame:
    """MinHash-LSH blocking: (sid_a, sid_b) candidate pairs, sid_a < sid_b.
    r=1 rows/band: band key = min over shingles of xxhash64(shingle, band).
    Identical norms share every band; initial-variants (J >= ~.5) miss all
    16 bands with prob (1-J)^16 < 2e-5, and connected components restores
    any stragglers transitively via the cluster's other members.
    Bucket pairing is count-filter + self-join (dedup._bucket_pairs):
    over-cap buckets DEGRADE to salted sub-buckets + representative
    links (pairs linear in bucket size, cluster connectivity preserved
    for CC — dropping them fragmented >cap clusters at 10x density:
    measured 798 vs 758 truth clusters at sf0.1 before the fix), with
    the per-key count pre-aggregated map-side so no hot member list
    ever lands on one reducer."""
    from .dedup import _bucket_pairs

    bands = nodes.select(
        "entity_type",
        "sid",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}),"
                " b -> named_struct('band', b, 'mh',"
                " array_min(transform(shingles, s -> xxhash64(s, b)))))"
            )
        ).alias("bk"),
    ).select("entity_type", "sid", "bk.band", "bk.mh").localCheckpoint(
        eager=False
    )
    return _bucket_pairs(
        bands, ["entity_type", "band", "mh"], "sid", max_bucket
    ).select(
        F.col("id_a").alias("sid_a"), F.col("id_b").alias("sid_b")
    )


def score_pairs(
    pairs: DataFrame, nodes: DataFrame, tau_string: float = TAU_STRING
) -> DataFrame:
    """Candidate scoring -> verified edges (sid_a, sid_b, score).
    Features join twice back to the (already deduped, hence small relative
    to the corpus) node table; AQE picks broadcast when it fits. A pair is
    an edge when token sets match exactly (score 1.0) or shingle Jaccard
    >= tau_string. The join ships int64 shingle hashes, not the string
    arrays (per-shingle distinctness preserved, so set sizes agree)."""
    feat = nodes.select(
        "sid", F.expr("transform(shingles, s -> xxhash64(s))").alias("hsh"),
        "toks",
    )
    a = feat.select(
        F.col("sid").alias("sid_a"),
        F.col("hsh").alias("sh_a"),
        F.col("toks").alias("tk_a"),
    )
    b = feat.select(
        F.col("sid").alias("sid_b"),
        F.col("hsh").alias("sh_b"),
        F.col("toks").alias("tk_b"),
    )
    scored = (
        pairs.join(a, "sid_a")
        .join(b, "sid_b")
        .withColumn(
            "jacc",
            F.expr(
                "size(array_intersect(sh_a, sh_b)) /"
                " cast(size(array_union(sh_a, sh_b)) as double)"
            ),
        )
        .withColumn("tok_eq", F.expr("tk_a = tk_b"))
    )
    return scored.where(
        F.col("tok_eq") | (F.col("jacc") >= F.lit(tau_string))
    ).select(
        "sid_a",
        "sid_b",
        F.when(F.col("tok_eq"), F.lit(1.0)).otherwise(F.col("jacc")).alias("score"),
    )


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_rounds: int = 16
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al. 2014, "Connected Components in MapReduce
    and Beyond") -> (sid, label), label = min sid of the component.
    Nodes without an edge label themselves.

    Rounds are O(log n) in component size REGARDLESS of diameter: each
    round every node hooks its neighborhood onto the neighborhood
    minimum, roughly halving tree heights. Min-label propagation would
    pay one shuffle round per hop of diameter — fine for the near-clique
    entity blocks linked here (diameter 2-4), but a redirect chain, a
    citation path or a Boruvka selection path has diameter 10^2+.

    Semantics per round over the canonical edge state (u, v), u > v
    (child above parent — every undirected edge stored once):
      * large-star: for each node x, every strictly-LARGER neighbor y
        re-hooks to m(x) = min(neighborhood(x) U {x}) — one symmetric-
        adjacency min agg (map-side combines) + one equi-join; the new
        pair (y, m(x)) is canonical by construction (m(x) <= x < y).
      * small-star: for each node x, its strictly-SMALLER neighbors and
        x itself re-hook to m = min(smaller neighbors) — one min agg
        over the canonical rows (already child-keyed, no symmetric
        expansion) + one join, self-loop (m, m) dropped.
    Fixpoint = star forest: every child has exactly one parent and no
    parent is itself a child, checked with ONE map-side-combined count
    per round; each component is then one star whose center is its
    minimum (u > v on every edge), so the output is deterministic. A
    budget that runs out before the star forest raises ValueError — a
    truncated run would split one component into several labels.

    Scale shape: per round two min aggs (both map-side combine — a hub
    node's million neighbors arrive at its reducer as one partial per
    task) + two equi-joins keyed on node ids, distinct() to re-canonicalize,
    localCheckpoint per half-round (Catalyst cannot express iteration;
    lineage must be truncated — SURVEY.md §4.3). The driver holds one
    convergence count per round — never an edge."""
    e = (
        edges.where(F.col("sid_a") != F.col("sid_b"))
        .select(
            F.greatest("sid_a", "sid_b").alias("u"),
            F.least("sid_a", "sid_b").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        # large-star: adjacency min over BOTH orientations
        adj = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = adj.groupBy(F.col("u").alias("x")).agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        # every canonical row (y, x) is a larger-neighbor pair of x
        e = (
            e.join(mins, e.v == mins.x)
            .select(F.col("u"), F.col("m").alias("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # small-star: parents of each child re-hook to the child's min parent
        minsS = e.groupBy("u").agg(F.min("v").alias("m"))
        ss_children = minsS.select("u", F.col("m").alias("v"))
        ss_parents = (
            e.join(minsS, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        e = (
            ss_children.union(ss_parents)
            .distinct()
            .localCheckpoint(eager=True)
        )
        # converged iff star forest: every child has ONE parent and no
        # parent is itself a child. "No parent is a child" alone is not
        # enough: the path 1-3-4-5-2 reaches {3->1, 3->2, 4->1, 5->2}
        # after one round — two roots in one component, node 3 twice.
        pending = (
            e.select(F.col("u").alias("n"), F.lit(1).alias("c"))
            .unionAll(e.select(F.col("v").alias("n"), F.lit(0).alias("c")))
            .groupBy("n")
            .agg(F.sum("c").alias("as_child"), F.count("*").alias("k"))
            .where(
                (F.col("as_child") > 1)
                | ((F.col("as_child") == 1) & (F.col("k") > 1))
            )
            .count()
        )
        if pending == 0:
            break
    else:
        raise ValueError(
            "connected_components did not reach a star forest within"
            f" {max_rounds} rounds ({pending} non-star nodes); the"
            " components would be returned SPLIT — raise max_rounds"
        )
    labels = e.select(F.col("u").alias("sid"), F.col("v").alias("label"))
    return (
        nodes.join(labels, "sid", "left")
        .select("sid", F.coalesce("label", "sid").alias("label"))
    )


def pair_labels(rows: DataFrame, id_col: str, pairs: DataFrame) -> DataFrame:
    """Duplicate clusters of `rows` -> (sid, label): connected_components
    over the (id_a, id_b) match pairs between `id_col` ids. Every row
    gets a label; a row with no pair labels itself."""
    return connected_components(
        rows.select(F.col(id_col).alias("sid")),
        pairs.select(
            F.col("id_a").alias("sid_a"), F.col("id_b").alias("sid_b")
        ),
    )


def duck_pair_labels_sql(nodes_sql: str, id_col: str, pairs_sql: str) -> str:
    """DuckDB twin of pair_labels: a `with recursive` prefix ending in
    `comp (id, lbl)`, the true components of the (id_a, id_b) pairs of
    `pairs_sql` over the `id_col` ids of `nodes_sql`, by recursive
    min-label reachability. Callers append their final select, or more
    CTEs after a comma."""
    return f"""
with recursive
nodes as (select {id_col} from ({nodes_sql})),
e as (select id_a, id_b from ({pairs_sql})),
sym as (select id_a as src, id_b as dst from e
        union all select id_b, id_a from e),
reach(id, lbl) as (
  select {id_col}, {id_col} from nodes
  union
  select s.dst, r.lbl
  from reach r join sym s on s.src = r.id
  where r.lbl < s.dst
),
comp as (select id, min(lbl) as lbl from reach group by 1)"""


def linked_members(
    mentions: DataFrame,
    types: list[str] | None = None,
    n_bands: int = N_BANDS,
    tau_string: float = TAU_STRING,
) -> DataFrame:
    """Full linking dataflow -> per-surface rows with component label and
    canonical: (entity_type, norm, n_mentions, label, canonical).
    canonical = the component's most-mentioned surface (ties: lexicographic
    min) — deterministic, unlike the reference's set-order mode tie-break
    (named_entity_recognizer.py:485). The checkpointable state an
    incremental run resumes from (see incremental_members)."""
    from pyspark.sql import Window as W

    nodes = surface_nodes(mentions, types).localCheckpoint(eager=True)
    pairs = lsh_candidate_pairs(nodes, n_bands=n_bands)
    edges = score_pairs(pairs, nodes, tau_string=tau_string)
    labels = connected_components(nodes, edges)
    members = nodes.join(labels, "sid")
    w = W.partitionBy("entity_type", "label").orderBy(
        F.desc("n_mentions"), F.asc("norm")
    )
    canon = (
        members.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("entity_type", "label", F.col("norm").alias("canonical"))
    )
    return members.join(canon, ["entity_type", "label"]).select(
        "entity_type", "norm", "n_mentions", "label", "canonical"
    )


def _entities_from_members(members: DataFrame) -> DataFrame:
    return members.groupBy("entity_type", "label", "canonical").agg(
        F.count("*").alias("n_surfaces"), F.sum("n_mentions").alias("n_mentions")
    ).select("entity_type", "canonical", "n_surfaces", "n_mentions")


def link_entities(
    mentions: DataFrame,
    types: list[str] | None = None,
    n_bands: int = N_BANDS,
    tau_string: float = TAU_STRING,
) -> DataFrame:
    """mentions -> entities(entity_type, canonical, n_surfaces, n_mentions)."""
    return _entities_from_members(
        linked_members(mentions, types, n_bands, tau_string)
    )


def _with_node_features(rows: DataFrame) -> DataFrame:
    """(entity_type, norm, ...) -> + (sid, shingles, toks). Pure
    projection (no shuffle): features derive from norm alone, so an
    incremental run can rebuild them from the persisted members table
    instead of re-reading old mentions."""
    return (
        rows.withColumn("sid", F.xxhash64("entity_type", "norm"))
        .withColumn("shingles", F.expr(_SHINGLES))
        .withColumn("toks", F.expr(_LONG_TOKENS))
    )


def _band_index(all_nodes: DataFrame, n_bands: int) -> DataFrame:
    """(entity_type, sid, is_new, band, mh) — the same banding as
    lsh_candidate_pairs, carrying the is_new flag."""
    return all_nodes.select(
        "entity_type",
        "sid",
        "is_new",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}),"
                " b -> named_struct('band', b, 'mh',"
                " array_min(transform(shingles, s -> xxhash64(s, b)))))"
            )
        ).alias("bk"),
    ).select("entity_type", "sid", "is_new", "bk.band", "bk.mh")


_BAND_KEYS = ["entity_type", "band", "mh"]


def _pulled_sids(bands: DataFrame, old_labels: DataFrame, max_bucket: int) -> DataFrame:
    """Old-member sids whose COMPONENT must be de-contracted for the
    incremental fold to equal a from-scratch relink (VERDICT r2 #2).

    A bucket that is over `max_bucket` in the current population and
    contains a new member is paired by the degrade guard (salted
    sub-buckets + representative links), and that partitioning is a
    function of the bucket's FULL current member set — so the old run
    (which paired the smaller bucket, possibly all-pairs) may hold
    merges the full run would not make, and vice versa. Contracting
    those components to their old label would bake the old decision in.
    Instead, every component with >= 1 member in such a bucket re-enters
    CC as individual surfaces, with its complete candidate-edge set
    regenerated (see _incremental_candidate_pairs). Buckets the delta
    does not touch have bit-identical membership (surfaces only
    accumulate) and therefore bit-identical pairs, so nothing else can
    differ — equality is by construction, not by low collision odds.
    -> one column `sid`."""
    counts = bands.groupBy(*_BAND_KEYS).agg(
        F.count("*").alias("n"),
        F.max(F.col("is_new").cast("int")).alias("has_new"),
    )
    hot_touched = counts.where(
        (F.col("n") > max_bucket) & (F.col("has_new") == 1)
    ).select(*_BAND_KEYS)
    seed = (
        bands.where(~F.col("is_new"))
        .join(hot_touched, _BAND_KEYS)
        .select("sid")
        .distinct()
    )
    pulled_labels = old_labels.join(seed, "sid").select("label").distinct()
    return old_labels.join(pulled_labels, "label").select("sid")


def _incremental_candidate_pairs(
    bands: DataFrame, max_bucket: int
) -> DataFrame:
    """(sid_a, sid_b) candidate pairs from every bucket containing an
    ACTIVE member (`bands` carries `is_active` = brand-new surface or
    member of a pulled component). Buckets are paired by the SAME
    _bucket_pairs degrade as a from-scratch run — crucially over the
    bucket's FULL membership (the key filter keeps every member of a
    qualifying bucket, so per-bucket counts and the salted sub-bucket
    partitioning are bit-identical to the full run). Old-old pairs
    inside active buckets are regenerated too: they either re-score into
    an edge between two contracted bases that already share a label
    (dropped), or fail scoring exactly as they did before — while
    pulled members get exactly the full run's edge set. Buckets with no
    active member never expand, keeping the delta cost
    O((|new| + |pulled|) x bucket), not O(corpus)."""
    from .dedup import _bucket_pairs

    active_keys = (
        bands.where(F.col("is_active"))
        .select(*_BAND_KEYS)
        .distinct()
    )
    act = bands.join(active_keys, _BAND_KEYS).select(
        *_BAND_KEYS, "sid"
    ).localCheckpoint(eager=False)
    return _bucket_pairs(act, _BAND_KEYS, "sid", max_bucket).select(
        F.col("id_a").alias("sid_a"), F.col("id_b").alias("sid_b")
    )


def incremental_members(
    old_members: DataFrame,
    new_mentions: DataFrame,
    types: list[str] | None = None,
    n_bands: int = N_BANDS,
    max_bucket: int = MAX_BUCKET,
    tau_string: float = TAU_STRING,
) -> DataFrame:
    """Incremental S4: fold newly arrived mentions into an existing
    members table (the persisted output of linked_members) WITHOUT
    relinking the old corpus. Returns the same members schema
    (entity_type, norm, n_mentions, label, canonical).

    Dataflow (each step touches O(|new| + affected) rows, never the old
    corpus pairwise):
      1. New mentions collapse to surface nodes; surfaces already known
         just add mention counts (same norm => same features => same
         component — no relink needed).
      2. Candidate pairs come from buckets with an active (brand-new or
         pulled, see 3.) member only, paired exactly as a from-scratch
         run would pair the current bucket population; buckets without
         an active member never expand (their membership — and hence
         pair set — is bit-identical to the old run's).
      3. Buckets the delta pushes over `max_bucket` are paired by a
         membership-dependent degrade (salted sub-buckets), so every
         old component with a member in one is PULLED — de-contracted
         back to individual surfaces with its full candidate-edge set
         regenerated over the current bucket populations (VERDICT r2
         #2). All other old components contract to super-nodes keyed by
         their label (= min member sid, so contracted CC labels coincide
         with a from-scratch run's), and the CC fixpoint runs only over
         bases touched by an edge; every other component passes through.
      4. Canonicals are recomputed only for touched components (merged,
         split, pulled, or containing a surface whose count changed);
         untouched rows keep their stored canonical.

    EQUALS a from-scratch relink by construction at any density:
    surfaces only accumulate, so a bucket the delta does not touch has
    bit-identical membership (hence bit-identical pairs) to the old
    run, touched under-cap buckets add only new-endpoint pairs to an
    already-complete old pair set, and touched over-cap buckets have
    all their components pulled and recomputed on full-run candidates
    (asserted against the from-scratch linker on the planted corpus at
    sf0.001/0.01/0.1 — the r2 cap-boundary divergence, 6/758 clusters
    at sf0.1, is gone)."""
    from pyspark.sql import Window as W

    new_nodes = surface_nodes(new_mentions, types).localCheckpoint(eager=True)
    old_nodes = _with_node_features(
        old_members.select("entity_type", "norm", "n_mentions", "label")
    ).localCheckpoint(eager=True)

    old_sids = old_nodes.select("sid")
    brand_new = new_nodes.join(old_sids, "sid", "left_anti").localCheckpoint(
        eager=True
    )
    all_nodes = old_nodes.select(
        "entity_type", "sid", "shingles", "toks", F.lit(False).alias("is_new")
    ).unionByName(
        brand_new.select(
            "entity_type", "sid", "shingles", "toks", F.lit(True).alias("is_new")
        )
    )

    bands = _band_index(all_nodes, n_bands).localCheckpoint(eager=True)
    pulled = _pulled_sids(
        bands, old_nodes.select("sid", "label"), max_bucket
    ).withColumn("is_pulled", F.lit(True)).localCheckpoint(eager=True)

    bands_active = bands.join(pulled, "sid", "left").withColumn(
        "is_active", F.col("is_new") | F.coalesce("is_pulled", F.lit(False))
    )
    pairs = _incremental_candidate_pairs(bands_active, max_bucket)
    edges = score_pairs(pairs, all_nodes, tau_string=tau_string)

    # contract: unpulled old surfaces stand in as their component label;
    # pulled old surfaces and new surfaces as themselves
    base = (
        old_nodes.join(pulled, "sid", "left")
        .select(
            "sid",
            F.when(F.coalesce("is_pulled", F.lit(False)), F.col("sid"))
            .otherwise(F.col("label")).alias("base"),
        )
        .unionByName(brand_new.select("sid", F.col("sid").alias("base")))
    )
    e = (
        edges.join(base.withColumnRenamed("sid", "sid_a")
                   .withColumnRenamed("base", "base_a"), "sid_a")
        .join(base.withColumnRenamed("sid", "sid_b")
              .withColumnRenamed("base", "base_b"), "sid_b")
        .where(F.col("base_a") != F.col("base_b"))
        .select(
            F.least("base_a", "base_b").alias("sid_a"),
            F.greatest("base_a", "base_b").alias("sid_b"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    touched_bases = (
        e.select(F.col("sid_a").alias("sid"))
        .union(e.select(F.col("sid_b").alias("sid")))
        .distinct()
    )
    delta = connected_components(touched_bases, e).withColumnRenamed(
        "sid", "base"
    ).withColumnRenamed("label", "new_label")

    # merge counts for surfaces seen again, append brand-new surfaces.
    # count_changed doubles as the needs-canonical-recompute flag: pulled
    # surfaces set it too (their label may have changed — even split —
    # without any count change).
    known_inc = new_nodes.join(old_sids, "sid", "left_semi").select(
        "sid", F.col("n_mentions").alias("n_inc")
    )
    old_rows = (
        old_nodes.join(known_inc, "sid", "left")
        .join(pulled, "sid", "left")
        .select(
            "entity_type", "norm", "sid",
            (F.col("n_mentions") + F.coalesce(F.col("n_inc"), F.lit(0)))
            .alias("n_mentions"),
            F.when(F.coalesce("is_pulled", F.lit(False)), F.col("sid"))
            .otherwise(F.col("label")).alias("base"),
            (
                F.col("n_inc").isNotNull()
                | F.coalesce("is_pulled", F.lit(False))
            ).alias("count_changed"),
        )
    )
    new_rows = brand_new.select(
        "entity_type", "norm", "sid", "n_mentions",
        F.col("sid").alias("base"), F.lit(True).alias("count_changed"),
    )
    members = (
        old_rows.unionByName(new_rows)
        .join(delta, "base", "left")
        .select(
            "entity_type", "norm", "sid", "n_mentions", "count_changed",
            F.coalesce(F.col("new_label"), F.col("base")).alias("label"),
        )
        .localCheckpoint(eager=True)
    )

    # a label id is globally unique across entity types (sid embeds the
    # type), so touched components are identified by label alone
    touched_labels = (
        members.where(F.col("count_changed")).select("label")
        .union(delta.select(F.col("new_label").alias("label")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    touched = members.join(touched_labels, "label", "left_semi")
    w = W.partitionBy("entity_type", "label").orderBy(
        F.desc("n_mentions"), F.asc("norm")
    )
    canon_new = (
        touched.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("entity_type", "label", F.col("norm").alias("canonical"))
    )
    touched_out = touched.join(canon_new, ["entity_type", "label"]).select(
        "entity_type", "norm", "n_mentions", "label", "canonical"
    )
    untouched_out = (
        members.join(touched_labels, "label", "left_anti")
        .join(
            old_members.select("entity_type", "norm", "canonical"),
            ["entity_type", "norm"],
        )
        .select("entity_type", "norm", "n_mentions", "label", "canonical")
    )
    return touched_out.unionByName(untouched_out)


def incremental_link_entities(
    old_members: DataFrame,
    new_mentions: DataFrame,
    types: list[str] | None = None,
    n_bands: int = N_BANDS,
    tau_string: float = TAU_STRING,
) -> DataFrame:
    """Incremental S4 -> entities table (same schema/contract as
    link_entities; equal output BY CONSTRUCTION at any density — when a
    delta pushes a band bucket over MAX_BUCKET, every component with a
    member in it is de-contracted and recomputed over the full run's
    candidate set; see incremental_members. The r2 cap-boundary
    divergence, 6 of 758 clusters at sf0.1, is fixed and the equality
    is asserted at sf0.001/0.01/0.1)."""
    return _entities_from_members(
        incremental_members(
            old_members, new_mentions, types,
            n_bands=n_bands, tau_string=tau_string,
        )
    )


def entity_members(
    mentions: DataFrame,
    types: list[str] | None = None,
    n_bands: int = N_BANDS,
    tau_string: float = TAU_STRING,
) -> DataFrame:
    """(entity_type, norm, canonical) — the surface->canonical map used by
    resolve_mentions."""
    return linked_members(mentions, types, n_bands, tau_string).select(
        "entity_type", "norm", "canonical"
    )


#: resolve_mentions broadcasts the surface->canonical map at or under
#: this many rows (~a few hundred MB of surface strings — the realistic
#: executor-heap broadcast ceiling); above it the hint is withheld and
#: the join shuffles on (entity_type, norm).
BROADCAST_MEMBERS_MAX = 5_000_000


def gated_broadcast(
    df: DataFrame,
    broadcast_max_rows: int = BROADCAST_MEMBERS_MAX,
    pin: bool = True,
) -> DataFrame:
    """COUNT-GATED broadcast hint for an entity-table-sized join side
    (VERDICT r3 #5): the table is pinned (localCheckpoint — also keeps
    a live linker plan from computing twice, once for the count and
    once for the join; pass pin=False when the caller already
    checkpointed it) and counted; at or under `broadcast_max_rows` the
    broadcast hint is applied, above it the plain DataFrame is returned
    so the join shuffles on its keys — a 10^8-entity map would OOM
    every executor as a broadcast, and a comment saying "flip it by
    hand" is not a gate. Every members-map consumer (resolve_mentions,
    q_triples_canonical, q_entity_summary) routes through this; both
    branches are plan-asserted in tests/test_link.py."""
    if pin:
        df = df.localCheckpoint(eager=True)
    if df.count() <= broadcast_max_rows:
        return F.broadcast(df)
    return df


def resolve_mentions(
    mentions: DataFrame,
    entities_members: DataFrame,
    broadcast_max_rows: int = BROADCAST_MEMBERS_MAX,
    pin: bool = True,
) -> DataFrame:
    """Join mentions back to their canonical entity through the
    count-gated broadcast seam (gated_broadcast above). Pass pin=False
    when the members table is already checkpointed — re-pinning would
    materialize a second full copy for nothing."""
    m = mentions.withColumn("norm", F.expr(_NORM))
    em = gated_broadcast(entities_members, broadcast_max_rows, pin=pin)
    return m.join(em, ["entity_type", "norm"], "left")


ALIAS_CAP = 8


def entity_aliases(
    mentions: DataFrame,
    types: list[str] | None = None,
    max_aliases: int = ALIAS_CAP,
) -> DataFrame:
    """Alias table per canonical entity — the KG analog of anchor-text
    aggregation: (entity_type, canonical, n_aliases, aliases) where
    aliases is the '|'-joined, sorted, CAP-truncated distinct surface
    set of the cluster. This is the lookup a downstream consumer (query
    expansion, mention matching, embedding-alias training pairs) reads
    instead of re-running the linker.

    Scale shape: one map-side-combined groupBy over the members table
    (already one row per DISTINCT (type, surface) — corpus dedup
    happened inside the linker), so the reducer state per canonical is
    the cluster's alias set, truncated deterministically to
    max_aliases AFTER sorting (sort_array + slice): a degenerate
    million-alias entity emits a bounded row, while n_aliases keeps
    the true count so the truncation is observable, not silent."""
    members = entity_members(mentions, types)
    return members.groupBy("entity_type", "canonical").agg(
        F.count("*").cast("bigint").alias("n_aliases"),
        F.array_join(
            F.slice(
                F.sort_array(F.collect_set("norm")), 1, max_aliases
            ),
            "|",
        ).alias("aliases"),
    )


FUZZY_MAX_LEN = 40


def fuzzy_surface_pairs(
    mentions: DataFrame,
    entity_type: str = "PERSON",
    max_len: int = FUZZY_MAX_LEN,
) -> DataFrame:
    """Edit-distance-1 surface pairs via FastSS deletion neighborhoods
    (Bocek et al. 2007) -> (a, b, dist): the linking candidate generator
    that catches single-character TYPOS, which shingle-based MinHash
    blocking structurally misses (one edit flips w shingles, so a short
    surface's Jaccard collapses below any usable threshold).

    Candidate completeness is a theorem, not a heuristic: for distinct
    s, t with lev(s,t) <= 1, either |s| = |t| and deleting the single
    substituted position from each yields the same string, or they
    differ by one insertion and the shorter IS a deletion variant of the
    longer — so joining on the deletion-variant set (self included)
    covers every true pair, and the exact levenshtein post-filter drops
    the rare spurious collisions (e.g. transpositions, dist 2).

    Scale shape: each distinct surface (corpus-deduped FIRST — the
    explode runs on the vocabulary of surfaces, not the corpus) emits
    len+1 variants, so the join input is O(V * L) with L <= max_len
    bounded up front; variant keys are near-unique full-name strings
    (no hot keys: a variant is shared only by surfaces one edit apart),
    and the verify is Catalyst's built-in levenshtein — zero Python.
    This is the third blocking strategy next to MinHash-LSH (dedup) and
    prefix filtering (PPJoin): deletion neighborhoods are exact for
    edit distance, the others for set overlap."""
    s = (
        mentions.where(F.col("entity_type") == entity_type)
        .select(F.col("mention").alias("s"))
        .distinct()
        .where(F.length("s") <= max_len)
    )
    variants = s.select(
        "s",
        F.explode(
            F.expr(
                "transform(sequence(0, length(s)), i -> case when i = 0"
                " then s else concat(substring(s, 1, i-1),"
                " substring(s, i+1)) end)"
            )
        ).alias("var"),
    )
    b = variants.select(F.col("s").alias("t"), "var")
    cand = (
        variants.join(b, "var")
        .where(F.col("s") < F.col("t"))
        .select("s", "t")
        .distinct()
    )
    return (
        cand.where(F.levenshtein("s", "t") <= 1)
        .select(
            F.col("s").alias("a"),
            F.col("t").alias("b"),
            F.levenshtein("s", "t").cast("bigint").alias("dist"),
        )
    )


def duck_fuzzy_pairs_sql(
    golden_mentions_sql: str,
    entity_type: str = "PERSON",
    max_len: int = FUZZY_MAX_LEN,
) -> str:
    """Oracle: brute-force exact levenshtein over the distinct planted
    surfaces — an independent implementation with NO blocking, so a
    candidate the deletion-neighborhood join missed fails the gate
    (certifying the completeness theorem, not just the verify)."""
    return f"""
with s as materialized (
  select distinct mention as s from ({golden_mentions_sql})
  where entity_type = '{entity_type}' and length(mention) <= {max_len}
)
select a.s as a, b.s as b, cast(levenshtein(a.s, b.s) as bigint) as dist
from s a join s b on a.s < b.s and levenshtein(a.s, b.s) <= 1
"""


def surface_type_vote(mentions: DataFrame) -> DataFrame:
    """Cross-document entity-type voting per normalized surface ->
    (surface, n_mentions, n_types, maj_type, n_maj): the type
    -disambiguation signal a KG assigns to ambiguous surfaces
    ("washington": LOCATION in most contexts, PERSON in some) —
    majority entity_type across every detection of the surface, ties
    broken type-asc (deterministic). The canonicalization step consumes
    maj_type as the cluster's type prior.

    Scale shape: two chained map-side-combined aggs — (surface, type)
    counts, then ONE agg per surface whose majority pick is
    min_by(type, (-n, type)) (no window: a Zipf-hot surface arrives at
    its reducer pre-summed per map task, and no per-surface partition
    ever materializes a member list)."""
    c = mentions.groupBy(
        F.expr("lower(mention)").alias("surface"), "entity_type"
    ).agg(F.count("*").alias("n"))
    return c.groupBy("surface").agg(
        F.sum("n").cast("bigint").alias("n_mentions"),
        F.count("*").cast("bigint").alias("n_types"),
        F.expr(
            "min_by(entity_type, named_struct('n', -n, 't', entity_type))"
        ).alias("maj_type"),
        F.max("n").cast("bigint").alias("n_maj"),
    )


def duck_surface_type_vote_sql(mentions_sql: str) -> str:
    """Oracle: the same vote over the PLANTED golden mentions via an
    independent row_number formulation."""
    return f"""
with c as (
  select lower(mention) as surface, entity_type,
         cast(count(*) as bigint) as n
  from ({mentions_sql}) group by 1, 2
),
r as (
  select surface, entity_type, n,
         row_number() over (partition by surface
                            order by n desc, entity_type asc) as rk,
         cast(sum(n) over (partition by surface) as bigint) as n_mentions,
         cast(count(*) over (partition by surface) as bigint) as n_types,
         cast(max(n) over (partition by surface) as bigint) as n_maj
  from c
)
select surface, n_mentions, n_types, entity_type as maj_type, n_maj
from r where rk = 1
"""


def entity_timeline(resolved: DataFrame, pages: DataFrame) -> DataFrame:
    """Entity lifecycle over the crawl clock -> (canonical,
    first_seen_s, last_seen_s, n_docs, n_mentions): when each canonical
    entity first and last appeared (epoch seconds from warc_ts) and how
    broadly — the temporal KG signal that separates an established
    entity from a breaking/ephemeral one and dates every fact's
    provenance window. warc_ts is an instant (TIMESTAMP_LTZ), so
    unix_timestamp() is timezone-pin-independent here — the NTZ
    field-extraction workaround (layout.py) is only needed for naive
    timestamps.

    Scale shape: one equi-join on doc_id decorating resolved mentions
    with their capture time (both sides corpus-sized but
    uniform-keyed), then ONE map-side-combined agg per canonical; no
    window. A Zipf-hot canonical arrives pre-folded per map task."""
    ts = pages.select(
        "doc_id",
        F.expr("cast(unix_timestamp(warc_ts) as bigint)").alias("ts_s"),
    )
    return (
        resolved.join(ts, "doc_id")
        .groupBy("canonical")
        .agg(
            F.min("ts_s").cast("bigint").alias("first_seen_s"),
            F.max("ts_s").cast("bigint").alias("last_seen_s"),
            F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_mentions"),
        )
    )


def duck_entity_timeline_sql(resolved_sql: str, base_epoch: int) -> str:
    """Oracle: the planted clock is warc_ts = BASE_EPOCH + doc_id, so
    the truth timeline folds directly over the golden resolved-person
    rows — certifying linking, the ts join AND the epoch conversion."""
    return f"""
select canonical,
       cast({base_epoch} + min(doc_id) as bigint) as first_seen_s,
       cast({base_epoch} + max(doc_id) as bigint) as last_seen_s,
       cast(count(distinct doc_id) as bigint) as n_docs,
       cast(count(*) as bigint) as n_mentions
from ({resolved_sql})
group by 1
"""


def el_candidates(
    mentions: DataFrame, types: list[str] | None = None
) -> DataFrame:
    """Entity-linking candidate table with commonness priors ->
    (norm, entity_type, canonical, n_mentions, prior_e6, rk): for each
    normalized surface form, the canonical entities it could link to
    (one per entity type under the linker's clustering) ranked by the
    corpus commonness prior p(entity | surface) = n(surface as this
    entity) / n(surface) — the anchor-text prior of Milne & Witten
    2008 that seeds every EL disambiguator before context is consulted.
    An unambiguous surface yields one rk=1 row with prior 1e6; a
    cross-type surface ("washington" PERSON vs LOCATION) yields one
    ranked row per reading, and the consumer thresholds or re-ranks
    with context.

    Scale shape: rides linked_members (one groupBy(type, norm) +
    the certified LSH->CC linking) — already ONE row per distinct
    (type, norm) with corpus mention counts aggregated; the
    cross-type total is a map-side-combined agg on norm
    (vocabulary-bounded) joined back vocabulary-keyed; the rank
    window partitions on norm where each partition is <= |types|
    rows BY CONSTRUCTION, so a Zipf-hot surface cannot hot-spot a
    reducer. Deterministic ties: (n_mentions desc, entity_type asc)."""
    from pyspark.sql import Window as W

    # vocabulary-bounded; checkpointed because totals below SELF-JOINS
    # this frame — live, the whole LSH->scoring->CC linking dataflow
    # would execute twice (CLAUDE.md: self-joins over live stages;
    # measured 7.5s -> ~2s at sf0.01)
    m = (
        linked_members(mentions, types)
        .select("entity_type", "norm", "n_mentions", "canonical")
        .localCheckpoint(eager=True)
    )
    totals = m.groupBy("norm").agg(
        F.sum("n_mentions").cast("bigint").alias("n_surface")
    )
    w = W.partitionBy("norm").orderBy(
        F.desc("n_mentions"), F.asc("entity_type")
    )
    return (
        m.join(totals, "norm")
        .select(
            "norm", "entity_type", "canonical",
            F.col("n_mentions").cast("bigint").alias("n_mentions"),
            F.expr("(1000000 * n_mentions) div n_surface").alias(
                "prior_e6"
            ),
            F.row_number().over(w).cast("bigint").alias("rk"),
        )
    )


# ---------------------------------------------------------------------------
# Fellegi-Sunter linkage weights (sorted-neighborhood blocking)
# ---------------------------------------------------------------------------

SNM_WINDOW = 12
SNM_FEATURES = ("f_first", "f_pre3", "f_ntok", "f_lev2")


def fellegi_sunter_weights(
    mentions: DataFrame, window: int = SNM_WINDOW
) -> DataFrame:
    """Probabilistic record-linkage parameter estimation (Fellegi &
    Sunter 1969) over PERSON surface forms -> one row per comparison
    feature: (feature, n_match, n_unmatch, agree_match, agree_unmatch,
    m_ppm, u_ppm). m = P(feature agrees | pair is a true match) and
    u = P(agrees | non-match) are the quantities whose log-ratio is the
    FS match weight; both are reported as exact integer parts-per-
    million ((1e6 * agree) div n, -1 when the class is empty), so the
    row set is bit-comparable across engines with no float in sight.

    Candidate generation is SORTED-NEIGHBORHOOD blocking (Hernandez &
    Stolfo 1995) — the third blocking flavor in this repo next to
    MinHash-LSH banding (lsh_candidate_pairs) and equi-key buckets:
    distinct normalized surfaces are blocked on their LAST token (the
    surname block of classical deduplication), sorted by full surface
    inside the block, and each surface pairs with its next `window`
    neighbors only. Pair count is <= window * |surfaces| BY
    CONSTRUCTION — linear, not quadratic, at any block size.

    Truth labels come from the surface strings themselves: the planted
    cluster key is first-token + last-token (pages.py person_key — caps
    variants collapse under the mention norm, middle initials drop), so
    a pair matches iff those agree. Features are deliberately noisy
    against that label: first-token equality (degenerate-strong on this
    corpus: within a surname block it implies the key — the estimator
    faithfully reports m_ppm = 1e6, u_ppm = 0), 3-char first-name
    prefix, token-count agreement (middle-initial presence), and
    levenshtein <= 2 (one-letter mid variants agree, insertions don't).

    Scale shape: the pair base is the DISTINCT-surface table
    (vocabulary-bounded, one groupBy of the mention stream, same
    collapse surface_nodes uses), not the corpus; the rank window
    partitions per surname block — block granularity is the skew knob
    (a hotter corpus moves to (last, first-char) keys), and rows per
    block are distinct surfaces, orders of magnitude under mention
    counts. The window self-join is an equi-join on the block key with
    a rank band predicate; the final agg is 4 conditional counts."""
    surfaces = (
        mentions.where(F.col("entity_type") == "PERSON")
        .select(F.expr(_NORM).alias("norm"))
        .groupBy("norm")
        .agg(F.count("*").alias("_n"))
        .select(
            "norm",
            F.expr("split(norm, ' ')").alias("toks"),
        )
        .select(
            "norm",
            F.expr("element_at(toks, 1)").alias("first_tok"),
            F.expr("element_at(toks, -1)").alias("blk"),
            F.expr("size(toks)").alias("ntok"),
        )
    )
    from pyspark.sql import Window as W

    ranked = surfaces.withColumn(
        "rk", F.row_number().over(W.partitionBy("blk").orderBy("norm"))
    ).localCheckpoint(eager=False)
    a = ranked.select(
        F.col("blk"),
        F.col("norm").alias("na"),
        F.col("first_tok").alias("fa"),
        F.col("ntok").alias("ta"),
        F.col("rk").alias("ra"),
    )
    b = ranked.select(
        F.col("blk"),
        F.col("norm").alias("nb"),
        F.col("first_tok").alias("fb"),
        F.col("ntok").alias("tb"),
        F.col("rk").alias("rb"),
    )
    pairs = a.join(b, "blk").where(
        (F.col("rb") > F.col("ra")) & (F.col("rb") <= F.col("ra") + window)
    )
    feats = pairs.select(
        F.expr("concat(fa, ' ', blk) = concat(fb, ' ', blk)").alias(
            "is_match"
        ),
        F.explode(
            F.expr(
                "array("
                " named_struct('feature', 'f_first', 'agree', fa = fb),"
                " named_struct('feature', 'f_pre3', 'agree',"
                "   substring(fa, 1, 3) = substring(fb, 1, 3)),"
                " named_struct('feature', 'f_ntok', 'agree', ta = tb),"
                " named_struct('feature', 'f_lev2', 'agree',"
                "   levenshtein(na, nb) <= 2))"
            )
        ).alias("fx"),
    ).select("is_match", "fx.feature", "fx.agree")
    agg = feats.groupBy("feature").agg(
        F.expr("cast(count_if(is_match) as bigint)").alias("n_match"),
        F.expr("cast(count_if(not is_match) as bigint)").alias("n_unmatch"),
        F.expr("cast(count_if(is_match and agree) as bigint)").alias(
            "agree_match"
        ),
        F.expr("cast(count_if(not is_match and agree) as bigint)").alias(
            "agree_unmatch"
        ),
    )
    return agg.select(
        "feature",
        "n_match",
        "n_unmatch",
        "agree_match",
        "agree_unmatch",
        F.expr(
            "case when n_match = 0 then cast(-1 as bigint)"
            " else (cast(1000000 as bigint) * agree_match) div n_match end"
        ).alias("m_ppm"),
        F.expr(
            "case when n_unmatch = 0 then cast(-1 as bigint)"
            " else (cast(1000000 as bigint) * agree_unmatch)"
            " div n_unmatch end"
        ).alias("u_ppm"),
    )


def duck_fellegi_sunter_sql(
    vals_cte: str, window: int = SNM_WINDOW
) -> str:
    """Oracle twin of fellegi_sunter_weights: the same sorted-
    neighborhood pairing and ppm arithmetic over the PLANTED person
    surfaces (vals_cte_sql) — distinct lower(person) is exactly the
    mention norm for the planted corpus, so a bit-match certifies both
    the blocking and the estimator. Integer division is `//` (floor on
    positives, same as Spark `div`); literal 1000000 products go
    through bigint casts (the int32-literal overflow trap)."""
    return f"""
{vals_cte}
, fs_surf as (
  select norm, sp[1] as first_tok, sp[-1] as blk, len(sp) as ntok
  from (
    select norm, string_split(norm, ' ') as sp
    from (select distinct lower(person) as norm from vals
          where t in (0, 1, 2))
  )
),
fs_ranked as (
  select *, row_number() over (partition by blk order by norm) as rk
  from fs_surf
),
fs_pairs as materialized (
  select a.na, a.fa, a.ta, b.nb, b.fb, b.tb,
         (a.fa = b.fb) as is_match
  from (select blk, norm as na, first_tok as fa, ntok as ta, rk as ra
        from fs_ranked) a
  join (select blk, norm as nb, first_tok as fb, ntok as tb, rk as rb
        from fs_ranked) b
  using (blk)
  where b.rb > a.ra and b.rb <= a.ra + {window}
),
fs_feats as (
  select is_match, 'f_first' as feature, (fa = fb) as agree from fs_pairs
  union all
  select is_match, 'f_pre3', (substring(fa, 1, 3) = substring(fb, 1, 3))
  from fs_pairs
  union all
  select is_match, 'f_ntok', (ta = tb) from fs_pairs
  union all
  select is_match, 'f_lev2', (levenshtein(na, nb) <= 2) from fs_pairs
),
fs_agg as (
  select feature,
         cast(count(*) filter (is_match) as bigint) as n_match,
         cast(count(*) filter (not is_match) as bigint) as n_unmatch,
         cast(count(*) filter (is_match and agree) as bigint)
             as agree_match,
         cast(count(*) filter (not is_match and agree) as bigint)
             as agree_unmatch
  from fs_feats group by 1
)
select feature, n_match, n_unmatch, agree_match, agree_unmatch,
       case when n_match = 0 then cast(-1 as bigint)
            else (cast(1000000 as bigint) * agree_match) // n_match
       end as m_ppm,
       case when n_unmatch = 0 then cast(-1 as bigint)
            else (cast(1000000 as bigint) * agree_unmatch) // n_unmatch
       end as u_ppm
from fs_agg
"""


# ---------------------------------------------------------------------------
# Collective entity-linking disambiguation (coherence re-ranking)
# ---------------------------------------------------------------------------

EL_MAX_CTX = 64


def el_disambig(
    mentions: DataFrame,
    types: list[str] | None = None,
    max_ctx: int = EL_MAX_CTX,
) -> DataFrame:
    """Collective EL disambiguation -> one DECISION row per distinct
    (doc_id, surface norm): (doc_id, norm, entity_type, canonical,
    n_cands, direct, coherence, prior_e6). Completes the EL stack on
    top of el_candidates' commonness priors with the two context
    signals every collective linker adds (Milne & Witten 2008,
    Ratinov et al. 2011):

      direct    = 1 iff the candidate's cluster ALREADY appears in the
                  document via a DIFFERENT (unambiguous) surface — the
                  alias-in-doc evidence that dominates all other signals;
      coherence = sum over the doc's other unambiguous entity clusters
                  of the global co-occurrence count between the
                  candidate cluster and that cluster (exact bigint doc
                  counts — relatedness-from-co-occurrence standing in
                  for Milne-Witten inlink overlap).

    The winner per (doc, norm) is rank 1 under (direct desc, coherence
    desc, prior_e6 desc, entity_type asc, canonical asc) — a total
    order (trailing string keys), so both engines pick identically.
    The frozen corpus' gazetteers are type-disjoint, so every norm has
    n_cands = 1 there and the oracle certifies the CONTEXT ALGEBRA
    (ctx sets, edge counts, direct/coherence sums) corpus-wide; the
    prior-vs-coherence flip on a genuinely ambiguous surface is pinned
    on a crafted corpus in tests/test_wave15.py.

    Scale shape: the candidate table is vocabulary-bounded (rides
    linked_members) and joins into the instance stream on norm; the
    context table is ONE distinct over (doc, src_norm, cluster) plus a
    tiny per-doc distinct-cluster count agg whose > max_ctx docs are
    dropped entirely (the boilerplate-page guard entity_cooccur uses);
    the global edge self-join keys on doc_id with fan-out <= max_ctx^2
    BY CONSTRUCTION and emits a co-occurrence-graph-sized table; the
    scoring join is instance x ctx on doc_id (fan-out <= max_ctx per
    instance) probing edges by equi-key, collapsed by ONE map-side-
    combined agg; the final window partitions on (doc, norm) where each
    partition is <= |types| rows by construction. No UDFs, no collect,
    all-bigint scoring."""
    from pyspark.sql import Window as W

    # vocabulary-bounded; checkpointed because it feeds THREE consumers
    # (ncand, ctx, ci) and the linking dataflow behind it must not
    # recompute per consumer (CLAUDE.md: self-joins over live stages)
    cands = (
        el_candidates(mentions, types)
        .select("norm", "entity_type", "canonical", "prior_e6")
        .localCheckpoint(eager=True)
    )
    ncand = cands.groupBy("norm").agg(
        F.count("*").cast("bigint").alias("n_cands")
    )
    # the distinct (doc, surface) instance stream — the EL working set.
    # Checkpointed: ctx and the candidate-instance join BOTH ride it
    # (live, the mention scan + distinct shuffle ran three times)
    inst = (
        mentions.where(
            F.col("entity_type").isin(types or LINK_TYPES)
        )
        .select("doc_id", F.expr(_NORM).alias("norm"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # context: clusters of UNAMBIGUOUS surfaces, src norm retained so a
    # surface never testifies for itself (leave-one-out inside the doc)
    ctx = (
        inst.join(ncand.where(F.col("n_cands") == 1), "norm")
        .join(cands, "norm")
        .select(
            "doc_id",
            F.col("norm").alias("src_norm"),
            F.col("entity_type").alias("ctx_type"),
            F.col("canonical").alias("ctx_canon"),
        )
        .distinct()
    )
    dctx = ctx.select("doc_id", "ctx_type", "ctx_canon").distinct()
    per_doc = dctx.groupBy("doc_id").agg(F.count("*").alias("_nc"))
    keep = per_doc.where(F.col("_nc") <= max_ctx).select("doc_id")
    # doc-cluster-sized like dctx; checkpointed — the scoring pair join
    # below is its second consumer (live, the inst->ncand->cands chain
    # recomputed per consumer)
    ctx = ctx.join(keep, "doc_id").localCheckpoint(eager=True)
    # doc-cluster-sized (~|docs| x entities/doc); checkpointed — it is
    # both sides of the edge self-join AND the scoring probe base
    dctx = dctx.join(keep, "doc_id").localCheckpoint(eager=True)
    # global cluster co-occurrence edges, unordered pair keyed by
    # (entity_type, canonical) ascending
    r = dctx.select(
        F.col("doc_id").alias("r_doc"),
        F.col("ctx_type").alias("b_type"),
        F.col("ctx_canon").alias("b_canon"),
    )
    edges = (
        dctx.join(
            r,
            (dctx.doc_id == r.r_doc)
            & (
                (dctx.ctx_type < r.b_type)
                | (
                    (dctx.ctx_type == r.b_type)
                    & (dctx.ctx_canon < r.b_canon)
                )
            ),
        )
        .groupBy("ctx_type", "ctx_canon", "b_type", "b_canon")
        .agg(F.count("*").cast("bigint").alias("n_co"))
        .select(
            F.col("ctx_type").alias("e_ta"),
            F.col("ctx_canon").alias("e_ca"),
            F.col("b_type").alias("e_tb"),
            F.col("b_canon").alias("e_cb"),
            "n_co",
        )
    )
    ci = inst.join(cands, "norm").join(ncand, "norm")
    # pair each candidate with the doc's other-surface clusters, dedup
    # to distinct clusters (two aliases of one ctx entity count once)
    pairs = (
        ci.join(ctx, "doc_id")
        .where(F.col("src_norm") != F.col("norm"))
        .select(
            "doc_id", "norm", "entity_type", "canonical",
            "ctx_type", "ctx_canon",
        )
        .distinct()
    )
    ta = F.when(
        (F.col("entity_type") < F.col("ctx_type"))
        | (
            (F.col("entity_type") == F.col("ctx_type"))
            & (F.col("canonical") < F.col("ctx_canon"))
        ),
        F.struct(
            F.col("entity_type").alias("ta"),
            F.col("canonical").alias("ca"),
            F.col("ctx_type").alias("tb"),
            F.col("ctx_canon").alias("cb"),
        ),
    ).otherwise(
        F.struct(
            F.col("ctx_type").alias("ta"),
            F.col("ctx_canon").alias("ca"),
            F.col("entity_type").alias("tb"),
            F.col("canonical").alias("cb"),
        )
    )
    scored = (
        pairs.withColumn("_k", ta)
        .join(
            edges,
            (F.col("_k.ta") == edges.e_ta)
            & (F.col("_k.ca") == edges.e_ca)
            & (F.col("_k.tb") == edges.e_tb)
            & (F.col("_k.cb") == edges.e_cb),
            "left",
        )
        .groupBy("doc_id", "norm", "entity_type", "canonical")
        .agg(
            F.max(
                F.when(
                    (F.col("ctx_type") == F.col("entity_type"))
                    & (F.col("ctx_canon") == F.col("canonical")),
                    F.lit(1),
                ).otherwise(F.lit(0))
            )
            .cast("bigint")
            .alias("direct"),
            F.sum(F.coalesce(F.col("n_co"), F.lit(0)))
            .cast("bigint")
            .alias("coherence"),
        )
    )
    full = ci.join(
        scored, ["doc_id", "norm", "entity_type", "canonical"], "left"
    ).select(
        "doc_id", "norm", "entity_type", "canonical", "n_cands",
        F.coalesce(F.col("direct"), F.lit(0)).cast("bigint").alias(
            "direct"
        ),
        F.coalesce(F.col("coherence"), F.lit(0)).cast("bigint").alias(
            "coherence"
        ),
        "prior_e6",
    )
    w = W.partitionBy("doc_id", "norm").orderBy(
        F.desc("direct"),
        F.desc("coherence"),
        F.desc("prior_e6"),
        F.asc("entity_type"),
        F.asc("canonical"),
    )
    return (
        full.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(
            "doc_id", "norm", "entity_type", "canonical",
            "n_cands", "direct", "coherence", "prior_e6",
        )
    )


# ---------------------------------------------------------------------------
# Clustering evaluation: pairwise + B-cubed P/R of the linker vs truth
# ---------------------------------------------------------------------------


def cluster_eval(members: DataFrame, truth: DataFrame) -> DataFrame:
    """Entity-resolution quality report -> one row per entity_type:
    (entity_type, n_items, n_pred_clusters, n_true_clusters, tp_pairs,
    pred_pairs, true_pairs, prec_e6, rec_e6, bcubed_prec_e6,
    bcubed_rec_e6). Pairwise P/R (Rand-style over same-cluster pairs)
    and B-cubed (Bagga & Baldwin 1998) of the linker's partition
    against the planted ground truth — the certified measurement of
    the north-star P/R criterion at the ENTITY level (q_triple_eval
    covers the triple level). All-bigint sufficient statistics:
      tp_pairs  = sum over (pred, true) cells of C(n_kl, 2)
      pred/true = sum of C(n_k, 2) / C(n_l, 2)
      prec/rec  = 1e6-scaled integer div of the above
      bcubed_*  = per-cell n_kl * ((1e6 * n_kl) div n_k|l), summed,
                  div n_items (identical truncation in both engines).

    Scale shape: items = linker members joined to truth on the
    vocabulary-sized (entity_type, norm) key, localCheckpoint'd
    because THREE aggregations slice it (cells, per-pred, per-true);
    every agg map-side combines to cluster-count-sized results; the
    final rollup is one row per entity_type. No windows, no collect.

    `members`: (entity_type, norm, label) from the linker;
    `truth`: (entity_type, k, norm) planted cluster keys."""
    items = (
        members.select("entity_type", "norm", "label")
        .join(truth, ["entity_type", "norm"])
        .localCheckpoint(eager=True)
    )
    cells = items.groupBy("entity_type", "label", "k").agg(
        F.count("*").cast("bigint").alias("n_kl")
    )
    per_pred = items.groupBy("entity_type", "label").agg(
        F.count("*").cast("bigint").alias("n_k")
    )
    per_true = items.groupBy("entity_type", "k").agg(
        F.count("*").cast("bigint").alias("n_l")
    )
    c = (
        cells.join(per_pred, ["entity_type", "label"])
        .join(per_true, ["entity_type", "k"])
    )
    cell_stats = c.groupBy("entity_type").agg(
        F.expr("cast(sum(n_kl * (n_kl - 1) div 2) as bigint)").alias(
            "tp_pairs"
        ),
        F.expr(
            "cast(sum(n_kl * ((1000000 * n_kl) div n_k)) as bigint)"
        ).alias("bp_num"),
        F.expr(
            "cast(sum(n_kl * ((1000000 * n_kl) div n_l)) as bigint)"
        ).alias("br_num"),
    )
    pred_stats = per_pred.groupBy("entity_type").agg(
        F.count("*").cast("bigint").alias("n_pred_clusters"),
        F.expr("cast(sum(n_k * (n_k - 1) div 2) as bigint)").alias(
            "pred_pairs"
        ),
        F.expr("cast(sum(n_k) as bigint)").alias("n_items"),
    )
    true_stats = per_true.groupBy("entity_type").agg(
        F.count("*").cast("bigint").alias("n_true_clusters"),
        F.expr("cast(sum(n_l * (n_l - 1) div 2) as bigint)").alias(
            "true_pairs"
        ),
    )
    return (
        cell_stats.join(pred_stats, "entity_type")
        .join(true_stats, "entity_type")
        .select(
            "entity_type", "n_items", "n_pred_clusters",
            "n_true_clusters", "tp_pairs", "pred_pairs", "true_pairs",
            F.expr(
                "case when pred_pairs = 0 then 1000000"
                " else (1000000 * tp_pairs) div pred_pairs end"
            ).alias("prec_e6"),
            F.expr(
                "case when true_pairs = 0 then 1000000"
                " else (1000000 * tp_pairs) div true_pairs end"
            ).alias("rec_e6"),
            F.expr("bp_num div n_items").alias("bcubed_prec_e6"),
            F.expr("br_num div n_items").alias("bcubed_rec_e6"),
        )
    )


def duck_cluster_eval_sql(truth_sql: str) -> str:
    """Oracle twin of cluster_eval: on the planted corpus the certified
    linker partition EQUALS the truth partition (the q_entities gate),
    so predicted labels are replayed as the truth keys themselves and
    the same sufficient-statistic algebra runs over one side. A hash
    match therefore asserts numerically what q_entities asserts
    structurally: entity-level pairwise AND B-cubed P/R = 1.0 exactly.
    The nontrivial metric algebra (over/under-merge) is pinned on
    crafted partitions in pytest."""
    return f"""
with truth as ({truth_sql}),
per_true as (
  select entity_type, k, cast(count(*) as bigint) as n_l
  from truth group by 1, 2
),
cell_stats as (
  select entity_type,
         cast(sum(n_l * (n_l - 1) // 2) as bigint) as tp_pairs,
         cast(sum(n_l * ((1000000 * n_l) // n_l)) as bigint) as bp_num,
         cast(sum(n_l * ((1000000 * n_l) // n_l)) as bigint) as br_num
  from per_true group by 1
),
pred_stats as (
  select entity_type, cast(count(*) as bigint) as n_pred_clusters,
         cast(sum(n_l * (n_l - 1) // 2) as bigint) as pred_pairs,
         cast(sum(n_l) as bigint) as n_items
  from per_true group by 1
),
true_stats as (
  select entity_type, cast(count(*) as bigint) as n_true_clusters,
         cast(sum(n_l * (n_l - 1) // 2) as bigint) as true_pairs
  from per_true group by 1
)
select c.entity_type, p.n_items, p.n_pred_clusters, t.n_true_clusters,
       c.tp_pairs, p.pred_pairs, t.true_pairs,
       case when p.pred_pairs = 0 then 1000000
            else (1000000 * c.tp_pairs) // p.pred_pairs end as prec_e6,
       case when t.true_pairs = 0 then 1000000
            else (1000000 * c.tp_pairs) // t.true_pairs end as rec_e6,
       c.bp_num // p.n_items as bcubed_prec_e6,
       c.br_num // p.n_items as bcubed_rec_e6
from cell_stats c
join pred_stats p using (entity_type)
join true_stats t using (entity_type)
"""


# ---------------------------------------------------------------------------
# Phonetic blocking (Soundex) — the third blocking family next to
# MinHash-LSH (lsh_candidate_pairs) and the LSH-band embedding graph:
# classic record-linkage practice (Fellegi-Sunter deployments block on
# phonetic keys precisely because typo'd/variant spellings of a name
# keep the same code: Smith/Smythe -> S530).


def phonetic_blocks(mentions: DataFrame) -> DataFrame:
    """PERSON name tokens -> Soundex block table (block_key,
    n_surfaces, n_mentions, min_surface, max_surface): the blocking
    index a linker probes before pairwise scoring. n_surfaces > 1 rows
    are the candidate blocks (distinct spellings sharing a code);
    min/max surface pin the block membership into the driver hash.

    Scale shape: the mention stream collapses to DISTINCT surface
    tokens FIRST (one map-side-combined groupBy over the token stream
    — a Zipf-hot name arrives pre-summed), soundex() evaluates over
    the VOCABULARY-sized surface table only (names are a bounded
    vocabulary at any corpus size), and the block rollup is
    key-bounded. No Python: Spark's soundex is a codegen expression;
    the oracle uses a bit-exact Python mirror (functions/text.
    spark_soundex, pinned == Spark over the full gazetteer + 34
    probed edge cases in tests/test_wave27.py) to inline planted
    truth."""
    toks = (
        mentions.where(F.col("entity_type") == "PERSON")
        .select(F.explode(F.split("mention", " ")).alias("surface"))
        .where(F.col("surface") != "")
        .groupBy("surface")
        .agg(F.count("*").cast("bigint").alias("n_m"))
    )
    return (
        toks.withColumn("block_key", F.soundex("surface"))
        .groupBy("block_key")
        .agg(
            F.count("*").cast("bigint").alias("n_surfaces"),
            F.sum("n_m").cast("bigint").alias("n_mentions"),
            F.min("surface").alias("min_surface"),
            F.max("surface").alias("max_surface"),
        )
    )


def duck_phonetic_blocks_sql(gm_sql: str) -> str:
    """Oracle twin of phonetic_blocks over the golden mention truth:
    the Soundex keys are inlined as a VALUES map computed by the
    Python mirror over every gazetteer name token (en + it) — planted
    truth, the repo's golden-dict pattern. A surface outside the map
    joins to NULL and the driver hash catches it."""
    from ..functions import gazetteers as G
    from ..functions.text import spark_soundex

    base = {
        t
        for n in (
            G.FIRST_NAMES + G.LAST_NAMES
            + G.IT_FIRST_NAMES + G.IT_LAST_NAMES
        )
        for t in n.split()
    }
    # the planted corpus emits three surface shapes beyond the bare
    # gazetteer entry (pages.py:92,117): ALL-CAPS display variants,
    # and single middle initials 'A.'..'Z.'
    toks = sorted(
        base
        | {t.upper() for t in base}
        | {f"{chr(65 + i)}." for i in range(26)}
    )
    vals = ", ".join(f"('{t}', '{spark_soundex(t)}')" for t in toks)
    return f"""
with gm as ({gm_sql}),
toks as (
  select surface, cast(count(*) as bigint) as n_m
  from (select unnest(string_split(mention, ' ')) as surface
        from gm where entity_type = 'PERSON')
  where surface <> ''
  group by 1
),
sdx(surface, block_key) as (values {vals})
select s.block_key,
       cast(count(*) as bigint) as n_surfaces,
       cast(sum(n_m) as bigint) as n_mentions,
       min(t.surface) as min_surface,
       max(t.surface) as max_surface
from toks t left join sdx s on s.surface = t.surface
group by 1
"""


# ---------------------------------------------------------------------------
# Sorted-neighborhood blocking (Hernandez & Stolfo 1995) — the FOURTH
# blocking family next to MinHash-LSH shingles, embedding sign-bands
# and Soundex codes: sort the normalized surfaces once, slide a window
# of size w, and every pair within the window is a candidate. Catches
# prefix-typo variants a phonetic code splits (and vice versa), which
# is why production linkage unions several blocking passes.

SN_WINDOW = 3


def sorted_neighborhood_pairs(
    mentions: DataFrame, window: int = SN_WINDOW
) -> DataFrame:
    """PERSON surfaces -> (name_a, name_b, gap): candidate pairs whose
    NORMALIZED forms (lower, single-spaced) sit within `window`
    positions of each other in sorted order; gap = rank distance
    (1..window-1). name_a < name_b in the sort order by construction.

    Scale shape: the mention stream collapses to DISTINCT normalized
    surfaces map-side FIRST (the soundex discipline — a Zipf-hot name
    arrives pre-summed), so the sort and the lead() window run over
    the VOCABULARY-sized surface table; the window is ONE global sort
    whose lead(d) calls all share the single ordering (Catalyst plans
    one Window operator), and the pair fan-out is exactly
    (window-1) * |vocabulary| rows. At 10^12 mentions the vocabulary
    is still name-shaped — the same boundedness argument every
    blocking pass here rests on."""
    from pyspark.sql import Window as W

    surf = (
        mentions.where(F.col("entity_type") == "PERSON")
        .select(
            F.expr(
                "regexp_replace(lower(trim(mention)), ' +', ' ')"
            ).alias("norm")
        )
        .distinct()
    )
    w_ord = W.orderBy("norm")
    leads = surf.select(
        "norm",
        *[
            F.lead("norm", d).over(w_ord).alias(f"n{d}")
            for d in range(1, window)
        ],
    )
    out = None
    for d in range(1, window):
        part = leads.where(F.col(f"n{d}").isNotNull()).select(
            F.col("norm").alias("name_a"),
            F.col(f"n{d}").alias("name_b"),
            F.lit(d).cast("bigint").alias("gap"),
        )
        out = part if out is None else out.unionByName(part)
    return out


def duck_sorted_neighborhood_sql(
    gm_sql: str, window: int = SN_WINDOW
) -> str:
    """Oracle twin over the golden mention truth: same normalization,
    same sort, same lead distances."""
    leads = ", ".join(
        f"lead(norm, {d}) over (order by norm) as n{d}"
        for d in range(1, window)
    )
    parts = " union all ".join(
        f"select norm as name_a, n{d} as name_b,"
        f" cast({d} as bigint) as gap from led where n{d} is not null"
        for d in range(1, window)
    )
    return f"""
with gm as ({gm_sql}),
surf as (
  select distinct regexp_replace(lower(trim(mention)), ' +', ' ', 'g')
         as norm
  from gm where entity_type = 'PERSON'
),
led as (select norm, {leads} from surf)
{parts}
"""
