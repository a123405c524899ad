"""Graph operators beyond connected components (which lives with its
dedup use case in :mod:`.dedup`): fixed-iteration PageRank.

The reference has no graph surface at all (absence verified in SURVEY.md
§2B); a training-data pipeline needs one for link-graph quality signals
(domain authority for web corpora) and for ranking dup-cluster canonical
picks.  The implementation pattern is the one every large-scale Spark
graph job uses short of GraphX/Pregel: the vertex state is a DataFrame,
one iteration is one join against the edge list plus one aggregation,
and the driver loop is pure control flow — no data ever reaches the
driver.

Determinism discipline (what makes the operator value-checkable across
engines and partitionings): per-edge contributions are scaled to
integers (``round(rank/outdeg · 1e12)``) before the per-vertex sum, so
the aggregation is associative — double addition is not, and a
partitioning-dependent sum order would otherwise leak into the low bits
and diverge from any oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: fixed-point scale for contribution sums (12 decimal digits)
_SCALE = 1_000_000_000_000


def pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    key: str = "v",
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 3,
    round_digits: int | None = 6,
) -> DataFrame:
    """PageRank with a fixed iteration count over a directed edge list.

    ``rank_0 = 1/N``; each iteration sets ``rank(v) = (1-d)/N + d ·
    Σ_{(u,v)∈E} rank(u)/outdeg(u)``.  Dangling mass (vertices with no
    out-edges) is dropped rather than redistributed — deterministic, and
    the variant most link-quality uses want anyway (a page hoarding rank
    it cannot pass on should not inflate everyone uniformly).  Vertex ids
    are unique; ``outdeg(u)`` counts every edge of ``u``, and an edge
    whose ``src`` or ``dst`` is not a vertex passes no rank.

    Scale shape: the degree-annotated edge table is built and pinned
    once.  One iteration is then one equi-join of that table with the
    rank vector on ``src`` plus one hash aggregate on ``dst`` (see
    :func:`_iterate`).  The iterations are not pinned: their shuffles
    run in the one job that consumes the result.  The driver sees only
    ``N`` (a metadata scalar).

    Returns ``(key, pagerank)``.
    """
    n = vertices.count()
    ranks = _iterate(
        vertices.select(F.col(key).alias("__v")),
        edges.select(F.col(src).alias("__u"), F.col(dst).alias("__v")),
        F.lit(1.0 / n),
        F.lit((1.0 - damping) / n),
        damping,
        n_iter,
        round_digits,
    )
    return ranks.select(
        F.col("__v").alias(key), F.col("__rank").alias("pagerank")
    )


def _iterate(
    base: DataFrame,
    e: DataFrame,
    rank0: Column,
    teleport: Column,
    damping: float,
    n_iter: int,
    round_digits: int | None,
) -> DataFrame:
    """``n_iter`` rounds of ``rank(v) = teleport + d · Σ rank(u)/outdeg(u)``
    from ``rank0`` over the edges ``e`` ``(__u, __v)``; ``base`` holds one
    ``(__v, *carried)`` row per vertex.  Returns ``(__v, __rank)``.

    ``outdeg`` counts every edge; an edge whose ``__v`` is not a vertex
    is then dropped once, and one whose ``__u`` is not a vertex finds no
    rank to join.  That degree-annotated table is loop-invariant, so it
    is pinned: the caller's edge expression (typically a fact-scale
    join + distinct) and the degree join run once, not once per round.
    Each round unions a zero contribution per vertex with the edge
    contributions and sums by ``__v``, so every vertex keeps its row with
    no join back to ``base``; the carried columns, which ``rank0`` and
    ``teleport`` may read, ride along as ``max`` over NULL padding."""
    outdeg = e.groupBy("__u").agg(F.count(F.lit(1)).alias("__outdeg"))
    e_deg = (
        e.join(base.select("__v"), "__v", "left_semi")
        .join(outdeg, "__u")
        .localCheckpoint(eager=False)
    )
    carried = [c for c in base.columns if c != "__v"]
    pad = [
        F.lit(None).cast(base.schema[c].dataType).alias(c) for c in carried
    ]
    zero = base.select("__v", *carried, F.lit(0).cast("long").alias("__c"))
    ranks = base.select("__v", *carried, rank0.alias("__rank"))
    for _ in range(n_iter):
        contribs = e_deg.join(
            ranks.select(
                F.col("__v").alias("__u"), F.col("__rank").alias("__ur")
            ),
            "__u",
        ).select(
            "__v",
            *pad,
            F.round(F.col("__ur") / F.col("__outdeg") * _SCALE)
            .cast("long")
            .alias("__c"),
        )
        ranks = (
            zero.union(contribs)
            .groupBy("__v")
            .agg(
                *[F.max(c).alias(c) for c in carried],
                F.sum("__c").alias("__s"),
            )
            .select(
                "__v",
                *carried,
                (
                    teleport + damping * (F.col("__s") / F.lit(_SCALE))
                ).alias("__rank"),
            )
        )
    rank_col = F.col("__rank")
    if round_digits is not None:
        rank_col = F.round(rank_col, round_digits)
    return ranks.select("__v", rank_col.alias("__rank"))


def triangle_counts(
    edges: DataFrame,
    *,
    src: str = "a",
    dst: str = "b",
    checkpoint: bool = True,
) -> DataFrame:
    """Per-vertex triangle counts over an undirected simple graph.

    Input: one row per undirected edge with ``src < dst`` (the caller
    canonicalizes + dedups).  The count uses the ordered formulation —
    enumerate each triangle exactly once as ``a < b < c`` via two joins
    (wedge build on the middle vertex, then closure check on ``(a, c)``)
    — and then credits each of the triangle's three vertices.

    Scale shape: two equi-joins, each shuffling on a vertex key — the
    join-based algorithm every SQL/Spark triangle job uses.  The wedge
    join's output is Σ deg(b)² in the worst case; at web scale the
    standard mitigation is degree-ordered direction (orienting every
    edge from the lower-degree endpoint bounds wedges by arboricity),
    which composes here by re-deriving ``src``/``dst`` from a degree
    rank before calling — the enumeration logic is unchanged.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    if checkpoint:
        # the edge list feeds three plan legs (two wedge sides + the
        # closure probe); callers pass a derived expression (typically a
        # fact-scale distinct), and without truncation every leg
        # re-executes that derivation — 3 full shuffles where 1
        # suffices.  Materialize once (same pattern as pagerank's
        # loop-invariant e_deg).
        e = e.localCheckpoint(eager=False)
    wedges = (
        e.select(F.col("a"), F.col("b").alias("m"))
        .join(
            e.select(F.col("a").alias("m"), F.col("b").alias("c")), "m"
        )
    )
    closed = wedges.join(
        e.select(F.col("a"), F.col("b").alias("c")), ["a", "c"], "left_semi"
    )
    tri_nodes = closed.select(
        F.explode(F.array("a", "m", "c")).alias("node")
    )
    return tri_nodes.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )


def bfs_distances(
    sources: DataFrame,
    edges: DataFrame,
    *,
    key: str = "v",
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 3,
) -> DataFrame:
    """Multi-source BFS: minimum hop distance (≤ ``max_hops``) from any
    seed vertex, the reachability/diffusion primitive (crawl-frontier
    expansion, contamination spread through a link graph, "within k
    citation hops of a benchmark").

    One hop = one equi-join of the frontier with the edge list on the
    source endpoint, a ``distinct``, and an anti-join against the
    settled set — all shuffles are on vertex ids, distances are exact
    integers, so the result is partitioning-independent with no
    fixed-point tricks needed.  ``localCheckpoint`` truncates lineage so
    hop ``k`` never replays hops ``1..k-1``; the driver sees no data.

    At 100 TB the frontier/settled sets are key-only tables (8-byte
    ids); the edge list is the only large operand and it is never
    materialized beyond each hop's join — the standard iterative-BFS
    shape Spark graph jobs use short of Pregel.

    Returns ``(key, dist)`` for every vertex reachable within
    ``max_hops`` (seeds at distance 0).
    """
    # the edge list is loop-invariant: checkpoint it once so no hop
    # re-derives the (possibly expensive) edge expression — same
    # discipline as pagerank's degree-annotated edge table
    e = edges.select(
        F.col(src).alias("__u"), F.col(dst).alias("__v")
    ).localCheckpoint(eager=False)
    settled = (
        sources.select(F.col(key).alias("__v"))
        .distinct()
        .withColumn("dist", F.lit(0))
        .localCheckpoint(eager=False)
    )
    frontier = settled
    for hop in range(1, max_hops + 1):
        # rename the frontier key before joining: after hop 1 the
        # frontier descends from ``e`` and an unaliased self-join is
        # ambiguous
        nxt = (
            frontier.select(F.col("__v").alias("__f"))
            .join(e, F.col("__f") == F.col("__u"))
            .select("__v")
            .distinct()
            .join(settled.select("__v"), "__v", "left_anti")
            .withColumn("dist", F.lit(hop))
            .localCheckpoint(eager=False)
        )
        settled = settled.union(nxt).localCheckpoint(eager=False)
        frontier = nxt
    return settled.select(F.col("__v").alias(key), "dist")


def kcore_peel(
    edges: DataFrame,
    *,
    k: int,
    rounds: int,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Bounded k-core peeling: ``rounds`` synchronous rounds of "drop
    every vertex with degree < k, with its edges" over an undirected
    simple graph — the density-decomposition primitive (community
    cores, spam/bot subgraph mining).  The full k-core is this step
    iterated to fixpoint; the BOUNDED form keeps the whole computation
    engine-checkable (the `graph_bfs` / `sql_recursive_cte` bounded-
    iteration discipline) and each extra round is the same two
    semi-joins.

    Scale shape: per round one degree aggregate (map-combinable union
    of both endpoints) + two semi-joins on the vertex key; the edge set
    only ever SHRINKS, and each round's survivor set is checkpointed so
    lineage stays flat.  Returns ``(node, degree)`` of the surviving
    subgraph after the last round."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    e = e.localCheckpoint(eager=True)
    for _ in range(rounds):
        deg = (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("node")
        e = (
            e.join(keep.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
    return (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )


def label_propagate(
    edges: DataFrame,
    *,
    rounds: int,
    src: str = "u",
    dst: str = "v",
) -> DataFrame:
    """Bounded synchronous label propagation (Raghavan et al. 2007) —
    the near-linear community-detection primitive: every vertex starts
    labeled with its own id; each round it adopts the MOST FREQUENT
    label among its neighbors PLUS ONE VOTE for its own current label
    (the self-vote damps the 2-coloring oscillation synchronous LPA is
    known for), ties broken by MINIMUM label.  The min tie-break makes
    the synchronous update fully deterministic (classic LPA randomizes
    — that can never be value-checked), and the BOUNDED round count
    keeps it engine-checkable per the `graph_bfs` / `kcore_peel`
    discipline.

    Scale shape per round: one join of the (undirected, deduped) edge
    list against the |V|-row label frame on the neighbor key, one
    (vertex, label) count aggregate (map-combinable), one per-vertex
    top-1 window on the counted frame — rows entering the window are
    at most the distinct (vertex, neighbor-label) pairs, already
    aggregated.  Labels are checkpointed per round so lineage stays
    flat.  Returns ``(vertex, label)`` after the last round."""
    und = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionAll(
            edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = und.select(F.col("u").alias("vertex")).distinct().select(
        "vertex", F.col("vertex").alias("label")
    )
    from pyspark.sql import Window

    for _ in range(rounds):
        nbr = und.join(
            labels, und["v"] == labels["vertex"], "inner"
        ).select(und["u"].alias("vx"), "label").unionAll(
            labels.select(F.col("vertex").alias("vx"), "label")
        )
        cnt = nbr.groupBy("vx", "label").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        w = Window.partitionBy("vx").orderBy(
            F.desc("cnt"), F.asc("label")
        )
        labels = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("vx").alias("vertex"), "label")
            .localCheckpoint(eager=True)
        )
    return labels.select(
        "vertex", F.col("label").cast("bigint").alias("label")
    )


def clustering_coefficients(
    edges: DataFrame, *, src: str = "a", dst: str = "b"
) -> DataFrame:
    """Local clustering coefficient per vertex: ``2·T(v) / (d(v)·(d(v)−1))``.

    Input: canonical undirected edges (``src < dst``, deduped).  Both
    ingredients stay EXACT integers — triangles via
    :func:`triangle_counts`, wedges ``d(d−1)/2`` from a degree count —
    so the only float op is the final one-per-vertex division.
    Isolated/degree-1 vertices get coefficient 0 by convention.

    Scale shape: the triangle join dominates (see
    :func:`triangle_counts` for the degree-orientation mitigation);
    the degree aggregate is map-side combinable and the final join is
    vertex-keyed — nothing here adds a shuffle beyond the triangle
    enumeration itself.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # five consumers below (degree union counts both sides, plus the
    # three triangle legs): materialize the canonical edge list once so
    # the caller's derivation (typically a fact-scale distinct) runs
    # exactly one shuffle instead of five
    e = e.localCheckpoint(eager=False)
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    tri = triangle_counts(e, checkpoint=False)  # e is checkpointed above
    joined = deg.join(tri, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("n_triangles"), F.lit(0))
        .cast("bigint")
        .alias("n_triangles"),
    )
    wedges = (F.col("degree") * (F.col("degree") - 1) / 2).cast("bigint")
    return joined.select(
        "node",
        "degree",
        "n_triangles",
        wedges.alias("wedges"),
        F.round(
            F.when(
                F.col("degree") >= 2,
                F.col("n_triangles").cast("double")
                / (
                    (F.col("degree") * (F.col("degree") - 1) / 2).cast(
                        "double"
                    )
                ),
            ).otherwise(F.lit(0.0)),
            9,
        ).alias("clustering_coeff"),
    )


def hits_scores(
    edges: DataFrame, *, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Two-round UNNORMALIZED HITS over a directed edge list.

    With ``h⁰ ≡ 1``, the k-th unnormalized scores are exact path
    counts: ``a¹ = indegree``, ``h¹(u) = Σ_{u→v} a¹(v)``, ``a²(v) =
    Σ_{u→v} h¹(u)``, ``h²(u) = Σ_{u→v} a²(v)`` — every value an exact
    BIGINT, which sidesteps the float-normalization order dependence
    entirely (callers normalize AFTER, if they need the unit vector;
    the ranking is scale-invariant).

    Returns one row per participating vertex and role:
    ``(role ∈ {hub, auth}, id, score_1, score_2)``.

    Scale shape: each half-round is one vertex-keyed equi-join of the
    edge list with the current score vector plus one hash aggregate —
    the same join-per-iteration shape as :func:`pagerank`; the edge
    list is reused four times, so it is materialized once below
    (``localCheckpoint``) rather than re-derived per half-round.
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # the edge list is consumed four times (one join per half-round);
    # materialize it once instead of re-deriving the caller's edge
    # expression (typically a fact-scale distinct) per half-round
    e = e.localCheckpoint(eager=False)
    a1 = e.groupBy("v").agg(F.count(F.lit(1)).cast("bigint").alias("a1"))
    h1 = (
        e.join(a1, "v")
        .groupBy("u")
        .agg(F.sum("a1").cast("bigint").alias("h1"))
    )
    a2 = (
        e.join(h1, "u")
        .groupBy("v")
        .agg(F.sum("h1").cast("bigint").alias("a2"))
    )
    h2 = (
        e.join(a2, "v")
        .groupBy("u")
        .agg(F.sum("a2").cast("bigint").alias("h2"))
    )
    hubs = h1.join(h2, "u").select(
        F.lit("hub").alias("role"),
        F.col("u").cast("bigint").alias("id"),
        F.col("h1").alias("score_1"),
        F.col("h2").alias("score_2"),
    )
    auths = a1.join(a2, "v").select(
        F.lit("auth").alias("role"),
        F.col("v").cast("bigint").alias("id"),
        F.col("a1").alias("score_1"),
        F.col("a2").alias("score_2"),
    )
    return hubs.unionAll(auths)


def personalized_pagerank(
    seeds: DataFrame,
    vertices: DataFrame,
    edges: DataFrame,
    *,
    key: str = "v",
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 3,
    round_digits: int | None = 6,
) -> DataFrame:
    """Personalized PageRank: :func:`pagerank` with the teleport mass
    restricted to a SEED set — ``rank(v) = (1−d)·1{v∈S}/|S| + d ·
    Σ_{(u,v)∈E} rank(u)/outdeg(u)``, ``rank₀ = 1{v∈S}/|S|``.  The
    relevance-to-these-nodes primitive (related-document discovery,
    seed-set expansion for topic corpora) where global PageRank is
    topic-blind.

    Same determinism discipline, edge table and iteration as
    :func:`pagerank`, with vertex and seed ids unique; the seed
    indicator joins once up front — a broadcast when the seed set is
    small, which is the typical use — and rides through the iterations.
    """
    ns = seeds.count()
    sd = seeds.select(F.col(key).alias("__v"), F.lit(1).alias("__is_seed"))
    base = (
        vertices.select(F.col(key).alias("__v"))
        .join(F.broadcast(sd), "__v", "left")
        .select(
            "__v", F.coalesce(F.col("__is_seed"), F.lit(0)).alias("__is_seed")
        )
    )
    seeded = F.col("__is_seed") == 1
    ranks = _iterate(
        base,
        edges.select(F.col(src).alias("__u"), F.col(dst).alias("__v")),
        F.when(seeded, F.lit(1.0) / F.lit(float(ns))).otherwise(F.lit(0.0)),
        F.when(seeded, F.lit(1.0 - damping) / F.lit(float(ns))).otherwise(
            F.lit(0.0)
        ),
        damping,
        n_iter,
        round_digits,
    )
    return ranks.select(
        F.col("__v").alias(key), F.col("__rank").alias("ppr")
    )


def common_neighbor_pairs(
    edges: DataFrame,
    *,
    node_col: str = "c",
    via_col: str = "s",
    min_common: int = 2,
    max_hub: int | None = None,
    broadcast_counts: bool = True,
) -> DataFrame:
    """Candidate ``(ca, cb, common)`` pairs for link prediction: nodes
    sharing a via-node (the bipartite projection), with the shared-via
    count.  Pairs come ONLY from the via-keyed self-join — never
    all-pairs — so the via key is the single shuffle key.

    ``max_hub`` caps the hub explosion (the star policy of
    ``dedup.minhash_lsh_pairs`` / the ``max_block`` cap of
    ``similarity.knn_join_blocked``): a via-node of degree ``m`` yields
    ``m(m-1)/2`` pairs, quadratic in the hub.  Over the cap, the
    NEIGHBOR (right) side keeps a DETERMINISTIC hash-selected subset —
    ``pmod(xxhash64(node), ceil(m / max_hub)) = 0``, expected size
    ``max_hub`` — so candidate volume is ``m × max_hub``, linear in
    the hub degree.  Common counts inside a mega-hub become lower
    bounds over a deterministic subset (the standard candidate-
    generation answer; exact recall needs no cap only when the
    sparsifier already bounds degrees).  The thinning is ROW-LOCAL
    given a per-via count frame: no sort, and the self-join keeps its
    uncapped physical plan.

    ``broadcast_counts`` picks how the per-via counts reach the rows:
    the default broadcast is one row per DISTINCT via — right for the
    usual bounded via domain (suppliers, LSH bands, blocking keys) —
    but an unbounded via domain (e.g. via = customer over a 100 TB
    fact table) would make that broadcast itself the limit; pass
    ``False`` there and the counts attach by a plain ``__via`` join
    instead, which shuffles on the SAME key the pair self-join already
    shuffles on, so it adds no new exchange family."""
    a = edges.select(
        F.col(via_col).alias("__via"), F.col(node_col).alias("ca")
    )
    b = edges.select(
        F.col(via_col).alias("__via"), F.col(node_col).alias("cb")
    )
    if max_hub is not None:
        stats = b.groupBy("__via").agg(
            F.count(F.lit(1)).alias("__m")
        )
        if broadcast_counts:
            stats = F.broadcast(stats)
        b = (
            b.join(stats, "__via")
            .filter(
                (F.col("__m") <= max_hub)
                | (
                    F.pmod(
                        F.xxhash64(F.col("cb")),
                        F.ceil(
                            F.col("__m") / F.lit(max_hub)
                        ).cast("bigint"),
                    )
                    == 0
                )
            )
            .select("__via", "cb")
        )
    return (
        a.join(b, "__via")
        .filter(F.col("ca") < F.col("cb"))
        .groupBy("ca", "cb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common"))
        .filter(F.col("common") >= min_common)
    )
