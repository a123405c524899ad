"""Vector similarity search over ``array<float>`` embedding columns.

Baseline is brute-force cosine top-k with the dot product computed JVM-side
via higher-order functions (``zip_with`` + ``aggregate``) — no Python in
the loop, whole-stage codegen applies.

Scale path (100 TB / billions of vectors):

- **Blocked search** (:func:`cosine_pairs_blocked`): restrict comparisons to
  a blocking key (coarse quantizer cell, LSH bucket, shard id).  This is the
  IVF pattern: the block column plays the role of the inverted-list id, the
  equi-join on it is a shuffled hash join on a low-cardinality key.
- **Broadcast the query set** in top-k search: queries are ~KBs-MBs, the
  corpus is the 100 TB side; ``broadcast(queries)`` makes the scan
  embarrassingly parallel with zero corpus shuffle.  The per-query top-k is
  a window over ``query_id`` — only ``k × |queries|`` rows survive the
  partial aggregation.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from table_streaming_source_spark.operators.hof import bind_once, spread


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision, JVM-evaluated, sequential fold (order
    deterministic → bit-reproducible across engines)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two ``array<numeric>`` columns (double)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    key: str = "vec_id",
    k: int = 5,
    round_digits: int | None = 6,
) -> DataFrame:
    """Brute-force cosine top-k: for every query vector, the ``k`` nearest
    corpus vectors (excluding itself when ids collide).

    Returns ``(query_id, neighbor_id, cos_sim, rank)``.  The ranking is
    deterministic: ties broken by neighbor id.  ``round_digits`` rounds the
    similarity before ranking so results are reproducible across engines'
    float summation orders.
    """
    q = queries.select(
        F.col(key).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    c = spread(corpus).select(
        F.col(key).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    sim = F.col("__sim")
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("__sim", cosine(F.col("__qv"), F.col("__cv")))
    )
    if round_digits is not None:
        scored = scored.withColumn("__sim", F.round(sim, round_digits))
    w = Window.partitionBy("query_id").orderBy(
        sim.desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            sim.alias("cos_sim"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def cosine_range(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    key: str = "vec_id",
    threshold: float = 0.3,
    round_digits: int | None = 6,
) -> DataFrame:
    """Radius (range) search: every corpus vector with cosine ≥
    ``threshold`` of each query — the retrieval mode for "all documents
    similar enough", where top-k's fixed fan-out is wrong (dedup
    candidate pulls, near-duplicate sweeps, recall-oriented retrieval).

    Same scale shape as :func:`cosine_topk`: the query batch broadcasts
    (bounded by the batch, not the corpus), the corpus never shuffles,
    and — unlike top-k — no ranking window exists at all, so the output
    is a pure filter over the scored stream: embarrassingly parallel at
    any corpus size.  Returns ``(query_id, neighbor_id, cos_sim)``.
    """
    q = queries.select(
        F.col(key).alias("query_id"), F.col(vec_col).alias("__qv")
    )
    c = spread(corpus).select(
        F.col(key).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("__sim", cosine(F.col("__qv"), F.col("__cv")))
    )
    if round_digits is not None:
        scored = scored.withColumn(
            "__sim", F.round(F.col("__sim"), round_digits)
        )
    return scored.filter(F.col("__sim") >= threshold).select(
        "query_id", "neighbor_id", F.col("__sim").alias("cos_sim")
    )


def cosine_pairs_blocked(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    key: str = "vec_id",
    block_col: str = "label",
    threshold: float = 0.99,
    round_digits: int | None = 6,
    max_block: int | None = None,
    mega_block: str = "star",
) -> DataFrame:
    """Near-duplicate vector pairs within a blocking key (IVF-style).

    Compares only pairs sharing ``block_col`` — the scale answer to
    all-pairs cosine.  Returns ``(key_a, key_b, cos_sim)``, ``key_a <
    key_b``, ``cos_sim >= threshold``.

    ``max_block`` guards the skewed-block explosion (the same
    boilerplate-bucket problem :func:`~table_streaming_source_spark.operators.dedup.minhash_lsh_pairs`
    caps): a block of ``m`` vectors yields ``m(m-1)/2`` pairs, so one
    giant IVF cell / label reintroduces the quadratic blowup the blocking
    exists to avoid.  For blocks over the cap, ``mega_block="star"``
    emits only the ``m-1`` hub pairs (minimum key vs every other member —
    linear, and downstream transitive closure still connects the
    cluster); ``mega_block="drop"`` skips the block entirely.  The cap is
    enforced *before* the self-join: per-block ``(count, hub)`` is one
    tiny hash aggregate broadcast onto the left side, which for a mega
    block is pruned to the single hub row — the join never produces the
    quadratic output.
    """
    if mega_block not in ("star", "drop"):
        raise ValueError(f"mega_block must be 'star' or 'drop': {mega_block!r}")
    df = spread(df)
    # the blocked corpus feeds up to three plan legs (a side, b side,
    # and the per-block cap stats): when the caller passed a DERIVED
    # frame (e.g. sim_ivf_search's corpus⋈learned-cells join), each leg
    # re-executes that derivation — materialize it once.  A persisted
    # input (the snapshot cache) skips the pin: re-scanning cache is
    # cheaper than copying it into a second materialization.
    try:
        _cached = df.storageLevel.useMemory or df.storageLevel.useDisk
    except Exception:
        _cached = False
    if not _cached:
        df = df.localCheckpoint(eager=False)
    a = df.select(
        F.col(block_col).alias("__blk"),
        F.col(key).alias("key_a"),
        F.col(vec_col).alias("__va"),
    )
    b = df.select(
        F.col(block_col).alias("__blk"),
        F.col(key).alias("key_b"),
        F.col(vec_col).alias("__vb"),
    )
    if max_block is not None:
        stats = a.groupBy("__blk").agg(
            F.count(F.lit(1)).alias("__m"),
            F.min("key_a").alias("__hub"),
        )
        a = a.join(F.broadcast(stats), "__blk")
        if mega_block == "drop":
            a = a.filter(F.col("__m") <= max_block)
        else:  # star: mega blocks keep only the hub row on the left side
            a = a.filter(
                (F.col("__m") <= max_block)
                | (F.col("key_a") == F.col("__hub"))
            )
        a = a.select("__blk", "key_a", "__va")
    sim = cosine(F.col("__va"), F.col("__vb"))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return (
        a.join(b, "__blk")
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("cos_sim", sim)
        .filter(F.col("cos_sim") >= threshold)
        .select("key_a", "key_b", "cos_sim")
    )


def lsh_planes(num_planes: int, dim: int) -> list[list[int]]:
    """Deterministic ±1 random-hyperplane matrix, seeded by md5 of
    ``"{plane}:{dim}"`` at plan-build time.

    Generated driver-side with :mod:`hashlib` and embedded as literals in
    both the Spark plan and the DuckDB oracle SQL — the sign matrix is
    engine-independent data, not runtime compute.
    """
    return [
        [
            1
            if int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for d in range(dim)
        ]
        for p in range(num_planes)
    ]


def hyperplane_bucket(
    vec: Column, planes: list[list[int]]
) -> Column:
    """SimHash-style LSH bucket id of a vector: bit ``p`` is set iff
    ``dot(vec, planes[p]) >= 0``.

    Entirely row-local JVM expression (no shuffle, no Python): one
    ``zip_with``+``aggregate`` dot product per plane, bound once (see
    :func:`~table_streaming_source_spark.operators.hof.bind_once`), then a
    bit-assembly fold.  Nearby vectors (small angle) agree on most
    hyperplane signs, so they land in the same bucket with high
    probability — the standard random-hyperplane LSH for cosine.
    """
    planes_lit = F.array(
        *[F.array(*[F.lit(v) for v in row]) for row in planes]
    )
    dots = F.transform(
        planes_lit,
        lambda row: F.aggregate(
            F.zip_with(vec, row, lambda x, r: x.cast("double") * r),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )
    pow2 = F.array(
        *[F.lit(1 << p).cast("long") for p in range(len(planes))]
    )
    return bind_once(
        dots,
        lambda ds: F.aggregate(
            F.sequence(F.lit(0), F.lit(len(planes) - 1)),
            F.lit(0).cast("long"),
            lambda acc, p: acc
            + F.when(
                F.element_at(ds, (p + 1).cast("int")) >= 0,
                F.element_at(pow2, (p + 1).cast("int")),
            ).otherwise(F.lit(0).cast("long")),
        ),
    )


def _ivf_dots(vec_col: str, num_cells: int, dim: int) -> Column:
    """Per-row array of centroid dot products (the coarse-quantizer
    scores) — a pure row-local expression, shared by :func:`ivf_assign`
    and the fused corpus projection inside :func:`ivfpq_search`."""
    cents = lsh_planes(num_cells, dim)
    cents_lit = F.array(
        *[F.array(*[F.lit(v) for v in row]) for row in cents]
    )
    return F.transform(
        cents_lit,
        lambda row: F.aggregate(
            F.zip_with(
                F.col(vec_col), row, lambda x, r: x.cast("double") * r
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ),
    )


def ivf_assign(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    key: str = "vec_id",
    num_cells: int = 8,
    dim: int = 64,
    round_digits: int | None = 6,
) -> DataFrame:
    """Coarse-quantizer (IVF) cell assignment: each vector goes to the
    centroid with the highest dot product (equal-norm ±1 centroids, so
    max-dot = nearest-Euclidean), ties to the lowest cell id.

    This is the *assignment step* of IVF index construction — the k-means
    iteration that would learn the centroids is the same assignment plus
    a per-cell mean, both plain hash aggregates.  Deterministic centroids
    (md5-derived, :func:`lsh_planes`) keep the operator value-checkable
    across engines; production swaps in learned centroids without
    touching the plan shape.  Entirely row-local JVM expressions — the
    only shuffle in a full IVF build is the per-cell re-aggregation.

    Returns ``(key, cell, score)``; feed to
    :func:`cosine_pairs_blocked` with ``block_col="cell"`` for IVF-style
    search.
    """
    dots = _ivf_dots(vec_col, num_cells, dim)
    score = F.array_max(F.col("__dots"))
    out = (
        df.select(F.col(key), dots.alias("__dots"))
        .select(
            F.col(key),
            (F.array_position(F.col("__dots"), score) - 1)
            .cast("int")
            .alias("cell"),
            score.alias("score"),
        )
    )
    if round_digits is not None:
        out = out.withColumn("score", F.round("score", round_digits))
    return out


#: fixed-point scales for k-means: vector components and squared
#: distances are scaled to integers so every aggregation is associative
#: (partitioning-independent) — same discipline as operators.graph
_KM_VSCALE = 1_000_000_000  # 1e9 on components
_KM_DSCALE = 1_000_000_000_000  # 1e12 on squared-distance terms


def kmeans_refine(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    key: str = "vec_id",
    num_cells: int = 8,
    dim: int = 64,
    n_iter: int = 2,
) -> DataFrame:
    """Lloyd's k-means refinement of the IVF coarse quantizer: start from
    the deterministic :func:`ivf_assign` cells, then ``n_iter`` rounds of
    (per-cell per-dimension mean) → (re-assign each vector to the
    nearest learned centroid, squared Euclidean, ties to the lowest
    cell).

    Everything runs in *long format* — ``(id, dim, value)`` rows — so
    both the centroid means and the distance sums are plain hash
    aggregates (no array rebuilding, no UDFs), and the same relational
    plan is expressible in any SQL engine, which is how the operator
    stays value-checkable.  Components and distance terms ride
    fixed-point integer scaling: double addition is not associative, and
    an unordered shuffle sum would otherwise make the centroids (hence
    the assignment at decision boundaries) partitioning-dependent.

    Scale shape per iteration: one shuffle of ``rows × dim`` long-format
    rows on ``cell,dim`` (centroid means — ``cells × dim`` output rows),
    one broadcast of the centroids into the ``dim``-join, one shuffle on
    ``(id, cell)`` for the distance sums.  The ``rows × dim × cells``
    intermediate never materializes beyond the aggregation's partial
    buffers.

    Returns ``(key, cell, dist2_scaled)`` — the final assignment and its
    scaled squared distance.
    """
    v = df.select(
        F.col(key), F.posexplode(F.col(vec_col)).alias("__dim", "__raw")
    ).select(
        F.col(key),
        "__dim",
        F.col("__raw").cast("double").alias("__val"),
        F.round(F.col("__raw").cast("double") * _KM_VSCALE)
        .cast("long")
        .alias("__vs"),
    # the long-format explode is loop-invariant and consumed twice per
    # iteration (centroid means + distance sums): materialize it once
    # instead of re-exploding the corpus 2·n_iter times
    ).localCheckpoint(eager=False)
    assign = ivf_assign(
        df, vec_col=vec_col, key=key, num_cells=num_cells, dim=dim
    ).select(F.col(key), "cell")

    for _ in range(n_iter):
        cent = (
            v.join(assign, key)
            .groupBy("cell", "__dim")
            .agg(
                (
                    F.sum("__vs").cast("double")
                    / F.count(F.lit(1))
                    / F.lit(float(_KM_VSCALE))
                ).alias("__mean")
            )
        )
        diff = F.col("__val") - F.col("__mean")
        dist = (
            v.join(F.broadcast(cent), "__dim")
            .select(
                F.col(key),
                "cell",
                F.round(diff * diff * _KM_DSCALE).cast("long").alias("__t"),
            )
            .groupBy(key, "cell")
            .agg(F.sum("__t").alias("dist2_scaled"))
        )
        assign = (
            dist.groupBy(key)
            .agg(
                F.min(F.struct("dist2_scaled", "cell")).alias("__b")
            )
            .select(
                F.col(key),
                F.col("__b.cell").alias("cell"),
                F.col("__b.dist2_scaled").alias("dist2_scaled"),
            )
            .localCheckpoint(eager=False)
        )
    return assign


#: process-level cache of bucketed-corpus ANN indexes, keyed by
#: (session, corpus plan semantic hash, vec_col, key, planes, dim)
_ANN_INDEX_CACHE: dict[tuple, DataFrame] = {}


def ann_index(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    key: str = "vec_id",
    num_planes: int = 8,
    dim: int = 64,
    cache: bool = True,
) -> DataFrame:
    """Build (or fetch) the LSH index of a corpus: each vector tagged with
    its :func:`hyperplane_bucket` id, persisted MEMORY_AND_DISK.

    An ANN index exists to amortize: the bucket assignment is a full pass
    over the corpus, the lookups that follow touch one bucket per probe.
    Keyed by the corpus plan's semantic hash, so the same logical corpus
    (however the DataFrame object was re-derived) reuses the same
    materialized index — the process-level analogue of a vector DB
    keeping its IVF lists resident.  At 100 TB the persisted index is the
    thing you'd write to a bucketed table instead (see docs/SCALE.md).
    """
    planes = lsh_planes(num_planes, dim)

    def build() -> DataFrame:
        return spread(corpus).select(
            F.col(key).alias("neighbor_id"),
            F.col(vec_col).alias("__cv"),
            hyperplane_bucket(F.col(vec_col), planes).alias("__b"),
        )

    if not cache:
        return build()
    from pyspark.storagelevel import StorageLevel

    k = (
        id(corpus.sparkSession._jsparkSession),
        corpus._jdf.queryExecution().analyzed().semanticHash(),
        vec_col,
        key,
        num_planes,
        dim,
    )
    df = _ANN_INDEX_CACHE.get(k)
    if df is None:
        df = build().persist(StorageLevel.MEMORY_AND_DISK)
        _ANN_INDEX_CACHE[k] = df
    return df


def clear_ann_index_cache() -> None:
    """Unpersist and drop every cached ANN index."""
    for k, df in list(_ANN_INDEX_CACHE.items()):
        try:
            df.unpersist()
        except Exception:
            pass
        del _ANN_INDEX_CACHE[k]


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    key: str = "vec_id",
    k: int = 5,
    num_planes: int = 8,
    dim: int = 64,
    multi_probe: bool = False,
    round_digits: int | None = 6,
) -> DataFrame:
    """Approximate nearest neighbors via random-hyperplane LSH bucketing.

    The 100 TB scale path for top-k search: bucket corpus and queries by
    :func:`hyperplane_bucket`, then rank by exact cosine *within* the
    shared bucket only — the candidate set per query is ``|corpus| /
    2^num_planes`` in expectation instead of ``|corpus|``.  The bucket
    equi-join replaces :func:`cosine_topk`'s broadcast cross-join; recall
    is tunable via ``num_planes`` (fewer planes → bigger buckets → higher
    recall, more compute).

    ``multi_probe=True`` additionally probes every Hamming-distance-1
    bucket of each query (the query side explodes to ``1 + num_planes``
    probe buckets; the corpus stays single-bucket, so neighbors are never
    duplicated): expected candidates grow ~``(1+P)/2^P`` of the corpus
    while recall rises steeply — the standard multi-probe LSH trade, and
    still exactly reproducible (the probe set is pure bit arithmetic).

    Returns ``(query_id, neighbor_id, cos_sim, rank)`` like
    :func:`cosine_topk` — on matching buckets only.
    """
    planes = lsh_planes(num_planes, dim)
    c = ann_index(
        corpus, vec_col=vec_col, key=key, num_planes=num_planes, dim=dim
    )
    q = queries.select(
        F.col(key).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        hyperplane_bucket(F.col(vec_col), planes).alias("__b0"),
    )
    if multi_probe:
        probe_arr = F.array(
            F.col("__b0"),
            *[
                F.col("__b0").bitwiseXOR(F.lit(1 << p).cast("long"))
                for p in range(num_planes)
            ],
        )
        q = q.select(
            "query_id", "__qv", F.explode(probe_arr).alias("__b")
        )
    else:
        q = q.withColumnRenamed("__b0", "__b")
    sim = F.col("__sim")
    scored = (
        F.broadcast(q)
        .join(c, "__b")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("__sim", cosine(F.col("__qv"), F.col("__cv")))
    )
    if round_digits is not None:
        scored = scored.withColumn("__sim", F.round(sim, round_digits))
    w = Window.partitionBy("query_id").orderBy(
        sim.desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            sim.alias("cos_sim"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def embedding_dedup(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    key: str = "vec_id",
    block_col: str = "label",
    threshold: float = 0.95,
    round_digits: int | None = 6,
    max_block: int | None = None,
    mega_block: str = "star",
) -> DataFrame:
    """Embedding-cosine near-duplicate assignment: every row mapped to the
    minimum key among its cosine-neighbors (including itself).

    One-hop canonicalization over the :func:`cosine_pairs_blocked` graph —
    the embedding analogue of content fingerprint dedup (pairs above
    ``threshold`` are "the same" document in embedding space).  Full
    transitive closure needs iterative label propagation; one hop is the
    deterministic, oracle-checkable contract that already collapses the
    dominant case (tight duplicate clusters).

    ``max_block``/``mega_block`` pass through to
    :func:`cosine_pairs_blocked` — the skew guard for giant blocks.  Note
    the star policy interacts benignly with one-hop canonicalization: the
    hub is the block's *minimum* key, so every above-threshold hub
    neighbor still canonicalizes to it.

    Returns ``(key, canonical_key, n_neighbors)``.
    """
    pairs = cosine_pairs_blocked(
        df,
        vec_col=vec_col,
        key=key,
        block_col=block_col,
        threshold=threshold,
        round_digits=round_digits,
        max_block=max_block,
        mega_block=mega_block,
        # the pair graph feeds both union branches below; checkpointing
        # runs the blocked cosine join once instead of per branch
    ).localCheckpoint(eager=False)
    # undirected neighbor edges (a < b stored once → emit both directions)
    neighbors = pairs.select(
        F.col("key_a").alias(key), F.col("key_b").alias("__nb")
    ).union(
        pairs.select(F.col("key_b").alias(key), F.col("key_a").alias("__nb"))
    )
    agg = neighbors.groupBy(key).agg(
        F.min("__nb").alias("__min_nb"),
        F.count(F.lit(1)).alias("__n_nb"),
    )
    return (
        df.select(F.col(key))
        .join(agg, key, "left")
        .select(
            F.col(key),
            # explicit coalesce: engines disagree on NULL handling in LEAST
            F.least(
                F.col(key), F.coalesce(F.col("__min_nb"), F.col(key))
            ).alias(f"canonical_{key}"),
            F.coalesce(F.col("__n_nb"), F.lit(0)).cast("int").alias(
                "n_neighbors"
            ),
        )
    )


# ---------------------------------------------------------------------------
# product quantization (PQ / ADC) — the memory-side answer at 100 TB:
# a 64-float vector compresses to m small codes (here 8 codes of 4 bits'
# worth of ids), and search never touches the original floats
# ---------------------------------------------------------------------------

#: fixed-point scale for PQ distances/scores: encode argmins and ADC
#: partial dots become exact integer comparisons/sums, so results are
#: partitioning-independent and engine-exact (same discipline as k-means)
_PQ_SCALE = 1_000_000_000


def pq_codebook(
    m: int = 8, k: int = 16, subdim: int = 8
) -> list[tuple[int, int, list[float]]]:
    """Deterministic PQ codebooks: ``k`` codewords per subspace, each a
    ``subdim``-vector with md5-derived components in ``[-0.25, 0.25]``
    (4-decimal literals parse to identical doubles in every engine).

    Like :func:`lsh_planes`, the codebook is engine-independent *data*
    generated at plan-build time and embedded as literals on both sides;
    production swaps in k-means-trained codewords (see
    :func:`kmeans_refine` — the training loop is the same plan shape per
    subspace) without touching the encode/search plans.
    """
    rows = []
    for s in range(m):
        for c in range(k):
            vec = [
                round(
                    (
                        int(
                            hashlib.md5(
                                f"pq:{s}:{c}:{d}".encode()
                            ).hexdigest()[:4],
                            16,
                        )
                        / 65535.0
                        * 2.0
                        - 1.0
                    )
                    * 0.25,
                    4,
                )
                for d in range(subdim)
            ]
            rows.append((s, c, vec))
    return rows


def _codebook_df(df: DataFrame, m: int, k: int, subdim: int) -> DataFrame:
    return df.sparkSession.createDataFrame(
        pq_codebook(m, k, subdim), "subspace int, code int, cw array<double>"
    )


def _subvectors(
    df: DataFrame,
    vec_col: str,
    key_out: str,
    key: str,
    m: int,
    subdim: int,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Explode each vector into ``(key, *carry_cols, subspace, __sub)``
    slices; ``carry_cols`` ride along row-locally (no extra scan)."""
    slices = F.array(
        *[F.slice(F.col(vec_col), s * subdim + 1, subdim) for s in range(m)]
    )
    return df.select(
        F.col(key).alias(key_out),
        *[F.col(c) for c in carry_cols],
        F.posexplode(slices).alias("subspace", "__sub"),
    )


def pq_encode(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    key: str = "vec_id",
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Product-quantize vectors: per subspace, the id of the nearest
    codeword (squared Euclidean, fixed-point, ties to the lowest id).
    ``carry_cols`` are row-local columns of ``df`` (functionally
    dependent on ``key``, e.g. an IVF cell id) carried through the
    encode so callers never need a corpus-sized self-join to reattach
    them.

    Returns long-format ``(key, subspace, code)`` — ``m`` rows per
    vector, each code in ``[0, k)``.  At 100 TB this is the stored
    index: ``m`` small ints instead of ``dim`` floats (16× smaller at
    the defaults), and it never shuffles during search — only the tiny
    distance table moves.

    Plan shape: slice (row-local) → broadcast join with the ``m·k``-row
    codebook → per-``(key, subspace)`` struct-min.  The squared distance
    folds in fixed element order and is scaled to integer before the
    argmin, so the chosen code is bit-stable across engines and
    partitionings.  (A fully row-local variant — codebook as literals,
    argmin as array expressions — was benchmarked 3.5× SLOWER: 128
    higher-order-function evaluations per row run interpreted, while
    this shape stays inside whole-stage codegen; the argmin shuffle
    carries only ``m`` small ints per vector.)
    """
    subdim = dim // m
    cb = _codebook_df(df, m, k, subdim)
    subs = _subvectors(df, vec_col, key, key, m, subdim, carry_cols)
    d2 = F.aggregate(
        F.zip_with(
            F.col("__sub"),
            F.col("cw"),
            lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cand = F.struct(
        F.round(d2 * _PQ_SCALE).cast("long").alias("d"),
        F.col("code").alias("c"),
    )
    return (
        subs.join(F.broadcast(cb), "subspace")
        .select(
            F.col(key), *carry_cols, "subspace", cand.alias("__cand")
        )
        .groupBy(key, *carry_cols, "subspace")
        .agg(F.min("__cand").alias("__b"))
        .select(
            F.col(key), *carry_cols, "subspace",
            F.col("__b.c").alias("code"),
        )
    )


def pq_search(
    queries: DataFrame,
    codes: DataFrame,
    *,
    vec_col: str = "embedding",
    query_key: str = "query_id",
    key: str = "vec_id",
    m: int = 8,
    k: int = 16,
    dim: int = 64,
    topk: int = 5,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over a PQ-encoded corpus.

    The classic PQ search split: per query, precompute the ``m × k``
    table of partial dot products between the query's subvectors and
    every codeword; a corpus vector's score is then just ``m`` table
    lookups summed — the corpus floats are never read.

    Plan shape: the distance table (``|queries| · m · k`` rows — KBs) is
    a broadcast build side; the probe side is the long-format code
    index, whose lookup join is map-side only.  The per-``(query, vec)``
    sum rides fixed-point longs (associative → partitioning-independent)
    and partial-aggregates map-side before the single shuffle on the
    pair key; the final top-k is a per-query window.

    Returns ``(query_key, key, rank, score)``.
    """
    subdim = dim // m
    cb = _codebook_df(queries, m, k, subdim)
    qsubs = _subvectors(queries, vec_col, query_key, key, m, subdim)
    partial = F.aggregate(
        F.zip_with(
            F.col("__sub"),
            F.col("cw"),
            lambda x, c: x.cast("double") * c,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    dtable = qsubs.join(F.broadcast(cb), "subspace").select(
        F.col(query_key),
        "subspace",
        "code",
        F.round(partial * _PQ_SCALE).cast("long").alias("__p"),
    )
    scored = (
        codes.join(F.broadcast(dtable), ["subspace", "code"])
        .groupBy(query_key, key)
        .agg(F.sum("__p").alias("__s"))
    )
    w = Window.partitionBy(query_key).orderBy(
        F.col("__s").desc(), F.col(key)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            F.col(query_key),
            F.col(key),
            "rank",
            (F.col("__s") / F.lit(float(_PQ_SCALE))).alias("score"),
        )
    )


# ---------------------------------------------------------------------------
# scalar (int8) quantization — 4× smaller vectors, exact integer dot
# products at search time
# ---------------------------------------------------------------------------

def sq_encode(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    key: str = "vec_id",
) -> DataFrame:
    """Symmetric int8 scalar quantization: per-vector max-abs scale,
    each component rounded to ``[-127, 127]``.

    Row-local JVM expressions only.  The max is order-independent and
    the per-component round is deterministic IEEE arithmetic, so codes
    are engine-exact.  Zero vectors encode as all-zero codes with scale
    0.

    Returns ``(key, scale, codes array<int>)`` — 4× smaller than
    float32, and dot products over codes are *exact integer* sums (see
    :func:`sq_search`), immune to float summation order.
    """
    amax = F.array_max(
        F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double")))
    )
    return (
        df.select(
            F.col(key),
            F.col(vec_col).alias("__v"),
            (amax / 127.0).alias("scale"),
        )
        .select(
            F.col(key),
            F.col("scale"),
            F.transform(
                F.col("__v"),
                lambda x: F.when(F.col("scale") == 0, F.lit(0))
                .otherwise(F.round(x.cast("double") / F.col("scale")))
                .cast("int"),
            ).alias("codes"),
        )
    )


def sq_search(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    query_key: str = "query_id",
    key: str = "vec_id",
    topk: int = 5,
) -> DataFrame:
    """Top-k dot-product search over int8-quantized vectors.

    Both sides are :func:`sq_encode`-compressed; the pair score is
    ``(Σ code_q·code_x) · scale_q · scale_x`` — the integer sum is exact
    and associative (partitioning-independent by construction), and the
    two scale multiplies are deterministic per-row IEEE ops.  The query
    side broadcasts (it is KBs against a 100 TB corpus); the corpus is
    scanned once with zero shuffle before the per-query top-k window.

    Returns ``(query_key, key, rank, score)``.
    """
    q = sq_encode(queries, vec_col=vec_col, key=key).select(
        F.col(key).alias(query_key),
        F.col("scale").alias("__qs"),
        F.col("codes").alias("__qc"),
    )
    x = sq_encode(corpus, vec_col=vec_col, key=key).select(
        F.col(key), F.col("scale").alias("__xs"), F.col("codes").alias("__xc")
    )
    dot_int = F.aggregate(
        F.zip_with(
            F.col("__qc"),
            F.col("__xc"),
            lambda a, b: (a * b).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy(query_key).orderBy(
        F.col("score").desc(), F.col(key)
    )
    return (
        x.crossJoin(F.broadcast(q))
        .select(
            F.col(query_key),
            F.col(key),
            (dot_int * F.col("__qs") * F.col("__xs")).alias("score"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(query_key, key, "rank", "score")
    )


def ivfpq_search(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    query_key: str = "query_id",
    key: str = "vec_id",
    num_cells: int = 8,
    m: int = 8,
    k_codes: int = 16,
    dim: int = 64,
    topk: int = 5,
) -> DataFrame:
    """IVF-PQ search end to end — the production ANN index shape
    (FAISS ``IVFx,PQy``): a coarse quantizer routes each vector to a
    cell (inverted list), the corpus stores only PQ codes per cell, and
    a query ADC-scans just its own cell's codes (``nprobe=1``; probing
    neighbor cells is the recall knob, same plan shape).

    Composition of :func:`ivf_assign` (row-local cell routing) and
    :func:`pq_encode`/ADC scoring: the per-query distance table joins
    the code index on ``(cell, subspace, code)`` — the cell key prunes
    the scan to the inverted list, the code key makes scoring a lookup.
    Everything that grows with the corpus is 2+m small ints per vector;
    scores are fixed-point sums (partitioning-independent).

    Returns ``(query_key, key, rank, score)``.
    """
    subdim = dim // m
    qcells = ivf_assign(
        queries, vec_col=vec_col, key=key, num_cells=num_cells, dim=dim
    ).select(F.col(key).alias(query_key), "cell")
    # fused corpus projection: the coarse-cell assignment is row-local,
    # so compute it in the SAME scan as the PQ slices and carry it
    # through the encode — the previous pq_encode(corpus).join(
    # ivf_assign(corpus), key) shape paid a second corpus scan plus a
    # corpus-wide shuffle join just to reattach a column that is a pure
    # function of the row.
    xfused = corpus.select(
        F.col(key), F.col(vec_col), _ivf_dots(vec_col, num_cells, dim)
        .alias("__dots")
    ).select(
        F.col(key),
        F.col(vec_col),
        (F.array_position(F.col("__dots"), F.array_max("__dots")) - 1)
        .cast("int")
        .alias("cell"),
    )
    codes = pq_encode(
        xfused, vec_col=vec_col, key=key, m=m, k=k_codes, dim=dim,
        carry_cols=("cell",),
    )

    cb = _codebook_df(queries, m, k_codes, subdim)
    qsubs = _subvectors(queries, vec_col, query_key, key, m, subdim)
    partial = F.aggregate(
        F.zip_with(
            F.col("__sub"), F.col("cw"), lambda x, c: x.cast("double") * c
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    dtable = (
        qsubs.join(F.broadcast(cb), "subspace")
        .select(
            F.col(query_key),
            "subspace",
            "code",
            F.round(partial * _PQ_SCALE).cast("long").alias("__p"),
        )
        .join(qcells, query_key)
    )
    scored = (
        codes.join(F.broadcast(dtable), ["cell", "subspace", "code"])
        .groupBy(query_key, key)
        .agg(F.sum("__p").alias("__s"))
    )
    w = Window.partitionBy(query_key).orderBy(
        F.col("__s").desc(), F.col(key)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select(
            F.col(query_key),
            F.col(key),
            "rank",
            (F.col("__s") / F.lit(float(_PQ_SCALE))).alias("score"),
        )
    )


def prefix_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    key: str = "vec_id",
    prefix_dim: int = 16,
    shortlist: int = 50,
    k: int = 5,
    round_digits: int | None = 6,
) -> DataFrame:
    """Two-phase coarse→exact search (the Matryoshka / truncated-dim
    pattern): phase 1 scores every corpus vector with a CHEAP dot
    product over only the first ``prefix_dim`` dimensions and keeps a
    per-query ``shortlist``; phase 2 computes the exact full-dimension
    cosine ONLY on the shortlist and ranks the final top-``k``.

    Why it scales: the full-width vectors are read once but the O(|Q|·|C|)
    score work drops by dims/prefix_dim (4× here), and the expensive exact
    cosine touches ``shortlist × |Q|`` rows instead of the corpus.  With
    prefix-truncation-trained embeddings the shortlist recall is near 1;
    the operator is exact GIVEN the shortlist, and both phases round
    before ranking so the result is engine- and partitioning-stable.

    Plan shape: queries broadcast in both phases, zero corpus shuffle in
    phase 1; phase 2 joins the shortlist (key-only) back to the corpus on
    the vector key — the only exchange of vector payloads is
    |shortlist|-bounded.

    Returns ``(query_id, neighbor_id, cos_sim, rank)``.
    """
    q = queries.select(
        F.col(key).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.slice(F.col(vec_col), 1, prefix_dim).alias("__qp"),
    )
    c1 = spread(corpus).select(
        F.col(key).alias("neighbor_id"),
        F.slice(F.col(vec_col), 1, prefix_dim).alias("__cp"),
    )
    coarse = F.round(_dot(F.col("__qp"), F.col("__cp")), round_digits)
    wshort = Window.partitionBy("query_id").orderBy(
        F.col("__coarse").desc(), F.col("neighbor_id").asc()
    )
    short = (
        F.broadcast(q.select("query_id", "__qp"))
        .crossJoin(c1)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("__coarse", coarse)
        .withColumn("__srank", F.row_number().over(wshort))
        .filter(F.col("__srank") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    cv = corpus.select(
        F.col(key).alias("neighbor_id"), F.col(vec_col).alias("__cv")
    )
    exact = F.round(
        cosine(F.col("__qv"), F.col("__cv")), round_digits
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        short.join(cv, "neighbor_id")
        .join(F.broadcast(q.select("query_id", "__qv")), "query_id")
        .withColumn("cos_sim", exact)
        .withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "cos_sim",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def knn_join_blocked(
    df: DataFrame,
    *,
    k: int = 3,
    vec_col: str = "embedding",
    key: str = "vec_id",
    block_col: str = "label",
    round_digits: int = 6,
    max_block: int | None = None,
) -> DataFrame:
    """Full k-nearest-neighbor JOIN (every vector → its k nearest),
    blocked by a coarse cell — the all-pairs sibling of
    :func:`cosine_topk` (which serves a query set) and the ranked
    sibling of :func:`cosine_pairs_blocked` (which thresholds).  The
    self-join runs only within the block (cells are the only shuffle
    key; payload vectors ride along once), and the per-vector top-k is
    one window over the vector's OWN candidate list — bounded by the
    block size, never the corpus.  Ranking happens on the ROUNDED
    cosine with the neighbor key as tie-break, so the order is
    bit-stable across engines.

    ``max_block`` guards the mega-cell explosion (the same
    boilerplate-bucket problem :func:`cosine_pairs_blocked` caps): a
    cell of ``m`` vectors yields ``m(m-1)`` candidate pairs.  Unlike
    the pairs op, every LEFT vector must keep its k neighbors, so the
    cap thins the NEIGHBOR side: cells over the cap keep a
    DETERMINISTIC hash-selected subset (``xxhash64(id) % ceil(m/cap)
    == 0``) with expected size ``max_block`` — candidate volume
    becomes ``m × max_block`` (linear in the cell) and the
    within-mega-cell top-k turns approximate-over-a-deterministic-
    subset, the standard IVF answer (probe a bounded candidate list).
    The thinning is ROW-LOCAL given a tiny per-cell count broadcast
    (exactly :func:`cosine_pairs_blocked`'s cap shape): no sort, no
    extra exchange, and the join keeps its uncapped physical plan —
    a windowed rank prune was measured 3.7× slower at sf0.1 because
    its pre-join shuffle let AQE coalesce the pair expansion onto one
    task."""
    from pyspark.sql import Window

    from table_streaming_source_spark.operators.hof import spread

    df = spread(df)
    a = df.select(
        F.col(block_col).alias("__blk"),
        F.col(key).alias(key),
        F.col(vec_col).alias("__va"),
    )
    b = df.select(
        F.col(block_col).alias("__blk"),
        F.col(key).alias("neighbor_id"),
        F.col(vec_col).alias("__vb"),
    )
    if max_block is not None:
        stats = b.groupBy("__blk").agg(F.count(F.lit(1)).alias("__m"))
        keep = (F.col("__m") <= max_block) | (
            F.pmod(
                F.xxhash64("neighbor_id"),
                F.ceil(F.col("__m") / max_block).cast("long"),
            )
            == 0
        )
        b = (
            b.join(F.broadcast(stats), "__blk")
            .filter(keep)
            .drop("__m")
        )
    sim = F.round(cosine(F.col("__va"), F.col("__vb")), round_digits)
    w = Window.partitionBy(key).orderBy(
        F.desc("cos_sim"), F.col("neighbor_id")
    )
    return (
        a.join(b, "__blk")
        .filter(F.col(key) != F.col("neighbor_id"))
        .withColumn("cos_sim", sim)
        .withColumn("knn_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("knn_rank") <= k)
        .select(key, "neighbor_id", "knn_rank", "cos_sim")
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    vec_col: str = "embedding",
    key: str = "vec_id",
    k_candidates: int = 12,
    k_select: int = 4,
    lam: float = 0.7,
    round_digits: int = 6,
) -> DataFrame:
    """Maximal Marginal Relevance rerank (Carbonell & Goldstein 1998):
    from each query's top-``k_candidates`` relevance list, greedily pick
    ``k_select`` results maximizing ``λ·rel − (1−λ)·max_sim_to_selected``
    — the diversity-aware serving step after ANN retrieval.

    Scale shape: the expensive part is candidate GENERATION, which is
    whatever retrieval op feeds this (here :func:`cosine_topk`); the MMR
    iterations themselves touch only the candidate lists (``k²`` pair
    sims per query, all bounded by ``k_candidates``) — the greedy loop
    is ``k_select`` dataframe steps whose joins never see the corpus.
    Determinism: relevance and pair sims are ROUNDED before ranking and
    every argmax tie-breaks on the candidate id."""
    # loop-invariant inputs materialize ONCE (the kmeans/graph loop
    # discipline): cand and ps are bounded by queries × k_candidates,
    # and without the checkpoint every greedy step would re-derive the
    # corpus-wide candidate generation through its growing lineage
    cand = (
        cosine_topk(
            corpus,
            queries,
            vec_col=vec_col,
            key=key,
            k=k_candidates,
            round_digits=round_digits,
        )
        .select(
            "query_id",
            F.col("neighbor_id").alias("cand_id"),
            F.col("cos_sim").alias("rel"),
        )
        .localCheckpoint(eager=True)
    )
    vecs = corpus.select(
        F.col(key).alias("cand_id"), F.col(vec_col).alias("__v")
    )
    cv = cand.join(vecs, "cand_id")
    a = cv.select(
        "query_id",
        F.col("cand_id").alias("ca"),
        F.col("__v").alias("__va"),
    )
    b = cv.select(
        "query_id",
        F.col("cand_id").alias("cb"),
        F.col("__v").alias("__vb"),
    )
    ps = (
        a.join(b, "query_id")
        .filter(F.col("ca") != F.col("cb"))
        .select(
            "query_id",
            "ca",
            "cb",
            F.round(
                cosine(F.col("__va"), F.col("__vb")), round_digits
            ).alias("sim"),
        )
        .localCheckpoint(eager=True)
    )
    w_rel = Window.partitionBy("query_id").orderBy(
        F.desc("rel"), F.col("cand_id")
    )
    selected = (
        cand.withColumn("__rn", F.row_number().over(w_rel))
        .filter(F.col("__rn") == 1)
        .select(
            "query_id", "cand_id", "rel", F.lit(1).alias("mmr_rank")
        )
    )
    for step in range(2, k_select + 1):
        sel_ids = selected.select("query_id", "cand_id")
        remaining = cand.join(
            sel_ids, ["query_id", "cand_id"], "left_anti"
        )
        pen = (
            ps.join(
                sel_ids.select(
                    "query_id", F.col("cand_id").alias("cb")
                ),
                ["query_id", "cb"],
            )
            .groupBy("query_id", F.col("ca").alias("cand_id"))
            .agg(F.max("sim").alias("__pen"))
        )
        score = F.round(
            F.lit(lam) * F.col("rel")
            - F.lit(1.0 - lam) * F.col("__pen"),
            9,
        )
        w_sc = Window.partitionBy("query_id").orderBy(
            score.desc(), F.col("cand_id")
        )
        pick = (
            remaining.join(pen, ["query_id", "cand_id"])
            .withColumn("__rn", F.row_number().over(w_sc))
            .filter(F.col("__rn") == 1)
            .select(
                "query_id",
                "cand_id",
                "rel",
                F.lit(step).alias("mmr_rank"),
            )
        )
        # selected is referenced by BOTH the anti-join and the penalty
        # join next step — pin it so lineage doesn't double per pick
        selected = selected.unionByName(pick).localCheckpoint(eager=True)
    return selected.select(
        "query_id",
        "cand_id",
        F.col("mmr_rank").cast("int").alias("mmr_rank"),
        "rel",
    )


def pca_power_iteration(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    key: str = "vec_id",
    dim: int = 64,
    iterations: int = 4,
    round_digits: int = 9,
) -> DataFrame:
    """Dominant principal direction of the (uncentered) second-moment
    matrix via POWER ITERATION — the learned-projection primitive
    (whitening, dimensionality reduction, OPQ-style rotations) done as
    pure DataFrame algebra: the Gram matrix ``C = Σ x xᵀ / n`` builds
    from ROW-LOCAL outer products (each vector expands to its d²
    products in place — the only shuffle is the (i, j) aggregate, d²
    cells regardless of corpus size), and each iteration is one
    broadcast matrix-vector product over the d²-row C table.

    Determinism discipline: every float product rounds at
    ``round_digits`` and sums on the DECIMAL path (associative), each
    iterate renormalizes with the norm rounded the same way, so the
    final loadings are bit-stable across engines and partitionings.
    The sign convention fixes ``v[1] ≥ 0`` (power iteration is
    sign-ambiguous).  Returns ``(i, loading)`` for i in 1..dim."""
    prods = df.select(
        F.explode(
            F.expr(
                f"flatten(transform({vec_col}, (xi, i) ->"
                f" transform({vec_col}, (xj, j) ->"
                f" struct(i + 1 AS i, j + 1 AS j,"
                f" round(cast(xi AS DOUBLE) * cast(xj AS DOUBLE),"
                f" {round_digits}) AS p))))"
            )
        ).alias("__c")
    ).select("__c.i", "__c.j", F.col("__c.p").cast("decimal(28,9)").alias("p"))
    n = df.count()
    cmat = (
        prods.groupBy("i", "j")
        .agg(
            F.round(F.sum("p").cast("double") / F.lit(n), round_digits)
            .alias("c")
        )
        .localCheckpoint(eager=True)
    )
    spark = df.sparkSession
    import math

    v0 = round(1.0 / math.sqrt(dim), round_digits)
    v = spark.createDataFrame(
        [(j, v0) for j in range(1, dim + 1)], ["j", "v"]
    )
    for _ in range(iterations):
        # c and v are 9-digit decimals, so c·v is EXACTLY an 18-digit
        # decimal — cast straight to DECIMAL(38,18), never round the
        # double product: c·0.125 lands systematically ON 9-digit half
        # boundaries where engine double-rounding implementations
        # disagree (found by the first-iteration parity sweep)
        w = (
            cmat.join(F.broadcast(v), "j")
            .select(
                "i",
                (F.col("c") * F.col("v"))
                .cast("decimal(38,18)")
                .alias("__t"),
            )
            .groupBy("i")
            .agg(F.sum("__t").cast("double").alias("w"))
        )
        norm = w.select(
            F.round(
                F.sqrt(
                    F.sum(
                        F.round(F.col("w") * F.col("w"), round_digits)
                        .cast("decimal(28,9)")
                    ).cast("double")
                ),
                round_digits,
            ).alias("__n")
        )
        v = (
            w.crossJoin(F.broadcast(norm))
            .select(
                F.col("i").alias("j"),
                F.round(F.col("w") / F.col("__n"), round_digits).alias(
                    "v"
                ),
            )
            .localCheckpoint(eager=True)
        )
    sign = v.filter(F.col("j") == 1).select(
        F.when(F.col("v") < 0, -1.0).otherwise(1.0).alias("__s")
    )
    return (
        v.crossJoin(F.broadcast(sign))
        .select(
            F.col("j").cast("int").alias("i"),
            F.round(F.col("v") * F.col("__s"), round_digits).alias(
                "loading"
            ),
        )
    )


def nn_descent_round(
    df: DataFrame,
    *,
    k: int = 3,
    vec_col: str = "embedding",
    key: str = "vec_id",
    blockings: "tuple[str, ...]" = ("label",),
    round_digits: int = 6,
    max_block: int | None = None,
) -> DataFrame:
    """One NN-descent refinement round (Dong et al. 2011) over a
    multi-blocking-seeded kNN graph — the graph-based ANN family's
    answer to "my LSH/IVF cells miss cross-cell neighbors": seed a
    directed kNN graph from SEVERAL independent coarse blockings
    (:func:`knn_join_blocked` per blocking), then let every vector
    consider its neighbors' neighbors — two hops cross blockings, so
    the refined graph reaches candidates no single cell contains.

    Determinism: candidate generation is pure set algebra over the
    seeded edges; scoring reuses the ROUNDED cosine + key tie-break
    ordering, so the result is bit-stable and oracle-checkable.

    Scale shape: each seed graph is cell-bounded (the
    :func:`knn_join_blocked` guarantees, including ``max_block``);
    out-degree after seeding is ≤ |blockings|·k, so the
    neighbor-of-neighbor expansion is ≤ (|blockings|·k)² candidates
    PER VECTOR — linear in the corpus, independent of cell sizes.
    The only shuffles are the seed cells, the two bounded hop joins,
    and the vector lookups on the candidate keys."""
    from pyspark.sql import Window

    base = None
    for blk in blockings:
        g = knn_join_blocked(
            df,
            k=k,
            vec_col=vec_col,
            key=key,
            block_col=blk,
            round_digits=round_digits,
            max_block=max_block,
        ).select(key, "neighbor_id", "cos_sim")
        base = g if base is None else base.unionAll(g)
    base = base.distinct()
    # the seeded graph feeds FOUR fact-scale consumers (both sides of
    # the hop self-join + the final union with the rescored candidates)
    # and each re-derivation replays every blocking's cell self-join +
    # cosine pass — pin once (guide §2.4, the round-15/16 multi-consumer
    # pattern).
    base = base.localCheckpoint(eager=False)
    edges = base.select(F.col(key).alias("u"), F.col("neighbor_id").alias("v"))
    cand = (
        edges.alias("e1")
        .join(
            edges.alias("e2"), F.col("e1.v") == F.col("e2.u")
        )
        .select(F.col("e1.u").alias("u"), F.col("e2.v").alias("w"))
        .filter(F.col("u") != F.col("w"))
        .distinct()
    )
    vecs = df.select(F.col(key).alias("__k"), F.col(vec_col).alias("__v"))
    scored = (
        cand.join(vecs, cand["u"] == vecs["__k"])
        .select("u", "w", F.col("__v").alias("__va"))
        .join(vecs, F.col("w") == vecs["__k"])
        .select(
            F.col("u").alias(key),
            F.col("w").alias("neighbor_id"),
            F.round(
                cosine(F.col("__va"), F.col("__v")), round_digits
            ).alias("cos_sim"),
        )
    )
    allp = base.unionAll(scored).distinct()
    w = Window.partitionBy(key).orderBy(
        F.desc("cos_sim"), F.col("neighbor_id")
    )
    return (
        allp.withColumn(
            "knn_rank", F.row_number().over(w).cast("int")
        )
        .filter(F.col("knn_rank") <= k)
        .select(key, "neighbor_id", "knn_rank", "cos_sim")
    )


def pq_distortion(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    key: str = "vec_id",
    m: int = 8,
    k: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Per-subspace PQ QUANTIZATION DISTORTION — the reconstruction
    MSE of the chosen (nearest) codeword per subspace, the standard
    diagnostic for whether a codebook fits the data (Jégou et al.
    2011 report exactly this curve when choosing m/k): a subspace
    whose MSE is an outlier needs more codewords or a rotation.

    The per-vector error IS the encode step's min distance, so this
    costs one broadcast codebook join + a (key, subspace) struct-min
    + one m-bounded rollup — identical plan shape to
    :func:`pq_encode`; distances integer-scaled (``_PQ_SCALE``) so
    the rollup is exact across engines."""
    subdim = dim // m
    cb = _codebook_df(df, m, k, subdim)
    subs = _subvectors(df, vec_col, key, key, m, subdim)
    d2 = F.aggregate(
        F.zip_with(
            F.col("__sub"),
            F.col("cw"),
            lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    best = (
        subs.join(F.broadcast(cb), "subspace")
        .select(
            F.col(key),
            "subspace",
            F.round(d2 * _PQ_SCALE).cast("long").alias("d"),
        )
        .groupBy(key, "subspace")
        .agg(F.min("d").alias("d"))
    )
    return best.groupBy("subspace").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.sum("d").cast("bigint").alias("sum_scaled_d2"),
    ).select(
        "subspace",
        "n_vectors",
        "sum_scaled_d2",
        F.round(
            F.col("sum_scaled_d2")
            / (F.col("n_vectors") * F.lit(float(_PQ_SCALE))),
            9,
        ).alias("mse"),
    )
