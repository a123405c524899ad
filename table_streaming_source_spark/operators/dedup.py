"""Deduplication operators: exact, fingerprint, MinHash+LSH, SimHash,
n-gram Jaccard — the LLM-data-pipeline surface (SURVEY.md §2B ⁺ rows).

Design decisions for 100 TB:

- **Portable hashing.** Every hash bottoms out in ``md5`` — identical in
  every engine (and in the DuckDB correctness oracle), deterministic
  across partitions/executors, and JVM-evaluated via ``F.md5`` (no Python
  in the hot path).  The MinHash family hashes each shingle with md5
  *once* and derives all family members by exact ``(a·x+b) mod P`` int64
  arithmetic — portable and ~``num_hashes``× cheaper than per-member
  salted digests.
- **Exact dedup** is a hash-aggregate on a digest — ``groupBy(md5(text))``
  shuffles 16-byte keys, not document bodies.  At 100 TB, shuffle bytes are
  the cost; never shuffle the payload to dedup it.
- **MinHash+LSH** replaces the quadratic all-pairs comparison with
  ``O(n·k)`` signature rows and a self-join on LSH band buckets — the
  standard shingle→minhash→band→bucket-join pipeline, entirely in
  explode/groupBy built-ins (whole-stage codegen, map-side partial aggs).
  Band buckets are the only shuffle key; huge buckets (boilerplate docs)
  are the skew risk — AQE skew-join handles moderate skew, and a bucket-size
  cap (``max_bucket``) guards the pathological case.
- **Verification joins back to shingle sets** only for candidate pairs
  (a tiny fraction of n²), computing exact Jaccard.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from table_streaming_source_spark.operators.hof import bind_once as _bind
from table_streaming_source_spark.operators.hof import spread as _spread


def exact_dedup(
    df: DataFrame,
    cols: Sequence[str],
    key: str,
) -> DataFrame:
    """Exact dedup: one canonical row id per distinct value of ``cols``.

    Returns ``(<digest>, keep_<key>, n_copies)`` — canonical = min key, so
    the result is deterministic (unlike raw ``dropDuplicates``).
    """
    digest = F.md5(F.concat_ws("\x1f", *[F.col(c) for c in cols]))
    return (
        df.groupBy(digest.alias("digest"))
        .agg(
            F.min(key).alias(f"keep_{key}"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def fingerprint(df: DataFrame, text_col: str, key: str) -> DataFrame:
    """Content fingerprint + canonical assignment per fingerprint group.

    ``fingerprint`` = md5 of the normalized text (lower, collapsed
    whitespace); ``canonical_<key>`` = min key sharing it.  This is
    content-addressed dedup — the multimodal module reuses the same idea on
    binary payloads.
    """
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    with_fp = df.select(F.col(key), F.md5(norm).alias("fingerprint"))
    from pyspark.sql import Window

    w = Window.partitionBy("fingerprint")
    return with_fp.withColumn("canonical_" + key, F.min(key).over(w))


def _shingles(text_col: str, n: int) -> "F.Column":
    """Distinct word ``n``-gram shingles of a text column (JVM-side:
    split + sequence + transform + array_distinct)."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
    )
    # docs shorter than n tokens produce NO shingles (idx would be an
    # empty/invalid sequence) rather than a bogus (n-1)-gram
    full = F.array_distinct(F.filter(grams, lambda g: F.length(g) > F.lit(0)))
    return F.when(F.size(toks) >= n, full).otherwise(
        F.array().cast("array<string>")
    )


def shingle_table(
    df: DataFrame, text_col: str, key: str, n: int = 3
) -> DataFrame:
    """Explode documents into distinct ``(key, shingle)`` rows."""
    return df.select(
        F.col(key), F.explode(_shingles(text_col, n)).alias("shingle")
    )


# Mersenne prime 2^31-1: (a·x + b) mod P stays well inside int64 for
# a < 2^5 and x < P, so both engines evaluate it exactly.
MINHASH_P = 2_147_483_647




def _shingle_ints(shingles: "F.Column") -> "F.Column":
    """One 60-bit integer per shingle: ``conv(md5[:15], 16, 10) % P``.

    md5 is computed ONCE per shingle; the ``num_hashes`` family members are
    derived from this integer with exact int64 arithmetic (16× less hashing
    than salting md5 per family member — the dominant cost at corpus
    scale).  Portable: DuckDB's ``CAST('0x' || SUBSTR(MD5(s),1,15) AS
    BIGINT) % P`` produces bit-identical values.
    """
    return F.transform(
        shingles,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
        % MINHASH_P,
    )


def _signature_from_ints(xs: "F.Column", num_hashes: int) -> "F.Column":
    """MinHash signature from pre-hashed shingle integers — evaluated
    entirely inside the row projection (whole-stage codegen, ZERO shuffle):
    ``sig[h] = min over x of ((2h+1)·x + h) mod P``.

    ``xs`` must be a *bound lambda variable* (see :func:`_bind`): an inline
    expression — even one "materialized" in its own select — would be
    re-inlined by CollapseProject and re-evaluated per family member.
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda h: F.array_min(
            F.transform(
                xs,
                lambda x: ((h * 2 + 1) * x + h) % MINHASH_P,
            )
        ),
    )


def _signature_array(shingles: "F.Column", num_hashes: int) -> "F.Column":
    """Full MinHash signature of a shingle array in one expression:
    md5→int per shingle (once, via :func:`_bind`), then the ``(a·x+b) mod
    P`` family minimum per member."""
    return _bind(
        _shingle_ints(shingles),
        lambda xs: _signature_from_ints(xs, num_hashes),
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    key: str,
    *,
    n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """MinHash signatures as ``(key, h, minhash)`` rows.

    Computed as a per-row array expression (no explode/groupBy — the naive
    formulation shuffles |docs|·|shingles|·num_hashes rows; this one
    shuffles nothing), then unpacked with posexplode.
    """
    sig = _signature_array(_shingles(text_col, n), num_hashes)
    return df.select(
        F.col(key), F.posexplode(sig).alias("h", "minhash")
    )


#: (input plan semantic hash, parameters) → verify-broadcast gate
#: decision; see minhash_lsh_pairs — corpus cardinality is
#: session-stable, so the scalar candidate-count job runs once per
#: distinct logical input.  Keyed on the analyzed plan's semantic hash,
#: NOT object identity: a re-created DataFrame over the same source
#: hits the memo (the common catalog pattern builds a fresh frame per
#: call), and a genuinely different corpus hashes differently — no
#: recycled-id aliasing.  Bounded: cleared past 256 entries.
_VERIFY_GATE_MEMO: dict = {}


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    key: str,
    *,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: Optional[int] = None,
    mega_bucket: str = "drop",
    verify_broadcast_max_keys: int = 1_000_000,
    pin_verify: bool = True,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding, verified with exact
    Jaccard.

    ``pin_verify`` localCheckpoints the candidate-shingle table so the
    verify prefilter's semi-join + candidate shingling run once instead
    of once per join leg; tests that introspect the verify plan (the
    broadcast gate's branches) pass ``False`` to keep the semi-join
    visible in the final plan.

    ``verify_broadcast_max_keys`` gates the verify prefilter's broadcast:
    the candidate pairs are counted (a scalar job over the checkpointed
    banding output, which the verify must materialize anyway) and the
    key set is broadcast ONLY when ``2 × n_candidates`` fits under the
    gate — a corpus with pathological duplication degrades to a shuffled
    semi-join instead of OOMing the executors.

    Pipeline: shingles → md5→int shingle hashes → ``(a·x+b) mod P``
    minhash signature (``num_hashes`` values) → ``bands`` bands of
    ``num_hashes/bands`` rows each, band key = md5 of the concatenated
    band slice → exact Jaccard over shingle sets for the bucket-cohabiting
    candidates → filter ``jaccard >= threshold``.

    Returns ``(key_a, key_b, jaccard)`` with ``key_a < key_b``.

    ``max_bucket`` guards the boilerplate-bucket explosion at web scale: a
    bucket of ``m`` docs expands to ``m(m-1)/2`` candidate pairs, so one
    million-doc boilerplate bucket would dominate the whole job.  Two
    policies for buckets over the cap: ``mega_bucket="drop"`` skips them
    (loses those clusters); ``mega_bucket="star"`` emits only the ``m-1``
    hub pairs (first member vs each other member) — linear in the bucket,
    and since dedup consumes pairs through transitive closure
    (:func:`connected_components`), the cluster still comes out connected.
    False hub edges are killed by the exact-Jaccard verify like any other
    candidate.

    Physical shape: shingles → hash ints → signature → band keys is ONE
    row-local expression chain, each stage bound as a lambda variable (see
    :func:`_bind`) so codegen evaluates it exactly once per document (ZERO
    shuffle); candidate generation is ONE hash aggregation on
    ``(band, band_key)`` with row-local in-bucket pair expansion — no
    self-join.  Verification semi-joins the input down to candidate
    documents *before* recomputing their shingle arrays, so the expensive
    shingling runs over the full corpus exactly once (banding) plus the
    tiny candidate set (verify); ``array_intersect`` computes exact
    Jaccard — the shingle table is never exploded or shuffled.
    """
    rows_per_band = num_hashes // bands

    def band_keys_of(sig: "F.Column") -> "F.Column":
        # 60-bit integer band keys (round 4): the banding shuffle keys on
        # (band, band_key) for docs × bands rows, so an 8-byte long in
        # place of the 32-char md5 hex string quarters that exchange at
        # corpus scale.  Same portable mapping as the shingle ints —
        # DuckDB restates it bit-identically via
        # CAST('0x' || SUBSTR(MD5(...), 1, 15) AS BIGINT).
        return F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(
                                    sig, b * rows_per_band + 1, rows_per_band
                                ),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
        )

    band_key_arr = _bind(
        _signature_array(_shingles(text_col, n), num_hashes), band_keys_of
    )
    banded = _spread(df).select(
        F.col(key), F.posexplode(band_key_arr).alias("band", "band_key")
    )

    buckets = (
        banded.groupBy("band", "band_key")
        .agg(F.array_sort(F.collect_list(key)).alias("bucket"))
        .filter(F.size("bucket") >= 2)
    )
    if max_bucket is not None and mega_bucket == "drop":
        buckets = buckets.filter(F.size("bucket") <= max_bucket)

    # all (a < b) pairs within each bucket, expanded row-locally
    arr = F.col("bucket")
    pair_arr = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(arr) - 1),
            lambda i: F.transform(
                F.sequence(F.lit(0), i - 1),
                lambda j: F.struct(
                    F.element_at(arr, (j + 1).cast("int")).alias("key_a"),
                    F.element_at(arr, (i + 1).cast("int")).alias("key_b"),
                ),
            ),
        )
    )
    if max_bucket is not None and mega_bucket == "star":
        star_arr = F.transform(
            F.sequence(F.lit(1), F.size(arr) - 1),
            lambda i: F.struct(
                F.element_at(arr, 1).alias("key_a"),
                F.element_at(arr, (i + 1).cast("int")).alias("key_b"),
            ),
        )
        pair_arr = F.when(F.size(arr) <= max_bucket, pair_arr).otherwise(
            star_arr
        )
    candidates = (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select(F.col("p.key_a").alias("key_a"), F.col("p.key_b").alias("key_b"))
        .distinct()
        # the candidate set is consumed twice (key-pruning + verify
        # join); checkpointing materializes the banding pipeline once
        # instead of once per branch — measured 2.3× faster than
        # recomputation at sf0.1 even though Spark can sometimes reuse
        # the underlying exchanges.  Lazy (eager=False): no job runs
        # until the operator's output is consumed.
        .localCheckpoint(eager=False)
    )

    # exact-Jaccard verification of candidates only: prune the corpus to
    # candidate documents first (semi-join on keys), THEN shingle just
    # those rows — at near-dup rates the verify-side shingling touches a
    # tiny fraction of the corpus.  The broadcast hint is COUNT-GATED
    # (round 4): candidate-key cardinality grows with the corpus
    # duplication rate, so it is not bounded by design — an unconditional
    # hint would bypass autoBroadcastJoinThreshold on a pathologically
    # duplicated corpus.  Counting the (already-checkpointed) candidate
    # pairs materializes work the verify join needs anyway, and the
    # scalar answer picks the plan: small → hinted broadcast semi-join
    # (the corpus side never shuffles — AQE's runtime conversion would
    # still pay the corpus map pass); large → plain shuffle semi-join,
    # which AQE skew-splits like any other join.  The decision is
    # memoized per (input plan, parameters): corpus statistics do not
    # change within a session, so repeated invocations skip the scalar
    # job (a stale entry can only flip a plan choice, never correctness).
    gate_key = (
        df.semanticHash(), text_col, key, n, num_hashes, bands, threshold,
        max_bucket, mega_bucket, verify_broadcast_max_keys,
    )
    small = _VERIFY_GATE_MEMO.get(gate_key)
    if small is None:
        small = 2 * candidates.count() <= verify_broadcast_max_keys
        if len(_VERIFY_GATE_MEMO) >= 256:
            _VERIFY_GATE_MEMO.clear()
        _VERIFY_GATE_MEMO[gate_key] = small
    cand_keys = (
        candidates.select(
            F.explode(F.array("key_a", "key_b")).alias(key)
        ).distinct()
    )
    if small:
        cand_keys = F.broadcast(cand_keys)
    cand_sh = df.join(cand_keys, key, "left_semi").select(
        F.col(key), _shingles(text_col, n).alias("__sh")
    )
    if pin_verify:
        # consumed twice (key_a leg + key_b leg): without the pin the
        # semi-join AND the candidate shingling execute once per leg —
        # the table is candidate-scale (tiny at real dup rates), the
        # recompute is corpus-scan + md5-per-shingle (round 15,
        # guide §2.4); lazy so no job runs until the verify join does
        cand_sh = cand_sh.localCheckpoint(eager=False)
    sh_a = cand_sh.select(
        F.col(key).alias("key_a"), F.col("__sh").alias("__sh_a")
    )
    sh_b = cand_sh.select(
        F.col(key).alias("key_b"), F.col("__sh").alias("__sh_b")
    )
    inter = F.size(F.array_intersect(F.col("__sh_a"), F.col("__sh_b")))
    union = (
        F.size(F.col("__sh_a")) + F.size(F.col("__sh_b")) - inter
    )
    return (
        candidates.join(sh_a, "key_a")
        .join(sh_b, "key_b")
        .select(
            "key_a",
            "key_b",
            (inter / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    key: str = "key",
    src: str = "key_a",
    dst: str = "key_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components by iterative min-label propagation — the full
    transitive closure of a near-duplicate pair graph (every member of a
    dup cluster maps to the cluster's minimum key).

    Each round every vertex takes the minimum label among itself and its
    neighbors; convergence after at most ``diameter`` rounds.  The loop is
    driver-side *control flow* (a scalar changed-count per round — never
    data collection); per-round ``localCheckpoint`` truncates the plan so
    iteration ``k`` does not re-execute rounds ``1..k-1``.  At 100 TB each
    round is one shuffle of (vertex, label) pairs joined against the edge
    list — the standard large-graph CC pattern short of GraphX/Pregel.

    Returns ``(key, component)`` with ``component`` = min key in the
    component.  Raises if not converged within ``max_iter`` (pass a larger
    bound for graphs with long chains).
    """
    # the symmetrized edge list is loop-invariant and its upstream (a
    # near-dup pair computation) is usually the expensive part — checkpoint
    # once so no propagation round re-derives it
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .localCheckpoint(eager=False)
    )

    labels = vertices.select(
        F.col(key).alias("u"), F.col(key).alias("lbl")
    ).localCheckpoint(eager=False)
    for _ in range(max_iter):
        nbr = (
            sym.join(
                labels.select(
                    F.col("u").alias("v"), F.col("lbl").alias("nlbl")
                ),
                "v",
            )
            .groupBy("u")
            .agg(F.min("nlbl").alias("nmin"))
        )
        # carry the previous label through the checkpoint so the
        # convergence count is a filter over materialized rows — no extra
        # join (and no extra shuffle) per round.  The checkpoint is LAZY:
        # the convergence count below is the action that materializes it,
        # so each round costs ONE job, not a materialize-then-count pair
        stepped = (
            labels.join(nbr, "u", "left")
            .select(
                "u",
                F.least(
                    F.col("lbl"), F.coalesce(F.col("nmin"), F.col("lbl"))
                ).alias("lbl"),
                F.col("lbl").alias("__old"),
            )
            .localCheckpoint(eager=False)
        )
        changed = stepped.filter(F.col("lbl") != F.col("__old")).count()
        labels = stepped.select("u", "lbl")
        if changed == 0:
            return labels.select(
                F.col("u").alias(key), F.col("lbl").alias("component")
            )
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def _shingle_intersections(
    df: DataFrame, text_col: str, key: str, n: int, *, ordered: bool
) -> tuple[DataFrame, DataFrame]:
    """Shared pruning scaffold for the exact set-overlap family: shingle
    each document, self-join on the shingle (only co-occurring pairs
    enter the pair space), and count intersections.  ``ordered=True``
    keeps each unordered pair once (``key_a < key_b``, the symmetric
    Jaccard shape); ``ordered=False`` keeps both directions (the
    directed containment shape).  Returns ``(inter, sizes)`` where
    ``inter`` is ``(key_a, key_b, inter)`` and ``sizes`` is the per-key
    distinct-shingle count.

    The shingle explode (split + n-gram transform + array_distinct per
    document) is consumed FOUR times downstream — both self-join sides
    plus the two size legs — so it is pinned once with a lazy
    localCheckpoint (guide §2.4 multi-consumer materialization, the
    round-15 pattern); the doc-scale ``sizes`` aggregate likewise feeds
    two broadcast legs and is pinned so the fact-scale aggregation runs
    once."""
    shingled = shingle_table(_spread(df), text_col, key, n).localCheckpoint(
        eager=False
    )
    sizes = (
        shingled.groupBy(key)
        .agg(F.count(F.lit(1)).alias("sz"))
        .localCheckpoint(eager=False)
    )
    a = shingled.select(F.col(key).alias("key_a"), "shingle")
    b = shingled.select(F.col(key).alias("key_b"), "shingle")
    pair_pred = (
        (F.col("key_a") < F.col("key_b"))
        if ordered
        else (F.col("key_a") != F.col("key_b"))
    )
    inter = (
        a.join(b, "shingle")
        .filter(pair_pred)
        .groupBy("key_a", "key_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return inter, sizes


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    key: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every pair sharing ≥1 shingle.

    The shingle equi-join prunes the n² pair space to pairs with non-zero
    intersection; at 100 TB use :func:`minhash_lsh_pairs` instead (this one
    is the exact oracle-checkable semantics).
    Returns ``(key_a, key_b, jaccard)`` with ``key_a < key_b``.
    """
    inter, sizes = _shingle_intersections(
        df, text_col, key, n, ordered=True
    )
    sz_a = sizes.select(F.col(key).alias("key_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(key).alias("key_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sz_a, "key_a")
        .join(sz_b, "key_b")
        .select(
            "key_a",
            "key_b",
            (
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    key: str,
    *,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """DIRECTED shingle containment ``|A∩B| / |A|`` — the asymmetric
    near-dup measure Jaccard misses: a short document quoted wholesale
    inside a long one has containment ≈ 1 while Jaccard ≈ |A|/|B| ≈ 0.
    This is the subset/quotation detector (boilerplate inclusions,
    doc-in-doc scrapes) a corpus-dedup pass runs beside symmetric
    Jaccard.

    Returns ordered ``(key_a, key_b, containment)`` rows meaning "A is
    ≥ threshold contained in B" — both directions are evaluated, so a
    mutual near-dup emits two rows.  Same physical shape as
    :func:`ngram_jaccard_pairs` (shingle equi-join prunes the n² space,
    only shingles/keys shuffle); at 100 TB block through MinHash-style
    banding first — containment even admits a one-sided LSH (only A's
    signature length matters).
    """
    inter, sizes = _shingle_intersections(
        df, text_col, key, n, ordered=False
    )
    sz_a = sizes.select(F.col(key).alias("key_a"), F.col("sz").alias("sz_a"))
    return (
        inter.join(sz_a, "key_a")
        .select(
            "key_a",
            "key_b",
            (F.col("inter") / F.col("sz_a")).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def simhash(
    df: DataFrame, text_col: str, key: str, *, bits: int = 60
) -> DataFrame:
    """SimHash document fingerprints (``bits``-bit, default 60 — the
    token hash is the first 15 hex chars of md5 = 60 usable bits).

    Token hash = first 16 hex chars of md5 (portable); each bit of each
    token hash votes ±1; fingerprint bit b is 1 iff the sum of votes is
    positive.  Entirely JVM-side: explode → conv(md5) → bit ops →
    groupBy(sum) → re-assemble.

    Returns ``(key, simhash)`` with the fingerprint as a bigint.
    Near-dup candidates are rows within small Hamming distance; pair
    generation over fingerprints should block on bit-bands like LSH.
    """
    toks = F.filter(
        F.array_distinct(F.split(F.col(text_col), r"\s+")),
        lambda t: F.length(t) > F.lit(0),
    )
    # 60-bit token hashes from md5 hex (conv hex→dec), one per token —
    # a row-local array; the whole fingerprint is computed without any
    # explode or shuffle (two nested folds inside whole-stage codegen).
    # The token-hash array is bound as a lambda variable so the md5 work
    # runs once per token, not once per (token, bit).
    th_arr = F.transform(
        toks,
        lambda tok: F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast(
            "long"
        ),
    )
    pow2 = F.array([F.lit(1 << i).cast("long") for i in range(bits)])

    def fingerprint_of(th):
        def bit_votes(b):
            mask = F.element_at(pow2, (b + 1).cast("int"))
            return F.aggregate(
                th,
                F.lit(0),
                lambda acc, x: acc
                + F.when(x.bitwiseAND(mask) != 0, 1).otherwise(-1),
            )

        return F.aggregate(
            F.sequence(F.lit(0), F.lit(bits - 1)),
            F.lit(0).cast("long"),
            lambda acc, b: acc
            + F.when(
                bit_votes(b) > 0, F.element_at(pow2, (b + 1).cast("int"))
            ).otherwise(F.lit(0).cast("long")),
        )

    fingerprint = _bind(th_arr, fingerprint_of)
    return _spread(df).select(F.col(key), fingerprint.alias("simhash"))


def incremental_dedup(
    history: DataFrame,
    batch: DataFrame,
    text_col: str,
    key: str,
) -> DataFrame:
    """Dedup a new ingest batch against an already-accepted corpus — the
    steady-state shape of a continuously fed training-data pipeline (the
    full-corpus dedup runs once; every later ingest only needs this).

    Two stages, both on 16-byte digests:

    1. *within-batch*: keep the minimum key per content fingerprint
       (normalized-text md5 — same normalization as :func:`fingerprint`);
    2. *against history*: drop batch fingerprints that already exist in
       the accepted corpus via a left-anti join on the digest.

    Only digests shuffle; the history side reduces to its distinct
    fingerprint set, which is the thing to persist as the pipeline's
    dedup index at 100 TB (append-only, bucketed by digest).

    Returns the surviving ``(key, fingerprint)`` rows of the batch.
    """
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    b = batch.select(F.col(key), F.md5(norm).alias("fingerprint"))
    h = history.select(F.md5(norm).alias("fingerprint")).distinct()
    from pyspark.sql import Window

    w = Window.partitionBy("fingerprint")
    within = (
        b.withColumn("__min_key", F.min(key).over(w))
        .filter(F.col(key) == F.col("__min_key"))
        .drop("__min_key")
    )
    return within.join(h, "fingerprint", "left_anti").select(key, "fingerprint")


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    key: str,
    *,
    bits: int = 60,
    bands: int = 4,
    max_hamming: int = 8,
) -> DataFrame:
    """Near-duplicate pairs by banded-Hamming LSH over :func:`simhash`
    fingerprints — the Hamming-space twin of :func:`minhash_lsh_pairs`.

    The ``bits``-bit fingerprint splits into ``bands`` equal bit-bands;
    a pair within Hamming distance ``d`` disagrees in ≤ ``d`` bit
    positions, so by pigeonhole it agrees *exactly* on at least
    ``bands − d`` bands when ``d < bands`` — and with high probability
    on ≥1 band for the d ≤ 2·bands regime this targets.  Candidates are
    the band-value equi-join (only ``(band, band_value)`` keys shuffle,
    16 bytes a row); the verify step is an exact popcount of the XOR —
    no false positives ever survive.

    At 100 TB the same mega-bucket discipline as MinHash applies: cap
    pathological band buckets (all-zero prints from empty docs,
    boilerplate-dominated corpora) with the ``max_bucket``/star policy
    before the self-join.

    Returns ``(key_a, key_b, hamming)`` with ``key_a < key_b``.
    """
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    fp = simhash(df, text_col, key, bits=bits)
    banded = fp.select(
        F.col(key),
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", b * band_bits)
                    .bitwiseAND(F.lit(mask))
                    .cast("long")
                    for b in range(bands)
                ]
            )
        ).alias("band", "bval"),
    )
    a = banded.select(
        F.col(key).alias("key_a"),
        F.col("simhash").alias("__fa"),
        "band",
        "bval",
    )
    b = banded.select(
        F.col(key).alias("key_b"),
        F.col("simhash").alias("__fb"),
        "band",
        "bval",
    )
    pairs = (
        a.join(b, ["band", "bval"])
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b", "__fa", "__fb")
        .distinct()
    )
    hamming = F.bit_count(F.col("__fa").bitwiseXOR(F.col("__fb")))
    return (
        pairs.select(
            "key_a", "key_b", hamming.cast("int").alias("hamming")
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    text_col: str,
    key: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via **prefix filtering** (the
    PPJoin-family candidate pruning): identical output to
    :func:`ngram_jaccard_pairs`, asymptotically fewer candidates.

    Each document's shingle set is sorted by global document frequency
    (rarest first, shingle text as tiebreaker — one consistent total
    order); only the first ``|x| − ⌈t·|x|⌉ + 1`` shingles (the *prefix*)
    index into the candidate join.  Completeness: ``J(x,y) ≥ t`` implies
    ``|x∩y| ≥ t·|x∪y| ≥ t·|x|``, so if the prefixes shared nothing the
    intersection would be at most ``⌈t·|x|⌉ − 1 < t·|x|`` — every true
    pair survives, which is why the exhaustive-join oracle can check
    this operator *exactly*.

    Scale: the candidate join now keys on rare shingles only — the
    frequent-shingle hot buckets that dominate the exhaustive join
    (stop-word-like shingles shared by half the corpus) never enter the
    pair space; the document-frequency ranking is one extra hash
    aggregate + broadcast-or-shuffle join on the shingle.

    Returns ``(key_a, key_b, jaccard)`` with ``key_a < key_b``.
    """
    # the shingle explode feeds the frequency agg AND the rarity join;
    # checkpoint so the explode (split + n-gram transform over every
    # document) runs once, not once per consumer.  Shingle STRINGS are
    # hashed to 64-bit ids at the explode (round 4, xxhash64 — one cheap
    # JVM-side hash per shingle) — every downstream exchange, sort, and
    # intersection then moves 8-byte longs instead of multi-word
    # strings.  Collisions would merge two shingles corpus-wide; at 10⁶
    # distinct shingles the birthday odds over 2⁶⁴ are ~10⁻⁷, and the
    # exhaustive string-based oracle would catch one.
    shingled = (
        shingle_table(_spread(df), text_col, key, n)
        .select(F.col(key), F.xxhash64("shingle").alias("shingle"))
        .localCheckpoint(eager=False)
    )
    freq = shingled.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("__df")
    )
    # Rarity ranking WITHOUT window functions (round 4: the former
    # row_number/count window pair cost a full SortExec over every
    # (key, __df, shingle) row — ~20% of the operator): group each doc's
    # (df, shingle) pairs and sort the per-doc ARRAY row-locally.  Same
    # two exchanges (join on shingle, agg on key), no wide sort, and the
    # verify-side sets fall out of the same aggregate for free.
    # The frequency attach stays a JOIN — aggregating collect_list(key)
    # per shingle would be the cheaper-looking alternative, but a
    # stop-shingle's key list is unbounded (mega-bucket) while a doc's
    # shingle array is bounded by document length; the join is the shape
    # AQE can skew-split.
    per_doc = (
        shingled.join(freq, "shingle")
        .groupBy(key)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("__df"), F.col("shingle")))
            ).alias("__arr")
        )
        .select(
            F.col(key),
            F.transform("__arr", lambda s: s["shingle"]).alias("__set"),
            F.size("__arr").alias("__sz"),
        )
        # referenced by the prefix self-join (twice) and the verify join
        # (twice); materialize the join+agg once
        .localCheckpoint(eager=False)
    )
    n_prefix = (
        F.col("__sz")
        - F.ceil(F.lit(threshold) * F.col("__sz")).cast("int")
        + 1
    )
    prefix = per_doc.select(
        F.col(key),
        F.explode(F.slice("__set", F.lit(1), n_prefix)).alias("shingle"),
    )
    cand = (
        prefix.select(F.col(key).alias("key_a"), "shingle")
        .join(prefix.select(F.col(key).alias("key_b"), "shingle"), "shingle")
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b")
        .distinct()
    )
    # verify only the candidates: per-doc shingle sets join the (small)
    # candidate pair list and the intersection is a row-local
    # array_intersect — the full shingle⋈shingle join never happens
    sets_ = per_doc
    return (
        cand.join(
            sets_.select(
                F.col(key).alias("key_a"),
                F.col("__set").alias("__sa"),
                F.col("__sz").alias("__za"),
            ),
            "key_a",
        )
        .join(
            sets_.select(
                F.col(key).alias("key_b"),
                F.col("__set").alias("__sb"),
                F.col("__sz").alias("__zb"),
            ),
            "key_b",
        )
        .select(
            "key_a",
            "key_b",
            F.size(F.array_intersect("__sa", "__sb")).alias("__i"),
            "__za",
            "__zb",
        )
        .select(
            "key_a",
            "key_b",
            (
                F.col("__i") / (F.col("__za") + F.col("__zb") - F.col("__i"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def keep_best_dedup(
    df: DataFrame, text_col: str, key: str
) -> DataFrame:
    """Canonicalization dedup: one SURVIVOR per normalized-fingerprint
    group, chosen by quality rather than by smallest key — real corpus
    dedup keeps the best copy (here: the longest raw text; normalization
    collapses case/whitespace, so group members genuinely differ), with
    the key as the deterministic tie-break.  One hash aggregate on the
    digest; ``min_by`` over a (-quality, key) struct gives the argmax
    without a second pass or a window — map-side combinable, payload
    never shuffles beyond the digest group.  Only QUALITY is negated
    (it is numeric by construction — a length), so the tie-break works
    for ANY orderable key type, string doc-ids included."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    qual = F.length(F.col(text_col)).cast("bigint")
    return (
        df.select(
            F.md5(norm).alias("fingerprint"),
            F.col(key),
            qual.alias("__q"),
        )
        .groupBy("fingerprint")
        .agg(
            F.min_by(
                F.col(key),
                F.struct((-F.col("__q")).alias("__nq"), F.col(key)),
            ).alias(f"keep_{key}"),
            F.max("__q").alias("best_len"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    text_col: str,
    key: str,
    *,
    window: int = 4,
    block_chars: int = 2,
    prefix_chars: int = 80,
    max_distance: int = 5,
) -> DataFrame:
    """Sorted-Neighborhood Method (Hernández & Stolfo 1995): sort by a
    normalized key within coarse blocks and compare each record only to
    its next ``window`` neighbors — the classic record-linkage blocking
    that needs NO pair join at all: candidates come from ``lead()``
    columns on ONE sorted window pass, so the candidate count is
    ``window × n`` by construction (contrast MinHash-LSH's
    data-dependent buckets).  Distance is Levenshtein on the first
    ``prefix_chars`` of the normalized text (the SNM sort key makes
    diverging prefixes sort apart anyway).  Blocks are the sort
    prefix's first ``block_chars`` chars — the window partition is
    bounded per block, the 100 TB sort is the only wide operation,
    exactly like any global-sort ETL step."""
    from pyspark.sql import Window

    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    base = df.select(
        F.col(key),
        norm.alias("__norm"),
        F.substring(norm, 1, block_chars).alias("__blk"),
        F.substring(norm, 1, prefix_chars).alias("__pfx"),
    )
    w = Window.partitionBy("__blk").orderBy("__norm", key)
    # materialize the lead() columns BEFORE the generator: Spark refuses
    # window expressions inside explode()
    led = base
    for off in range(1, window + 1):
        led = led.withColumn(
            f"__k{off}", F.lead(key, off).over(w)
        ).withColumn(f"__p{off}", F.lead("__pfx", off).over(w))
    cols = [
        F.struct(
            F.col(f"__k{off}").alias("kb"),
            F.col(f"__p{off}").alias("pb"),
        )
        for off in range(1, window + 1)
    ]
    pairs = (
        led.select(
            F.col(key).alias("key_a"),
            F.col("__pfx").alias("__pa"),
            F.explode(F.array(*cols)).alias("__nb"),
        )
        .filter(F.col("__nb.kb").isNotNull())
        .select(
            "key_a",
            F.col("__nb.kb").alias("key_b"),
            # banded DP (guide §1.2, the r15 precedent): the
            # thresholded form returns -1 past max_distance instead of
            # finishing the full O(len²) table; kept rows carry the
            # exact distance either way, so the output is bit-identical
            F.levenshtein(
                F.col("__pa"), F.col("__nb.pb"), max_distance
            ).alias("edit_distance"),
        )
        .filter(F.col("edit_distance") >= 0)
    )
    return pairs.select(
        "key_a", "key_b", F.col("edit_distance").cast("int").alias("edit_distance")
    )


def cdc_chunk_stats(
    df: DataFrame,
    text_col: str,
    key: str,
    *,
    divisor: int = 64,
) -> DataFrame:
    """Content-defined chunking (CDC) dedup statistics: token-level
    hash-break chunking — a chunk boundary falls AFTER every token
    whose md5-derived 60-bit hash is ``0 mod divisor`` — so expected
    chunk length is ``divisor`` tokens and boundaries RE-SYNCHRONIZE
    after insertions/deletions (the property fixed-size chunking
    lacks: an edit near a document's head shifts every later
    fixed-window chunk, but hash-break boundaries depend only on local
    content).  This is the rsync/LBFS chunking idea applied to corpus
    text: shared boilerplate regions dedup at chunk grain even when
    the surrounding document differs.

    Scale shape: tokenize + hash + break flag are row-local
    (whole-stage codegen); the chunk-id prefix sum windows PER
    DOCUMENT (bounded by document length, never corpus-global); chunk
    reassembly is one hash shuffle on ``(doc, chunk_id)``; corpus
    stats shuffle only 16-byte chunk digests.  Document bodies never
    shuffle — digests and token counts do.

    Returns ONE row: ``(n_docs, total_chunks, distinct_chunks,
    dup_instances, max_reuse, total_tokens, tokens_saved)`` where
    ``tokens_saved`` is the token count a chunk-store would not store
    again (``sum((reuse-1) * chunk_tokens)``).
    """
    from pyspark.sql import Window

    toks = F.filter(
        F.split(F.col(text_col), r"\s+"),
        lambda tk: F.length(tk) > F.lit(0),
    )
    tok = df.select(
        F.col(key).alias("__doc"),
        F.posexplode(toks).alias("pos", "tok"),
    )
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast(
        "bigint"
    )
    tok = tok.withColumn(
        "__brk", (h % F.lit(divisor) == 0).cast("int")
    )
    w = (
        Window.partitionBy("__doc")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tok = tok.withColumn(
        "__chunk",
        (F.sum("__brk").over(w) - F.col("__brk")).cast("bigint"),
    )
    chunks = tok.groupBy("__doc", "__chunk").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "tok"))
                    ),
                    lambda s: s["tok"],
                ),
                " ",
            )
        ).alias("digest"),
        F.count(F.lit(1)).cast("bigint").alias("n_tok"),
    )
    per = chunks.groupBy("digest").agg(
        F.count(F.lit(1)).cast("bigint").alias("reuse"),
        F.min("n_tok").alias("n_tok"),
    )
    return per.agg(
        F.sum("reuse").cast("bigint").alias("total_chunks"),
        F.count(F.lit(1)).cast("bigint").alias("distinct_chunks"),
        (F.sum("reuse") - F.count(F.lit(1)))
        .cast("bigint")
        .alias("dup_instances"),
        F.max("reuse").cast("bigint").alias("max_reuse"),
        F.sum(F.col("reuse") * F.col("n_tok"))
        .cast("bigint")
        .alias("total_tokens"),
        F.sum((F.col("reuse") - 1) * F.col("n_tok"))
        .cast("bigint")
        .alias("tokens_saved"),
    ).crossJoin(
        # doc count comes from the SOURCE scan (docs with >=1 token),
        # not from re-running the chunk pipeline a second time
        df.agg(
            F.sum((F.size(toks) > 0).cast("int"))
            .cast("bigint")
            .alias("n_docs")
        )
    ).select(
        "n_docs", "total_chunks", "distinct_chunks", "dup_instances",
        "max_reuse", "total_tokens", "tokens_saved",
    )
