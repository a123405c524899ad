"""Operator unit tests: extension-operator invariants (dedup, ANN,
embedding dedup) and physical-plan shape assertions (broadcast selection,
parquet pushdown, top-k strategy) — the scale-design checks SURVEY.md §6
calls for on top of the DuckDB value oracle."""

import pytest
from pyspark.sql import functions as F

from table_streaming_source_spark.io import load_table
from table_streaming_source_spark.operators import (
    ann_topk_lsh,
    cosine_topk,
    embedding_dedup,
    lsh_planes,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").filter(
        F.size(F.split(F.trim("text"), r"\s+")) >= 3
    )


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


# ---------------------------------------------------------------------------
# dedup invariants
# ---------------------------------------------------------------------------

def test_minhash_pairs_subset_of_exact_jaccard(docs):
    """Every LSH-surviving pair passes the exact-Jaccard threshold, and is
    therefore also found by the exhaustive n-gram comparison (LSH may miss
    pairs — candidate recall — but must never emit a false positive: the
    verify step recomputes exact Jaccard)."""
    lsh = {
        (r.key_a, r.key_b)
        for r in minhash_lsh_pairs(
            docs, "text", "doc_id", n=3, num_hashes=16, bands=4, threshold=0.2
        ).collect()
    }
    exact = {
        (r.key_a, r.key_b)
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", n=3, threshold=0.2
        ).collect()
    }
    assert lsh <= exact
    # the fixture's near-dups are tight (high Jaccard) → LSH should catch
    # most of them at 16×4 banding
    if exact:
        assert len(lsh) / len(exact) >= 0.5


def test_minhash_deterministic(docs):
    a = sorted(
        map(
            tuple,
            minhash_lsh_pairs(
                docs, "text", "doc_id", n=3, num_hashes=16, bands=4,
                threshold=0.2,
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            minhash_lsh_pairs(
                docs, "text", "doc_id", n=3, num_hashes=16, bands=4,
                threshold=0.2,
            ).collect(),
        )
    )
    assert a == b


def test_mega_bucket_star_keeps_clusters_connected(docs):
    """With a tiny cap, drop-mode loses over-cap buckets entirely; star-mode
    keeps linear hub edges instead.  Star pairs are still exact-Jaccard
    verified (subset of the exhaustive pair set), and every doc that the
    uncapped run connects to something stays connected in star mode."""
    kw = dict(n=3, num_hashes=16, bands=4, threshold=0.2)
    full = {
        (r.key_a, r.key_b)
        for r in minhash_lsh_pairs(docs, "text", "doc_id", **kw).collect()
    }
    star = {
        (r.key_a, r.key_b)
        for r in minhash_lsh_pairs(
            docs, "text", "doc_id", max_bucket=2, mega_bucket="star", **kw
        ).collect()
    }
    exact = {
        (r.key_a, r.key_b)
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", n=3, threshold=0.2
        ).collect()
    }
    assert star <= exact  # verify step still holds
    # no doc that had a true near-dup partner is orphaned by the cap
    def keys(pairs):
        return {k for p in pairs for k in p}
    assert keys(full) <= keys(star)


# ---------------------------------------------------------------------------
# similarity / ANN
# ---------------------------------------------------------------------------

def test_lsh_planes_deterministic_pm1():
    p1 = lsh_planes(8, 64)
    p2 = lsh_planes(8, 64)
    assert p1 == p2
    assert all(v in (-1, 1) for row in p1 for v in row)
    # not degenerate: both signs occur in every plane
    assert all(len(set(row)) == 2 for row in p1)


def test_ann_is_bucketed_brute_force(emb):
    """ANN results are exactly the brute-force ranking restricted to
    bucket-mates: every reported neighbor appears in the full ranking with
    the same similarity, and ranks are dense from 1."""
    queries = emb.filter(F.col("vec_id") < 10)
    ann = ann_topk_lsh(emb, queries, k=5, num_planes=4, dim=64).collect()
    brute = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in cosine_topk(emb, queries, k=10**9).collect()
    }
    by_q = {}
    for r in ann:
        by_q.setdefault(r.query_id, []).append(r)
        assert brute[(r.query_id, r.neighbor_id)] == pytest.approx(
            r.cos_sim, abs=1e-9
        )
    for rows in by_q.values():
        assert sorted(r.rank for r in rows) == list(range(1, len(rows) + 1))


def test_ann_recall_reasonable(emb):
    """With few planes (big buckets) LSH recall@5 against brute force
    should be substantial on the small fixture."""
    queries = emb.filter(F.col("vec_id") < 20)
    ann = ann_topk_lsh(emb, queries, k=5, num_planes=2, dim=64).collect()
    brute = cosine_topk(emb, queries, k=5).collect()
    ann_set = {(r.query_id, r.neighbor_id) for r in ann}
    brute_set = {(r.query_id, r.neighbor_id) for r in brute}
    assert len(ann_set & brute_set) / len(brute_set) >= 0.25


def test_embedding_dedup_invariants(emb):
    rows = embedding_dedup(emb, threshold=0.3).collect()
    assert len(rows) == emb.count()  # one row per input vector
    for r in rows:
        assert r.canonical_vec_id <= r.vec_id
        assert (r.n_neighbors == 0) == (r.canonical_vec_id == r.vec_id) or (
            r.n_neighbors > 0
        )


# ---------------------------------------------------------------------------
# physical plan shape (scale design assertions)
# ---------------------------------------------------------------------------

def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_flagship_broadcasts_dimensions(spark, sf_dir):
    from table_streaming_source_spark.plans.catalog import QUERIES

    plan = _plan(QUERIES["flagship_enrichment"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan  # dims broadcast, no dim shuffle


def test_filter_project_pushdown(spark, sf_dir):
    """Predicates and the pruned column set must reach the parquet scan.

    Spark's CacheManager substitutes any matching cached snapshot plan, so
    the cache is cleared first to observe the real scan; with the snapshot
    cache active the same filter/pruning applies to InMemoryTableScan
    batches instead.
    """
    from table_streaming_source_spark.io import clear_snapshot_cache

    clear_snapshot_cache(spark)
    df = (
        load_table(spark, sf_dir, "lineitem", cached=False)
        .filter(F.col("l_quantity") >= 30)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,30" in plan
    assert "l_extendedprice" not in plan  # column pruning


def test_global_topk_avoids_full_sort(spark, sf_dir):
    from table_streaming_source_spark.plans.catalog import QUERIES

    plan = _plan(QUERIES["order_limit_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # per-partition top-k + merge


def test_approx_distinct_within_error_bound(spark, sf_dir):
    """The catalog entry's oracle-checkable contract is (exact count,
    within-5% boolean); this test additionally pins the raw HLL++
    estimate (rsd 0.01, as the entry uses) against the exact count, and
    cross-checks the entry's own exact_custs column."""
    from table_streaming_source_spark.plans.catalog import QUERIES

    rows = QUERIES["agg_approx_distinct"](spark, sf_dir).collect()
    entry_exact = {r.o_orderstatus: r.exact_custs for r in rows}
    assert all(r.approx_within_5pct for r in rows), rows
    approx = {
        r.o_orderstatus: r.approx_custs
        for r in load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.approx_count_distinct("o_custkey", rsd=0.01).alias("approx_custs"))
        .collect()
    }
    exact = {
        r.o_orderstatus: r.n
        for r in load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact) == set(entry_exact)
    for k, n in exact.items():
        assert entry_exact[k] == n
        assert abs(approx[k] - n) <= max(3, 0.05 * n), (k, approx[k], n)


def test_approx_distinct_keeps_null_status_group(spark, tmp_path):
    """A NULL ``o_orderstatus`` is one group, as in a single aggregate:
    the entry joins its exact and approximate halves null-safely."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from table_streaming_source_spark.plans.relational import (
        q_agg_approx_distinct,
    )

    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([1, 2, 3, 4, 5], pa.int64()),
                "o_custkey": pa.array([10, 11, 10, 12, 13], pa.int64()),
                "o_orderstatus": pa.array(["F", None, None, "O", None]),
            }
        ),
        tmp_path / "orders.parquet",
    )
    rows = q_agg_approx_distinct(spark, str(tmp_path)).collect()
    got = sorted(
        (r.o_orderstatus or "", r.exact_custs, r.n_orders) for r in rows
    )
    assert got == [("", 3, 3), ("F", 1, 1), ("O", 1, 1)], rows
    assert all(r.approx_within_5pct for r in rows), rows


def test_corpus_prep_pipeline_two_shuffles(spark, sf_dir):
    """The composed clean→gate→dedup→pack pipeline must cost exactly two
    hash shuffles (dedup fingerprint window + pack shard window); all
    row-local stages fuse, the self-join broadcasts."""
    from table_streaming_source_spark.plans.catalog import QUERIES

    plan = _plan(QUERIES["pipeline_corpus_prep"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 2
    assert "SortMergeJoin" not in plan


def test_pagerank_invariants(spark):
    from table_streaming_source_spark.operators.graph import pagerank

    verts = spark.createDataFrame([(i,) for i in range(4)], "v long")
    # star into 3: 0 -> 1,2,3 plus a 1->2 edge
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 2)], "src long, dst long"
    )
    got = {r.v: r.pagerank for r in pagerank(verts, edges, n_iter=3).collect()}
    assert set(got) == {0, 1, 2, 3}
    assert all(r > 0 for r in got.values())
    # 0 receives nothing → floor rank; 2 is the best-fed vertex
    assert got[0] == min(got.values())
    assert got[2] == max(got.values())
    # dangling mass leaks (2 and 3 have no out-edges) → total < 1
    assert sum(got.values()) < 1.0


def test_waiting_suppliers_single_fact_shuffle(spark, sf_dir):
    """The Q21 agg-rewrite must shuffle the fact table exactly once (by
    l_orderkey, for the window) — the textbook double EXISTS self-join
    would shuffle lineitem three times.  Dimensions broadcast."""
    from table_streaming_source_spark.plans.catalog import QUERIES

    plan = _plan(QUERIES["waiting_suppliers"](spark, sf_dir))
    assert plan.count("Exchange hashpartitioning(l_orderkey") == 1
    assert "SortMergeJoin" not in plan  # no lineitem self-join


def test_snapshot_cache_returns_same_plan(spark, sf_dir):
    a = load_table(spark, sf_dir, "customer")
    b = load_table(spark, sf_dir, "customer")
    assert a is b
    assert load_table(spark, sf_dir, "customer", cached=False) is not a


def test_connected_components_closure(spark):
    from table_streaming_source_spark.operators import connected_components

    vertices = spark.createDataFrame(
        [(i,) for i in range(8)], "key long"
    )
    # chain 0-1-2-3, triangle 4-5-6 (6-4 closes it), isolated 7
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (4, 5), (5, 6), (6, 4)],
        "key_a long, key_b long",
    )
    got = {
        r.key: r.component
        for r in connected_components(vertices, edges).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 4, 7: 7}


def test_multiprobe_improves_recall(emb):
    """Hamming-1 multi-probe must dominate single-probe recall@5."""
    queries = emb.filter(F.col("vec_id") < 20)
    brute = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=5).collect()
    }

    def recall(multi):
        got = {
            (r.query_id, r.neighbor_id)
            for r in ann_topk_lsh(
                emb, queries, k=5, num_planes=8, dim=64, multi_probe=multi
            ).collect()
        }
        return len(got & brute) / len(brute)

    single, multi = recall(False), recall(True)
    assert multi >= single
    assert multi > 0


def test_incremental_dedup_two_stage(spark):
    """Within-batch min-key survival + anti-join against the accepted
    corpus: a batch doc whose normalized text already exists in history is
    dropped; duplicate texts inside the batch keep only the minimum key."""
    from table_streaming_source_spark.operators.dedup import incremental_dedup

    history = spark.createDataFrame(
        [(100, "seen before"), (101, "also   SEEN  before")],
        "doc_id int, text string",
    )
    batch = spark.createDataFrame(
        [
            (1, "Seen Before"),        # dup of history (normalization)
            (2, "fresh text"),
            (3, "fresh  TEXT "),       # in-batch dup of 2 → dropped
            (4, "unique"),
        ],
        "doc_id int, text string",
    )
    out = incremental_dedup(history, batch, "text", "doc_id")
    assert sorted(r.doc_id for r in out.collect()) == [2, 4]


def test_pq_adc_score_equals_reconstructed_dot(spark, emb):
    """The ADC score of (query, corpus vector) must equal the dot product
    of the query with the corpus vector's codebook reconstruction (up to
    the documented fixed-point rounding of each subspace partial)."""
    from table_streaming_source_spark.operators.similarity import (
        pq_codebook,
        pq_encode,
        pq_search,
        _PQ_SCALE,
    )

    queries = emb.filter(F.col("vec_id") < 3)
    corpus = emb.filter(F.col("vec_id") >= 3)
    codes = pq_encode(corpus, m=8, k=16, dim=64)
    hits = pq_search(queries, codes, m=8, k=16, dim=64, topk=3).collect()
    assert {r.query_id for r in hits} == {0, 1, 2}
    assert all(1 <= r.rank <= 3 for r in hits)

    cb = {(s, c): vec for s, c, vec in pq_codebook(8, 16, 8)}
    code_map = {}
    for r in codes.collect():
        code_map.setdefault(r.vec_id, {})[r.subspace] = r.code
    qvec = {r.vec_id: r.embedding for r in queries.collect()}
    for r in hits:
        q = qvec[r.query_id]
        expected = sum(
            round(
                sum(
                    q[s * 8 + d] * cb[(s, code_map[r.vec_id][s])][d]
                    for d in range(8)
                )
                * _PQ_SCALE
            )
            for s in range(8)
        ) / _PQ_SCALE
        assert abs(r.score - expected) < 1e-9


def test_pii_scrub_patterns(spark):
    from table_streaming_source_spark.operators.text import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@x-y.co.uk now"),
            (2, "call +1 (555) 010-1222 or 5550101222"),
            (3, "host 192.168.0.1 up"),
            (4, "a@1.2.3.4 mixed"),  # no alpha TLD: not an email, IP redacts
            (5, "clean text only"),
        ],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in pii_scrub(df, "text", "doc_id").collect()}
    assert out[1].clean_text == "mail <EMAIL> now"
    assert out[2].clean_text == "call <PHONE> or <PHONE>"
    assert out[3].clean_text == "host <IP> up"
    assert out[4].clean_text == "a@<IP> mixed"
    assert out[5].clean_text == "clean text only"
    assert out[5].n_redactions == 0
    assert out[2].n_redactions == 2


def test_chunk_dedup_first_occurrence_wins(spark):
    from table_streaming_source_spark.operators.text import chunk_dedup

    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),      # chunks: "a b c", "d e f"
            (2, "a b c x y z"),      # "a b c" duplicates doc 1's chunk
            (3, "d e f"),            # fully duplicated -> empty
        ],
        "doc_id int, text string",
    )
    out = {
        r.doc_id: r
        for r in chunk_dedup(df, "text", "doc_id", chunk_tokens=3).collect()
    }
    assert out[1].clean_text == "a b c d e f"
    assert out[2].clean_text == "x y z"
    assert out[3].clean_text == ""
    assert (out[3].n_chunks, out[3].n_kept) == (1, 0)


def test_sq_roundtrip_error_bound(spark, emb):
    """Reconstruction x' = code*scale must be within scale/2 of x per
    component (the int8 quantization contract)."""
    from table_streaming_source_spark.operators.similarity import sq_encode

    enc = sq_encode(emb.limit(20))
    joined = enc.join(emb.limit(20), "vec_id").collect()
    for r in joined:
        assert len(r.codes) == len(r.embedding)
        assert all(abs(c) <= 127 for c in r.codes)
        for c, x in zip(r.codes, r.embedding):
            assert abs(c * r.scale - x) <= r.scale / 2 + 1e-12


def test_simhash_pairs_pigeonhole_recall(spark, docs):
    """With bands=4, every pair within Hamming distance < 4 must be found
    (pigeonhole: <4 flipped bits cannot touch all 4 bands) — banded
    candidates vs the exhaustive fingerprint cross-check."""
    from itertools import combinations

    from table_streaming_source_spark.operators.dedup import (
        simhash,
        simhash_pairs,
    )

    fps = {r[0]: r[1] for r in simhash(docs, "text", "doc_id").collect()}
    exhaustive = {
        (a, b)
        for a, b in combinations(sorted(fps), 2)
        if bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    got = {
        (r.key_a, r.key_b)
        for r in simhash_pairs(
            docs, "text", "doc_id", max_hamming=3
        ).collect()
    }
    assert got == exhaustive


def test_funnel_strict_ordering(spark):
    """A purchase before the first view must not count as conversion."""
    from datetime import datetime

    from table_streaming_source_spark.operators.windows import funnel

    T = datetime
    rows = [
        # user 1: full ordered path
        (1, "view", T(2024, 1, 1)), (1, "click", T(2024, 1, 2)),
        (1, "purchase", T(2024, 1, 3)),
        # user 2: purchase precedes view -> stage 2 only
        (2, "purchase", T(2024, 1, 1)), (2, "view", T(2024, 1, 2)),
        (2, "click", T(2024, 1, 3)),
        # user 3: never viewed -> absent
        (3, "click", T(2024, 1, 1)),
        # user 4: view only
        (4, "view", T(2024, 1, 5)),
    ]
    e = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp"
    )
    out = {r.user_id: r for r in funnel(e, ["view", "click", "purchase"]).collect()}
    assert set(out) == {1, 2, 4}
    assert out[1].stage == 3
    assert out[2].stage == 2 and out[2].t_purchase is None
    assert out[4].stage == 1 and out[4].t_click is None


def test_asof_directions(spark):
    from datetime import datetime

    from table_streaming_source_spark.operators.joins import asof_join

    T = datetime
    left = spark.createDataFrame(
        [(1, T(2024, 1, 10))], "k int, lt timestamp"
    )
    right = spark.createDataFrame(
        [(1, 100, T(2024, 1, 7)), (1, 200, T(2024, 1, 12))],
        "k int, rid int, rt timestamp",
    )
    def hit(direction, **kw):
        rows = asof_join(
            left, right, on=["k"], left_time="lt", right_time="rt",
            direction=direction, how="left", **kw
        ).collect()
        assert len(rows) == 1
        return rows[0].rid

    assert hit("backward") == 100
    assert hit("forward") == 200
    assert hit("nearest") == 200          # 2 days forward beats 3 back
    assert hit("nearest", tolerance="1 day") is None  # both out of horizon
    # equidistant -> backward wins
    right2 = spark.createDataFrame(
        [(1, 100, T(2024, 1, 8)), (1, 200, T(2024, 1, 12))],
        "k int, rid int, rt timestamp",
    )
    got = asof_join(
        left, right2, on=["k"], left_time="lt", right_time="rt",
        direction="nearest",
    ).collect()
    assert got[0].rid == 100


def test_winnow_shared_run_guarantee(spark):
    """Two docs sharing a >= k+w-1 = 6-token run must share at least one
    fingerprint; disjoint-vocabulary docs share none."""
    from table_streaming_source_spark.operators.text import winnow_fingerprints

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "prefix alpha beta gamma delta epsilon zeta suffix"),
            (3, "one two three four five six seven eight"),
        ],
        "doc_id int, text string",
    )
    fps = winnow_fingerprints(df, "text", "doc_id", k=3, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2]          # shared 6-token run
    assert not (by_doc[1] & by_doc[3])    # disjoint vocab


def test_prefix_filter_equals_exhaustive(docs):
    """Prefix filtering must lose no pair: identical output to the
    exhaustive shingle join at the same threshold."""
    from table_streaming_source_spark.operators.dedup import (
        jaccard_prefix_pairs,
    )

    exhaustive = sorted(
        map(
            tuple,
            ngram_jaccard_pairs(
                docs, "text", "doc_id", n=3, threshold=0.2
            ).collect(),
        )
    )
    pruned = sorted(
        map(
            tuple,
            jaccard_prefix_pairs(
                docs, "text", "doc_id", n=3, threshold=0.2
            ).collect(),
        )
    )
    assert pruned == exhaustive


def test_decontaminate_flags_planted_overlap(spark):
    from table_streaming_source_spark.operators.text import decontaminate

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id int, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "intro words then alpha beta gamma delta and more"),
            (2, "totally different tokens here now"),
            (3, "xy"),  # < n tokens: no shingles, no row
        ],
        "doc_id int, text string",
    )
    out = {
        r.doc_id: r
        for r in decontaminate(corpus, bench, "text", "doc_id", n=3).collect()
    }
    assert set(out) == {1, 2}
    # doc 1 shares "alpha beta gamma" and "beta gamma delta"
    assert out[1].contaminated and out[1].n_overlap == 2
    assert not out[2].contaminated and out[2].n_overlap == 0


def test_mixture_sample_quotas_and_determinism(spark):
    from table_streaming_source_spark.operators.text import mixture_sample

    rows = [(i, "big" if i < 80 else "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id int, source string")
    out = mixture_sample(df, "source", "doc_id", alpha=0.5, target=20)
    pdf = out.toPandas()
    by_src = pdf.groupby("source").size().to_dict()
    # alpha < 1 upsamples the rare stratum vs proportional (80/20)
    quota = pdf.set_index("source")["quota"].to_dict()
    assert by_src == {k: int(v) for k, v in quota.items()}
    assert quota["small"] > 20 * (20 / 100) - 1  # above proportional share
    assert (pdf["rk"] <= pdf["quota"]).all()
    # deterministic across reruns
    again = mixture_sample(
        df, "source", "doc_id", alpha=0.5, target=20
    ).toPandas()
    assert sorted(again["doc_id"]) == sorted(pdf["doc_id"])


def test_vocab_coverage_monotone_and_exact(spark):
    from table_streaming_source_spark.operators.text import vocab_coverage

    df = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a b d")], "doc_id int, text string"
    )
    pdf = (
        vocab_coverage(df, "text", top_k=10)
        .toPandas()
        .sort_values("rank", ignore_index=True)
    )
    assert list(pdf["token"]) == ["a", "b", "c", "d"]
    assert list(pdf["cnt"]) == [4, 3, 1, 1]
    assert list(pdf["cum_cnt"]) == [4, 7, 8, 9]
    assert abs(pdf["coverage"].iloc[-1] - 1.0) < 1e-9
    assert pdf["coverage"].is_monotonic_increasing


def test_spread_repartitions_many_tiny_files(spark, tmp_path):
    """Many tiny files can bin-pack into few scan partitions (low
    ``openCostInBytes`` makes the packing aggressive), so spread() must
    still repartition them — file count is NOT partition count (ADVICE
    round 3)."""
    from table_streaming_source_spark.operators.hof import (
        _estimated_scan_partitions,
        spread,
    )

    src = spark.range(64).withColumnRenamed("id", "k")
    path = str(tmp_path / "tiny")
    src.repartition(32).write.mode("overwrite").parquet(path)
    old = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        # low openCost → aggressive packing: the scan reads the many tiny
        # files as ~defaultParallelism partitions, far below a target n
        # that exceeds the core count
        spark.conf.set("spark.sql.files.openCostInBytes", "0")
        df = spark.read.parquet(path)
        files = df.inputFiles()
        n = 32
        # the retired file-count probe would no-op here (files >= n//2)…
        assert len(files) >= max(2, n // 2), len(files)
        est = _estimated_scan_partitions(df, files)
        actual = df.rdd.getNumPartitions()
        assert est is not None and abs(est - actual) <= 2, (est, actual)
        # …but the scan is genuinely underparallelized for target n
        assert est < max(2, n // 2), est
        out = spread(df, n)
        assert (
            "RoundRobinPartitioning"
            in out._jdf.queryExecution().toString()
        )
    finally:
        spark.conf.set("spark.sql.files.openCostInBytes", old)


def test_spread_estimate_tracks_actual_scan_partitions(spark, tmp_path):
    """Under default confs the packed-partition estimate must track the
    real scan partitioning within ceil slack."""
    from table_streaming_source_spark.operators.hof import (
        _estimated_scan_partitions,
    )

    src = spark.range(64).withColumnRenamed("id", "k")
    path = str(tmp_path / "multi")
    src.repartition(32).write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    est = _estimated_scan_partitions(df, df.inputFiles())
    actual = df.rdd.getNumPartitions()
    assert est is not None and abs(est - actual) <= 2, (est, actual)


def test_spread_noop_on_well_split_input(spark, sf_dir):
    """An input whose estimated packed-partition count already meets the
    target must pass through with no exchange."""
    from table_streaming_source_spark.operators.hof import (
        _estimated_scan_partitions,
        spread,
    )

    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    files = df.inputFiles()
    est = _estimated_scan_partitions(df, files)
    if est is None or est < 2:
        import pytest

        pytest.skip("fixture too small to exercise the no-op branch")
    out = spread(df, max(2, est))
    assert "RoundRobinPartitioning" not in out._jdf.queryExecution().toString()


def test_size_bytes_parses_spark_conf_forms():
    from table_streaming_source_spark.operators.hof import _size_bytes

    assert _size_bytes("128MB") == 128 << 20
    assert _size_bytes("4m") == 4 << 20
    assert _size_bytes("134217728b") == 128 << 20
    assert _size_bytes("1048576") == 1 << 20
    assert _size_bytes("1g") == 1 << 30


def test_bpe_merge_fold_is_greedy_left_to_right(spark):
    """The single-pass merge fold implements BPE's greedy non-overlap
    rule: 'aaa' under merge (a,a) → [aa, a], and a symbol produced by a
    merge this round never immediately re-merges."""
    from table_streaming_source_spark.operators.text import (
        _bpe_chars,
        _bpe_merge,
    )

    df = spark.createDataFrame(
        [("aaab", "a", "a"), ("banana", "a", "n"), ("aaaa", "a", "a"),
         ("x", "x", "y")],
        "word string, a string, b string",
    )
    got = {
        r.word: r.m
        for r in df.select(
            "word",
            _bpe_merge(
                _bpe_chars(F.col("word")), F.col("a"), F.col("b")
            ).alias("m"),
        ).collect()
    }
    assert got["aaab"] == ["aa", "a", "b"]
    assert got["banana"] == ["b", "an", "an", "a"]
    assert got["aaaa"] == ["aa", "aa"]
    assert got["x"] == ["x"]


def test_bpe_train_learns_cascading_merges(spark):
    """On a corpus where 'ab' dominates and then '(ab)c' dominates, the
    trainer must cascade: round 0 merges (a,b), round 1 merges the
    *learned* symbol with c — proving rounds feed each other.  Frequency
    weighting (not distinct-word counting) is pinned by the counts."""
    from table_streaming_source_spark.operators.text import (
        bpe_train,
        bpe_word_counts,
        bpe_encode_counts,
    )

    docs = spark.createDataFrame(
        [(1, "abc abc abc abd"), (2, "abc abd zq")],
        "doc_id long, text string",
    )
    wc = bpe_word_counts(docs, "text", "doc_id")
    merges, vocab = bpe_train(wc, rounds=2)
    got = [
        (r.merge_round, r.merge_a, r.merge_b, r.cnt)
        for r in merges.orderBy("merge_round").collect()
    ]
    # (a,b) appears in every abc/abd occurrence = 6; then (ab,c) in 4
    assert got == [(0, "a", "b", 6), (1, "ab", "c", 4)]
    syms = {r.word: r.syms for r in vocab.collect()}
    assert syms["abc"] == ["abc"]
    assert syms["abd"] == ["ab", "d"]
    assert syms["zq"] == ["z", "q"]
    enc = {
        r.doc_id: (r.n_words, r.n_tokens)
        for r in bpe_encode_counts(docs, vocab, "text", "doc_id").collect()
    }
    assert enc[1] == (4, 1 + 1 + 1 + 2)   # abc abc abc abd
    assert enc[2] == (3, 1 + 2 + 2)       # abc abd zq


def test_linear_quality_training_moves_weights(spark, sf_dir):
    """The gradient loop genuinely learns: weights move off zero, the
    first step's update matches the hand-computed closed form (all p=0.5
    at w=0, so g_j = Σ(y-0.5)x_j), and accuracy is a valid rate."""
    from table_streaming_source_spark.operators.text import (
        quality_features,
        train_linear_quality,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = quality_features(docs, "text", "doc_id")
    row = train_linear_quality(feats, steps=1).head()
    import pyspark.sql.functions as SF

    agg = feats.agg(
        SF.sum(SF.round((SF.col("y") - 0.5) * SF.col("x0"), 9)
               .cast("decimal(18,9)")).cast("double").alias("g0"),
        SF.count(SF.lit(1)).alias("n"),
    ).head()
    want_w0 = round(0.0 + 0.1 * agg.g0 / agg.n, 9)
    assert row.w0 == want_w0
    assert row.n_docs == docs.count()
    assert 0.0 <= row.accuracy <= 1.0
    multi = train_linear_quality(feats, steps=3).head()
    assert (multi.w0, multi.w1, multi.w2) != (row.w0, row.w1, row.w2)


def test_triangle_counts_hand_graph(spark):
    """K4 minus one edge has exactly two triangles; vertex credits match
    incidence (the shared-edge endpoints sit in both triangles)."""
    from table_streaming_source_spark.operators.graph import triangle_counts

    edges = spark.createDataFrame(
        # K4 on {1,2,3,4} minus edge (1,4): triangles (1,2,3) and (2,3,4)
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)],
        "a int, b int",
    )
    got = {r.node: r.n_triangles for r in triangle_counts(edges).collect()}
    assert got == {1: 1, 2: 2, 3: 2, 4: 1}


def test_bpe_merge_fold_exhaustive_vs_model(spark):
    """EXHAUSTIVE check of the merge fold: every word over {a,b} up to
    length 8 (510 words) × every merge pair over {a,b}, compared against
    a reference Python implementation of BPE's greedy left-to-right
    non-overlapping merge.  One Spark job per pair."""
    from itertools import product

    from table_streaming_source_spark.operators.text import (
        _bpe_chars,
        _bpe_merge,
    )

    def model(word: str, a: str, b: str) -> list:
        out = []
        for s in word:
            if out and out[-1] == a and s == b:
                out[-1] = a + b
            else:
                out.append(s)
        return out

    words = [
        "".join(w)
        for n in range(1, 9)
        for w in product("ab", repeat=n)
    ]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    for a, b in product("ab", repeat=2):
        got = {
            r.word: r.m
            for r in df.select(
                "word",
                _bpe_merge(
                    _bpe_chars(F.col("word")), F.lit(a), F.lit(b)
                ).alias("m"),
            ).collect()
        }
        for w in words:
            assert got[w] == model(w, a, b), (w, a, b, got[w])


def test_merge_into_randomized_vs_model_with_duplicate_ops(spark):
    """Randomized MERGE check with keys drawn WITH replacement, so
    batches genuinely contain several ops for one key — the raw-CDC
    shape.  ``sequence_col`` compacts latest-wins per key; the dict
    model applies only the last-sequence op per key (which is what
    latest-wins means — NOT sequential application of every op)."""
    import random

    from table_streaming_source_spark.snapshot import merge_into

    rng = random.Random(20260814)
    tgt_rows = [
        (k, f"s{k}", float(k * 10))
        for k in rng.sample(range(200), 120)
    ]
    src_rows = [
        (
            rng.randrange(250),   # with replacement → duplicate keys
            seq,
            rng.choice("IUD"),
            f"n{seq}",
            float(seq) + 0.5,
        )
        for seq in range(300)
    ]
    target = spark.createDataFrame(tgt_rows, "k int, s string, v double")
    source = spark.createDataFrame(
        src_rows, "k int, seq int, op string, s string, v double"
    )
    n_dupes = len(src_rows) - len({k for k, *_ in src_rows})
    assert n_dupes > 50  # the duplicate-key shape is really exercised

    last = {}
    for k, seq, op, s, v in src_rows:  # seq is increasing → last wins
        last[k] = (op, s, v)
    model = {k: (s, v) for k, s, v in tgt_rows}
    for k, (op, s, v) in last.items():
        if op == "U" and k in model:
            model[k] = (s, v)
        elif op == "D" and k in model:
            del model[k]
        elif op == "I" and k not in model:
            model[k] = (s, v)
    got = {
        r.k: (r.s, r.v)
        for r in merge_into(
            target, source, key="k", sequence_col="seq"
        ).collect()
    }
    assert got == model


def test_cosine_range_threshold_and_no_ranking(spark):
    """Radius search returns exactly the above-threshold pairs, and its
    plan contains no window/sort operator (the scale property: a pure
    filter over the scored stream)."""
    from table_streaming_source_spark.operators.similarity import (
        cosine_range,
    )

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [1.0, 0.0]),     # cos=1.0 with 1
            (3, [0.0, 1.0]),     # cos=0.0 with 1
            (4, [1.0, 1.0]),     # cos≈0.7071 with 1
        ],
        "vec_id long, embedding array<double>",
    )
    out = cosine_range(
        emb, emb.filter(F.col("vec_id") == 1), threshold=0.5
    )
    got = {(r.query_id, r.neighbor_id): r.cos_sim for r in out.collect()}
    assert set(got) == {(1, 2), (1, 4)}
    assert got[(1, 2)] == 1.0 and abs(got[(1, 4)] - 0.707107) < 1e-6
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "Sort" not in plan


def test_bfs_distances_tiny_graph(spark):
    """Hand-checkable BFS: path graph 1-2-3-4-5 plus isolated 9; seeds
    {1}; max_hops=2 → only vertices within 2 hops appear, at their
    minimum distance."""
    from table_streaming_source_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (2, 1), (3, 2), (4, 3), (5, 4)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(1,)], "v long")
    got = {r.v: r.dist for r in bfs_distances(
        seeds, edges, max_hops=2).collect()}
    assert got == {1: 0, 2: 1, 3: 2}


def test_bfs_min_distance_wins_over_longer_path(spark):
    """Diamond 1→2→4 and 1→3, 3→4 plus direct 1→4: vertex 4 must report
    dist 1 (the anti-join against settled, not last-writer-wins)."""
    from table_streaming_source_spark.operators.graph import bfs_distances

    edges = spark.createDataFrame(
        [(1, 2), (2, 4), (1, 3), (3, 4), (1, 4)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "v long")
    got = {r.v: r.dist for r in bfs_distances(
        seeds, edges, max_hops=3).collect()}
    assert got == {1: 0, 2: 1, 3: 1, 4: 1}


def test_prefix_rerank_matches_bruteforce_when_shortlist_covers(spark):
    """With shortlist ≥ corpus the two-phase search must equal the
    brute-force top-k exactly (the coarse phase only prunes)."""
    from table_streaming_source_spark.operators.similarity import (
        cosine_topk,
        prefix_rerank_topk,
    )

    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 3)
    brute = {
        (r.query_id, r.rank): r.neighbor_id
        for r in cosine_topk(emb, q, k=4).collect()
    }
    two = {
        (r.query_id, r.rank): r.neighbor_id
        for r in prefix_rerank_topk(
            emb, q, prefix_dim=4, shortlist=100, k=4
        ).collect()
    }
    assert two == brute


def test_prefix_rerank_shortlist_is_prefix_scored(spark):
    """A vector orthogonal in the prefix dims but identical in the tail
    must be excluded when the shortlist is tight — proving phase 1
    really scores only the prefix."""
    from table_streaming_source_spark.operators.similarity import (
        prefix_rerank_topk,
    )

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 5.0, 5.0]),   # query
            (1, [1.0, 0.0, 5.0, 5.0]),   # prefix-aligned twin
            (2, [0.9, 0.1, 5.0, 5.0]),   # prefix-close
            (3, [0.0, 0.0, 5.0, 5.0]),   # prefix-orthogonal, tail-identical
        ],
        "vec_id long, embedding array<double>",
    )
    out = prefix_rerank_topk(
        emb, emb.filter(F.col("vec_id") == 0),
        prefix_dim=2, shortlist=2, k=3,
    ).collect()
    kept = {r.neighbor_id for r in out}
    assert kept == {1, 2}  # 3 pruned by the prefix phase despite tail


def test_gopher_quality_each_rule_fires(spark):
    from table_streaming_source_spark.operators.text import gopher_quality

    long_good = " ".join(["the", "have", "with"] + ["word"] * 60)
    too_short = "the have word word"
    symbols = " ".join(
        ["the", "have"] + ["#tag"] * 20 + ["word"] * 50
    )
    no_stop = " ".join(["word"] * 60)
    df = spark.createDataFrame(
        [(1, long_good), (2, too_short), (3, symbols), (4, no_stop)],
        "doc_id int, text string",
    )
    pdf = (
        gopher_quality(df, "text", "doc_id")
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert bool(pdf.loc[1, "pass_all"])
    assert not bool(pdf.loc[2, "pass_words"])
    assert not bool(pdf.loc[3, "pass_symbols"])
    assert not bool(pdf.loc[4, "pass_stopwords"])
    assert pdf.loc[4, "stopword_hits"] == 0
    assert pdf.loc[1, "stopword_hits"] == 3


def test_c4_line_filter_rules(spark):
    from table_streaming_source_spark.operators.text import c4_line_filter

    lines = [
        "one two three four five six.",   # kept
        "one two three four.",            # <5 words
        "one two three four five six",    # no terminal punct
        "the javascript one two three four five.",  # banned
        "brace one { two three four five.",         # banned
        "seven eight nine ten eleven!",   # kept
        'quoted line with five words here"',  # kept (quote terminal)
    ]
    df = spark.createDataFrame([(1, lines)], "doc_id int, lines array<string>")
    row = c4_line_filter(df, "lines", "doc_id").collect()[0]
    assert row["n_lines"] == 7
    assert row["n_kept"] == 3
    assert row["keep_doc"] is True
    assert row["clean_text"].split("\n") == [lines[0], lines[5], lines[6]]
    # page rule: below min_kept_lines drops the doc flag
    row2 = c4_line_filter(
        df, "lines", "doc_id", min_kept_lines=4
    ).collect()[0]
    assert row2["keep_doc"] is False


def test_line_dedup_keeps_first_occurrence(spark):
    from table_streaming_source_spark.operators.text import line_dedup

    df = spark.createDataFrame(
        [
            (1, ["shared line", "only in one"]),
            (2, ["shared line", "unique two", "shared line"]),
            (3, ["shared line"]),
        ],
        "doc_id int, lines array<string>",
    )
    pdf = line_dedup(df, "lines", "doc_id").toPandas().set_index("doc_id")
    assert pdf.loc[1, "n_kept"] == 2
    assert pdf.loc[2, "n_kept"] == 1
    assert pdf.loc[2, "clean_text"] == "unique two"
    assert pdf.loc[3, "n_kept"] == 0
    assert pdf.loc[3, "clean_text"] == ""


def test_ulaw_expand_reference_points():
    import numpy as np

    from table_streaming_source_spark.operators.multimodal import (
        ulaw_expand,
    )

    codes = np.array([0x80, 0x00, 0xFF, 0x7F], dtype=np.uint8)
    out = ulaw_expand(codes)
    # ITU-T G.711 extremes: 0x80 -> +32124, 0x00 -> -32124, and both
    # all-ones codes decode to zero magnitude
    assert list(out) == [32124, -32124, 0, 0]


def test_ulaw_wav_roundtrip():
    import numpy as np

    from table_streaming_source_spark.operators.multimodal import (
        _riff_chunks,
        synth_wav_ulaw,
        ulaw_expand,
    )

    payload = synth_wav_ulaw(300, 7)
    fmt_tag, codes = None, None
    for cid, body in _riff_chunks(payload):
        if cid == b"fmt ":
            import struct as st

            fmt_tag = st.unpack("<H", body[:2])[0]
        elif cid == b"data":
            codes = np.frombuffer(body, dtype=np.uint8)
    assert fmt_tag == 7
    i = np.arange(300, dtype=np.int64)
    expect = ((i * (5 + 7 % 11) + 7) % 256).astype(np.uint8)
    assert (codes == expect).all()
    s = ulaw_expand(codes)
    assert s.min() >= -32124 and s.max() <= 32124


def test_mpeg_walk_matches_synthesis_formula():
    from table_streaming_source_spark.operators.multimodal import (
        MPEG1_L3_BITRATES,
        MPEG1_SAMPLERATES,
        synth_mp3_frames,
    )

    for seed in (0, 1, 5, 11, 17):
        payload = synth_mp3_frames(seed)
        n_frames = 3 + seed % 6
        sr = MPEG1_SAMPLERATES[seed % 3]
        total = sum(
            144 * MPEG1_L3_BITRATES[1 + (seed * 7 + j) % 14] * 1000 // sr
            + (seed + j) % 2
            for j in range(n_frames)
        )
        assert len(payload) == total
        # the walker itself must recover the same numbers from bytes
        off, n = 0, 0
        while off < len(payload):
            assert payload[off] == 0xFF and (payload[off + 1] & 0xE0) == 0xE0
            b2 = payload[off + 2]
            br = MPEG1_L3_BITRATES[(b2 >> 4) & 0xF]
            srx = MPEG1_SAMPLERATES[(b2 >> 2) & 0x3]
            assert srx == sr
            off += 144 * br * 1000 // srx + ((b2 >> 1) & 1)
            n += 1
        assert n == n_frames


def test_cusum_closed_form_matches_recursion(spark):
    from table_streaming_source_spark.plans.catalog import QUERIES

    # direct check of the identity S_i = cum_i - min(0, prefix-min):
    # brute-force the recursion in Python on a small series
    series = [10.0, 300.0, 5.0, 400.0, 2.0, 350.0]
    import math

    n = len(series)
    cents = [round(v * 100) for v in series]
    tot = sum(cents)
    s, flags = 0, []
    expect = []
    for c in cents:
        d = n * c - tot
        s = max(0, s + d)
        expect.append(s / (n * 100.0))
    df = spark.createDataFrame(
        [(1, i, f"2024-01-01 00:0{i}:00", v)
         for i, v in enumerate(series)],
        "user_id long, event_id long, ts string, value double",
    ).withColumn("ts", __import__("pyspark").sql.functions.col("ts").cast("timestamp"))
    df.createOrReplaceTempView("__cusum_probe")
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    cents_col = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    per_user = Window.partitionBy("user_id")
    ordered = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = df.select(
        "user_id", "event_id", "ts", "value", cents_col.alias("__c")
    ).select(
        "user_id", "event_id", "ts", "value",
        (F.count(F.lit(1)).over(per_user) * F.col("__c")
         - F.sum("__c").over(per_user)).alias("__d"),
        F.count(F.lit(1)).over(per_user).alias("__n"),
    )
    cum = base.withColumn(
        "__cum",
        F.sum("__d").over(ordered.rowsBetween(Window.unboundedPreceding, 0)),
    )
    out = cum.withColumn(
        "__s",
        F.col("__cum") - F.least(
            F.lit(0).cast("long"),
            F.min("__cum").over(
                ordered.rowsBetween(Window.unboundedPreceding, 0)
            ),
        ),
    ).orderBy("event_id").select(
        (F.col("__s") / (F.col("__n") * 100.0)).alias("cusum")
    )
    got = [r["cusum"] for r in out.collect()]
    assert got == [round(e, 10) if False else e for e in expect] or all(
        math.isclose(g, e, rel_tol=0, abs_tol=1e-9)
        for g, e in zip(got, expect)
    )


def test_adam7_roundtrip_various_geometries():
    import numpy as np

    from table_streaming_source_spark.operators.multimodal import (
        png_pixels_adam7,
        synth_png_interlaced,
    )

    # geometries that exercise empty-tail passes, odd strides, and the
    # 1-pixel edge cases of the Adam7 grid
    for w, h, seed in [(1, 1, 0), (2, 3, 5), (8, 8, 1), (17, 11, 3),
                       (24, 9, 99), (9, 26, 7), (5, 4, 42)]:
        px = png_pixels_adam7(synth_png_interlaced(w, h, seed))
        x = np.arange(w)[None, :]
        y = np.arange(h)[:, None]
        expect = ((7 * x + 13 * y + seed) % 256).astype(np.uint8)
        assert (px == expect).all(), (w, h, seed)


def test_adam7_rejects_non_interlaced():
    import pytest as _pytest

    from table_streaming_source_spark.operators.multimodal import (
        png_pixels_adam7,
        synth_png_pixels,
    )

    with _pytest.raises(ValueError, match="interlaced"):
        png_pixels_adam7(synth_png_pixels(8, 8, 0))


def test_collation_groups_case_variants(spark):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("View",), ("VIEW",), ("view",), ("click",)], "t string"
    )
    out = (
        df.groupBy(F.collate(F.col("t"), "UTF8_LCASE").alias("g"))
        .count()
        .select(F.lower(F.col("g").cast("string")).alias("g"), "count")
        .toPandas()
        .set_index("g")
    )
    assert out.loc["view", "count"] == 3
    assert out.loc["click", "count"] == 1


# ---------------------------------------------------------------------------
# round-6 operators: keep-best dedup, blocked kNN join
# ---------------------------------------------------------------------------

def test_keep_best_dedup_keeps_argmax_quality(spark):
    """Survivor = longest raw text in the fingerprint group; key
    tie-break; n_copies counts the whole group."""
    from table_streaming_source_spark.operators.dedup import keep_best_dedup

    rows = [
        (1, "Hello  World"),   # normalizes like 2/3, len 12
        (2, "hello world"),    # len 11
        (3, "HELLO WORLD"),    # len 11 — tie with 2, lower id wins if best
        (4, "unique text"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["fingerprint"]: r
        for r in keep_best_dedup(df, "text", "doc_id").collect()
    }
    groups = {r["n_copies"]: r for r in out.values()}
    big = groups[3]
    assert big["keep_doc_id"] == 1  # len 12 beats the two len-11 copies
    assert big["best_len"] == 12
    assert groups[1]["keep_doc_id"] == 4


def test_keep_best_dedup_tie_breaks_on_smallest_key(spark):
    from table_streaming_source_spark.operators.dedup import keep_best_dedup

    df = spark.createDataFrame(
        [(7, "same text"), (3, "same text"), (9, "same text")],
        ["doc_id", "text"],
    )
    [r] = keep_best_dedup(df, "text", "doc_id").collect()
    assert r["keep_doc_id"] == 3 and r["n_copies"] == 3


def test_knn_join_blocked_matches_brute_force_within_block(emb):
    """Within each block the ranked neighbors must equal the exhaustive
    cosine ranking (same rounded score, same tie-break)."""
    from table_streaming_source_spark.operators.similarity import (
        knn_join_blocked,
    )

    sample = emb.filter(F.col("vec_id") < 60)
    got = knn_join_blocked(sample, k=2).collect()
    by_vec = {}
    for r in got:
        by_vec.setdefault(r["vec_id"], []).append(r)
    rows = sample.collect()
    import math

    def cos(a, b):
        d = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) ** 2 for x in a))
        nb = math.sqrt(sum(float(x) ** 2 for x in b))
        return round(d / (na * nb), 6)

    for r in rows:
        peers = [
            (cos(r["embedding"], o["embedding"]), o["vec_id"])
            for o in rows
            if o["label"] == r["label"] and o["vec_id"] != r["vec_id"]
        ]
        expect = sorted(peers, key=lambda t: (-t[0], t[1]))[:2]
        mine = sorted(
            [(g["cos_sim"], g["neighbor_id"]) for g in by_vec.get(r["vec_id"], [])],
            key=lambda t: (-t[0], t[1]),
        )
        assert mine == [(pytest.approx(c, abs=1e-9), v) for c, v in expect] or [
            (round(c, 6), v) for c, v in expect
        ] == mine, (r["vec_id"], mine, expect)


def test_knn_join_rank_is_dense_from_one(emb):
    from table_streaming_source_spark.operators.similarity import (
        knn_join_blocked,
    )

    out = knn_join_blocked(emb.filter(F.col("vec_id") < 40), k=3)
    per = (
        out.groupBy("vec_id")
        .agg(F.sort_array(F.collect_list("knn_rank")).alias("ranks"))
        .collect()
    )
    for r in per:
        assert r["ranks"] == list(range(1, len(r["ranks"]) + 1))


# ---------------------------------------------------------------------------
# round-6 operators: substring spans, MMR rerank
# ---------------------------------------------------------------------------

def test_repeated_substring_spans_brute_force_tiny(spark):
    """Planted duplication: two docs share one 60-char run; the spans
    must cover exactly that run in both docs (merged maximally), and a
    unique doc reports zero."""
    from table_streaming_source_spark.operators.text import (
        repeated_substring_spans,
    )

    shared = "x" * 0  # build a distinctive 60-char shared run
    shared = "the quick brown fox jumps over the lazy dog 0123456789abcdef"[:60]
    import string

    uniq1 = "".join(string.ascii_lowercase[i % 26] for i in range(80))
    rows = [
        (1, "AAA" + shared + "BBB" + "q" * 30),
        (2, "CCCCC" + shared + "DDDD"),
        (3, "totally unique text with no forty-char repetition at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in repeated_substring_spans(
            df, "text", "doc_id", k=40, min_count=2
        ).collect()
    }
    # spans cover the shared run: every 40-window inside the 60-char
    # run repeats, so the merged span is exactly 60 chars in each doc
    assert out[1]["n_spans"] == 1 and out[1]["dup_chars"] == 60
    assert out[2]["n_spans"] == 1 and out[2]["dup_chars"] == 60
    assert out[3]["n_spans"] == 0 and out[3]["dup_chars"] == 0
    assert uniq1  # silence linter


def test_repeated_substring_spans_within_doc_repetition(spark):
    """Self-repetition counts: one doc containing the same 40+ char run
    twice is flagged even though no other doc shares it."""
    from table_streaming_source_spark.operators.text import (
        repeated_substring_spans,
    )

    run = "abcdefghij" * 5  # 50 chars
    df = spark.createDataFrame(
        [(1, run + "MIDDLEPADDINGDISTINCT" + run)], ["doc_id", "text"]
    )
    [r] = repeated_substring_spans(
        df, "text", "doc_id", k=40, min_count=2
    ).collect()
    assert r["n_spans"] >= 1 and r["dup_chars"] >= 50


def test_mmr_first_pick_is_top_relevance_and_no_repeats(emb):
    from table_streaming_source_spark.operators.similarity import (
        cosine_topk,
        mmr_rerank,
    )

    corpus = emb
    queries = emb.filter(F.col("vec_id") < 3)
    out = mmr_rerank(corpus, queries, k_candidates=8, k_select=3).collect()
    top1 = {
        r["query_id"]: r["neighbor_id"]
        for r in cosine_topk(corpus, queries, k=1).collect()
    }
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        ranks = sorted(r["mmr_rank"] for r in rows)
        assert ranks == [1, 2, 3]
        picked = [r["cand_id"] for r in rows]
        assert len(set(picked)) == 3  # no repeats
        first = next(r for r in rows if r["mmr_rank"] == 1)
        assert first["cand_id"] == top1[qid]


def test_mmr_diversity_penalty_changes_greedy_order(spark):
    """A candidate nearly identical to the first pick must NOT be the
    second pick even if its relevance ranks second."""
    from table_streaming_source_spark.operators.similarity import mmr_rerank

    rows = [
        (0, [1.0, 0.0, 0.0], 0),   # query
        (1, [0.99, 0.14, 0.0], 0),  # most relevant
        (2, [0.985, 0.17, 0.0], 0),  # near-clone of 1, 2nd most relevant
        (3, [0.7, -0.7, 0.1], 0),   # diverse, less relevant
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = mmr_rerank(
        df,
        df.filter(F.col("vec_id") == 0),
        k_candidates=3,
        k_select=2,
        lam=0.5,
    ).collect()
    picks = {r["mmr_rank"]: r["cand_id"] for r in out}
    assert picks[1] == 1
    assert picks[2] == 3  # the clone (2) is penalized away


def test_pca_power_direction_is_dominant(emb):
    """On the fixture corpus the returned direction must be unit-norm
    (to the designed 9-digit rounding), sign-fixed, and beat random
    directions on the Rayleigh quotient v'Cv.  (Exact top-eigenvector
    agreement is NOT asserted here: random embeddings have a flat
    spectrum, where 4 power steps legitimately haven't separated the
    top eigenpair — the planted-direction test below covers recovery.)"""
    import numpy as np

    from table_streaming_source_spark.operators.similarity import (
        pca_power_iteration,
    )

    rows = emb.collect()
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    C = X.T @ X / len(X)
    out = pca_power_iteration(emb, dim=64, iterations=4).collect()
    v = np.zeros(64)
    for r in out:
        v[r["i"] - 1] = r["loading"]
    assert abs(np.linalg.norm(v) - 1.0) < 1e-4
    assert v[0] >= 0
    rq = float(v @ C @ v)
    rng = np.random.default_rng(0)
    for _ in range(20):
        u = rng.standard_normal(64)
        u /= np.linalg.norm(u)
        assert rq >= float(u @ C @ u) * 0.999


def test_pca_power_recovers_planted_direction(spark):
    """With a dominant planted direction (big spectral gap), 4 power
    steps must recover it to high cosine."""
    import numpy as np

    from table_streaming_source_spark.operators.similarity import (
        pca_power_iteration,
    )

    rng = np.random.default_rng(7)
    d = rng.standard_normal(64)
    d /= np.linalg.norm(d)
    coefs = rng.standard_normal(200) * 5.0
    noise = rng.standard_normal((200, 64)) * 0.1
    X = np.outer(coefs, d) + noise
    rows = [
        (int(i), [float(x) for x in X[i]]) for i in range(len(X))
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = pca_power_iteration(df, dim=64, iterations=4).collect()
    v = np.zeros(64)
    for r in out:
        v[r["i"] - 1] = r["loading"]
    assert abs(abs(float(d @ v))) > 0.995


# ---------------------------------------------------------------------------
# round 7: knn mega-cell cap, generic keep-best tie-break, empty ICO
# ---------------------------------------------------------------------------


def test_knn_join_mega_cell_cap_bounds_candidates(spark):
    """A synthetic mega-cell (every vector in one block) must be capped:
    with max_block = m the neighbor side shrinks to the m lowest keys,
    so candidate volume is n·m, not n², and each vector's top-k comes
    from that deterministic subset."""
    from pyspark.sql import functions as F

    from table_streaming_source_spark.operators.similarity import (
        knn_join_blocked,
    )

    from pyspark.sql import functions as F2

    n, cap = 40, 6
    rows = [
        (i, [float((i * 7 + j * 3) % 11) for j in range(4)], 0)
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    capped = knn_join_blocked(df, k=3, max_block=cap)
    got = capped.collect()
    # every left vector still served
    assert len({r["vec_id"] for r in got}) == n
    # neighbors only ever come from the deterministic hash-thinned
    # candidate set (xxhash64(id) % ceil(n/cap) == 0)
    rate = -(-n // cap)
    cand = {
        r["vec_id"]
        for r in df.select("vec_id")
        .filter(F2.pmod(F2.xxhash64("vec_id"), F2.lit(rate)) == 0)
        .collect()
    }
    assert 0 < len(cand) < n / 2
    for r in got:
        assert r["neighbor_id"] in cand, r
    # a capped member's own top-k excludes itself
    assert all(r["neighbor_id"] != r["vec_id"] for r in got)
    # uncapped agrees with capped for vectors whose true neighbors are
    # inside the candidate set — and the cap is a no-op when above n
    uncapped = knn_join_blocked(df, k=3, max_block=1000).collect()
    plain = knn_join_blocked(df, k=3).collect()
    key = lambda rs: sorted(
        (r["vec_id"], r["knn_rank"], r["neighbor_id"]) for r in rs
    )
    assert key(uncapped) == key(plain)


def test_keep_best_dedup_tie_breaks_on_string_keys(spark):
    """The (-quality, key) min_by struct must order ANY key type: equal
    quality ties resolve to the smallest string key."""
    from table_streaming_source_spark.operators.dedup import (
        keep_best_dedup,
    )

    # an exact tie: two docs, same normalized fingerprint, SAME raw
    # length, different string keys
    rows = [
        ("doc-b", "same text!"),
        ("doc-a", "SAME TEXT!"),
        ("doc-z", "other"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["fingerprint"]: r
        for r in keep_best_dedup(df, "text", "doc_id").collect()
    }
    tie_group = [r for r in out.values() if r["n_copies"] == 2]
    assert len(tie_group) == 1
    assert tie_group[0]["keep_doc_id"] == "doc-a"  # smallest key wins


def test_empty_ico_directory_routes_to_quarantine():
    import struct as _struct

    import pytest as _pytest

    from table_streaming_source_spark.operators.multimodal import (
        ico_frames,
    )

    payload = _struct.pack("<HHH", 0, 1, 0)  # spec-valid, zero entries
    with _pytest.raises(ValueError, match="empty ICO directory"):
        ico_frames(payload)


def test_csv_failfast_mode_raises_on_poisoned_rows(spark, tmp_path):
    """FAILFAST is the third malformed-row mode: the same poisoned
    fixture the catalog entry reads must raise instead of dropping or
    capturing (its contract IS the exception)."""
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    p = tmp_path / "bad.csv"
    p.write_text(
        "event_id,event_type,value\n1,view,2.5\n2,click,<poisoned>\n"
    )
    df = (
        spark.read.schema("event_id bigint, event_type string, value double")
        .option("header", "true")
        .option("mode", "FAILFAST")
        .csv(str(tmp_path))
    )
    with _pytest.raises(Exception) as exc:
        df.collect()
    assert "Malformed" in str(exc.value) or "FAILFAST" in str(exc.value)


def test_label_propagation_two_cliques(spark):
    """Two 3-cliques joined by one bridge edge: after 2 rounds every
    clique member carries its clique's minimum id; the deterministic
    min tie-break resolves the bridge."""
    from table_streaming_source_spark.operators.graph import (
        label_propagate,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)],
        "u int, v int",
    )
    got = {
        r.vertex: r.label
        for r in label_propagate(edges, rounds=2).collect()
    }
    # clique {1,2,3} converges to 1; clique {10,11,12} to 10 (vertex 3
    # and 10 see one foreign neighbor vs two clique neighbors)
    assert got[1] == 1 and got[2] == 1 and got[3] == 1
    assert got[11] == 10 and got[12] == 10
    # deterministic: re-running yields the identical assignment
    again = {
        r.vertex: r.label
        for r in label_propagate(edges, rounds=2).collect()
    }
    assert got == again


def test_label_propagation_tie_breaks_to_min(spark):
    from table_streaming_source_spark.operators.graph import (
        label_propagate,
    )

    # vertex 5 sees neighbors {1, 9} once each after round 1 → min wins
    edges = spark.createDataFrame([(1, 5), (9, 5)], "u int, v int")
    got = {
        r.vertex: r.label
        for r in label_propagate(edges, rounds=1).collect()
    }
    assert got[5] == 1


def test_common_neighbor_pairs_caps_mega_hub(spark):
    from table_streaming_source_spark.operators.graph import (
        common_neighbor_pairs,
    )

    # one mega-hub via-node shared by 2000 customers: uncapped yields
    # C(2000, 2) pairs; the cap must bound candidates to ~m × max_hub
    edges = spark.range(2000).select(
        F.col("id").alias("c"), F.lit(1).alias("s")
    )
    uncapped = common_neighbor_pairs(
        edges, min_common=1, max_hub=None
    ).count()
    assert uncapped == 2000 * 1999 // 2
    capped = common_neighbor_pairs(
        edges, min_common=1, max_hub=50
    ).count()
    # expected survivors ≈ 50 on the neighbor side → ≤ ~m × max_hub
    # candidates; 3× slack covers hash variance
    assert 0 < capped <= 2000 * 50 * 3
    assert capped < uncapped / 5
    # deterministic: the thinning is a pure hash rule, not sampling
    again = common_neighbor_pairs(
        edges, min_common=1, max_hub=50
    ).count()
    assert capped == again
    # under-cap hubs are untouched: exact pairs when every degree fits
    small = spark.createDataFrame(
        [(1, 7), (2, 7), (3, 7), (1, 8), (2, 8)], "c int, s int"
    )
    exact = {
        (r.ca, r.cb, r.common)
        for r in common_neighbor_pairs(
            small, min_common=1, max_hub=256
        ).collect()
    }
    assert exact == {(1, 2, 2), (1, 3, 1), (2, 3, 1)}


def test_common_neighbor_pairs_shuffle_count_join(spark):
    """The elective count join for UNBOUNDED via domains: with
    ``broadcast_counts=False`` the per-via degree counts attach by a
    plain ``__via`` join (no broadcast of one-row-per-distinct-via),
    and the capped result is IDENTICAL to the broadcast path — the
    thinning rule is the same pure hash either way."""
    from table_streaming_source_spark.operators.graph import (
        common_neighbor_pairs,
    )

    # wide via domain: 3000 distinct vias (each a small group) plus
    # one mega-hub — the shape where broadcasting per-via counts
    # would scale with the via domain, not the hubs
    wide = spark.range(3000).selectExpr(
        "id % 1500 as c", "id as s"
    )
    hub = spark.range(400).select(
        F.col("id").alias("c"), F.lit(999_999).alias("s")
    )
    edges = wide.unionByName(hub)
    kw = dict(min_common=1, max_hub=50)
    bc = {
        (r.ca, r.cb, r.common)
        for r in common_neighbor_pairs(
            edges, broadcast_counts=True, **kw
        ).collect()
    }
    sj = {
        (r.ca, r.cb, r.common)
        for r in common_neighbor_pairs(
            edges, broadcast_counts=False, **kw
        ).collect()
    }
    assert bc == sj and len(bc) > 0
    # the logical plan carries the broadcast HINT only when asked
    plan_bc = common_neighbor_pairs(
        edges, broadcast_counts=True, **kw
    )._jdf.queryExecution().optimizedPlan().toString()
    plan_sj = common_neighbor_pairs(
        edges, broadcast_counts=False, **kw
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "broadcast" in plan_bc.lower()
    assert "resolvedhint" not in plan_sj.lower()
