"""Row-local similarity, dedup and text kernels: each per-row array is
computed once, each pairwise score once, and an undefined score is NULL.

Plan tests read the optimized logical plan of the catalog entries.  Value
tests compare seeded random inputs with a pure-Python restatement of each
kernel — the same folds in the same order, so the expected doubles are
exact.  Spark runs with ANSI mode on, so a zero divisor must come out as
NULL rather than fail the query.
"""

from __future__ import annotations

import hashlib
import math
import random
import re
from decimal import ROUND_HALF_UP, Decimal

import pytest

from table_streaming_source_spark.operators import dedup as D
from table_streaming_source_spark.operators import similarity as S
from table_streaming_source_spark.operators import text as X
from table_streaming_source_spark.plans import catalog


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _walk(node):
    yield node
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk(ch.apply(i))


# ---------------------------------------------------------------------------
# once per row / once per pair, on the catalog entries' plans
# ---------------------------------------------------------------------------


def test_text_line_dedup_splits_each_document_once(spark, sf_dir):
    plan = _optimized(catalog.QUERIES["text_line_dedup"](spark, sf_dir))
    assert plan.count("split(") == 1, plan


#: ``split(`` per optimized plan: one per plan branch that tokenizes the
#: documents (pmi: two for the top-12 table, two for the pair self-join;
#: macro_f1: the per-class rows and the macro row; ndcg: BM25's postings,
#: document frequencies, lengths and corpus stats).  None sits in a
#: pushed-down filter.
_QUERY_SPLITS = {
    "text_pmi_cooccur": 4,
    "text_macro_f1": 2,
    "text_ndcg_eval": 4,
}


@pytest.mark.parametrize("name", sorted(_QUERY_SPLITS))
def test_text_queries_split_once_per_branch(spark, sf_dir, name):
    plan = _optimized(catalog.QUERIES[name](spark, sf_dir))
    assert plan.count("split(") == _QUERY_SPLITS[name], plan


def test_text_macro_f1_counts_each_class_once(spark, tmp_path):
    """Every gold or predicted class gets one row; a NULL gold class
    counts nothing."""
    docs = [
        (1, "the customer row table", "en"),
        (2, "the customer row", None),
        (3, "batch hash fast und", "de"),
        (4, "agg join column el", "de"),
    ]
    spark.createDataFrame(
        [(k, text, lang, "web", len(text)) for k, text, lang in docs],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
    ).write.parquet(str(tmp_path / "documents.parquet"))
    rows = catalog.QUERIES["text_macro_f1"](spark, str(tmp_path)).collect()
    assert sorted(
        ((r.lang, r.tp, r.fp, r.fn) for r in rows), key=repr
    ) == sorted(
        [
            ("en", 1, 1, 0),
            ("de", 1, 0, 1),
            ("es", 0, 1, 0),
            (None, 0, 0, 0),
            ("__macro__", 2, 2, 1),
        ],
        key=repr,
    )


def test_sim_pairs_blocked_scores_each_pair_once(spark, sf_dir):
    df = catalog.QUERIES["sim_pairs_blocked"](spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan()
    conditions = [
        n.condition().get().toString()
        for n in _walk(plan)
        if n.nodeName() == "Join" and n.condition().isDefined()
    ]
    assert conditions, plan.toString()
    assert not any("aggregate(" in c for c in conditions), conditions
    assert plan.toString().count("zip_with(") == 1, plan.toString()


def test_dedup_minhash_lsh_intersects_each_pair_once(spark, sf_dir):
    plan = _optimized(catalog.QUERIES["dedup_minhash_lsh"](spark, sf_dir))
    assert plan.count("array_intersect(") == 1, plan


# ---------------------------------------------------------------------------
# vectors
# ---------------------------------------------------------------------------


def _vectors(seed: int, n: int, dim: int = 8, blocks: int = 3):
    """Seeded vectors with components in multiples of 1/64, exact in
    float32, so Spark's ``array<float>`` and Python see the same values."""
    rng = random.Random(seed)
    return [
        (
            i,
            i % blocks,
            [rng.randint(-64, 64) / 64.0 for _ in range(dim)],
        )
        for i in range(n)
    ]


def _emb_df(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )


def _cos(a, b):
    """:func:`S.cosine` restated: sequential double folds, NULL (None)
    when either norm is zero."""
    dot = 0.0
    for x, y in zip(a, b):
        dot = dot + x * y
    na = 0.0
    for x in a:
        na = na + x * x
    nb = 0.0
    for y in b:
        nb = nb + y * y
    den = math.sqrt(na) * math.sqrt(nb)
    return None if den == 0.0 else dot / den


def _exact(got: dict, want: dict):
    assert set(got) == set(want)
    for k, v in want.items():
        assert got[k].hex() == v.hex(), (k, got[k], v)


@pytest.mark.parametrize("seed", [11, 12])
def test_cosine_pairs_blocked_equals_reference_exactly(spark, seed):
    rows = _vectors(seed, 30)
    out = S.cosine_pairs_blocked(
        _emb_df(spark, rows), threshold=0.1, round_digits=None
    )
    got = {(r.key_a, r.key_b): r.cos_sim for r in out.collect()}
    want = {}
    for ka, la, va in rows:
        for kb, lb, vb in rows:
            if la == lb and ka < kb:
                c = _cos(va, vb)
                if c is not None and c >= 0.1:
                    want[(ka, kb)] = c
    assert want
    _exact(got, want)


def test_cosine_range_and_topk_equal_reference_exactly(spark):
    rows = _vectors(21, 25)
    emb = _emb_df(spark, rows)
    queries = emb.filter("vec_id < 4")
    scores = {
        (q, c): _cos(qv, cv)
        for q, _, qv in rows[:4]
        for c, _, cv in rows
        if q != c
    }
    rng = S.cosine_range(emb, queries, threshold=0.2, round_digits=None)
    _exact(
        {(r.query_id, r.neighbor_id): r.cos_sim for r in rng.collect()},
        {k: v for k, v in scores.items() if v >= 0.2},
    )
    top = S.cosine_topk(emb, queries, k=3, round_digits=None)
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos_sim)
        for r in top.collect()
    }
    for q in range(4):
        ranked = sorted(
            (c for (qq, c) in scores if qq == q),
            key=lambda c: (-scores[(q, c)], c),
        )
        for rank, c in enumerate(ranked[:3], start=1):
            nid, sim = got.pop((q, rank))
            assert nid == c and sim.hex() == scores[(q, c)].hex()
    assert not got


def _with_zero_vector(seed: int):
    rows = _vectors(seed, 12, blocks=2)
    rows[3] = (3, rows[3][1], [0.0] * 8)
    return rows


def test_zero_norm_vector_emits_no_pair_in_blocked_pairs(spark):
    rows = _with_zero_vector(31)
    out = S.cosine_pairs_blocked(
        _emb_df(spark, rows), threshold=-1.0, round_digits=None
    )
    got = {(r.key_a, r.key_b): r.cos_sim for r in out.collect()}
    want = {
        (ka, kb): _cos(va, vb)
        for ka, la, va in rows
        for kb, lb, vb in rows
        if la == lb and ka < kb and 3 not in (ka, kb)
    }
    _exact(got, want)


def test_zero_norm_vector_emits_no_pair_in_range_and_topk(spark):
    rows = _with_zero_vector(32)
    emb = _emb_df(spark, rows)
    queries = emb.filter("vec_id IN (0, 3)")
    rng = S.cosine_range(emb, queries, threshold=-1.0)
    pairs = {(r.query_id, r.neighbor_id) for r in rng.collect()}
    assert pairs == {(0, c) for c in range(12) if c not in (0, 3)}
    top = S.cosine_topk(emb, queries, k=20)
    assert {(r.query_id, r.neighbor_id) for r in top.collect()} == pairs
    knn = S.knn_join_blocked(emb, k=20)
    assert all(3 not in (r.vec_id, r.neighbor_id) for r in knn.collect())


# ---------------------------------------------------------------------------
# documents
# ---------------------------------------------------------------------------

_WORDS = (
    "the", "a", "of", "and", "to", "is", "be", "that", "have", "with",
    "customer", "row", "table", "batch", "hash", "und", "join", "el",
    "vector", "le", "data", "zh", "#tag", "wait...", "123", "x7", "alpha",
    "beta", "gamma",
)
_SEPS = (" ", "  ", "\t", "\n", " \t ", "\r\n")


def _texts(seed: int, n: int):
    """Seeded documents: short ones (1-3 tokens), runs of mixed
    whitespace, leading/trailing whitespace, and repeated tokens."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        n_tok = rng.choice((1, 2, 3, 5, 8, 20, 55, 70))
        pool = rng.sample(_WORDS, rng.choice((2, 5, len(_WORDS))))
        toks = [rng.choice(pool) for _ in range(n_tok)]
        text = toks[0]
        for t in toks[1:]:
            text += rng.choice(_SEPS) + t
        text = rng.choice(("", " ", "\t")) + text + rng.choice(("", " ", "\n"))
        out.append((i, text))
    return out


def _docs_df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _tokens(text):
    return [t for t in re.split(r"\s+", text, flags=re.ASCII) if t]


def _round6(x):
    if x is None:
        return None
    return float(
        Decimal(repr(x)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)
    )


def _div(a, b):
    return None if b == 0 else float(a) / b


def _token_rows(toks):
    n = len(toks)
    distinct = list(dict.fromkeys(toks))
    chars = sum(len(t) for t in toks)
    return {
        "token_stats": (
            n,
            len(distinct),
            _div(len(distinct), n),
            sum(math.ceil(len(t) / 4.0) for t in toks),
            chars,
        ),
        "remove_repeated_tokens": (
            n,
            len(distinct),
            _div(n - len(distinct), n),
            " ".join(distinct),
        ),
    }


def _quality_row(text, toks):
    n = len(toks)
    stop = _div(sum(t in X.STOPWORDS for t in toks), n)
    quality = None if stop is None else min(n / 100.0, 1.0) * (1.0 - stop)
    return (
        len(text),
        n,
        _round6(_div(sum(len(t) for t in toks), n)),
        _round6(stop),
        _round6(quality),
    )


def _langid_row(toks):
    n = len(toks)
    scores = {
        lang: _round6(_div(sum(t in words for t in toks), n))
        for lang, words in X.LANG_MARKERS.items()
    }
    best = min(sorted(scores), key=lambda l: -(scores[l] or 0.0))
    return (best, scores[best])


def _gopher_row(toks):
    n = len(toks)
    mean = _div(sum(len(t) for t in toks), n)
    sym = _div(sum(("#" in t) or ("..." in t) for t in toks), n)
    alpha = _div(sum(bool(re.search("[a-zA-Z]", t)) for t in toks), n)
    hits = sum(t in X.GOPHER_STOPWORDS for t in toks)

    def rule(v, ok):
        return None if v is None else ok(v)

    flags = (
        50 <= n <= 100_000,
        rule(mean, lambda m: 3.0 <= m <= 10.0),
        rule(sym, lambda s: s <= 0.1),
        rule(alpha, lambda a: a >= 0.8),
        hits >= 2,
    )
    if False in flags:
        pass_all = False
    elif None in flags:
        pass_all = None
    else:
        pass_all = True
    return (n, _round6(mean), _round6(sym), _round6(alpha), hits) + flags + (
        pass_all,
    )


def _check_text_kernels(spark, rows):
    df = _docs_df(spark, rows)
    toks = {k: _tokens(t) for k, t in rows}
    text = dict(rows)
    kernels = {
        "token_stats": (
            X.token_stats,
            lambda k: _token_rows(toks[k])["token_stats"],
        ),
        "remove_repeated_tokens": (
            X.remove_repeated_tokens,
            lambda k: _token_rows(toks[k])["remove_repeated_tokens"],
        ),
        "quality_score": (
            X.quality_score,
            lambda k: _quality_row(text[k], toks[k]),
        ),
        "language_id": (X.language_id, lambda k: _langid_row(toks[k])),
        "gopher_quality": (X.gopher_quality, lambda k: _gopher_row(toks[k])),
    }
    for name, (fn, want) in kernels.items():
        got = {r[0]: tuple(r[1:]) for r in fn(df, "text", "doc_id").collect()}
        assert set(got) == set(text), name
        for k in text:
            w = want(k)
            assert len(got[k]) == len(w), (name, got[k], w)
            for g, e in zip(got[k], w):
                assert type(g) is type(e) and g == e, (
                    name, repr(text[k]), got[k], w
                )


@pytest.mark.parametrize("seed", [41, 42])
def test_text_kernels_equal_reference_exactly(spark, seed):
    _check_text_kernels(spark, _texts(seed, 40))


def test_text_kernels_on_documents_without_tokens(spark):
    """Whitespace-only and empty documents: every ratio is NULL, every
    count is 0, and no kernel raises a division by zero."""
    rows = [(0, " "), (1, "\t\n  "), (2, ""), (3, "the row the table")]
    _check_text_kernels(spark, rows)
    stats = X.token_stats(_docs_df(spark, rows), "text", "doc_id")
    row = {r.doc_id: r for r in stats.collect()}[1]
    assert row.n_tokens == 0 and row.type_token_ratio is None


def _shingle_list(text, n):
    """:func:`D._shingles` restated: space-trim, split on whitespace runs,
    every ``n``-gram joined by one space, empty grams dropped, first
    occurrences kept; fewer than ``n`` tokens → none."""
    toks = re.split(r"\s+", text.strip(" "), flags=re.ASCII)
    if len(toks) < n:
        return []
    grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
    return list(dict.fromkeys(g for g in grams if g))


@pytest.mark.parametrize("n", [1, 3])
def test_shingles_equal_reference(spark, n):
    rows = _texts(51, 40) + [(100, "solo"), (101, "two words"), (102, "  ")]
    got = {}
    table = D.shingle_table(_docs_df(spark, rows), "text", "doc_id", n)
    for r in table.collect():
        got.setdefault(r.doc_id, []).append(r.shingle)
    want = {k: _shingle_list(t, n) for k, t in rows}
    assert got == {k: v for k, v in want.items() if v}


def test_reflow_lines_equal_reference(spark):
    from table_streaming_source_spark.plans.extensions import _reflow_lines

    rows = _texts(52, 40) + [(100, "solo"), (101, " \t ")]
    got = {
        r.doc_id: r.lines
        for r in _docs_df(spark, rows)
        .select("doc_id", _reflow_lines(2).alias("lines"))
        .collect()
    }
    for k, t in rows:
        toks = _tokens(t)
        want = [" ".join(toks[i:i + 2]) for i in range(0, len(toks), 2)]
        assert got[k] == want, repr(t)


_P = D.MINHASH_P


def _md5_60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _minhash_pairs(rows, n, num_hashes, bands, threshold):
    """:func:`D.minhash_lsh_pairs` restated: md5 shingle ints, the
    ``(2h+1)·x + h mod P`` family, md5 band keys, in-bucket pairs,
    exact Jaccard (0/0 → no pair)."""
    r = num_hashes // bands
    sets = {k: _shingle_list(t, n) for k, t in rows}
    buckets = {}
    for k, sh in sets.items():
        xs = [_md5_60(s) % _P for s in sh]
        sig = [
            min((((2 * h + 1) * x + h) % _P for x in xs), default=None)
            for h in range(num_hashes)
        ]
        for b in range(bands):
            band = sig[b * r:(b + 1) * r]
            part = ",".join(str(v) for v in band if v is not None)
            buckets.setdefault((b, _md5_60(part)), []).append(k)
    out = {}
    for keys in buckets.values():
        for ka in keys:
            for kb in keys:
                if ka < kb:
                    a, b = set(sets[ka]), set(sets[kb])
                    inter = len(a & b)
                    union = len(a) + len(b) - inter
                    if union and inter / union >= threshold:
                        out[(ka, kb)] = float(inter) / union
    return out


def test_minhash_lsh_pairs_equal_reference_exactly(spark):
    base = _texts(61, 30)
    rng = random.Random(62)
    # near copies: drop or swap one token, so buckets really collide
    copies = []
    for i, (k, t) in enumerate(base[:12]):
        toks = _tokens(t)
        if len(toks) > 4:
            j = rng.randrange(len(toks))
            toks[j] = rng.choice(_WORDS)
        copies.append((1000 + i, " ".join(toks)))
    rows = base + copies
    got = {
        (r.key_a, r.key_b): r.jaccard
        for r in D.minhash_lsh_pairs(
            _docs_df(spark, rows), "text", "doc_id", threshold=0.2
        ).collect()
    }
    want = _minhash_pairs(rows, 3, 16, 4, 0.2)
    assert want
    _exact(got, want)


def test_minhash_lsh_pairs_shingle_less_documents_emit_no_pair(spark):
    """Two documents shorter than ``n`` tokens have empty signatures,
    share every band bucket, and have an undefined (0/0) Jaccard."""
    rows = [(1, "one two"), (2, "three"), (3, "a b c d"), (4, "a b c d")]
    got = {
        (r.key_a, r.key_b): r.jaccard
        for r in D.minhash_lsh_pairs(
            _docs_df(spark, rows), "text", "doc_id", threshold=0.0
        ).collect()
    }
    assert got == {(3, 4): 1.0}
