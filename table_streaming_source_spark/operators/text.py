"""Text analysis operators for training-data pipelines: tokenization,
quality scoring, language ID, tf-idf — all JVM-side built-ins (split /
higher-order array functions / groupBy), no Python UDFs in the hot path.

Scale notes: every operator here is a narrow map or a hash aggregate on a
token/term key.  The tf-idf document-frequency join broadcasts the df table
when the vocabulary is small; for web-scale vocabularies it is a shuffled
hash join on the term — salt terms if a stop-word-like skew appears (or
pre-filter stopwords, which is also the right quality call).
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: tiny default stopword list (shared with the DuckDB oracle definitions)
STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in", "is")

#: deterministic marker-word lists for the n-gram/keyword language-ID
#: heuristic.  On real corpora these would be char-n-gram profiles per
#: language; the heuristic structure (score per language → argmax) is the
#: operator under test.
LANG_MARKERS: Mapping[str, tuple[str, ...]] = {
    "en": ("the", "customer", "row", "table"),
    "de": ("batch", "hash", "fast", "und"),
    "es": ("agg", "join", "column", "el"),
    "fr": ("vector", "query", "value", "le"),
    "zh": ("part", "data", "sort", "zh"),
}


def tokenize(df: DataFrame, text_col: str, key: str) -> DataFrame:
    """Whitespace tokenization → one ``(key, pos, token)`` row per token."""
    toks = F.split(F.col(text_col), r"\s+")
    return df.select(
        F.col(key), F.posexplode(toks).alias("pos", "token")
    ).filter(F.length("token") > 0)


def _tokens(text_col: str) -> Column:
    return F.filter(
        F.split(F.col(text_col), r"\s+"), lambda t: F.length(t) > F.lit(0)
    )


def token_stats(df: DataFrame, text_col: str, key: str) -> DataFrame:
    """Per-document token counting: total tokens, distinct tokens,
    type-token ratio, plus a BPE-ish subword count (4-char pieces, an
    engine-side proxy for token-budget estimation)."""
    toks = _tokens(text_col)
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    total_chars = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    )
    return df.select(
        F.col(key),
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct"),
        (n_distinct.cast("double") / n_tokens).alias("type_token_ratio"),
        # ceil(len/4) per token ≈ BPE subword count proxy
        F.aggregate(
            toks,
            F.lit(0),
            lambda acc, t: acc + F.ceil(F.length(t) / F.lit(4.0)).cast("int"),
        ).alias("n_subwords"),
        total_chars.alias("n_token_chars"),
    )


def pack_sequences(
    df: DataFrame,
    text_col: str,
    key: str,
    *,
    budget: int = 512,
    shards: int = 8,
) -> DataFrame:
    """Concat-and-chunk sequence packing — the standard LLM-pretraining
    layout: documents are concatenated in a deterministic order and cut
    into fixed ``budget``-token context windows; a document starting at
    token ``offset`` belongs to pack ``floor(offset / budget)`` (its tail
    may spill into the next pack, exactly like the training layout).

    Scale shape: one shuffle on the md5-derived shard key (so layout is
    reproducible across engines/partitionings — seeded RNG is not), then
    a single running-sum window per shard.  ``shards`` is the parallelism
    knob: packs never span shards, so 1000 executors pack 1000 shards
    independently.

    Returns ``(key, shard, n_tokens, offset, pack_id)``.
    """
    h = (
        F.conv(F.substring(F.md5(F.col(key).cast("string")), 1, 15), 16, 10)
        .cast("long")
        % shards
    )
    base = df.select(
        F.col(key),
        h.alias("shard"),
        F.size(_tokens(text_col)).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(key)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    offset = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return base.select(
        F.col(key),
        "shard",
        "n_tokens",
        offset.alias("offset"),
        F.floor(offset / budget).cast("int").alias("pack_id"),
    )


def remove_repeated_tokens(df: DataFrame, text_col: str, key: str) -> DataFrame:
    """Within-document repetition removal (Gopher/RefinedWeb-style, at
    token granularity): drop every repeat of an already-seen token,
    keeping first occurrences in order.  ``array_distinct`` is
    order-preserving in Spark, so the whole cleanup is one row-local
    JVM expression — no explode, no shuffle, no Python.

    Returns ``(key, n_tokens, n_kept, repetition_ratio, clean_text)``.
    """
    toks = _tokens(text_col)
    deduped = F.array_distinct(toks)
    n_tokens = F.size(toks)
    n_kept = F.size(deduped)
    return df.select(
        F.col(key),
        n_tokens.alias("n_tokens"),
        n_kept.alias("n_kept"),
        ((n_tokens - n_kept).cast("double") / n_tokens).alias(
            "repetition_ratio"
        ),
        F.concat_ws(" ", deduped).alias("clean_text"),
    )


def quality_score(
    df: DataFrame,
    text_col: str,
    key: str,
    stopwords: Sequence[str] = STOPWORDS,
) -> DataFrame:
    """Heuristic document quality: length, mean token length, stopword
    ratio, and a composite score.  Mirrors the classic Gopher/C4-style
    length+stopword filters; every ratio is a deterministic double."""
    toks = _tokens(text_col)
    n_tokens = F.size(toks)
    sw = F.array([F.lit(s) for s in stopwords])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    mean_len = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    ).cast("double") / n_tokens
    stop_ratio = n_stop.cast("double") / n_tokens
    return df.select(
        F.col(key),
        F.length(F.col(text_col)).alias("n_chars_text"),
        n_tokens.alias("n_tokens"),
        F.round(mean_len, 6).alias("mean_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        # composite: long enough, not stopword-saturated
        F.round(
            F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0))
            * (F.lit(1.0) - stop_ratio),
            6,
        ).alias("quality"),
    )


def language_id(
    df: DataFrame,
    text_col: str,
    key: str,
    markers: Mapping[str, Sequence[str]] = LANG_MARKERS,
) -> DataFrame:
    """Keyword/n-gram language-ID heuristic: score(lang) = fraction of
    tokens in that language's marker list; prediction = argmax score with
    lexicographic tiebreak.  Returns ``(key, pred_lang, pred_score)``."""
    toks = _tokens(text_col)
    n_tokens = F.size(toks)
    scores = []
    for lang in sorted(markers):
        arr = F.array([F.lit(w) for w in markers[lang]])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))
        scores.append(
            F.struct(
                F.round(hits.cast("double") / n_tokens, 6).alias("score"),
                # tiebreak: HIGHER score wins; equal scores → alphabetically
                # first language.  array_max picks lexicographically-largest
                # struct, so invert the lang for the tiebreak field.
                F.lit(lang).alias("lang"),
            )
        )
    # argmax with deterministic tie-break: sort by (score desc, lang asc)
    best = F.element_at(
        F.reverse(
            F.array_sort(
                F.array(*scores),
                lambda l, r: F.when(l["score"] < r["score"], -1)
                .when(l["score"] > r["score"], 1)
                # equal scores: larger lang sorts earlier after reverse →
                # compare descending on lang so reverse yields asc
                .when(l["lang"] > r["lang"], -1)
                .when(l["lang"] < r["lang"], 1)
                .otherwise(0),
            )
        ),
        1,
    )
    return df.select(
        F.col(key),
        best["lang"].alias("pred_lang"),
        best["score"].alias("pred_score"),
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str,
    key: str,
    *,
    top_n: int = 3,
) -> DataFrame:
    """Top-``top_n`` terms per document by tf-idf.

    tf = term count in doc; idf = ln(N / df); ties broken by term asc.
    Returns ``(key, term, tf, df, tfidf, rank)``.
    """
    tok = tokenize(df, text_col, key)
    # consumed twice (df derivation + score join) — pin so the corpus
    # tokenize+aggregate runs once (round 15, guide §2.4); lazy, no job
    # until the operator's output is consumed.
    tf = (
        tok.groupBy(key, "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    n_docs = df.count()  # scalar; computed once driver-side
    # document frequency FROM the tf table: tf already holds one row
    # per (doc, token), so COUNT(*) per token ≡ the old
    # tok.distinct().groupBy(token).count() — same value, one corpus
    # explode instead of two and a tf-sized shuffle instead of a
    # token-instance-sized one (round 15, guide §2.3/§2.4)
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # Shuffle-join on token — NO broadcast hint.  The vocabulary is a
    # corpus-derived table (10^8–10^9 distinct tokens at 100 TB); a forced
    # broadcast would bypass autoBroadcastJoinThreshold and OOM the
    # executors.  Token is the natural shuffle key and AQE still picks a
    # broadcast join at runtime when the vocabulary is genuinely small.
    scored = tf.join(dfreq, "token").withColumn(
        "tfidf",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
        ),
    )
    w = Window.partitionBy(key).orderBy(
        F.col("tfidf").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= top_n)
        .select(
            key,
            F.col("token").alias("term"),
            "tf",
            "df",
            "tfidf",
            "rank",
        )
    )


#: redaction patterns shared with the DuckDB oracles — conservative
#: syntax valid in both Java regex (Spark) and RE2 (DuckDB)
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\+?[0-9][0-9()\- ]{7,}[0-9]", "<PHONE>"),
    (r"([0-9]{1,3}\.){3}[0-9]{1,3}", "<IP>"),
)


def pii_scrub(df: DataFrame, text_col: str, key: str) -> DataFrame:
    """Redact emails, phone numbers, and IPv4 addresses — the standard
    pre-training privacy pass.

    Pure row-local ``regexp_replace`` chain (JVM, codegen'd — no Python,
    no shuffle); ``n_redactions`` counts the matches before replacement
    so the pipeline can monitor redaction rates per source.  Pattern
    order matters (emails redact before the phone pattern can claim
    their digit runs) and is identical in the oracle.

    Returns ``(key, clean_text, n_redactions)``.
    """
    clean = F.col(text_col)
    n_red = F.lit(0)
    for pat, repl in PII_PATTERNS:
        n_red = n_red + F.size(F.regexp_extract_all(clean, F.lit(pat), 0))
        clean = F.regexp_replace(clean, pat, repl)
    return df.select(
        F.col(key),
        clean.alias("clean_text"),
        n_red.cast("bigint").alias("n_redactions"),
    )


def chunk_dedup(
    df: DataFrame,
    text_col: str,
    key: str,
    *,
    chunk_tokens: int = 10,
) -> DataFrame:
    """Corpus-wide chunk-level deduplication: split each document into
    consecutive ``chunk_tokens``-token chunks, keep only the first
    occurrence of each distinct chunk corpus-wide (ordered by
    ``(key, chunk index)``), and reassemble documents from their
    surviving chunks.

    This is the classic boilerplate-line removal of C4/RefinedWeb-style
    cleaning (drop repeated headers/footers/nav text that exact
    document-level dedup misses), with fixed-size token chunks standing
    in for lines.  Shape: posexplode to chunk rows → one shuffle
    partitioned by the chunk content (first-occurrence filter) → one
    shuffle on the document key (ordered reassembly).  Only chunk rows
    shuffle; at 100 TB
    partition instead by ``xxhash64(chunk)`` buckets to keep reducer
    keys narrow, and pre-aggregate counts if only *frequent* chunks
    (true boilerplate) should drop.

    Returns ``(key, clean_text, n_chunks, n_kept)``; documents whose
    every chunk was seen elsewhere come back with an empty string.
    """
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"),
        lambda t: F.length(t) > F.lit(0),
    )
    n_chunks = F.ceil(F.size("__toks") / chunk_tokens).cast("int")
    chunks = (
        df.select(F.col(key), toks.alias("__toks"))
        .select(
            F.col(key),
            F.posexplode(
                # empty docs produce no chunk rows (sequence(0,-1) would
                # otherwise step backwards) — dropped on both engines
                F.when(
                    n_chunks > 0,
                    F.transform(
                        F.sequence(F.lit(0), n_chunks - 1),
                        lambda i: F.concat_ws(
                            " ",
                            F.slice(
                                F.col("__toks"),
                                i * chunk_tokens + 1,
                                chunk_tokens,
                            ),
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("ci", "chunk"),
        )
    )
    w = Window.partitionBy("chunk")
    first = F.min(F.struct(F.col(key), F.col("ci"))).over(w)
    kept = chunks.withColumn(
        "__keep",
        (F.col(key) == first[key]) & (F.col("ci") == first["ci"]),
    )
    return (
        kept.groupBy(key)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__keep"),
                                F.struct(F.col("ci"), F.col("chunk")),
                            )
                        )
                    ),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("clean_text"),
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum(F.col("__keep").cast("int")).cast("bigint").alias(
                "n_kept"
            ),
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    key: str,
    *,
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS algorithm): hash every
    ``k``-token gram, slide a ``w``-hash window, select each window's
    minimum (rightmost on ties), keep the distinct ``(position, hash)``
    selections.  Guarantee: any shared token run of length ≥ ``k+w-1``
    yields at least one shared fingerprint — the local-sampling property
    that makes winnowing the standard plagiarism/overlap detector.

    Entirely row-local JVM arrays (gram hashes computed once via
    ``bind_once``, windows as a transform over the hash array) followed
    by one explode — no shuffle; downstream overlap detection is an
    equi-join on ``fp``.  Hashes are the portable 60-bit md5 prefix used
    across the dedup family.

    Returns ``(key, pos, fp)``; documents shorter than ``k+w-1`` tokens
    emit nothing.
    """
    from table_streaming_source_spark.operators.hof import bind_once

    toks = _tokens(text_col)

    def gram_hashes(ts):
        return F.transform(
            F.sequence(F.lit(0), F.size(ts) - k),
            lambda i: F.conv(
                F.substring(
                    F.md5(F.concat_ws(" ", F.slice(ts, i + 1, k))), 1, 15
                ),
                16,
                10,
            ).cast("long"),
        )

    def selections(hs):
        def one(i):
            sl = F.slice(hs, i + 1, w)
            m = F.array_min(sl)
            rp = F.array_position(F.reverse(sl), m)
            return F.struct(
                (i + F.lit(w) - rp).cast("int").alias("pos"),
                m.alias("fp"),
            )

        return F.array_distinct(
            F.transform(F.sequence(F.lit(0), F.size(hs) - w), one)
        )

    return (
        df.select(F.col(key), toks.alias("__toks"))
        .filter(F.size("__toks") >= k + w - 1)
        .select(
            F.col(key),
            bind_once(
                bind_once(F.col("__toks"), gram_hashes), selections
            ).alias("__fps"),
        )
        .select(F.col(key), F.explode("__fps").alias("__s"))
        .select(
            F.col(key),
            F.col("__s.pos").alias("pos"),
            F.col("__s.fp").alias("fp"),
        )
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    key: str,
    *,
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination by n-gram overlap — the standard
    pre-training hygiene pass (GPT-3 §C / PaLM-style): a corpus document
    is contaminated when it shares any word ``n``-gram with the held-out
    benchmark set.

    Scale shape: the benchmark side reduces to its **distinct shingle
    set** (eval suites are tiny next to a 100 TB corpus) and is
    broadcast, so corpus shingles never shuffle — the whole operator is
    one broadcast-hash semi-count over the exploded corpus shingles plus
    one co-partitioned left join to re-attach zero-overlap documents.
    For a benchmark too large to broadcast, the same plan degrades to a
    shuffled join on the 16-byte shingle hash.

    Returns ``(key, n_shingles, n_overlap, contamination, contaminated)``;
    documents with fewer than ``n`` tokens emit no row (they have no
    shingles to match).
    """
    from table_streaming_source_spark.operators.dedup import shingle_table

    corp_sh = shingle_table(corpus, text_col, key, n)
    bench_set = (
        shingle_table(benchmark, text_col, key, n)
        .select("shingle")
        .distinct()
    )
    sz = corp_sh.groupBy(key).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles")
    )
    hits = (
        corp_sh.join(F.broadcast(bench_set), "shingle")
        .groupBy(key)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap"))
    )
    n_ov = F.coalesce(F.col("n_overlap"), F.lit(0)).cast("bigint")
    return sz.join(hits, key, "left").select(
        F.col(key),
        F.col("n_shingles"),
        n_ov.alias("n_overlap"),
        F.round(n_ov / F.col("n_shingles"), 6).alias("contamination"),
        (n_ov > 0).alias("contaminated"),
    )


def mixture_sample(
    df: DataFrame,
    strata_col: str,
    key: str,
    *,
    alpha: float = 0.7,
    target: int = 300,
) -> DataFrame:
    """Temperature-weighted domain mixture sampling: stratum ``s`` gets a
    quota ``⌊target · n_s^α / Σ n_t^α⌋`` documents (α < 1 upsamples rare
    domains relative to proportional sampling — the multilingual /
    domain-mixing rule of mBERT/XLM-R and LLM data recipes), filled by
    the ``md5(key)``-smallest documents so membership is a pure function
    of the key: reproducible across engines, partitionings, and reruns.

    Scale shape: the per-stratum count table is tiny (one row per
    domain) — aggregated, weighted, and broadcast back; the only big-data
    shuffle is the per-stratum ``row_number`` exchange, which at 100 TB
    is the same sort the stratified-quota sampler already pays (salt the
    hash-rank into ``P`` subpartitions per stratum and take per-salt
    quotas if one domain dominates the corpus).

    Returns selected rows ``(key, strata, n_stratum, quota, rk)``.
    """
    counts = df.groupBy(strata_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_stratum")
    )
    # weights ride the rounded-decimal path: a double SUM's merge order
    # varies run to run (and engine to engine), which can flip floor()
    # at a quota boundary.  round-9 absorbs libm pow ulp skew while
    # n_stratum^alpha ≪ 1e4 (ulp ~1e-13); the decimal sum is exact and
    # associative, so the total is bit-stable under any partitioning.
    pw = counts.withColumn(
        "__pw",
        F.round(
            F.pow(F.col("n_stratum").cast("double"), F.lit(alpha)), 9
        ).cast("decimal(18,9)"),
    )
    tot = pw.agg(F.sum("__pw").alias("__t"))
    quota = (
        pw.crossJoin(F.broadcast(tot))
        .select(
            strata_col,
            "n_stratum",
            F.floor(
                F.lit(float(target))
                * F.col("__pw").cast("double")
                / F.col("__t").cast("double")
            )
            .cast("bigint")
            .alias("quota"),
        )
    )
    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.col(key).cast("string")), F.col(key)
    )
    ranked = df.select(
        F.col(key),
        F.col(strata_col),
        F.row_number().over(w).cast("int").alias("rk"),
    )
    return (
        ranked.join(F.broadcast(quota), strata_col)
        .filter(F.col("rk") <= F.col("quota"))
        .select(key, strata_col, "n_stratum", "quota", "rk")
    )


def vocab_coverage(
    df: DataFrame, text_col: str, *, top_k: int = 500
) -> DataFrame:
    """Corpus vocabulary head: the ``top_k`` most frequent tokens with
    rank, cumulative count, and cumulative corpus-coverage fraction —
    the heavy-hitter / coverage curve a tokenizer-training or
    stopword-selection pass reads first.

    Scale shape: one hash aggregate on the token (map-side partial
    combine does the heavy lifting; the post-aggregate vocabulary is
    ≪ corpus size), then a NARROW per-partition top-``k`` pre-prune
    over the aggregate's own output partitions (Arrow ``mapInPandas``,
    zero additional exchange) before the global rank window, so the
    single ordered partition carries at most ``partitions × k``
    candidate rows — never the full vocabulary, which at web scale is
    10⁸–10⁹ tokens (Heaps' law).  Exactness: under the strict total
    order ``(cnt DESC, token ASC)`` any row of global rank ≤ k has
    fewer than k predecessors globally, hence fewer than k in its own
    partition, so it survives the per-partition prune; counts and the
    corpus total are computed BEFORE pruning, so rank/cum_cnt/coverage
    over ranks ≤ k are bit-identical to the unpruned plan.

    Returns ``(token, cnt, rank, cum_cnt, coverage)``.
    """
    tok = df.select(F.explode(_tokens(text_col)).alias("token"))
    counts = tok.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    tot = counts.agg(F.sum("cnt").cast("bigint").alias("__t"))

    def _part_topk(batches):  # pragma: no cover - executor-side
        import pandas as pd  # noqa: PLC0415

        keep: pd.DataFrame | None = None
        for pdf in batches:
            keep = pdf if keep is None else pd.concat(
                [keep, pdf], ignore_index=True
            )
            if len(keep) > 4 * top_k:  # stream: bound partition memory
                keep = keep.sort_values(
                    ["cnt", "token"], ascending=[False, True]
                ).head(top_k)
        if keep is not None:
            yield keep.sort_values(
                ["cnt", "token"], ascending=[False, True]
            ).head(top_k)

    candidates = counts.mapInPandas(_part_topk, schema=counts.schema)
    w = Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
    ranked = candidates.select(
        "token",
        "cnt",
        F.row_number().over(w).cast("int").alias("rank"),
        F.sum("cnt")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum_cnt"),
    )
    return (
        ranked.filter(F.col("rank") <= top_k)
        .crossJoin(F.broadcast(tot))
        .select(
            "token",
            "cnt",
            "rank",
            "cum_cnt",
            F.round(F.col("cum_cnt") / F.col("__t"), 6).alias("coverage"),
        )
    )


def pack_stats(
    df: DataFrame,
    text_col: str,
    key: str,
    *,
    budget: int = 512,
    shards: int = 8,
) -> DataFrame:
    """Pack-utilization accounting over :func:`pack_sequences`: each
    document's token span ``[offset, offset+n)`` is apportioned to the
    packs it overlaps (documents spill across pack boundaries exactly
    like the training layout), giving per-pack occupancy, document
    counts, and fill ratio — the tail pack of every shard is the one
    under 100%, which is what padding-overhead monitoring watches.

    Shape: the pack explosion is a row-local ``sequence`` (a document
    touches ``⌈n/budget⌉+1`` packs at most) followed by one hash
    aggregate on ``(shard, pack_id)``.  All counts are exact integers;
    the fill ratio is one deterministic division.

    Returns ``(shard, pack_id, n_docs, tokens_in_pack, fill_ratio)``.
    """
    base = pack_sequences(
        df, text_col, key, budget=budget, shards=shards
    ).filter(F.col("n_tokens") > 0)
    p0 = F.floor(F.col("offset") / budget)
    p1 = F.floor((F.col("offset") + F.col("n_tokens") - 1) / budget)
    exploded = base.select(
        "shard",
        "offset",
        "n_tokens",
        F.explode(F.sequence(p0, p1)).alias("pack_id"),
    )
    overlap = F.least(
        (F.col("pack_id") + 1) * budget,
        F.col("offset") + F.col("n_tokens"),
    ) - F.greatest(F.col("pack_id") * budget, F.col("offset"))
    return (
        exploded.select(
            "shard", F.col("pack_id").cast("int").alias("pack_id"),
            overlap.alias("__ov"),
        )
        .groupBy("shard", "pack_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("__ov").cast("bigint").alias("tokens_in_pack"),
        )
        .withColumn(
            "fill_ratio", F.col("tokens_in_pack") / F.lit(float(budget))
        )
    )


# ---------------------------------------------------------------------------
# BPE subword tokenization (Sennrich et al. 2016, word-level training)
# ---------------------------------------------------------------------------

#: symbol separator inside the merge fold's string accumulator — never
#: appears in a symbol (symbols are built from [a-z] only), which is what
#: makes the suffix test identify the *last whole symbol* exactly.
_BPE_US = "\x1f"


def _bpe_chars(word: Column) -> Column:
    """Initial BPE state: the word as an array of single characters."""
    return F.transform(
        F.sequence(F.lit(1), F.length(word)),
        lambda i: F.substr(word, i, F.lit(1)),
    )


def _bpe_pairs(syms: Column) -> Column:
    """All adjacent symbol pairs of a word, as an array of (a, b) structs
    — ``zip_with`` over two shifted slices, so a 1-symbol word yields an
    empty array with no conditional."""
    n = F.size(syms)
    return F.zip_with(
        F.slice(syms, F.lit(1), n - 1),
        F.slice(syms, F.lit(2), n - 1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )


def _bpe_merge(syms: Column, a: Column, b: Column) -> Column:
    """Greedy left-to-right non-overlapping merge of the pair ``(a, b)``
    in one pass — the BPE apply step as a single ``aggregate`` fold.

    Each symbol is tagged with a separator prefix and folded into a
    string accumulator; the pair merges exactly when the accumulator's
    last *whole symbol* equals ``a`` and the incoming symbol is ``b``,
    in which case appending ``b``'s bare text fuses them.  Because a
    fused ``a||b`` no longer ends with the separator-delimited ``a``,
    overlapping runs (``aaa`` under merge ``(a,a)``) resolve left-to-
    right exactly as BPE specifies.  The identical fold is expressible
    in DuckDB (``list_reduce``), which is what makes learned-merge
    training value-checkable end to end."""
    us = F.lit(_BPE_US)
    tagged = F.transform(syms, lambda s: F.concat(us, s))
    folded = F.aggregate(
        F.slice(tagged, F.lit(2), F.size(tagged) - 1),
        F.element_at(tagged, 1),
        lambda acc, x: F.when(
            acc.endswith(F.concat(us, a)) & (x == F.concat(us, b)),
            F.concat(acc, F.substr(x, F.lit(2))),
        ).otherwise(F.concat(acc, x)),
    )
    return F.split(F.substr(folded, F.lit(2)), _BPE_US)


def bpe_word_counts(df: DataFrame, text_col: str, key: str) -> DataFrame:
    """The BPE training corpus: lowercase ``[a-z]+`` words with corpus
    frequencies.  This is the classic reduction that makes BPE training
    tractable at any scale — all pair statistics are per *distinct word*
    weighted by frequency, so a 100 TB corpus collapses to a vocabulary
    of a few million rows before any iteration runs."""
    words = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"),
        lambda w: F.length(w) > 0,
    )
    return (
        df.select(F.explode(words).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def bpe_train(
    word_counts: DataFrame, *, rounds: int = 4
) -> tuple[DataFrame, DataFrame]:
    """Learn ``rounds`` BPE merges: per round, ONE hash aggregate counts
    adjacent symbol pairs (weighted by word frequency, overlaps counted
    — the standard formulation), a 1-row top-1 picks the most frequent
    pair (ties broken lexicographically), and the merge applies to every
    vocabulary word as a row-local fold.

    Returns ``(merges, vocab)``: the learned
    ``(merge_round, merge_a, merge_b, cnt)`` table and the final
    symbolized vocabulary ``(word, freq, syms)`` for :func:`bpe_encode`.

    Scale shape: iterations run over the *word-count vocabulary*, never
    the corpus; the pair count is a map-combinable aggregate on the pair
    key; the winning pair is a broadcast SCALAR (always exactly one row
    — bounded by design, unlike the corpus-derived tables this module
    refuses to force-broadcast); and the merge application is pure
    row-local expression code under whole-stage codegen — no UDF, no
    driver loop over rows."""
    from functools import reduce

    vocab = word_counts.withColumn("syms", _bpe_chars(F.col("word")))
    merges = []
    for r in range(rounds):
        pairs = (
            vocab.select(
                "freq", F.explode(_bpe_pairs(F.col("syms"))).alias("p")
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
        )
        # 1-row argmax, consumed twice (output row + merge application):
        # lazy localCheckpoint cuts the round-over-round lineage growth
        best = (
            pairs.orderBy(F.desc("cnt"), "a", "b")
            .limit(1)
            .localCheckpoint(eager=False)
        )
        merges.append(
            best.select(
                F.lit(r).alias("merge_round"),
                F.col("a").alias("merge_a"),
                F.col("b").alias("merge_b"),
                F.col("cnt"),
            )
        )
        # LEFT join on TRUE, not crossJoin: when a round has no pairs
        # left to merge (tiny corpus, or rounds > learnable merges) the
        # argmax is EMPTY, and a cross join would annihilate the whole
        # vocabulary; the left join keeps every word with null (a, b)
        # and the merge becomes a per-row no-op for that round.
        vocab = (
            vocab.join(F.broadcast(best), F.lit(True), "left")
            .withColumn(
                "syms",
                F.when(
                    F.col("a").isNotNull(),
                    _bpe_merge(F.col("syms"), F.col("a"), F.col("b")),
                ).otherwise(F.col("syms")),
            )
            .drop("a", "b", "cnt")
            # per-round lazy checkpoint (the dedup_components pattern):
            # without it round r's pair count re-executes the corpus
            # word-count shuffle AND all r prior merge folds — the
            # corpus aggregate ran once per round, O(rounds²) fold
            # applications overall.  With it each round starts from the
            # previous round's materialized vocabulary: the corpus
            # aggregate runs ONCE and every fold applies ONCE.
            .localCheckpoint(eager=False)
        )
    return reduce(DataFrame.unionByName, merges), vocab


def bpe_encode_counts(
    df: DataFrame, vocab: DataFrame, text_col: str, key: str
) -> DataFrame:
    """Encode documents with a trained BPE vocabulary: per document, the
    word count and the total subword-token count under the learned
    merges — the token-budget estimator a pretraining pipeline runs over
    every candidate document.

    One shuffle join on ``word`` (the vocabulary is corpus-derived, so
    it is NOT force-broadcast — AQE converts genuinely small vocabs at
    runtime) followed by one hash aggregate on the document key."""
    words = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"),
        lambda w: F.length(w) > 0,
    )
    doc_words = df.select(F.col(key), F.explode(words).alias("word"))
    pieces = vocab.select(
        "word", F.size("syms").alias("__n_pieces")
    )
    return (
        doc_words.join(pieces, "word")
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("__n_pieces").cast("bigint").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# trainable quality classifier (linear model, unrolled gradient steps)
# ---------------------------------------------------------------------------

def _hard_sigmoid(z: Column) -> Column:
    """``clip(0.25·z + 0.5, 0, 1)`` — the piecewise-linear logistic link.
    Chosen over ``exp``-based sigmoid deliberately: it is EXACT integer/
    IEEE arithmetic in both engines, so training is value-checkable
    bit-for-bit (a libm ``exp`` differs across engines by ulps, which
    compound over gradient steps)."""
    return F.least(F.lit(1.0), F.greatest(F.lit(0.0), 0.25 * z + 0.5))


def quality_features(df: DataFrame, text_col: str, key: str) -> DataFrame:
    """Deterministic per-doc features for the quality classifier: bias,
    scaled char count, scaled whitespace-token count; label = is-English.
    All per-row IEEE arithmetic — exact in any engine."""
    tk = F.split(
        F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "), " "
    )
    return df.select(
        F.col(key),
        (F.col("lang") == "en").cast("double").alias("y"),
        F.lit(1.0).alias("x0"),
        (F.col("n_chars") / F.lit(1000.0)).alias("x1"),
        (F.size(tk) / F.lit(100.0)).alias("x2"),
    )


def train_linear_quality(
    feats: DataFrame, *, steps: int = 3, lr: float = 0.1
) -> DataFrame:
    """Train a linear quality classifier IN-ENGINE by ``steps`` unrolled
    batch-gradient updates — the SQL-expressible core of the fastText-
    style quality scorers every pretraining pipeline runs.

    Update rule per step (linear probability model, hard-sigmoid link):
    ``w_j ← round(w_j + lr · Σ_i (y_i − p_i)·x_ij / n, 9)`` with
    ``p = clip(0.25·w·x + 0.5, 0, 1)``.  Per-row products round to 9
    decimals and sum on the exact decimal path, so every step is
    associative and partitioning-independent — the same fixed-point
    discipline as `sim_kmeans_refine`, which is what lets DuckDB restate
    the whole training loop.

    Scale shape: each step is ONE map-combinable aggregate over the
    feature table plus a 1-row broadcast-scalar weight update (bounded
    by design); nothing iterates driver-side over rows.  Returns one row:
    final weights, training accuracy, corpus size."""
    spark = feats.sparkSession
    w = spark.range(1).select(
        F.lit(0.0).alias("w0"), F.lit(0.0).alias("w1"),
        F.lit(0.0).alias("w2"),
    )
    for _ in range(steps):
        j = feats.crossJoin(F.broadcast(w))
        z = (
            F.col("w0") * F.col("x0")
            + F.col("w1") * F.col("x1")
            + F.col("w2") * F.col("x2")
        )
        p = _hard_sigmoid(z)
        g = j.agg(
            *[
                F.sum(
                    F.round((F.col("y") - p) * F.col(f"x{k}"), 9)
                    .cast("decimal(18,9)")
                ).cast("double").alias(f"g{k}")
                for k in range(3)
            ],
            F.count(F.lit(1)).alias("n"),
            *[F.first(f"w{k}").alias(f"w{k}") for k in range(3)],
        )
        w = g.select(
            *[
                F.round(
                    F.col(f"w{k}") + F.lit(lr) * F.col(f"g{k}") / F.col("n"),
                    9,
                ).alias(f"w{k}")
                for k in range(3)
            ]
        ).localCheckpoint(eager=False)
    scored = feats.crossJoin(F.broadcast(w))
    z = (
        F.col("w0") * F.col("x0")
        + F.col("w1") * F.col("x1")
        + F.col("w2") * F.col("x2")
    )
    correct = (
        (_hard_sigmoid(z) >= 0.5) == (F.col("y") == 1.0)
    ).cast("long")
    return scored.agg(
        *[F.first(f"w{k}").alias(f"w{k}") for k in range(3)],
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum(correct).cast("double") / F.count(F.lit(1)), 6
        ).alias("accuracy"),
    )


def feature_hash(
    df: DataFrame,
    text_col: str,
    key: str,
    *,
    n_buckets: int = 16,
) -> DataFrame:
    """Hashing-trick vectorizer (Weinberger et al. 2009): tokens hash
    into ``n_buckets`` signed buckets — the fixed-width featurizer that
    lets a linear model train over an unbounded vocabulary with NO
    vocabulary table at all (contrast :func:`tfidf_top_terms`, which
    must aggregate one).

    Portable arithmetic: the 60-bit md5 token hash picks the bucket
    (``h % n_buckets``) and an INDEPENDENT md5 hex digit the sign (the
    16th digit's parity — independent of the bucket bits by
    construction, and integer-exact in both engines, where a ``h //
    n_buckets`` on a 60-bit value would round through a double), so
    DuckDB restates it exactly; signed counts cancel hash collisions in
    expectation, per the paper.  Shape: row-local hashing + ONE
    partial/final hash aggregate on (doc, bucket) — at 100 TB the
    output is ``docs × n_buckets`` fixed-width rows and the token
    explosion never shuffles (map-side combine collapses it)."""
    tk = F.filter(
        F.split(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "), " "),
        lambda t: F.length(t) > 0,
    )
    h = F.conv(F.substring(F.md5(F.col("__tok")), 1, 15), 16, 10).cast(
        "long"
    )
    sign_digit = F.conv(F.substring(F.md5(F.col("__tok")), 16, 1), 16, 10).cast(
        "long"
    )
    sign = F.when(sign_digit % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
    return (
        df.select(F.col(key), F.explode(tk).alias("__tok"))
        .select(
            F.col(key),
            (h % n_buckets).cast("int").alias("bucket"),
            sign.alias("__sign"),
        )
        .groupBy(key, "bucket")
        .agg(
            F.sum("__sign").cast("bigint").alias("feat"),
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        )
    )


def url_canonical_dedup(
    df: DataFrame, url_col: str, key: str
) -> DataFrame:
    """URL-canonicalization dedup — the first dedup pass of every web
    corpus (Common-Crawl-style): two fetches of the same page under
    scheme/host case noise and tracking query params are one document.

    Canonical form: ``https://`` + lowercased host + path with any
    trailing slash stripped; the query string is dropped entirely (the
    fixture URLs carry only tracking params — a production variant keeps
    an allowlist, which slots into the same expression).  Extraction
    uses Spark's ``parse_url`` (row-local, codegen'd); the group key is
    the canonical string, so the aggregate is one hash-shuffle of
    URL-sized keys — payloads never move, the exact-dedup discipline
    applied at the URL layer.

    Returns one row per canonical URL: ``(canonical_url, keep_<key> =
    min key, n_copies)``.
    """
    # try_parse_url, not parse_url: under ANSI mode (the Spark 4
    # default) parse_url THROWS on malformed URLs — one bad row would
    # kill the job instead of reaching the sentinel branch below
    host = F.lower(F.try_parse_url(F.col(url_col), F.lit("HOST")))
    path = F.regexp_replace(
        F.try_parse_url(F.col(url_col), F.lit("PATH")), "/$", ""
    )
    # try_parse_url yields NULL for malformed URLs; a NULL canonical would
    # merge every unparseable row into ONE group (unrelated documents
    # "deduplicated" together).  Unparseable rows stay singletons under
    # a per-key sentinel — route them to a quarantine/repair pass
    # upstream when they matter.
    canonical = F.coalesce(
        F.concat(F.lit("https://"), host, path),
        F.concat(F.lit("unparseable:"), F.col(key).cast("string")),
    )
    return (
        df.select(F.col(key).alias("__k"), canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("__k").alias(f"keep_{key}"),
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        )
    )


#: the Gopher rule-set stopword list (Rae et al. 2021, "Scaling Language
#: Models: Methods, Analysis & Insights from Training Gopher", §A1.1 —
#: public paper): a document must contain at least 2 of these.
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_quality(
    df: DataFrame,
    text_col: str,
    key: str,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_fraction: float = 0.8,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """The Gopher / MassiveText quality rule set (Rae et al. 2021,
    §A1.1) as explicit per-document flags — the standard pre-training
    corpus filter battery: word-count bounds, mean-word-length bounds,
    symbol-to-word ratio (``#`` and ``...``), fraction of words with at
    least one alphabetic character, and the ≥2-stopwords rule.

    Everything is a row-local JVM array expression over the whitespace
    tokens: zero shuffles, zero UDFs — at 100 TB this is a pure map
    stage fused into the scan.  Unlike :func:`quality_score` (a
    composite heuristic), this emits each published rule as its own
    boolean so downstream mixes can ablate rules independently.

    Returns ``(key, n_words, mean_word_len, symbol_ratio,
    alpha_fraction, stopword_hits, pass_words, pass_word_len,
    pass_symbols, pass_alpha, pass_stopwords, pass_all)``.
    """
    toks = _tokens(text_col)
    n_words = F.size(toks)
    mean_len = F.aggregate(
        toks, F.lit(0), lambda acc, t: acc + F.length(t)
    ).cast("double") / n_words
    n_symbols = F.size(
        F.filter(
            toks,
            lambda t: t.contains("#") | t.contains("..."),
        )
    )
    symbol_ratio = n_symbols.cast("double") / n_words
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    alpha_fraction = n_alpha.cast("double") / n_words
    sw = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    # occurrences across the published 8-word set (a stopword appearing
    # twice counts twice — the rule is "contains at least 2", satisfied
    # by repetition in the original formulation)
    stopword_hits = F.size(
        F.filter(toks, lambda t: F.array_contains(sw, t))
    )
    pass_words = (n_words >= min_words) & (n_words <= max_words)
    pass_word_len = (mean_len >= min_mean_word_len) & (
        mean_len <= max_mean_word_len
    )
    pass_symbols = symbol_ratio <= max_symbol_ratio
    pass_alpha = alpha_fraction >= min_alpha_fraction
    pass_stopwords = stopword_hits >= min_stopword_hits
    return df.select(
        F.col(key),
        n_words.cast("int").alias("n_words"),
        F.round(mean_len, 6).alias("mean_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_ratio"),
        F.round(alpha_fraction, 6).alias("alpha_fraction"),
        stopword_hits.cast("int").alias("stopword_hits"),
        pass_words.alias("pass_words"),
        pass_word_len.alias("pass_word_len"),
        pass_symbols.alias("pass_symbols"),
        pass_alpha.alias("pass_alpha"),
        pass_stopwords.alias("pass_stopwords"),
        (
            pass_words
            & pass_word_len
            & pass_symbols
            & pass_alpha
            & pass_stopwords
        ).alias("pass_all"),
    )


#: C4 cleaning rule constants (Raffel et al. 2019, "Exploring the Limits
#: of Transfer Learning with a Unified Text-to-Text Transformer", §2.2 —
#: public paper): line-level keep rules + page-level minimum.
C4_BANNED_SUBSTRINGS: tuple[str, ...] = ("javascript", "lorem ipsum", "{")
C4_TERMINAL_PUNCT: tuple[str, ...] = (".", "!", "?", '"')


def c4_line_filter(
    df: DataFrame,
    lines_col: str,
    key: str,
    *,
    min_words_per_line: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """The C4 line-level cleaning battery (Raffel et al. 2019 §2.2) over
    an ``array<string>`` of lines: keep a line iff it ends in terminal
    punctuation AND has ≥ ``min_words_per_line`` words AND contains none
    of the banned substrings (``javascript`` / ``lorem ipsum`` / curly
    brace); keep the page iff ≥ ``min_kept_lines`` lines survive.

    Entirely row-local array expressions (filter / size / array_join) —
    no explode, no shuffle; a 100 TB cleaning pass is one map stage.

    Returns ``(key, n_lines, n_kept, n_words_kept, keep_doc,
    clean_text)`` — ``clean_text`` is the surviving lines re-joined
    with ``\\n`` in original order.
    """
    term = F.array(*[F.lit(p) for p in C4_TERMINAL_PUNCT])

    def line_ok(line: Column) -> Column:
        ends = F.exists(
            term, lambda p: line.endswith(p)
        )
        words = F.size(
            F.filter(
                F.split(line, r"\s+"), lambda w: F.length(w) > F.lit(0)
            )
        )
        banned = F.lit(False)
        for b in C4_BANNED_SUBSTRINGS:
            banned = banned | F.lower(line).contains(b)
        return ends & (words >= min_words_per_line) & ~banned

    kept = F.filter(F.col(lines_col), line_ok)
    n_words_kept = F.aggregate(
        kept,
        F.lit(0),
        lambda acc, line: acc
        + F.size(
            F.filter(
                F.split(line, r"\s+"), lambda w: F.length(w) > F.lit(0)
            )
        ),
    )
    return df.select(
        F.col(key),
        F.size(F.col(lines_col)).cast("int").alias("n_lines"),
        F.size(kept).cast("int").alias("n_kept"),
        n_words_kept.cast("int").alias("n_words_kept"),
        (F.size(kept) >= min_kept_lines).alias("keep_doc"),
        F.array_join(kept, "\n").alias("clean_text"),
    )


def line_dedup(df: DataFrame, lines_col: str, key: str) -> DataFrame:
    """Corpus-WIDE exact line deduplication (the C4 global rule: any
    line occurring more than once in the corpus is kept only at its
    first occurrence): explode to ``(key, pos, line)``, elect one owner
    per distinct line — the minimum ``(key, pos)`` pair, an associative
    struct-min — and rebuild each document from the lines it owns.

    Scale shape: lines hash-partition on their content for the owner
    election (one aggregate), and the ownership join is co-partitioned
    with it (same key, no extra exchange under AQE); document payloads
    beyond the line text never move.  Docs whose every line is owned
    elsewhere survive with ``n_kept = 0`` and empty text — dropping
    them is the caller's mixture decision, not the dedup's.

    Returns ``(key, n_lines, n_kept, clean_text)``.
    """
    ex = df.select(
        F.col(key), F.posexplode(F.col(lines_col)).alias("pos", "line")
    )
    # two consumers (owner election + ownership probe): without the pin
    # the caller's line derivation (reflow/split of every document) and
    # the explode execute once per leg (round 15, guide §2.4); lazy —
    # materializes inside the first consuming job.
    ex = ex.localCheckpoint(eager=False)
    owner = ex.groupBy("line").agg(
        F.min(
            F.struct(F.col(key).alias("k"), F.col("pos").alias("p"))
        ).alias("o")
    )
    kept = (
        ex.join(owner, "line")
        .filter(
            (F.col(key) == F.col("o.k")) & (F.col("pos") == F.col("o.p"))
        )
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("pos"), F.col("line"))
                        )
                    ),
                    lambda s: s.getField("line"),
                ),
                "\n",
            ).alias("clean_text"),
        )
    )
    base = df.select(
        F.col(key), F.size(F.col(lines_col)).cast("int").alias("n_lines")
    )
    return (
        base.join(kept, key, "left")
        .select(
            F.col(key),
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )


def repeated_substring_spans(
    df: DataFrame,
    text_col: str,
    key: str,
    *,
    k: int = 40,
    min_count: int = 2,
) -> DataFrame:
    """Character-level repeated-substring detection (the exact-substring
    dedup signal of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better" — suffix-array motivation, streaming-shaped
    here): every ``k``-char window is fingerprinted row-locally, windows
    whose fingerprint occurs ≥ ``min_count`` times anywhere in the corpus
    are marked, and per document the marked windows merge into MAXIMAL
    duplicated spans (gaps-and-islands over window starts).

    Scale shape: the gram table carries (key, offset, 16-byte digest) —
    never the text — so the only shuffles are digest-keyed (count +
    mark join) and the island window is partitioned per DOCUMENT
    (bounded by its length).  Returns per-document
    ``(n_spans, dup_chars, dup_frac)`` with zero-span documents kept."""
    n = F.length(F.col(text_col))
    # the window fingerprint is internal (only its collision classes
    # matter, never its value): xxhash64 instead of md5 — an 8-byte
    # long per window in every exchange instead of a 32-char hex
    # string, and a far cheaper per-window hash (round 15; the same
    # digest discipline jaccard_prefix_pairs documents — collisions
    # would merge two windows corpus-wide, birthday odds ~1e-7 at 1e6
    # windows, and the exhaustive md5-based oracle would catch one)
    grams = df.filter(n >= k).select(
        F.col(key),
        F.explode(
            F.expr(
                f"transform(sequence(1, length({text_col}) - {k} + 1),"
                f" i -> struct(i AS i,"
                f" xxhash64(substring({text_col}, i, {k})) AS g))"
            )
        ).alias("__w"),
    ).select(
        key, F.col("__w.i").alias("i"), F.col("__w.g").alias("g")
    # the gram explode (a hash per character position of every
    # document) feeds both the count aggregate and the mark join:
    # materialize it once instead of fingerprinting the corpus twice
    ).localCheckpoint(eager=False)
    counts = grams.groupBy("g").agg(F.count(F.lit(1)).alias("cnt"))
    marked = (
        grams.join(counts.filter(F.col("cnt") >= min_count), "g")
        .select(key, "i")
    )
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy("i")
    prev_end = F.max(F.col("i") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = marked.withColumn(
        "__new",
        F.when(
            prev_end.isNull() | (F.col("i") > prev_end), 1
        ).otherwise(0),
    ).withColumn(
        "__isl",
        F.sum("__new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = flagged.groupBy(key, "__isl").agg(
        (F.max("i") + k - F.min("i")).alias("__len")
    )
    per_doc = spans.groupBy(key).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum("__len").cast("bigint").alias("dup_chars"),
    )
    base = df.select(F.col(key), F.length(F.col(text_col)).alias("__n"))
    return (
        base.join(per_doc, key, "left")
        .select(
            key,
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("dup_chars", F.lit(0)).cast("bigint").alias(
                "dup_chars"
            ),
            # integer-boundary rounding (scale-then-round) — the
            # text_edit_distance discipline for int/int quotients
            (
                F.round(
                    F.coalesce("dup_chars", F.lit(0)) * 1_000_000 / F.col("__n")
                ).cast("long")
                / 1_000_000
            ).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# HTML table extraction — the structured-data sibling of boilerplate
# stripping (web corpora carry most of their factual payload in tables)
# ---------------------------------------------------------------------------

def synth_html_table(key: int, snippet: str) -> str:
    """A deterministic HTML page with one attribute-bearing table:
    ``2 + key%4`` data rows × ``2 + key%3`` columns, cell (i, j) =
    ``(key·7 + i·5 + j·3) % 1000``, header cells ``h0..``; cell (0,0)
    is wrapped in ``<b>`` so extraction must strip inline tags."""
    r = 2 + key % 4
    c = 2 + key % 3
    head = "".join(f"<th>h{j}</th>" for j in range(c))
    rows = []
    for i in range(r):
        cells = []
        for j in range(c):
            v = (key * 7 + i * 5 + j * 3) % 1000
            body = f"<b>{v}</b>" if i == 0 and j == 0 else str(v)
            cells.append(f'<td class="c{j}">{body}</td>')
        rows.append("<tr>" + "".join(cells) + "</tr>")
    return (
        f"<html><body><p>{snippet}</p>"
        f'<table class="data" id="t{key}"><tr>{head}</tr>'
        + "".join(rows)
        + "</table></body></html>"
    )


def _parse_html_tables(html: str) -> list[list[list[str]]]:
    """A small real tag tokenizer (not a regex pass): walks ``<tag
    attrs>`` / ``</tag>`` / text, tracks table/tr/cell state with the
    HTML implied-end-tag rules for ``td``/``th``/``tr`` (a new cell or
    row closes the previous one), strips inline markup inside cells,
    and decodes the four basic entities.  Returns tables → rows →
    cell texts."""
    tables: list[list[list[str]]] = []
    rows: list[list[str]] = []
    cells: list[str] = []
    buf: list[str] = []
    in_table = in_row = in_cell = False
    pos = 0
    n = len(html)

    def close_cell() -> None:
        nonlocal in_cell
        if in_cell:
            text = "".join(buf).strip()
            for ent, ch in (
                ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&amp;", "&"),
            ):
                text = text.replace(ent, ch)
            cells.append(" ".join(text.split()))
            buf.clear()
            in_cell = False

    def close_row() -> None:
        nonlocal in_row
        close_cell()
        if in_row and cells:
            rows.append(list(cells))
        cells.clear()
        in_row = False

    while pos < n:
        lt = html.find("<", pos)
        if lt < 0:
            if in_cell:
                buf.append(html[pos:])
            break
        if in_cell and lt > pos:
            buf.append(html[pos:lt])
        gt = html.find(">", lt)
        if gt < 0:
            break
        tag = html[lt + 1 : gt].strip()
        closing = tag.startswith("/")
        name = tag.lstrip("/").split()[0].lower() if tag.lstrip("/") else ""
        if name == "table":
            if closing:
                close_row()
                if in_table:
                    tables.append(list(rows))
                rows.clear()
                in_table = False
            else:
                in_table = True
        elif in_table and name == "tr":
            close_row()
            if not closing:
                in_row = True
        elif in_table and name in ("td", "th"):
            close_cell()
            if not closing:
                in_cell = True
        # any other tag inside a cell is inline markup: drop the tag,
        # keep its text (the <b> case)
        pos = gt + 1
    return tables


def extract_html_tables(
    df: DataFrame, html_col: str, key: str
) -> DataFrame:
    """Per-document table census: one output row per table with its
    data-row count, max column width, pipe-joined header (th) row, and
    the sum of integer-parseable data cells.  Arrow-batched
    ``mapInPandas``, zero shuffles — the extraction a 100 TB web
    corpus runs as a pure map."""
    import pandas as pd

    def batches(it):
        for pdf in it:
            out = {
                "key": [], "table_idx": [], "n_data_rows": [],
                "n_cols": [], "header": [], "cell_sum": [],
            }
            for k, html in zip(pdf[key], pdf[html_col]):
                for ti, tbl in enumerate(_parse_html_tables(str(html))):
                    header: list[str] = []
                    data_rows = 0
                    width = 0
                    total = 0
                    for ri, row in enumerate(tbl):
                        width = max(width, len(row))
                        if ri == 0:
                            header = row
                            continue
                        data_rows += 1
                        for cell in row:
                            try:
                                total += int(cell)
                            except ValueError:
                                pass
                    out["key"].append(int(k))
                    out["table_idx"].append(ti)
                    out["n_data_rows"].append(data_rows)
                    out["n_cols"].append(width)
                    out["header"].append("|".join(header))
                    out["cell_sum"].append(total)
            yield pd.DataFrame(out).astype(
                {
                    "key": "int64", "table_idx": "int32",
                    "n_data_rows": "int32", "n_cols": "int32",
                    "cell_sum": "int64",
                }
            )

    return df.mapInPandas(
        batches,
        schema=(
            "key long, table_idx int, n_data_rows int, n_cols int, "
            "header string, cell_sum long"
        ),
    )


def rake_keywords(
    df: DataFrame,
    text_col: str,
    key: str,
    *,
    stopwords: Sequence[str] = STOPWORDS,
    max_phrase_len: int = 4,
    top_n: int = 10,
) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010, "Automatic Keyword
    Extraction from Individual Documents" — the public spec):
    candidate phrases are maximal stopword-free token runs; each
    word scores degree/frequency over the candidate set (degree =
    Σ phrase lengths containing it), a phrase scores the sum of its
    words' scores, and the corpus's distinct phrases rank by score.

    Shape: one posexplode to (doc, pos, token), a running stopword
    count assigns phrase ids WITHOUT a shuffle beyond the per-doc
    window, phrases assemble via an order-pinned array_sort (never an
    unordered collect_list), and word stats are two hash aggregates
    over the phrase-word list.  Ties rank by phrase text — fully
    deterministic."""
    toks = df.select(
        F.col(key).alias("__k"),
        F.posexplode(_tokens(text_col)).alias("__pos", "__tok"),
    )
    sw = F.array(*[F.lit(s) for s in stopwords])
    marked = toks.select(
        "__k",
        "__pos",
        "__tok",
        F.array_contains(sw, F.col("__tok")).cast("int").alias("__stop"),
    )
    w = (
        Window.partitionBy("__k")
        .orderBy("__pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    phrased = marked.withColumn(
        "__pid", F.sum("__stop").over(w)
    ).filter(F.col("__stop") == 0)
    phrases = (
        phrased.groupBy("__k", "__pid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__pos", "__tok"))
                    ),
                    lambda s: s["__tok"],
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).alias("__len"),
        )
        .filter(F.col("__len") <= max_phrase_len)
        .select("phrase", "__len")
        .distinct()
    )
    words = phrases.select(
        F.explode(F.split("phrase", " ")).alias("word"), "__len"
    )
    scores = words.groupBy("word").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("__len").alias("degree"),
    ).select(
        "word",
        (F.col("degree").cast("double") / F.col("freq")).alias("ws"),
    )
    ranked = (
        phrases.select(
            "phrase", F.explode(F.split("phrase", " ")).alias("word")
        )
        .join(scores, "word")
        .groupBy("phrase")
        .agg(F.round(F.sum("ws"), 9).alias("rake_score"))
        .orderBy(F.desc("rake_score"), F.asc("phrase"))
        .limit(top_n)
    )
    return ranked
