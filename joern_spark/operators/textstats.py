"""Text-analysis operators over the `documents` table — the
training-data-pipeline counterpart of the reference's per-node property
computations (joern's CODE/NAME property extraction per AST node;
metrics queries in querydb, e.g. querydb/src/main/scala/io/joern/scanners —
each metric is a pure column expression over one scan).

All ops are single-scan, shuffle-free column expressions (whole-stage
codegen end to end); every value is reproduced exactly by the DuckDB
oracle in joern_spark.oracle_docs (integer-exact arithmetic, shared md5
hashing). At 100 TB these run at parquet-scan speed: no Python, no
shuffle, predicates/projections push down to the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from joern_spark.functions.hashing import md5_long, tokens_col

# Tiny per-language keyword profiles for the n-gram/stopword lang-id
# heuristic. Deterministic and mirrored in the oracle; tie-break order is
# the list order below (first wins via greatest+struct trick).
LANG_PROFILES: list[tuple[str, list[str]]] = [
    ("en", ["the", "a", "of", "and", "is", "to", "in", "value", "fast"]),
    ("de", ["der", "die", "das", "und", "ist", "nicht", "mit"]),
    ("fr", ["le", "la", "les", "et", "est", "dans", "pour"]),
    ("es", ["el", "la", "los", "y", "es", "en", "para"]),
]

STOPWORDS = ["the", "a", "of", "and", "is", "to", "in"]


def _hits(tokens: Column, words: list[str]) -> Column:
    wl = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens, lambda t: F.array_contains(wl, t)))


def quality_col(toks) -> F.Column:
    """Scalar quality score over a token-array column — shared by
    doc_stats and curate.curation_verdict so both compute the identical
    expression (and DuckDB mirrors it once)."""
    n_tokens = F.size(toks)
    stop_ratio = _hits(toks, STOPWORDS).cast("double") / n_tokens
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    return (
        F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0)) * F.lit(0.5)
        + stop_ratio * F.lit(0.3)
        + uniq_ratio * F.lit(0.2)
    )


def doc_stats(documents: DataFrame) -> DataFrame:
    """Per-document token/quality statistics (token counting + quality
    scoring). Ratios divide exact integers, so Spark and DuckDB produce
    bit-identical doubles with no rounding games."""
    toks = tokens_col(F.col("text"))
    d = documents.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        toks.alias("toks"),
    )
    n_tokens = F.size("toks")
    n_uniq = F.size(F.array_distinct("toks"))
    n_stop = _hits(F.col("toks"), STOPWORDS)
    stop_ratio = n_stop.cast("double") / n_tokens
    uniq_ratio = n_uniq.cast("double") / n_tokens
    return d.select(
        "doc_id",
        "n_chars",
        n_tokens.alias("n_tokens"),
        n_uniq.alias("n_uniq_tokens"),
        n_stop.alias("n_stopwords"),
        stop_ratio.alias("stopword_ratio"),
        uniq_ratio.alias("uniq_ratio"),
        quality_col(F.col("toks")).alias("quality"),
    )


def lang_id(documents: DataFrame) -> DataFrame:
    """Keyword-profile language ID: count profile hits per language, pick
    the max (ties broken by profile order). A real deployment swaps the
    profiles for char-n-gram tables; the operator shape (N profile scores
    → argmax, one scan) is the production shape."""
    toks = tokens_col(F.col("text"))
    d = documents.select("doc_id", toks.alias("toks"))
    scored = d.select(
        "doc_id",
        *[_hits(F.col("toks"), words).alias(f"{lang}_hits") for lang, words in LANG_PROFILES],
    )
    # argmax with first-wins tie-break: compare (hits, -index) structs
    best = F.greatest(
        *[
            F.struct(
                F.col(f"{lang}_hits").alias("h"),
                F.lit(-i).alias("prio"),
                F.lit(lang).alias("lang"),
            )
            for i, (lang, _) in enumerate(LANG_PROFILES)
        ]
    )
    return scored.select(
        "doc_id",
        *[f"{lang}_hits" for lang, _ in LANG_PROFILES],
        F.when(best["h"] > 0, best["lang"]).otherwise(F.lit("und")).alias("lang_guess"),
    )


def fingerprints(documents: DataFrame, ngram: int = 4, window: int = 5) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 — the
    rolling-hash fingerprinting used by near-dup/plagiarism pipelines):
    hash every `ngram`-token shingle, keep the minimum hash in each
    sliding window of `window` shingles, emit the distinct set.

    Spark shape: posexplode (no shuffle) → window min over
    (doc_id, position) → distinct. The per-doc window is the same
    partitioning the dedup ops use, so at scale one repartition(doc_id)
    serves all of them."""
    toks = tokens_col(F.col("text"))
    t = documents.select("doc_id", F.posexplode(toks).alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    sh = t.select(
        "doc_id",
        "pos",
        F.concat_ws(
            " ", "tok", *[F.lead("tok", k).over(w) for k in range(1, ngram)]
        ).alias("shingle"),
        F.lead("tok", ngram - 1).over(w).alias("_last"),
    ).where(F.col("_last").isNotNull())
    hashed = sh.select("doc_id", "pos", md5_long(F.col("shingle")).alias("h"))
    wm = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, window - 1)
    )
    return (
        hashed.select("doc_id", F.min("h").over(wm).alias("fingerprint"))
        .distinct()
    )


# BPE-ish pre-tokenization: letter runs, digit runs, and single
# non-space symbols — the classic byte-pair-encoder pre-split (each
# match is what a BPE vocabulary would then merge). RE2-safe so the
# DuckDB oracle runs the identical pattern.
BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n]"


def token_counts(documents: DataFrame) -> DataFrame:
    """(doc_id, n_ws_tokens, n_bpe_tokens, bpe_per_ws): whitespace tokens
    vs BPE-ish pre-tokens per document — the fertility-style ratio used
    to budget training-token counts. Single scan, one regexp_extract_all
    per row, no shuffle."""
    from joern_spark.functions.hashing import tokens_col

    ws = F.size(tokens_col(F.col("text")))
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_PATTERN), F.lit(0)))
    return documents.select(
        "doc_id",
        ws.alias("n_ws_tokens"),
        bpe.alias("n_bpe_tokens"),
        F.when(ws > 0, bpe.cast("double") / ws).alias("bpe_per_ws"),
    )


BPE_MERGE_K = 20


def bpe_merges(documents: DataFrame, k: int = BPE_MERGE_K) -> DataFrame:
    """(rank, pair, count): the top-k merge candidates of ONE byte-pair-
    encoding round — tokenizer training's hot loop at corpus scale:
    count adjacent character pairs within words, weighted by word
    frequency (Sennrich et al. 2016's formulation: BPE statistics live
    on the word-frequency table, not the raw text). Rank orders by
    (count desc, pair asc) — a total order, so top-k is deterministic.

    Scale shape: the corpus is scanned ONCE to build the distinct-word
    count table (map-side combined, vocabulary-bounded); pair explosion
    runs over that vocabulary — one row per distinct word, never per
    occurrence — and the final top-k is a TakeOrderedAndProject, no
    global window. Iterating rounds (real tokenizer training) re-runs
    only the vocabulary-side explode with merged symbols; the corpus is
    never re-read."""
    vocab = (
        documents.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    pairs = F.transform(
        F.sequence(F.lit(1), F.length("tok") - 1),
        lambda i: F.col("tok").substr(i, F.lit(2)),
    )
    counts = (
        vocab.where(F.length("tok") >= 2)
        .select(F.explode(pairs).alias("pair"), "wc")
        .groupBy("pair")
        .agg(F.sum("wc").alias("count"))
    )
    topk = counts.orderBy(F.desc("count"), F.asc("pair")).limit(k)
    w = Window.orderBy(F.desc("count"), F.asc("pair"))
    return topk.select(
        F.row_number().over(w).alias("rank"), "pair", "count"
    )


QUANTILE_PROBS = (0.1, 0.5, 0.9, 0.99)


def length_quantiles(documents: DataFrame) -> DataFrame:
    """(lang, n_docs, p10, p50, p90, p99) — exact continuous token-length
    quantiles per language: the corpus-profile table a curation run
    publishes before choosing budgets and cutoffs.

    EXACT `percentile` (sorted-interpolation) so the DuckDB oracle
    (`quantile_cont`, same definition) matches bit-for-bit; per-group
    state is one sorted value list, fine for a bounded stratum count. At
    10^12 docs swap in `percentile_approx` (t-digest, mergeable
    map-side) — sketches differ per engine, so the exact variant is the
    oracle-checked one."""
    from joern_spark.functions.hashing import tokens_col

    d = documents.select(
        "lang", F.size(tokens_col(F.col("text"))).cast("long").alias("n")
    )
    ps = [
        F.percentile("n", F.lit(p)).alias(f"p{int(p * 100)}")
        for p in QUANTILE_PROBS
    ]
    return d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"), *ps)


def _grams_col(n: int) -> Column:
    """Ordered n-gram array over the `toks` column (empty below n tokens).
    1-based element_at mirrors the oracle's DuckDB list indexing."""
    joined = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(F.col("toks"), i + j) for j in range(n)]
    )
    return F.when(
        F.size("toks") >= n,
        F.transform(F.sequence(F.lit(1), F.size("toks") - (n - 1)), joined),
    ).otherwise(F.array().cast("array<string>"))


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Gopher-style intra-document repetition signals (Rae et al. 2021
    'repetition removal' filters, the missing member of the quality
    battery next to stopword/uniq ratios): per document, the share of
    bigram mass held by the single most frequent bigram and the share of
    5-gram occurrences whose 5-gram repeats within the document. High
    values flag boilerplate / degenerate generation loops.

    Reference analog: querydb metric scanners — one pure aggregation per
    document over extracted node properties (joern's per-method metric
    queries, e.g. querydb/.../c/Metrics.scala style thresholds).

    Shape at 100 TB: one scan → explode n-grams → two hash aggregations
    keyed by (doc_id, n, gram) then doc_id. Both aggs map-side combine;
    the key space is doc-scoped so there is no hub skew by construction
    (a gram key never spans documents). No Python, no window over the
    corpus, no driver state.

    Docs with fewer than 2 tokens emit no row (no bigrams exist);
    `dup_fivegram_frac` is NULL below 5 tokens. Top-bigram ties break to
    the lexicographically greatest gram (struct-max), mirrored exactly by
    the oracle's ORDER BY cnt DESC, g DESC."""
    toks = tokens_col(F.col("text"))
    d = documents.select("doc_id", toks.alias("toks"))
    tagged = lambda n: F.transform(  # noqa: E731
        _grams_col(n), lambda g: F.struct(F.lit(n).alias("n"), g.alias("g"))
    )
    exploded = d.select(
        "doc_id", F.explode(F.concat(tagged(2), tagged(5))).alias("x")
    ).select("doc_id", F.col("x.n").alias("n"), F.col("x.g").alias("g"))
    counted = exploded.groupBy("doc_id", "n", "g").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    is2 = F.col("n") == 2
    is5 = F.col("n") == 5
    per_doc = counted.groupBy("doc_id").agg(
        F.sum(F.when(is2, F.col("cnt"))).alias("n_bigrams"),
        F.max(F.when(is2, F.struct(F.col("cnt"), F.col("g")))).alias("_top2"),
        F.sum(F.when(is5, F.col("cnt"))).alias("n_fivegrams"),
        F.sum(F.when(is5 & (F.col("cnt") > 1), F.col("cnt"))).alias("_dup5"),
    )
    return per_doc.select(
        "doc_id",
        F.col("_top2.g").alias("top_bigram"),
        F.col("_top2.cnt").alias("top_bigram_count"),
        "n_bigrams",
        (F.col("_top2.cnt").cast("double") / F.col("n_bigrams")).alias(
            "top_bigram_frac"
        ),
        F.col("n_fivegrams").cast("long").alias("n_fivegrams"),
        F.when(
            F.col("n_fivegrams") > 0,
            F.coalesce(F.col("_dup5"), F.lit(0)).cast("double")
            / F.col("n_fivegrams"),
        ).alias("dup_fivegram_frac"),
    )


def unigram_logprob(documents: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, mean_lp) — CCNet-style language-model quality
    proxy: the mean unigram log-probability of each document under the
    corpus's own unigram distribution (CCNet buckets corpora into
    head/middle/tail by exactly this kind of LM score; here the "model"
    is the corpus itself, so no external artifact is needed).

    Scale shape: per-(doc, token) term frequencies aggregate FIRST
    (map-side combined), so the vocabulary join carries one row per
    distinct (doc, token) — never per occurrence — and each term
    contributes tf·ln(c/total) once. Stop-word-grade hub tokens make the
    join key skewed; the count side is one row per token, so AQE's
    skew-join split handles the probe side (the salting story of
    functions/salted.py applies if AQE is off). The grand total joins as
    a one-row broadcast.

    Cross-engine float discipline (see rank.py): both engines compute
    the identical expression tree tf::double · ln(c::double / total) and
    fold the per-document terms in ASCENDING SORTED order, so the IEEE
    additions happen identically and the oracle hashes match
    bit-for-bit. Documents with zero tokens are absent on both sides."""
    toks = tokens_col(F.col("text"))
    tf = (
        documents.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    counts = tf.groupBy("tok").agg(F.sum("tf").alias("c"))
    total = counts.agg(F.sum("c").alias("total"))
    w = F.col("tf").cast("double") * F.ln(
        F.col("c").cast("double") / F.col("total")
    )
    scored = (
        tf.join(counts, "tok")
        .crossJoin(F.broadcast(total))
        .select("doc_id", F.col("tf"), w.alias("w"))
    )
    sorted_sum = F.aggregate(
        F.array_sort(F.collect_list("w")), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            sorted_sum.alias("_s"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (F.col("_s") / F.col("n_tokens").cast("double")).alias("mean_lp"),
        )
    )


def bigram_logprob(documents: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, mean_lp) — order-2 LM quality proxy (the
    bigram extension of unigram_logprob; CCNet's filter uses a KenLM
    5-gram, and this is the same score family computed from the corpus's
    own counts): the mean conditional log-probability ln P(w2 | w1) over
    a document's bigrams, with P(w2 | w1) = c(w1 w2) / c(w1 ·) where
    c(w1 ·) is the corpus count of bigrams STARTING with w1. No
    smoothing is needed — the "model" is the corpus itself, so every
    document bigram has a nonzero corpus count. Documents with fewer
    than 2 tokens emit no row (no bigrams exist) on both engines.

    Scale shape mirrors unigram_logprob: per-(doc, bigram) term
    frequencies aggregate FIRST (map-side combined) so the count joins
    carry one row per distinct (doc, bigram); the bigram-count and
    prefix-count sides are vocabulary-bounded; hub bigrams are AQE
    skew-split on the probe side. Tokens never contain spaces, so the
    prefix key is an exact split of the bigram string.

    Cross-engine float discipline (see unigram_logprob): identical
    expression tree tf::double · ln(c2::double / c1::double) folded in
    ascending sorted order per document — bit-exact oracle hashes."""
    d = documents.select("doc_id", tokens_col(F.col("text")).alias("toks"))
    tf = (
        d.select("doc_id", F.explode(_grams_col(2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    c2 = tf.groupBy("g").agg(F.sum("tf").alias("c2"))
    c1 = c2.groupBy(F.split(F.col("g"), " ").getItem(0).alias("w1")).agg(
        F.sum("c2").alias("c1")
    )
    w = F.col("tf").cast("double") * F.ln(
        F.col("c2").cast("double") / F.col("c1").cast("double")
    )
    scored = (
        tf.join(c2, "g")
        .join(c1, F.split(F.col("g"), " ").getItem(0) == F.col("w1"))
        .select("doc_id", "tf", w.alias("w"))
    )
    sorted_sum = F.aggregate(
        F.array_sort(F.collect_list("w")), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            sorted_sum.alias("_s"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            (F.col("_s") / F.col("n_bigrams").cast("double")).alias("mean_lp"),
        )
    )


DOC_KEYWORDS_K = 5


def doc_keywords(documents: DataFrame, k: int = DOC_KEYWORDS_K) -> DataFrame:
    """(doc_id, tok, tf, score, rank) — top-k tf-idf keywords per
    document: score = tf · ln(n_docs / df). The per-document keyword
    table a retrieval or labeling pipeline precomputes.

    Scale shape mirrors unigram_logprob: per-(doc, token) term
    frequencies first (map-side combined); document frequency is one row
    per token (AQE skew-split absorbs stop-word keys on the probe side);
    the corpus document count joins as a one-row broadcast. The final
    top-k is a per-document window — partitioned on doc_id, so no global
    sort and no skew (documents are bounded).

    Ranking determinism: both engines rank by (score DESC, tok ASC) over
    identical doubles (same expression tree), so the selected rows and
    rank values match exactly."""
    toks = tokens_col(F.col("text"))
    tf = (
        documents.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_ = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = documents.select("doc_id").dropDuplicates().agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    score = F.col("tf").cast("double") * F.ln(
        F.col("n_docs").cast("double") / F.col("df").cast("double")
    )
    scored = (
        tf.join(df_, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "tok", "tf", score.alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("tok")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "tok", F.col("tf").cast("long").alias("tf"), "score", "rank")
    )


def lm_buckets(documents: DataFrame) -> DataFrame:
    """(doc_id, mean_lp, bucket) — CCNet's head/middle/tail corpus split:
    documents bucketed by the terciles of their own unigram log-prob
    distribution (head = least surprising third). The two tercile cut
    points reduce to a single broadcast row; the comparison runs at scan
    speed. Exact `percentile` matches DuckDB's `quantile_cont`
    definition (the doc_quantiles discipline); the tercile probabilities
    are written as 1.0/3 on both engines so even the cut points are the
    same doubles."""
    lp = unigram_logprob(documents)
    qs = lp.agg(
        F.percentile("mean_lp", F.lit(1.0) / F.lit(3.0)).alias("q33"),
        F.percentile("mean_lp", F.lit(2.0) / F.lit(3.0)).alias("q67"),
    )
    return (
        lp.crossJoin(F.broadcast(qs))
        .select(
            "doc_id",
            "mean_lp",
            F.when(F.col("mean_lp") >= F.col("q67"), F.lit("head"))
            .when(F.col("mean_lp") >= F.col("q33"), F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("bucket"),
        )
    )


# ---- BPE tokenizer: train (vocabulary-bounded driver loop) + encode ----

BPE_TRAIN_MERGES = 32
# Ceiling on the distinct-word table collected for training. The
# vocabulary is a dimension table (it grows ~log with the corpus, not
# linearly), but the collect must still be guarded — a corpus whose
# vocab exceeds the cap needs the sampled-vocab variant, not a silent
# driver OOM.
BPE_VOCAB_CAP = 500_000


def bpe_train(
    documents: DataFrame,
    n_merges: int = BPE_TRAIN_MERGES,
    vocab_cap: int = BPE_VOCAB_CAP,
) -> list[tuple[str, str]]:
    """Learn `n_merges` ranked BPE merges (Sennrich et al. 2016) from the
    corpus. The corpus is scanned ONCE for the distinct-word frequency
    table (map-side combined groupBy — the same vocabulary-bounded shape
    as bpe_merges); the merge loop then runs on the driver over that
    table, exactly like the reference's vocabulary-side passes collect
    dimension tables (and like this repo's PageRank/union-find driver
    fast paths). Raises on a vocabulary above `vocab_cap` instead of
    silently OOMing — 10^12-token corpora train on a frequency-floored
    vocab, which is a parameter change, not a shape change.

    Determinism: best pair per round = max count, ties broken by
    lexicographically smallest (left, right)."""
    rows = (
        documents.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("wc"))
        .limit(vocab_cap + 1)
        .collect()
    )
    if len(rows) > vocab_cap:
        raise ValueError(
            f"vocabulary exceeds BPE_VOCAB_CAP={vocab_cap}; train on a "
            "frequency-floored vocabulary instead"
        )
    vocab: dict[tuple[str, ...], int] = {
        tuple(r.tok): r.wc for r in rows
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for word, wc in vocab.items():
            for a, b in zip(word, word[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + wc
        if not counts:
            break
        pair, cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < 2:
            break
        merges.append(pair)
        vocab = {_merge_word(w, pair): wc for w, wc in vocab.items()}
        # merging can collide distinct symbol tuples? No: _merge_word is
        # injective on words that differ as strings (pieces concatenate
        # to the original word), so keys stay distinct.
    return merges


def _merge_word(
    word: tuple[str, ...], pair: tuple[str, str]
) -> tuple[str, ...]:
    """One left-greedy merge pass of `pair` over a symbol tuple."""
    out: list[str] = []
    i = 0
    n = len(word)
    while i < n:
        if i + 1 < n and word[i] == pair[0] and word[i + 1] == pair[1]:
            out.append(word[i] + word[i + 1])
            i += 2
        else:
            out.append(word[i])
            i += 1
    return tuple(out)


def bpe_encode_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Encode one word: apply each learned merge in rank order with
    left-greedy passes — the pure-Python kernel shared by the Arrow UDF
    and the tests (same discipline as the blocked-BLAS kernels in
    operators/similarity.py)."""
    syms: tuple[str, ...] = tuple(word)
    for pair in merges:
        if len(syms) < 2:
            break
        syms = _merge_word(syms, pair)
    return list(syms)


BPE_ENCODE_SCHEMA = (
    "doc_id long, n_tokens long, n_pieces long, pieces_per_token double"
)


def bpe_encode(documents: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """Apply learned merges to every document — the tokenize-the-corpus
    pass a training pipeline runs at full scale. Arrow-batched
    mapInPandas (never per-row Python); within a batch each DISTINCT
    word is encoded once and reused (web text is Zipfian, so the
    per-batch memo removes almost all kernel calls).

    Greedy merge application is inherently iterative per word — not
    expressible in ANSI SQL — so this operator is gated by the shared
    pure-Python kernel (tests assert piece-concatenation identity,
    monotone piece counts, and bit-equality with a direct per-word
    reference), not a DuckDB oracle."""
    import pandas as pd  # noqa: PLC0415 — imported on executors

    import re as _re  # noqa: PLC0415

    merges_local = list(merges)
    base = documents.select("doc_id", "text")

    def run(batches):
        word_re = _re.compile(r"[^a-z0-9]+")
        memo: dict[str, int] = {}

        def pieces_of(word: str) -> int:
            got = memo.get(word)
            if got is None:
                got = len(bpe_encode_word(word, merges_local))
                memo[word] = got
            return got

        for pdf in batches:
            n_toks: list[int] = []
            n_pieces: list[int] = []
            for text in pdf["text"]:
                words = [w for w in word_re.split(text.lower()) if w]
                n_toks.append(len(words))
                n_pieces.append(sum(pieces_of(w) for w in words))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tokens": n_toks,
                    "n_pieces": n_pieces,
                    "pieces_per_token": [
                        p / t if t else 0.0 for p, t in zip(n_pieces, n_toks)
                    ],
                }
            )

    return base.mapInPandas(run, schema=BPE_ENCODE_SCHEMA)


KMV_K = 64
_TWO60 = float(1 << 60)  # md5_long's hash domain is [0, 2^60)


def kmv_distinct_tokens(documents: DataFrame, k: int = KMV_K) -> DataFrame:
    """(lang, k_used, kth_hash, est_distinct): KMV (k-minimum-values)
    distinct-token cardinality sketch per language — the mergeable
    one-pass estimator for "how many distinct X" questions that exact
    COUNT(DISTINCT) cannot answer at 10^12 rows (Bar-Yossef et al. 2002).
    The reference answers cardinality questions with exact traversal
    counts (`cpg.method.name.dedup.size`, Console.scala starters); at
    corpus scale the sketch is the only shape that fits one pass.

    Estimator: with U_k = (k-th smallest distinct H(token)) / 2^60,
    n̂ = (k-1)/U_k; groups holding fewer than k distinct hashes report
    their exact count. H is the cross-engine md5_long, so the whole
    sketch — including the float estimate (one cast-divide-divide in the
    same IEEE order) — is bit-reproducible in the DuckDB oracle.

    Scale shape: explode → per-(lang, hash) dedup is an aggregate, so
    map-side partial combine bounds the shuffle by the PER-PARTITION
    vocabulary (corpus-sublinear, Heaps' law) — the raw token stream
    never shuffles. The min-k itself is the skew-safe two-stage
    `salted_min_k` (a single global window per language would funnel
    that language's whole vocabulary through one task). Sketches merge
    by construction: min-k of unioned min-k sets == min-k of the union
    (property-tested), so per-shard sketches fold without rescanning.
    """
    agg = kmv_sketches(documents, k=k).groupBy("lang").agg(
        F.count("*").alias("k_used"),
        F.max("h").alias("kth_hash"),
    )
    est = F.when(
        F.col("k_used") < k, F.col("k_used").cast("double")
    ).otherwise(
        (F.col("k_used") - F.lit(1)).cast("double")
        / (F.col("kth_hash").cast("double") / F.lit(_TWO60))
    )
    return agg.select("lang", "k_used", "kth_hash", est.alias("est_distinct"))


def kmv_sketches(documents: DataFrame, k: int = KMV_K) -> DataFrame:
    """The raw per-language KMV sketch rows (lang, h) — the k smallest
    distinct token hashes per language; shared kernel of
    `kmv_distinct_tokens` and `kmv_overlap`."""
    from joern_spark.functions.salted import salted_min_k

    hashes = (
        documents.select(
            "lang",
            F.explode(tokens_col(F.col("text"))).alias("tok"),
        )
        .select("lang", md5_long(F.col("tok")).alias("h"))
        .dropDuplicates(["lang", "h"])
    )
    return salted_min_k(hashes, key="lang", val="h", k=k)


def kmv_overlap(documents: DataFrame, k: int = KMV_K) -> DataFrame:
    """(lang_a, lang_b, k_used, n_both, jaccard, union_est, inter_est):
    distinct-vocabulary overlap between every language pair, estimated
    from KMV sketch ALGEBRA alone (Beyer et al., SIGMOD 2007): the k
    smallest hashes of A ∪ B are computable from the two sketches, the
    fraction of them present in both sketches estimates Jaccard, and
    inter_est = jaccard · union_est. Nothing rescans the corpus — the
    pairwise combine runs over ≤ k·|langs| sketch rows, so "how much do
    these two 100 TB corpora share" costs one sketch pass each plus
    kilobytes of algebra (the exact version is a distinct-intersection
    shuffle of both corpora).

    Pairs with fewer than k union hashes report exact values (every
    distinct hash of both sides is present). Float discipline: the
    estimate expressions reuse kmv_distinct_tokens' IEEE tree plus one
    multiply, mirrored in the oracle."""
    return _kmv_overlap_from(kmv_sketches(documents, k=k), k)


def _kmv_overlap_from(sk: DataFrame, k: int) -> DataFrame:
    """Pairwise overlap from sketch rows — tiny input (≤ k·|langs|)."""
    langs = sk.select("lang").dropDuplicates()
    pairs = (
        langs.select(F.col("lang").alias("lang_a"))
        .join(langs.select(F.col("lang").alias("lang_b")))
        .where(F.col("lang_a") < F.col("lang_b"))
    )
    a_rows = (
        pairs.join(sk, sk["lang"] == F.col("lang_a"))
        .select("lang_a", "lang_b", "h",
                F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
    )
    b_rows = (
        pairs.join(sk, sk["lang"] == F.col("lang_b"))
        .select("lang_a", "lang_b", "h",
                F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
    )
    merged = (
        a_rows.unionByName(b_rows)
        .groupBy("lang_a", "lang_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w = Window.partitionBy("lang_a", "lang_b").orderBy("h")
    topk = merged.withColumn("_r", F.row_number().over(w)).where(F.col("_r") <= k)
    agg = topk.groupBy("lang_a", "lang_b").agg(
        F.count("*").alias("k_used"),
        F.max("h").alias("kth_hash"),
        # DuckDB sum(int) is HUGEINT (the driver canonicalizes it as a
        # float); both engines pin BIGINT so the value hashes agree
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_both"),
    )
    union_est = F.when(
        F.col("k_used") < k, F.col("k_used").cast("double")
    ).otherwise(
        (F.col("k_used") - F.lit(1)).cast("double")
        / (F.col("kth_hash").cast("double") / F.lit(_TWO60))
    )
    jaccard = F.col("n_both").cast("double") / F.col("k_used").cast("double")
    return agg.select(
        "lang_a",
        "lang_b",
        "k_used",
        "n_both",
        jaccard.alias("jaccard"),
        union_est.alias("union_est"),
        (jaccard * union_est).alias("inter_est"),
    )


# Okapi BM25 retrieval constants. The query set is a fixed dimension
# table (a retrieval benchmark is a handful of queries against the whole
# corpus); terms are drawn from the corpus's vocabulary so every query
# has matches at every scale.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10
BM25_QUERIES: list[tuple[str, str]] = [
    ("q_hash_join", "hash join table"),
    ("q_window_agg", "window agg order"),
    ("q_stream_batch", "stream batch spark"),
    ("q_scan_filter", "fast scan filter"),
]


def _tf_table(documents: DataFrame) -> DataFrame:
    """(doc_id, tok, tf) — the inverted index's posting table."""
    toks = tokens_col(F.col("text"))
    return (
        documents.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _topk_per_query(agg: DataFrame, k: int) -> DataFrame:
    """Salted two-stage per-query top-k over (query_id, doc_id, score)
    — shared by every retrieval scorer (exact: a global winner wins its
    own salt)."""
    from joern_spark.functions.salted import N_SALTS

    w1 = Window.partitionBy("query_id", "_salt").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        agg.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(N_SALTS))
        )
        .withColumn("_r1", F.row_number().over(w1))
        .where(F.col("_r1") <= k)
        .withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def _bm25_from(
    tf: DataFrame,
    dl: DataFrame,
    dfreq: DataFrame,
    stats: DataFrame,
    queries: DataFrame,
    k: int,
) -> DataFrame:
    """BM25 scoring over prebuilt index tables — the shared kernel of
    bm25_topk (fresh tables) and bm25_topk_indexed (durable artifacts),
    so the two paths are the same expression tree by construction."""
    qt = queries.select(
        "query_id", F.explode(tokens_col(F.col("qtext"))).alias("tok")
    ).dropDuplicates()
    idf = F.ln(
        (F.col("n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
        + F.lit(1.0)
    )
    tfd = F.col("tf").cast("double")
    tfn = (
        tfd
        * F.lit(BM25_K1 + 1.0)
        / (
            tfd
            + F.lit(BM25_K1)
            * (
                F.lit(1.0 - BM25_B)
                + F.lit(BM25_B) * F.col("dl").cast("double") / F.col("avgdl")
            )
        )
    )
    scored = (
        tf.join(F.broadcast(qt), "tok")
        .join(dfreq, "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("query_id", "doc_id", (idf * tfn).alias("w"))
    )
    sorted_sum = F.aggregate(
        F.array_sort(F.collect_list("w")), F.lit(0.0), lambda acc, x: acc + x
    )
    agg = scored.groupBy("query_id", "doc_id").agg(sorted_sum.alias("score"))
    return _topk_per_query(agg, k)


def bm25_topk(
    documents: DataFrame, queries: DataFrame, k: int = BM25_TOP_K
) -> DataFrame:
    """(query_id, doc_id, score, rank) — Okapi BM25 top-k retrieval of
    documents per query: score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 −
    b + b·dl/avgdl)) with idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1).
    The lexical-retrieval baseline every RAG / hard-negative pipeline
    starts from (the reference's property starters `name(re)`/`code(re)`
    are its one-term boolean ancestor — querydb regex matching,
    DangerousFunctions.scala:25; BM25 is the ranked generalization).

    Scale shape: per-(doc, token) term frequencies and per-doc lengths
    aggregate FIRST (map-side combined); the query-term table is a
    broadcast probe that prunes the tf table BEFORE any scoring, so the
    scored set is (query terms ∩ corpus) rows, never the corpus; df is
    one row per token and N/avgdl join as one-row broadcasts. The final
    per-query top-k is the salted two-stage window (salted.py
    discipline): per-(query, salt) top-k first, then top-k over the
    ≤ k·n_salts survivors — a query whose terms match 10^10 documents
    never funnels them through one reducer. Exact: every global winner
    is a winner within its own salt.

    Float discipline (rank.py): identical expression tree in the DuckDB
    oracle (constants substituted as the same Python literals), and the
    per-(query, doc) term contributions fold in ascending sorted order,
    so the IEEE additions happen identically and hashes match."""
    tf = _tf_table(documents)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    return _bm25_from(tf, dl, dfreq, stats, queries, k)


# Dirichlet query-likelihood retrieval + reciprocal-rank fusion. QLD is
# the probabilistic LM ranker (Zhai & Lafferty 2001); RRF (Cormack et al.
# 2009) fuses any two ranked lists by 1/(k0 + rank) — the standard
# hybrid-retrieval combiner (lexical + second ranker) in RAG / data-
# selection pipelines.
QLD_MU = 1000.0
RRF_K0 = 60.0


def _qld_from(
    tf: DataFrame,
    dl: DataFrame,
    cf: DataFrame,
    ctot: DataFrame,
    queries: DataFrame,
    k: int,
) -> DataFrame:
    """Dirichlet-QLD scoring over prebuilt index tables — the shared
    kernel of qld_topk and qld_topk_indexed (same expression tree on
    both paths by construction)."""
    qt = queries.select(
        "query_id", F.explode(tokens_col(F.col("qtext"))).alias("tok")
    ).dropDuplicates()
    nq = qt.groupBy("query_id").agg(F.count(F.lit(1)).alias("nq"))
    w = F.ln(
        F.lit(1.0)
        + F.col("tf").cast("double")
        * F.col("c_tot").cast("double")
        / (F.lit(QLD_MU) * F.col("cf").cast("double"))
    )
    scored = (
        tf.join(F.broadcast(qt), "tok")
        .join(cf, "tok")
        .crossJoin(F.broadcast(ctot))
        .select("query_id", "doc_id", w.alias("w"))
    )
    sorted_sum = F.aggregate(
        F.array_sort(F.collect_list("w")), F.lit(0.0), lambda acc, x: acc + x
    )
    agg = (
        scored.groupBy("query_id", "doc_id")
        .agg(sorted_sum.alias("s"))
        .join(dl, "doc_id")
        .join(F.broadcast(nq), "query_id")
        .select(
            "query_id",
            "doc_id",
            (
                F.col("s")
                + F.col("nq").cast("double")
                * F.ln(
                    F.lit(QLD_MU)
                    / (F.col("dl").cast("double") + F.lit(QLD_MU))
                )
            ).alias("score"),
        )
    )
    return _topk_per_query(agg, k)


def qld_topk(
    documents: DataFrame, queries: DataFrame, k: int = BM25_TOP_K
) -> DataFrame:
    """(query_id, doc_id, score, rank) — Dirichlet-smoothed query
    likelihood top-k per query: score = Σ_{t∈q∩d} ln(1 + tf·|C| /
    (μ·cf_t)) + |q|·ln(μ / (dl + μ)) — the matched-term rewrite of
    Σ_{t∈q} ln P(t|d), so only documents sharing ≥1 query term are
    scored (the standard inverted-index evaluation; unmatched documents
    rank below every match by construction at these scales).

    Scale shape mirrors bm25_topk: tf/dl/cf aggregate first (map-side
    combined), the query-term table broadcasts and prunes tf BEFORE any
    scoring, |C| joins as a one-row broadcast, and the per-query top-k
    is the salted two-stage window. Float discipline: matched-term
    contributions fold in ascending sorted order, THEN the per-doc
    length constant adds once — one fixed IEEE evaluation order the
    DuckDB oracle replays exactly."""
    tf = _tf_table(documents)
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    cf = tf.groupBy("tok").agg(F.sum("tf").alias("cf"))
    ctot = cf.agg(F.sum("cf").alias("c_tot"))
    return _qld_from(tf, dl, cf, ctot, queries, k)


def rrf_fuse(
    a: DataFrame, b: DataFrame, k: int = BM25_TOP_K, k0: float = RRF_K0
) -> DataFrame:
    """(query_id, doc_id, score, rank) — reciprocal-rank fusion of two
    ranked lists (columns query_id, doc_id, rank each): score =
    Σ_lists 1/(k0 + rank), documents present in only one list keep that
    single term. Ranking is (score DESC, doc_id ASC), top-k per query.

    Scale shape: both inputs are already per-query top-k tables (≤
    k·|queries| rows — dimension-sized however big the corpus), so the
    full-outer fusion join is broadcast-trivial; all real cost lives in
    the upstream retrievals. Float discipline: the ≤2 contributions fold
    in ascending sorted order (array_compact drops the absent side)."""
    ra = a.select("query_id", "doc_id", F.col("rank").alias("rank_a"))
    rb = b.select("query_id", "doc_id", F.col("rank").alias("rank_b"))
    both = ra.join(rb, ["query_id", "doc_id"], "full_outer")
    contrib = F.array_sort(
        F.array_compact(
            F.array(
                F.lit(1.0) / (F.lit(k0) + F.col("rank_a").cast("double")),
                F.lit(1.0) / (F.lit(k0) + F.col("rank_b").cast("double")),
            )
        )
    )
    score = F.aggregate(contrib, F.lit(0.0), lambda acc, x: acc + x)
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        both.select("query_id", "doc_id", score.alias("score"))
        .withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def save_text_index(documents: DataFrame, path: str) -> dict:
    """Persist the lexical retrieval index as durable artifacts:
    `<path>/tf` (the posting table), `/dl`, `/dfreq`, `/cf`, plus
    one-row `/stats` (n_docs, avgdl, c_tot) and `<path>/index.json`
    carrying an order-insensitive corpus fingerprint (count + bit_xor
    of doc_id hashes, one scan). A matching fingerprint SKIPS the
    rebuild — the same load-don't-recompute discipline as the IVF
    index and the workspace flow-walk cache (similarity.save_ivf_index).
    At 100 TB this is the difference between one index build and a
    per-query corpus re-aggregation. Returns the manifest dict with
    `"hit"` marking reuse."""
    import json as _json
    from pathlib import Path

    from joern_spark.functions.hashing import md5_long

    row = documents.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(md5_long(F.col("doc_id").cast("string"))).alias("x"),
    ).collect()[0]
    meta = {"n_docs": row["n"], "fingerprint": f"{row['n']}:{row['x']}"}
    mpath = Path(path) / "index.json"
    if mpath.exists():
        old = _json.loads(mpath.read_text())
        if old.get("fingerprint") == meta["fingerprint"]:
            return {**old, "hit": True}
    tf = _tf_table(documents)
    tf.write.mode("overwrite").parquet(f"{path}/tf")
    spark = documents.sparkSession
    tf_r = spark.read.parquet(f"{path}/tf")
    dl = tf_r.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    dl.write.mode("overwrite").parquet(f"{path}/dl")
    tf_r.groupBy("tok").agg(F.count(F.lit(1)).alias("df")).write.mode(
        "overwrite"
    ).parquet(f"{path}/dfreq")
    tf_r.groupBy("tok").agg(F.sum("tf").alias("cf")).write.mode(
        "overwrite"
    ).parquet(f"{path}/cf")
    spark.read.parquet(f"{path}/dl").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
        F.sum("dl").cast("long").alias("c_tot"),
    ).write.mode("overwrite").parquet(f"{path}/stats")
    mpath.parent.mkdir(parents=True, exist_ok=True)
    mpath.write_text(_json.dumps(meta, indent=1))
    return {**meta, "hit": False}


def load_text_index(spark, path: str) -> dict:
    """{'tf', 'dl', 'dfreq', 'cf', 'stats', 'meta'} from a saved index
    — all tables stay distributed; stats is the one-row summary."""
    import json as _json
    from pathlib import Path

    return {
        "tf": spark.read.parquet(f"{path}/tf"),
        "dl": spark.read.parquet(f"{path}/dl"),
        "dfreq": spark.read.parquet(f"{path}/dfreq"),
        "cf": spark.read.parquet(f"{path}/cf"),
        "stats": spark.read.parquet(f"{path}/stats"),
        "meta": _json.loads((Path(path) / "index.json").read_text()),
    }


def bm25_topk_indexed(
    index: dict, queries: DataFrame, k: int = BM25_TOP_K
) -> DataFrame:
    """BM25 top-k over a persisted index — probes the durable posting
    table without touching document text; same kernel as bm25_topk, so
    indexed == fresh row-for-row."""
    return _bm25_from(
        index["tf"],
        index["dl"],
        index["dfreq"],
        index["stats"].select("n_docs", "avgdl"),
        queries,
        k,
    )


def qld_topk_indexed(
    index: dict, queries: DataFrame, k: int = BM25_TOP_K
) -> DataFrame:
    """Dirichlet-QLD top-k over a persisted index (same kernel as
    qld_topk; indexed == fresh row-for-row)."""
    return _qld_from(
        index["tf"],
        index["dl"],
        index["cf"],
        index["stats"].select("c_tot"),
        queries,
        k,
    )


# Maximal-marginal-relevance reranking (Carbonell & Goldstein 1998):
# k greedy selections maximizing λ·relevance − (1−λ)·max-similarity to
# the already-selected set — the diversity pass after hybrid retrieval.
MMR_LAMBDA = 0.7
MMR_K = 5


def mmr_rerank(
    documents: DataFrame,
    candidates: DataFrame,
    lam: float = MMR_LAMBDA,
    k: int = MMR_K,
) -> DataFrame:
    """(query_id, doc_id, mmr, sel_rank) — MMR selection of k documents
    per query from a (query_id, doc_id, score, rank) candidate table:
    pick 1 = the rank-1 candidate with mmr = λ·score; each later round
    picks argmax λ·score − (1−λ)·max_{s∈selected} jaccard(c, s) over
    the remaining candidates (tie-break doc_id ASC). Similarity is
    3-gram shingle Jaccard between candidate documents — the near-dup
    family's own measure, so retrieval dedups with the same notion of
    "same" the curation pipeline uses.

    Scale shape: candidates are per-query top-k tables (dimension-
    sized), so every round's joins touch ≤ k·|queries| rows; document
    text enters ONCE, through a candidate-pruned semi-join scan
    (predicate pushdown), never the corpus. The candidate and pair-sim
    tables are lazily checkpointed — k unrolled rounds would otherwise
    replan the entire upstream retrieval per round. Float discipline:
    sim is one division of exact BIGINTs, mmr one λ-literal
    multiply-subtract, max is order-free — identical trees in the
    oracle."""
    from joern_spark.operators.dedup import shingles

    cand = candidates.localCheckpoint(eager=False)
    ids = cand.select("doc_id").distinct()
    sh = shingles(
        documents.join(ids, "doc_id", "left_semi").select("doc_id", "text")
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    prs = (
        cand.select("query_id", F.col("doc_id").alias("a"))
        .join(cand.select("query_id", F.col("doc_id").alias("b")), "query_id")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    inter = (
        prs.join(sh.select(F.col("doc_id").alias("a"), "shingle"), "a")
        .join(
            sh.select(F.col("doc_id").alias("b"), "shingle"), ["b", "shingle"]
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    half = (
        inter.join(
            sizes.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("n_a")),
            "a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("n_b")),
            "b",
        )
        .select(
            "a",
            "b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("sim"),
        )
    )
    sims = half.unionByName(
        half.select(F.col("b").alias("a"), F.col("a").alias("b"), "sim")
    ).localCheckpoint(eager=False)

    lam_l, oml_l = F.lit(lam), F.lit(1.0 - lam)
    sel = cand.where(F.col("rank") == 1).select(
        "query_id",
        "doc_id",
        (lam_l * F.col("score")).alias("mmr"),
        F.lit(1).alias("sel_rank"),
    )
    for r in range(2, k + 1):
        remaining = cand.join(
            sel.select("query_id", "doc_id"), ["query_id", "doc_id"], "left_anti"
        )
        pen = (
            remaining.join(
                sel.select("query_id", F.col("doc_id").alias("b")), "query_id"
            )
            .join(
                sims.select(F.col("a").alias("doc_id"), "b", "sim"),
                ["doc_id", "b"],
                "left",
            )
            .groupBy("query_id", "doc_id", "score")
            .agg(F.max(F.coalesce(F.col("sim"), F.lit(0.0))).alias("msim"))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("mmr"), F.asc("doc_id")
        )
        pick = (
            pen.select(
                "query_id",
                "doc_id",
                (lam_l * F.col("score") - oml_l * F.col("msim")).alias("mmr"),
            )
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(
                "query_id", "doc_id", "mmr", F.lit(r).alias("sel_rank")
            )
        )
        sel = sel.unionByName(pick)
    return sel


RBO_P = 0.9


def rank_agreement(
    a: DataFrame, b: DataFrame, k: int = BM25_TOP_K, p: float = RBO_P
) -> DataFrame:
    """(query_id, n_common, jaccard_k, rbo) — agreement between two
    per-query rankings (columns query_id, doc_id, rank): set overlap at
    depth k plus truncated rank-biased overlap RBO@k = (1−p)·Σ_{d=1..k}
    p^{d−1}·|A_d ∩ B_d|/d (Webber et al. 2010) — the retrieval-eval
    probe that says whether the lexical and LM rankers agree enough for
    fusion to matter. A doc at ranks (ra, rb) joins every prefix
    intersection from depth max(ra, rb) on, so its RBO contribution is
    the CONSTANT w(m) = (1−p)·Σ_{d=m..k} p^{d−1}/d — precomputed in
    Python and emitted as the same double literals into both engines'
    CASE expressions; the per-query sum folds ascending-sorted.

    Every query ranked by both inputs gets a row: lists that share no
    document give n_common 0, jaccard_k 0.0 and rbo 0.0.

    Scale shape: inputs are top-k tables (dimension-sized); one
    broadcast-sized inner join + one fold. Full-corpus cost is zero."""
    w = {}
    for m in range(1, k + 1):
        acc = 0.0
        for d in range(m, k + 1):
            acc += (1.0 - p) * p ** (d - 1) / d
        w[m] = acc
    ra = a.select("query_id", "doc_id", F.col("rank").alias("rank_a"))
    rb = b.select("query_id", "doc_id", F.col("rank").alias("rank_b"))
    both = ra.join(rb, ["query_id", "doc_id"])
    m_col = F.greatest("rank_a", "rank_b")
    contrib = F.lit(0.0)
    expr = None
    for m in range(k, 0, -1):
        expr = (
            F.when(m_col == m, F.lit(w[m]))
            if expr is None
            else expr.when(m_col == m, F.lit(w[m]))
        )
    contrib = expr.otherwise(F.lit(0.0))
    sorted_sum = F.aggregate(
        F.array_sort(F.collect_list("w")), F.lit(0.0), lambda acc, x: acc + x
    )
    na = ra.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_a"))
    nb = rb.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_b"))
    agg = (
        both.select("query_id", contrib.alias("w"))
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            sorted_sum.alias("rbo"),
        )
    )
    n_common = F.coalesce(F.col("n_common"), F.lit(0).cast("long"))
    return (
        na.join(F.broadcast(nb), "query_id")
        .join(agg, "query_id", "left")
        .select(
            "query_id",
            n_common.alias("n_common"),
            (
                n_common.cast("double")
                / (F.col("n_a") + F.col("n_b") - n_common)
            ).alias("jaccard_k"),
            F.coalesce(F.col("rbo"), F.lit(0.0)).alias("rbo"),
        )
    )


PRF_TERMS = 5


def prf_expansion_terms(
    documents: DataFrame,
    ranked: DataFrame,
    queries: DataFrame,
    k_terms: int = PRF_TERMS,
) -> DataFrame:
    """(query_id, tok, weight, rank) — pseudo-relevance-feedback query
    expansion (RM3-lite): treat each query's retrieved top-k documents
    as relevant, score every term in that feedback set by its summed
    tf·ln(N/df) weight there, drop the query's own terms, and keep the
    k_terms strongest — the classic recall move after first-pass
    retrieval (Lavrenko & Croft relevance models, tf-idf weighting).

    Scale shape: the feedback set is k docs per query, so the scored
    term table is bounded by k·|doc vocabulary| per query (hundreds of
    rows — dimension-sized); the only corpus-scale work is the tf/df
    build the retrieval already pays. Float discipline: contributions
    fold ascending-sorted; ln(N/df) uses corpus-wide exact BIGINTs."""
    tf = _tf_table(documents)
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    nd = tf.select("doc_id").distinct().agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    qt = queries.select(
        "query_id", F.explode(tokens_col(F.col("qtext"))).alias("tok")
    ).dropDuplicates()
    fb = ranked.select("query_id", "doc_id")
    w = (
        F.col("tf").cast("double")
        * F.ln(F.col("n_docs").cast("double") / F.col("df").cast("double"))
    )
    scored = (
        tf.join(fb, "doc_id")
        .join(dfreq, "tok")
        .crossJoin(F.broadcast(nd))
        .select("query_id", "tok", w.alias("w"))
        .join(qt, ["query_id", "tok"], "left_anti")
    )
    sorted_sum = F.aggregate(
        F.array_sort(F.collect_list("w")), F.lit(0.0), lambda acc, x: acc + x
    )
    win = Window.partitionBy("query_id").orderBy(
        F.desc("weight"), F.asc("tok")
    )
    return (
        scored.groupBy("query_id", "tok")
        .agg(sorted_sum.alias("weight"))
        .withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= k_terms)
    )
