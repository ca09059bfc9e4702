"""Deduplication operators over the `documents` table — exact,
n-gram-Jaccard, MinHash+LSH and SimHash near-dup detection.

The reference's canonicalization machinery (NamespaceCreator groupBy,
x2cpg/.../base/NamespaceCreator.scala:19-32; alias merging via
SAME_AS-style edges) is exact dedup by key; these operators are the
similarity-keyed generalization a 100 TB training-data pipeline needs.

Scale notes (the whole point of each variant):
  * exact: one shuffle on a 60-bit content hash — works at any scale.
  * n-gram Jaccard: blocking key = the shingle itself. Correct and
    shuffle-efficient for corpora with selective shingles, but hub
    shingles blow up the self-join; it is the *verification* kernel.
  * MinHash+LSH: the scale path. Signature is fixed-width (16 hashes →
    4 banded keys), so the candidate join is on low-cardinality band
    keys with candidate count ~ true-dup count, independent of shingle
    frequency skew. AQE skew-join handles residual hub bands.
  * SimHash: fixed 32-bit sketch + 4 byte-bands; cheapest sketch, pairs
    verified by Hamming distance (bit_count(xor)).

Every hash is md5-derived (functions/hashing.py) so the DuckDB oracle
(oracle_docs.py) reproduces results bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from joern_spark.functions.hashing import (
    MINHASH_P,
    N_BANDS,
    N_MINHASH,
    md5_long,
    minhash_perm,
    tokens_col,
)

NGRAM = 3
JACCARD_THRESHOLD = 0.3
SIMHASH_BITS = 32
SIMHASH_BANDS = 4
HAMMING_THRESHOLD = 2
# Zero-pad width for doc_id → sortable component keys. int64 has at most
# 19 digits, so 20 covers the whole id domain; lpad TRUNCATES overlong
# strings, so a narrower pad would corrupt keys at exactly the 10^12-doc
# scale this module targets.
ID_PAD = 20
# Above this many component-map rows the survivor joins switch from
# broadcast to plain shuffle joins: on web corpora 50–80% of docs are
# duplicates, so the map has corpus-order cardinality and a broadcast is
# a guaranteed OOM. Mirrors canonicalize.SMALL_COMPONENT_THRESHOLD's
# broadcast-below / shuffle-above discipline. ~8M rows × ~40 B ≈ 300 MB
# is already past safe broadcast size; 2M keeps headroom. The shared
# cutoff (and the strategy picker) lives in functions/joins.py; this
# alias keeps the historical parameter name importable.
from joern_spark.functions.joins import MAP_BROADCAST_THRESHOLD

SURVIVOR_BROADCAST_THRESHOLD = MAP_BROADCAST_THRESHOLD
# Hub-shingle guard for the exact-Jaccard self-join: a shingle shared by
# f documents contributes f² join rows, so one stop-word-ish shingle is
# quadratic at corpus scale. Shingles with document frequency above the
# cap are dropped from BOTH the intersection and the set sizes (Jaccard
# over the capped shingle universe) — the reference's lone-identifier /
# bail-out discipline (ReachingDefProblem.scala:304-349) applied to
# blocking keys. Sub-cap corpora are byte-identical to the uncapped op.
SHINGLE_DF_CAP = 1000


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Exact duplicate groups by content hash: one map-side-combined
    groupBy; survivor = min(doc_id) (deterministic under any partitioning)."""
    return (
        documents.select(F.md5("text").alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id"))
    )


def shingles(documents: DataFrame, n: int = NGRAM) -> DataFrame:
    """Distinct word n-gram shingles per doc: pure array ops (no window,
    no shuffle before the final distinct)."""
    toks = tokens_col(F.col("text"))
    sh = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        documents.select("doc_id", F.explode(F.array_distinct(sh)).alias("shingle"))
        .distinct()
    )


def capped_shingles(
    documents: DataFrame, n: int = NGRAM, cap: int = SHINGLE_DF_CAP
) -> DataFrame:
    """Shingles minus hubs (document frequency > cap). The hub set is tiny
    by construction (only keys heavier than the cap), so the filter is a
    broadcast anti-join — the shingle table itself never reshuffles."""
    sh = shingles(documents, n)
    hubs = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > cap)
        .select("shingle")
    )
    return sh.join(F.broadcast(hubs), "shingle", "left_anti")


def _jaccard(inter: Column, na: Column, nb: Column) -> Column:
    return inter.cast("double") / (na + nb - inter)


def _verify_pairs(sh: DataFrame, pairs: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard for candidate (a, b) pairs via shingle-set join."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        pairs.join(sh.select(F.col("doc_id").alias("a"), "shingle"), "a")
        .join(sh.select(F.col("doc_id").alias("b"), "shingle"), ["b", "shingle"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("n_a")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("n_b")), "b")
        .select(
            "a",
            "b",
            _jaccard(F.col("n_inter"), F.col("n_a"), F.col("n_b")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    cap: int = SHINGLE_DF_CAP,
) -> DataFrame:
    """All-pairs n-gram Jaccard ≥ threshold, blocked by shared shingle
    (a pair is compared iff it shares ≥1 sub-cap shingle — exact over the
    capped shingle universe; see SHINGLE_DF_CAP for why hubs are dropped).

    One self-join: |A∩B| falls straight out of groupBy(a, b).count() over
    the shingle-equality join (each shared shingle contributes exactly one
    row because shingle sets are distinct per doc) — no candidate
    materialization + re-join pass. The join input is provably bounded:
    every key has ≤ cap rows per side, so no key contributes more than
    cap² rows. The capped shingle table feeds three plan branches (both
    join sides + sizes) — checkpoint it once so the explode + hub
    aggregation don't run three times."""
    sh = capped_shingles(documents, cap=cap).localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        sh.alias("x")
        .join(sh.alias("y"), "shingle")
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("n_a")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("n_b")), "b")
        .select(
            "a",
            "b",
            _jaccard(F.col("n_inter"), F.col("n_a"), F.col("n_b")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_signatures(documents: DataFrame) -> DataFrame:
    """(doc_id, i, sig): N_MINHASH minwise hashes per doc. The permutation
    explode is a literal array (no shuffle); min is map-side combined."""
    sh = shingles(documents)
    hm = (md5_long(F.col("shingle")) % F.lit(MINHASH_P)).alias("hm")
    perms = F.array(
        *[
            F.struct(F.lit(i).alias("i"), minhash_perm(i, F.col("hm")).alias("h"))
            for i in range(N_MINHASH)
        ]
    )
    return (
        sh.select("doc_id", hm)
        .select("doc_id", F.explode(perms).alias("p"))
        .groupBy("doc_id", F.col("p.i").alias("i"))
        .agg(F.min("p.h").alias("sig"))
    )


def minhash_bands(documents: DataFrame) -> DataFrame:
    """(doc_id, band, band_key): the MinHash signature cut into N_BANDS
    bands of N_MINHASH/N_BANDS rows; band_key joins a band's signatures,
    in row order, with '_'. Two documents are LSH candidates iff they
    share a (band, band_key). The batch pairs and the streaming dedup
    fold both band through here, so stream equals batch."""
    rows_per_band = N_MINHASH // N_BANDS
    return (
        minhash_signatures(documents)
        .withColumn("band", (F.col("i") / rows_per_band).cast("int"))
        .groupBy("doc_id", "band")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "sig"))),
                    lambda x: x["sig"].cast("string"),
                ),
                "_",
            ).alias("band_key")
        )
    )


def minhash_lsh_pairs(
    documents: DataFrame, threshold: float = JACCARD_THRESHOLD
) -> DataFrame:
    """MinHash banding → candidate pairs → exact-Jaccard verification.

    Bands of N_MINHASH/N_BANDS rows: two docs collide iff one band's
    signature slice matches exactly — the classic LSH S-curve. Candidates
    are then verified, so output precision is exact; recall is the LSH
    approximation (pairs sharing no band are missed — by design, that is
    what makes it scale: no all-pairs term anywhere)."""
    bands = minhash_bands(documents)
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["band", "band_key"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )
    return _verify_pairs(shingles(documents), cand, threshold)


def dedup_survivors(
    documents: DataFrame,
    pairs: DataFrame,
    broadcast_threshold: int = SURVIVOR_BROADCAST_THRESHOLD,
) -> DataFrame:
    """(doc_id, keep_id, quality): map every document to its duplicate
    component's SURVIVOR — the highest-quality member (ties → lowest
    doc_id) — composing near-dup pairs (any pair source: MinHash LSH,
    SimHash, embedding cosine) with connected components and the quality
    score. Documents in no pair survive as themselves. This is the
    actionable end product of the dedup family: the keep/drop assignment
    a training pipeline filters with.

    Scale shape: components run over the pair set; the component map is
    NOT corpus-bounded (web corpora are 50–80% duplicates), so the join
    strategy is thresholded: below `broadcast_threshold` map rows the
    document side takes two broadcast joins (map + winners) and never
    shuffles; above it both joins fall back to plain shuffle hash joins
    on the padded key — one corpus shuffle, no driver-side
    materialization, OOM-safe at any dup ratio. Both paths are
    bit-identical (tested)."""
    from joern_spark.operators.canonicalize import connected_components
    from joern_spark.operators.textstats import doc_stats

    pad = lambda c: F.lpad(c.cast("string"), ID_PAD, "0")  # noqa: E731
    # the pair plan is a join: checkpoint it lazily so the component
    # solve's bounded read and dedup pass share one evaluation
    cmap = connected_components(
        pairs.select(pad(F.col("a")).alias("a"), pad(F.col("b")).alias("b"))
        .localCheckpoint(eager=False)
    ).select(
        F.col("entity_key").alias("_k"), F.col("canon").alias("_comp")
    ).localCheckpoint(eager=True)
    # the map is already materialized (connected_components ends on a
    # collect or checkpoint), so this count is a cheap metadata-ish job
    from joern_spark.functions.joins import broadcast_below

    maybe_bc = broadcast_below(cmap, broadcast_threshold)
    q = doc_stats(documents).select("doc_id", "quality").withColumn(
        "_k", pad(F.col("doc_id"))
    )
    # winner election touches only the dup-component MEMBERS (inner join
    # against the map) — the per-component window shuffles that slice,
    # never the full corpus
    members = q.join(maybe_bc(cmap), "_k")
    w = Window.partitionBy("_comp").orderBy(F.desc("quality"), F.asc("doc_id"))
    winners = (
        members.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select("_comp", F.col("doc_id").alias("keep_id"))
    )
    comp_keep = maybe_bc(
        cmap.join(winners, "_comp").select("_k", "keep_id")
    )
    return q.join(comp_keep, "_k", "left").select(
        "doc_id",
        F.coalesce("keep_id", F.col("doc_id")).alias("keep_id"),
        "quality",
    )


def simhash(documents: DataFrame) -> DataFrame:
    """32-bit SimHash per doc: per-token 32-bit hash, count-weighted ±1
    vote per bit position, sign → bit. Two shuffles (token counts, bit
    votes), both map-side combined; signature is a single BIGINT."""
    toks = tokens_col(F.col("text"))
    counts = (
        documents.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("h32", md5_long(F.col("tok")) % F.lit(2**SIMHASH_BITS))
    )
    bits = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (
                    F.col("cnt")
                    * (F.shiftright(F.col("h32"), j).bitwiseAND(F.lit(1)) * 2 - 1)
                ).alias("vote"),
            )
            for j in range(SIMHASH_BITS)
        ]
    )
    return (
        counts.select("doc_id", F.explode(bits).alias("b"))
        .groupBy("doc_id", F.col("b.j").alias("j"))
        .agg(F.sum("b.vote").alias("vote"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("vote") > 0, F.expr("shiftleft(1L, j)")).otherwise(F.lit(0))
            ).alias("simhash")
        )
    )


def simhash_pairs(
    documents: DataFrame, max_hamming: int = HAMMING_THRESHOLD
) -> DataFrame:
    """Near-dup pairs by SimHash: block on any equal byte-band (pigeonhole:
    hamming ≤ 8 over 4 bands ⇒ not guaranteed a clean band — this is the
    approximate recall trade, verified pairs are exact), verify with
    bit_count(xor) ≤ max_hamming."""
    sh = simhash(documents)
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.shiftright(F.col("simhash"), 8 * b)
                        .bitwiseAND(F.lit(255))
                        .alias("v"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.b", "band.v")
    return (
        bands.alias("x")
        .join(bands.alias("y"), ["b", "v"])
        .where(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("a"),
            F.col("y.doc_id").alias("b"),
            F.bit_count(
                F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


# Duplicated-span removal (exact substring dedup at k-token granularity).
# Spans this wide shared verbatim by two documents are boilerplate or
# copies, not coincidence; removing every occurrence (not keep-first) is
# the published semantics for training-data substring dedup. 8 tokens is
# deliberately coarser than the 3-token near-dup shingle: near-dup asks
# "are these documents alike", span removal asks "is this exact passage
# repeated".
SPAN_K = 8
SPAN_MIN_DOCS = 2


def span_dedup(
    documents: DataFrame, k: int = SPAN_K, min_docs: int = SPAN_MIN_DOCS
) -> DataFrame:
    """Remove every k-token span that appears verbatim in >= `min_docs`
    distinct documents; return per-doc cleaned text + audit counts
    (doc_id, n_tokens, n_removed, text_clean).

    The distributed shape — why this survives 100 TB:
      * span table = one row per token position (corpus width, never
        wider); duplicated spans found by ONE map-side-combined groupBy
        on the span text. No suffix array, no global sort.
      * the dup-span set joins back by plain shuffle equi-join on the
        span — on a heavily duplicated web corpus that set is
        corpus-proportional, so it is never broadcast (AQE may still
        choose to when it measures small).
      * covered token positions explode at most k rows per duplicated
        span occurrence (bounded fan-out), then one anti-join on
        (doc_id, pos) and one groupBy(doc_id) rebuild the text; a
        mega-document is one group — the same width the raw `text`
        column already has.

    Analog of the reference's content-key merge discipline
    (x2cpg NamespaceCreator.scala:19-32 exact-key groupBy) applied at
    sub-document granularity.
    """
    toks = tokens_col(F.col("text"))
    base = documents.select("doc_id", toks.alias("toks"))

    span_structs = F.when(
        F.size("toks") >= k,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - k + 1),
            lambda i: F.struct(
                i.alias("pos"), F.concat_ws(" ", F.slice("toks", i, k)).alias("span")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,span:string>>"))
    spans = base.select("doc_id", F.explode(span_structs).alias("s")).select(
        "doc_id", F.col("s.pos").alias("pos"), F.col("s.span").alias("span")
    )

    dup = (
        spans.groupBy("span")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("span")
    )

    covered = (
        spans.join(dup, "span")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("pos"),
        )
        .distinct()
    )

    tok_pos = base.select(
        "doc_id", F.posexplode("toks").alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")

    kept_text = (
        tok_pos.join(covered, ["doc_id", "pos"], "left_anti")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("text_clean")
        )
    )
    removed = covered.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_removed"))

    return (
        base.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
        .join(removed, "doc_id", "left")
        .join(kept_text, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_removed"), F.lit(0)).cast("long").alias("n_removed"),
            F.coalesce(F.col("text_clean"), F.lit("")).alias("text_clean"),
        )
    )


BOILERPLATE_N = 4  # words per probe span
BOILERPLATE_MIN_DF = 2  # distinct docs before a span is suspicious
BOILERPLATE_TOPK = 100


def boilerplate_ngrams(
    documents: DataFrame,
    n: int = BOILERPLATE_N,
    min_df: int = BOILERPLATE_MIN_DF,
    topk: int = BOILERPLATE_TOPK,
) -> DataFrame:
    """(shingle, df, example_doc) — cross-document repeated n-gram spans,
    the memorization/boilerplate probe a training pipeline runs before
    export: a span appearing verbatim in ≥ min_df DISTINCT documents is
    template/boilerplate text (license headers, navigation chrome,
    generation templates) that deduplication at document granularity
    misses and that models memorize verbatim. Complements the
    WITHIN-document repetition scores (textstats.repetition_scores) and
    the document-level near-dup family.

    Scale shape: the shingle stream is pure array ops before ONE shuffle
    keyed by the shingle (map-side partial count + min), the min_df
    HAVING prunes before the top-k, and the top-k is
    TakeOrderedAndProject (per-partition heads, no global sort). Order
    is total — (df DESC, shingle ASC) — so the boundary of the top-k is
    deterministic at any parallelism."""
    agg = (
        shingles(documents, n)
        .groupBy("shingle")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.min("doc_id").alias("example_doc"),
        )
        .where(F.col("df") >= min_df)
    )
    return agg.orderBy(F.desc("df"), F.asc("shingle")).limit(topk)


def novelty_stats(documents: DataFrame) -> DataFrame:
    """(doc_id, n_shingles, n_novel, novelty) — per document the share
    of its distinct 3-gram shingles that appear NOWHERE else in the
    corpus (corpus document frequency == 1): the inverse of the
    boilerplate probe. A curation pipeline reads this as the
    information-density signal — novelty ≈ 0 marks template/mirror
    text that survived doc-level dedup, novelty ≈ 1 marks genuinely
    new content worth its training tokens; the synthetic-data loop uses
    it to reject generations that only recombine the corpus.

    Scale shape: ONE shingle-keyed shuffle (map-side partial counts —
    the boilerplate_ngrams shape) plus the shingle→doc join back; the
    per-doc aggregate is map-side combined. Documents shorter than one
    shingle emit no row (no shingle set to score). `novelty` is one
    division of exact BIGINTs."""
    sh = shingles(documents)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    return (
        sh.join(dfreq, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("long")).cast("long").alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            (
                F.col("n_novel").cast("double") / F.col("n_shingles")
            ).alias("novelty"),
        )
    )
