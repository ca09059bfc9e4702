"""DuckDB oracle SQL for the training-data operators (dedup, similarity,
text analysis, multimodal) — independent ANSI-SQL re-implementations over
the driver's pre-registered `documents` / `embeddings` views.

Shared constants (shingle size, thresholds, hash constants, stopword and
language-profile lists, LSH hyperplanes) are imported from the SAME
modules the Spark operators use, so the two implementations cannot drift.
Hashing is md5-prefix-to-BIGINT — bit-identical in Spark and DuckDB
(functions/hashing.py).
"""

from __future__ import annotations

from joern_spark.functions.hashing import MINHASH_P, N_MINHASH
from joern_spark.operators.dedup import (
    HAMMING_THRESHOLD,
    ID_PAD,
    JACCARD_THRESHOLD,
    SHINGLE_DF_CAP,
    SIMHASH_BANDS,
    SIMHASH_BITS,
)
from joern_spark.operators.similarity import (
    COSINE_DUP_THRESHOLD,
    DIM,
    IVF_CELLS,
    IVF_PROBES,
    KMEANS_ROUNDS,
    KMEANS_SAMPLE,
    MULTI_NPLANES,
    MULTI_PROBE_H,
    MULTI_TABLES,
    NPLANES,
    PQ_K,
    PQ_M,
    PQ_TOP_K,
    SEMDEDUP_THRESHOLD,
    TOP_K,
    hyperplanes,
    probe_masks,
)
from joern_spark.operators.textstats import LANG_PROFILES, STOPWORDS

H = "(('0x' || substr(md5({x}), 1, 15))::BIGINT)"

TOKS = """
toks AS (
  SELECT doc_id, length(text) AS n_chars,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS toks
  FROM documents
)"""

# distinct 3-gram shingles per doc (mirror of operators/dedup.shingles)
SHINGLES = """
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(
           [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
            FOR i IN range(1, len(toks) - 1)])) AS shingle
  FROM toks
)"""


def _in_list(words: list[str]) -> str:
    return ", ".join(f"'{w}'" for w in words)


def _quality_sql() -> str:
    """The doc_stats quality score over the `toks` CTE column — ONE
    definition mirroring textstats.quality_col, used by every oracle
    that scores quality."""
    stop = _in_list(STOPWORDS)
    return (
        f"least(len(toks)::DOUBLE / 100.0, 1.0) * 0.5"
        f" + (len(list_filter(toks, t -> t IN ({stop})))::DOUBLE / len(toks)) * 0.3"
        f" + (len(list_distinct(toks))::DOUBLE / len(toks)) * 0.2"
    )


def doc_stats_sql() -> str:
    stop = _in_list(STOPWORDS)
    return f"""
WITH {TOKS}
SELECT doc_id, n_chars,
       len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_uniq_tokens,
       len(list_filter(toks, t -> t IN ({stop}))) AS n_stopwords,
       len(list_filter(toks, t -> t IN ({stop})))::DOUBLE / len(toks) AS stopword_ratio,
       len(list_distinct(toks))::DOUBLE / len(toks) AS uniq_ratio,
       {_quality_sql()} AS quality
FROM toks
"""


def lang_id_sql() -> str:
    hits = ",\n       ".join(
        f"len(list_filter(toks, t -> t IN ({_in_list(words)}))) AS {lang}_hits"
        for lang, words in LANG_PROFILES
    )
    langs = [lang for lang, _ in LANG_PROFILES]
    all_hits = ", ".join(f"{lang}_hits" for lang in langs)
    # first-wins tie-break = CASE chain in profile order
    case = "CASE WHEN greatest(" + all_hits + ") = 0 THEN 'und'\n"
    for i, lang in enumerate(langs):
        rest = [f"{lang}_hits >= {o}_hits" for o in langs[i + 1 :]]
        cond = " AND ".join(rest) if rest else "TRUE"
        case += f"            WHEN {cond} THEN '{lang}'\n"
    case += "       END"
    return f"""
WITH {TOKS},
scored AS (SELECT doc_id, {hits} FROM toks)
SELECT doc_id, {all_hits}, {case} AS lang_guess
FROM scored
"""


def token_counts_sql() -> str:
    from joern_spark.operators.textstats import BPE_PATTERN

    return f"""
WITH {TOKS}
SELECT d.doc_id,
       len(t.toks) AS n_ws_tokens,
       len(regexp_extract_all(d.text, '{BPE_PATTERN}')) AS n_bpe_tokens,
       CASE WHEN len(t.toks) > 0
            THEN len(regexp_extract_all(d.text, '{BPE_PATTERN}'))::DOUBLE
                 / len(t.toks) END AS bpe_per_ws
FROM documents d JOIN toks t USING (doc_id)
"""


def unigram_logprob_sql() -> str:
    """Mirror of textstats.unigram_logprob: identical expression tree
    (tf::DOUBLE * ln(c::DOUBLE / total)) and ascending-sorted fold of
    the per-document terms (list_sort + list_sum), so the IEEE additions
    happen in the same order as Spark's array_sort + aggregate."""
    return f"""
WITH {TOKS},
tk AS (SELECT doc_id, unnest(toks) AS tok FROM toks),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
cnt AS (SELECT tok, sum(tf) AS c FROM tf GROUP BY 1),
tot AS (SELECT sum(c) AS total FROM cnt)
SELECT doc_id,
       sum(tf)::BIGINT AS n_tokens,
       list_sum(list_sort(
         list(tf::DOUBLE * ln(c::DOUBLE / (SELECT total FROM tot)))
       )) / sum(tf)::DOUBLE AS mean_lp
FROM tf JOIN cnt USING (tok)
GROUP BY doc_id
"""


def bigram_logprob_sql() -> str:
    """Mirror of textstats.bigram_logprob: conditional bigram
    log-probability under the corpus's own counts, identical expression
    tree (tf::DOUBLE * ln(c2::DOUBLE / c1::DOUBLE)) and ascending-sorted
    per-document fold. Tokens contain no spaces, so the prefix key
    string_split(g, ' ')[1] is exact on both engines."""
    return f"""
WITH {TOKS},
b AS (
  SELECT doc_id,
         unnest([toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]) AS g
  FROM toks WHERE len(toks) >= 2
),
tf AS (SELECT doc_id, g, count(*) AS tf FROM b GROUP BY 1, 2),
c2 AS (SELECT g, sum(tf) AS c2 FROM tf GROUP BY 1),
c1 AS (
  SELECT string_split(g, ' ')[1] AS w1, sum(c2) AS c1 FROM c2 GROUP BY 1
)
SELECT doc_id,
       sum(tf)::BIGINT AS n_bigrams,
       list_sum(list_sort(
         list(tf::DOUBLE * ln(c2::DOUBLE / c1::DOUBLE))
       )) / sum(tf)::DOUBLE AS mean_lp
FROM tf
JOIN c2 USING (g)
JOIN c1 ON string_split(tf.g, ' ')[1] = c1.w1
GROUP BY doc_id
"""


def bpe_merges_sql(k: int | None = None) -> str:
    """Mirror of textstats.bpe_merges: word-frequency-weighted adjacent
    character-pair counts over the distinct-word table, total-ordered
    top-k (count desc, pair asc)."""
    from joern_spark.operators.textstats import BPE_MERGE_K

    k = BPE_MERGE_K if k is None else k
    return f"""
WITH {TOKS},
wc AS (
  SELECT tok, count(*)::BIGINT AS wc
  FROM (SELECT unnest(toks) AS tok FROM toks) GROUP BY 1
),
pc AS (
  SELECT unnest([substr(tok, i, 2) FOR i IN range(1, length(tok))]) AS pair, wc
  FROM wc WHERE length(tok) >= 2
),
agg AS (SELECT pair, sum(wc)::BIGINT AS cnt FROM pc GROUP BY 1)
SELECT row_number() OVER (ORDER BY cnt DESC, pair ASC) AS rank, pair,
       cnt AS count
FROM agg
ORDER BY cnt DESC, pair ASC
LIMIT {k}
"""


def lm_buckets_sql() -> str:
    """Mirror of textstats.lm_buckets over the unigram_logprob CTE;
    quantile_cont == Spark's exact percentile, probabilities written as
    1.0/3.0 on both engines."""
    return f"""
WITH lp AS ({unigram_logprob_sql()}),
q AS (SELECT quantile_cont(mean_lp, 1.0/3.0) AS q33,
             quantile_cont(mean_lp, 2.0/3.0) AS q67 FROM lp)
SELECT doc_id, mean_lp,
       CASE WHEN mean_lp >= q67 THEN 'head'
            WHEN mean_lp >= q33 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM lp, q
"""


def doc_keywords_sql() -> str:
    """Mirror of textstats.doc_keywords: identical tf·ln(n_docs/df)
    expression and (score DESC, tok ASC) ranking."""
    from joern_spark.operators.textstats import DOC_KEYWORDS_K

    return f"""
WITH {TOKS},
tk AS (SELECT doc_id, unnest(toks) AS tok FROM toks),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
SELECT doc_id, tok, tf::BIGINT AS tf, score, rank FROM (
  SELECT doc_id, tok, tf,
         tf::DOUBLE * ln((SELECT n_docs FROM nd)::DOUBLE / df::DOUBLE)
           AS score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tf::DOUBLE * ln(
                              (SELECT n_docs FROM nd)::DOUBLE / df::DOUBLE
                            ) DESC, tok ASC) AS rank
  FROM tf JOIN dfreq USING (tok)
) WHERE rank <= {DOC_KEYWORDS_K}
"""


def bm25_topk_sql() -> str:
    """Mirror of textstats.bm25_topk: identical Okapi BM25 expression
    tree — idf = ln((N − df + 0.5)/(df + 0.5) + 1.0) times the
    length-normalized tf term, constants substituted as the SAME Python
    float literals both engines parse to the same doubles — with the
    ascending-sorted per-(query, doc) fold and (score DESC, doc_id ASC)
    ranking."""
    from joern_spark.operators.textstats import (
        BM25_B,
        BM25_K1,
        BM25_QUERIES,
        BM25_TOP_K,
    )

    values = ", ".join(f"('{qid}', '{qtext}')" for qid, qtext in BM25_QUERIES)
    k1p1, k1, omb, b = repr(BM25_K1 + 1.0), repr(BM25_K1), repr(1.0 - BM25_B), repr(BM25_B)
    return f"""
WITH {TOKS},
tk AS (SELECT doc_id, unnest(toks) AS tok FROM toks),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
st AS (SELECT count(*) AS n_docs,
              sum(dl)::DOUBLE / count(*)::DOUBLE AS avgdl FROM dl),
dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
q(query_id, qtext) AS (VALUES {values}),
qt AS (
  SELECT DISTINCT query_id,
         unnest(list_filter(string_split_regex(lower(qtext), '[^a-z0-9]+'),
                            t -> t <> '')) AS tok
  FROM q
),
w AS (
  SELECT qt.query_id, tf.doc_id,
         ln((st.n_docs::DOUBLE - dfreq.df::DOUBLE + 0.5)
            / (dfreq.df::DOUBLE + 0.5) + 1.0)
         * (tf.tf::DOUBLE * {k1p1}
            / (tf.tf::DOUBLE
               + {k1} * ({omb} + {b} * dl.dl::DOUBLE / st.avgdl))) AS w
  FROM tf JOIN qt USING (tok) JOIN dfreq USING (tok)
       JOIN dl USING (doc_id), st
),
s AS (SELECT query_id, doc_id, list_sum(list_sort(list(w))) AS score
      FROM w GROUP BY 1, 2)
SELECT query_id, doc_id, score, rank FROM (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM s
) WHERE rank <= {BM25_TOP_K}
"""


def fingerprints_sql(ngram: int = 4, window: int = 5) -> str:
    concat = " || ' ' || ".join(f"toks[i+{k}]" for k in range(ngram))
    return f"""
WITH {TOKS},
shp AS (
  SELECT doc_id, s.pos AS pos, s.h AS h FROM (
    SELECT doc_id,
           unnest([{{'pos': i, 'h': {H.format(x=concat)}}}
                   FOR i IN range(1, len(toks) - {ngram - 2})]) AS s
    FROM toks)
)
SELECT DISTINCT doc_id,
       min(h) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN CURRENT ROW AND {window - 1} FOLLOWING)
         AS fingerprint
FROM shp
"""


def exact_dedup_sql() -> str:
    return """
SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS keep_id
FROM documents GROUP BY 1
"""


def span_dedup_sql() -> str:
    """Duplicated k-token span removal (mirror of dedup.span_dedup)."""
    from joern_spark.operators.dedup import SPAN_K, SPAN_MIN_DOCS

    k = SPAN_K
    span_expr = " || ' ' || ".join(f"toks[i+{j}]" for j in range(k))
    return f"""
WITH {TOKS},
spans AS (
  SELECT doc_id, s.pos AS pos, s.span AS span FROM (
    SELECT doc_id,
           unnest([{{'pos': i, 'span': {span_expr}}}
                   FOR i IN range(1, len(toks) - {k - 2})]) AS s
    FROM toks)
),
dup AS (
  SELECT span FROM (
    SELECT span, count(DISTINCT doc_id) AS nd FROM spans GROUP BY 1)
  WHERE nd >= {SPAN_MIN_DOCS}
),
cov AS (
  SELECT DISTINCT doc_id, unnest(range(pos, pos + {k})) AS pos
  FROM spans JOIN dup USING (span)
),
tokpos AS (
  SELECT doc_id, t.pos AS pos, t.tok AS tok FROM (
    SELECT doc_id,
           unnest([{{'pos': i, 'tok': toks[i]}} FOR i IN range(1, len(toks) + 1)]) AS t
    FROM toks)
),
kept AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_clean
  FROM tokpos ANTI JOIN cov USING (doc_id, pos)
  GROUP BY 1
),
rem AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY 1)
SELECT t.doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(coalesce(rem.n_removed, 0) AS BIGINT) AS n_removed,
       coalesce(kept.text_clean, '') AS text_clean
FROM toks t
LEFT JOIN rem USING (doc_id)
LEFT JOIN kept USING (doc_id)
"""


_VERIFY = f"""
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT c.a, c.b, count(*) AS n_inter
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.a
  JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
),
verified AS (
  SELECT i.a, i.b,
         i.n_inter::DOUBLE / (na.n_sh + nb.n_sh - i.n_inter) AS jaccard
  FROM inter i
  JOIN sizes na ON na.doc_id = i.a
  JOIN sizes nb ON nb.doc_id = i.b
)
SELECT a, b, jaccard FROM verified WHERE jaccard >= {JACCARD_THRESHOLD}
"""


def ngram_jaccard_sql() -> str:
    # shc mirrors dedup.capped_shingles: hub shingles (df > cap) leave
    # both the candidate join and the set sizes
    return f"""
WITH {TOKS},
{SHINGLES},
shc AS (
  SELECT * FROM sh WHERE shingle NOT IN (
    SELECT shingle FROM sh GROUP BY 1 HAVING count(*) > {SHINGLE_DF_CAP})
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM shc x JOIN shc y USING (shingle)
  WHERE x.doc_id < y.doc_id
),
{_VERIFY.replace("FROM sh ", "FROM shc ").replace("JOIN sh ", "JOIN shc ")}
"""


def decontaminate_sql() -> str:
    from joern_spark.operators.curate import BENCHMARK_MOD

    return f"""
WITH {TOKS},
{SHINGLES},
bench AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % {BENCHMARK_MOD} = 0
),
hits AS (
  SELECT s.doc_id, count(*) AS n
  FROM sh s JOIN bench b USING (shingle)
  GROUP BY 1
)
SELECT d.doc_id,
       coalesce(h.n, 0)::BIGINT AS n_contaminated,
       coalesce(h.n, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
"""


def stratified_sample_sql() -> str:
    from joern_spark.operators.curate import DEFAULT_SAMPLE_RATES, H_SPACE

    h = H.format(x="CAST(doc_id AS VARCHAR)")
    cases = " ".join(
        f"WHEN '{k}' THEN {r!r}" for k, r in DEFAULT_SAMPLE_RATES.items()
    )
    return f"""
SELECT * FROM documents
WHERE {h}::DOUBLE < (CASE lang {cases} ELSE 0.0 END) * {H_SPACE!r}
"""


def curation_verdict_sql() -> str:
    from joern_spark.operators.curate import (
        BENCHMARK_MOD,
        DEFAULT_SAMPLE_RATES,
        H_SPACE,
        QUALITY_MIN,
    )

    quality = _quality_sql()
    h = H.format(x="CAST(doc_id AS VARCHAR)")
    cases = " ".join(
        f"WHEN '{k}' THEN {r!r}" for k, r in DEFAULT_SAMPLE_RATES.items()
    )
    return f"""
WITH {TOKS},
{SHINGLES},
stats AS (SELECT doc_id, {quality} AS quality FROM toks),
bench AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % {BENCHMARK_MOD} = 0
),
hits AS (
  SELECT s.doc_id, count(*) AS n
  FROM sh s JOIN bench b USING (shingle)
  GROUP BY 1
),
grp AS (
  SELECT md5(text) AS text_hash, min(doc_id) AS keep_id
  FROM documents GROUP BY 1
),
base AS (
  SELECT doc_id, md5(text) AS text_hash,
         {h}::DOUBLE
           < (CASE lang {cases} ELSE 0.0 END) * {H_SPACE!r} AS sampled
  FROM documents
),
verdict AS (
  SELECT b.doc_id,
         CASE WHEN s.quality < {QUALITY_MIN} THEN 'low-quality'
              WHEN NOT b.sampled THEN 'sampled-out'
              WHEN coalesce(h.n, 0) > 0 THEN 'contaminated'
              WHEN b.doc_id <> g.keep_id THEN 'duplicate'
              ELSE 'kept' END AS reason
  FROM base b
  JOIN grp g USING (text_hash)
  JOIN stats s ON s.doc_id = b.doc_id
  LEFT JOIN hits h ON h.doc_id = b.doc_id
)
SELECT doc_id, reason, reason = 'kept' AS kept FROM verdict
"""


def scrub_pii_sql() -> str:
    from joern_spark.operators.curate import PII_PATTERNS

    clean = "text"
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(
            f"len(regexp_extract_all({clean}, '{pat}'))::BIGINT AS n_{name}"
        )
        clean = f"regexp_replace({clean}, '{pat}', '{token}', 'g')"
    total = " + ".join(f"n_{name}" for name, _, _ in PII_PATTERNS)
    counts_sql = ",\n       ".join(counts)
    return f"""
SELECT doc_id, clean_text, {", ".join(f"n_{n}" for n, _, _ in PII_PATTERNS)},
       ({total})::BIGINT AS n_redactions
FROM (
  SELECT doc_id,
         {clean} AS clean_text,
         {counts_sql}
  FROM documents
)
"""


def length_quantiles_sql() -> str:
    from joern_spark.operators.textstats import QUANTILE_PROBS

    qs = ",\n       ".join(
        f"quantile_cont(len(toks), {p}) AS p{int(p * 100)}"
        for p in QUANTILE_PROBS
    )
    return f"""
WITH {TOKS}
SELECT d.lang, count(*)::BIGINT AS n_docs,
       {qs}
FROM documents d JOIN toks USING (doc_id)
GROUP BY d.lang
"""


def repetition_stats_sql() -> str:
    """Mirror of textstats.repetition_stats: top-bigram share + duplicate
    5-gram share per doc; tie-break ORDER BY cnt DESC, g DESC matches the
    Spark struct-max exactly."""
    return f"""
WITH {TOKS},
b AS (
  SELECT doc_id,
         unnest([toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]) AS g
  FROM toks WHERE len(toks) >= 2
),
f AS (
  SELECT doc_id,
         unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
                 toks[i+3] || ' ' || toks[i+4]
                 FOR i IN range(1, len(toks) - 3)]) AS g
  FROM toks WHERE len(toks) >= 5
),
bc AS (SELECT doc_id, g, count(*)::BIGINT AS cnt FROM b GROUP BY 1, 2),
br AS (
  SELECT doc_id, g, cnt,
         row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, g DESC) AS rn,
         sum(cnt) OVER (PARTITION BY doc_id)::BIGINT AS n_bigrams
  FROM bc
),
btop AS (
  SELECT doc_id, g AS top_bigram, cnt AS top_bigram_count, n_bigrams
  FROM br WHERE rn = 1
),
fc AS (SELECT doc_id, g, count(*)::BIGINT AS cnt FROM f GROUP BY 1, 2),
fagg AS (
  SELECT doc_id, sum(cnt)::BIGINT AS n_fivegrams,
         coalesce(sum(cnt) FILTER (cnt > 1), 0)::BIGINT AS dup5
  FROM fc GROUP BY 1
)
SELECT b.doc_id, top_bigram, top_bigram_count, n_bigrams,
       top_bigram_count::DOUBLE / n_bigrams AS top_bigram_frac,
       f.n_fivegrams,
       CASE WHEN f.n_fivegrams > 0
            THEN dup5::DOUBLE / f.n_fivegrams END AS dup_fivegram_frac
FROM btop b LEFT JOIN fagg f USING (doc_id)
"""


def stratified_topn_sql() -> str:
    from joern_spark.operators.curate import TOPN_PER_STRATUM

    quality = _quality_sql()
    return f"""
WITH {TOKS},
scored AS (
  SELECT d.doc_id, d.lang, {quality} AS quality
  FROM documents d JOIN toks USING (doc_id)
)
SELECT doc_id, lang, rank FROM (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang
                            ORDER BY quality DESC, doc_id ASC)::BIGINT AS rank
  FROM scored
) WHERE rank <= {TOPN_PER_STRATUM}
"""


def pack_shards_sql() -> str:
    from joern_spark.operators.curate import SHARD_GROUPS, SHARD_TOKEN_BUDGET

    return f"""
WITH {TOKS},
d AS (
  SELECT doc_id, doc_id % {SHARD_GROUPS} AS grp, len(toks)::BIGINT AS n_tokens
  FROM toks
),
cum AS (
  SELECT doc_id, grp, n_tokens,
         sum(n_tokens) OVER (PARTITION BY grp ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM d
)
SELECT doc_id,
       CAST(grp AS VARCHAR) || ':'
         || CAST((cum - n_tokens) // {SHARD_TOKEN_BUDGET} AS VARCHAR) AS shard_id,
       ((cum - n_tokens) % {SHARD_TOKEN_BUDGET})::BIGINT AS offset_tokens,
       n_tokens
FROM cum
"""


def minhash_lsh_sql() -> str:
    rows_per_band = N_MINHASH // 4
    return f"""
WITH {TOKS},
{SHINGLES},
hm AS (SELECT doc_id, {H.format(x='shingle')} % {MINHASH_P} AS hm FROM sh),
perm AS (
  SELECT doc_id, g.i AS i,
         ((2*g.i + 1) * hm + (9176*g.i + 12345)) % {MINHASH_P} AS h
  FROM hm, generate_series(0, {N_MINHASH - 1}) g(i)
),
sigs AS (SELECT doc_id, i, min(h) AS sig FROM perm GROUP BY 1, 2),
bands AS (
  SELECT doc_id, i // {rows_per_band} AS band,
         string_agg(sig::VARCHAR, '_' ORDER BY i) AS band_key
  FROM sigs GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bands x JOIN bands y USING (band, band_key)
  WHERE x.doc_id < y.doc_id
),
{_VERIFY}
"""


def dedup_survivors_sql() -> str:
    """Components over the MinHash pair set + quality-ranked winner per
    component; unpaired docs survive as themselves."""
    return f"""
WITH RECURSIVE
pr AS (
  SELECT lpad(CAST(a AS VARCHAR), {ID_PAD}, '0') AS a,
         lpad(CAST(b AS VARCHAR), {ID_PAD}, '0') AS b
  FROM ({minhash_lsh_sql()})
),
sym AS (SELECT a, b FROM pr UNION SELECT b AS a, a AS b FROM pr),
reach(n, m) AS (
  SELECT DISTINCT a AS n, a AS m FROM sym
  UNION
  SELECT r.n, s.b AS m FROM reach r JOIN sym s ON s.a = r.m
),
cmap AS (SELECT n AS k, min(m) AS comp FROM reach GROUP BY n),
q AS (
  SELECT doc_id, quality, lpad(CAST(doc_id AS VARCHAR), {ID_PAD}, '0') AS k
  FROM ({doc_stats_sql()})
),
members AS (SELECT q.doc_id, q.quality, c.comp FROM q JOIN cmap c ON q.k = c.k),
winners AS (
  SELECT comp, doc_id AS keep_id FROM members
  QUALIFY row_number() OVER (PARTITION BY comp
                             ORDER BY quality DESC, doc_id ASC) = 1
),
ck AS (SELECT c.k, w.keep_id FROM cmap c JOIN winners w USING (comp))
SELECT q.doc_id, coalesce(ck.keep_id, q.doc_id) AS keep_id, q.quality
FROM q LEFT JOIN ck ON q.k = ck.k
"""


def simhash_sql() -> str:
    return f"""
WITH {TOKS},
cnts AS (
  SELECT doc_id, tok, count(*) AS cnt
  FROM (SELECT doc_id, unnest(toks) AS tok FROM toks) GROUP BY 1, 2
),
h32 AS (SELECT doc_id, cnt, {H.format(x='tok')} % {2**SIMHASH_BITS} AS h32 FROM cnts),
votes AS (
  SELECT doc_id, g.i AS j, sum(cnt * (((h32 >> g.i) & 1) * 2 - 1)) AS vote
  FROM h32, generate_series(0, {SIMHASH_BITS - 1}) g(i) GROUP BY 1, 2
)
SELECT doc_id,
       sum(CASE WHEN vote > 0 THEN (1::BIGINT << j) ELSE 0 END)::BIGINT AS simhash
FROM votes GROUP BY 1
"""


def simhash_pairs_sql() -> str:
    return f"""
WITH sim AS ({simhash_sql()}),
bands AS (
  SELECT doc_id, simhash, g.b AS band, (simhash >> (8 * g.b)) & 255 AS v
  FROM sim, generate_series(0, {SIMHASH_BANDS - 1}) g(b)
),
pairs AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
         bit_count(xor(x.simhash, y.simhash)) AS hamming
  FROM bands x JOIN bands y ON x.band = y.band AND x.v = y.v
  WHERE x.doc_id < y.doc_id
)
SELECT a, b, hamming FROM pairs WHERE hamming <= {HAMMING_THRESHOLD}
"""


# --- embeddings ---------------------------------------------------------------

_NORM = """
normed AS (
  SELECT vec_id, embedding,
         sqrt(list_sum([(x::DOUBLE) * (x::DOUBLE) FOR x IN embedding])) AS norm
  FROM embeddings
)"""

_DOT_XY = (
    "list_sum([(x.embedding[i]::DOUBLE) * (y.embedding[i]::DOUBLE) "
    f"FOR i IN range(1, {DIM + 1})])"
)


def cosine_topk_sql(k: int = TOP_K) -> str:
    return f"""
WITH {_NORM},
sims AS (
  SELECT x.vec_id AS src, y.vec_id AS dst,
         {_DOT_XY} / (x.norm * y.norm) AS sim
  FROM normed x, normed y WHERE x.vec_id <> y.vec_id
),
ranked AS (
  SELECT src, dst, sim,
         row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rank
  FROM sims
)
SELECT src, dst, rank, sim FROM ranked WHERE rank <= {k}
"""


def _bucket_expr(table_alias: str, offset: int = 0, nplanes: int = NPLANES) -> str:
    planes = hyperplanes(nplanes, DIM, offset)
    terms = []
    for p, w in enumerate(planes):
        lits = "[" + ", ".join(str(c) for c in w) + "]"
        dot = (
            f"list_sum([({table_alias}.embedding[i]::DOUBLE) * (({lits})[i]::DOUBLE) "
            f"FOR i IN range(1, {DIM + 1})])"
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


def cosine_topk_lsh_sql(k: int = TOP_K) -> str:
    return f"""
WITH {_NORM},
bucketed AS (
  SELECT n.vec_id, n.embedding, n.norm, {_bucket_expr('n')} AS bucket
  FROM normed n
),
sims AS (
  SELECT x.vec_id AS src, y.vec_id AS dst,
         {_DOT_XY} / (x.norm * y.norm) AS sim
  FROM bucketed x JOIN bucketed y USING (bucket)
  WHERE x.vec_id <> y.vec_id
),
ranked AS (
  SELECT src, dst, sim,
         row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rank
  FROM sims
)
SELECT src, dst, rank, sim FROM ranked WHERE rank <= {k}
"""


def cosine_topk_lsh_multi_sql(k: int = TOP_K, n_tables: int = MULTI_TABLES) -> str:
    masks = "[" + ", ".join(str(m) for m in probe_masks()) + "]"
    buckets = ",\n".join(
        f"b{t} AS (SELECT n.vec_id,"
        f" {_bucket_expr('n', t * MULTI_NPLANES, MULTI_NPLANES)} AS bucket"
        f" FROM normed n)"
        for t in range(n_tables)
    )
    # multiprobe mirror: x probes bucket^mask for every ≤MULTI_PROBE_H-bit
    # mask, so a pair is a candidate iff its signatures differ in ≤H bits
    cand_union = "\nUNION\n".join(
        f"SELECT x.vec_id AS src, y.vec_id AS dst FROM "
        f"(SELECT vec_id, xor(bucket, m.mask) AS bucket FROM b{t},"
        f" (SELECT unnest({masks}) AS mask) m) x "
        f"JOIN b{t} y USING (bucket) WHERE x.vec_id <> y.vec_id"
        for t in range(n_tables)
    )
    return f"""
WITH {_NORM},
{buckets},
cand AS ({cand_union}),
sims AS (
  SELECT c.src, c.dst,
         list_sum([(x.embedding[i]::DOUBLE) * (y.embedding[i]::DOUBLE)
                   FOR i IN range(1, {DIM + 1})]) / (x.norm * y.norm) AS sim
  FROM cand c
  JOIN normed x ON x.vec_id = c.src
  JOIN normed y ON y.vec_id = c.dst
),
ranked AS (
  SELECT src, dst, sim,
         row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rank
  FROM sims
)
SELECT src, dst, rank, sim FROM ranked WHERE rank <= {k}
"""


def cosine_topk_ivf_sql(k: int = TOP_K) -> str:
    """IVF mirror: identical deterministic centroid choice (k lowest
    md5(vec_id)), identical (sim desc, cell asc) probe ranking, exact
    re-rank over the celled candidates."""
    h = H.format(x="CAST(vec_id AS VARCHAR)")
    cdot = (
        "list_sum([(n.embedding[i]::DOUBLE) * (c.centroid[i]::DOUBLE) "
        f"FOR i IN range(1, {DIM + 1})])"
    )
    return f"""
WITH {_NORM},
cent AS (
  SELECT row_number() OVER (ORDER BY {h}, vec_id) - 1 AS cell,
         embedding AS centroid,
         sqrt(list_sum([(x::DOUBLE) * (x::DOUBLE) FOR x IN embedding])) AS cnorm
  FROM embeddings
  QUALIFY row_number() OVER (ORDER BY {h}, vec_id) <= {IVF_CELLS}
),
pairsim AS (
  SELECT n.vec_id, c.cell, {cdot} / (n.norm * c.cnorm) AS sim
  FROM normed n CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, cell,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, cell ASC) - 1 AS rank
  FROM pairsim
  QUALIFY rank < {IVF_PROBES}
),
x AS (
  SELECT a.vec_id AS src, a.cell, n.embedding, n.norm
  FROM assign a JOIN normed n USING (vec_id)
),
y AS (
  SELECT a.vec_id AS dst, a.cell, n.embedding, n.norm
  FROM assign a JOIN normed n USING (vec_id) WHERE a.rank = 0
),
sims AS (
  SELECT DISTINCT x.src, y.dst, {_DOT_XY} / (x.norm * y.norm) AS sim
  FROM x JOIN y USING (cell) WHERE x.src <> y.dst
),
ranked AS (
  SELECT src, dst, sim,
         row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rank
  FROM sims
)
SELECT src, dst, rank, sim FROM ranked WHERE rank <= {k}
"""


def cosine_dup_pairs_sql() -> str:
    return f"""
WITH {_NORM},
sims AS (
  SELECT x.vec_id AS a, y.vec_id AS b,
         {_DOT_XY} / (x.norm * y.norm) AS sim
  FROM normed x, normed y WHERE x.vec_id < y.vec_id
)
SELECT a, b, sim FROM sims WHERE sim >= {COSINE_DUP_THRESHOLD}
"""


def semantic_dedup_sql() -> str:
    """SemDeDup mirror: identical deterministic centroid choice and
    nearest-cell assignment as the IVF oracle, within-cell cosine pairs,
    recursive-closure components, least-centroid-similar winner (ties →
    lowest vec_id). csim only ORDERS the election (it is not emitted),
    and all members of a component share one cell's centroid, so the
    common cnorm factor cannot flip the cross-engine ordering."""
    h = H.format(x="CAST(vec_id AS VARCHAR)")
    cdot = (
        "list_sum([(n.embedding[i]::DOUBLE) * (c.centroid[i]::DOUBLE) "
        f"FOR i IN range(1, {DIM + 1})])"
    )
    return f"""
WITH RECURSIVE {_NORM},
cent AS (
  SELECT row_number() OVER (ORDER BY {h}, vec_id) - 1 AS cell,
         embedding AS centroid,
         sqrt(list_sum([(x::DOUBLE) * (x::DOUBLE) FOR x IN embedding])) AS cnorm
  FROM embeddings
  QUALIFY row_number() OVER (ORDER BY {h}, vec_id) <= {IVF_CELLS}
),
pairsim AS (
  SELECT n.vec_id, c.cell, {cdot} / (n.norm * c.cnorm) AS sim
  FROM normed n CROSS JOIN cent c
),
assign AS (
  SELECT vec_id, cell, sim AS csim FROM pairsim
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY sim DESC, cell ASC) = 1
),
sides AS (
  SELECT a.vec_id, a.cell, n.embedding, n.norm
  FROM assign a JOIN normed n USING (vec_id)
),
pr AS (
  SELECT lpad(CAST(x.vec_id AS VARCHAR), {ID_PAD}, '0') AS a,
         lpad(CAST(y.vec_id AS VARCHAR), {ID_PAD}, '0') AS b
  FROM sides x JOIN sides y USING (cell)
  WHERE x.vec_id < y.vec_id
    AND {_DOT_XY} / (x.norm * y.norm) >= {SEMDEDUP_THRESHOLD}
),
sym AS (SELECT a, b FROM pr UNION SELECT b AS a, a AS b FROM pr),
reach(n, m) AS (
  SELECT DISTINCT a AS n, a AS m FROM sym
  UNION
  SELECT r.n, s.b AS m FROM reach r JOIN sym s ON s.a = r.m
),
cmap AS (SELECT n AS k, min(m) AS comp FROM reach GROUP BY n),
keyed AS (
  SELECT vec_id, cell, csim,
         lpad(CAST(vec_id AS VARCHAR), {ID_PAD}, '0') AS k
  FROM assign
),
winners AS (
  SELECT c.comp, m.vec_id AS keep_id
  FROM keyed m JOIN cmap c ON m.k = c.k
  QUALIFY row_number() OVER (PARTITION BY c.comp
                             ORDER BY m.csim ASC, m.vec_id ASC) = 1
),
ck AS (SELECT c.k, w.keep_id FROM cmap c JOIN winners w USING (comp))
SELECT keyed.vec_id, coalesce(ck.keep_id, keyed.vec_id) AS keep_id, keyed.cell
FROM keyed LEFT JOIN ck ON keyed.k = ck.k
"""


def chunk_documents_sql(window: int | None = None, stride: int | None = None) -> str:
    """Mirror of curate.chunk_documents: fixed-token windows with
    overlap; chunk_idx recovered arithmetically from the start position
    (starts are exactly 1 + k·stride); DuckDB's 1-based inclusive list
    slice toks[st : st+window-1] equals Spark's slice(toks, st, window)."""
    from joern_spark.operators.curate import CHUNK_STRIDE, CHUNK_WINDOW

    window = CHUNK_WINDOW if window is None else window
    stride = CHUNK_STRIDE if stride is None else stride
    return f"""
WITH {TOKS},
d AS (SELECT doc_id, toks FROM toks WHERE len(toks) > 0),
c AS (
  SELECT doc_id, toks,
         unnest(range(1, len(toks) + 1, {stride})) AS st
  FROM d
)
SELECT doc_id,
       CAST((st - 1) / {stride} AS INT) AS chunk_idx,
       len(toks[st : st + {window} - 1])::BIGINT AS n_chunk_tokens,
       array_to_string(toks[st : st + {window} - 1], ' ') AS chunk_text
FROM c
"""


# --- multimodal ---------------------------------------------------------------

def decode_png_sql() -> str:
    """Closed-form twin of multimodal.decode_image: the fixture pixels
    are byte[i] = (doc_id·131 + i·7) mod 256 over w×h×ch with the same
    literal geometry constants (PNG_MOD_W/H), so the oracle reproduces
    the decoded buffer without any codec — a lateral range join builds
    the gradient and string_aggs it into the identical lowercase hex."""
    from joern_spark.operators.multimodal import PNG_MOD_H, PNG_MOD_W

    return f"""
WITH d AS (
  SELECT doc_id,
         1 + doc_id % {PNG_MOD_W} AS w,
         1 + (doc_id >> 3) % {PNG_MOD_H} AS h,
         CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch
  FROM documents
)
SELECT d.doc_id,
       any_value(d.w)::INT AS width,
       any_value(d.h)::INT AS height,
       any_value(d.w * d.h * d.ch)::BIGINT AS n_pixels,
       string_agg(printf('%02x', (d.doc_id * 131 + t.i * 7) % 256),
                  '' ORDER BY t.i) AS pixel_hex
-- DuckDB range() takes no lateral args: cross-join the max geometry
-- ({PNG_MOD_W}·{PNG_MOD_H}·3 rows) and filter to each doc's true size
FROM d, range(0, {PNG_MOD_W * PNG_MOD_H * 3}) t(i)
WHERE t.i < d.w * d.h * d.ch
GROUP BY d.doc_id
"""


def resize_pixels_sql() -> str:
    """Closed-form twin of multimodal.resize_pixels: output byte j of the
    nearest-neighbor thumbnail maps to source index
    i = ((y·h//oh)·w + (x·w//ow))·ch + c with (y, x, c) decomposed from j,
    and the source byte is the gradient (doc_id·131 + i·7) mod 256 — so
    the oracle recomputes every RESAMPLED byte with no codec and no
    resampler; a wrong unfilter path OR a wrong resample index fails."""
    from joern_spark.operators.multimodal import (
        PNG_MOD_H,
        PNG_MOD_W,
        RESIZE_PIXELS_SIDE,
    )

    m = RESIZE_PIXELS_SIDE
    max_j = m * m * 3  # downscaled dims never exceed m; RGB ch = 3
    return f"""
WITH d AS (
  SELECT doc_id,
         1 + doc_id % {PNG_MOD_W} AS w,
         1 + (doc_id >> 3) % {PNG_MOD_H} AS h,
         CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS ch
  FROM documents
),
g AS (
  SELECT doc_id, w, h, ch,
         CASE WHEN greatest(w, h) <= {m} THEN w
              ELSE greatest((w * {m}) // greatest(w, h), 1) END AS ow,
         CASE WHEN greatest(w, h) <= {m} THEN h
              ELSE greatest((h * {m}) // greatest(w, h), 1) END AS oh
  FROM d
)
SELECT g.doc_id,
       any_value(g.w)::INT AS width,
       any_value(g.h)::INT AS height,
       any_value(g.ow)::INT AS out_w,
       any_value(g.oh)::INT AS out_h,
       any_value(g.ow * g.oh * g.ch)::BIGINT AS n_pixels,
       string_agg(printf('%02x',
         (g.doc_id * 131 +
          (((t.j // (g.ow * g.ch)) * g.h // g.oh) * g.w
           + ((t.j % (g.ow * g.ch)) // g.ch) * g.w // g.ow) * g.ch * 7
          + (t.j % g.ch) * 7) % 256),
         '' ORDER BY t.j) AS pixel_hex
FROM g, range(0, {max_j}) t(j)
WHERE t.j < g.ow * g.oh * g.ch
GROUP BY g.doc_id
"""


def image_meta_sql() -> str:
    h = H.format(x="text")
    return f"""
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS content_md5,
       {h} % 1920 AS width,
       ({h} >> 21) % 1080 AS height
FROM documents
"""


def frame_sample_sql(every_n: int = 2, frame_bytes: int = 16) -> str:
    """Mirror of multimodal.frame_sample compared in hex space: a
    16-byte binary frame is a 32-char slice of hex(payload), byte-
    aligned, so the VARCHAR oracle needs no BLOB slicing (DuckDB has
    none); the trailing partial frame shortens identically on both
    engines."""
    hx = frame_bytes * 2
    return f"""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hxs,
         octet_length(encode(text)) AS n_bytes
  FROM documents
),
fr AS (
  SELECT doc_id, hxs,
         unnest(range(0, CAST(ceil(n_bytes / {frame_bytes}.0) AS BIGINT)))
           AS frame_idx
  FROM b
)
SELECT doc_id, frame_idx::INT AS frame_idx,
       substring(hxs, frame_idx * {hx} + 1, {hx}) AS frame_hex
FROM fr WHERE frame_idx % {every_n} = 0
"""


def resize_dims_sql() -> str:
    from joern_spark.operators.multimodal import RESIZE_MAX

    return f"""
WITH m AS ({image_meta_sql()})
SELECT doc_id, width, height,
       CASE WHEN greatest(width, height) <= {RESIZE_MAX} THEN width
            ELSE greatest(floor(width * {RESIZE_MAX} / greatest(width, height)), 1)
       END::INT AS out_w,
       CASE WHEN greatest(width, height) <= {RESIZE_MAX} THEN height
            ELSE greatest(floor(height * {RESIZE_MAX} / greatest(width, height)), 1)
       END::INT AS out_h
FROM m
"""


def kmeans_sql(
    k: int = IVF_CELLS,
    rounds: int = KMEANS_ROUNDS,
    sample_n: int = KMEANS_SAMPLE,
    final: str = "assignments",
) -> str:
    """Lloyd-refined k-means mirror: identical hash-seeded centroids,
    `rounds` unrolled assign→update iterations over the identical
    md5-sampled refinement set (per-cell per-dim means as SEQUENTIAL
    list_sum folds over vec_id-sorted members — the same IEEE order the
    Spark side folds in), then the full-table final assignment."""
    h = H.format(x="CAST(vec_id AS VARCHAR)")
    mean_list = (
        f"[list_sum([(e[i]::DOUBLE) FOR e IN embs]) / n "
        f"FOR i IN range(1, {DIM + 1})]"
    )
    ctes = [
        _NORM.strip(),
        f"""samp AS (
  SELECT vec_id, embedding, norm FROM normed
  QUALIFY row_number() OVER (ORDER BY {h}, vec_id) <= {sample_n}
)""",
        f"""cent0 AS (
  SELECT row_number() OVER (ORDER BY {h}, vec_id) - 1 AS cell,
         embedding AS centroid,
         sqrt(list_sum([(x::DOUBLE) * (x::DOUBLE) FOR x IN embedding])) AS cnorm
  FROM embeddings
  QUALIFY row_number() OVER (ORDER BY {h}, vec_id) <= {k}
)""",
    ]
    for r in range(rounds):
        dot = (
            "list_sum([(s.embedding[i]::DOUBLE) * (c.centroid[i]::DOUBLE) "
            f"FOR i IN range(1, {DIM + 1})])"
        )
        ctes.append(
            f"""a{r} AS (
  SELECT vec_id, cell FROM (
    SELECT s.vec_id, c.cell, {dot} / (s.norm * c.cnorm) AS sim
    FROM samp s CROSS JOIN cent{r} c
  )
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY sim DESC, cell ASC) = 1
)""",
        )
        ctes.append(
            f"""m{r} AS (
  SELECT a.cell, list(s.embedding ORDER BY s.vec_id) AS embs, count(*) AS n
  FROM a{r} a JOIN samp s USING (vec_id) GROUP BY a.cell
)""",
        )
        ctes.append(
            f"""cent{r + 1} AS (
  SELECT row_number() OVER (ORDER BY cell) - 1 AS cell, centroid,
         sqrt(list_sum([(x::DOUBLE) * (x::DOUBLE) FOR x IN centroid])) AS cnorm
  FROM (SELECT cell, {mean_list} AS centroid FROM m{r})
)""",
        )
    fdot = (
        "list_sum([(v.embedding[i]::DOUBLE) * (c.centroid[i]::DOUBLE) "
        f"FOR i IN range(1, {DIM + 1})])"
    )
    joined = ",\n".join(ctes)
    assigned = f"""asg AS (
  SELECT vec_id, cell, sim FROM (
    SELECT v.vec_id, c.cell, {fdot} / (v.norm * c.cnorm) AS sim
    FROM normed v CROSS JOIN cent{rounds} c
  )
  QUALIFY row_number() OVER (PARTITION BY vec_id
                             ORDER BY sim DESC, cell ASC) = 1
)"""
    if final == "quality":
        return f"""
WITH {joined},
{assigned}
SELECT cell, count(*)::BIGINT AS n,
       list_sum(list_sort(list(sim))) / count(*)::DOUBLE AS mean_sim
FROM asg GROUP BY 1
"""
    return f"""
WITH {joined},
{assigned}
SELECT vec_id, cell FROM asg
"""


def hard_negatives_sql(k: int = TOP_K) -> str:
    """Brute-force mirror of the hard-negative kernel: full cross of the
    normed table restricted to label-mismatched pairs, identical
    (sim DESC, dst ASC) ranking."""
    return f"""
WITH nl AS (
  SELECT vec_id, embedding, label,
         sqrt(list_sum([(x::DOUBLE) * (x::DOUBLE) FOR x IN embedding])) AS norm
  FROM embeddings
),
sims AS (
  SELECT x.vec_id AS src, y.vec_id AS dst,
         {_DOT_XY} / (x.norm * y.norm) AS sim
  FROM nl x, nl y WHERE x.label <> y.label
),
ranked AS (
  SELECT src, dst, sim,
         row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) AS rank
  FROM sims
)
SELECT src, dst, rank, sim FROM ranked WHERE rank <= {k}
"""


def triplet_mining_sql() -> str:
    """Triplet mirror: two label-partitioned rank-1 picks over the same
    normed cross, inner-joined on the anchor."""
    return f"""
WITH nl AS (
  SELECT vec_id, embedding, label,
         sqrt(list_sum([(x::DOUBLE) * (x::DOUBLE) FOR x IN embedding])) AS norm
  FROM embeddings
),
sims AS (
  SELECT x.vec_id AS src, y.vec_id AS dst, x.label AS sl, y.label AS dl,
         {_DOT_XY} / (x.norm * y.norm) AS sim
  FROM nl x, nl y WHERE x.vec_id <> y.vec_id
),
pos AS (
  SELECT src AS anchor, dst AS pos, sim AS pos_sim FROM sims
  WHERE sl = dl
  QUALIFY row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) = 1
),
neg AS (
  SELECT src AS anchor, dst AS neg, sim AS neg_sim FROM sims
  WHERE sl <> dl
  QUALIFY row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst ASC) = 1
)
SELECT anchor, pos, neg, pos_sim, neg_sim FROM pos JOIN neg USING (anchor)
"""


def diverse_topn_sql() -> str:
    """Cluster-balanced selection mirror: the k-means oracle as a
    subquery (CTEs nest fine in DuckDB), quality joined on the 1:1
    doc_id↔vec_id mapping, per-cell dense selection with the identical
    (quality DESC, doc_id ASC) total order."""
    from joern_spark.operators.curate import DIVERSE_TOPN

    quality = _quality_sql()
    return f"""
WITH {TOKS},
scored AS (
  SELECT d.doc_id, {quality} AS quality
  FROM documents d JOIN toks USING (doc_id)
),
km AS (SELECT vec_id AS doc_id, cell FROM ({kmeans_sql()}))
SELECT doc_id, cell, quality, rank FROM (
  SELECT s.doc_id, km.cell, s.quality,
         row_number() OVER (PARTITION BY km.cell
                            ORDER BY s.quality DESC, s.doc_id ASC)::BIGINT AS rank
  FROM scored s JOIN km USING (doc_id)
) WHERE rank <= {DIVERSE_TOPN}
"""


def quantize_sql() -> str:
    return f"""
WITH mx AS (
  SELECT vec_id, embedding,
         list_max([abs(x::DOUBLE) FOR x IN embedding]) AS mx
  FROM embeddings
)
SELECT vec_id, s.i AS i, s.q AS q FROM (
  SELECT vec_id,
         unnest([{{'i': i - 1,
                   'q': (CASE WHEN mx = 0 THEN 0
                         ELSE floor((embedding[i]::DOUBLE) * 127 / mx + 0.5)
                         END)::INT}}
                 FOR i IN range(1, {DIM + 1})]) AS s
  FROM mx)
"""


def decode_features_sql() -> str:
    # Per-character codepoint → UTF-8 byte list, so mean/max are over the
    # ACTUAL encoded bytes (the Spark kernel reads np.frombuffer of the
    # UTF-8 blob) — exact for arbitrary text, not just ASCII.
    utf8 = """
  CASE WHEN c < 128 THEN [c]
       WHEN c < 2048 THEN [192 + (c >> 6), 128 + (c & 63)]
       WHEN c < 65536 THEN [224 + (c >> 12), 128 + ((c >> 6) & 63), 128 + (c & 63)]
       ELSE [240 + (c >> 18), 128 + ((c >> 12) & 63),
             128 + ((c >> 6) & 63), 128 + (c & 63)]
  END"""
    return f"""
WITH bytes AS (
  SELECT doc_id,
         flatten([{utf8} FOR c IN
                  [unicode(ch) FOR ch IN string_split(text, '')]]) AS bs
  FROM documents
)
SELECT doc_id,
       len(bs) AS n_bytes,
       list_sum(bs)::DOUBLE / len(bs) AS mean_byte,
       list_max(bs) AS max_byte
FROM bytes
"""


def mixture_sample_sql() -> str:
    """Twin of curate.mixture_sample: per-source rates from the same
    integer weights/budget constants, the same H(doc_id) filter. Integer
    weight sum keeps Σw exact on both engines."""
    from joern_spark.operators.curate import (
        DEFAULT_MIXTURE_WEIGHTS,
        H_SPACE,
        MIXTURE_BUDGET_CHARS,
    )

    h = H.format(x="CAST(doc_id AS VARCHAR)")
    cases = " ".join(
        f"WHEN '{k}' THEN {w}" for k, w in DEFAULT_MIXTURE_WEIGHTS.items()
    )
    return f"""
WITH per_src AS (
  SELECT source, sum(n_chars) AS chars_s,
         CAST(CASE source {cases} ELSE 1 END AS BIGINT) AS w
  FROM documents GROUP BY source
),
rates AS (
  SELECT source,
         least(1.0,
               CAST(w * {MIXTURE_BUDGET_CHARS} AS DOUBLE)
               / (CAST((SELECT sum(w) FROM per_src) AS DOUBLE)
                  * CAST(chars_s AS DOUBLE))) AS rate
  FROM per_src
)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d JOIN rates r USING (source)
WHERE {h}::DOUBLE < r.rate * {H_SPACE!r}
"""


def ev_asof_sql() -> str:
    """Native ASOF JOIN mirror of events.last_action_before_errors —
    a genuinely different execution strategy than the Spark windowed
    union, so semantics bugs cannot hide."""
    from joern_spark.operators.events import BUILD_TYPES, PROBE_TYPE

    builds = ", ".join(f"'{t}'" for t in BUILD_TYPES)
    return f"""
WITH p AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = '{PROBE_TYPE}'
),
b AS (
  SELECT user_id, ts, min(event_id) AS prior_event_id,
         arg_min(event_type, event_id) AS prior_type
  FROM events WHERE event_type IN ({builds}) GROUP BY 1, 2
)
SELECT p.event_id, p.user_id, b.prior_event_id, b.prior_type,
       CAST(date_diff('microsecond', b.ts, p.ts) AS BIGINT) AS gap_us
FROM p ASOF LEFT JOIN b ON p.user_id = b.user_id AND p.ts >= b.ts
"""


def ev_range_sql() -> str:
    """Inequality-join mirror of events.purchases_before_errors (DuckDB
    plans this as an IEJoin; the Spark twin uses time-bucket blocking)."""
    from joern_spark.operators.events import (
        PROBE_TYPE,
        RANGE_BUILD_TYPE,
        RANGE_W_S,
    )

    return f"""
SELECT a.event_id AS a, b.event_id AS b,
       CAST(date_diff('microsecond', b.ts, a.ts) AS BIGINT) AS gap_us
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND b.ts <= a.ts
 AND b.ts >= a.ts - INTERVAL {RANGE_W_S} SECOND
WHERE a.event_type = '{PROBE_TYPE}' AND b.event_type = '{RANGE_BUILD_TYPE}'
"""


def ev_rollup_sql() -> str:
    """Mirror of events.event_rollup — day re-aggregates the hourly CTE,
    sums cast back from HUGEINT to BIGINT."""
    return """
WITH base AS (
  SELECT event_type, ts, CAST(round(value * 100) AS BIGINT) AS c FROM events
),
h AS (
  SELECT event_type, date_trunc('hour', ts) AS b, count(*) AS n,
         CAST(sum(c) AS BIGINT) AS s, min(c) AS mn, max(c) AS mx
  FROM base GROUP BY 1, 2
),
d AS (
  SELECT event_type, date_trunc('day', b) AS b, CAST(sum(n) AS BIGINT) AS n,
         CAST(sum(s) AS BIGINT) AS s, min(mn) AS mn, max(mx) AS mx
  FROM h GROUP BY 1, 2
)
SELECT 'hour' AS grain, event_type, epoch_us(b) AS bucket_us,
       n AS n_events, s AS sum_cents, mn AS min_cents, mx AS max_cents
FROM h
UNION ALL
SELECT 'day' AS grain, event_type, epoch_us(b) AS bucket_us,
       n, s, mn, mx
FROM d
"""


def kmv_distinct_sql(k: int | None = None) -> str:
    """Oracle mirror of textstats.kmv_distinct_tokens — exact min-k via a
    per-language ranking window (fine at oracle scale), identical H()
    hashing and the same IEEE cast-divide-divide estimate expression."""
    from joern_spark.operators.textstats import KMV_K

    k = k or KMV_K
    h = H.format(x="tok")
    return f"""
WITH toks AS (
  SELECT lang,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS tok
  FROM documents
),
hashes AS (SELECT DISTINCT lang, {h} AS h FROM toks),
ranked AS (
  SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS r
  FROM hashes
),
mink AS (SELECT lang, h FROM ranked WHERE r <= {k})
SELECT lang,
       count(*) AS k_used,
       max(h) AS kth_hash,
       CASE WHEN count(*) < {k} THEN CAST(count(*) AS DOUBLE)
            ELSE CAST(count(*) - 1 AS DOUBLE)
                 / (CAST(max(h) AS DOUBLE) / 1152921504606846976.0)
       END AS est_distinct
FROM mink
GROUP BY lang
"""


def weighted_sample_sql(k: int | None = None) -> str:
    """Oracle mirror of curate.weighted_sample — identical quality
    expression, H() hash, and ln-key expression tree; global ranking is
    fine at oracle scale."""
    from joern_spark.operators.curate import WEIGHTED_SAMPLE_K

    k = k or WEIGHTED_SAMPLE_K
    h = H.format(x="CAST(doc_id AS VARCHAR)")
    return f"""
WITH {TOKS},
scored AS (
  SELECT doc_id,
         {_quality_sql()} AS weight,
         ln(({h} + 1)::DOUBLE / 1152921504606846976.0) AS lnu
  FROM toks
  WHERE len(toks) > 0
),
keyed AS (
  SELECT doc_id, weight, lnu / weight AS samp_key
  FROM scored
  WHERE weight > 0
),
ranked AS (
  SELECT doc_id, weight, samp_key,
         row_number() OVER (ORDER BY samp_key DESC, doc_id ASC) AS rank
  FROM keyed
)
SELECT doc_id, weight, samp_key, rank FROM ranked WHERE rank <= {k}
"""


def hll_distinct_sql() -> str:
    """Oracle mirror of operators/sketch.hll_registers + hll_estimate:
    identical md5_long stream (bucket = h & 255, rank = 53 − base-2
    string length of h >> 8, w = 0 special-cased to 53 in BOTH engines),
    max-merged registers, ascending IEEE fold of 2^−M over the filled
    registers, empty registers added after, shared alpha·m² float
    literal, linear-counting small-range branch."""
    from joern_spark.operators.sketch import (
        HLL_ALPHA_M2,
        HLL_M,
        HLL_P,
        HLL_WBITS,
    )

    h = H.format(x="tok")
    rmax = HLL_WBITS + 1
    raw = f"{HLL_ALPHA_M2!r} / (s_fill + CAST({HLL_M} - n_filled AS DOUBLE))"
    return f"""
WITH toks AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS tok,
         lang
  FROM documents
),
hs AS (SELECT lang, {h} AS h FROM toks),
regs AS (
  SELECT lang, CAST(h & {HLL_M - 1} AS INT) AS bucket,
         max(CASE WHEN (h >> {HLL_P}) = 0 THEN {rmax}
                  ELSE {rmax} - length(to_base(h >> {HLL_P}, 2)) END) AS m
  FROM hs
  GROUP BY 1, 2
),
agg AS (
  SELECT lang, count(*) AS n_filled,
         list_sum(list_sort(list(pow(2.0, -m)))) AS s_fill
  FROM regs
  GROUP BY lang
)
SELECT lang,
       CAST({HLL_M} - n_filled AS BIGINT) AS v_zero,
       CASE WHEN ({raw}) <= {2.5 * HLL_M!r}
             AND ({HLL_M} - n_filled) > 0
            THEN {float(HLL_M)!r}
                 * ln({float(HLL_M)!r} / CAST({HLL_M} - n_filled AS DOUBLE))
            ELSE {raw} END AS est_distinct
FROM agg
"""


def kmv_overlap_sql(k: int | None = None) -> str:
    """Oracle mirror of textstats.kmv_overlap — exact per-language min-k
    sketches, the same pairwise union algebra, identical IEEE estimate
    expressions."""
    from joern_spark.operators.textstats import KMV_K

    k = k or KMV_K
    h = H.format(x="tok")
    union_est = (
        f"CASE WHEN count(*) < {k} THEN CAST(count(*) AS DOUBLE) "
        f"ELSE CAST(count(*) - 1 AS DOUBLE) "
        f"/ (CAST(max(h) AS DOUBLE) / 1152921504606846976.0) END"
    )
    jac = "CAST(sum(in_a * in_b) AS DOUBLE) / CAST(count(*) AS DOUBLE)"
    return f"""
WITH toks AS (
  SELECT lang,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS tok
  FROM documents
),
hashes AS (SELECT DISTINCT lang, {h} AS h FROM toks),
ranked AS (
  SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS r
  FROM hashes
),
sk AS (SELECT lang, h FROM ranked WHERE r <= {k}),
pairs AS (
  SELECT a.lang AS lang_a, b.lang AS lang_b
  FROM (SELECT DISTINCT lang FROM sk) a, (SELECT DISTINCT lang FROM sk) b
  WHERE a.lang < b.lang
),
tagged AS (
  SELECT p.lang_a, p.lang_b, s.h, 1 AS in_a, 0 AS in_b
  FROM pairs p JOIN sk s ON s.lang = p.lang_a
  UNION ALL
  SELECT p.lang_a, p.lang_b, s.h, 0 AS in_a, 1 AS in_b
  FROM pairs p JOIN sk s ON s.lang = p.lang_b
),
merged AS (
  SELECT lang_a, lang_b, h, max(in_a) AS in_a, max(in_b) AS in_b
  FROM tagged GROUP BY lang_a, lang_b, h
),
topk AS (
  SELECT *, row_number() OVER (PARTITION BY lang_a, lang_b ORDER BY h) AS r
  FROM merged
)
SELECT lang_a, lang_b,
       count(*) AS k_used,
       CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
       {jac} AS jaccard,
       {union_est} AS union_est,
       ({jac}) * ({union_est}) AS inter_est
FROM topk
WHERE r <= {k}
GROUP BY lang_a, lang_b
"""


def dsir_select_sql(
    target_source: str | None = None,
    n_buckets: int | None = None,
    k: int | None = None,
) -> str:
    """Oracle mirror of curate.dsir_select — identical hashed-bucket
    multinomials, add-1 smoothing, ascending-sorted llr fold, and
    hash-Gumbel key expression tree."""
    from joern_spark.operators.curate import DSIR_BUCKETS, DSIR_K

    tgt = target_source or "src0"
    b = n_buckets or DSIR_BUCKETS
    k = k or DSIR_K
    h_tok = H.format(x="tok")
    h_doc = H.format(x="CAST(doc_id AS VARCHAR)")
    return f"""
WITH toks AS (
  SELECT doc_id, source,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            t -> t <> '')) AS tok
  FROM documents
),
tf AS (
  SELECT doc_id, source, {h_tok} % {b} AS b, count(*) AS tf
  FROM toks GROUP BY doc_id, source, b
),
tgt AS (SELECT b, sum(tf) AS ct FROM tf WHERE source = '{tgt}' GROUP BY b),
rawc AS (SELECT b, sum(tf) AS cr FROM tf WHERE source <> '{tgt}' GROUP BY b),
tts AS (SELECT sum(ct) AS tt FROM tgt),
trs AS (SELECT sum(cr) AS tr FROM rawc),
scored AS (
  SELECT tf.doc_id, tf.tf,
         tf.tf::DOUBLE * (
           ln((coalesce(ct, 0) + 1)::DOUBLE / (coalesce(tt, 0) + {b})::DOUBLE)
         - ln((coalesce(cr, 0) + 1)::DOUBLE / (coalesce(tr, 0) + {b})::DOUBLE)
         ) AS w
  FROM tf
  LEFT JOIN tgt USING (b)
  LEFT JOIN rawc USING (b)
  CROSS JOIN tts CROSS JOIN trs
  WHERE tf.source <> '{tgt}'
),
per_doc AS (
  SELECT doc_id, sum(tf)::BIGINT AS n_tokens,
         list_sum(list_sort(list(w))) AS llr
  FROM scored GROUP BY doc_id
),
keyed AS (
  SELECT doc_id, n_tokens, llr,
         llr - ln(-ln(({h_doc} + 0.5) / 1152921504606846976.0)) AS samp_key
  FROM per_doc
),
ranked AS (
  SELECT doc_id, n_tokens, llr, samp_key,
         row_number() OVER (ORDER BY samp_key DESC, doc_id ASC) AS rank
  FROM keyed
)
SELECT doc_id, n_tokens, llr, samp_key, rank FROM ranked WHERE rank <= {k}
"""


def ev_funnel_sql() -> str:
    """Oracle mirror of events.funnel — the same N-1 conditional-min
    stages as correlated CTEs."""
    from joern_spark.operators.events import FUNNEL_STEPS

    s1, s2, s3 = FUNNEL_STEPS
    return f"""
WITH s1 AS (
  SELECT user_id, min(ts) AS step_1_ts
  FROM events WHERE event_type = '{s1}' GROUP BY user_id
),
s2 AS (
  SELECT s1.user_id, s1.step_1_ts,
         min(CASE WHEN e.ts > s1.step_1_ts THEN e.ts END) AS step_2_ts
  FROM s1 LEFT JOIN events e
    ON e.user_id = s1.user_id AND e.event_type = '{s2}'
  GROUP BY s1.user_id, s1.step_1_ts
),
s3 AS (
  SELECT s2.user_id, s2.step_1_ts, s2.step_2_ts,
         min(CASE WHEN e.ts > s2.step_2_ts THEN e.ts END) AS step_3_ts
  FROM s2 LEFT JOIN events e
    ON e.user_id = s2.user_id AND e.event_type = '{s3}'
  GROUP BY s2.user_id, s2.step_1_ts, s2.step_2_ts
)
SELECT user_id, step_1_ts, step_2_ts, step_3_ts,
       (CASE WHEN step_1_ts IS NOT NULL THEN 1 ELSE 0 END
      + CASE WHEN step_2_ts IS NOT NULL THEN 1 ELSE 0 END
      + CASE WHEN step_3_ts IS NOT NULL THEN 1 ELSE 0 END)::INT AS depth
FROM s3
"""


def ev_retention_sql() -> str:
    """Oracle mirror of events.retention_cohorts (date_diff ==
    timestampdiff on truncated naive timestamps, parity-probed)."""
    from joern_spark.operators.events import RETENTION_GRAIN

    g = RETENTION_GRAIN
    return f"""
WITH firsts AS (
  -- ::TIMESTAMP: DuckDB's date_trunc returns DATE at day+ grain, Spark
  -- stays TIMESTAMP_NTZ — align the value rendering
  SELECT user_id, date_trunc('{g}', min(ts))::TIMESTAMP AS cohort
  FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, date_trunc('{g}', ts)::TIMESTAMP AS d FROM events
)
SELECT cohort,
       CAST(date_diff('{g}', cohort, d) AS INT) AS "offset",
       count(DISTINCT a.user_id)::BIGINT AS n_users
FROM active a JOIN firsts USING (user_id)
GROUP BY cohort, "offset"
"""


def ev_sessions_sql() -> str:
    """Lag+cumsum mirror of events.sessionize — the Spark side merges
    native session_window aggregates, the oracle derives the same
    sessions from break flags, so the two engines disagree on ANY
    boundary-semantics bug (only a gap STRICTLY greater than the gap
    parameter starts a new session — Spark's inclusive-boundary merge)."""
    from joern_spark.operators.events import SESSION_GAP_S

    gap_us = SESSION_GAP_S * 1_000_000
    return f"""
WITH o AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
f AS (
  SELECT user_id, event_id, ts,
         CASE WHEN prev_ts IS NULL
                OR date_diff('microsecond', prev_ts, ts) > {gap_us}
              THEN 1 ELSE 0 END AS is_new
  FROM o
),
s AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS session_idx
  FROM f
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*)::BIGINT AS n_events,
       CAST(date_diff('microsecond', min(ts), max(ts)) AS BIGINT) AS duration_us
FROM s GROUP BY user_id, session_idx
"""


def ev_props_sql() -> str:
    """Oracle mirror of events.props_typed (DuckDB JSON path extraction;
    malformed JSON → NULL on both engines)."""
    return """
SELECT event_id, event_type,
       CAST(json_extract_string(props, '$.k') AS INT) AS k
FROM events
"""


def pq_topk_sql(
    k: int = PQ_TOP_K, m: int = PQ_M, n_codes: int = PQ_K, dim: int = DIM
) -> str:
    """PQ/ADC mirror (similarity.pq_topk_adc): identical deterministic
    codebook (subvectors of the n_codes lowest-md5 vectors), identical
    argmin encode (d asc, j asc), and the ADC sum re-added in SORTED
    order (list_sum(list_sort(…)) ↔ Spark's aggregate(array_sort(…)))
    so both engines fold the same doubles in the same order."""
    h = H.format(x="CAST(vec_id AS VARCHAR)")
    sub = dim // m
    sq = (
        f"list_sum([((e.embedding[g.s*{sub}+i])::DOUBLE"
        f" - (cb.embedding[g.s*{sub}+i])::DOUBLE)"
        f" * ((e.embedding[g.s*{sub}+i])::DOUBLE"
        f" - (cb.embedding[g.s*{sub}+i])::DOUBLE)"
        f" FOR i IN range(1, {sub + 1})])"
    )
    return f"""
WITH cb AS (
  SELECT row_number() OVER (ORDER BY {h}, vec_id) - 1 AS j,
         vec_id, embedding
  FROM embeddings
  QUALIFY row_number() OVER (ORDER BY {h}, vec_id) <= {n_codes}
),
dist AS (
  SELECT e.vec_id, g.s, cb.j, {sq} AS d
  FROM embeddings e, generate_series(0, {m - 1}) g(s), cb
),
codes AS (
  SELECT vec_id, s, j AS code
  FROM dist
  QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) = 1
),
qdist AS (
  SELECT g.s, cb.j, {sq} AS d
  FROM (SELECT embedding FROM cb WHERE j = 0) e,
       generate_series(0, {m - 1}) g(s), cb
),
adcs AS (
  SELECT c.vec_id, list_sum(list_sort(list(qd.d))) AS adc
  FROM codes c JOIN qdist qd ON qd.s = c.s AND qd.j = c.code
  GROUP BY c.vec_id
)
SELECT vec_id, adc
FROM adcs
WHERE vec_id <> (SELECT vec_id FROM cb WHERE j = 0)
ORDER BY adc, vec_id
LIMIT {k}
"""


def len_hist_sql() -> str:
    """Oracle mirror of operators/sketch.hist_registers/hist_quantiles:
    identical integer bucket arithmetic (e from the binary-string
    length, 8 sub-buckets per octave — DuckDB shifts where Spark does
    exact power-of-two double scaling), same ⌈q·n⌉ type-1 rank pick,
    same lower-bound read-out. All output cells are integers except the
    shared q literals, so the hash is bit-exact by construction."""
    return """
WITH vals AS (
  SELECT lang,
         CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              t -> t <> '')) AS BIGINT) AS v
  FROM documents
),
b AS (
  SELECT lang,
         CASE WHEN v < 8 THEN CAST(v AS INT)
              ELSE CAST((length(bin(v)) - 4) * 8
                        + (v >> (length(bin(v)) - 4)) AS INT) END AS bucket
  FROM vals
),
regs AS (SELECT lang, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
cum AS (
  SELECT lang, bucket,
         sum(cnt) OVER (PARTITION BY lang ORDER BY bucket) AS cum,
         sum(cnt) OVER (PARTITION BY lang) AS total
  FROM regs
),
pick AS (
  SELECT lang, q, min(bucket) AS b
  FROM cum CROSS JOIN (
    SELECT unnest([CAST(0.25 AS DOUBLE), CAST(0.5 AS DOUBLE),
                   CAST(0.9 AS DOUBLE), CAST(0.99 AS DOUBLE)]) AS q
  ) qs
  WHERE cum >= ceil(q * total)
  GROUP BY 1, 2
)
SELECT lang, q,
       CASE WHEN b < 8 THEN CAST(b AS BIGINT)
            ELSE CAST((b - 8) % 8 + 8 AS BIGINT) << ((b - 8) // 8) END
         AS est_tokens
FROM pick
"""


def pack_sequences_sql() -> str:
    """Oracle for curate.pack_sequences: the greedy next-fit-decreasing
    fold replayed as a per-group recursive CTE (row rn+1 extends row rn's
    (bin, acc) state) — a genuinely different evaluation strategy from
    the Spark side's Arrow kernel, same fold."""
    from joern_spark.operators.curate import PACK_SEQ_BUDGET, PACK_SEQ_GROUPS

    b = PACK_SEQ_BUDGET
    return f"""
WITH RECURSIVE {TOKS},
d AS (
  SELECT doc_id, doc_id % {PACK_SEQ_GROUPS} AS grp,
         len(toks)::BIGINT AS n_tokens
  FROM toks
),
o AS (
  SELECT doc_id, grp, n_tokens,
         row_number() OVER (PARTITION BY grp
                            ORDER BY n_tokens DESC, doc_id ASC) AS rn
  FROM d
),
pack AS (
  SELECT grp, rn, doc_id, n_tokens, 0::BIGINT AS bin_id, n_tokens AS acc
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.grp, o.rn, o.doc_id, o.n_tokens,
         CASE WHEN p.acc + o.n_tokens <= {b}
              THEN p.bin_id ELSE p.bin_id + 1 END,
         CASE WHEN p.acc + o.n_tokens <= {b}
              THEN p.acc + o.n_tokens ELSE o.n_tokens END
  FROM pack p JOIN o ON o.grp = p.grp AND o.rn = p.rn + 1
)
SELECT doc_id,
       CAST(grp AS VARCHAR) || ':' || CAST(bin_id AS VARCHAR) AS seq_id,
       (acc - n_tokens)::BIGINT AS offset_tokens,
       n_tokens
FROM pack
"""


def boilerplate_sql() -> str:
    """Oracle for dedup.boilerplate_ngrams (4-gram cross-document spans):
    same distinct-per-doc shingles, count + min, HAVING, total-order
    top-k."""
    from joern_spark.operators.dedup import (
        BOILERPLATE_MIN_DF,
        BOILERPLATE_N,
        BOILERPLATE_TOPK,
    )

    n = BOILERPLATE_N
    idx = " || ' ' || ".join(f"toks[i+{j}]" if j else "toks[i]"
                             for j in range(n))
    return f"""
WITH {TOKS},
shb AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct([{idx} FOR i IN range(1, len(toks) - {n - 2})])) AS shingle
  FROM toks WHERE len(toks) >= {n}
)
SELECT shingle, count(*)::BIGINT AS df, min(doc_id) AS example_doc
FROM shb GROUP BY shingle HAVING count(*) >= {BOILERPLATE_MIN_DF}
ORDER BY df DESC, shingle ASC LIMIT {BOILERPLATE_TOPK}
"""


def eval_split_sql() -> str:
    from joern_spark.operators.curate import SPLIT_TRAIN_PCT, SPLIT_VAL_PCT

    h = H.format(x="text")
    return f"""
SELECT doc_id, lang,
       CASE WHEN {h} % 100 < {SPLIT_TRAIN_PCT} THEN 'train'
            WHEN {h} % 100 < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
            ELSE 'test' END AS split
FROM documents
"""


def mixture_weights_sql() -> str:
    from joern_spark.operators.curate import MIX_ALPHA

    a = repr(float(MIX_ALPHA))
    return f"""
WITH {TOKS},
per AS (
  SELECT d.source, count(*)::BIGINT AS n_docs,
         sum(len(t.toks))::BIGINT AS n_tokens
  FROM documents d JOIN toks t ON d.doc_id = t.doc_id
  GROUP BY d.source
),
scored AS (
  SELECT source, n_docs, n_tokens,
         pow(CAST(n_tokens AS DOUBLE), {a}) AS w
  FROM per
),
tot AS (SELECT list_sum(list_sort(list(w))) AS total FROM scored)
SELECT source, n_docs, n_tokens, w / total AS weight
FROM scored, tot
"""


def qld_topk_sql() -> str:
    """Mirror of textstats.qld_topk: identical Dirichlet query-likelihood
    expression tree — matched-term ln(1 + tf·|C|/(μ·cf)) folded in
    ascending sorted order, then the per-doc |q|·ln(μ/(dl+μ)) constant
    added once — with (score DESC, doc_id ASC) ranking."""
    from joern_spark.operators.textstats import (
        BM25_QUERIES,
        BM25_TOP_K,
        QLD_MU,
    )

    values = ", ".join(f"('{qid}', '{qtext}')" for qid, qtext in BM25_QUERIES)
    mu = repr(QLD_MU)
    return f"""
WITH {TOKS},
tk AS (SELECT doc_id, unnest(toks) AS tok FROM toks),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
cf AS (SELECT tok, sum(tf) AS cf FROM tf GROUP BY 1),
ct AS (SELECT sum(cf) AS c_tot FROM cf),
q(query_id, qtext) AS (VALUES {values}),
qt AS (
  SELECT DISTINCT query_id,
         unnest(list_filter(string_split_regex(lower(qtext), '[^a-z0-9]+'),
                            t -> t <> '')) AS tok
  FROM q
),
nq AS (SELECT query_id, count(*) AS nq FROM qt GROUP BY 1),
w AS (
  SELECT qt.query_id, tf.doc_id,
         ln(1.0 + tf.tf::DOUBLE * ct.c_tot::DOUBLE
            / ({mu} * cf.cf::DOUBLE)) AS w
  FROM tf JOIN qt USING (tok) JOIN cf USING (tok), ct
),
s AS (SELECT query_id, doc_id, list_sum(list_sort(list(w))) AS s
      FROM w GROUP BY 1, 2),
sc AS (
  SELECT s.query_id, s.doc_id,
         s.s + nq.nq::DOUBLE * ln({mu} / (dl.dl::DOUBLE + {mu})) AS score
  FROM s JOIN dl USING (doc_id) JOIN nq USING (query_id)
)
SELECT query_id, doc_id, score, rank FROM (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM sc
) WHERE rank <= {BM25_TOP_K}
"""


def rrf_sql() -> str:
    """Mirror of textstats.rrf_fuse over bm25_topk + qld_topk: both
    ranked lists rebuilt by their own oracle SQL as derived tables, then
    the identical 1/(k0+rank) ascending-sorted fold and (score DESC,
    doc_id ASC) re-ranking."""
    from joern_spark.operators.textstats import BM25_TOP_K, RRF_K0

    k0 = repr(RRF_K0)
    return f"""
WITH fa AS (SELECT query_id, doc_id, rank AS rank_a
            FROM ({bm25_topk_sql()})),
fb AS (SELECT query_id, doc_id, rank AS rank_b
       FROM ({qld_topk_sql()})),
both_l AS (
  SELECT coalesce(fa.query_id, fb.query_id) AS query_id,
         coalesce(fa.doc_id, fb.doc_id) AS doc_id,
         fa.rank_a AS rank_a, fb.rank_b AS rank_b
  FROM fa FULL JOIN fb
    ON fa.query_id = fb.query_id AND fa.doc_id = fb.doc_id
),
sc AS (
  SELECT query_id, doc_id,
         list_sum(list_sort(list_filter(
           [1.0 / ({k0} + rank_a::DOUBLE), 1.0 / ({k0} + rank_b::DOUBLE)],
           x -> x IS NOT NULL))) AS score
  FROM both_l
)
SELECT query_id, doc_id, score, rank FROM (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id ASC) AS rank
  FROM sc
) WHERE rank <= {BM25_TOP_K}
"""


def mmr_sql() -> str:
    """Mirror of textstats.mmr_rerank over the RRF candidates: the RRF
    oracle as a derived table, candidate-pruned shingle Jaccard sims,
    and the k greedy rounds unrolled as chained CTEs — λ and (1−λ)
    substituted as the SAME Python float `repr()` literals the Spark
    plan carries (0.7 and 0.30000000000000004), coalesce-inside-max and
    the single sim division identical."""
    from joern_spark.operators.textstats import MMR_K, MMR_LAMBDA

    lam, oml = repr(MMR_LAMBDA), repr(1.0 - MMR_LAMBDA)
    rounds: list[str] = []
    for r in range(2, MMR_K + 1):
        prev = " UNION ALL ".join(f"SELECT * FROM s{i}" for i in range(1, r))
        rounds.append(
            f"""p{r} AS ({prev}),
pen{r} AS (
  SELECT c.query_id, c.doc_id, c.score,
         max(coalesce(s.sim, 0.0)) AS msim
  FROM cand c JOIN p{r} p ON p.query_id = c.query_id
  LEFT JOIN sims s ON s.a = c.doc_id AND s.b = p.doc_id
  WHERE NOT EXISTS (SELECT 1 FROM p{r} q
                    WHERE q.query_id = c.query_id
                      AND q.doc_id = c.doc_id)
  GROUP BY 1, 2, 3
),
s{r} AS (
  SELECT query_id, doc_id, mmr, {r} AS sel_rank FROM (
    SELECT query_id, doc_id, {lam} * score - {oml} * msim AS mmr,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY {lam} * score - {oml} * msim DESC,
                                       doc_id ASC) AS rn
    FROM pen{r}
  ) WHERE rn = 1
)"""
        )
    joined = ",\n".join(rounds)
    final = " UNION ALL ".join(
        f"SELECT * FROM s{i}" for i in range(1, MMR_K + 1)
    )
    return f"""
WITH cand AS MATERIALIZED (SELECT * FROM ({rrf_sql()})),
ids AS (SELECT DISTINCT doc_id FROM cand),
docs_c AS (SELECT d.doc_id, d.text FROM documents d JOIN ids USING (doc_id)),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS toks
  FROM docs_c
),
shc AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(
           [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
            FOR i IN range(1, len(toks) - 1)])) AS shingle
  FROM toks
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY 1),
prs AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM cand x JOIN cand y
  ON x.query_id = y.query_id AND x.doc_id < y.doc_id
),
inter AS (
  SELECT p.a, p.b, count(*) AS n_inter
  FROM prs p JOIN shc sa ON sa.doc_id = p.a
       JOIN shc sb ON sb.doc_id = p.b AND sb.shingle = sa.shingle
  GROUP BY 1, 2
),
half AS (
  SELECT i.a, i.b,
         i.n_inter::DOUBLE / (za.n_sh + zb.n_sh - i.n_inter) AS sim
  FROM inter i JOIN sizes za ON za.doc_id = i.a
       JOIN sizes zb ON zb.doc_id = i.b
),
sims AS MATERIALIZED (
  SELECT a, b, sim FROM half
  UNION ALL SELECT b AS a, a AS b, sim FROM half
),
s1 AS (SELECT query_id, doc_id, {lam} * score AS mmr, 1 AS sel_rank
       FROM cand WHERE rank = 1),
{joined}
{final}
"""


def rank_agreement_sql() -> str:
    """Mirror of textstats.rank_agreement over the BM25 vs QLD top-k
    lists: both oracles as derived tables, the per-doc RBO contribution
    CASE generated from the SAME Python-computed w(m) double literals,
    ascending-sorted fold, identical Jaccard division. Rows come from
    the per-query count tables, so queries sharing zero documents get
    n_common 0, jaccard_k 0.0 and rbo 0.0 on both engines."""
    from joern_spark.operators.textstats import BM25_TOP_K, RBO_P

    k, p = BM25_TOP_K, RBO_P
    w = {}
    for m in range(1, k + 1):
        acc = 0.0
        for d in range(m, k + 1):
            acc += (1.0 - p) * p ** (d - 1) / d
        w[m] = acc
    whens = " ".join(
        f"WHEN {m} THEN {w[m]!r}" for m in range(k, 0, -1)
    )
    return f"""
WITH fa AS (SELECT query_id, doc_id, rank AS rank_a
            FROM ({bm25_topk_sql()})),
fb AS (SELECT query_id, doc_id, rank AS rank_b
       FROM ({qld_topk_sql()})),
both_l AS (
  SELECT fa.query_id, fa.doc_id,
         CASE greatest(fa.rank_a, fb.rank_b) {whens} ELSE 0.0 END AS w
  FROM fa JOIN fb ON fa.query_id = fb.query_id AND fa.doc_id = fb.doc_id
),
na AS (SELECT query_id, count(*) AS n_a FROM fa GROUP BY 1),
nb AS (SELECT query_id, count(*) AS n_b FROM fb GROUP BY 1),
agg AS (
  SELECT query_id, count(*)::BIGINT AS n_common,
         list_sum(list_sort(list(w))) AS rbo
  FROM both_l GROUP BY 1
)
SELECT query_id, coalesce(a.n_common, 0)::BIGINT AS n_common,
       coalesce(a.n_common, 0)::DOUBLE
         / (na.n_a + nb.n_b - coalesce(a.n_common, 0)) AS jaccard_k,
       coalesce(a.rbo, 0.0) AS rbo
FROM na JOIN nb USING (query_id) LEFT JOIN agg a USING (query_id)
"""


def novelty_sql() -> str:
    """Mirror of dedup.novelty_stats: same distinct-shingle CTE, same
    df==1 counting, same single division."""
    return f"""
WITH {TOKS},
{SHINGLES},
dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1)
SELECT sh.doc_id,
       count(*)::BIGINT AS n_shingles,
       sum(CASE WHEN dfreq.df = 1 THEN 1 ELSE 0 END)::BIGINT AS n_novel,
       sum(CASE WHEN dfreq.df = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*)
         AS novelty
FROM sh JOIN dfreq USING (shingle)
GROUP BY 1
"""


def prf_sql() -> str:
    """Mirror of textstats.prf_expansion_terms over the BM25 feedback
    set: same corpus tf/df, same tf·ln(N/df) ascending-sorted fold,
    same query-term exclusion and (weight DESC, tok ASC) top-k."""
    from joern_spark.operators.textstats import BM25_QUERIES, PRF_TERMS

    values = ", ".join(f"('{qid}', '{qtext}')" for qid, qtext in BM25_QUERIES)
    return f"""
WITH {TOKS},
tk AS (SELECT doc_id, unnest(toks) AS tok FROM toks),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY 1, 2),
dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
q(query_id, qtext) AS (VALUES {values}),
qt AS (
  SELECT DISTINCT query_id,
         unnest(list_filter(string_split_regex(lower(qtext), '[^a-z0-9]+'),
                            t -> t <> '')) AS tok
  FROM q
),
fb AS (SELECT query_id, doc_id FROM ({bm25_topk_sql()})),
scored AS (
  SELECT fb.query_id, tf.tok,
         tf.tf::DOUBLE * ln(nd.n_docs::DOUBLE / dfreq.df::DOUBLE) AS w
  FROM tf JOIN fb USING (doc_id) JOIN dfreq USING (tok), nd
),
ex AS (
  SELECT s.query_id, s.tok, s.w FROM scored s
  WHERE NOT EXISTS (SELECT 1 FROM qt
                    WHERE qt.query_id = s.query_id AND qt.tok = s.tok)
),
agg AS (SELECT query_id, tok, list_sum(list_sort(list(w))) AS weight
        FROM ex GROUP BY 1, 2)
SELECT query_id, tok, weight, rank FROM (
  SELECT query_id, tok, weight,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY weight DESC, tok ASC) AS rank
  FROM agg
) WHERE rank <= {PRF_TERMS}
"""


def cluster_quality_sql() -> str:
    """Per-cell cohesion of the Lloyd-refined k-means cells (mirror of
    similarity.cluster_quality): the SAME centroid chain as the
    emb_kmeans oracle, keeping the rank-1 cosine and folding per-cell
    means over the ascending-sorted member list with one exact-count
    division."""
    return kmeans_sql(final="quality")


def rfm_sql() -> str:
    """RFM segment census (mirror of events.rfm_segments): identical
    per-user integers (recency days, count, rounded-cents sum), the same
    log-linear bucket arithmetic and tercile pick as the len_hist
    oracle, identical low/mid/high classification."""
    from joern_spark.operators.events import RFM_QS

    q33, q66 = repr(RFM_QS[0]), repr(RFM_QS[1])

    def low(b):
        return (
            f"CASE WHEN {b} < 8 THEN CAST({b} AS BIGINT) "
            f"ELSE CAST(({b} - 8) % 8 + 8 AS BIGINT) << (({b} - 8) // 8) END"
        )

    dims = []
    for col in ("r", "f", "m"):
        dims.append(
            f"""{col}b AS (
  SELECT CASE WHEN {col} < 8 THEN CAST({col} AS INT)
              ELSE CAST((length(bin({col})) - 4) * 8
                        + ({col} >> (length(bin({col})) - 4)) AS INT) END
           AS bucket
  FROM pu
),
{col}regs AS (SELECT bucket, count(*) AS cnt FROM {col}b GROUP BY 1),
{col}cum AS (
  SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS cum,
         sum(cnt) OVER () AS total
  FROM {col}regs
),
{col}cl AS (
  SELECT {low("b33")} AS c33, {low("b66")} AS c66 FROM (
    SELECT
      (SELECT min(bucket) FROM {col}cum
       WHERE cum >= ceil({q33} * total)) AS b33,
      (SELECT min(bucket) FROM {col}cum
       WHERE cum >= ceil({q66} * total)) AS b66
  )
)"""
        )
    joined = ",\n".join(dims)
    return f"""
WITH pu AS MATERIALIZED (
  SELECT user_id,
         date_diff('day', CAST(max(ts) AS DATE),
                   (SELECT CAST(max(ts) AS DATE) FROM events)) AS r,
         count(*) AS f,
         sum(CAST(round(value * 100.0) AS BIGINT)) AS m
  FROM events GROUP BY user_id
),
{joined}
SELECT r_seg, f_seg, m_seg, count(*)::BIGINT AS n_users FROM (
  SELECT
    CASE WHEN pu.r <= rc.c33 THEN 'low'
         WHEN pu.r <= rc.c66 THEN 'mid' ELSE 'high' END AS r_seg,
    CASE WHEN pu.f <= fc.c33 THEN 'low'
         WHEN pu.f <= fc.c66 THEN 'mid' ELSE 'high' END AS f_seg,
    CASE WHEN pu.m <= mc.c33 THEN 'low'
         WHEN pu.m <= mc.c66 THEN 'mid' ELSE 'high' END AS m_seg
  FROM pu, rcl rc, fcl fc, mcl mc
) GROUP BY 1, 2, 3
"""


def session_funnel_sql() -> str:
    """Session-granularity funnel census (mirror of
    events.session_funnel): lag+cumsum session ids with the (ts,
    event_id) tiebreak, the N−1 strict conditional-min stages keyed on
    (user, session), depth-0 via the full-session left join."""
    from joern_spark.operators.events import FUNNEL_STEPS, SESSION_GAP_S

    s1, s2, s3 = FUNNEL_STEPS
    return f"""
WITH flagged AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w)
                   > {SESSION_GAP_S} * 1000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
ev AS MATERIALIZED (
  SELECT user_id, event_type, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
),
f1 AS (
  SELECT user_id, sid, min(ts) AS step_1_ts FROM ev
  WHERE event_type = '{s1}' GROUP BY 1, 2
),
f2 AS (
  SELECT f1.user_id, f1.sid, f1.step_1_ts,
         min(CASE WHEN e.ts > f1.step_1_ts THEN e.ts END) AS step_2_ts
  FROM f1 LEFT JOIN ev e
    ON e.user_id = f1.user_id AND e.sid = f1.sid
   AND e.event_type = '{s2}'
  GROUP BY 1, 2, 3
),
f3 AS (
  SELECT f2.user_id, f2.sid, f2.step_1_ts, f2.step_2_ts,
         min(CASE WHEN e.ts > f2.step_2_ts THEN e.ts END) AS step_3_ts
  FROM f2 LEFT JOIN ev e
    ON e.user_id = f2.user_id AND e.sid = f2.sid
   AND e.event_type = '{s3}'
  GROUP BY 1, 2, 3, 4
),
allsess AS (SELECT DISTINCT user_id, sid FROM ev)
SELECT depth, count(*)::BIGINT AS n_sessions FROM (
  SELECT coalesce(
           (CASE WHEN f3.step_1_ts IS NOT NULL THEN 1 ELSE 0 END)
           + (CASE WHEN f3.step_2_ts IS NOT NULL THEN 1 ELSE 0 END)
           + (CASE WHEN f3.step_3_ts IS NOT NULL THEN 1 ELSE 0 END),
           0)::INT AS depth
  FROM allsess a LEFT JOIN f3
    ON f3.user_id = a.user_id AND f3.sid = a.sid
) GROUP BY 1
"""
