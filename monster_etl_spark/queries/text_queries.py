"""Text-analysis queries over the documents table, with DuckDB oracles
mirroring each heuristic expression-for-expression (shared constants from
``operators.text`` are interpolated into the SQL so the two sides cannot
drift)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monster_etl_spark.operators import text as tx
from monster_etl_spark.operators.partitioning import spread as _spread
from monster_etl_spark.queries import QuerySpec, load

_TOKS = "regexp_split_to_array(lower(trim(text)), '\\s+')"
# single quotes doubled for SQL literal embedding
_PUNCT_SQL = tx.PUNCT_CLASS.replace("'", "''")


def _sql_stop_count(stopwords: tuple[str, ...]) -> str:
    inlist = ", ".join(f"'{w}'" for w in stopwords)
    return f"len(list_filter({_TOKS}, x -> x IN ({inlist})))"


def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NO spread here (round-11, considered and rejected): the projection
    # is cheap regex counting, and tests/test_plans.py pins this query as
    # the exchange-free narrow-map exemplar — trading that invariant for
    # ~0.2 s of local parallelism is the wrong side of guide §8 (don't
    # shuffle the payload to parallelize trivial per-row work).
    d = load(spark, sf_dir, "documents")
    c = F.col("text")
    return d.select(
        "doc_id",
        tx.ws_token_count(c).alias("ws_tokens"),
        tx.bpe_token_count(c).alias("bpe_tokens"),
        F.round(tx.stopword_ratio(c), 6).alias("stop_ratio"),
        F.round(tx.punct_ratio(c), 6).alias("punct_ratio"),
    )


TOKEN_STATS_SQL = f"""
SELECT doc_id,
  len({_TOKS}) AS ws_tokens,
  len(regexp_extract_all(text, '{tx.BPE_TOKEN_RE}')) AS bpe_tokens,
  round({_sql_stop_count(tx.QUALITY_STOPWORDS)} / nullif(len({_TOKS}), 0), 6) AS stop_ratio,
  round((length(text) - length(regexp_replace(text, '{_PUNCT_SQL}', '', 'g')))
        / nullif(CAST(length(text) AS DOUBLE), 0), 6) AS punct_ratio
FROM documents
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", tx.quality_score(F.col("text")).alias("quality"))


QUALITY_SQL = f"""
SELECT doc_id,
  round((
    least(len({_TOKS}) / 64.0, 1.0)
    + least(({_sql_stop_count(tx.QUALITY_STOPWORDS)} / nullif(len({_TOKS}), 0)) * 4, 1.0)
    + (1.0 - least(((length(text) - length(regexp_replace(text, '{_PUNCT_SQL}', '', 'g')))
                    / nullif(CAST(length(text) AS DOUBLE), 0)) * 4, 1.0))
  ) / 3, 6) AS quality
FROM documents
"""


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: same serial-scan-projection fix as text_token_stats
    d = _spread(load(spark, sf_dir, "documents"))
    return d.select("doc_id", "lang", tx.lang_id(F.col("text")).alias("lang_pred"))


def _langid_sql() -> str:
    scores = {lang: _sql_stop_count(sw) for lang, sw in tx.LANG_STOPWORDS.items()}
    score_cols = ",\n  ".join(f"{expr} AS s_{lang}" for lang, expr in scores.items())
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in tx.LANG_STOPWORDS) + ")"
    whens = "\n    ".join(
        f"WHEN s_{lang} = {best} THEN '{lang}'" for lang in tx.LANG_STOPWORDS
    )
    return f"""
WITH scored AS (
  SELECT doc_id, lang,
  {score_cols}
  FROM documents
)
SELECT doc_id, lang,
  CASE WHEN {best} <= 0 THEN 'und'
    {whens}
    ELSE 'und' END AS lang_pred
FROM scored
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", tx.fingerprint(F.col("text")).alias("fingerprint"))


FINGERPRINT_SQL = """
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""


def text_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-diversity / repetition quality signals. Tokens and grams
    are materialized as projected columns between select steps — the
    inline-lambda form re-tokenized per element (CollapseProject does
    not CSE lambda subtrees): 24.6s -> ~4s at sf0.1."""
    # spread: same serial-scan-projection fix as text_token_stats
    d = _spread(load(spark, sf_dir, "documents"))
    toks = d.select("doc_id", tx.tokens(F.col("text")).alias("__toks__"))
    grams = toks.select(
        "doc_id", "__toks__", tx.ngram_array(F.col("__toks__")).alias("__grams__")
    )
    return grams.select(
        "doc_id",
        F.round(
            F.size(F.array_distinct("__toks__"))
            / F.nullif(F.size("__toks__"), F.lit(0)),
            6,
        ).alias("ttr"),
        tx.repetition_ratio_from_grams(F.col("__toks__"), F.col("__grams__")).alias("rep3"),
    )


DIVERSITY_SQL = f"""
SELECT doc_id,
  round(len(list_distinct({_TOKS})) / nullif(len({_TOKS}), 0), 6) AS ttr,
  CASE WHEN len({_TOKS}) >= 3 THEN
    round(1.0 - len(list_distinct(list_transform(range(1, len({_TOKS}) - 1),
            i -> {_TOKS}[i] || ' ' || {_TOKS}[i+1] || ' ' || {_TOKS}[i+2])))
          / nullif(len({_TOKS}) - 2, 0), 6)
  ELSE NULL END AS rep3
FROM documents
"""


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: plant a synthetic email + phone per doc, scrub, and
    return the redacted text prefix (full texts hash fine but stay long)."""
    d = load(spark, sf_dir, "documents")
    planted = F.concat(
        F.lit("contact user"), F.col("doc_id").cast("string"), F.lit("@example.com or 555-123-4567 re: "),
        F.col("text"),
    )
    return d.select(
        "doc_id",
        F.substring(tx.scrub_pii(planted), 1, 60).alias("scrubbed_prefix"),
    )


PII_SQL = f"""
SELECT doc_id,
  substr(
    regexp_replace(
      regexp_replace('contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-123-4567 re: ' || text,
                     '{tx.PII_EMAIL_RE}', '<EMAIL>', 'g'),
      '{tx.PII_PHONE_RE}', '<PHONE>', 'g'),
  1, 60) AS scrubbed_prefix
FROM documents
"""


def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", tx.rolling_fingerprint(F.col("text")).alias("rhash"))


ROLLING_SQL = rf"""
SELECT doc_id,
  list_reduce(
    list_prepend(CAST(0 AS BIGINT),
      list_transform(string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ''),
                     c -> CAST(ascii(c) AS BIGINT))),
    (acc, x) -> (acc * {tx.ROLLING_BASE} + x) % {tx.ROLLING_MOD}
  ) AS rhash
FROM documents
"""


CHUNK_TOKENS = 64
CHUNK_OVERLAP = 16
_STRIDE = CHUNK_TOKENS - CHUNK_OVERLAP


def text_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.chunk_documents(
        load(spark, sf_dir, "documents"), "doc_id", "text", CHUNK_TOKENS, CHUNK_OVERLAP
    )


CHUNKING_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
c AS (SELECT doc_id, toks,
        unnest(range(0, CAST(greatest(ceil((len(toks) - {CHUNK_OVERLAP}) / {_STRIDE}.0), 1) AS BIGINT))) AS chunk_id
      FROM t)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(len(list_slice(toks, chunk_id*{_STRIDE}+1, chunk_id*{_STRIDE}+{CHUNK_TOKENS})) AS BIGINT) AS n_chunk_tokens,
       array_to_string(list_slice(toks, chunk_id*{_STRIDE}+1, chunk_id*{_STRIDE}+{CHUNK_TOKENS}), ' ') AS chunk_text
FROM c
"""

# up-sample src0 (2.5 epochs), down-sample src1 (keep 1/4), drop src2,
# everything else passes through once
MIX_WEIGHTS = {"src0": 2.5, "src1": 0.25, "src2": 0.0}


def text_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    return tx.mixture_weights(d, "source", MIX_WEIGHTS, id_col="doc_id")


def _mixture_sql() -> str:
    cases = " ".join(f"WHEN '{s}' THEN {w}" for s, w in sorted(MIX_WEIGHTS.items()))
    return f"""
WITH w AS (
  SELECT doc_id, source,
         CASE source {cases} ELSE 1.0 END AS wt,
         CAST(CAST(concat('0x', substr(md5('mix|' || CAST(doc_id AS VARCHAR)), 1, 6)) AS UBIGINT) AS BIGINT) / 16777216.0 AS u
  FROM documents
),
n AS (
  SELECT doc_id, source,
         CAST(floor(wt) + CASE WHEN u < wt - floor(wt) THEN 1 ELSE 0 END AS BIGINT) AS n_copies
  FROM w
)
SELECT doc_id, source, CAST(unnest(range(0, n_copies)) AS BIGINT) AS epoch
FROM n WHERE n_copies > 0
"""


def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-derived unigram LM quality score (see operators.text.unigram_logprob)."""
    return tx.unigram_logprob(load(spark, sf_dir, "documents"), "doc_id", "text")


UNIGRAM_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
),
doc_tf AS (
  SELECT doc_id, tok, count(*) AS cnt FROM toks WHERE tok <> '' GROUP BY doc_id, tok
),
vocab AS (SELECT tok, sum(cnt) AS tf FROM doc_tf GROUP BY tok),
tot AS (SELECT sum(tf) AS total FROM vocab)
SELECT doc_id,
  CAST(sum(cnt) AS BIGINT) AS n_tokens,
  round(sum(cnt * (ln(CAST(tf AS DOUBLE)) - ln(CAST(total AS DOUBLE)))) / sum(cnt), 6)
    AS unigram_logprob
FROM doc_tf JOIN vocab USING (tok) CROSS JOIN tot
GROUP BY doc_id
"""



TFIDF_K = 3


def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (operators/text.py::tfidf_top_terms):
    keyword extraction as corpus-statistic-joined-back-to-rows."""
    return tx.tfidf_top_terms(load(spark, sf_dir, "documents"), k=TFIDF_K)


TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
),
doc_tf AS (
  SELECT doc_id, tok, count(*) AS cnt FROM toks WHERE tok <> '' GROUP BY doc_id, tok
),
doc_len AS (SELECT doc_id, sum(cnt) AS doc_len FROM doc_tf GROUP BY doc_id),
doc_freq AS (SELECT tok, count(*) AS df_t FROM doc_tf GROUP BY tok),
n AS (SELECT count(*) AS n_docs FROM doc_len),
scored AS (
  SELECT doc_id, tok,
         (CAST(cnt AS DOUBLE) / doc_len) * ln(CAST(n_docs AS DOUBLE) / df_t) AS tfidf_raw
  FROM doc_tf JOIN doc_len USING (doc_id) JOIN doc_freq USING (tok) CROSS JOIN n
)
SELECT doc_id, tok AS term, round(tfidf_raw, 6) AS tfidf, term_rank
FROM (
  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf_raw DESC, tok) AS BIGINT)
            AS term_rank
  FROM scored
)
WHERE term_rank <= {TFIDF_K}
"""



def text_ols_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language closed-form OLS of quality score on token count — the
    per-group model-fitting shape (the degenerate-but-common case where
    the "model" has a closed form, so it stays a pure aggregate: one
    combinable pass of exact moments per group, slope/intercept/r2 as
    deterministic functions of them; an applyInPandas per-group fit is
    only needed when no closed form exists). Tokens are exact integers
    and quality is pre-rounded, so the moments bit-agree cross-engine."""
    d = load(spark, sf_dir, "documents")
    # decimal moments: quality is a 6dp float, and float sums accumulate
    # in partition order — exact DECIMAL keeps every moment
    # order-independent (same discipline as q_stats_exact)
    scored = d.select(
        "lang",
        tx.ws_token_count(F.col("text")).cast("decimal(12,2)").alias("x"),
        tx.quality_score(F.col("text")).cast("decimal(12,6)").alias("y"),
    )
    n = F.count(F.lit(1))
    sx = F.sum("x").cast("double")
    sy = F.sum("y").cast("double")
    sxx = F.sum(F.col("x") * F.col("x")).cast("double")
    sxy = F.sum(F.col("x") * F.col("y")).cast("double")
    syy = F.sum(F.col("y") * F.col("y")).cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    r_num = n * sxy - sx * sy
    r2 = (r_num * r_num) / ((n * sxx - sx * sx) * (n * syy - sy * sy))
    return scored.groupBy("lang").agg(
        n.alias("n_docs"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


OLS_SQL = f"""
WITH scored AS (
  SELECT d.lang,
         CAST(len({_TOKS}) AS DECIMAL(12,2)) AS x,
         CAST(s.quality AS DECIMAL(12,6)) AS y
  FROM documents d JOIN ({QUALITY_SQL}) s ON d.doc_id = s.doc_id
),
mom AS (
  SELECT lang, count(*) AS n,
         CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x * x) AS DOUBLE) AS sxx, CAST(sum(x * y) AS DOUBLE) AS sxy,
         CAST(sum(y * y) AS DOUBLE) AS syy
  FROM scored GROUP BY lang
)
SELECT lang, n AS n_docs,
  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS intercept,
  round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
        / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM mom
"""



INVIDX_TOP = 50
INVIDX_POSTINGS = 10


def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index (the IR primitive behind the dedup shingle joins,
    surfaced as its own table): distinct (doc, token) explode -> one
    combinable aggregate per token building document frequency and the
    sorted posting list. Output keeps the 50 highest-df tokens
    (deterministic df-then-token order, TakeOrderedAndProject) with the
    first 10 postings JSON-serialized so the driver can hash the array."""
    d = load(spark, sf_dir, "documents")
    toks = (
        d.select("doc_id", F.explode(tx.tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )
    idx = toks.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df"),
        F.slice(F.array_sort(F.collect_list("doc_id")), 1, INVIDX_POSTINGS).alias("postings"),
    )
    return (
        idx.orderBy(F.desc("df"), F.asc("tok"))
        .limit(INVIDX_TOP)
        .select("tok", "df", F.to_json("postings").alias("postings_head"))
    )


INVIDX_SQL = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest({_TOKS}) AS tok FROM documents
),
idx AS (
  SELECT tok, count(*) AS df,
         list_slice(list_sort(list(doc_id)), 1, {INVIDX_POSTINGS}) AS postings
  FROM toks WHERE tok <> '' GROUP BY tok
)
SELECT tok, df, to_json(postings) AS postings_head
FROM idx ORDER BY df DESC, tok ASC LIMIT {INVIDX_TOP}
"""



PAIR_MIN_SUPPORT = 40


def text_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apriori pass-2 frequent token pairs (operators/text.py::
    frequent_token_pairs) with support >= 40 documents."""
    return tx.frequent_token_pairs(
        load(spark, sf_dir, "documents"), min_support=PAIR_MIN_SUPPORT
    )


FREQ_PAIRS_SQL = f"""
WITH toks AS (
  SELECT DISTINCT doc_id AS doc, unnest({_TOKS}) AS tok FROM documents
),
pruned AS (
  SELECT doc, tok FROM toks WHERE tok <> '' AND tok IN (
    SELECT tok FROM toks WHERE tok <> '' GROUP BY tok
    HAVING count(*) >= {PAIR_MIN_SUPPORT}
  )
)
SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS support
FROM pruned a JOIN pruned b ON a.doc = b.doc AND a.tok < b.tok
GROUP BY a.tok, b.tok
HAVING count(*) >= {PAIR_MIN_SUPPORT}
"""


def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher heuristic quality gate (Rae et al. 2021 §A1.1): word count,
    mean word length, alphabetic-word fraction, top-bigram share, distinct
    stopwords, and the combined pass flag. Pure narrow map stage."""
    from monster_etl_spark.operators.partitioning import spread

    # row-independent projection, but the per-doc top-bigram count is
    # quadratic in doc length and the single-row-group corpus otherwise
    # evaluates it SERIALLY in the scan task (one 0.65 s task at sf0.1 —
    # round-11, guide §2.6; no-op at scale)
    d = spread(load(spark, sf_dir, "documents"))
    return tx.gopher_features(d).select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "alpha_word_frac",
        "top_bigram_frac",
        "distinct_stopwords",
        "gopher_pass",
    )


def _gopher_sql() -> str:
    stop_list = ", ".join(f"'{w}'" for w in tx.QUALITY_STOPWORDS)
    return f"""
WITH t AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
), g AS (
  SELECT doc_id, toks,
    CASE WHEN len(toks) >= 2
      THEN list_transform(generate_series(1, len(toks) - 1),
                          i -> toks[i] || ' ' || toks[i + 1])
    END AS grams
  FROM t
), f AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_words,
    round(list_sum(list_transform(toks, x -> len(x))) / nullif(len(toks), 0), 6)
      AS mean_word_len,
    round(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
          / nullif(len(toks), 0), 6) AS alpha_word_frac,
    CASE WHEN len(toks) >= 2 THEN
      round(list_max(list_transform(list_distinct(grams),
                                    y -> len(list_filter(grams, x -> x = y))))
            / nullif(len(grams), 0), 6)
    END AS top_bigram_frac,
    CAST(len(list_intersect(list_distinct(toks), [{stop_list}])) AS BIGINT)
      AS distinct_stopwords
  FROM g
)
SELECT *,
  (n_words BETWEEN {tx.GOPHER_MIN_WORDS} AND {tx.GOPHER_MAX_WORDS}
   AND mean_word_len BETWEEN {tx.GOPHER_MIN_MEAN_WORD_LEN} AND {tx.GOPHER_MAX_MEAN_WORD_LEN}
   AND alpha_word_frac >= {tx.GOPHER_MIN_ALPHA_WORD_FRAC}
   AND coalesce(top_bigram_frac, 0.0) <= {tx.GOPHER_MAX_TOP_BIGRAM_FRAC}
   AND distinct_stopwords >= {tx.GOPHER_MIN_DISTINCT_STOPWORDS}) AS gopher_pass
FROM f
"""


# Query terms drawn from the synthetic corpus vocabulary: mid-frequency
# content words so tf, df, and length damping all vary across documents.
BM25_TERMS: tuple[str, ...] = ("spark", "window", "customer")
BM25_K1 = 1.2
BM25_B = 0.75


def text_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 (Lucene idf form) of every matching document against a
    fixed query-term set — the lexical retrieval baseline."""
    d = load(spark, sf_dir, "documents")
    return tx.bm25_scores(d, BM25_TERMS, k1=BM25_K1, b=BM25_B)


def _bm25_sql() -> str:
    inlist = ", ".join(f"'{w}'" for w in BM25_TERMS)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
), tf AS (
  SELECT doc_id, tok, count(*) AS tf FROM toks
  WHERE tok IN ({inlist}) GROUP BY doc_id, tok
), dfreq AS (
  SELECT tok, count(*) AS df_t FROM tf GROUP BY tok
), dl AS (
  SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS dl FROM documents
), scalars AS (
  SELECT count(*) AS n_docs, avg(len({_TOKS})) AS avgdl FROM documents
)
SELECT tf.doc_id,
  round(sum(
    ln((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)
    * (tf * ({BM25_K1} + 1)) / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))
  ), 6) AS bm25
FROM tf JOIN dfreq USING (tok) JOIN dl ON tf.doc_id = dl.doc_id, scalars
GROUP BY tf.doc_id
"""


PAGERANK_ITERS = 5
_PR_BASE = 10**12


def text_token_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality of tokens over the symmetrized co-occurrence
    graph (edges = Apriori frequent pairs): which vocabulary terms sit at
    the center of the corpus. Runs the FIXED-POINT integer PageRank
    (``operators.graph.pagerank_fixed_point``) so the iterative result is
    hash-verifiable against a 5x unrolled-CTE SQL oracle — float PageRank
    could only ever be approximately compared."""
    from monster_etl_spark.operators.graph import pagerank_fixed_point

    pairs = tx.frequent_token_pairs(
        load(spark, sf_dir, "documents"), min_support=PAIR_MIN_SUPPORT
    )
    # symmetrize: each pair row emits (a, b) and (b, a). A union of two
    # copies of `pairs` would put the pair-mining subtree in the plan
    # twice, and AQE re-optimizes the whole tree after every stage
    edges = pairs.select(
        F.inline(
            F.array(
                F.struct(F.col("tok_a").alias("src"), F.col("tok_b").alias("dst")),
                F.struct(F.col("tok_b").alias("src"), F.col("tok_a").alias("dst")),
            )
        )
    )
    return pagerank_fixed_point(edges, iterations=PAGERANK_ITERS)


def _pagerank_sql() -> str:
    iter_cte = """
r{k} AS (
  SELECT nodes.node,
    (SELECT (15 * {base}) // (100 * n) FROM nn)
    + (85 * coalesce(s.in_sum, 0)) // 100 AS rank_fp
  FROM nodes LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank_fp // d.out_deg) AS in_sum
    FROM r{prev} r JOIN deg d ON r.node = d.node JOIN edges e ON r.node = e.src
    GROUP BY e.dst
  ) s ON nodes.node = s.node
)"""
    iters = ",".join(
        iter_cte.format(k=k, prev=k - 1, base=_PR_BASE)
        for k in range(1, PAGERANK_ITERS + 1)
    )
    return f"""
WITH toks AS (
  SELECT DISTINCT doc_id AS doc, unnest({_TOKS}) AS tok FROM documents
),
pruned AS (
  SELECT doc, tok FROM toks WHERE tok <> '' AND tok IN (
    SELECT tok FROM toks WHERE tok <> '' GROUP BY tok
    HAVING count(*) >= {PAIR_MIN_SUPPORT}
  )
),
pairs AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b
  FROM pruned a JOIN pruned b ON a.doc = b.doc AND a.tok < b.tok
  GROUP BY a.tok, b.tok
  HAVING count(*) >= {PAIR_MIN_SUPPORT}
),
edges AS (
  SELECT tok_a AS src, tok_b AS dst FROM pairs
  UNION ALL SELECT tok_b AS src, tok_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
deg AS (SELECT src AS node, count(*) AS out_deg FROM edges GROUP BY src),
nn AS (SELECT count(*) AS n FROM nodes),
r0 AS (SELECT node, (SELECT {_PR_BASE} // n FROM nn) AS rank_fp FROM nodes),
{iters}
SELECT node, CAST(rank_fp AS BIGINT) AS rank_fp,
  round(CAST(rank_fp AS BIGINT) / {_PR_BASE}.0, 6) AS rank
FROM r{PAGERANK_ITERS}
"""




def text_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed linear classifier inference (fastText-style quality filter)
    as columnar expressions: feature-hash -> broadcast weight join ->
    integer-exact mean pooling -> sigmoid."""
    # spread: same serial-scan-projection fix as text_token_stats (the
    # hashed-feature pooling is integer-exact, row-independent)
    return tx.hashed_linear_score(_spread(load(spark, sf_dir, "documents")))


def _classifier_sql() -> str:
    b = tx.CLF_BUCKETS
    mod = tx.CLF_WEIGHT_MOD
    h = lambda expr: (  # mirror of tx._md5_long
        f"CAST(CAST(concat('0x', substr(md5({expr}), 1, 8)) AS UBIGINT) AS BIGINT)"
    )
    return f"""
WITH toks AS (
  SELECT doc_id AS doc, unnest({_TOKS}) AS tok FROM documents
),
feats AS (
  SELECT doc, {h("'b|' || tok")} % {b} AS bucket, count(*) AS cnt
  FROM toks WHERE tok <> '' GROUP BY doc, bucket
),
weights AS (
  SELECT t.b AS bucket,
         {h("'w|' || CAST(t.b AS VARCHAR)")} % {mod} - 1000 AS w_milli
  FROM range(0, {b}) t(b)
),
agg AS (
  SELECT doc, sum(cnt) AS n_tokens, sum(cnt * w_milli) AS s_milli
  FROM feats JOIN weights USING (bucket) GROUP BY doc
)
SELECT doc AS doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
  -- integer HALF_UP micro-logit (engine-exact; float round() hits a
  -- literal half tie at sf0.1 — see hashed_linear_score)
  CAST(sign(s_milli) AS BIGINT)
    * ((2000 * abs(s_milli) + n_tokens) // (2 * n_tokens)) / 1e6 AS logit,
  round(1.0 / (1.0 + exp(-(s_milli / (n_tokens * 1000.0)))), 6) AS score,
  s_milli >= 0 AS keep
FROM agg
"""




def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM fluency score (KenLM-style perplexity
    signal; sees scrambled word order where the unigram LM cannot)."""
    return tx.bigram_logprob(load(spark, sf_dir, "documents"))


def _bigram_sql() -> str:
    lam = tx.BIGRAM_LAMBDA
    return f"""
WITH base AS (
  SELECT doc_id AS doc, list_filter({_TOKS}, x -> x <> '') AS toks FROM documents
),
bg AS (
  SELECT doc, toks[t.i] AS w1, toks[t.i + 1] AS w2
  FROM base, LATERAL (SELECT unnest(range(1, len(toks))) AS i) t
),
bgd AS (SELECT doc, w1, w2, count(*) AS cnt FROM bg GROUP BY doc, w1, w2),
bgc AS (SELECT w1, w2, sum(cnt) AS c12 FROM bgd GROUP BY w1, w2),
uni AS (
  SELECT tok, count(*) AS c
  FROM (SELECT unnest(toks) AS tok FROM base) GROUP BY tok
),
tot AS (SELECT sum(c) AS total FROM uni)
SELECT doc AS doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
  round(sum(cnt * ln({lam} * (c12 / CAST(u1.c AS DOUBLE))
                     + {1 - lam} * (u2.c / CAST(total AS DOUBLE)))) / sum(cnt), 6)
    AS bigram_logprob
FROM bgd
JOIN bgc USING (w1, w2)
JOIN uni u1 ON u1.tok = bgd.w1
JOIN uni u2 ON u2.tok = bgd.w2
CROSS JOIN tot
GROUP BY doc
"""


QUERIES = {
    "text_token_stats": QuerySpec(text_token_stats, TOKEN_STATS_SQL, "token counting + ratios"),
    "text_token_pagerank": QuerySpec(
        text_token_pagerank,
        _pagerank_sql(),
        "fixed-point PageRank over the token co-occurrence graph",
    ),
    "text_gopher_quality": QuerySpec(
        text_gopher_quality, _gopher_sql(), "Gopher heuristic quality gate (Rae et al. 2021)"
    ),
    "text_bm25_rank": QuerySpec(
        text_bm25_rank, _bm25_sql(), "Okapi BM25 lexical relevance vs fixed query terms"
    ),
    "text_bigram_logprob": QuerySpec(
        text_bigram_logprob, _bigram_sql(),
        "interpolated bigram LM mean log-prob (fluency/perplexity signal)"
    ),
    "text_unigram_logprob": QuerySpec(
        text_unigram_logprob, UNIGRAM_SQL, "corpus-unigram LM mean log-prob quality score"
    ),
    "text_chunking": QuerySpec(text_chunking, CHUNKING_SQL, "overlapping token-window chunking"),
    "text_tfidf": QuerySpec(text_tfidf, TFIDF_SQL, "per-doc top-3 TF-IDF keyword terms"),
    "text_ols_quality": QuerySpec(text_ols_quality, OLS_SQL, "per-language closed-form OLS fit"),
    "text_inverted_index": QuerySpec(
        text_inverted_index, INVIDX_SQL, "top-df posting lists (inverted index)"
    ),
    "text_frequent_pairs": QuerySpec(
        text_frequent_pairs, FREQ_PAIRS_SQL, "Apriori pass-2 co-occurring token pairs"
    ),
    "text_mixture": QuerySpec(text_mixture, _mixture_sql(), "deterministic corpus mixture weights"),
    "text_classifier_score": QuerySpec(
        text_classifier_score, _classifier_sql(),
        "hashed linear classifier inference (fastText-style filter)"
    ),
    "text_quality": QuerySpec(text_quality, QUALITY_SQL, "quality scoring"),
    "text_lang_id": QuerySpec(text_lang_id, _langid_sql(), "stopword language-ID"),
    "text_fingerprint": QuerySpec(text_fingerprint, FINGERPRINT_SQL, "document fingerprint"),
    "text_diversity": QuerySpec(text_diversity, DIVERSITY_SQL, "lexical diversity + repetition"),
    "text_rolling_fingerprint": QuerySpec(text_rolling_fingerprint, ROLLING_SQL, "polynomial rolling-hash fingerprint"),
    "text_pii_scrub": QuerySpec(text_pii_scrub, PII_SQL, "regex PII redaction"),
}


BPE_N_MERGES = 6


def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, first 6 merges (operators/text.py
    ``bpe_learn_merges``): one corpus pass builds the word-frequency
    dictionary; each merge iteration counts adjacent symbol pairs over
    the cached vocabulary-sized dictionary and the driver collects only
    the winning pair. The oracle unrolls the same iteration into chained
    CTEs with the identical two-pass boundary-delimited replace, so the
    learned merge table hash-matches."""
    from monster_etl_spark.operators.text import bpe_learn_merges

    d = load(spark, sf_dir, "documents")
    return bpe_learn_merges(d, "text", n_merges=BPE_N_MERGES)


def _bpe_merges_sql() -> str:
    from monster_etl_spark.operators.text import bpe_learn_merges_sql

    return bpe_learn_merges_sql("documents", "text", n_merges=BPE_N_MERGES)


QUERIES["text_bpe_merges"] = QuerySpec(
    text_bpe_merges, _bpe_merges_sql(), "distributed BPE merge-pair learning (first 6 merges)"
)


ZIPF_TOP = 200  # fit over the head of the rank-frequency curve


def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus token distribution: rank tokens by
    frequency, fit ln(freq) = a + s * ln(rank) over the top 200 by
    closed-form OLS, and report the slope (natural text runs s ~ -1;
    strong deviation flags boilerplate or synthetic text — a corpus-
    level quality signal). One token-count aggregate (map-side
    combinable), a top-200 TakeOrdered, then 200-row math. Sums run in
    the exact integer/decimal domain where possible; the one float
    OLS expression is identical on both engines and rounded 6dp."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(tx.tokens(F.col("text"))).alias("tok")).filter(
        F.col("tok") != ""
    )
    freqs = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("freq"))
    top = freqs.orderBy(F.desc("freq"), F.asc("tok")).limit(ZIPF_TOP)
    ranked = top.select(
        "tok",
        "freq",
        F.row_number()
        .over(Window.orderBy(F.desc("freq"), F.asc("tok")))
        .cast("long")
        .alias("rank"),
    )
    # exact-moment discipline (q_stats_exact / text_ols_quality): ln
    # values round to 9dp, per-row products are exact decimal, sums are
    # exact decimal — summation ORDER cannot move the fit, so the 6dp
    # slope/intercept hash-agree across engines and partitionings
    dec = "decimal(28,18)"
    xy = ranked.select(
        F.round(F.log(F.col("rank").cast("double")), 9).cast(dec).alias("x"),
        F.round(F.log(F.col("freq").cast("double")), 9).cast(dec).alias("y"),
    )
    agg = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return agg.select(
        F.col("n").alias("n_tokens_fit"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("zipf_intercept"),
    )


ZIPF_SQL = f"""
WITH toks AS (
  SELECT unnest({_TOKS}) AS tok FROM documents
),
freqs AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq FROM toks WHERE tok <> '' GROUP BY tok
),
top AS (SELECT tok, freq FROM freqs ORDER BY freq DESC, tok ASC LIMIT {ZIPF_TOP}),
ranked AS (
  SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, tok ASC) AS rank FROM top
),
xy AS (SELECT CAST(round(ln(CAST(rank AS DOUBLE)), 9) AS DECIMAL(28,18)) AS x,
              CAST(round(ln(CAST(freq AS DOUBLE)), 9) AS DECIMAL(28,18)) AS y
       FROM ranked),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * x AS DECIMAL(28,18))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(x * y AS DECIMAL(28,18))) AS DOUBLE) AS sxy
  FROM xy
)
SELECT n AS n_tokens_fit,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6) AS zipf_intercept
FROM agg
"""

QUERIES["text_zipf_fit"] = QuerySpec(
    text_zipf_fit, ZIPF_SQL, "Zipf rank-frequency OLS fit of the token distribution"
)


def text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE train->apply closed loop (operators/text.py
    ``bpe_tokenize_counts``): learn the 6 merges on the corpus, fold
    them over the vocabulary-sized distinct-word table, and count each
    document's resulting subword tokens via one explode + broadcast
    word join. The oracle reuses the learn chain's final CTE level
    (word -> merged symbol string) so both engines apply the identical
    merge table."""
    from monster_etl_spark.operators.text import bpe_tokenize_counts

    d = load(spark, sf_dir, "documents")
    return bpe_tokenize_counts(d, "doc_id", "text", n_merges=BPE_N_MERGES)


def _bpe_tokenize_sql() -> str:
    from monster_etl_spark.operators.text import bpe_tokenize_counts_sql

    return bpe_tokenize_counts_sql("documents", "doc_id", "text", n_merges=BPE_N_MERGES)


QUERIES["text_bpe_tokenize"] = QuerySpec(
    text_bpe_tokenize, _bpe_tokenize_sql(), "BPE apply: per-doc subword counts from learned merges"
)


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the token co-occurrence graph (edges =
    Apriori frequent pairs, tok_a < tok_b) — the classic distributed
    graph primitive behind clustering-coefficient / community metrics.
    Ordered-wedge formulation: join edges (a,b) x (b,c) into wedges with
    a < b < c, then close each wedge against the edge list — two
    equi-joins, work proportional to sum of ordered degrees squared
    (the orientation trick that keeps hub wedges bounded: every vertex
    only extends wedges toward HIGHER-ordered neighbors). Returns one
    row per vertex participating in triangles (token, n_triangles) plus
    the ordering makes each triangle counted exactly once per vertex."""
    pairs = tx.frequent_token_pairs(
        load(spark, sf_dir, "documents"), min_support=PAIR_MIN_SUPPORT
    ).select("tok_a", "tok_b")
    # materialize once: the edge list is referenced three times below and
    # its Apriori derivation is the expensive part (localCheckpoint, not
    # persist — nothing to leak after the query returns; same discipline
    # as pagerank_fixed_point)
    e = pairs.localCheckpoint()
    ab = e.select(F.col("tok_a").alias("a"), F.col("tok_b").alias("b"))
    bc = e.select(F.col("tok_a").alias("b"), F.col("tok_b").alias("c"))
    wedges = ab.join(bc, "b").filter(F.col("a") < F.col("c"))
    closing = e.select(F.col("tok_a").alias("a"), F.col("tok_b").alias("c"))
    tri = wedges.join(closing, ["a", "c"])
    per_vertex = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return per_vertex


GRAPH_TRIANGLES_SQL = f"""
WITH toks AS (
  SELECT DISTINCT doc_id AS doc, unnest({_TOKS}) AS tok FROM documents
),
pruned AS (
  SELECT doc, tok FROM toks WHERE tok <> '' AND tok IN (
    SELECT tok FROM toks WHERE tok <> '' GROUP BY tok
    HAVING count(*) >= {PAIR_MIN_SUPPORT}
  )
),
edges AS (
  SELECT a.tok AS tok_a, b.tok AS tok_b
  FROM pruned a JOIN pruned b ON a.doc = b.doc AND a.tok < b.tok
  GROUP BY a.tok, b.tok
  HAVING count(*) >= {PAIR_MIN_SUPPORT}
),
wedges AS (
  SELECT ab.tok_a AS a, ab.tok_b AS b, bc.tok_b AS c
  FROM edges ab JOIN edges bc ON ab.tok_b = bc.tok_a
  WHERE ab.tok_a < bc.tok_b
),
tri AS (
  SELECT w.a, w.b, w.c
  FROM wedges w JOIN edges e ON w.a = e.tok_a AND w.c = e.tok_b
)
SELECT token, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM (
  SELECT unnest([a, b, c]) AS token FROM tri
) AS v
GROUP BY token
"""

QUERIES["graph_triangle_count"] = QuerySpec(
    graph_triangle_count, GRAPH_TRIANGLES_SQL, "ordered-wedge triangle count per token"
)
