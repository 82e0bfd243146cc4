"""Text-analysis operators for training-data pipelines.

Beyond the reference's surface (it has no text analytics): language-ID,
quality scoring, token counting, and document fingerprinting over a text
column — each built from built-in column expressions (JVM-side, codegen'd),
no Python UDFs, so they run as narrow map stages at any scale.

Determinism contract: every function here is a pure column expression over
its input row, so results are reproducible and SQL-oracle-checkable
(see ``monster_etl_spark.queries``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Whitespace tokenization shared by all text ops (and their SQL oracles).
TOKEN_SPLIT_RE = r"\s+"

# A BPE-ish word/number/symbol segmentation: letters run, digits run, or a
# single non-space symbol — a cheap proxy for subword token counting.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Small per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deterministic tie-break order = list order below.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is", "in"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "es": ("el", "los", "las", "es", "y", "que"),
    "fr": ("le", "la", "les", "et", "est", "que"),
}

# Stopwords used by the quality score (English-centric, like most
# web-scale quality filters).
QUALITY_STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "is", "in", "that", "it")

PUNCT_CLASS = r"[.,;:!?'\"()\[\]{}\-]"


def tokens(col: Column) -> Column:
    """Lower-cased whitespace tokens."""
    return F.split(F.lower(F.trim(col)), TOKEN_SPLIT_RE)


def ws_token_count(col: Column) -> Column:
    """Whitespace token count (BIGINT: aligns with SQL engines' len())."""
    return F.size(tokens(col)).cast("long")


def bpe_token_count(col: Column) -> Column:
    """BPE-ish segment count (letters/digits runs + single symbols)."""
    return F.regexp_count(col, F.lit(BPE_TOKEN_RE)).cast("long")


def stopword_count(col: Column, stopwords: tuple[str, ...]) -> Column:
    return F.size(F.filter(tokens(col), lambda t: t.isin(*stopwords)))


def stopword_ratio(col: Column, stopwords: tuple[str, ...] = QUALITY_STOPWORDS) -> Column:
    return stopword_count(col, stopwords) / F.nullif(ws_token_count(col), F.lit(0))


def punct_ratio(col: Column) -> Column:
    """Punctuation chars / total chars."""
    n = F.length(col)
    stripped = F.length(F.regexp_replace(col, PUNCT_CLASS, ""))
    return (n - stripped) / F.nullif(n.cast("double"), F.lit(0.0))


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword presence +
    low punctuation density — the standard cheap pre-filter shape for
    web-scale corpora. Rounded to 6dp for cross-engine determinism.
    """
    n_tok = ws_token_count(col).cast("double")
    length_term = F.least(n_tok / F.lit(64.0), F.lit(1.0))
    stop_term = F.least(stopword_ratio(col) * 4, F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(col) * 4, F.lit(1.0))
    return F.round((length_term + stop_term + punct_term) / 3, 6)


def lang_id(col: Column) -> Column:
    """Stopword-membership language ID: score each candidate language by
    its stopword hit count, pick the argmax (ties -> LANG_STOPWORDS order,
    no hits -> 'und'). N-gram-profile LID reduced to its cheapest effective
    form; pure column expressions.
    """
    toks = tokens(col)

    def hit_count(sw: tuple[str, ...]) -> Column:
        # factory closure: F.filter lambdas must be single-parameter
        # (a second parameter is interpreted as the element index)
        return F.size(F.filter(toks, lambda t: t.isin(*sw)))

    scores = {lang: hit_count(sw) for lang, sw in LANG_STOPWORDS.items()}
    best = F.greatest(*scores.values()) if len(scores) > 1 else next(iter(scores.values()))
    # when-chain evaluates in order, so earlier languages win ties
    expr = F.when(best <= 0, F.lit("und"))
    for lang in LANG_STOPWORDS:
        expr = expr.when(scores[lang] == best, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def normalized_text(col: Column) -> Column:
    """Canonical form for fingerprinting: lower, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fingerprint(col: Column) -> Column:
    """Deterministic 128-bit content fingerprint of normalized text (md5 —
    available identically in Spark and DuckDB, so oracle-checkable; a
    rolling/xx hash would be faster but engine-specific)."""
    return F.md5(normalized_text(col))


ROLLING_BASE = 31
ROLLING_MOD = (1 << 31) - 1  # Mersenne prime; acc*31+code < 2^36, no overflow


def rolling_fingerprint(col: Column) -> Column:
    """Polynomial rolling hash over the characters of the normalized text:
    acc = (acc*B + codepoint) mod P. Pure integer fold — bit-identical in
    any engine with exact 64-bit arithmetic (oracle uses list_reduce), and
    the building block for windowed/chunked fingerprints (hash of a sliding
    region derives from prefix hashes)."""
    chars = F.split(normalized_text(col), "")
    codes = F.transform(chars, lambda c: F.ascii(c).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * ROLLING_BASE + x) % ROLLING_MOD,
    )


def type_token_ratio(col: Column) -> Column:
    """Lexical diversity: distinct tokens / total tokens (low values flag
    boilerplate/spam). Rounded 6dp for cross-engine determinism."""
    toks = tokens(col)
    return F.round(F.size(F.array_distinct(toks)) / F.nullif(F.size(toks), F.lit(0)), 6)


def ngram_array(toks: Column, n: int = 3) -> Column:
    """Word n-gram array from a MATERIALIZED token-array column. Pass a
    projected column, not an inline split: lambda subtrees are not CSE'd,
    so an inline tokenization would re-run the regex split for every
    ``element_at`` (~3x n_grams splits per row — measured 6x slower on
    the diversity query at sf0.1)."""
    return F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)]),
    )


def repetition_ratio_from_grams(toks: Column, grams: Column, n: int = 3) -> Column:
    """1 - distinct/total over a MATERIALIZED gram column (see
    ``ngram_array``); NULL under n tokens."""
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    return F.when(
        F.size(toks) >= n, F.round(F.lit(1.0) - distinct / F.nullif(total, F.lit(0)), 6)
    ).otherwise(F.lit(None).cast("double"))


def repetition_ratio(col: Column, n: int = 3) -> Column:
    """Share of repeated word n-grams: 1 - distinct/total shingles. High
    values flag generated/looping text. NULL when fewer than n tokens.
    Convenience form — hot paths should materialize tokens + grams as
    projected columns and use ``repetition_ratio_from_grams``."""
    toks = F.split(F.lower(F.trim(col)), TOKEN_SPLIT_RE)
    return repetition_ratio_from_grams(toks, ngram_array(toks, n), n)


# Redaction patterns shared with the SQL oracles. Kept to constructs with
# identical semantics in Java regex and RE2 (no backrefs, no lookaround).
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE_RE = "\\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}"


def scrub_pii(col: Column) -> Column:
    """Regex redaction of emails and phone-shaped numbers — the standard
    pre-training scrub pass, all JVM-side."""
    out = F.regexp_replace(col, PII_EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(out, PII_PHONE_RE, "<PHONE>")


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Fixed-size token windows with overlap — the context/RAG chunking
    pass. Chunk i covers tokens [i*stride, i*stride + chunk_tokens) with
    stride = chunk_tokens - overlap; the last chunk may be short; a doc
    shorter than one chunk yields exactly one chunk. Narrow explode — no
    shuffle; output size is ~n_tokens/stride rows per doc.

    Returns (id, chunk_id, n_chunk_tokens, chunk_text).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("require 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    # materialize the token array first: lambda subtrees are not CSE'd
    base = df.select(F.col(id_col), toks.alias("__toks"))
    n = F.size("__toks")
    n_chunks = F.greatest(F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("long"), F.lit(1))
    chunked = base.select(
        id_col,
        "__toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    piece = F.slice(F.col("__toks"), F.col("chunk_id") * stride + 1, chunk_tokens)
    return chunked.select(
        id_col,
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(piece).cast("long").alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def mixture_weights(
    df: DataFrame,
    source_col: str,
    weights: dict[str, float],
    id_col: str = "doc_id",
    default_weight: float = 1.0,
) -> DataFrame:
    """Deterministic corpus mixing: per-source sampling weight w means each
    doc appears floor(w) times plus one more with probability frac(w) —
    up-sampling (epochs) for w>1, down-sampling for w<1, decided by a
    content-independent md5 hash of the id (reproducible across engines,
    reruns, and partitioning; never a seeded sample). Adds an ``epoch``
    column (0-based copy index) so downstream shuffling can interleave
    copies. The explode is narrow — no shuffle.
    """
    w = F.lit(float(default_weight))
    for src, wt in sorted(weights.items()):
        w = F.when(F.col(source_col) == src, F.lit(float(wt))).otherwise(w)
    # uniform in [0,1): 6 md5 hex chars = 24 bits
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("mix|"), F.col(id_col).cast("string"))), 1, 6),
            16,
            10,
        ).cast("long")
        / F.lit(float(1 << 24))
    )
    n_copies = (F.floor(w) + (u < (w - F.floor(w))).cast("long")).cast("long")
    out = df.withColumn("__n_copies", n_copies).filter(F.col("__n_copies") > 0)
    return out.select(
        *[c for c in df.columns],
        F.explode(F.sequence(F.lit(0), F.col("__n_copies") - 1)).alias("epoch"),
    ).withColumn("epoch", F.col("epoch").cast("long"))


def unigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """Corpus-derived unigram language-model score: per-document mean
    log-probability of its tokens under the corpus's own unigram
    distribution — the classic cheap "how typical is this text" quality
    signal (very negative = rare/garbled vocabulary).

    Two shuffles, both scale-safe at 100 TB:
      1. ``(doc, token) -> count`` then ``token -> corpus tf`` — both
         map-side combinable aggregations; collapsing per-doc duplicate
         tokens FIRST bounds the join input to distinct (doc, token)
         pairs rather than every token occurrence.
      2. join doc-level counts with the vocabulary on ``token``. The
         vocabulary is Zipf-bounded (millions of rows, MBs at 100 TB) so
         AQE broadcasts it; worst case it is an ordinary shuffle join
         whose key duplication is only on the probe side — no row
         explosion even for stopwords.

    The corpus-total scalar rides along via an explicit 1-row broadcast,
    never ``collect()``. Output: (id, n_tokens, unigram_logprob) with the
    score rounded so cross-engine float summation order cannot flip the
    driver hash. Docs with zero tokens have no (doc, token) rows and drop
    out — identically in the SQL oracle.
    """
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    ).filter(F.col("tok") != "")
    doc_tf = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = doc_tf.groupBy("tok").agg(F.sum("cnt").alias("tf"))
    total = vocab.agg(F.sum("tf").alias("total"))
    logp = F.log(F.col("tf").cast("double")) - F.log(F.col("total").cast("double"))
    return (
        doc_tf.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.round(F.sum(F.col("cnt") * logp) / F.sum("cnt"), round_to).alias(
                "unigram_logprob"
            ),
        )
    )


def add_text_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Convenience: attach the full feature set as columns."""
    c = F.col(text_col)
    return df.withColumns(
        {
            "ws_tokens": ws_token_count(c),
            "bpe_tokens": bpe_token_count(c),
            "stopword_ratio": F.round(stopword_ratio(c), 6),
            "punct_ratio": F.round(punct_ratio(c), 6),
            "quality": quality_score(c),
            "lang_pred": lang_id(c),
            "fingerprint": fingerprint(c),
        }
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    round_to: int = 6,
) -> DataFrame:
    """Per-document top-``k`` terms by TF-IDF: tf = term count / document
    token count, idf = ln(N / df_t) over documents that have at least one
    token. The keyword-extraction staple, and the canonical corpus-wide
    statistic joined back to its rows.

    Scale shape mirrors ``unigram_logprob``: distinct (doc, token) counts
    first (map-side combinable, bounds the join input), document
    frequencies over that pair table (second combinable agg), the N
    scalar as an explicit 1-row broadcast (never a collect), and the
    vocabulary join is Zipf-bounded so AQE broadcasts it. The final
    top-``k`` is a per-document window — millions of small partitions,
    no global sort. Ties break lexicographically (identical IEEE doubles
    both engines, so rank order is engine-agnostic). Output:
    (id, term, tfidf, term_rank).
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    ).filter(F.col("tok") != "")
    doc_tf = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("cnt"))
    doc_len = doc_tf.groupBy(id_col).agg(F.sum("cnt").alias("doc_len"))
    doc_freq = doc_tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df_t"))
    n_docs = doc_len.agg(F.count(F.lit(1)).alias("n_docs"))
    tfidf = (F.col("cnt").cast("double") / F.col("doc_len")) * F.log(
        F.col("n_docs").cast("double") / F.col("df_t")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("__tfidf__"), F.asc("tok"))
    return (
        doc_tf.join(doc_len, id_col)
        .join(doc_freq, "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("__tfidf__", tfidf)
        .withColumn("term_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("term_rank") <= k)
        .select(
            id_col,
            F.col("tok").alias("term"),
            F.round(F.col("__tfidf__"), round_to).alias("tfidf"),
            "term_rank",
        )
    )


def frequent_token_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_support: int = 10,
) -> DataFrame:
    """Frequent co-occurring token pairs (the Apriori second pass,
    market-basket over documents). Returns (tok_a, tok_b, support) with
    tok_a < tok_b and support >= min_support, support counted in
    documents. Rows sharing a document id are one document; the NULL id
    is one document for the token counts and yields no pair.

    One linear plan that reads the documents once:

    1. ``groupBy(doc)`` builds each document's distinct, non-empty token
       set, with map-side partial lists. Its exchange is the only shuffle
       of the documents; both branches below read it (AQE reuses it).
    2. Token document frequency is a ``groupBy(tok)`` count over those
       sets: a combinable aggregate, so a stopword present in every
       document costs one partial count per task, not one hot task.
    3. A pair can only be frequent if both members are (the Apriori
       property), so tokens under ``min_support`` are pruned first by a
       broadcast join. The frequent vocabulary is small (Zipf; at most
       all (doc, token) pairs / ``min_support``). A broadcast join keeps
       the sets' partitioning by document, so regrouping the pruned
       tokens per document adds no shuffle.
    4. Each pruned set is sorted and its pairs (s[i], s[j]), i < j, are
       generated in place with ``posexplode`` and ``explode(slice)``: no
       self-join, no second pass over the documents. The pair counts
       are a combinable ``groupBy(tok_a, tok_b)``.

    Scale: per-document work is (frequent tokens in doc)², which the
    support prune keeps small — raising ``min_support`` is the knob,
    exactly as in Apriori.
    """
    words = F.array_distinct(F.array_remove(tokens(F.col(text_col)), ""))
    sets = df.groupBy(F.col(id_col).alias("doc")).agg(
        F.array_distinct(F.flatten(F.collect_list(words))).alias("toks")
    )
    toks = sets.select("doc", F.explode("toks").alias("tok"))
    freq = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df_"))
        .filter(F.col("df_") >= min_support)
        .select("tok")
    )
    s, i = F.col("s"), F.col("i")
    return (
        toks.join(F.broadcast(freq), "tok")
        .groupBy("doc")
        .agg(F.array_sort(F.collect_list("tok")).alias("s"))
        # the NULL document's set becomes a NULL array, which yields no row
        .select("s", F.posexplode(F.when(F.col("doc").isNotNull(), s)).alias("i", "tok_a"))
        .select("tok_a", F.explode(F.slice(s, i + 2, F.size(s) - i - 1)).alias("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= min_support)
    )


# ---------------------------------------------------------------------------
# Gopher-style document quality rules (Rae et al. 2021, "Scaling Language
# Models" §A1.1): the heuristic gate every web-scale training corpus runs
# before dedup. All pure column expressions — a narrow map stage at 100 TB.
# ---------------------------------------------------------------------------

# Gopher filter thresholds (public numbers from the paper's appendix).
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MIN_ALPHA_WORD_FRAC = 0.80
GOPHER_MAX_TOP_BIGRAM_FRAC = 0.20
GOPHER_MIN_DISTINCT_STOPWORDS = 2


def mean_word_length(toks: Column) -> Column:
    """Mean characters per token over a MATERIALIZED token array; NULL on
    empty. 6dp rounding for cross-engine hash stability."""
    total = F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t))
    return F.round(total / F.nullif(F.size(toks), F.lit(0)), 6)


def alpha_word_frac(toks: Column) -> Column:
    """Fraction of tokens containing at least one ASCII letter (Gopher's
    "80% of words contain an alphabetic character" rule)."""
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[A-Za-z]")))
    return F.round(n_alpha / F.nullif(F.size(toks), F.lit(0)), 6)


def top_bigram_frac(toks: Column) -> Column:
    """Occurrence share of the most frequent word bigram: max gram count /
    total grams. High values flag looping/boilerplate text (Gopher's
    top-2-gram rule). Per-row cost is O(distinct_grams * grams) array
    work — fine for documents, bounded by token count, no shuffle. NULL
    under 2 tokens."""
    grams = ngram_array(toks, 2)
    # max-count via sort + longest equal-adjacent run: O(n log n) JVM sort
    # plus one linear fold, replacing the O(distinct * n) per-distinct
    # rescan (7.7 s -> ~1 s for the Gopher gate at sf0.1). Identical
    # result: the longest run in sorted order IS the max gram count.
    max_count = F.aggregate(
        F.array_sort(grams),
        F.struct(
            # null sentinel: x == NULL is NULL -> first element always
            # starts a fresh run (no gram value can collide)
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1).cast("long")).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1).cast("long")),
            ).alias("best"),
        ),
        lambda acc: acc.best,
    )
    return F.when(
        F.size(toks) >= 2,
        F.round(max_count / F.nullif(F.size(grams), F.lit(0)), 6),
    ).otherwise(F.lit(None).cast("double"))


def distinct_stopword_count(toks: Column, stopwords: tuple[str, ...] = QUALITY_STOPWORDS) -> Column:
    """How many DISTINCT common stopwords appear (Gopher requires >= 2 of
    its stop list as a "is this prose at all" check)."""
    return F.size(F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(s) for s in stopwords])))


def gopher_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the Gopher rule inputs + the combined pass flag. Tokenizes
    ONCE into a materialized column (the tokenize-once discipline pinned
    by tests/test_explain.py) then evaluates every rule from it."""
    out = df.withColumn("__toks__", tokens(F.col(text_col)))
    t = F.col("__toks__")
    out = out.withColumns(
        {
            "n_words": F.size(t).cast("long"),
            "mean_word_len": mean_word_length(t),
            "alpha_word_frac": alpha_word_frac(t),
            "top_bigram_frac": top_bigram_frac(t),
            "distinct_stopwords": distinct_stopword_count(t).cast("long"),
        }
    )
    passed = (
        F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & F.col("mean_word_len").between(GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN)
        & (F.col("alpha_word_frac") >= GOPHER_MIN_ALPHA_WORD_FRAC)
        & (F.coalesce(F.col("top_bigram_frac"), F.lit(0.0)) <= GOPHER_MAX_TOP_BIGRAM_FRAC)
        & (F.col("distinct_stopwords") >= GOPHER_MIN_DISTINCT_STOPWORDS)
    )
    return out.withColumn("gopher_pass", passed).drop("__toks__")


def bm25_scores(
    df: DataFrame,
    query_terms: tuple[str, ...],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    round_to: int = 6,
) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed term set —
    the lexical-retrieval baseline a RAG/training-data pipeline ranks
    candidate documents with. Returns (id, bm25) for documents matching
    at least one term.

    idf(t) = ln((N - df_t + 0.5) / (df_t + 0.5) + 1)   (Lucene's form,
    always positive), tf normalized by k1/b document-length damping.

    Scale shape: tokens filtered to the query terms BEFORE any shuffle
    (the explode emits only matching terms — corpus-size-independent
    output), per-(doc, term) tf and per-term df are both map-side
    combinable, N/avgdl ride one 1-row broadcast, and the df join is
    |terms|-bounded so it broadcasts. No full-corpus shuffle anywhere.
    """
    toks = (
        df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok"))
        .filter(F.col("tok").isin(*query_terms))
    )
    doc_len = df.select(
        F.col(id_col), ws_token_count(F.col(text_col)).alias("dl")
    )
    scalars = df.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(ws_token_count(F.col(text_col))).alias("avgdl"),
    )
    tf = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df_t"))
    idf = F.log(
        (F.col("n_docs") - F.col("df_t") + F.lit(0.5)) / (F.col("df_t") + F.lit(0.5)) + F.lit(1.0)
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / F.col("avgdl")
    )
    term_score = idf * (F.col("tf") * (k1 + 1)) / denom
    return (
        tf.join(F.broadcast(dfreq), "tok")
        .join(doc_len, id_col)
        .crossJoin(F.broadcast(scalars))
        .groupBy(id_col)
        .agg(F.round(F.sum(term_score), round_to).alias("bm25"))
    )


# --- hashed linear classifier (fastText-style inference, no Python) -------

# weight range: w_milli in [-1000, 1000], i.e. weights in [-1, 1] with
# exactly 3 decimals — integer accumulation keeps scoring bit-exact across
# partition orders (the float sum never happens; doubles appear only once,
# at the final logit division). Shared with the SQL oracle.
CLF_WEIGHT_MOD = 2001
CLF_BUCKETS = 256


def _md5_long(col: Column, salt: str) -> Column:
    """First 8 md5 hex chars of ``salt|value`` as a non-negative long —
    the same deterministic cross-engine hash as ``dedup._hash64`` (local
    copy: ``dedup`` imports this module, so it cannot be imported here)."""
    payload = F.concat(F.lit(salt), F.lit("|"), col)
    return F.conv(F.substring(F.md5(payload), 1, 8), 16, 10).cast("long")


def hashed_linear_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = CLF_BUCKETS,
    round_to: int = 6,
) -> DataFrame:
    """Linear text-classifier INFERENCE as pure column expressions — the
    fastText/quality-filter shape every corpus curation pipeline runs at
    full scale (CCNet/LLaMA wiki-likeness filters): feature-hash tokens
    into ``n_buckets``, join a bucket->weight vector, mean-pool the
    per-token weights, squash with a sigmoid, and gate on the sign.

    The weight "model" here is a deterministic function of the bucket id
    (md5-derived, mirrored in the SQL oracle) standing in for trained
    parameters; a real deployment swaps in a weights table of identical
    shape — the plan is the point:

    - tokens collapse to per-doc (bucket, count) BEFORE any join, so the
      weight join probes distinct features, not token occurrences;
    - the weight vector is O(n_buckets) rows — broadcast at any corpus
      scale; inference never shuffles the corpus, only the (doc, bucket)
      feature table (map-side-combinable counts);
    - weights are integer milli-units: the pooled logit accumulates in
      LONG (exact, partition-order independent); the only float ops are
      the final divide + sigmoid, rounded.

    Returns (id, n_tokens, logit, score, keep) — ``keep`` is decided on
    the integer sum (sign of the logit), never on a rounded float.
    """
    spark = df.sparkSession
    weights = spark.range(n_buckets).select(
        F.col("id").alias("bucket"),
        (_md5_long(F.col("id").cast("string"), "w") % CLF_WEIGHT_MOD - 1000).alias(
            "w_milli"
        ),
    )
    toks = df.select(
        F.col(id_col).alias("doc"), F.explode(tokens(F.col(text_col))).alias("tok")
    ).filter(F.col("tok") != "")
    feats = toks.groupBy(
        "doc", (_md5_long(F.col("tok"), "b") % n_buckets).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    agg = (
        feats.join(F.broadcast(weights), "bucket")
        .groupBy("doc")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.sum(F.col("cnt") * F.col("w_milli")).alias("s_milli"),
        )
    )
    logit = F.col("s_milli") / (F.col("n_tokens") * 1000.0)
    # The reported logit is an exact rational s/(1000n); float round()
    # hits literal half ties (round-10 tie sweep: doc 125 at sf0.1,
    # 2070/32000 = 0.0646875 — Spark rounds the shortest decimal repr,
    # DuckDB the binary value, and they DISAGREE there). Round in
    # integer arithmetic instead at scale p = 10^round_to:
    # |v|*p = p|s|/(1000n), HALF_UP = (2p|s| + 1000n) div (2000n) —
    # engine-exact, no float tie to hit, honoring round_to for ANY
    # precision (round-10 ADVICE: the 6dp constants were hardcoded).
    # At round_to=6 this reduces exactly to (2000|s| + n) div (2n).
    # The sigmoid's round is tie-safe (transcendental output; swept).
    p = 10 ** int(round_to)
    logit_e = F.expr(
        "CAST(sign(s_milli) AS BIGINT)"
        f" * ((2 * {p} * abs(s_milli) + 1000 * n_tokens)"
        " div (2000 * n_tokens))"
    )
    return agg.select(
        F.col("doc").alias(id_col),
        "n_tokens",
        (logit_e / F.lit(float(p))).alias("logit"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), round_to).alias("score"),
        (F.col("s_milli") >= 0).alias("keep"),
    )


BIGRAM_LAMBDA = 0.75  # interpolation weight on the bigram term (KenLM-ish)


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = BIGRAM_LAMBDA,
    round_to: int = 6,
) -> DataFrame:
    """Interpolated bigram language-model score: per-document mean
    ``ln(lam * c(w1 w2)/c(w1) + (1-lam) * c(w2)/total)`` under the
    corpus's own counts — the KenLM-perplexity-style fluency signal one
    step up from :func:`unigram_logprob` (which cannot see scrambled
    word order; this can). Low score = disfluent/garbled sequences.

    Scale shape: per-doc bigram occurrence counts collapse BEFORE any
    corpus-wide join (the join probes distinct (doc, bigram) rows, not
    token positions). The bigram vocabulary is the one corpus-sized
    aggregate; it is Zipf-bounded and map-side combinable, and the two
    unigram joins hit a vocabulary small enough for AQE to broadcast.
    Interpolation (not backoff) keeps every probability strictly
    positive, so ``ln`` never sees zero — and every count the formula
    needs is already in the joined row, no conditional second lookup.

    Returns (id, n_bigrams, bigram_logprob); documents with fewer than
    two tokens have no bigram rows and drop out — identically in SQL.
    """
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), TOKEN_SPLIT_RE), lambda x: x != ""
    )
    # spread TRIED and REVERTED (round-11): parallelizing the explode
    # costs a round-robin shuffle of the token ARRAYS (heavier than the
    # text) — measured neutral-to-worse on two bench runs (guide §8), so
    # the serial explode stays. (The A/B did prove the per-doc double sum
    # bit-identical under either partitioning at all three driver SFs.)
    #
    # Round-12 TRIED and REVERTED (three more variants, each interleaved
    # A/B'd vs the prior commit; oracle-green but all SLOWER at sf0.1):
    # (a) spread the RAW TEXT above this two-explode shape: column
    #     pruning makes the two consumers' RR exchanges differ (doc kept
    #     for pairs, pruned for unigrams), so the scan+shuffle ran TWICE
    #     (plan evidence: two 1-task 0.85/0.83 MB shuffle-write stages);
    # (b) single-explode restructure — emit (w1=tok[i], w2=tok[i+1]|NULL)
    #     per POSITION so uni derives from the same (doc,w1,w2) aggregate
    #     (counts proven identical; oracle PASS at all 3 SFs): A/B 1.80 s
    #     vs 1.48 s old — u1/u2/total + the join chain give the heavy
    #     pair exchange 4 plan references, defeating AQE stage reuse
    #     (the round-11 jaccard lesson), so the explode re-materializes;
    # (c) variant (b) plus an 8-way text spread: A/B 1.79 s vs 1.35 s.
    # The 0.67 s serial explode is a single-split test-SF artifact — at
    # scale the input arrives multi-split and parallelizes naturally —
    # so the two-explode shape stays (guide §1.2: the right distributed
    # algorithm at scale beats micro-fixes tuned to the small SF).
    base = df.select(F.col(id_col).alias("doc"), toks.alias("toks"))
    n = F.size("toks")
    pairs = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.element_at(F.col("toks"), i).alias("w1"),
                F.element_at(F.col("toks"), i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = base.select("doc", F.explode(pairs).alias("p")).select(
        "doc", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    bgd = bg.groupBy("doc", "w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    bgc = bgd.groupBy("w1", "w2").agg(F.sum("cnt").alias("c12"))
    uni = (
        base.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    total = uni.agg(F.sum("c").alias("total"))
    p = F.lit(lam) * (F.col("c12") / F.col("c1")) + F.lit(1.0 - lam) * (
        F.col("c2") / F.col("total")
    )
    return (
        bgd.join(bgc, ["w1", "w2"])
        .join(uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(total))
        .groupBy("doc")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.round(F.sum(F.col("cnt") * F.log(p)) / F.sum("cnt"), round_to).alias(
                "bigram_logprob"
            ),
        )
        .select(F.col("doc").alias(id_col), "n_bigrams", "bigram_logprob")
    )


# ---------------------------------------------------------------------------
# BPE merge learning (Sennrich et al. 2016, "Neural Machine Translation of
# Rare Words with Subword Units") — the tokenizer-training step of an LLM
# data pipeline, run over the word-frequency dictionary, not the corpus.

BPE_WORD_RE = "[a-z]+"  # alphabetic word-forms; digits/punct are single tokens anyway
BPE_MAX_WORD_LEN = 20


def _bpe_sym_init(word: Column) -> Column:
    """Initial symbol string: every character delimited by '|' on both
    sides ("abc" -> "|a|b|c|"). The delimiter makes merge application a
    plain substring replace with exact symbol-boundary semantics."""
    return F.concat(F.regexp_replace(word, "(.)", r"|$1"), F.lit("|"))


def _bpe_apply_merge(sym: Column, w1: str, w2: str) -> Column:
    """Merge one learned pair everywhere in a symbol string: replace
    "|w1|w2|" with "|w1w2|", twice. Left-to-right non-overlapping replace
    consumes the shared boundary delimiter; the survivors are then
    cleanly delimited and the second pass takes them.

    Semantics contract (property-tested in tests/test_property.py): for
    w1 != w2 this reproduces greedy left-to-right BPE application
    exactly — distinct-pair occurrences never share a SYMBOL, only the
    boundary, which the second pass repairs. For SELF-pairs (w1 == w2)
    over a same-symbol run of length k, the two passes merge the
    anchored every-third pairing — identical to greedy for k <= 4,
    merging a different (k = 5) or smaller (k >= 6: |aa|a|aa|a|... vs
    greedy's |aa|aa|a|) pairing on longer runs. That deterministic
    variant is this engine's merge rule: both engines run the literal
    same two replaces, so Spark and the SQL oracle agree bit-for-bit —
    the property an exact greedy scan (which needs lookahead regex or a
    per-row loop; RE2-based engines have neither) could not give
    cross-engine. Natural-language words essentially never contain
    5+ same-symbol runs, so learned merge tables match Sennrich BPE in
    practice."""
    pat, rep = f"|{w1}|{w2}|", f"|{w1}{w2}|"
    one = F.replace(sym, F.lit(pat), F.lit(rep))
    return F.replace(one, F.lit(pat), F.lit(rep))


def _bpe_pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-symbol pair counts weighted by word frequency. Input must
    carry (sym, freq); the frame is vocabulary-sized, so every stage here
    is metadata-scale relative to the corpus."""
    syms = F.filter(F.split(F.col("sym"), r"\|"), lambda x: x != "")
    pairs = F.expr(
        "transform(sequence(1, size(_syms) - 1), i -> struct(_syms[i - 1] AS w1, _syms[i] AS w2))"
    )
    return (
        words.withColumn("_syms", syms)
        .filter(F.size("_syms") >= 2)
        .withColumn("_p", F.explode(pairs))
        .groupBy(F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
        .agg(F.sum("freq").alias("pair_count"))
    )


def _bpe_safe_batch(rows, remaining, floor):
    """The provably-sequential-equivalent merge batch: the longest
    CONTIGUOUS prefix of the (count DESC, pair ASC)-sorted pair list
    such that

    - every accepted pair is symbol-disjoint from every earlier one
      (an overlapping pair's count changes, so the sequential learner
      would re-rank it — the batch must stop, not skip);
    - no pair CREATED by an earlier accepted merge can outrank a later
      accepted pair: a new pair (w1w2, x) occurs at most count(w2, x)
      times and (x, w1w2) at most count(x, w1) times in the CURRENT
      counts (each occurrence contains one current occurrence), so the
      max matching current count — ``floor`` for pairs outside the
      collected top list — must be STRICTLY below the candidate's count
      (strictness sidesteps tie-break comparison against unseen merged
      symbols; ties just end the batch).

    Under these rules the sequential argmax at step i provably equals
    the i-th accepted pair, so the batched learner emits the IDENTICAL
    merge table (equality asserted against the one-at-a-time reference
    in tests/test_text_quality_rules.py). Returns the accepted
    (w1, w2, count) prefix, never empty when ``rows`` is not."""
    used: set = set()
    accepted: list = []
    for w1, w2, cnt in rows:
        if len(accepted) >= remaining:
            break
        if accepted and ({w1, w2} & used):
            break
        ok = True
        for a1, a2, ac in accepted:
            bound = floor
            if a1 == a2:
                # a SELF-pair merge over a long run creates (w1w1, w1w1)
                # pairs bounded only by its OWN count — include it, which
                # (counts sorted desc) ends the batch right after it
                bound = max(bound, ac)
            for x1, x2, xc in rows:
                if (x1, x2) == (a1, a2):
                    continue
                if x1 == a2 or x2 == a1:
                    bound = max(bound, xc)
            if bound >= cnt:
                ok = False
                break
        if not ok:
            break
        accepted.append((w1, w2, cnt))
        used.update((w1, w2))
    if not accepted and rows:
        accepted = [rows[0]]
    return accepted


def bpe_learn_merges(
    docs: DataFrame,
    text_col: str,
    n_merges: int = 6,
    max_word_len: int = BPE_MAX_WORD_LEN,
    batch_top: int = 64,
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merge operations from a corpus.

    Distributed shape (the reason BPE training fits Spark at 100 TB):
    the corpus pass is ONE tokenize + groupBy producing the
    word-frequency dictionary — vocabulary-sized (bounded by language,
    not data). Every Lloyd-style iteration after that (count pairs, take
    the argmax, apply the merge) runs over the cached dictionary; the
    driver pulls exactly one row per iteration (the winning pair), the
    same metadata-sized collect the IVF k-means fit uses. Word-boundary
    markers (</w>) are omitted — merges act strictly within words.

    Deterministic: integer counts, total-order tiebreak (count DESC,
    pair ASC). Returns (merge_rank, w1, w2, merged, pair_count).

    Job-count note: exact BPE is inherently sequential in the merge
    rank — each round's pair counts depend on the previous merge. Each
    ROUND here collects the top-``batch_top`` pairs (still one
    vocabulary-sized metadata collect) and applies the longest
    provably-sequential-equivalent prefix (:func:`_bpe_safe_batch`:
    symbol-disjoint, contiguous, with new-pair counts strictly bounded
    below every later accepted pair), so the job count drops from
    ``n_merges`` to the number of batches while the merge TABLE is
    bit-identical to one-at-a-time learning (asserted in tests; the
    unrolled sequential SQL oracle stays the hash gate). ``batch_top=1``
    recovers the pure sequential learner. A real 32k-merge vocabulary
    still wants driver-side learning once the dictionary fits in memory
    (it is vocabulary-sized); the batched rounds are the distributed
    middle ground.
    """
    spark = docs.sparkSession
    words = (
        docs.select(
            F.explode(
                F.expr(f"regexp_extract_all(lower({text_col}), '{BPE_WORD_RE}', 0)")
            ).alias("word")
        )
        .filter(F.length("word") <= max_word_len)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn("sym", _bpe_sym_init(F.col("word")))
        .select("sym", "freq")
    )
    base = words.persist()  # keep the handle: `words` is rebound below
    words = base
    try:
        merges: list[tuple[int, str, str, str, int]] = []
        while len(merges) < n_merges:
            top = (
                _bpe_pair_counts(words)
                .orderBy(F.col("pair_count").desc(), F.col("w1").asc(), F.col("w2").asc())
                .limit(batch_top)
                .collect()
            )
            if not top:
                break
            rows = [(r["w1"], r["w2"], int(r["pair_count"])) for r in top]
            floor = rows[-1][2] if len(rows) == batch_top else 0
            accepted = _bpe_safe_batch(rows, n_merges - len(merges), floor)
            col = F.col("sym")
            for w1, w2, cnt in accepted:
                merges.append((len(merges) + 1, w1, w2, w1 + w2, cnt))
                col = _bpe_apply_merge(col, w1, w2)
            words = words.withColumn("sym", col)
        from monster_etl_spark.localrel import local_df

        return local_df(
            spark, merges,
            "merge_rank: long, w1: string, w2: string, merged: string, pair_count: long",
        )
    finally:
        base.unpersist()


def bpe_learn_merges_sql(
    table: str, text_expr: str, n_merges: int = 6, max_word_len: int = BPE_MAX_WORD_LEN
) -> str:
    """DuckDB twin of :func:`bpe_learn_merges`: the iteration unrolls into
    a chain of CTE levels (level_k -> pairs_k -> top_k), each applying
    the same two-pass boundary-delimited replace."""
    parts = [
        f"""level0 AS (
  SELECT word, regexp_replace(word, '(.)', '|\\1', 'g') || '|' AS sym, freq FROM (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
      SELECT unnest(regexp_extract_all(lower({text_expr}), '{BPE_WORD_RE}')) AS word
      FROM {table}
    ) AS toks WHERE len(word) <= {max_word_len} GROUP BY word
  ) AS wf
)"""
    ]
    for k in range(n_merges):
        parts.append(
            f"""pairs{k} AS (
  SELECT syms[i] AS w1, syms[i + 1] AS w2, CAST(SUM(freq) AS BIGINT) AS pair_count
  FROM (
    SELECT list_filter(string_split(sym, '|'), x -> x <> '') AS syms, freq FROM level{k}
  ) AS s, unnest(range(1, len(syms))) AS t(i)
  WHERE len(syms) >= 2
  GROUP BY 1, 2
),
top{k} AS (
  SELECT w1, w2, pair_count FROM pairs{k}
  ORDER BY pair_count DESC, w1 ASC, w2 ASC LIMIT 1
),
level{k + 1} AS (
  SELECT word,
         replace(replace(sym, '|' || w1 || '|' || w2 || '|', '|' || w1 || w2 || '|'),
                 '|' || w1 || '|' || w2 || '|', '|' || w1 || w2 || '|') AS sym, freq
  FROM level{k}, top{k}
)"""
        )
    finals = " UNION ALL ".join(
        f"SELECT CAST({k + 1} AS BIGINT) AS merge_rank, w1, w2, w1 || w2 AS merged, pair_count FROM top{k}"
        for k in range(n_merges)
    )
    return "WITH " + ",\n".join(parts) + "\nSELECT * FROM (" + finals + ") AS m"


def bpe_tokenize_counts(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n_merges: int = 6,
    max_word_len: int = BPE_MAX_WORD_LEN,
) -> DataFrame:
    """Apply a learned BPE merge table to the corpus and count each
    document's subword tokens — the train->apply loop closed (learn =
    :func:`bpe_learn_merges`; this runs the SAME algorithm, then folds
    the learned merges over the distinct-word symbol table and joins
    subword counts back to documents).

    Scale shape: merges are learned on the vocabulary-sized dictionary
    (driver holds only the n_merges winning pairs — the same
    metadata-sized collect); application is a narrow fold over DISTINCT
    words (vocabulary-sized, never the corpus), and the corpus pass is
    one explode + an equi-join on the word. Out-of-scope words (longer
    than ``max_word_len``, non-alphabetic) count 1 segment each, so
    every word contributes. Returns (id, n_words, n_subwords).
    """
    merges = [
        (r["w1"], r["w2"])
        for r in bpe_learn_merges(docs, text_col, n_merges, max_word_len)
        .orderBy("merge_rank")
        .collect()
    ]
    if len(merges) < n_merges:
        # the SQL twin's unrolled CTE chain assumes all n_merges levels
        # exist (an empty top{k} would empty every later level via the
        # cross join, silently flooring n_sub to 1); fail loudly instead
        # of diverging from the oracle on degenerate corpora
        raise ValueError(
            f"corpus yields only {len(merges)} BPE merges; pass n_merges <= that"
        )
    words = docs.select(
        F.col(id_col).alias("_doc"),
        F.explode(
            F.expr(f"regexp_extract_all(lower({text_col}), '{BPE_WORD_RE}', 0)")
        ).alias("word"),
    )
    vocab = (
        words.filter(F.length("word") <= max_word_len)
        .select("word")
        .distinct()
        .withColumn("sym", _bpe_sym_init(F.col("word")))
    )
    for w1, w2 in merges:
        vocab = vocab.withColumn("sym", _bpe_apply_merge(F.col("sym"), w1, w2))
    vocab = vocab.select(
        "word",
        F.size(F.filter(F.split(F.col("sym"), r"\|"), lambda x: x != "")).alias("n_sub"),
    )
    joined = words.join(F.broadcast(vocab), "word", "left")
    return (
        joined.groupBy("_doc")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.coalesce(F.col("n_sub"), F.lit(1))).alias("n_subwords"),
        )
        .select(F.col("_doc").alias(id_col), "n_words", "n_subwords")
    )


def bpe_tokenize_counts_sql(
    table: str,
    id_expr: str,
    text_expr: str,
    n_merges: int = 6,
    max_word_len: int = BPE_MAX_WORD_LEN,
) -> str:
    """DuckDB twin: reuse the learn chain's final level (word -> merged
    symbol string) and join subword counts back to per-document words."""
    learn = bpe_learn_merges_sql(table, text_expr, n_merges, max_word_len)
    chain = learn[: learn.rindex("\nSELECT * FROM (")]  # keep the WITH chain only
    return f"""{chain},
vocab AS (
  SELECT word,
         CAST(len(list_filter(string_split(sym, '|'), x -> x <> '')) AS BIGINT) AS n_sub
  FROM level{n_merges}
),
docwords AS (
  SELECT {id_expr} AS _doc,
         unnest(regexp_extract_all(lower({text_expr}), '{BPE_WORD_RE}')) AS word
  FROM {table}
)
SELECT _doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(coalesce(n_sub, 1)) AS BIGINT) AS n_subwords
FROM docwords LEFT JOIN vocab USING (word)
GROUP BY _doc
"""
