"""Text-analysis operators over document tables (SURVEY.md §7.2 step 8 /
BASELINE.json north star: language-ID, quality scoring, token counting,
fingerprinting).

Everything is built-in `pyspark.sql.functions` / SQL higher-order
functions — JVM-side, whole-stage-codegen'd, no Python in the row path.
Each builder has a twin SQL-fragment renderer used to generate the DuckDB
oracle, so the two stay in lockstep by construction.

Tokenization contract (shared by dedup/minhash/simhash): lowercase,
split on runs of non-alphanumerics, drop empties. Deliberately simple and
bit-portable across engines; swap in a real BPE via pandas_udf if needed
(that variant can't be SQL-oracled).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import l2_norm

TOKEN_SPLIT_RE = "[^a-z0-9]+"

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Order defines the tie-break scan order.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "se", "no"),
    "de": ("der", "die", "das", "und", "ist", "von", "mit", "den", "im", "ein"),
    "fr": ("le", "la", "de", "et", "un", "est", "que", "pour", "dans", "ce"),
}


# --------------------------------------------------------------- tokens
def tokens_col(col: str = "text") -> Column:
    return F.expr(f"filter(split(lower({col}), '{TOKEN_SPLIT_RE}'), x -> x != '')")


def tokens_sql(col: str = "text") -> str:
    return (
        f"list_filter(regexp_split_to_array(lower({col}), '{TOKEN_SPLIT_RE}'),"
        " x -> x != '')"
    )


def word_ngrams_col(tokens: str, n: int) -> Column:
    """Word n-grams as space-joined strings (portable: same construction
    exists in the SQL oracle).

    Guarded for short docs: Spark's ``sequence(1, 0)`` yields a DESCENDING
    [1, 0] (unlike DuckDB's empty ``generate_series``), so docs with fewer
    than n tokens must short-circuit to an empty array."""
    return F.expr(
        f"CASE WHEN size({tokens}) >= {n} THEN"
        f" transform(sequence(1, size({tokens}) - {n - 1}),"
        f" i -> concat_ws(' ', slice({tokens}, i, {n})))"
        f" ELSE array() END"
    )


def word_ngrams_sql(tokens: str, n: int) -> str:
    return (
        f"[array_to_string({tokens}[i:i+{n - 1}], ' ')"
        f" for i in generate_series(1, greatest(len({tokens}) - {n - 1}, 0))]"
    )


# ---------------------------------------------------------- token stats
def token_stats(docs: DataFrame) -> DataFrame:
    """Token counting: totals, distinct count, type-token ratio, average
    token length. One narrow projection — no shuffle."""
    toks = tokens_col("text")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.round(
            F.size(F.array_distinct(toks)) / F.nullif(F.size(toks), F.lit(0)), 6
        ).alias("type_token_ratio"),
        F.round(
            F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
            / F.nullif(F.size(toks), F.lit(0)).cast("double"),
            6,
        ).alias("avg_token_len"),
    )


def token_stats_sql(src: str = "documents") -> str:
    t = tokens_sql("text")
    return f"""
        SELECT doc_id,
               len(toks) AS n_tokens,
               len(list_distinct(toks)) AS n_distinct_tokens,
               ROUND(len(list_distinct(toks)) / NULLIF(len(toks), 0), 6)
                 AS type_token_ratio,
               ROUND(list_sum(list_transform(toks, t -> len(t)))
                     / CAST(NULLIF(len(toks), 0) AS DOUBLE), 6) AS avg_token_len
        FROM (SELECT doc_id, {t} AS toks FROM {src}) s
    """


# -------------------------------------------------------- quality score
def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic document-quality scoring: alphabetic-character ratio,
    English-stopword ratio, length saturation. Weights are arbitrary but
    fixed; the operator's value is the shape (pure column math, scales
    embarrassingly)."""
    toks = tokens_col("text")
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    stop_cnt = F.expr(
        f"size(filter(filter(split(lower(text), '{TOKEN_SPLIT_RE}'), x -> x != ''),"
        f" t -> array_contains(array({en}), t)))"
    )
    alpha_ratio = F.length(F.regexp_replace("text", "[^A-Za-z]", "")) / F.nullif(
        F.length("text"), F.lit(0)
    ).cast("double")
    stop_ratio = stop_cnt / F.nullif(F.size(toks), F.lit(0)).cast("double")
    len_sat = F.least(F.size(toks) / F.lit(100.0), F.lit(1.0))
    return docs.select(
        "doc_id",
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(
            0.5 * F.round(alpha_ratio, 6)
            + 0.3 * F.round(stop_ratio, 6)
            + 0.2 * F.round(len_sat, 6),
            6,
        ).alias("quality_score"),
    )


def quality_score_sql(src: str = "documents") -> str:
    t = tokens_sql("text")
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
        SELECT doc_id,
               ROUND(alpha_ratio, 6) AS alpha_ratio,
               ROUND(stop_ratio, 6) AS stopword_ratio,
               ROUND(0.5 * ROUND(alpha_ratio, 6) + 0.3 * ROUND(stop_ratio, 6)
                     + 0.2 * ROUND(len_sat, 6), 6) AS quality_score
        FROM (
          SELECT doc_id,
                 len(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                   / CAST(NULLIF(len(text), 0) AS DOUBLE) AS alpha_ratio,
                 len(list_filter(toks, t -> list_contains([{en}], t)))
                   / CAST(NULLIF(len(toks), 0) AS DOUBLE) AS stop_ratio,
                 LEAST(len(toks) / 100.0, 1.0) AS len_sat
          FROM (SELECT doc_id, text, {t} AS toks FROM {src}) s
        ) q
    """


# ------------------------------------------------------------- lang id
def language_id(docs: DataFrame) -> DataFrame:
    """Stopword-hit language ID: count token hits against each language's
    list, argmax with (hits desc, lang asc) tie-break; 'und' when nothing
    hits. Explode-by-language (|langs| rows per doc) + window top-1 — the
    same decorrelated-argmax shape as favorite_category (J1)."""
    from pyspark.sql import Window

    lang_struct = ", ".join(
        f"struct('{lang}' as lang, array({', '.join(repr(w) for w in words)}) as stops)"
        for lang, words in STOPWORDS.items()
    )
    exploded = docs.select(
        "doc_id",
        tokens_col("text").alias("toks"),
        F.explode(F.expr(f"array({lang_struct})")).alias("l"),
    ).select(
        "doc_id",
        F.col("l.lang").alias("lang"),
        F.expr("size(filter(toks, t -> array_contains(l.stops, t)))").alias("hits"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("lang"))
    return (
        exploded.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.when(F.col("hits") > 0, F.col("lang")).otherwise("und").alias(
                "detected_lang"
            ),
            "hits",
        )
    )


def language_id_sql(src: str = "documents") -> str:
    t = tokens_sql("text")
    values = ", ".join(
        f"('{lang}', [{', '.join(repr(w) for w in words)}])"
        for lang, words in STOPWORDS.items()
    )
    return f"""
        WITH toks AS (SELECT doc_id, {t} AS toks FROM {src}),
        langs(lang, stops) AS (VALUES {values}),
        hits AS (
          SELECT doc_id, lang,
                 len(list_filter(toks, x -> list_contains(stops, x))) AS hits
          FROM toks CROSS JOIN langs
        )
        SELECT doc_id,
               CASE WHEN hits > 0 THEN lang ELSE 'und' END AS detected_lang,
               hits
        FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY hits DESC, lang ASC) AS rn
          FROM hits
        ) h WHERE rn = 1
    """


# --------------------------------------------------------- fingerprint
def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprinting: md5 over the token-normalized text (case/
    whitespace/punctuation-insensitive), which is what exact dedup keys
    on."""
    norm = F.array_join(tokens_col("text"), " ")
    return docs.select(
        "doc_id", F.md5(norm).alias("fingerprint"), F.length(norm).alias("norm_len")
    )


def fingerprint_sql(src: str = "documents") -> str:
    t = tokens_sql("text")
    return f"""
        SELECT doc_id, md5(norm) AS fingerprint, len(norm) AS norm_len
        FROM (SELECT doc_id, array_to_string({t}, ' ') AS norm FROM {src}) s
    """


# ------------------------------------------------------------- tf-idf
def tfidf_top_terms(
    docs: DataFrame, k: int = 5, postings: DataFrame | None = None
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF
    (idf = ln((N+1)/(df+1)) + 1, sklearn's smoothing).

    Shape at scale: explode -> count per (doc, term) [1 shuffle with
    map-side combine] -> term document-frequencies aggregated FROM the
    (doc, term) counts (already distinct per doc, no second pass over raw
    text) and broadcast back [tiny: |vocab| rows] -> per-doc top-k window.
    The corpus size N rides a broadcast 1-row aggregate, keeping the whole
    plan collect-free.

    Ranking uses the ROUNDED score so cross-engine last-ulp differences in
    ln() cannot reorder ties.

    ``postings``: a standing ``(doc_id, term, tf)`` table (one row per
    distinct doc/term pair — :func:`term_postings`); when given, the
    tokenize+explode+count pipeline is skipped and the tf table IS the
    standing table (r11: the registry shares one materialized postings
    build across the retrieval family)."""
    from pyspark.sql import Window

    from .partitioning import spread

    if postings is not None:
        tf = postings.select("doc_id", "term", "tf")
    else:
        toked = spread(docs).select(
            "doc_id", F.explode(tokens_col("text")).alias("term")
        )
        tf = toked.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + 1) / (F.col("df") + F.lit(1.0)))
                    + F.lit(1.0)
                ),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "score", "rank")
    )


def tfidf_top_terms_sql(src: str = "documents", k: int = 5) -> str:
    t = tokens_sql("text")
    return f"""
        WITH toked AS (
          SELECT doc_id, UNNEST({t}) AS term FROM {src}
        ),
        tf AS (
          SELECT doc_id, term, COUNT(*) AS tf FROM toked GROUP BY doc_id, term
        ),
        df_t AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        scored AS (
          SELECT tf.doc_id, tf.term, tf.tf,
                 ROUND(tf.tf * (ln(((SELECT COUNT(*) FROM {src}) + 1)
                                   / (df_t.df + 1.0)) + 1.0), 6) AS score
          FROM tf JOIN df_t USING (term)
        )
        SELECT doc_id, term, tf, score, rank FROM (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
          FROM scored
        ) r WHERE rank <= {k}
    """


# ---------------------------------------------- Gopher-style quality gate
# Rule constants shared by the Spark plan and the SQL oracle. The rule
# SHAPE follows the published Gopher/C4 heuristics (word-count bounds,
# mean-word-length bounds, stopword presence, repetition cap); the bounds
# are tuned so the synthetic fixture splits non-degenerately.
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 1_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MIN_STOPWORD_HITS = 1
GOPHER_MAX_DUP_WORD_FRAC = 0.6


def gopher_quality(docs: DataFrame) -> DataFrame:
    """Gopher/C4-style per-document quality gate: each rule is a column,
    the keep decision is their conjunction. Pure column math over one
    narrow projection — no shuffle, embarrassingly parallel at any scale
    (the 100 TB posture: quality filtering is a map stage).

    Rules (flags are emitted so downstream can audit WHY a doc dropped):
    word-count bounds, mean-word-length bounds, >=1 English stopword
    (gibberish guard), duplicate-word-fraction cap (repetition guard).
    """
    toks = tokens_col("text")
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    d = docs.select(
        "doc_id",
        F.size(toks).alias("n_words"),
        # total token chars / token count; array_join concatenation keeps
        # it a single codegen'd expression (no explode)
        F.round(
            F.length(F.array_join(toks, "")) / F.nullif(F.size(toks), F.lit(0)),
            6,
        ).alias("mean_word_len"),
        F.expr(
            f"size(filter(filter(split(lower(text), '{TOKEN_SPLIT_RE}'),"
            f" x -> x != ''), t -> array_contains(array({en}), t)))"
        ).alias("stopword_hits"),
        F.round(
            1.0
            - F.size(F.array_distinct(toks))
            / F.nullif(F.size(toks), F.lit(0)).cast("double"),
            6,
        ).alias("dup_word_frac"),
    )
    return d.withColumn(
        "keep",
        F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & F.col("mean_word_len").between(
            GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN
        )
        & (F.col("stopword_hits") >= GOPHER_MIN_STOPWORD_HITS)
        & (F.col("dup_word_frac") <= GOPHER_MAX_DUP_WORD_FRAC),
    )


def gopher_quality_sql(src: str = "documents") -> str:
    t = tokens_sql("text")
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
        SELECT *,
               (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
               AND (mean_word_len BETWEEN {GOPHER_MIN_MEAN_WORD_LEN}
                    AND {GOPHER_MAX_MEAN_WORD_LEN})
               AND (stopword_hits >= {GOPHER_MIN_STOPWORD_HITS})
               AND (dup_word_frac <= {GOPHER_MAX_DUP_WORD_FRAC}) AS keep
        FROM (
          SELECT doc_id,
                 len(toks) AS n_words,
                 ROUND(length(array_to_string(toks, ''))
                       / CAST(NULLIF(len(toks), 0) AS DOUBLE), 6) AS mean_word_len,
                 len(list_filter(toks, t -> list_contains([{en}], t)))
                   AS stopword_hits,
                 ROUND(1.0 - len(list_distinct(toks))
                       / CAST(NULLIF(len(toks), 0) AS DOUBLE), 6) AS dup_word_frac
          FROM (SELECT doc_id, text, {t} AS toks FROM {src}) s
        ) q
    """


# ------------------------------------------------------ repetition stats
def repetition_stats(docs: DataFrame) -> DataFrame:
    """Within-document repetition signals (the Gopher repetition family):
    fraction of the doc covered by its most frequent token and by its
    most frequent word bigram. Explode → count per (doc, gram) → max per
    doc: two shuffles keyed on doc_id, no per-doc quadratic work, which
    is what lets it run over billions of docs."""
    from .partitioning import spread

    toked = spread(docs).select("doc_id", tokens_col("text").alias("toks"))

    def top_frac(grams: Column, name: str):
        ex = toked.select("doc_id", F.explode(grams).alias("g"))
        return (
            ex.groupBy("doc_id", "g")
            .agg(F.count("*").alias("cnt"))
            .groupBy("doc_id")
            .agg(
                F.round(
                    F.max("cnt") / F.sum("cnt").cast("double"), 6
                ).alias(name)
            )
        )

    uni = top_frac(F.col("toks"), "top_token_frac")
    bi = top_frac(word_ngrams_col("toks", 2), "top_bigram_frac")
    return uni.join(bi, "doc_id")


def repetition_stats_sql(src: str = "documents") -> str:
    t = tokens_sql("text")
    g2 = word_ngrams_sql("toks", 2)
    return f"""
        WITH toked AS (SELECT doc_id, {t} AS toks FROM {src}),
        uni AS (
          SELECT doc_id, ROUND(MAX(cnt) / CAST(SUM(cnt) AS DOUBLE), 6)
                   AS top_token_frac
          FROM (SELECT doc_id, g, COUNT(*) AS cnt
                FROM (SELECT doc_id, UNNEST(toks) AS g FROM toked) e
                GROUP BY doc_id, g) c
          GROUP BY doc_id
        ),
        bi AS (
          SELECT doc_id, ROUND(MAX(cnt) / CAST(SUM(cnt) AS DOUBLE), 6)
                   AS top_bigram_frac
          FROM (SELECT doc_id, g, COUNT(*) AS cnt
                FROM (SELECT doc_id, UNNEST({g2}) AS g
                      FROM toked) e
                GROUP BY doc_id, g) c
          GROUP BY doc_id
        )
        SELECT uni.doc_id, top_token_frac, top_bigram_frac
        FROM uni JOIN bi ON uni.doc_id = bi.doc_id
    """


# ---------------------------------------------------------- PII scrubbing
# RE2-safe AND java.util.regex-safe subset: char classes + bounded
# quantifiers only, so Spark and DuckDB compile the identical automaton.
PII_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
PII_PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


def _planted_pii(text: Column, doc_id: Column) -> Column:
    """Deterministically plant synthetic PII (the fixture corpus has
    none): every 7th doc gains an email, every 11th a phone number. Same
    construction is rendered into the oracle, so found-counts are exact,
    not probabilistic."""
    return F.concat(
        text,
        F.when(
            doc_id % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                doc_id.cast("string"),
                F.lit("@mail.example.com for info"),
            ),
        ).otherwise(F.lit("")),
        F.when(doc_id % 11 == 0, F.lit(" call 555-123-4567 today")).otherwise(
            F.lit("")
        ),
    )


def pii_scrub(docs: DataFrame) -> DataFrame:
    """PII scrubbing for training corpora: replace emails/phone numbers
    with typed placeholder tokens and report per-doc redaction counts.
    Map-only (regexp_count + regexp_replace are codegen'd JVM regex ops);
    at 100 TB this is a pure scan stage with no shuffle."""
    planted = _planted_pii(F.col("text"), F.col("doc_id"))
    return docs.select(
        "doc_id",
        F.regexp_count(planted, F.lit(PII_EMAIL_RE)).alias("emails_found"),
        F.regexp_count(planted, F.lit(PII_PHONE_RE)).alias("phones_found"),
        F.regexp_replace(
            F.regexp_replace(planted, PII_EMAIL_RE, "<EMAIL>"),
            PII_PHONE_RE,
            "<PHONE>",
        ).alias("scrubbed"),
    )


def pii_scrub_sql(src: str = "documents") -> str:
    planted = (
        "text || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@mail.example.com for info' ELSE '' END"
        " || CASE WHEN doc_id % 11 = 0 THEN ' call 555-123-4567 today' ELSE '' END"
    )
    return f"""
        SELECT doc_id,
               len(regexp_extract_all(planted, '{PII_EMAIL_RE}')) AS emails_found,
               len(regexp_extract_all(planted, '{PII_PHONE_RE}')) AS phones_found,
               regexp_replace(regexp_replace(planted, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{PII_PHONE_RE}', '<PHONE>', 'g') AS scrubbed
        FROM (SELECT doc_id, {planted} AS planted FROM {src}) s
    """


# ----------------------------------------------------- document chunking
CHUNK_TOKENS = 16
CHUNK_STRIDE = 12


def chunk_tokens(
    docs: DataFrame, chunk: int = CHUNK_TOKENS, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Sliding-window document chunking (the standard LLM pre-training
    prep step): overlapping windows of ``chunk`` tokens every ``stride``
    tokens. One explode over per-doc window starts — rows fan out
    |tokens|/stride per doc with no shuffle; Spark parallelism carries
    straight through from the scan."""
    from .partitioning import spread

    toked = spread(docs).select("doc_id", tokens_col("text").alias("toks"))
    starts = toked.select(
        "doc_id",
        "toks",
        F.explode(
            F.expr(f"CASE WHEN size(toks) > 0 THEN sequence(1, size(toks), {stride})"
                   " ELSE array() END")
        ).alias("start"),
    )
    piece = F.expr(f"slice(toks, start, {chunk})")
    return starts.select(
        "doc_id",
        F.expr(f"(start - 1) div {stride}").alias("chunk_idx"),
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).alias("chunk_tokens"),
    )


def chunk_tokens_sql(
    src: str = "documents", chunk: int = CHUNK_TOKENS, stride: int = CHUNK_STRIDE
) -> str:
    t = tokens_sql("text")
    return f"""
        SELECT doc_id,
               (start - 1) // {stride} AS chunk_idx,
               array_to_string(toks[start:start + {chunk - 1}], ' ') AS chunk_text,
               len(toks[start:start + {chunk - 1}]) AS chunk_tokens
        FROM (
          SELECT doc_id, toks, UNNEST(generate_series(1, len(toks), {stride})) AS start
          FROM (SELECT doc_id, {t} AS toks FROM {src}) s
        ) w
    """


# ------------------------------------------------- BPE-ish token stats
# GPT-2-style pre-tokenizer pattern (contraction suffixes, space-prefixed
# letter runs / digit runs / punctuation runs, whitespace runs), restricted
# to constructs with identical semantics in Java regex (Spark) and RE2
# (DuckDB): no lookaround, no unicode property classes.
BPE_SPLIT_RE = (
    "'s|'t|'re|'ve|'m|'ll|'d"
    "| ?[a-zA-Z]+| ?[0-9]+| ?[^\\sa-zA-Z0-9]+|\\s+"
)


def bpe_token_stats(docs: DataFrame) -> DataFrame:
    """Token counting under a BPE-style pre-tokenizer (the granularity an
    LLM data pipeline budgets with), next to the whitespace-class count,
    plus their ratio (the 'fertility' proxy). Pure per-row projection —
    regexp_extract_all is codegen'd JVM regex, no shuffle."""
    pat = BPE_SPLIT_RE.replace("\\", "\\\\").replace("'", "\\'")
    bpe = F.expr(f"regexp_extract_all(text, '{pat}', 0)")
    words = tokens_col("text")
    return docs.select(
        "doc_id",
        F.size(bpe).alias("n_bpe_tokens"),
        F.size(words).alias("n_word_tokens"),
        F.round(
            F.size(bpe) / F.nullif(F.size(words), F.lit(0)).cast("double"), 6
        ).alias("fertility"),
    )


def bpe_token_stats_sql(src: str = "documents") -> str:
    pat = BPE_SPLIT_RE.replace("'", "''")
    t = tokens_sql("text")
    return f"""
        SELECT doc_id,
               len(regexp_extract_all(text, '{pat}')) AS n_bpe_tokens,
               len({t}) AS n_word_tokens,
               ROUND(len(regexp_extract_all(text, '{pat}'))
                     / CAST(NULLIF(len({t}), 0) AS DOUBLE), 6) AS fertility
        FROM {src}
    """


# ----------------------------------------------- corpus bigram top-k
def bigram_topk(docs: DataFrame, k: int = 50) -> DataFrame:
    """Corpus-wide top-k token bigrams with counts — the collocation /
    boilerplate-phrase profile a curation run reads before writing
    filters (a bigram in half the corpus is template text). ALL bigram
    occurrences count (multiset, unlike the dedup operators' distinct
    gram sets). Shape: explode → one map-side-combinable count aggregate
    → global top-k with a total order (count DESC, bigram ASC), which
    Spark executes as TakeOrderedAndProject — per-partition k-row heads,
    no global sort."""
    from .partitioning import spread

    toked = spread(docs).select(tokens_col("text").alias("toks"))
    from pyspark.ml.feature import NGram

    grams = NGram(n=2, inputCol="toks", outputCol="grams").transform(toked)
    return (
        grams.select(F.explode("grams").alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(k)
    )


def bigram_topk_sql(src: str = "documents", k: int = 50) -> str:
    t = tokens_sql("text")
    g = word_ngrams_sql("toks", 2)
    return f"""
        WITH toks AS (SELECT doc_id, {t} AS toks FROM {src}),
        grams AS (SELECT {g} AS grams FROM toks),
        ex AS (SELECT UNNEST(grams) AS bigram FROM grams)
        SELECT bigram, COUNT(*) AS n FROM ex
        GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT {k}
    """


# ----------------------------------------------- length-band histogram
LENGTH_BANDS = (256, 1024, 4096, 16384)  # upper-exclusive boundaries


def _band_label(i: int) -> str:
    lo = 0 if i == 0 else LENGTH_BANDS[i - 1]
    if i == len(LENGTH_BANDS):
        return f"{LENGTH_BANDS[-1]}+"
    return f"{lo}-{LENGTH_BANDS[i] - 1}"


def length_bands(docs: DataFrame) -> DataFrame:
    """Doc-length histogram over fixed char bands (CASE ladder, not
    log2: integer comparisons are bit-portable across engines where
    floor(log2(x)) can straddle a ulp at exact powers). Emits per band
    the doc count and total chars — the size profile that drives
    sequence-packing and truncation budgets."""
    band = None
    for i, hi in enumerate(LENGTH_BANDS):
        cond = F.col("n_chars") < hi
        band = F.when(cond, _band_label(i)) if band is None else band.when(
            cond, _band_label(i)
        )
    band = band.otherwise(_band_label(len(LENGTH_BANDS)))
    return (
        docs.select(band.alias("band"), "n_chars")
        .groupBy("band")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


def length_bands_sql(src: str = "documents") -> str:
    whens = " ".join(
        f"WHEN n_chars < {hi} THEN '{_band_label(i)}'"
        for i, hi in enumerate(LENGTH_BANDS)
    )
    return f"""
        SELECT CASE {whens} ELSE '{_band_label(len(LENGTH_BANDS))}' END AS band,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM {src} GROUP BY 1
    """


# ---------------------------------------------- vocab / OOV coverage
VOCAB_SIZE = 256


def oov_rate_bands(docs: DataFrame, vocab_size: int = VOCAB_SIZE) -> DataFrame:
    """Tokenizer-fit diagnostic: derive the corpus' top-``vocab_size``
    tokens (count DESC, token ASC — total order), score every doc's
    out-of-vocabulary token rate against it, and histogram docs into
    10%-wide OOV bands. High-OOV bands locate the subcorpora a fixed
    vocabulary would shred into bytes/unks — read BEFORE freezing a
    tokenizer.

    Shape: one explode + count aggregate for the vocab (top-k via
    total-ordered limit), a broadcast left-semi membership join back
    onto the exploded tokens, one per-doc aggregate, one tiny band
    aggregate. The vocab is ``vocab_size`` rows — always broadcastable.
    Docs with zero tokens are excluded (rate undefined, not 0)."""
    toked = docs.select("doc_id", F.explode(tokens_col("text")).alias("tok"))
    vocab = (
        toked.groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("tok"))
        .limit(vocab_size)
        .select("tok")
    )
    marked = toked.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "tok", "left"
    )
    per_doc = marked.groupBy("doc_id").agg(
        F.count("*").alias("n_toks"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
    )
    rate = F.round(F.col("n_oov") / F.col("n_toks").cast("double"), 6)
    band = F.least(F.floor(rate * 10).cast("int"), F.lit(9))
    return (
        per_doc.select(band.alias("oov_band"), "n_toks", "n_oov")
        .groupBy("oov_band")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("total_toks"),
            F.sum("n_oov").alias("total_oov"),
        )
    )


def oov_rate_bands_sql(
    src: str = "documents", vocab_size: int = VOCAB_SIZE
) -> str:
    t = tokens_sql("text")
    return f"""
        WITH toked AS (
          SELECT doc_id, UNNEST({t}) AS tok FROM {src}
        ),
        vocab AS (
          SELECT tok FROM (
            SELECT tok, COUNT(*) AS n FROM toked GROUP BY tok
            ORDER BY n DESC, tok ASC LIMIT {vocab_size}
          ) v
        ),
        marked AS (
          SELECT toked.doc_id,
                 CASE WHEN vocab.tok IS NULL THEN 1 ELSE 0 END AS is_oov
          FROM toked LEFT JOIN vocab ON toked.tok = vocab.tok
        ),
        per_doc AS (
          SELECT doc_id, COUNT(*) AS n_toks, SUM(is_oov) AS n_oov
          FROM marked GROUP BY doc_id
        )
        SELECT LEAST(CAST(FLOOR(ROUND(n_oov / CAST(n_toks AS DOUBLE), 6) * 10)
                     AS INTEGER), 9) AS oov_band,
               COUNT(*) AS n_docs,
               CAST(SUM(n_toks) AS BIGINT) AS total_toks,
               CAST(SUM(n_oov) AS BIGINT) AS total_oov
        FROM per_doc GROUP BY 1
    """


# -------------------------------------------------------- inverted index
def term_postings(docs: DataFrame) -> DataFrame:
    """The canonical standing inverted-index table: one row per distinct
    ``(doc_id, term)`` pair with its in-document frequency ``tf`` — the
    shape every bag-of-words retrieval consumer (TF-IDF, BM25, PRF, the
    posting-list seed) derives from. Built once per corpus snapshot and
    materialized by the registry (r11); per-doc token counts are exactly
    ``SUM(tf)`` grouped by doc, so no separate lengths table is needed.

    Shape at scale: tokenize+explode is one map stage; the count is one
    shuffle with map-side combine."""
    from .partitioning import spread

    return (
        spread(docs)
        .select("doc_id", F.explode(tokens_col("text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )


def inverted_postings(
    docs: DataFrame,
    k: int = 25,
    sample: int = 5,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Top-k vocabulary terms by document frequency, each with its first
    ``sample`` posting doc_ids — the seed table for a distributed
    inverted index (the BM25/keyword-retrieval counterpart to the ANN
    family).

    Shape at scale: distinct (doc_id, term) [1 shuffle with map-side
    combine] feeds BOTH the df count and the posting sample; the sample
    is a per-term window top-N over doc_id, so no full posting list is
    ever collected into one aggregation buffer (a stopword's postings at
    100 TB are millions of ids — ``collect_list`` there would OOM the
    executor; the window keeps state at ``sample`` rows). Postings are
    emitted as a comma-joined string so the oracle hash is
    representation-stable.

    Ranking: (df desc, term asc) — total order.

    ``postings``: the standing :func:`term_postings` table; its rows are
    already distinct (doc_id, term) pairs, so the explode+distinct pass
    is skipped when it is given."""
    from pyspark.sql import Window

    from .partitioning import spread

    if postings is not None:
        dt = postings.select("doc_id", "term")
    else:
        dt = (
            spread(docs)
            .select("doc_id", F.explode(tokens_col("text")).alias("term"))
            .distinct()
        )
    df_t = dt.groupBy("term").agg(F.count("*").alias("df"))
    # top-k terms via distributed TakeOrdered (orderBy+limit — never a
    # vocab-wide single-partition window); the k-row result then gets its
    # dense rank from a window that only ever sees k rows
    wk = Window.orderBy(F.desc("df"), F.asc("term"))
    top = (
        df_t.orderBy(F.desc("df"), F.asc("term"))
        .limit(k)
        .withColumn("rank", F.row_number().over(wk))
    )
    # posting samples computed ONLY for the surviving k terms (broadcast
    # semi-join gates the per-term window)
    w = Window.partitionBy("term").orderBy(F.asc("doc_id"))
    postings = (
        dt.join(F.broadcast(top.select("term")), "term", "left_semi")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= sample)
        .groupBy("term")
        .agg(
            F.concat_ws(
                ",", F.sort_array(F.collect_list(F.col("doc_id")))
            ).alias("top_doc_ids")
        )
    )
    return top.join(postings, "term").select(
        "rank", "term", "df", "top_doc_ids"
    )


def inverted_postings_sql(
    src: str = "documents", k: int = 25, sample: int = 5
) -> str:
    t = tokens_sql("text")
    return f"""
        WITH dt AS (
          SELECT DISTINCT doc_id, term FROM (
            SELECT doc_id, UNNEST({t}) AS term FROM {src}
          ) u
        ),
        df_t AS (SELECT term, COUNT(*) AS df FROM dt GROUP BY term),
        sampled AS (
          SELECT term, doc_id FROM (
            SELECT term, doc_id, ROW_NUMBER() OVER (
              PARTITION BY term ORDER BY doc_id ASC) AS rn
            FROM dt
          ) x WHERE rn <= {sample}
        ),
        postings AS (
          SELECT term,
                 STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id ASC)
                   AS top_doc_ids
          FROM sampled GROUP BY term
        )
        SELECT rank, term, df, top_doc_ids FROM (
          SELECT d.term, d.df, p.top_doc_ids, ROW_NUMBER() OVER (
            ORDER BY d.df DESC, d.term ASC) AS rank
          FROM df_t d JOIN postings p USING (term)
        ) r WHERE rank <= {k}
    """


# ----------------------------------------------------------- BM25 search
BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    postings: DataFrame | None = None,
) -> DataFrame:
    """BM25 keyword retrieval over the corpus — the lexical counterpart
    of the ANN family (the two sides of hybrid search). Scores every
    document against a literal term list with the Lucene/Okapi
    formulation: ``idf = ln((N - df + 0.5)/(df + 0.5) + 1)`` (always
    positive) and the saturated-tf length-normalized term weight.

    Shape at scale: the explode is FILTERED to query terms before any
    aggregation, so the (doc, term) shuffle carries only matching
    postings — a |query|-term search moves |matching postings| rows, not
    the corpus. Doc lengths are a second map-side-combinable aggregate
    over the same scan; N and avgdl ride a 1-row broadcast; per-term df
    is a |query|-row broadcast. The final top-k is a total order
    (score DESC, doc_id ASC) → TakeOrderedAndProject, no global sort.

    Scores are 6dp-rounded BEFORE ranking so cross-engine last-ulp ln()
    differences cannot reorder ties.

    ``postings``: the standing :func:`term_postings` table. Per-doc
    lengths are SUM(tf) grouped by doc (identical to counting the raw
    tokens — only matched docs ever reach the length join, and a doc
    with zero tokens can never match); ``avgdl`` = Σtf / N(docs) is the
    same long-sum-over-long-count IEEE division ``avg(dl)`` performs."""
    from .partitioning import spread

    terms = [t.lower() for t in query_terms]
    if postings is not None:
        lens = postings.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
        stats = (
            docs.agg(F.count("*").alias("n_docs"))
            .crossJoin(F.broadcast(postings.agg(F.sum("tf").alias("_tok"))))
            .select(
                "n_docs", (F.col("_tok") / F.col("n_docs")).alias("avgdl")
            )
        )
        posting = postings.filter(F.col("term").isin(terms))
    else:
        toks = spread(docs).select(
            "doc_id", tokens_col("text").alias("toks")
        )
        lens = toks.select("doc_id", F.size("toks").alias("dl"))
        stats = lens.agg(
            F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
        )
        posting = (
            toks.select("doc_id", F.explode("toks").alias("term"))
            .filter(F.col("term").isin(terms))
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf"))
        )
    df_t = posting.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        posting.join(F.broadcast(df_t), "term")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            (
                F.log(
                    (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                    + F.lit(1.0)
                )
                * (F.col("tf") * (F.lit(k1) + 1))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0)
                        - F.lit(b)
                        + F.lit(b) * F.col("dl") / F.col("avgdl")
                    )
                )
            ).alias("w"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.round(F.sum("w"), 6).alias("bm25"),
            F.count("*").cast("long").alias("n_matched_terms"),
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )


def bm25_topk_sql(
    query_terms: list[str],
    src: str = "documents",
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    t = tokens_sql("text")
    lit_terms = ", ".join(f"'{x.lower()}'" for x in query_terms)
    return f"""
        WITH toks AS (SELECT doc_id, {t} AS toks FROM {src}),
        lens AS (SELECT doc_id, len(toks) AS dl FROM toks),
        stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM lens),
        posting AS (
          SELECT doc_id, term, COUNT(*) AS tf FROM (
            SELECT doc_id, UNNEST(toks) AS term FROM toks
          ) e WHERE term IN ({lit_terms})
          GROUP BY doc_id, term
        ),
        df_t AS (SELECT term, COUNT(*) AS df FROM posting GROUP BY term),
        scored AS (
          SELECT p.doc_id,
                 LN((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                 * (p.tf * ({k1} + 1))
                 / (p.tf + {k1} * (1.0 - {b} + {b} * l.dl / s.avgdl)) AS w
          FROM posting p
          JOIN df_t d USING (term)
          JOIN lens l USING (doc_id)
          CROSS JOIN stats s
        )
        SELECT doc_id, ROUND(SUM(w), 6) AS bm25,
               CAST(COUNT(*) AS BIGINT) AS n_matched_terms
        FROM scored GROUP BY doc_id
        ORDER BY bm25 DESC, doc_id ASC LIMIT {k}
    """


# ------------------------------------------- model-based quality filter
# Fixed logistic-regression weights over interpretable doc features —
# the scaffold of a fasttext-style learned quality classifier (weights
# would come from training; the OPERATOR is the serving shape: pure
# column math, no UDF, embarrassingly parallel).
QUALITY_LOGIT_W = {
    "bias": -2.0,
    "alpha_ratio": 1.5,
    "stopword_ratio": 2.0,
    "len_sat": 1.0,
    "ttr": 0.75,  # type-token ratio: vocabulary richness
}


def quality_logit(docs: DataFrame) -> DataFrame:
    """Model-based document quality filter: a logistic regression with
    FIXED literal weights over four interpretable features (alphabetic
    ratio, stopword ratio, length saturation, type-token ratio).

    The serving shape of every learned quality classifier
    (fasttext-style): one codegen projection per document — features,
    dot product, sigmoid — no shuffle, no UDF. Features and the logit
    are 6dp-quantized BEFORE the sigmoid so both engines exponentiate
    the identical argument; ``keep`` thresholds the rounded probability
    at 0.5."""
    toks = tokens_col("text")
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    stop_cnt = F.expr(
        f"size(filter(filter(split(lower(text), '{TOKEN_SPLIT_RE}'), x -> x != ''),"
        f" t -> array_contains(array({en}), t)))"
    )
    alpha = F.round(
        F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
        / F.nullif(F.length("text"), F.lit(0)).cast("double"),
        6,
    )
    stop = F.round(
        stop_cnt / F.nullif(F.size(toks), F.lit(0)).cast("double"), 6
    )
    len_sat = F.round(F.least(F.size(toks) / F.lit(100.0), F.lit(1.0)), 6)
    ttr = F.round(
        F.size(F.array_distinct(toks))
        / F.nullif(F.size(toks), F.lit(0)).cast("double"),
        6,
    )
    w = QUALITY_LOGIT_W
    # decimal-exact dot product: weights carry <=2 decimals and the
    # quantized features 6, so every product is EXACT at 8 decimals and
    # the 6dp HALF_UP round is identical across engines (a double-side
    # round here can straddle a representation boundary — e.g. 1.5 * a
    # 6dp feature ends in ...5 at the 7th decimal; gate-caught)
    feats = docs.select(
        "doc_id",
        alpha.alias("alpha"),
        stop.alias("stop"),
        len_sat.alias("len_sat_f"),
        ttr.alias("ttr_f"),
    )
    dec = "DECIMAL(16,6)"
    logit = F.expr(
        f"CAST(round(CAST({w['bias']} AS {dec})"
        f" + CAST({w['alpha_ratio']} AS DECIMAL(4,2)) * CAST(alpha AS {dec})"
        f" + CAST({w['stopword_ratio']} AS DECIMAL(4,2)) * CAST(stop AS {dec})"
        f" + CAST({w['len_sat']} AS DECIMAL(4,2)) * CAST(len_sat_f AS {dec})"
        f" + CAST({w['ttr']} AS DECIMAL(4,2)) * CAST(ttr_f AS {dec})"
        f", 6) AS DOUBLE)"
    )
    p = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)
    return feats.select(
        "doc_id",
        F.col("alpha").alias("alpha_ratio"),
        F.col("stop").alias("stopword_ratio"),
        F.col("len_sat_f").alias("len_sat"),
        F.col("ttr_f").alias("ttr"),
        logit.alias("logit"),
        p.alias("p_keep"),
        (p >= 0.5).alias("keep"),
    )


def quality_logit_sql(src: str = "documents") -> str:
    t = tokens_sql("text")
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    w = QUALITY_LOGIT_W
    dec = "DECIMAL(16,6)"
    logit = (
        f"CAST(ROUND(CAST({w['bias']} AS {dec})"
        f" + CAST({w['alpha_ratio']} AS DECIMAL(4,2)) * CAST(alpha AS {dec})"
        f" + CAST({w['stopword_ratio']} AS DECIMAL(4,2)) * CAST(stop AS {dec})"
        f" + CAST({w['len_sat']} AS DECIMAL(4,2)) * CAST(len_sat AS {dec})"
        f" + CAST({w['ttr']} AS DECIMAL(4,2)) * CAST(ttr AS {dec})"
        f", 6) AS DOUBLE)"
    )
    return f"""
        WITH feats AS (
          SELECT doc_id,
                 ROUND(len(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                   / CAST(NULLIF(len(text), 0) AS DOUBLE), 6) AS alpha,
                 ROUND(len(list_filter(toks, t -> list_contains([{en}], t)))
                   / CAST(NULLIF(len(toks), 0) AS DOUBLE), 6) AS stop,
                 ROUND(LEAST(len(toks) / 100.0, 1.0), 6) AS len_sat,
                 ROUND(len(list_distinct(toks))
                   / CAST(NULLIF(len(toks), 0) AS DOUBLE), 6) AS ttr
          FROM (SELECT doc_id, text, {t} AS toks FROM {src}) s
        )
        SELECT doc_id,
               alpha AS alpha_ratio,
               stop AS stopword_ratio,
               len_sat, ttr,
               {logit} AS logit,
               ROUND(1.0 / (1.0 + EXP(-{logit})), 6) AS p_keep,
               ROUND(1.0 / (1.0 + EXP(-{logit})), 6) >= 0.5 AS keep
        FROM feats
    """


# ------------------------------------------------ unigram LM scoring
def unigram_logprob(docs: DataFrame) -> DataFrame:
    """Corpus-unigram language-model scoring — the scaffold of the
    perplexity filter (KenLM-style) in curation pipelines: train the
    unigram distribution on the corpus itself with add-one smoothing,
    then score every document by its mean token log-probability.
    Low-probability-mass documents (gibberish, OCR noise, wrong-language
    contamination) sit in the left tail; the threshold lives downstream.

    Shape at scale: ONE token aggregate builds the vocabulary counts
    (map-side combinable), the corpus totals ride a 1-row broadcast, and
    scoring is the token explode joined against the vocab relation —
    token-keyed, so Spark picks broadcast vs shuffle join from vocab
    size — followed by a doc-keyed mean. Log-probs are summed exactly
    once per token occurrence; the per-doc mean is 6dp-rounded so ln()
    last-ulp differences cannot flip the hash (the tfidf convention)."""
    from .partitioning import spread

    toks = spread(docs).select(
        "doc_id", F.explode(tokens_col("text")).alias("term")
    )
    vocab = toks.groupBy("term").agg(F.count("*").alias("c"))
    totals = vocab.agg(
        F.sum("c").alias("n_corpus"), F.count("*").alias("v_size")
    )
    scored = toks.join(vocab, "term").crossJoin(F.broadcast(totals)).select(
        "doc_id",
        F.log(
            (F.col("c") + F.lit(1.0))
            / (F.col("n_corpus") + F.col("v_size")).cast("double")
        ).alias("lp"),
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_tokens"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
    )


def unigram_logprob_sql(src: str = "documents") -> str:
    t = tokens_sql("text")
    return f"""
        WITH toks AS (
          SELECT doc_id, UNNEST({t}) AS term FROM {src}
        ),
        vocab AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
        totals AS (
          SELECT SUM(c) AS n_corpus, COUNT(*) AS v_size FROM vocab
        ),
        scored AS (
          SELECT toks.doc_id,
                 LN((vocab.c + 1.0)
                    / CAST(totals.n_corpus + totals.v_size AS DOUBLE)) AS lp
          FROM toks JOIN vocab USING (term) CROSS JOIN totals
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               ROUND(AVG(lp), 6) AS avg_logprob
        FROM scored GROUP BY doc_id
    """


# ------------------------------------------ feature-hashed embeddings
HASH_EMBED_DIM = 64


def hash_embed(docs: DataFrame, dim: int = HASH_EMBED_DIM) -> DataFrame:
    """Hashing-trick vectorizer (Weinberger et al. 2009): every document
    becomes a ``dim``-dimensional signed token-count vector — bucket =
    h(token) mod dim, sign from the next hash bit — with NO trained
    vocabulary, which is what lets the whole embedding-side stack
    (cosine ANN, k-means, SemDeDup) run over TEXT before any neural
    encoder exists. Output schema matches the embeddings fixture
    (``vec_id``, ``embedding array<double>``), so the ANN operators
    compose directly.

    Shape: token explode → ONE (doc, bucket) combinable aggregate →
    one doc-keyed aggregate assembling the dense vector from at most
    ``dim`` (bucket, weight) entries via a map lookup — per-doc state
    is bounded by ``dim``, never vocabulary size. Weights are exact
    integers in double form, so cross-engine equality is exact."""
    from ..functions import HASH60_SPARK_SQL

    h = HASH60_SPARK_SQL.format(x="term")
    toks = docs.select("doc_id", F.explode(tokens_col("text")).alias("term"))
    hashed = toks.select(
        "doc_id",
        F.expr(f"({h}) % {dim}").alias("bucket"),
        # next bit above the bucket selects the sign
        (F.expr(f"(({h}) div {dim}) % 2") * 2 - 1).cast("double").alias("sgn"),
    )
    buckets = hashed.groupBy("doc_id", "bucket").agg(
        F.sum("sgn").alias("w")
    )
    # build the (bucket -> weight) map ONCE per doc in the aggregate,
    # then assemble the dense vector from it in a separate projection —
    # keeps the map construction visibly out of the per-dimension
    # lambda (codegen subexpression elimination covered the inlined
    # form, but only as an optimizer courtesy this shape doesn't need)
    m = buckets.groupBy("doc_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("bucket", "w"))
        ).alias("_m")
    )
    return m.select(
        F.col("doc_id").alias("vec_id"),
        F.expr(
            f"transform(sequence(0, {dim - 1}), j -> "
            "coalesce(element_at(_m, j), cast(0.0 as double)))"
        ).alias("embedding"),
    )


def hash_embed_sql(src: str = "documents", dim: int = HASH_EMBED_DIM) -> str:
    from ..functions import HASH60_DUCK_SQL

    t = tokens_sql("text")
    h = HASH60_DUCK_SQL.format(x="term")
    return f"""
        SELECT doc_id AS vec_id,
               list_transform(range(0, {dim}),
                 j -> COALESCE(ws[list_position(bs, j)], 0.0)) AS embedding
        FROM (
          SELECT doc_id,
                 array_agg(bucket ORDER BY bucket) AS bs,
                 array_agg(w ORDER BY bucket) AS ws
          FROM (
            SELECT doc_id, bucket, SUM(sgn) AS w FROM (
              SELECT doc_id,
                     ({h}) % {dim} AS bucket,
                     CAST((({h}) // {dim}) % 2 * 2 - 1 AS DOUBLE) AS sgn
              FROM (SELECT doc_id, UNNEST({t}) AS term FROM {src}) e
            ) hb GROUP BY doc_id, bucket
          ) bw GROUP BY doc_id
        ) g
    """


def hash_embed_stats(
    docs: DataFrame, dim: int = HASH_EMBED_DIM, emb: DataFrame | None = None
) -> DataFrame:
    """Gate-facing audit of :func:`hash_embed`: per-doc nonzero bucket
    count and L2 norm (left-assoc IEEE sum, 6dp) — scalar facts both
    engines hash identically, standing in for the raw vector.

    ``emb``: a pre-built hashed-vector table (the registry's shared
    materialized one) — the audit then skips re-vectorizing the corpus."""
    if emb is None:
        emb = hash_embed(docs, dim)
    return emb.select(
        "vec_id",
        F.expr("size(filter(embedding, x -> x != 0.0))").cast("long").alias("nnz"),
        F.round(l2_norm(F.col("embedding")), 6).alias("l2_norm"),
    )


def hash_embed_stats_sql(src: str = "documents", dim: int = HASH_EMBED_DIM) -> str:
    sq = " + ".join(f"embedding[{i + 1}] * embedding[{i + 1}]" for i in range(dim))
    return f"""
        SELECT vec_id,
               CAST(len(list_filter(embedding, x -> x != 0.0)) AS BIGINT)
                 AS nnz,
               ROUND(SQRT({sq}), 6) AS l2_norm
        FROM ({hash_embed_sql(src, dim)}) he
    """


# ------------------------------------------------------------ Zipf fit
def zipf_fit(docs: DataFrame, top_n: int = 200) -> DataFrame:
    """Zipf's-law fit of the corpus vocabulary: least-squares slope of
    ``ln(freq)`` on ``ln(rank)`` over the top ``top_n`` terms. Natural
    corpora sit near slope −1; a flat slope flags synthetic/templated
    text and a cliff flags boilerplate domination — a one-row corpus
    health check curation dashboards track across snapshots.

    One vocab aggregate → top-n by (freq DESC, term ASC) via
    TakeOrdered → the regression is FOUR sums over n rows folded in a
    single 1-row aggregate. 6dp-rounded outputs under the ln()
    convention."""
    from .partitioning import spread

    from pyspark.sql import Window

    vocab = (
        spread(docs)
        .select(F.explode(tokens_col("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("term"))
        .limit(top_n)
    )
    w = Window.orderBy(F.desc("c"), F.asc("term"))
    xy = vocab.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    return xy.agg(
        F.count("*").cast("long").alias("n_terms"),
        F.round(
            (F.sum(F.col("x") * F.col("y")) - F.count("*") * F.avg("x") * F.avg("y"))
            / (F.sum(F.col("x") * F.col("x")) - F.count("*") * F.avg("x") * F.avg("x")),
            6,
        ).alias("slope"),
        F.round(
            F.avg("y")
            - (
                (F.sum(F.col("x") * F.col("y")) - F.count("*") * F.avg("x") * F.avg("y"))
                / (F.sum(F.col("x") * F.col("x")) - F.count("*") * F.avg("x") * F.avg("x"))
            )
            * F.avg("x"),
            6,
        ).alias("intercept"),
    )


def zipf_fit_sql(src: str = "documents", top_n: int = 200) -> str:
    t = tokens_sql("text")
    return f"""
        WITH vocab AS (
          SELECT term, COUNT(*) AS c FROM (
            SELECT UNNEST({t}) AS term FROM {src}
          ) e GROUP BY term
          ORDER BY c DESC, term ASC LIMIT {top_n}
        ),
        xy AS (
          SELECT LN(CAST(ROW_NUMBER() OVER (ORDER BY c DESC, term ASC)
                         AS DOUBLE)) AS x,
                 LN(CAST(c AS DOUBLE)) AS y
          FROM vocab
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
               ROUND((SUM(x * y) - COUNT(*) * AVG(x) * AVG(y))
                     / (SUM(x * x) - COUNT(*) * AVG(x) * AVG(x)), 6)
                 AS slope,
               ROUND(AVG(y)
                     - ((SUM(x * y) - COUNT(*) * AVG(x) * AVG(y))
                        / (SUM(x * x) - COUNT(*) * AVG(x) * AVG(x)))
                       * AVG(x), 6) AS intercept
        FROM xy
    """


# ----------------------------------------------- BPE tokenizer training
BPE_MERGES = 6


def bpe_train(
    docs: DataFrame,
    n_merges: int = BPE_MERGES,
    state: tuple | None = None,
) -> DataFrame:
    """Byte-pair-encoding merge training (Sennrich et al. 2016,
    arXiv:1508.07909 — the algorithm behind GPT/Llama tokenizers),
    re-expressed as DataFrame supersteps: per round, count every
    adjacent symbol pair weighted by word frequency, merge the most
    frequent pair corpus-wide, repeat. Returns the learned merge table
    (merge_rank, left_sym, right_sym, pair_count) — the model a
    tokenizer ships.

    Distribution shape (the part single-node trainers can't do): the
    corpus collapses to the word-frequency table in ONE aggregate (all
    later rounds are vocabulary-sized, the standard BPE trick), held as
    an exploded (word, freq, pos, sym) symbol table. Each round is:

    - pair counts: one lead() window per word + one map-side-combinable
      weighted SUM keyed on (sym, next) — exact integer counts, so the
      argmax is order-free; tie-break (count DESC, left ASC, right ASC)
      makes every round deterministic on any engine;
    - the winning pair is O(1) driver state (the k-means model-update
      contract);
    - merge application: BPE's greedy LEFT-TO-RIGHT non-overlapping
      rule. For left != right, matches can never be adjacent and all
      are taken; for a self-pair (aa) a run of consecutive matches
      alternates — expressed as gaps-and-islands over the matched
      positions (island = pos - row_number) taking even offsets, the
      same window shape on both engines (no sequential scan, no UDF);
    - absorbed positions drop via an anti self-join on (word, pos-1),
      then positions reindex with row_number — one materialized
      superstep per round, Pregel-style.

    Every structure is vocabulary-sized after the first pass; merges are
    driver state; nothing is all-pairs. The DuckDB twin
    (:func:`bpe_train_sql`) replays the identical rounds as CTE levels.
    """
    merges, _ = state if state is not None else _bpe_supersteps(
        docs, n_merges
    )
    from .partitioning import local_table

    return local_table(
        docs.sparkSession,
        merges,
        "merge_rank int, left_sym string, right_sym string, pair_count bigint",
    )


def bpe_train_state(docs: DataFrame, n_merges: int = BPE_MERGES) -> tuple:
    """(merges, final symbol table) — the shared training state both
    :func:`bpe_train` (the model report) and :func:`bpe_vocab_stats`
    (the corpus report) read; a tokenizer pipeline trains ONCE and
    derives both artifacts, so the registry memoizes this per corpus
    instead of re-running the superstep loop per query."""
    return _bpe_supersteps(docs, n_merges)


def _bpe_symbol_table(docs: DataFrame) -> DataFrame:
    """Corpus → materialized (word, freq, pos, sym) character table —
    the starting state of both training and encoding."""
    from .partitioning import materialize, spread

    words = (
        spread(docs)
        .select(F.explode(tokens_col("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    return materialize(
        words.select(
            "word",
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(word)),"
                    " i -> struct(i AS pos, substring(word, i, 1) AS sym))"
                )
            ).alias("x"),
        ).select("word", "freq", F.col("x.pos").alias("pos"), F.col("x.sym").alias("sym"))
    )


def _bpe_apply_merge(
    syms: DataFrame, left: str, right: str, materialized: bool = True
) -> DataFrame:
    """One greedy left-to-right non-overlapping merge application —
    shared verbatim by the training loop and the encoder so the two can
    never drift.

    r10 optimization: reformulated as ONE ordered window pass. The
    former islands-parity form filtered the matches out, ranked them,
    re-partitioned by (word, island) for the parity offset, and joined
    the taken/absorbed position sets back twice — 2+ exchanges and two
    self-joins per merge. The same greedy semantics falls out of
    running-window expressions over the intact sequence: a pair-start
    is TAKEN iff its distance to the start of its maximal run of
    consecutive pair-starts is even (greedy takes every other overlap),
    and a row is ABSORBED iff its predecessor was taken — all
    computable with lead/lag/running-max over the ONE (word, pos)
    window, so each merge costs a single exchange and zero joins.
    Output rows/values are identical (oracle + pinned-fixture tests).

    ``materialized`` lets the encoder chain merges lazily (its
    intermediate tables have exactly one consumer each — the next
    merge); the training loop keeps the default, since each superstep's
    table feeds BOTH the next best-pair collect and the next merge."""
    from pyspark.sql import Window

    from .partitioning import materialize

    w = Window.partitionBy("word").orderBy("pos")
    run = F.max(F.when(F.col("_rs"), F.col("pos"))).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    staged = (
        syms.withColumn(
            "_p",
            F.coalesce(
                (F.col("sym") == left)
                & (F.lead("sym").over(w) == F.lit(right)),
                F.lit(False),
            ),
        )
        .withColumn(
            "_rs",
            F.col("_p")
            & ~F.coalesce(F.lag("_p").over(w), F.lit(False)),
        )
        .withColumn(
            "is_taken",
            F.col("_p") & (((F.col("pos") - run) % 2) == 0),
        )
        .withColumn(
            "was_absorbed",
            F.coalesce(F.lag("is_taken").over(w), F.lit(False)),
        )
    )
    out = staged.filter(~F.col("was_absorbed")).select(
        "word",
        "freq",
        F.row_number().over(w).alias("pos"),
        F.when(F.col("is_taken"), F.lit(left + right))
        .otherwise(F.col("sym"))
        .alias("sym"),
    )
    return materialize(out) if materialized else out


def _bpe_supersteps(docs: DataFrame, n_merges: int):
    """The shared training loop: returns (merge list, final symbol
    table) — :func:`bpe_train` reports the model,
    :func:`bpe_vocab_stats` aggregates the rewritten corpus."""
    from pyspark.sql import Window

    syms = _bpe_symbol_table(docs)
    w = Window.partitionBy("word").orderBy("pos")
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        with_next = syms.withColumn("nxt", F.lead("sym").over(w))
        best = (
            with_next.filter(F.col("nxt").isNotNull())
            .groupBy("sym", "nxt")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("sym"), F.asc("nxt"))
            .limit(1)
            .collect()
        )
        if not best:  # corpus exhausted (single-symbol words only)
            break
        left, right, cnt = best[0]["sym"], best[0]["nxt"], int(best[0]["cnt"])
        merges.append((rank, left, right, cnt))
        syms = _bpe_apply_merge(syms, left, right)
    return merges, syms


def _bpe_train_ctes(src: str, n_merges: int) -> list[str]:
    """The training CTE chain shared by :func:`bpe_train_sql`,
    :func:`bpe_vocab_stats_sql` and :func:`bpe_encode_stats_sql`."""
    t = tokens_sql("text")
    parts = [
        f"""words AS MATERIALIZED (
          SELECT word, COUNT(*) AS freq FROM (
            SELECT UNNEST({t}) AS word FROM {src}
          ) GROUP BY word
        )""",
        """s0 AS MATERIALIZED (
          SELECT word, freq, i AS pos, substr(word, i, 1) AS sym
          FROM words, UNNEST(generate_series(1, length(word))) AS u(i)
        )""",
    ]
    for k in range(1, n_merges + 1):
        p = k - 1
        parts.append(f"""n{k} AS MATERIALIZED (
          SELECT word, freq, pos, sym,
                 LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
          FROM s{p}
        )""")
        parts.append(f"""b{k} AS MATERIALIZED (
          SELECT sym AS l, nxt AS r, SUM(freq) AS cnt
          FROM n{k} WHERE nxt IS NOT NULL
          GROUP BY sym, nxt
          ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
        )""")
        parts.append(f"""mt{k} AS MATERIALIZED (
          SELECT n.word, n.pos,
                 ROW_NUMBER() OVER (PARTITION BY n.word ORDER BY n.pos) AS rn
          FROM n{k} n CROSS JOIN b{k} b
          WHERE n.sym = b.l AND n.nxt = b.r
        )""")
        parts.append(f"""tk{k} AS MATERIALIZED (
          SELECT word, pos FROM (
            SELECT word, pos,
                   rn - MIN(rn) OVER (PARTITION BY word, pos - rn) AS off
            FROM mt{k}
          ) WHERE off % 2 = 0
        )""")
        parts.append(f"""s{k} AS MATERIALIZED (
          SELECT word, freq,
                 ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
                 sym
          FROM (
            SELECT s.word, s.freq, s.pos,
                   CASE WHEN tk.pos IS NOT NULL THEN b.l || b.r
                        ELSE s.sym END AS sym
            FROM s{p} s CROSS JOIN b{k} b
            LEFT JOIN tk{k} tk ON tk.word = s.word AND tk.pos = s.pos
            LEFT JOIN tk{k} pv ON pv.word = s.word AND pv.pos = s.pos - 1
            WHERE pv.pos IS NULL
          )
        )""")
    return parts


def bpe_train_sql(src: str = "documents", n_merges: int = BPE_MERGES) -> str:
    """DuckDB twin of :func:`bpe_train`: the same rounds as CTE levels;
    the per-round winner is a 1-row CTE cross-joined into the rewrite
    (SQL's version of the collected driver state)."""
    ctes = ",\n        ".join(_bpe_train_ctes(src, n_merges))
    sel = "\n        UNION ALL ".join(
        f"SELECT {k} AS merge_rank, l AS left_sym, r AS right_sym,"
        f" CAST(cnt AS BIGINT) AS pair_count FROM b{k}"
        for k in range(1, n_merges + 1)
    )
    return f"""
        WITH {ctes}
        {sel}
    """


def bpe_vocab_stats(
    docs: DataFrame,
    n_merges: int = BPE_MERGES,
    state: tuple | None = None,
) -> DataFrame:
    """The corpus-level effect of the learned merges — the number a
    tokenizer change is judged by: total corpus tokens before (= chars)
    and after the merge rounds, the compression they buy, and the symbol
    vocabulary size. One row.

    Shape: the rewritten symbol table is vocabulary-sized; corpus totals
    come from freq-weighted sums over it (each (word, pos) row counts
    freq corpus occurrences), so the aggregate never touches the corpus
    again after the initial word count inside the shared supersteps."""
    _, syms = state if state is not None else _bpe_supersteps(
        docs, n_merges
    )
    return syms.agg(
        F.sum(F.col("freq") * F.length("sym")).alias("total_chars"),
        F.sum("freq").alias("total_tokens"),
        F.countDistinct("sym").alias("vocab_symbols"),
    ).select(
        F.col("total_chars").cast("bigint").alias("total_chars"),
        F.col("total_tokens").cast("bigint").alias("total_tokens"),
        F.col("vocab_symbols").cast("bigint").alias("vocab_symbols"),
        F.round(
            F.col("total_chars") / F.col("total_tokens").cast("double"), 6
        ).alias("chars_per_token"),
    )


def bpe_vocab_stats_sql(src: str = "documents", n_merges: int = BPE_MERGES) -> str:
    """Same CTE chain as :func:`bpe_train_sql`, aggregated over the final
    symbol table instead of unioning the per-round winners."""
    base = bpe_train_sql(src, n_merges)
    # reuse the WITH chain; swap the final SELECT for the aggregate
    with_part = base[: base.rindex("SELECT 1 AS merge_rank")]
    return f"""{with_part}
        SELECT CAST(SUM(freq * length(sym)) AS BIGINT) AS total_chars,
               CAST(SUM(freq) AS BIGINT) AS total_tokens,
               CAST(COUNT(DISTINCT sym) AS BIGINT) AS vocab_symbols,
               ROUND(SUM(freq * length(sym))
                     / CAST(SUM(freq) AS DOUBLE), 6) AS chars_per_token
        FROM s{n_merges}
    """


# ---------------------------------------------------- bigram LM scoring
def bigram_logprob(docs: DataFrame) -> DataFrame:
    """Corpus-bigram language-model scoring — one order up from
    :func:`unigram_logprob` on the perplexity-filter ladder: every doc
    scored by its mean ``ln P(w_i | w_{i-1})`` under add-one smoothing,
    ``P(b|a) = (c(a,b)+1)/(c(a)+V)``. Word-salad that sails past the
    unigram filter (common words, impossible sequences) sits in this
    score's left tail — the signal KenLM-class filters actually use.

    Shape at scale: ONE bigram aggregate (map-side combinable, keyed on
    the pair string) + the unigram/vocab aggregates shared with the
    unigram scorer; scoring joins the exploded bigram table against the
    |bigrams|-row model relation (pair-keyed; Spark picks broadcast vs
    shuffle from model size), then one doc-keyed mean. The prefix count
    uses the standard unigram approximation (documented: doc-final
    tokens count as prefixes they never head)."""
    from .partitioning import spread

    toked = spread(docs).select("doc_id", tokens_col("text").alias("toks"))
    big = toked.select(
        "doc_id", F.explode(word_ngrams_col("toks", 2)).alias("bg")
    )
    uni = toked.select("doc_id", F.explode("toks").alias("w"))
    cb = big.groupBy("bg").agg(F.count("*").alias("cb"))
    ca = uni.groupBy("w").agg(F.count("*").alias("ca"))
    v = ca.agg(F.count("*").alias("v_size"))
    scored = (
        big.join(cb, "bg")
        .withColumn("w", F.expr("split_part(bg, ' ', 1)"))
        .join(ca, "w")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            F.log(
                (F.col("cb") + F.lit(1.0))
                / (F.col("ca") + F.col("v_size")).cast("double")
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("avg_logprob"),
    )


def bigram_logprob_sql(src: str = "documents") -> str:
    t = tokens_sql("text")
    g2 = word_ngrams_sql("toks", 2)
    return f"""
        WITH toked AS (SELECT doc_id, {t} AS toks FROM {src}),
        big AS MATERIALIZED (
          SELECT doc_id, UNNEST({g2}) AS bg FROM toked
        ),
        uni AS MATERIALIZED (
          SELECT doc_id, UNNEST(toks) AS w FROM toked
        ),
        cb AS (SELECT bg, COUNT(*) AS cb FROM big GROUP BY bg),
        ca AS (SELECT w, COUNT(*) AS ca FROM uni GROUP BY w),
        v AS (SELECT COUNT(*) AS v_size FROM ca),
        scored AS (
          SELECT big.doc_id,
                 LN((cb.cb + 1.0) / CAST(ca.ca + v.v_size AS DOUBLE)) AS lp
          FROM big
          JOIN cb USING (bg)
          JOIN ca ON ca.w = split_part(big.bg, ' ', 1)
          CROSS JOIN v
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               ROUND(AVG(lp), 6) AS avg_logprob
        FROM scored GROUP BY doc_id
    """


# ------------------------------------------------- readability scoring
def readability_scores(docs: DataFrame) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade per doc — the classic
    readability axis of a quality-filter ladder (alongside the Gopher
    rules and the LM scorers; extremely low ease correlates with
    boilerplate/jargon sludge, "too easy" with listicles/spam).

    Syllables use the standard vowel-group heuristic (runs of
    ``[aeiouy]+``, min 1 per word) — the published approximation every
    non-dictionary implementation uses; sentences split on ``[.!?]+``.
    One narrow codegen projection per doc: no shuffle, no UDF, nothing
    leaves the scan task at any corpus size. Docs with zero words emit
    NULL scores (guarded identically in the oracle — neither engine's
    divide-by-zero semantics are portable)."""
    toks = tokens_col("text")
    syls = (
        "aggregate(transform(toks, t -> greatest(1, "
        "size(regexp_extract_all(t, '[aeiouy]+', 0)))), 0, (acc, x) -> acc + x)"
    )
    sents = (
        "size(filter(split(text, '[.!?]+'), s -> trim(s) != ''))"
    )
    base = docs.select(
        "doc_id", "text", toks.alias("toks")
    ).select(
        "doc_id",
        F.expr(sents).alias("n_sentences"),
        F.size("toks").alias("n_words"),
        F.expr(syls).alias("n_syllables"),
    )
    wps = F.col("n_words") / F.greatest(F.col("n_sentences"), F.lit(1))
    spw = F.col("n_syllables") / F.col("n_words")
    guard = F.col("n_words") > 0
    return base.select(
        "doc_id",
        "n_sentences",
        "n_words",
        "n_syllables",
        F.when(
            guard, F.round(F.lit(206.835) - 1.015 * wps - 84.6 * spw, 4)
        ).alias("flesch_ease"),
        F.when(
            guard, F.round(0.39 * wps + 11.8 * spw - F.lit(15.59), 4)
        ).alias("fk_grade"),
    )


def readability_scores_sql(src: str = "documents") -> str:
    t = tokens_sql("text")
    return f"""
        WITH toked AS (
          SELECT doc_id, text, {t} AS toks FROM {src}
        ),
        base AS (
          SELECT doc_id,
                 len(list_filter(regexp_split_to_array(text, '[.!?]+'),
                     s -> trim(s) != '')) AS n_sentences,
                 len(toks) AS n_words,
                 COALESCE(list_sum([GREATEST(1,
                     len(regexp_extract_all(t, '[aeiouy]+')))
                     for t in toks]), 0) AS n_syllables
          FROM toked
        )
        SELECT doc_id,
               CAST(n_sentences AS INTEGER) AS n_sentences,
               CAST(n_words AS INTEGER) AS n_words,
               CAST(n_syllables AS INTEGER) AS n_syllables,
               CASE WHEN n_words > 0 THEN
                 ROUND(206.835
                       - 1.015 * (n_words / CAST(GREATEST(n_sentences, 1)
                                                 AS DOUBLE))
                       - 84.6 * (n_syllables / CAST(n_words AS DOUBLE)), 4)
               END AS flesch_ease,
               CASE WHEN n_words > 0 THEN
                 ROUND(0.39 * (n_words / CAST(GREATEST(n_sentences, 1)
                                              AS DOUBLE))
                       + 11.8 * (n_syllables / CAST(n_words AS DOUBLE))
                       - 15.59, 4)
               END AS fk_grade
        FROM base
    """


# --------------------------------------------- RAKE keyword extraction
RAKE_TOPK = 30


def rake_keywords(docs: DataFrame, k: int = RAKE_TOPK) -> DataFrame:
    """RAKE corpus keywords (Rose et al. 2010): candidate phrases are
    maximal stopword-free token runs; each word scores degree/frequency
    over the phrase table (degree = Σ lengths of phrases containing the
    word — co-occurrence mass; frequency = appearances), a phrase scores
    the sum of its word scores, and the corpus report is the top ``k``
    distinct phrases by (score, count). The stop list is the engine's
    ``STOPWORDS['en']`` (tiny by design — it drives the language-ID and
    quality features too; swap a fuller list in production).

    Shape at scale: phrase assembly is ONE doc-keyed window (the
    gaps-and-islands anchor ``pos − row_number``) over the non-stop
    tokens; word scores are a |vocab|-row keyed aggregate; phrase
    scoring joins words back on the word key and reduces per phrase
    text. Nothing is ever all-pairs and the top-k is a total order →
    TakeOrderedAndProject."""
    toked = docs.select(
        "doc_id", F.posexplode(tokens_col("text")).alias("pos", "w")
    ).filter(~F.col("w").isin(*STOPWORDS["en"]))
    dw = Window.partitionBy("doc_id").orderBy("pos")
    islands = toked.select(
        "doc_id",
        "w",
        "pos",
        (F.col("pos") - F.row_number().over(dw)).alias("island"),
    )
    phrases = islands.groupBy("doc_id", "island").agg(
        F.concat_ws(
            " ", F.array_sort(F.collect_list(F.struct("pos", "w"))).getField("w")
        ).alias("phrase"),
        F.count("*").alias("plen"),
    )
    words = phrases.select(
        F.explode(F.split("phrase", " ")).alias("w"), "plen"
    )
    scores = words.groupBy("w").agg(
        (F.sum("plen").cast("double") / F.count("*")).alias("wscore")
    )
    per_phrase = (
        phrases.select("phrase")
        .distinct()
        .select("phrase", F.explode(F.split("phrase", " ")).alias("w"))
        .join(scores, "w")
        .groupBy("phrase")
        .agg(F.round(F.sum("wscore"), 6).alias("score"))
    )
    counts = phrases.groupBy("phrase").agg(
        F.count("*").cast("long").alias("n_occurrences")
    )
    ranked = (
        per_phrase.join(counts, "phrase")
        .orderBy(F.desc("score"), F.desc("n_occurrences"), F.asc("phrase"))
        .limit(k)
    )
    return ranked.select("phrase", "score", "n_occurrences")


def rake_keywords_sql(src: str = "documents", k: int = RAKE_TOPK) -> str:
    t = tokens_sql("text")
    stop = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
        WITH toked0 AS (SELECT doc_id, {t} AS toks FROM {src}),
        pw0 AS (
          SELECT doc_id,
                 [{{'pos': i, 'w': toks[i]}}
                  for i in generate_series(1, len(toks))] AS pws
          FROM toked0
        ),
        pw AS (SELECT doc_id, UNNEST(pws, recursive := true) FROM pw0),
        ns AS (SELECT doc_id, pos, w FROM pw WHERE w NOT IN ({stop})),
        isl AS (
          SELECT doc_id, w, pos,
                 pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS island
          FROM ns
        ),
        phrases AS MATERIALIZED (
          SELECT doc_id, island,
                 string_agg(w, ' ' ORDER BY pos) AS phrase,
                 COUNT(*) AS plen
          FROM isl GROUP BY doc_id, island
        ),
        words AS (
          SELECT UNNEST(string_split(phrase, ' ')) AS w, plen FROM phrases
        ),
        scores AS (
          SELECT w, CAST(SUM(plen) AS DOUBLE) / COUNT(*) AS wscore
          FROM words GROUP BY w
        ),
        dp AS (SELECT DISTINCT phrase FROM phrases),
        pwords AS (
          SELECT phrase, UNNEST(string_split(phrase, ' ')) AS w FROM dp
        ),
        pscore AS (
          SELECT phrase, ROUND(SUM(wscore), 6) AS score
          FROM pwords JOIN scores USING (w) GROUP BY phrase
        ),
        counts AS (
          SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences
          FROM phrases GROUP BY phrase
        )
        SELECT p.phrase, p.score, c.n_occurrences
        FROM pscore p JOIN counts c USING (phrase)
        ORDER BY score DESC, n_occurrences DESC, phrase ASC
        LIMIT {k}
    """


def bigram_pmi(docs: DataFrame, k: int = 50, min_count: int = 5) -> DataFrame:
    """Collocation extraction by pointwise mutual information:
    ``pmi(a,b) = ln( (n_ab / N_bi) / ((n_a / N_uni) * (n_b / N_uni)) )``
    over adjacent token bigrams. Raw counts surface boilerplate
    (:func:`bigram_topk`); PMI surfaces PHRASES — pairs that co-occur
    far above chance ("los angeles") — the tokenizer-merge and
    stop-phrase candidates a curation run wants ranked. ``min_count``
    floors n_ab so one-off juxtapositions can't post infinite-looking
    scores.

    Shape: one corpus pass into the unigram aggregate, one into the
    bigram aggregate (both map-side combinable), then |bigrams|-row
    joins against the |vocab|-row count tables and two 1-row total
    broadcasts. The ln() argument is a ratio of exact integer counts
    (same doubles on both engines); scores are 6dp-rounded BEFORE
    ranking (the tfidf convention) with the bigram string as the total-
    order tiebreaker."""
    from pyspark.ml.feature import NGram

    from .partitioning import spread

    toked = spread(docs).select(tokens_col("text").alias("toks"))
    uni = toked.select(F.explode("toks").alias("w")).groupBy("w").agg(
        F.count("*").alias("n_w")
    )
    n_uni = uni.agg(F.sum("n_w").cast("double").alias("n_uni"))
    grams = NGram(n=2, inputCol="toks", outputCol="grams").transform(toked)
    bi = (
        grams.select(F.explode("grams").alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= min_count)
    )
    n_bi = bi.agg(F.sum("n_ab").cast("double").alias("n_bi"))
    first = F.split(F.col("bigram"), " ")[0]
    second = F.split(F.col("bigram"), " ")[1]
    ua = uni.select(F.col("w").alias("wa"), F.col("n_w").alias("n_a"))
    ub = uni.select(F.col("w").alias("wb"), F.col("n_w").alias("n_b"))
    joined = (
        bi.withColumn("wa", first)
        .withColumn("wb", second)
        .join(ua, "wa")
        .join(ub, "wb")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
    )
    pmi = F.round(
        F.log(
            (F.col("n_ab") / F.col("n_bi"))
            / ((F.col("n_a") / F.col("n_uni")) * (F.col("n_b") / F.col("n_uni")))
        ),
        6,
    )
    return (
        joined.select("bigram", "n_ab", "n_a", "n_b", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), F.asc("bigram"))
        .limit(k)
    )


def bigram_pmi_sql(
    src: str = "documents", k: int = 50, min_count: int = 5
) -> str:
    t = tokens_sql("text")
    g = word_ngrams_sql("toks", 2)
    return f"""
        WITH toks AS (SELECT doc_id, {t} AS toks FROM {src}),
        uni AS (SELECT UNNEST(toks) AS w FROM toks),
        uc AS (SELECT w, COUNT(*) AS n_w FROM uni GROUP BY w),
        nu AS (SELECT CAST(SUM(n_w) AS DOUBLE) AS n_uni FROM uc),
        grams AS (SELECT {g} AS grams FROM toks),
        bi AS (SELECT bigram, COUNT(*) AS n_ab FROM
                 (SELECT UNNEST(grams) AS bigram FROM grams) x
               GROUP BY bigram HAVING COUNT(*) >= {min_count}),
        nb AS (SELECT CAST(SUM(n_ab) AS DOUBLE) AS n_bi FROM bi)
        SELECT bigram, n_ab, n_a, n_b, pmi FROM (
          SELECT bi.bigram, bi.n_ab, ua.n_w AS n_a, ub.n_w AS n_b,
                 ROUND(LN((bi.n_ab / nb.n_bi)
                          / ((ua.n_w / nu.n_uni) * (ub.n_w / nu.n_uni))),
                       6) AS pmi
          FROM bi
          JOIN uc ua ON ua.w = split_part(bi.bigram, ' ', 1)
          JOIN uc ub ON ub.w = split_part(bi.bigram, ' ', 2)
          CROSS JOIN nu CROSS JOIN nb
        ) s
        ORDER BY pmi DESC, bigram ASC LIMIT {k}
    """


def vocab_growth_audit(docs: DataFrame, rsd: float = 0.02) -> DataFrame:
    """Heaps'-law vocabulary growth audit: per n-gram order (1/2/3) the
    total occurrences, EXACT distinct count, type-token ratio, and a
    bounded verdict that the HLL++ estimate — the only vocabulary
    counter that works at 100 TB — agrees with the exact count within
    4 standard errors (the ``approx_distinct_users`` convention: the
    engine-specific raw estimate stays OUT of the gated output, the
    boolean bound is the value-level check). A templated corpus shows up
    as a flat curve (trigram vocab barely above bigram); natural text
    keeps growing.

    Shape: one explode per order into a single unioned aggregate —
    exact countDistinct carries the gram shuffle at gate scale; the
    production path at 100 TB drops the exact column and keeps the
    sketch, same plan otherwise."""
    from .partitioning import spread

    toked = spread(docs).select(tokens_col("text").alias("toks"))
    parts = [
        toked.select(
            F.lit(n).alias("n"),
            F.explode(word_ngrams_col("toks", n)).alias("gram"),
        )
        for n in (1, 2, 3)
    ]
    grams = parts[0].unionByName(parts[1]).unionByName(parts[2])
    agg = grams.groupBy("n").agg(
        F.count("*").alias("total_grams"),
        F.countDistinct("gram").alias("exact_distinct"),
        F.approx_count_distinct("gram", rsd).alias("approx_distinct"),
    )
    return agg.select(
        "n",
        "total_grams",
        "exact_distinct",
        F.round(
            F.col("exact_distinct").cast("double")
            / F.col("total_grams").cast("double"),
            6,
        ).alias("ttr"),
        (
            F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
            <= 4 * rsd * F.col("exact_distinct")
        ).alias("within_bound"),
    )


def vocab_growth_audit_sql(src: str = "documents") -> str:
    t = tokens_sql("text")
    selects = []
    for n in (1, 2, 3):
        g = word_ngrams_sql("toks", n)
        selects.append(
            f"SELECT {n} AS n, UNNEST({g}) AS gram FROM toks"
        )
    union = " UNION ALL ".join(selects)
    return f"""
        WITH toks AS (SELECT doc_id, {t} AS toks FROM {src}),
        grams AS ({union})
        SELECT n,
               COUNT(*) AS total_grams,
               COUNT(DISTINCT gram) AS exact_distinct,
               ROUND(CAST(COUNT(DISTINCT gram) AS DOUBLE)
                     / CAST(COUNT(*) AS DOUBLE), 6) AS ttr,
               TRUE AS within_bound
        FROM grams GROUP BY n
    """


# ------------------------------------------- language-ID confusion matrix
def langid_confusion(docs: DataFrame) -> DataFrame:
    """Confusion matrix of :func:`language_id` against the corpus's
    labeled ``lang`` column — the classifier-quality audit run before
    trusting a heuristic language filter at corpus scale (a filter that
    silently routes 20% of one language to 'und' starves that language's
    mixture slice). Per (true lang, detected lang): doc count and the
    row-normalized share (recall on the diagonal, leakage off it), an
    exact small-integer ratio.

    One |langs|-fan-out classify pass (the language_id plan) joined to
    the label column, then a |langs|²-row aggregate — nothing after the
    classify is data-sized."""
    from pyspark.sql import Window

    pred = language_id(docs).select("doc_id", "detected_lang")
    joined = docs.select("doc_id", "lang").join(pred, "doc_id")
    per = joined.groupBy("lang", "detected_lang").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    w = Window.partitionBy("lang")
    return per.select(
        "lang",
        "detected_lang",
        "n_docs",
        F.round(
            F.col("n_docs") / F.sum("n_docs").over(w).cast("double"), 6
        ).alias("share"),
    )


def langid_confusion_sql(src: str = "documents") -> str:
    pred = language_id_sql(src)
    return f"""
        WITH pred AS ({pred}),
        per AS (
          SELECT d.lang, p.detected_lang,
                 CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM {src} d JOIN pred p USING (doc_id)
          GROUP BY 1, 2
        )
        SELECT lang, detected_lang, n_docs,
               ROUND(n_docs / CAST(SUM(n_docs) OVER (
                 PARTITION BY lang) AS DOUBLE), 6) AS share
        FROM per
    """


def bpe_encode_stats(
    docs: DataFrame, n_merges: int = BPE_MERGES
) -> DataFrame:
    """Tokenizer APPLICATION — the half of the BPE ladder
    :func:`bpe_train` doesn't cover: train the merge table on one half
    of the corpus (even doc_ids), encode the HELD-OUT half (odd doc_ids)
    by replaying the learned merges in rank order, and report what a
    tokenizer owner checks before shipping a vocabulary: held-out
    compression (chars per token), how much of the token stream the
    merges actually cover (``merged_token_share``), and how many
    held-out symbols the training corpus never saw (``new_symbols`` —
    the coverage gap that becomes bytes/UNK at serving time).

    Encoding reuses :func:`_bpe_apply_merge` VERBATIM (greedy
    left-to-right, islands parity), so train-time and apply-time
    segmentation can never drift — the property real BPE codebases get
    by sharing the merge function. Scale shape: the held-out corpus
    collapses to its word-frequency table once; each merge application
    is vocabulary-sized; the merge list is O(n_merges) driver state.
    """
    from .partitioning import materialize

    train = docs.filter(F.col("doc_id") % 2 == 0)
    heldout = docs.filter(F.col("doc_id") % 2 == 1)
    merges, final_train_syms = _bpe_supersteps(train, n_merges)
    h = _bpe_symbol_table(heldout)
    # every intermediate held-out table has exactly ONE consumer (the
    # next merge), and all merges share the (word, pos) partitioning —
    # chain them lazily into one plan (single exchange, 2 WindowExec
    # per merge) instead of a temp-parquet round trip per merge, and
    # materialize only the FINAL table, which is consumed twice below
    # (r10 optimization)
    for _, left, right, _ in merges:
        h = _bpe_apply_merge(h, left, right, materialized=False)
    h = materialize(h)
    train_vocab = final_train_syms.select("sym").distinct()
    new_syms = (
        h.select("sym")
        .distinct()
        .join(train_vocab, "sym", "left_anti")
        .agg(F.count("*").alias("new_symbols"))
    )
    return (
        h.agg(
            F.sum(F.col("freq") * F.length("sym"))
            .cast("bigint")
            .alias("heldout_chars"),
            F.sum("freq").cast("bigint").alias("heldout_tokens"),
            F.sum(F.when(F.length("sym") > 1, F.col("freq")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("merged_tokens"),
        )
        .crossJoin(F.broadcast(new_syms))
        .select(
            "heldout_chars",
            "heldout_tokens",
            F.round(
                F.col("heldout_chars") / F.col("heldout_tokens").cast("double"),
                6,
            ).alias("chars_per_token"),
            F.round(
                F.col("merged_tokens") / F.col("heldout_tokens").cast("double"),
                6,
            ).alias("merged_token_share"),
            F.col("new_symbols").cast("bigint").alias("new_symbols"),
        )
    )


def bpe_encode_stats_sql(
    src: str = "documents", n_merges: int = BPE_MERGES
) -> str:
    """Twin: the train chain on even doc_ids, then a parallel rewrite
    chain (h0..hN) over the held-out half driven by each round's b{k}."""
    train_src = f"(SELECT * FROM {src} WHERE doc_id % 2 = 0) tr"
    parts = _bpe_train_ctes(train_src, n_merges)
    t = tokens_sql("text")
    parts.append(f"""hwords AS MATERIALIZED (
          SELECT word, COUNT(*) AS freq FROM (
            SELECT UNNEST({t}) AS word
            FROM (SELECT * FROM {src} WHERE doc_id % 2 = 1) ho
          ) GROUP BY word
        )""")
    parts.append("""h0 AS MATERIALIZED (
          SELECT word, freq, i AS pos, substr(word, i, 1) AS sym
          FROM hwords, UNNEST(generate_series(1, length(word))) AS u(i)
        )""")
    for k in range(1, n_merges + 1):
        p = k - 1
        parts.append(f"""nh{k} AS MATERIALIZED (
          SELECT word, freq, pos, sym,
                 LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
          FROM h{p}
        )""")
        parts.append(f"""mh{k} AS MATERIALIZED (
          SELECT n.word, n.pos,
                 ROW_NUMBER() OVER (PARTITION BY n.word ORDER BY n.pos) AS rn
          FROM nh{k} n CROSS JOIN b{k} b
          WHERE n.sym = b.l AND n.nxt = b.r
        )""")
        parts.append(f"""th{k} AS MATERIALIZED (
          SELECT word, pos FROM (
            SELECT word, pos,
                   rn - MIN(rn) OVER (PARTITION BY word, pos - rn) AS off
            FROM mh{k}
          ) WHERE off % 2 = 0
        )""")
        parts.append(f"""h{k} AS MATERIALIZED (
          SELECT word, freq,
                 ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos) AS pos,
                 sym
          FROM (
            SELECT s.word, s.freq, s.pos,
                   CASE WHEN tk.pos IS NOT NULL THEN b.l || b.r
                        ELSE s.sym END AS sym
            FROM h{p} s CROSS JOIN b{k} b
            LEFT JOIN th{k} tk ON tk.word = s.word AND tk.pos = s.pos
            LEFT JOIN th{k} pv ON pv.word = s.word AND pv.pos = s.pos - 1
            WHERE pv.pos IS NULL
          )
        )""")
    ctes = ",\n        ".join(parts)
    return f"""
        WITH {ctes}
        SELECT CAST(SUM(freq * length(sym)) AS BIGINT) AS heldout_chars,
               CAST(SUM(freq) AS BIGINT) AS heldout_tokens,
               ROUND(SUM(freq * length(sym))
                     / CAST(SUM(freq) AS DOUBLE), 6) AS chars_per_token,
               ROUND(SUM(CASE WHEN length(sym) > 1 THEN freq ELSE 0 END)
                     / CAST(SUM(freq) AS DOUBLE), 6) AS merged_token_share,
               (SELECT COUNT(*) FROM (
                  SELECT DISTINCT sym FROM h{n_merges}
                  EXCEPT
                  SELECT DISTINCT sym FROM s{n_merges}
               )) AS new_symbols
        FROM h{n_merges}
    """


def langid_en_auc(docs: DataFrame) -> DataFrame:
    """ROC-AUC of the English stopword-hit score against the labeled
    language — grades the *ranking power* of the langid signal, where
    :func:`langid_confusion` grades only the argmax decision (a filter
    threshold is picked off this curve, not off the confusion matrix).
    Delegates to the exact tie-corrected Mann-Whitney in
    :func:`..validation.auc_exact`; the hit-count score is already an
    exact integer, so the whole statistic is integer-exact."""
    from .validation import auc_exact

    en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    scored = docs.select(
        F.size(
            F.filter(tokens_col("text"), lambda t: F.array_contains(en, t))
        ).alias("en_hits"),
        (F.col("lang") == "en").cast("int").alias("is_en"),
    )
    return auc_exact(scored, "en_hits", "is_en")


def langid_en_auc_sql(src: str = "documents") -> str:
    from .validation import auc_exact_sql

    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    t = tokens_sql("text")
    scored = (
        f"(SELECT len(list_filter({t}, x -> list_contains([{en}], x)))"
        f" AS en_hits, CAST(lang = 'en' AS INTEGER) AS is_en FROM {src}) q"
    )
    return auc_exact_sql(scored, "en_hits", "is_en")


def token_fertility(docs: DataFrame) -> DataFrame:
    """Per-language tokenizer fertility — tokens per whitespace word and
    characters per token — the numbers a token-budget plan is priced
    from (the same prose costs ~1x tokens in English and 2-3x in
    morphologically rich or unsegmented languages; fertility is how that
    enters the mixture arithmetic).

    Determinism: all four sums are exact bigint counts; the two ratios
    are one floor-scaled e6 division each over identical integer inputs.
    One combinable per-language reduce — nothing data-sized after the
    scan."""
    per = docs.select(
        "lang",
        F.size(F.expr("filter(split(text, ' '), x -> x != '')")).alias(
            "ws_words"
        ),
        F.size(tokens_col("text")).alias("toks"),
        F.length("text").alias("chars"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("ws_words").cast("long").alias("ws_words"),
            F.sum("toks").cast("long").alias("tokens"),
            F.sum("chars").cast("long").alias("chars"),
        )
        .select(
            "lang",
            "n_docs",
            "ws_words",
            "tokens",
            "chars",
            F.expr(
                "CAST(floor(tokens / nullif(CAST(ws_words AS DOUBLE), 0.0d)"
                " * 1e6 + 0.5) AS BIGINT)"
            ).alias("fertility_e6"),
            F.expr(
                "CAST(floor(chars / nullif(CAST(tokens AS DOUBLE), 0.0d)"
                " * 1e6 + 0.5) AS BIGINT)"
            ).alias("chars_per_token_e6"),
        )
        .orderBy("lang")
    )


def token_fertility_sql(src: str = "documents") -> str:
    t = tokens_sql("text")
    return f"""
        WITH per AS (
          SELECT lang,
                 len(list_filter(str_split(text, ' '), x -> x != ''))
                   AS ws_words,
                 len({t}) AS toks,
                 length(text) AS chars
          FROM {src}
        )
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(ws_words) AS BIGINT) AS ws_words,
               CAST(SUM(toks) AS BIGINT) AS tokens,
               CAST(SUM(chars) AS BIGINT) AS chars,
               CAST(floor(SUM(toks) / NULLIF(CAST(SUM(ws_words) AS DOUBLE),
                                             0.0)
                          * 1e6 + 0.5) AS BIGINT) AS fertility_e6,
               CAST(floor(SUM(chars) / NULLIF(CAST(SUM(toks) AS DOUBLE),
                                              0.0)
                          * 1e6 + 0.5) AS BIGINT) AS chars_per_token_e6
        FROM per
        GROUP BY lang
        ORDER BY lang
    """


# --------------------------------------- pseudo-relevance feedback (RM3-lite)
PRF_FB_DOCS = 5
PRF_FB_TERMS = 3


def prf_expanded_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    fb_docs: int = PRF_FB_DOCS,
    fb_terms: int = PRF_FB_TERMS,
    k1: float = BM25_K1,
    b: float = BM25_B,
    postings: DataFrame | None = None,
) -> DataFrame:
    """Pseudo-relevance-feedback retrieval (RM3-lite): run the seed BM25
    query, mine the top ``fb_docs`` results for the ``fb_terms``
    highest-weight expansion terms (feedback tf x corpus idf, seed terms
    excluded), and re-score the corpus with the expanded term set — the
    classic recall-widening second pass a lexical search stack runs when
    the seed query undershoots (Abdul-Jaleel et al., TREC 2004).

    Every stage is deterministic: both BM25 passes use the 6dp-rounded
    score with doc_id tiebreak; expansion-term selection ranks on the
    6dp-rounded feedback weight with a term tiebreak; the chosen
    expansion is surfaced on every output row (sorted, comma-joined) so
    the result is self-describing.

    Shape at scale: the seed pass is the filtered-postings BM25 plan;
    the feedback mine explodes ONLY the fb_docs shortlist; candidate-df
    and the expanded pass key the corpus explode to a broadcast term
    set (|seed| + |candidates| terms), so every shuffle carries matching
    postings, never the corpus.

    ``postings``: the standing :func:`term_postings` table (the registry
    shares ONE materialized build across the retrieval family — r11;
    the r10 form re-materialized a private copy on EVERY call, two
    eager write jobs per invocation). Without it the table is built and
    materialized inline, since four stages read it. Per-doc lengths are
    SUM(tf) grouped by doc and ``avgdl`` = Σtf / N(docs) — identical
    values by the :func:`bm25_topk` argument."""
    from .partitioning import materialize, spread

    terms = sorted({t.lower() for t in query_terms})
    if postings is None:
        # four stages read the exploded view (seed postings, feedback
        # mine, candidate df, final postings): tokenize + explode ONCE
        postings = materialize(
            spread(docs)
            .select("doc_id", F.explode(tokens_col("text")).alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf"))
        )
    lens = postings.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = (
        docs.agg(F.count("*").alias("n_docs"))
        .crossJoin(F.broadcast(postings.agg(F.sum("tf").alias("_tok"))))
        .select("n_docs", (F.col("_tok") / F.col("n_docs")).alias("avgdl"))
    )

    def bm25_over(posting):
        return (
            posting.join(
                F.broadcast(
                    posting.groupBy("term").agg(F.count("*").alias("df"))
                ),
                "term",
            )
            .join(lens, "doc_id")
            .crossJoin(F.broadcast(stats))
            .select(
                "doc_id",
                (
                    F.log(
                        (F.col("n_docs") - F.col("df") + F.lit(0.5))
                        / (F.col("df") + F.lit(0.5))
                        + F.lit(1.0)
                    )
                    * (F.col("tf") * (F.lit(k1) + 1))
                    / (
                        F.col("tf")
                        + F.lit(k1)
                        * (
                            F.lit(1.0)
                            - F.lit(b)
                            + F.lit(b) * F.col("dl") / F.col("avgdl")
                        )
                    )
                ).alias("w"),
            )
            .groupBy("doc_id")
            .agg(
                F.round(F.sum("w"), 6).alias("bm25"),
                F.count("*").cast("long").alias("n_matched_terms"),
            )
        )

    seed_posting = postings.filter(F.col("term").isin(terms))
    seed_top = (
        bm25_over(seed_posting)
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(fb_docs)
        .select("doc_id")
    )
    # feedback term counts from the shortlist only (Σtf == the former
    # per-occurrence count over the raw explode)
    fb_tf = (
        postings.join(F.broadcast(seed_top), "doc_id", "left_semi")
        .filter(~F.col("term").isin(terms))
        .groupBy("term")
        .agg(F.sum("tf").alias("tf_fb"))
    )
    # corpus df restricted to the candidate terms (postings rows are
    # already distinct (doc_id, term) pairs)
    cand_df = (
        postings.join(F.broadcast(fb_tf.select("term")), "term", "left_semi")
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    expansion = (
        fb_tf.join(F.broadcast(cand_df), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.round(
                F.col("tf_fb")
                * F.log(F.col("n_docs") / F.col("df").cast("double")),
                6,
            ).alias("fb_w"),
        )
        .orderBy(F.desc("fb_w"), F.asc("term"))
        .limit(fb_terms)
        .select("term")
    )
    # the chosen expansion is fb_terms rows — MODEL-scale driver state
    # (the k-means-fit discipline). Collecting it here instead of
    # broadcasting the whole seed->feedback->df subtree into the final
    # pass collapses the plan: the former lazy form nested the entire
    # first-pass pipeline (with its own broadcasts) inside TWO broadcast
    # branches of the final plan — a 117 KB formatted plan whose
    # planning/codegen dominated the query (r10 profile: 30 jobs).
    exp_terms = sorted(r["term"] for r in expansion.collect())
    all_terms = sorted(set(terms) | set(exp_terms))
    final_posting = postings.filter(F.col("term").isin(all_terms))
    return (
        bm25_over(final_posting)
        .withColumn("expansion", F.lit(",".join(exp_terms)))
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(k)
    )


def prf_expanded_topk_sql(
    query_terms: list[str],
    src: str = "documents",
    k: int = 10,
    fb_docs: int = PRF_FB_DOCS,
    fb_terms: int = PRF_FB_TERMS,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    t = tokens_sql("text")
    terms = sorted({x.lower() for x in query_terms})
    lit_terms = ", ".join(f"'{x}'" for x in terms)

    def bm25_cte(posting: str, out: str) -> str:
        return f"""{out}_df AS MATERIALIZED (
          SELECT term, COUNT(*) AS df FROM {posting} GROUP BY term
        ),
        {out} AS MATERIALIZED (
          SELECT doc_id, ROUND(SUM(w), 6) AS bm25,
                 CAST(COUNT(*) AS BIGINT) AS n_matched_terms
          FROM (
            SELECT p.doc_id,
                   LN((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
                   * (p.tf * ({k1} + 1))
                   / (p.tf + {k1} * (1.0 - {b} + {b} * l.dl / s.avgdl)) AS w
            FROM {posting} p
            JOIN {out}_df d USING (term)
            JOIN lens l USING (doc_id)
            CROSS JOIN stats s
          ) q GROUP BY doc_id
        )"""

    return f"""
        WITH toks AS MATERIALIZED (SELECT doc_id, {t} AS toks FROM {src}),
        lens AS MATERIALIZED (SELECT doc_id, len(toks) AS dl FROM toks),
        stats AS MATERIALIZED (
          SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM lens
        ),
        exploded AS MATERIALIZED (
          SELECT doc_id, UNNEST(toks) AS term FROM toks
        ),
        seed_posting AS MATERIALIZED (
          SELECT doc_id, term, COUNT(*) AS tf FROM exploded
          WHERE term IN ({lit_terms}) GROUP BY 1, 2
        ),
        {bm25_cte("seed_posting", "seed_scored")},
        seed_top AS MATERIALIZED (
          SELECT doc_id FROM seed_scored
          ORDER BY bm25 DESC, doc_id ASC LIMIT {int(fb_docs)}
        ),
        fb_tf AS MATERIALIZED (
          SELECT term, COUNT(*) AS tf_fb FROM exploded
          WHERE doc_id IN (SELECT doc_id FROM seed_top)
            AND term NOT IN ({lit_terms})
          GROUP BY term
        ),
        cand_df AS MATERIALIZED (
          SELECT term, COUNT(*) AS df FROM (
            SELECT DISTINCT doc_id, term FROM exploded
            WHERE term IN (SELECT term FROM fb_tf)
          ) q GROUP BY term
        ),
        expansion AS MATERIALIZED (
          SELECT f.term
          FROM fb_tf f JOIN cand_df c USING (term) CROSS JOIN stats s
          ORDER BY ROUND(f.tf_fb * LN(s.n_docs / CAST(c.df AS DOUBLE)), 6)
                   DESC, f.term ASC
          LIMIT {int(fb_terms)}
        ),
        all_terms AS MATERIALIZED (
          SELECT term FROM expansion
          UNION
          SELECT UNNEST([{lit_terms}]) AS term
        ),
        final_posting AS MATERIALIZED (
          SELECT doc_id, term, COUNT(*) AS tf FROM exploded
          WHERE term IN (SELECT term FROM all_terms) GROUP BY 1, 2
        ),
        {bm25_cte("final_posting", "final_scored")},
        exp_label AS MATERIALIZED (
          SELECT COALESCE(string_agg(term, ',' ORDER BY term), '')
            AS expansion
          FROM expansion
        )
        SELECT doc_id, bm25, n_matched_terms, expansion
        FROM final_scored CROSS JOIN exp_label
        ORDER BY bm25 DESC, doc_id ASC LIMIT {int(k)}
    """


# -------------------------------------------- weak-supervision diagnostics
# The label-model input audit (Ratner et al., "Snorkel: Rapid Training
# Data Creation with Weak Supervision", VLDB 2018): before any label
# model is fit, each labeling function is graded on coverage (how often
# it votes), accuracy against the gold slice, and agreement with the
# majority vote — the three numbers that decide whether an LF enters
# the ensemble or gets rewritten.
def weak_label_votes(docs: DataFrame) -> DataFrame:
    """Per-labeling-function diagnostics for the English-detection task
    (gold = the fixture's ``lang`` column): three deterministic LFs with
    Snorkel's vote/abstain semantics —

    - ``lf_the``: token 'the' present -> en, absent -> other (total
      coverage, the blunt high-recall cue);
    - ``lf_hits``: >=3 English stopword hits -> en, 0 hits -> other,
      else ABSTAIN (the confident-band LF);
    - ``lf_articles``: >=2 hits among {a, and, of} -> en, else ABSTAIN
      (a deliberately noisy overlap LF — every grade it earns here is
      honest signal that it should be down-weighted).

    Output: one row per LF plus the ``majority`` ensemble (per-doc
    majority of non-abstaining votes; ties abstain). All ratios are
    exact bigint-count divisions floor-scaled to the 1e-6 grid.

    Shape: one codegen projection computes every vote; the stacked
    (labeler, vote) explode feeds ONE combinable aggregate — |LFs|+1
    result rows, nothing data-sized after the scan."""
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    toks = f"filter(split(lower(text), '{TOKEN_SPLIT_RE}'), x -> x != '')"
    hits = f"size(filter({toks}, t -> array_contains(array({en}), t)))"
    art = (
        f"size(filter({toks},"
        " t -> array_contains(array('a', 'and', 'of'), t)))"
    )
    voted = docs.select(
        (F.col("lang") == "en").cast("int").alias("gold"),
        # trailing WHEN (no ELSE) keeps the column NULLABLE so all four
        # vote structs share one type in the stacking array below
        F.expr(
            f"CASE WHEN array_contains({toks}, 'the') THEN 1"
            " WHEN true THEN 0 END"
        ).alias("v_the"),
        F.expr(
            f"CASE WHEN {hits} >= 3 THEN 1 WHEN {hits} = 0 THEN 0 END"
        ).alias("v_hits"),
        F.expr(f"CASE WHEN {art} >= 2 THEN 1 END").alias("v_articles"),
    )
    # majority of the non-abstaining votes; ties abstain
    yes = "(v_the + coalesce(v_hits, 0) + coalesce(v_articles, 0))"
    n_vote = (
        "(1 + CASE WHEN v_hits IS NULL THEN 0 ELSE 1 END"
        " + CASE WHEN v_articles IS NULL THEN 0 ELSE 1 END)"
    )
    voted = voted.withColumn(
        "v_majority",
        F.expr(
            f"CASE WHEN 2 * {yes} > {n_vote} THEN 1"
            f" WHEN 2 * {yes} < {n_vote} THEN 0 END"
        ),
    )
    stacked = voted.select(
        "gold",
        F.explode(
            F.expr(
                "array(named_struct('labeler', 'lf_the', 'vote', v_the),"
                " named_struct('labeler', 'lf_hits', 'vote', v_hits),"
                " named_struct('labeler', 'lf_articles', 'vote', v_articles),"
                " named_struct('labeler', 'majority', 'vote', v_majority))"
            )
        ).alias("s"),
    ).select("gold", "s.labeler", "s.vote")
    tot = docs.agg(F.count("*").cast("long").alias("n_docs"))
    return (
        stacked.groupBy("labeler")
        .agg(
            F.sum(F.expr("CASE WHEN vote IS NOT NULL THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("n_votes"),
            F.sum(
                F.expr("CASE WHEN vote = gold THEN 1 ELSE 0 END")
            ).cast("long").alias("n_correct"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "labeler",
            "n_votes",
            F.expr(
                "CAST(floor(n_votes / CAST(n_docs AS DOUBLE)"
                " * 1e6 + 0.5) AS BIGINT)"
            ).alias("coverage_e6"),
            F.expr(
                "CASE WHEN n_votes > 0 THEN"
                " CAST(floor(n_correct / CAST(n_votes AS DOUBLE)"
                " * 1e6 + 0.5) AS BIGINT) END"
            ).alias("accuracy_e6"),
        )
        .orderBy("labeler")
    )


def weak_label_votes_sql(src: str = "documents") -> str:
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    t = tokens_sql("text")
    hits = f"len(list_filter({t}, x -> list_contains([{en}], x)))"
    art = f"len(list_filter({t}, x -> list_contains(['a','and','of'], x)))"
    yes = "(v_the + coalesce(v_hits, 0) + coalesce(v_articles, 0))"
    n_vote = (
        "(1 + CASE WHEN v_hits IS NULL THEN 0 ELSE 1 END"
        " + CASE WHEN v_articles IS NULL THEN 0 ELSE 1 END)"
    )
    return f"""
        WITH voted AS (
          SELECT CAST(lang = 'en' AS INTEGER) AS gold,
                 CASE WHEN list_contains({t}, 'the') THEN 1 ELSE 0 END
                   AS v_the,
                 CASE WHEN {hits} >= 3 THEN 1
                      WHEN {hits} = 0 THEN 0 END AS v_hits,
                 CASE WHEN {art} >= 2 THEN 1 END AS v_articles
          FROM {src}
        ),
        maj AS (
          SELECT *,
                 CASE WHEN 2 * {yes} > {n_vote} THEN 1
                      WHEN 2 * {yes} < {n_vote} THEN 0 END AS v_majority
          FROM voted
        ),
        stacked AS (
          SELECT gold, 'lf_the' AS labeler, v_the AS vote FROM maj
          UNION ALL
          SELECT gold, 'lf_hits', v_hits FROM maj
          UNION ALL
          SELECT gold, 'lf_articles', v_articles FROM maj
          UNION ALL
          SELECT gold, 'majority', v_majority FROM maj
        ),
        tot AS (SELECT COUNT(*) AS n_docs FROM {src})
        SELECT labeler,
               CAST(SUM(CASE WHEN vote IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_votes,
               CAST(FLOOR(SUM(CASE WHEN vote IS NOT NULL THEN 1 ELSE 0 END)
                          / CAST(n_docs AS DOUBLE) * 1e6 + 0.5) AS BIGINT)
                 AS coverage_e6,
               CASE WHEN SUM(CASE WHEN vote IS NOT NULL THEN 1 ELSE 0 END) > 0
                 THEN CAST(FLOOR(SUM(CASE WHEN vote = gold THEN 1 ELSE 0 END)
                      / CAST(SUM(CASE WHEN vote IS NOT NULL THEN 1 ELSE 0 END)
                             AS DOUBLE) * 1e6 + 0.5) AS BIGINT) END
                 AS accuracy_e6
        FROM stacked CROSS JOIN tot
        GROUP BY labeler, n_docs
        ORDER BY labeler
    """


# ------------------------------------------------ score calibration bins
def langid_calibration(docs: DataFrame) -> DataFrame:
    """Reliability diagram for the English-detection score — the third
    rung of the eval ladder (confusion matrix grades the argmax, AUC
    grades the ranking, calibration grades the PROBABILITIES a
    threshold-picker actually consumes): the stopword-hit score is
    squashed to p = h/(h+3), binned into five fixed probability bands,
    and each band reports its mean predicted confidence vs the observed
    English share. A well-calibrated filter has small gaps; Σ n·gap is
    the (unnormalized) expected calibration error.

    Determinism: NO float exists anywhere — p is materialized directly
    on the 1e-6 grid by BIGINT division (``h*1e6 div (h+3)``), bin ids
    by integer division of that, and both reported rates are single
    bigint divisions. One codegen projection + one combinable 5-group
    aggregate."""
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    toks = f"filter(split(lower(text), '{TOKEN_SPLIT_RE}'), x -> x != '')"
    hits = f"size(filter({toks}, t -> array_contains(array({en}), t)))"
    scored = docs.select(
        (F.col("lang") == "en").cast("long").alias("is_en"),
        F.expr(
            f"CAST({hits} AS BIGINT) * 1000000 div ({hits} + 3)"
        ).alias("p_e6"),
    )
    return (
        scored.groupBy(
            F.expr("p_e6 div 200000").cast("long").alias("bin_id")
        )
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("p_e6").alias("_sp"),
            F.sum("is_en").alias("_se"),
        )
        .select(
            "bin_id",
            "n_docs",
            F.expr("_sp div n_docs").cast("long").alias("mean_pred_e6"),
            F.expr("(_se * 1000000) div n_docs")
            .cast("long")
            .alias("obs_en_e6"),
            F.expr(
                "abs(_sp div n_docs - (_se * 1000000) div n_docs)"
            ).cast("long").alias("gap_e6"),
        )
        .orderBy("bin_id")
    )


def langid_calibration_sql(src: str = "documents") -> str:
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    t = tokens_sql("text")
    hits = f"len(list_filter({t}, x -> list_contains([{en}], x)))"
    return f"""
        WITH scored AS (
          SELECT CAST(lang = 'en' AS BIGINT) AS is_en,
                 (CAST({hits} AS BIGINT) * 1000000) // ({hits} + 3) AS p_e6
          FROM {src}
        ),
        b AS (
          SELECT p_e6 // 200000 AS bin_id,
                 COUNT(*) AS n_docs, SUM(p_e6) AS sp, SUM(is_en) AS se
          FROM scored GROUP BY 1
        )
        SELECT CAST(bin_id AS BIGINT) AS bin_id,
               CAST(n_docs AS BIGINT) AS n_docs,
               CAST(sp // n_docs AS BIGINT) AS mean_pred_e6,
               CAST((se * 1000000) // n_docs AS BIGINT) AS obs_en_e6,
               CAST(abs(sp // n_docs - (se * 1000000) // n_docs) AS BIGINT)
                 AS gap_e6
        FROM b
        ORDER BY bin_id
    """


# ------------------------------------------------- code-vs-prose triage
# Shared synthesis (both engines derive the same augmented text from
# doc_id, so the oracle checks the DETECTOR, not the synthesis — the
# url_canonical_dedup pattern): every 5th doc gets a code-ish tail.
_CODE_TAIL = (
    " def load(x) { return x + 1; } var y = f(x); class T { y = 2; }"
)
_CODE_SYNTH_SPARK = (
    "CASE WHEN doc_id % 5 = 0 "
    f"THEN concat(text, '{_CODE_TAIL}') ELSE text END"
)
# symbols that dominate source code but are rare in prose
_CODE_SYM_RE = "[{}();=]"


def code_detect(docs: DataFrame, sym_ppm_cut: int = 20_000,
                kw_cut: int = 2) -> DataFrame:
    """Code-vs-prose triage per source — the routing pass a training
    corpus runs before applying prose-only quality filters to code (or
    vice versa): symbol density (chars in ``{}();=`` per million chars)
    and code-keyword hits, both EXACT integers, classify each doc; the
    report aggregates per source.

    One codegen projection (two regexp passes over the text) + one
    combinable |sources|-group aggregate — embarrassingly parallel at
    100 TB, no shuffle before the tiny final agg."""
    full = F.expr(_CODE_SYNTH_SPARK)
    scored = docs.select(
        "source",
        F.length(full).alias("n_chars"),
        (
            F.length(full)
            - F.length(F.regexp_replace(full, _CODE_SYM_RE, ""))
        ).alias("n_sym"),
        F.size(
            # lit pattern, not a SQL string literal — Spark SQL literals
            # interpret backslash escapes ('\b' would become backspace)
            F.regexp_extract_all(
                full, F.lit(r"\b(def|return|var|function|class)\b"), 1
            )
        ).alias("n_kw"),
    ).select(
        "source",
        # exact integer div (a double division + cast could land one
        # ulp under the true integer and truncate wrong)
        F.expr("n_sym * 1000000 div n_chars").alias("sym_ppm"),
        "n_kw",
    )
    is_code = (F.col("sym_ppm") >= sym_ppm_cut) | (F.col("n_kw") >= kw_cut)
    return (
        scored.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(is_code.cast("long")).alias("n_code"),
            F.expr("sum(sym_ppm) div count(*)").alias("mean_sym_ppm"),
        )
        .select(
            "source",
            "n_docs",
            "n_code",
            F.expr("n_code * 1000000 div n_docs").alias("code_ppm"),
            "mean_sym_ppm",
        )
        .orderBy("source")
    )


def code_detect_sql(src: str = "documents", sym_ppm_cut: int = 20_000,
                    kw_cut: int = 2) -> str:
    """DuckDB twin of :func:`code_detect`. Spark's integer ``div`` on
    the ppm is mirrored by casting the float division down — both
    truncate toward zero on the same exact integers."""
    synth = (
        f"CASE WHEN doc_id % 5 = 0 THEN concat(text, '{_CODE_TAIL}') "
        "ELSE text END"
    )
    return f"""
        WITH scored AS (
          SELECT source,
                 CAST(
                   (length({synth})
                    - length(regexp_replace({synth}, '[{{}}();=]', '', 'g')))
                   * 1000000 // length({synth}) AS BIGINT) AS sym_ppm,
                 len(regexp_extract_all({synth},
                     '\\b(def|return|var|function|class)\\b', 1)) AS n_kw
          FROM {src}
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN sym_ppm >= {sym_ppm_cut}
                              OR n_kw >= {kw_cut} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_code,
               CAST(SUM(CASE WHEN sym_ppm >= {sym_ppm_cut}
                              OR n_kw >= {kw_cut} THEN 1 ELSE 0 END)
                    * 1000000 // COUNT(*) AS BIGINT) AS code_ppm,
               CAST(SUM(sym_ppm) // COUNT(*) AS BIGINT) AS mean_sym_ppm
        FROM scored
        GROUP BY 1
        ORDER BY 1
    """


def langid_macro_f1(docs: DataFrame) -> DataFrame:
    """Per-class precision / recall / F1 of :func:`language_id` plus the
    macro averages — the single-table scorecard a corpus-filter review
    reads (the confusion matrix says WHERE leakage goes; this says
    whether each language's filter is shippable, and macro-F1 weighs
    rare languages equally — exactly the failure multilingual corpus
    mixes care about).

    All exact integer ppm: precision = tp*1e6 div (tp+fp), recall =
    tp*1e6 div (tp+fn), and F1 in its cross-multiplied form
    2*tp*1e6 div (2*tp + fp + fn) — no ratio-of-rounded-ratios. The
    macro rows (lang='__macro__') average the per-class ppm values with
    one integer division. Everything after the classify pass rides the
    |langs|² confusion table."""
    pred = language_id(docs).select("doc_id", "detected_lang")
    joined = docs.select("doc_id", "lang").join(pred, "doc_id")
    per = joined.groupBy("lang", "detected_lang").agg(
        F.count("*").alias("n")
    )
    tp = per.filter(F.col("lang") == F.col("detected_lang")).select(
        "lang", F.col("n").alias("tp")
    )
    byt = per.groupBy("lang").agg(F.sum("n").alias("n_true"))
    byp = per.groupBy("detected_lang").agg(F.sum("n").alias("n_pred"))
    classes = (
        byt.join(
            byp, byt["lang"] == byp["detected_lang"], "full_outer"
        )
        .select(
            F.coalesce("lang", "detected_lang").alias("lang"),
            F.coalesce("n_true", F.lit(0)).alias("n_true"),
            F.coalesce("n_pred", F.lit(0)).alias("n_pred"),
        )
        .join(tp, "lang", "left")
        .select(
            "lang",
            "n_true",
            "n_pred",
            F.coalesce("tp", F.lit(0)).alias("tp"),
        )
        .select(
            "lang",
            "n_true",
            "n_pred",
            "tp",
            F.expr(
                "CASE WHEN n_pred = 0 THEN 0"
                " ELSE tp * 1000000 div n_pred END"
            ).alias("precision_ppm"),
            F.expr(
                "CASE WHEN n_true = 0 THEN 0"
                " ELSE tp * 1000000 div n_true END"
            ).alias("recall_ppm"),
            F.expr(
                "CASE WHEN n_true + n_pred = 0 THEN 0"
                " ELSE 2 * tp * 1000000 div (n_true + n_pred) END"
            ).alias("f1_ppm"),
        )
    )
    macro = classes.agg(
        F.lit("__macro__").alias("lang"),
        F.sum("n_true").alias("n_true"),
        F.sum("n_pred").alias("n_pred"),
        F.sum("tp").alias("tp"),
        F.expr("sum(precision_ppm) div count(*)").alias("precision_ppm"),
        F.expr("sum(recall_ppm) div count(*)").alias("recall_ppm"),
        F.expr("sum(f1_ppm) div count(*)").alias("f1_ppm"),
    )
    return classes.unionByName(macro).orderBy("lang")


def langid_macro_f1_sql(src: str = "documents") -> str:
    pred = language_id_sql(src)
    return f"""
        WITH pred AS ({pred}),
        per AS (
          SELECT d.lang, p.detected_lang, COUNT(*) AS n
          FROM {src} d JOIN pred p USING (doc_id)
          GROUP BY 1, 2
        ),
        tp AS (
          SELECT lang, n AS tp FROM per WHERE lang = detected_lang
        ),
        byt AS (SELECT lang, SUM(n) AS n_true FROM per GROUP BY 1),
        byp AS (
          SELECT detected_lang, SUM(n) AS n_pred FROM per GROUP BY 1
        ),
        classes AS (
          SELECT COALESCE(byt.lang, byp.detected_lang) AS lang,
                 CAST(COALESCE(n_true, 0) AS BIGINT) AS n_true,
                 CAST(COALESCE(n_pred, 0) AS BIGINT) AS n_pred,
                 CAST(COALESCE(tp.tp, 0) AS BIGINT) AS tp
          FROM byt
          FULL OUTER JOIN byp ON byt.lang = byp.detected_lang
          LEFT JOIN tp ON COALESCE(byt.lang, byp.detected_lang) = tp.lang
        ),
        scored AS (
          SELECT lang, n_true, n_pred, tp,
                 CAST(CASE WHEN n_pred = 0 THEN 0
                      ELSE tp * 1000000 // n_pred END AS BIGINT)
                   AS precision_ppm,
                 CAST(CASE WHEN n_true = 0 THEN 0
                      ELSE tp * 1000000 // n_true END AS BIGINT)
                   AS recall_ppm,
                 CAST(CASE WHEN n_true + n_pred = 0 THEN 0
                      ELSE 2 * tp * 1000000 // (n_true + n_pred) END
                      AS BIGINT) AS f1_ppm
          FROM classes
        )
        SELECT * FROM scored
        UNION ALL
        SELECT '__macro__' AS lang,
               CAST(SUM(n_true) AS BIGINT),
               CAST(SUM(n_pred) AS BIGINT),
               CAST(SUM(tp) AS BIGINT),
               CAST(SUM(precision_ppm) // COUNT(*) AS BIGINT),
               CAST(SUM(recall_ppm) // COUNT(*) AS BIGINT),
               CAST(SUM(f1_ppm) // COUNT(*) AS BIGINT)
        FROM scored
        ORDER BY lang
    """


# ------------------------------------------------------- phrase search
def phrase_search(docs: DataFrame, phrase: list[str]) -> DataFrame:
    """Positional phrase search — the exact-phrase retrieval the
    bag-of-words index (BM25 / tf-idf) cannot answer: a document matches
    when the phrase's tokens occur CONSECUTIVELY. Expressed as the
    positional self-join a positional inverted index performs: one
    token-position explode, one |phrase|-way equi-join on (doc_id,
    pos + offset) — each join leg is pre-filtered to ONE vocabulary
    term, so the joined sides are posting-list-sized, never corpus-
    sized. Output: matching docs with their match counts (total order
    on doc_id)."""
    if len(phrase) < 2:
        raise ValueError("phrase needs at least 2 tokens")
    pos = docs.select(
        "doc_id", F.posexplode(tokens_col("text")).alias("pos", "tok")
    )
    first = pos.filter(F.col("tok") == phrase[0]).select("doc_id", "pos")
    matched = first
    for i, w in enumerate(phrase[1:], start=1):
        leg = pos.filter(F.col("tok") == w).select(
            "doc_id", (F.col("pos") - i).alias("pos")
        )
        matched = matched.join(leg, ["doc_id", "pos"])
    return (
        matched.groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_matches"))
        .orderBy("doc_id")
    )


def phrase_search_sql(phrase: list[str], src: str = "documents") -> str:
    t = tokens_sql("text")
    legs = []
    for i, w in enumerate(phrase):
        legs.append(
            f"""l{i} AS (
          SELECT doc_id, i - {i} AS pos FROM pos WHERE tok = '{w}'
        )"""
        )
    joins = " ".join(
        f"JOIN l{i} USING (doc_id, pos)" for i in range(1, len(phrase))
    )
    ctes = ",\n        ".join(legs)
    return f"""
        WITH toks AS (SELECT doc_id, {t} AS tk FROM {src}),
        pos AS (
          SELECT doc_id, UNNEST(generate_series(1, len(tk))) AS i,
                 UNNEST(tk) AS tok
          FROM toks
        ),
        {ctes}
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches
        FROM l0 {joins}
        GROUP BY doc_id
        ORDER BY doc_id
    """
