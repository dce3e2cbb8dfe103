"""Text-analysis queries over the documents table (LLM-pipeline
extension ops): token stats, quality scoring, language ID,
fingerprinting, word count. Every one has a DuckDB mirror — the point is
that the heuristics are pure, engine-independent expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkprep.operators import text as tx
from sparkprep.queries import t

_EN = tx.EN_STOPWORDS  # the, a, and, of, to, in, is, it
_EN_SQL = "'" + "', '".join(_EN) + "'"


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token/char counts + mean word length per document, no explode."""
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.token_count("text").alias("n_tokens"),
        tx.char_count("text").alias("n_chars"),
        tx.avg_word_len("text").alias("avg_word_len"),
    )


_TEXT_STATS_SQL = """
SELECT doc_id,
       len(string_split(text, ' '))::BIGINT AS n_tokens,
       length(text)::BIGINT AS n_chars,
       round(list_sum(list_transform(string_split(text, ' '), x -> length(x)))::DOUBLE
             / len(string_split(text, ' ')), 4) AS avg_word_len
FROM documents
"""


def q_token_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish token counts side by side — the LLM
    token-budget estimate (regex classes: letter runs / digit runs /
    punctuation) next to the naive word count."""
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.token_count("text").alias("ws_tokens"),
        tx.regex_token_count("text").alias("bpe_ish_tokens"),
    )


_TOKEN_MODES_SQL = r"""
SELECT doc_id,
       len(string_split(text, ' '))::BIGINT AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::BIGINT AS bpe_ish_tokens
FROM documents
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (length/stopword/charset ramps)."""
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.stopword_ratio("text", _EN).alias("stop_ratio"),
        tx.quality_score("text").alias("quality"),
    )


_QUALITY_SQL = f"""
WITH s AS (
  SELECT doc_id,
         length(text) AS n,
         len(list_filter(string_split(text, ' '), x -> x IN ({_EN_SQL})))::DOUBLE
           / len(string_split(text, ' ')) AS stop_ratio_raw,
         length(regexp_replace(text, '[a-zA-Z ]', '', 'g'))::DOUBLE / length(text) AS non_alpha
  FROM documents
)
SELECT doc_id,
       round(stop_ratio_raw, 4) AS stop_ratio,
       round((
         (CASE WHEN n < 50 THEN n / 50.0
               WHEN n > 1000 THEN greatest(0.0, 1 - (n - 1000) / 4000.0)
               ELSE 1.0 END)
         + least(round(stop_ratio_raw, 6) / 0.15, 1.0)
         + (1 - round(non_alpha, 6))
       ) / 3, 4) AS quality
FROM s
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-evidence language ID with fixed alphabetical tie-break,
    compared against the label column for an agreement count."""
    docs = t(spark, sf_dir, "documents")
    return (
        tx.with_lang_id(docs.select("lang", "text"), "text", "lang_guess")
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy("lang", "lang_guess")
    )


_DE_SQL = "'der', 'die', 'und', 'das', 'ist', 'nicht', 'ein', 'mit'"
_ES_SQL = "'el', 'los', 'las', 'una', 'y', 'que', 'por', 'con'"
_FR_SQL = "'le', 'les', 'et', 'des', 'une', 'est', 'dans', 'pour'"

_LANG_ID_SQL = f"""
WITH s AS (
  SELECT lang,
         len(list_filter(string_split(text, ' '), x -> x IN ({_DE_SQL}))) AS s_de,
         len(list_filter(string_split(text, ' '), x -> x IN ({_EN_SQL}))) AS s_en,
         len(list_filter(string_split(text, ' '), x -> x IN ({_ES_SQL}))) AS s_es,
         len(list_filter(string_split(text, ' '), x -> x IN ({_FR_SQL}))) AS s_fr
  FROM documents
), g AS (
  SELECT lang,
         CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
              WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
              WHEN s_es >= s_fr THEN 'es'
              ELSE 'fr' END AS lang_guess
  FROM s
)
SELECT lang, lang_guess, count(*) AS count FROM g GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-trigram language ID (the n-gram heuristic; catches
    morphology inside words that token-level stopwords miss), as an
    agreement table against the label column."""
    docs = t(spark, sf_dir, "documents")
    return (
        tx.with_lang_id(docs.select("lang", "text"), "text", "lang_guess", method="ngram")
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy("lang", "lang_guess")
    )


def _lang_ngram_sql() -> str:
    score = {
        lang: " + ".join(
            f"(length(lower(text)) - length(replace(lower(text), '{g}', ''))) // 3"
            for g in grams
        )
        for lang, grams in tx._LANG_TRIGRAMS.items()
    }
    return f"""
WITH s AS (
  SELECT lang,
         {score['de']} AS s_de,
         {score['en']} AS s_en,
         {score['es']} AS s_es,
         {score['fr']} AS s_fr
  FROM documents
), g AS (
  SELECT lang,
         CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
              WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
              WHEN s_es >= s_fr THEN 'es'
              ELSE 'fr' END AS lang_guess
  FROM s
)
SELECT lang, lang_guess, count(*) AS count FROM g GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (md5) + near-dup-stable (min-shingle-md5) fingerprints."""
    docs = t(spark, sf_dir, "documents")
    out = tx.add_shingle_fingerprint(docs, "text", out_col="fp_shingle", k=3)
    return out.select(
        "doc_id",
        tx.fingerprint("text").alias("fp_exact"),
        "fp_shingle",
    )


_FINGERPRINT_SQL = """
WITH toks AS (
  SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents
)
SELECT doc_id,
       md5(text) AS fp_exact,
       list_min(list_transform(range(1, len(tk) - 1),
                i -> md5(tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))) AS fp_shingle
FROM toks
"""


def q_text_cleanup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """normalize (lowercase/whitespace/control) + PII redaction
    (email/URL/IP/phone → placeholder tokens) on deterministically
    dirtied text. DuckDB mirror needs the 'g' flag (Spark regexp_replace
    is global by default)."""
    docs = t(spark, sf_dir, "documents")
    dirty = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("  Contact USER"),
            F.col("doc_id").cast("string"),
            F.lit("@Example.COM via https://site"),
            F.col("doc_id").cast("string"),
            F.lit(".example/page?q=1 from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7\tEND"),
        ).alias("raw"),
    )
    return dirty.select(
        "doc_id", tx.redact_pii(tx.normalize_text("raw")).alias("clean")
    )


_TEXT_CLEANUP_SQL = r"""
WITH dirty AS (
  SELECT doc_id,
         text || '  Contact USER' || doc_id::VARCHAR || '@Example.COM via https://site'
              || doc_id::VARCHAR || '.example/page?q=1 from 10.0.' || (doc_id % 256)::VARCHAR
              || '.7' || chr(9) || 'END' AS raw
  FROM documents
), norm AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(raw), '[\x00-\x1f]', ' ', 'g'),
                             '\s+', ' ', 'g')) AS s
  FROM dirty
)
SELECT doc_id,
  regexp_replace(
    regexp_replace(
      regexp_replace(
        regexp_replace(s, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        'https?://[^\s]+', '<URL>', 'g'),
      '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
    '\b\+?\d{1,2}[-. ]?\(?\d{3}\)?[-. ]?\d{3}[-. ]?\d{4}\b', '<PHONE>', 'g') AS clean
FROM norm
"""


def _logit_z():
    """The fixed quality-model linear form — ONE definition feeding
    quality_logit AND score_calibration (Spark side); _LOGIT_Z_SQL is
    its verbatim SQL twin. Edit them together."""
    return (
        F.lit(-3.0)
        + 3.5 * F.col("alpha_ratio")
        + 0.4 * F.least(F.col("stop_hits").cast("double"), F.lit(10.0))
        - 6.0 * F.col("symbol_ratio")
        - 1.5 * F.col("bullet_ratio")
        - 2.0 * F.col("ellipsis_ratio")
        + 0.002 * F.least(F.col("n_words").cast("double"), F.lit(1000.0))
    )


_LOGIT_Z_SQL = """(-3.0 + 3.5 * alpha_ratio
                            + 0.4 * least(stop_hits, 10)
                            - 6.0 * symbol_ratio
                            - 1.5 * bullet_ratio
                            - 2.0 * ellipsis_ratio
                            + 0.002 * least(n_words, 1000))"""


def q_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration table for the distilled quality filter: fixed score
    buckets (floor(score·10), map-only — a global ntile would single-
    partition the corpus, the fixed grid scales) against the gopher
    rule gate's pass rate per bucket. The QA artifact that says whether
    the cheap logistic score agrees with the expensive rule stack."""
    docs = t(spark, sf_dir, "documents")
    sig = tx.gopher_quality_flags(docs, "text", required_stopwords=_EN)
    z = _logit_z()
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    # least() SKIPS nulls in both engines (least(NULL, 9) = 9!), so the
    # empty-doc NULL score needs an explicit branch, not a coalesce
    bucketed = sig.select(
        F.when(score.isNull(), F.lit(-1).cast("long"))
        .otherwise(F.least(F.floor(score * 10).cast("long"), F.lit(9).cast("long")))
        .alias("score_bucket"),
        F.col("pass").cast("int").alias("__p"),
    )
    return (
        bucketed.groupBy("score_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__p").cast("long").alias("n_pass"),
            F.round(F.avg("__p"), 4).alias("pass_rate"),
        )
        .orderBy("score_bucket")
    )




def q_pii_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source PII exposure audit over the same deterministically
    dirtied text as text_cleanup: occurrence counts per pattern
    (independent, on raw text — see operators/text.pii_census for why
    not chained) plus documents-with-any-hit. The audit that runs
    BEFORE a redaction pass and QA-checks it after."""
    docs = t(spark, sf_dir, "documents")
    dirty = docs.select(
        "source",
        F.concat(
            F.col("text"),
            F.lit("  Contact USER"),
            F.col("doc_id").cast("string"),
            F.lit("@Example.COM via https://site"),
            F.col("doc_id").cast("string"),
            F.lit(".example/page?q=1 from 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7\tEND"),
        ).alias("raw"),
    )
    return tx.pii_census(dirty, "raw", "source")


_PII_COUNT_COLS = ",\n       ".join(
    "sum(len(regexp_extract_all(raw, '{p}')))::BIGINT AS n_{n}".format(
        p=pat, n=tok.strip("<>").lower()
    )
    for pat, tok in tx.PII_PATTERNS
)
_PII_HIT = " OR ".join(
    "len(regexp_extract_all(raw, '{p}')) > 0".format(p=pat)
    for pat, _ in tx.PII_PATTERNS
)
_PII_CENSUS_SQL = rf"""
WITH dirty AS (
  SELECT source,
         text || '  Contact USER' || doc_id::VARCHAR || '@Example.COM via https://site'
              || doc_id::VARCHAR || '.example/page?q=1 from 10.0.' || (doc_id % 256)::VARCHAR
              || '.7' || chr(9) || 'END' AS raw
  FROM documents
)
SELECT source,
       {_PII_COUNT_COLS},
       sum(CASE WHEN {_PII_HIT} THEN 1 ELSE 0 END)::BIGINT AS docs_with_pii,
       count(*)::BIGINT AS n_docs
FROM dirty GROUP BY source ORDER BY source
"""


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics per document (duplicate-shingle
    fraction, top-token share)."""
    docs = t(spark, sf_dir, "documents")
    out = tx.add_repetition_signals(docs, "text", k=3)
    return out.select("doc_id", "dup_shingle_ratio", "top_token_ratio")


_REPETITION_SQL = """
WITH tk AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sh AS (
  SELECT doc_id, t,
         list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS s
  FROM tk
)
SELECT doc_id,
       round(CASE WHEN len(s) > 0
                  THEN 1 - len(list_distinct(s))::DOUBLE / len(s) END, 4) AS dup_shingle_ratio,
       round(CASE WHEN len(t) > 0
                  THEN list_max(list_transform(list_distinct(t),
                         d -> len(list_filter(t, x -> x = d))))::DOUBLE / len(t) END, 4) AS top_token_ratio
FROM sh
"""


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 64-token / 48-stride document chunks (RAG prep) —
    native explode, no UDTF."""
    docs = t(spark, sf_dir, "documents")
    return tx.chunk_documents(docs, "text", "doc_id", width=64, stride=48)


_DOC_CHUNKS_SQL = """
WITH tk AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), n AS (
  SELECT doc_id, t, greatest(ceil((len(t) - 16)::DOUBLE / 48)::BIGINT, 1) AS n_chunks
  FROM tk
), chunks AS (
  SELECT doc_id, i AS chunk_id,
         array_to_string(t[i * 48 + 1 : i * 48 + 64], ' ') AS chunk_text
  FROM n, UNNEST(range(0, n_chunks)) AS u(i)
)
SELECT doc_id, chunk_id, chunk_text,
       len(string_split(chunk_text, ' '))::BIGINT AS n_chunk_tokens
FROM chunks
"""


def q_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 — the wordcount (Pyspark-WordCount-1.py) DataFrame-native:
    explode + groupBy with map-side combine."""
    docs = t(spark, sf_dir, "documents")
    return tx.word_count(docs, "text")


_WORD_COUNT_SQL = """
SELECT token, count(*) AS count
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
GROUP BY token ORDER BY count DESC, token
"""


def q_udtf_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (§2.15 UDTF surface): word-bigram exploder in a
    LATERAL join. API-parity coverage for the table-function extension
    point — when the transform IS expressible natively, prefer the
    explode-based path (see q_doc_chunks / q_word_count): a row-wise
    Python UDTF is the slow path, so this query bounds its input
    (doc_id < 100) and exists to pin the UDTF contract (yield-per-row,
    lateral correlation, declared schema), not to win benchmarks."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: bigint, bigram: string")
    class WordBigrams:
        def eval(self, text: str):
            if text is None:
                return
            words = text.split(" ")
            for i in range(len(words) - 1):
                yield i, words[i] + " " + words[i + 1]

    spark.udtf.register("word_bigrams", WordBigrams)
    t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100).createOrReplaceTempView(
        "udtf_docs"
    )
    return spark.sql(
        "SELECT d.doc_id, b.pos, b.bigram FROM udtf_docs d, LATERAL word_bigrams(d.text) b"
    )


_UDTF_BIGRAMS_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents WHERE doc_id < 100),
e AS (SELECT doc_id, unnest(range(1, len(words))) AS i, words FROM w)
SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, words[i] || ' ' || words[i + 1] AS bigram
FROM e
"""


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM fluency proxy: mean log p(token) per doc under the
    corpus's own unigram distribution (text.unigram_lm_score). The
    standard cheap outlier-document filter in LLM-data pipelines."""
    docs = t(spark, sf_dir, "documents")
    return tx.unigram_lm_score(docs, "text", "doc_id")


_LM_SCORE_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS tok
  FROM documents
),
vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
lp AS (SELECT tok, ln(c / sum(c) OVER ()) AS lp FROM vocab)
SELECT doc_id, round(avg(lp.lp), 4) AS lm_score
FROM toks JOIN lp USING (tok)
GROUP BY doc_id
"""


def q_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential token packing (the concat-and-chunk step of LLM
    training prep): per-source running token total assigns each doc to
    the context-window pack its first token lands in. Window is
    partitioned by source — at 100 TB you pack per (source, date-shard)
    so no shard outgrows a task; the ORDER BY doc_id makes packing
    deterministic. Output is the per-pack manifest.

    100x toggle: ``token_packing_scale`` (scale_ops.q_token_packing_scale:
    ranks.global_cumsum grouped by source, range-spread running total,
    bit-identical manifest, same oracle) removes even the
    few-key window without needing the date-shard key."""
    budget = 2048
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "source", tx.token_count("text").alias("__nt")
    )
    w = Window.partitionBy("source").orderBy("doc_id")
    packed = docs.withColumn(
        "pack_id",
        F.floor((F.sum("__nt").over(w) - F.col("__nt")) / budget).cast("long"),
    )
    return packed.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nt").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
    )


_TOKEN_PACKING_SQL = r"""
WITH d AS (
  SELECT doc_id, source,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))::BIGINT AS nt
  FROM documents
),
p AS (
  SELECT doc_id, source, nt,
         CAST(floor((sum(nt) OVER (PARTITION BY source ORDER BY doc_id) - nt) / 2048.0) AS BIGINT) AS pack_id
  FROM d
)
SELECT source, pack_id, count(*) AS n_docs, sum(nt)::BIGINT AS n_tokens, min(doc_id) AS first_doc
FROM p GROUP BY source, pack_id
"""


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF weights per (doc, token): two map-combined shuffles + a
    token join; N embedded as a one-job scalar (retrieval/RAG prep)."""
    docs = t(spark, sf_dir, "documents")
    return tx.tf_idf(docs, "text", "doc_id")


_TFIDF_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS token
  FROM documents
),
tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY 1)
SELECT doc_id, token, tf, df,
       round(tf * ln((SELECT count(DISTINCT doc_id) FROM documents)::DOUBLE / df), 4) AS tfidf
FROM tf JOIN dfreq USING (token)
"""

def q_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 TF-IDF terms as a
    comma-joined string (doc metadata enrichment for search/tagging).
    Ranks on the ROUNDED tfidf with a token tie-break so the cut is
    engine-deterministic; the window is keyed by doc_id over the
    already-aggregated (doc, token) frame — no raw-data windows."""
    from pyspark.sql.window import Window

    docs = t(spark, sf_dir, "documents")
    w = tx.tf_idf(docs, "text", "doc_id")
    win = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    top = w.withColumn("rn", F.row_number().over(win)).filter(F.col("rn") <= 3)
    from sparkprep.functions.strings import ordered_join

    return (
        top.groupBy("doc_id")
        .agg(ordered_join("rn", "token").alias("keywords"))
        .orderBy("doc_id")
    )


_KEYWORDS_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS token
  FROM documents
),
tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY 1),
w AS (
  SELECT doc_id, token,
         round(tf * ln((SELECT count(DISTINCT doc_id) FROM documents)::DOUBLE / df), 4) AS tfidf
  FROM tf JOIN dfreq USING (token)
),
ranked AS (
  SELECT doc_id, token,
         row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rn
  FROM w
)
SELECT doc_id, string_agg(token, ',' ORDER BY rn) FILTER (WHERE rn <= 3) AS keywords
FROM ranked GROUP BY doc_id ORDER BY doc_id
"""


_BM25_TERMS = ["spark", "join", "vector"]


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance of every document to a fixed term set (keyword
    retrieval / contamination-lookup scoring), Lucene idf form."""
    docs = t(spark, sf_dir, "documents")
    return tx.bm25_scores(docs, "text", "doc_id", _BM25_TERMS)


_BM25_TERMS_SQL = "'" + "', '".join(_BM25_TERMS) + "'"

_BM25_SQL = rf"""
WITH d AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS tk
  FROM documents
),
stats AS (
  SELECT count(*)::DOUBLE AS n, round(avg(len(tk))::DOUBLE, 6) AS avgdl FROM d
),
toks AS (SELECT doc_id, len(tk) AS dl, unnest(tk) AS token FROM d),
tf AS (
  SELECT doc_id, token, count(*) AS tf, first(dl) AS dl
  FROM toks WHERE token IN ({_BM25_TERMS_SQL}) GROUP BY doc_id, token
),
dfreq AS (SELECT token, count(*)::DOUBLE AS df FROM tf GROUP BY token)
SELECT doc_id,
       round(sum(
         ln(1 + ((SELECT n FROM stats) - df + 0.5) / (df + 0.5))
         * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / (SELECT avgdl FROM stats)))
       ), 4) AS bm25
FROM tf JOIN dfreq USING (token)
GROUP BY doc_id
"""


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token -> capped sorted postings list + df (the search-side
    artifact of the corpus); postings as a comma-joined string for
    engine-portable comparison."""
    docs = t(spark, sf_dir, "documents")
    return tx.inverted_index(docs, "text", "doc_id", max_postings=100)


_INVERTED_INDEX_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS token
  FROM documents
),
tf AS (SELECT token, doc_id FROM toks GROUP BY token, doc_id)
SELECT token, count(*)::BIGINT AS df,
       array_to_string(list_sort(list(doc_id))[1:100], ',') AS postings
FROM tf GROUP BY token
"""


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per document against the corpus's own
    top-20 tokens (tokenizer-coverage check in LLM data prep: high OOV
    = domain drift or noise). Vocab is a 20-row broadcast; the per-doc
    ratio is one avg over an anti-join-flagged token stream."""
    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tx.tokens("text")).alias("token"))
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.desc("__c"), F.asc("token"))
        .limit(20)
        .select("token", F.lit(True).alias("__in_vocab"))
    )
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.avg(F.when(F.col("__in_vocab").isNull(), 1.0).otherwise(0.0)), 4
            ).alias("oov_rate")
        )
    )


_OOV_RATE_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS token
  FROM documents
),
vocab AS (
  SELECT token FROM toks GROUP BY token
  ORDER BY count(*) DESC, token LIMIT 20
)
SELECT doc_id,
       round(avg(CASE WHEN v.token IS NULL THEN 1.0 ELSE 0.0 END), 4) AS oov_rate
FROM toks LEFT JOIN vocab v USING (token)
GROUP BY doc_id
"""


def q_per_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic K-per-group sampling: 3 documents per source,
    chosen by md5-hash order (engine-portable, unlike Spark's RNG
    sampler — the md5 convention all oracle-reaching hashing uses).
    The distributed form of 'grab a few examples from every shard';
    the rank<=k filter compiles to WindowGroupLimit (map-side per-group
    limit, <=3 rows per key per task — plan-asserted in
    test_plans_quality), so the few-key window never sorts a shard."""
    from pyspark.sql.window import Window

    docs = t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "source", F.col("rn").cast("long").alias("rn"))
    )


_PER_GROUP_SAMPLE_SQL = """
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
  FROM documents
)
SELECT doc_id, source, rn::BIGINT AS rn FROM ranked WHERE rn <= 3
"""


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-rule gate (Rae et al. 2021): every signal
    column plus the conjunction, map-only over the scan. The required-
    stopword rule uses the corpus's own stopword set (rule lists are
    language/corpus configuration — the canonical Gopher list is
    English-web-specific and constant-rejects this synthetic corpus)."""
    docs = t(spark, sf_dir, "documents")
    return tx.gopher_quality_flags(docs, "text", required_stopwords=_EN).select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "symbol_ratio",
        "bullet_ratio",
        "ellipsis_ratio",
        "alpha_ratio",
        "stop_hits",
        "pass",
    )


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training sequence-length histogram: BPE-ish token counts bucketed
    to 64-token bins with corpus share — the report that sizes context
    windows and packing efficiency before a training run. One map-side-
    combined groupBy (bucket cardinality ~= max_len/16, tiny); the share
    window runs over the aggregated frame only."""
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    bucketed = docs.select(
        (F.floor(tx.regex_token_count("text") / 16) * 16).cast("long").alias("bucket_lo")
    )
    agg = bucketed.groupBy("bucket_lo").agg(F.count(F.lit(1)).alias("n_docs"))
    # empty partitionBy is safe HERE: the window input is the already-
    # aggregated bucket frame (dozens of rows), not raw data
    total = F.sum("n_docs").over(Window.partitionBy())
    return agg.select(
        "bucket_lo",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round(F.col("n_docs") / total, 4).alias("share"),
    )


_LENGTH_HISTOGRAM_SQL = r"""
WITH b AS (
  SELECT (floor(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) / 16) * 16)::BIGINT AS bucket_lo
  FROM documents
),
agg AS (SELECT bucket_lo, count(*) AS n_docs FROM b GROUP BY bucket_lo)
SELECT bucket_lo, n_docs::BIGINT AS n_docs,
       round(n_docs::DOUBLE / sum(n_docs) OVER (), 4) AS share
FROM agg
"""


_GOPHER_STOPS = _EN_SQL

# Shared signal CTEs: gopher_rules surfaces the raw signals + gate;
# quality_logit scores the same signals through a fixed logistic model.
_GOPHER_SIG_CTES = rf"""staged AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS tk,
         list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS ln
  FROM documents
),
sig AS (
  SELECT doc_id,
         len(tk)::BIGINT AS n_words,
         CASE WHEN len(tk) > 0
              THEN round(list_sum(list_transform(tk, x -> length(x)))::DOUBLE / len(tk), 4)
         END AS mean_word_len,
         CASE WHEN len(tk) > 0
              THEN round(((length(text) - length(replace(text, '#', '')))
                          + (length(text) - length(replace(text, '...', ''))) / 3)::DOUBLE
                         / len(tk), 4)
         END AS symbol_ratio,
         CASE WHEN len(ln) > 0
              THEN round(len(list_filter(ln, x -> substr(ltrim(x), 1, 1) IN ('-', '*', '•')))::DOUBLE
                         / len(ln), 4)
              ELSE 0.0 END AS bullet_ratio,
         CASE WHEN len(ln) > 0
              THEN round(len(list_filter(ln, x -> ends_with(rtrim(x), '...') OR ends_with(rtrim(x), '…')))::DOUBLE
                         / len(ln), 4)
              ELSE 0.0 END AS ellipsis_ratio,
         CASE WHEN len(tk) > 0
              THEN round(len(list_filter(tk, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE
                         / len(tk), 4)
         END AS alpha_ratio,
         len(list_intersect(list_transform(tk, x -> lower(x)), [{_GOPHER_STOPS}]))::BIGINT AS stop_hits
  FROM staged
)"""

_GOPHER_GATE_SQL = """coalesce(n_words >= 50 AND n_words <= 100000
                AND mean_word_len >= 3 AND mean_word_len <= 10
                AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
                AND ellipsis_ratio <= 0.3 AND alpha_ratio >= 0.8
                AND stop_hits >= 2, false)"""

_GOPHER_SQL = rf"""
WITH {_GOPHER_SIG_CTES}
SELECT *,
       {_GOPHER_GATE_SQL} AS pass
FROM sig
"""


def q_quality_logit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model scoring at corpus scale: a FIXED-coefficient logistic
    quality model applied natively over the gopher signals — the shape
    of serving a distilled fastText/LR quality filter (the fit is a
    small-sample problem, see features.fit_quality_classifier; the
    100 TB-relevant part is this map-only scoring pass). Signals are the
    rounded values, the linear form is written identically on both
    engines, so the score is bit-reproducible."""
    docs = t(spark, sf_dir, "documents")
    sig = tx.gopher_quality_flags(docs, "text", required_stopwords=_EN)
    z = _logit_z()
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return sig.select(
        "doc_id",
        F.round(score, 6).alias("quality_logit"),
        F.coalesce(score >= 0.5, F.lit(False)).alias("keep"),
    )


_QUALITY_LOGIT_SQL = rf"""
WITH {_GOPHER_SIG_CTES},
scored AS (
  SELECT doc_id,
         1.0 / (1.0 + exp(-{_LOGIT_Z_SQL})) AS score
  FROM sig
)
SELECT doc_id, round(score, 6) AS quality_logit,
       coalesce(score >= 0.5, false) AS keep
FROM scored
"""


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document (text.readability): vowel-group
    syllable proxy, sentence runs floored at 1 — a map-only quality
    feature whose constants and op order the oracle mirrors verbatim."""
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.token_count("text").alias("n_words"),
        F.greatest(
            F.regexp_count("text", F.lit(r"[.!?]+")), F.lit(1)
        ).cast("long").alias("n_sentences"),
        tx.readability("text").alias("flesch"),
    )


_READABILITY_SQL = r"""
WITH s AS (
  SELECT doc_id,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                         x -> x <> '')) AS w,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS snt,
         sv AS syl
  FROM (
    SELECT *, greatest(
        len(regexp_extract_all(lower(text), '[aeiouy]+')),
        len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                        x -> x <> ''))) AS sv
    FROM documents
  )
)
SELECT doc_id, w::BIGINT AS n_words, snt::BIGINT AS n_sentences,
       round(206.835 - 1.015 * (w / snt) - 84.6 * (syl / w), 4) AS flesch
FROM s
"""


def q_auc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of the distilled logistic quality score against the
    gopher rule gate — the one-number answer to "does the cheap model
    rank documents the way the expensive rule stack labels them"
    (complements score_calibration's per-bucket view). Computed at
    1000-bin granularity (features.binned_auc): one map-combined
    groupBy, cumulative rank structure over the ≤1000-row aggregated
    frame, mid-rank tie convention. The score is rounded at 6 before
    binning, matching the calibration query's contract."""
    from sparkprep.operators.features import binned_auc

    docs = t(spark, sf_dir, "documents")
    sig = tx.gopher_quality_flags(docs, "text", required_stopwords=_EN)
    z = _logit_z()
    scored = sig.select(
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("score"),
        F.col("pass"),
    )
    return binned_auc(scored, "score", "pass", bins=1000)


_AUC_QUALITY_SQL = rf"""
WITH {_GOPHER_SIG_CTES},
scored AS (
  SELECT round(1.0 / (1.0 + exp(-{_LOGIT_Z_SQL})), 6) AS score,
         {_GOPHER_GATE_SQL} AS pass
  FROM sig
),
binned AS (
  SELECT least(greatest(floor(score * 1000), 0), 999)::BIGINT AS b,
         sum(CASE WHEN pass THEN 1 ELSE 0 END) AS pos,
         sum(CASE WHEN pass THEN 0 ELSE 1 END) AS neg
  FROM scored WHERE score IS NOT NULL GROUP BY 1
),
cum AS (
  SELECT pos, neg,
         coalesce(sum(neg) OVER (ORDER BY b
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS neg_below
  FROM binned
)
SELECT round((sum(pos * neg_below) + 0.5 * sum(pos * neg))
             / (sum(pos) * sum(neg)), 6) AS auc,
       sum(pos)::BIGINT AS n_pos, sum(neg)::BIGINT AS n_neg
FROM cum
"""


def q_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (PR-AUC) of the distilled quality score
    against the gopher gate — auc_quality's companion for the
    imbalanced regime, where ROC flatters a scorer that merely ranks
    the big negative class well
    (``features.binned_average_precision``: same 1000-bin map-combined
    fold, descending cumulative precision over the bounded bin frame,
    per-bin terms DECIMAL-recast so the cross-bin sum is
    order-independent). base_rate is the no-skill floor to read ap
    against."""
    from sparkprep.operators.features import binned_average_precision

    docs = t(spark, sf_dir, "documents")
    sig = tx.gopher_quality_flags(docs, "text", required_stopwords=_EN)
    z = _logit_z()
    scored = sig.select(
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6).alias("score"),
        F.col("pass"),
    )
    return binned_average_precision(scored, "score", "pass", bins=1000)


_PR_AUC_SQL = rf"""
WITH {_GOPHER_SIG_CTES},
scored AS (
  SELECT round(1.0 / (1.0 + exp(-{_LOGIT_Z_SQL})), 6) AS score,
         {_GOPHER_GATE_SQL} AS pass
  FROM sig
),
binned AS (
  SELECT least(greatest(floor(score * 1000), 0), 999)::BIGINT AS b,
         sum(CASE WHEN pass THEN 1 ELSE 0 END) AS pos,
         sum(CASE WHEN pass THEN 0 ELSE 1 END) AS neg
  FROM scored WHERE score IS NOT NULL GROUP BY 1
),
cum AS (
  SELECT pos,
         sum(pos) OVER (ORDER BY b DESC ROWS UNBOUNDED PRECEDING) AS cp,
         sum(neg) OVER (ORDER BY b DESC ROWS UNBOUNDED PRECEDING) AS cn
  FROM binned
)
SELECT round(sum((pos * (cp::DOUBLE / (cp + cn)::DOUBLE))::DECIMAL(38,12))::DOUBLE
             / max(cp)::DOUBLE, 6) AS ap,
       round(max(cp)::DOUBLE / (max(cp) + max(cn))::DOUBLE, 6) AS base_rate,
       max(cp)::BIGINT AS n_pos, max(cn)::BIGINT AS n_neg
FROM cum
"""


def q_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth curve: cumulative distinct token
    types vs cumulative tokens in doc-id order, read out every 256th
    document — the corpus-health curve that says whether new data is
    still contributing vocabulary or just repeating it. Distributed
    shape: per-token first-seen doc is one groupBy MIN (after a
    row-local array_distinct — never dropDuplicates on the exploded
    stream); per-doc new-type counts fold back; BOTH running totals
    come from ``ranks.global_cumsum`` (range-partition + broadcast
    prefix offsets), never a single-partition window over the
    doc-grain frame. ttr = types/tokens, one division per checkpoint
    row."""
    from sparkprep.operators import ranks

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("__tk")
    )
    per_doc = docs.select(
        "doc_id",
        F.size("__tk").alias("__nt"),
        F.array_distinct("__tk").alias("__uniq"),
    )
    first_seen = (
        per_doc.select("doc_id", F.explode("__uniq").alias("__tok"))
        .groupBy("__tok")
        .agg(F.min("doc_id").alias("__first"))
    )
    new_types = first_seen.groupBy(
        F.col("__first").alias("doc_id")
    ).agg(F.count(F.lit(1)).alias("__new"))
    base = per_doc.select("doc_id", "__nt").join(
        new_types, "doc_id", "left"
    ).select(
        "doc_id",
        "__nt",
        F.coalesce(F.col("__new"), F.lit(0)).alias("__new"),
    )
    c1 = ranks.global_cumsum(
        base, [F.asc("doc_id")], "__nt", cum_name="__ct"
    )
    c2 = ranks.global_cumsum(
        c1, [F.asc("doc_id")], "__new", cum_name="__cv"
    )
    return c2.filter(F.col("doc_id") % 256 == 0).select(
        "doc_id",
        F.col("__ct").cast("long").alias("cum_tokens"),
        F.col("__cv").cast("long").alias("cum_types"),
        F.round(
            F.try_divide(
                F.col("__cv").cast("double"), F.col("__ct").cast("double")
            ),
            6,
        ).alias("ttr"),
    )


_VOCAB_GROWTH_SQL = """
WITH per_doc AS (
  SELECT doc_id,
         len(string_split(text, ' ')) AS nt,
         list_distinct(string_split(text, ' ')) AS uniq
  FROM documents
),
first_seen AS (
  SELECT tok, min(doc_id) AS first_doc
  FROM (SELECT doc_id, unnest(uniq) AS tok FROM per_doc)
  GROUP BY 1
),
new_types AS (
  SELECT first_doc AS doc_id, count(*) AS nv FROM first_seen GROUP BY 1
),
base AS (
  SELECT p.doc_id, p.nt, coalesce(n.nv, 0) AS nv
  FROM per_doc p LEFT JOIN new_types n ON p.doc_id = n.doc_id
),
c AS (
  SELECT doc_id,
         sum(nt) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS ct,
         sum(nv) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cv
  FROM base
)
SELECT doc_id, ct::BIGINT AS cum_tokens, cv::BIGINT AS cum_types,
       round(cv::DOUBLE / ct::DOUBLE, 6) AS ttr
FROM c WHERE doc_id % 256 = 0
"""


def q_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-number calibration summary for the distilled quality score:
    expected calibration error (ECE, 10 fixed buckets — the weighted
    |accuracy − confidence| gap score_calibration shows per bucket)
    plus the Brier score, in ONE map-combined bin fold: per-bin counts,
    pass counts, DECIMAL-exact score sums, and DECIMAL-exact per-row
    squared-error sums; the final fold over the 10-row bin frame is
    plain aggregation (no window, no scalar attach). Per-bin
    acc/conf are deterministic IEEE ops on the exact sums, re-cast to
    DECIMAL(38,12) before the cross-bin weighted sum. NULL scores
    (empty docs) drop."""
    docs = t(spark, sf_dir, "documents")
    sig = tx.gopher_quality_flags(docs, "text", required_stopwords=_EN)
    z = _logit_z()
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    staged = sig.select(
        score.alias("__s"), F.col("pass").cast("int").alias("__p")
    ).filter(F.col("__s").isNotNull())
    binned = staged.groupBy(
        F.least(F.floor(F.col("__s") * 10).cast("long"), F.lit(9).cast("long")).alias("__b")
    ).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__p").alias("__pos"),
        F.sum(F.col("__s").cast("decimal(9,6)")).alias("__ss"),
        F.sum(
            (
                (F.col("__s") - F.col("__p")) * (F.col("__s") - F.col("__p"))
            ).cast("decimal(38,12)")
        ).alias("__sq"),
    )
    acc = F.col("__pos").cast("double") / F.col("__n")
    conf = F.col("__ss").cast("double") / F.col("__n")
    term = (F.col("__n") * F.abs(acc - conf)).cast("decimal(38,12)")
    return binned.agg(
        F.round(
            F.try_divide(
                F.sum(term).cast("double"), F.sum("__n").cast("double")
            ),
            6,
        ).alias("ece"),
        F.round(
            F.try_divide(
                F.sum("__sq").cast("double"), F.sum("__n").cast("double")
            ),
            6,
        ).alias("brier"),
        F.sum("__n").cast("long").alias("n_rows"),
    )


_CALIBRATION_ERROR_SQL = rf"""
WITH {_GOPHER_SIG_CTES},
scored AS (
  SELECT round(1.0 / (1.0 + exp(-{_LOGIT_Z_SQL})), 6) AS s,
         (CASE WHEN {_GOPHER_GATE_SQL} THEN 1 ELSE 0 END) AS p
  FROM sig
),
cal_staged AS (SELECT s, p FROM scored WHERE s IS NOT NULL),
binned AS (
  SELECT least(floor(s * 10), 9)::BIGINT AS b,
         count(*) AS n, sum(p) AS pos,
         sum(s::DECIMAL(9,6)) AS ss,
         sum(((s - p) * (s - p))::DECIMAL(38,12)) AS sq
  FROM cal_staged GROUP BY 1
)
SELECT round(sum((n * abs(pos::DOUBLE / n - ss::DOUBLE / n))::DECIMAL(38,12))::DOUBLE
             / sum(n)::DOUBLE, 6) AS ece,
       round(sum(sq)::DOUBLE / sum(n)::DOUBLE, 6) AS brier,
       sum(n)::BIGINT AS n_rows
FROM binned
"""


_SCORE_CALIBRATION_SQL = rf"""
WITH {_GOPHER_SIG_CTES},
scored AS (
  SELECT round(1.0 / (1.0 + exp(-{_LOGIT_Z_SQL})), 6) AS score,
         {_GOPHER_GATE_SQL} AS pass
  FROM sig
)
SELECT CASE WHEN score IS NULL THEN -1
            ELSE least(floor(score * 10)::BIGINT, 9) END AS score_bucket,
       count(*)::BIGINT AS n_docs,
       sum(CASE WHEN pass THEN 1 ELSE 0 END)::BIGINT AS n_pass,
       round(avg(CASE WHEN pass THEN 1 ELSE 0 END), 4) AS pass_rate
FROM scored GROUP BY 1 ORDER BY 1
"""



def q_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the top-500 tokens: ln(freq) ~ ln(rank) slope
    and r2 — the corpus-health number that catches boilerplate floods
    and failed dedup without reading a sample."""
    docs = t(spark, sf_dir, "documents")
    return tx.zipf_slope(docs, "text", top_n=500)


_ZIPF_SQL = """
WITH tc AS (
  SELECT token, count(*) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY 1
),
top AS (SELECT token, n FROM tc ORDER BY n DESC, token ASC LIMIT 500),
ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, token ASC) AS r FROM top
)
SELECT count(*)::BIGINT AS n_tokens,
       round(regr_slope(ln(n), ln(r)), 4) AS zipf_slope,
       round(regr_r2(ln(n), ln(r)), 4) AS r2
FROM ranked
"""



_VOCAB_KS = (100, 500, 1000)


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocab-sizing curve: corpus token mass covered by the
    top-k tokens for k in (100, 500, 1000) — the OOV forecast."""
    docs = t(spark, sf_dir, "documents")
    return tx.vocab_coverage(docs, "text", ks=_VOCAB_KS).orderBy("k")


def _vocab_sql() -> str:
    blocks = []
    for k in _VOCAB_KS:
        blocks.append(f"""
SELECT {k}::BIGINT AS k,
       count(*)::BIGINT AS vocab_tokens,
       round(sum(n)::DOUBLE / (SELECT sum(n) FROM tc)::DOUBLE, 6) AS coverage
FROM (SELECT n, row_number() OVER (ORDER BY n DESC, token ASC) AS r FROM tc)
WHERE r <= {k}""")
    u = " UNION ALL ".join(blocks)
    return f"""
WITH tc AS (
  SELECT token, count(*) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
  GROUP BY 1
)
{u}
ORDER BY k
"""


_BLOCK_TERMS = ["slow", "hash", "merge"]


def q_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist tagging via broadcast term join (term list is DATA,
    not a regex alternation — the form that survives a 100k-term list):
    per-doc blocked-token occurrences, distinct blocked terms, hit rate
    and a 10% flag. Zero-hit docs survive the null-safe join-back."""
    docs = t(spark, sf_dir, "documents")
    return tx.blocklist_hits(
        docs, "text", "doc_id", _BLOCK_TERMS, rate_threshold=0.1
    )


_BLOCKLIST_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         lower(unnest(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))) AS token
  FROM documents
),
terms(token) AS (VALUES ('hash'), ('merge'), ('slow')),
hits AS (SELECT doc_id, count(*) AS n_hits, count(DISTINCT token) AS n_terms
         FROM toks JOIN terms USING (token) GROUP BY doc_id),
base AS (SELECT doc_id,
                len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))::BIGINT AS n_tokens
         FROM documents)
SELECT b.doc_id, b.n_tokens,
       coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       coalesce(h.n_terms, 0)::BIGINT AS n_terms,
       round(coalesce(h.n_hits, 0)::DOUBLE / nullif(b.n_tokens, 0), 4) AS hit_rate,
       coalesce(round(coalesce(h.n_hits, 0)::DOUBLE / nullif(b.n_tokens, 0), 4) >= 0.1,
                false) AS flagged
FROM base b LEFT JOIN hits h USING (doc_id)
"""


def q_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility (BPE-ish tokens per word) and
    chars-per-token — the 'which language is expensive to train on'
    numbers. One map-combined aggregate over exact integer counts."""
    docs = t(spark, sf_dir, "documents")
    return tx.token_fertility(docs, "text", "lang")


_TOKEN_FERTILITY_SQL = r"""
SELECT lang,
       count(*)::BIGINT AS n_docs,
       sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')))::BIGINT AS n_tokens,
       round(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')))::DOUBLE
             / nullif(sum(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))), 0), 4) AS fertility,
       round(sum(length(text))::DOUBLE
             / nullif(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))), 0), 4) AS chars_per_token
FROM documents
GROUP BY lang
"""


def q_lang_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID CONFIDENCE: the top1 - top2 trigram-score gap per
    document (margin 0 = the guess is a coin flip — route to a heavier
    model or drop). Scores materialize once into an array; the margin
    is two elements of its descending sort — row-local, map-only."""
    docs = t(spark, sf_dir, "documents")
    # scores staged as columns ONCE: the argmax CASE and the margin
    # array otherwise each re-evaluate the 20 trigram counts
    scores = tx.lang_ngram_scores("text")
    langs = sorted(scores)
    pre = docs.select(
        "doc_id", *[scores[k].alias(f"__sc_{k}") for k in langs]
    )
    cols = {k: F.col(f"__sc_{k}") for k in langs}
    arr = F.sort_array(F.array(*[cols[k] for k in langs]), asc=False)
    staged = pre.select("doc_id", tx.argmax_lang(cols).alias("lang_guess"), arr.alias("__s"))
    return staged.select(
        "doc_id",
        "lang_guess",
        (F.element_at("__s", 1) - F.element_at("__s", 2)).cast("long").alias("margin"),
    )


def _lang_margin_sql() -> str:
    score = {
        lang: " + ".join(
            f"(length(lower(text)) - length(replace(lower(text), '{g}', ''))) // 3"
            for g in grams
        )
        for lang, grams in tx._LANG_TRIGRAMS.items()
    }
    return f"""
WITH s AS (
  SELECT doc_id,
         {score['de']} AS s_de,
         {score['en']} AS s_en,
         {score['es']} AS s_es,
         {score['fr']} AS s_fr
  FROM documents
)
SELECT doc_id,
       CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
            WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
            WHEN s_es >= s_fr THEN 'es'
            ELSE 'fr' END AS lang_guess,
       (list_sort([s_de, s_en, s_es, s_fr], 'DESC')[1]
        - list_sort([s_de, s_en, s_es, s_fr], 'DESC')[2])::BIGINT AS margin
FROM s
"""


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training: the first 10 learned merges
    over the documents word vocabulary, with pair counts (operators/
    bpe.bpe_train — vocab-sized working set, one argmax row per round
    crossing the driver). NO ORACLE: the iterative argmax-and-rewrite
    is not SQL-expressible; the driver records the rows-only check and
    tests/test_bpe.py pins EXACT merge-sequence and encode parity
    against a pure-Python classic-BPE reference."""
    from sparkprep.operators import bpe

    docs = t(spark, sf_dir, "documents")
    merges = bpe.bpe_train(bpe.word_vocab(docs, "text"), num_merges=10)
    rows = [
        (i + 1, a, b, a + b, cnt) for i, (a, b, cnt) in enumerate(merges)
    ]
    return spark.createDataFrame(
        rows, "rank BIGINT, left STRING, right STRING, merged STRING, pair_count BIGINT"
    )


QUERIES = {
    "gopher_rules": q_gopher_rules,
    "quality_logit": q_quality_logit,
    "pii_census": q_pii_census,
    "score_calibration": q_score_calibration,
    "auc_quality": q_auc_quality,
    "pr_auc": q_pr_auc,
    "calibration_error": q_calibration_error,
    "vocab_growth": q_vocab_growth,
    "readability": q_readability,
    "length_histogram": q_length_histogram,
    "lang_id_ngram": q_lang_id_ngram,
    "token_modes": q_token_modes,
    "text_stats": q_text_stats,
    "quality_score": q_quality_score,
    "lang_id": q_lang_id,
    "fingerprint": q_fingerprint,
    "text_cleanup": q_text_cleanup,
    "repetition_signals": q_repetition_signals,
    "doc_chunks": q_doc_chunks,
    "word_count": q_word_count,
    "zipf": q_zipf,
    "vocab_coverage": q_vocab_coverage,
    "udtf_bigrams": q_udtf_bigrams,
    "lm_score": q_lm_score,
    "token_packing": q_token_packing,
    "tfidf": q_tfidf,
    "keywords": q_keywords,
    "bm25": q_bm25,
    "inverted_index": q_inverted_index,
    "oov_rate": q_oov_rate,
    "blocklist": q_blocklist,
    "token_fertility": q_token_fertility,
    "lang_margin": q_lang_margin,
    "per_group_sample": q_per_group_sample,    "bpe_merges": q_bpe_merges,
}

ORACLES = {
    "gopher_rules": _GOPHER_SQL,
    "quality_logit": _QUALITY_LOGIT_SQL,
    "pii_census": _PII_CENSUS_SQL,
    "score_calibration": _SCORE_CALIBRATION_SQL,
    "auc_quality": _AUC_QUALITY_SQL,
    "pr_auc": _PR_AUC_SQL,
    "calibration_error": _CALIBRATION_ERROR_SQL,
    "vocab_growth": _VOCAB_GROWTH_SQL,
    "readability": _READABILITY_SQL,
    "length_histogram": _LENGTH_HISTOGRAM_SQL,
    "lang_id_ngram": _lang_ngram_sql(),
    "token_modes": _TOKEN_MODES_SQL,
    "text_stats": _TEXT_STATS_SQL,
    "quality_score": _QUALITY_SQL,
    "lang_id": _LANG_ID_SQL,
    "fingerprint": _FINGERPRINT_SQL,
    "text_cleanup": _TEXT_CLEANUP_SQL,
    "repetition_signals": _REPETITION_SQL,
    "doc_chunks": _DOC_CHUNKS_SQL,
    "word_count": _WORD_COUNT_SQL,
    "zipf": _ZIPF_SQL,
    "vocab_coverage": _vocab_sql(),
    "udtf_bigrams": _UDTF_BIGRAMS_SQL,
    "lm_score": _LM_SCORE_SQL,
    "token_packing": _TOKEN_PACKING_SQL,
    "tfidf": _TFIDF_SQL,
    "keywords": _KEYWORDS_SQL,
    "bm25": _BM25_SQL,
    "inverted_index": _INVERTED_INDEX_SQL,
    "oov_rate": _OOV_RATE_SQL,
    "blocklist": _BLOCKLIST_SQL,
    "token_fertility": _TOKEN_FERTILITY_SQL,
    "lang_margin": _lang_margin_sql(),
    "per_group_sample": _PER_GROUP_SAMPLE_SQL,
}
