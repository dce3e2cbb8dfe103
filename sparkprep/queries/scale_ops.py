"""Scale-substitute operators under the driver contract: embedding
quantization (exact oracle — the math is deterministic double
arithmetic mirrored expression-for-expression in DuckDB) and sketch
aggregates (rows-only by design: HLL++/GK sketch values are
algorithm-specific, so the error-bound verification lives in
tests/test_sketches.py against the exact answers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkprep.operators import quantize, ranks, sketches
from sparkprep.queries import relational_ext, t
from sparkprep.queries import temporal_grouped as _tg
from sparkprep.checkpointing import lazy_checkpoint

_DIM = 64
_LEVELS = 255


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-style scalar quantization fidelity over the embeddings
    table: per-vector bounds, mean absolute reconstruction error, and
    cosine(original, dequantized). 4x storage/shuffle compression with
    provably bounded error — checked exactly against DuckDB running the
    identical floor((x-min)/span*levels+0.5) pipeline."""
    emb = t(spark, sf_dir, "embeddings")
    stats = quantize.reconstruction_stats(emb, "embedding", levels=_LEVELS)
    return stats.select(
        "vec_id",
        F.round("q_min", 6).alias("q_min"),
        F.round("q_max", 6).alias("q_max"),
        F.round("mean_abs_err", 8).alias("mean_abs_err"),
        F.round("cos_fidelity", 6).alias("cos_fidelity"),
    )


_EMBEDDING_QUANTIZE_SQL = f"""
WITH base AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
),
bounds AS (
  SELECT vec_id, v, list_min(v) AS q_min, list_max(v) AS q_max FROM base
),
coded AS (
  SELECT vec_id, v, q_min, q_max,
         CASE WHEN q_max - q_min = 0
              THEN list_transform(v, x -> 0)
              ELSE list_transform(v, x ->
                floor((x - q_min) / (q_max - q_min) * {float(_LEVELS)} + 0.5)::INTEGER)
         END AS codes
  FROM bounds
),
dq AS (
  SELECT vec_id, v, q_min, q_max,
         list_transform(codes, c -> q_min + c::DOUBLE / {float(_LEVELS)} * (q_max - q_min)) AS dqv
  FROM coded
)
SELECT vec_id,
       round(q_min, 6) AS q_min,
       round(q_max, 6) AS q_max,
       round(list_sum(list_transform(range(1, {_DIM + 1}), i -> abs(v[i] - dqv[i]))) / {_DIM}, 8) AS mean_abs_err,
       round(
         list_sum(list_transform(range(1, {_DIM + 1}), i -> v[i] * dqv[i]))
         / (sqrt(list_sum(list_transform(range(1, {_DIM + 1}), i -> v[i] * v[i])))
            * sqrt(list_sum(list_transform(range(1, {_DIM + 1}), i -> dqv[i] * dqv[i])))),
         6) AS cos_fidelity
FROM dq
"""


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct counts over events (user_id, event_type) — the
    fixed-state substitute for exact COUNT(DISTINCT) at 100 TB.
    Rows-only under the driver (sketch values are HLL-implementation-
    specific); tests/test_sketches.py asserts |approx-exact|/exact
    within the published rsd bound."""
    ev = t(spark, sf_dir, "events")
    return sketches.approx_distinct_counts(ev, ["user_id", "event_type"], rsd=0.02)


def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GK-sketch percentiles of o_totalprice — mergeable, no per-group
    sort (exact twin: stats_extended's F.percentile). Rows-only under
    the driver; rank-error bound asserted in tests/test_sketches.py."""
    orders = t(spark, sf_dir, "orders")
    return sketches.approx_quantiles(
        orders, "o_totalprice", (0.25, 0.5, 0.75, 0.95), accuracy=10000
    )


_MIX_QUOTAS = {"en": 60, "de": 20, "fr": 12, "es": 8, "zh": 5}


def q_train_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix resampling: shape the documents corpus to a target
    language mix via exact per-language quotas, rows chosen by md5
    order (deterministic, engine-portable — no RNG). Languages under
    quota keep all rows; absent languages drop."""
    from sparkprep.operators import mix

    docs = t(spark, sf_dir, "documents")
    return mix.resample_to_quotas(docs, "lang", _MIX_QUOTAS, "doc_id").select(
        "doc_id", "lang", "mix_rank"
    )


_TRAIN_MIX_SQL = f"""
WITH ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
  FROM documents
)
SELECT doc_id, lang, rn::BIGINT AS mix_rank
FROM ranked
WHERE rn <= CASE lang
  WHEN 'en' THEN {_MIX_QUOTAS['en']} WHEN 'de' THEN {_MIX_QUOTAS['de']}
  WHEN 'fr' THEN {_MIX_QUOTAS['fr']} WHEN 'es' THEN {_MIX_QUOTAS['es']}
  WHEN 'zh' THEN {_MIX_QUOTAS['zh']} ELSE 0 END
"""

_Z_BITS = 8


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-order key over (partkey, suppkey) low bits — the
    multi-dimensional layout key used by ``zorder_layout`` before
    partitioned writes. Pure bit arithmetic (codegen, no UDF), mirrored
    bit-for-bit in the oracle."""
    from sparkprep.functions import zorder

    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    return zorder.add_zorder_key(
        li, ["l_partkey", "l_suppkey"], bits=_Z_BITS
    ).select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "zkey")


def _morton_sql() -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((((l_partkey & 255) >> {i}) & 1) << {2 * i})")
        terms.append(f"((((l_suppkey & 255) >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


_ZORDER_KEY_SQL = f"""
SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       ({_morton_sql()})::BIGINT AS zkey
FROM lineitem WHERE l_orderkey < 500
"""


_NUM_HASHES = 16
_BANDS = 4
_K = 3
_SEED = 42
_INC_THRESHOLD = 0.5


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (new-batch vs reference-corpus) MinHash dedup: the
    mutants (first token dropped, id+10000) arrive as today's batch,
    the documents table is the existing corpus — survivors are batch
    docs with no near-dup in the reference. Candidates come from a
    new-vs-ref band join only (cost ∝ batch, never ref x ref — the
    daily-ingest form at 100 TB)."""
    from sparkprep.operators import dedup as dd

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+ ", "").alias("text"),
    )
    # both signature sides are row-subsets of the session-shared
    # near-corpus signature frame (r10): the reference IS documents
    # (doc_id < 10000) and the batch IS the mutant rows with original
    # id % 5 == 0 — per-doc signatures depend only on (id, text), so
    # the filtered subsets are bit-identical to building each side
    # from scratch, and the shingle pipeline is paid once per session.
    from sparkprep.queries.llmprep import _shared_near_sigs

    sigs = _shared_near_sigs(spark, sf_dir)
    survivors = dd.incremental_minhash_filter(
        batch,
        sigs.filter((F.col("doc_id") >= 10000) & (F.col("doc_id") % 5 == 0)),
        sigs.filter(F.col("doc_id") < 10000),
        "doc_id",
        bands=_BANDS,
        est_threshold=_INC_THRESHOLD,
    )
    return survivors.select("doc_id")


def _incremental_dedup_sql() -> str:
    from sparkprep.operators import dedup as dd

    coeffs = dd.hash_coeffs(_NUM_HASHES, _SEED)
    P = dd.MERSENNE_P
    r = _NUM_HASHES // _BANDS
    sig_cols = ", ".join(
        f"min(({a}::BIGINT * h + {b}) % {P}) AS h{i}" for i, (a, b) in enumerate(coeffs)
    )

    def side(name: str, corpus: str) -> str:
        band_rows = " UNION ALL ".join(
            f"SELECT doc_id, {j}::BIGINT AS band, md5("
            + " || '_' || ".join(f"h{j * r + x}::VARCHAR" for x in range(r))
            + f") AS band_key FROM sig_{name}"
            for j in range(_BANDS)
        )
        return f"""
toks_{name} AS (SELECT doc_id, string_split(text, ' ') AS tk FROM {corpus}),
sh_{name} AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS s
       FROM toks_{name}, UNNEST(range(1, len(tk) - 1)) AS u(i)),
hv_{name} AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % {P} AS h FROM sh_{name}),
sig_{name} AS (SELECT doc_id, {sig_cols} FROM hv_{name} GROUP BY doc_id),
bands_{name} AS ({band_rows})"""

    agree = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(_NUM_HASHES)
    )
    return f"""
WITH batch AS (
  SELECT doc_id + 10000 AS doc_id, regexp_replace(text, '^\\S+ ', '') AS text
  FROM documents WHERE doc_id % 5 = 0
),
ref AS (SELECT doc_id, text FROM documents),
{side('new', 'batch')},
{side('ref', 'ref')},
cand AS (SELECT DISTINCT n.doc_id AS new_id, r.doc_id AS ref_id
         FROM bands_new n JOIN bands_ref r
           ON n.band = r.band AND n.band_key = r.band_key),
flagged AS (
  SELECT DISTINCT new_id
  FROM cand
  JOIN sig_new sa ON sa.doc_id = cand.new_id
  JOIN sig_ref sb ON sb.doc_id = cand.ref_id
  WHERE ({agree}) / {float(_NUM_HASHES)} >= {_INC_THRESHOLD}
)
SELECT doc_id FROM batch
WHERE doc_id NOT IN (SELECT new_id FROM flagged)
"""


def q_ann_ivf_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN at exhaustive probes (num_probes == num_centroids):
    every cell is searched, so results EQUAL brute-force cosine top-k
    and the brute-force oracle applies — this pins the IVF machinery
    (Lloyd centroids, cell assignment, probe union, in-cell rerank)
    under the driver's value-hash, while the recall tests cover the
    pruned-probe configurations."""
    from sparkprep.operators import similarity as sim

    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return sim.ann_ivf_topk(
        emb, queries, k=5, num_centroids=8, num_probes=8, seed=42
    )


def q_fuzzy_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage / fuzzy matching: find near-identical records by
    edit distance WITHOUT an all-pairs scan — candidates come from a
    blocking-key equi-join (a mutation-stable substring here; phonetic
    or fingerprint keys in the wild), then exact levenshtein scores the
    candidates only. Corpus: documents + planted one-char-substitution
    mutants (position 5 -> 'z', id+20000), so the expected distance is
    exactly the substitution distance."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 60).alias("s")
    ).filter(F.length("s") >= 20)
    mutants = docs.select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(
            F.substring("s", 1, 4), F.lit("z"), F.substring("s", 6, 55)
        ).alias("s"),
    )
    a = docs.select(
        F.col("doc_id").alias("id_a"),
        F.col("s").alias("s_a"),
        F.substring("s", 10, 8).alias("blk"),
    )
    b = mutants.select(
        F.col("doc_id").alias("id_b"),
        F.col("s").alias("s_b"),
        F.substring("s", 10, 8).alias("blk"),
    )
    return (
        a.join(b, "blk")
        .select(
            "id_a",
            "id_b",
            F.levenshtein("s_a", "s_b").cast("bigint").alias("dist"),
        )
        .filter(F.col("dist") <= 2)
    )


_FUZZY_LINKAGE_SQL = """
WITH docs AS (
  SELECT doc_id, substr(text, 1, 60) AS s FROM documents
  WHERE length(substr(text, 1, 60)) >= 20
),
mutants AS (
  SELECT doc_id + 20000 AS doc_id,
         substr(s, 1, 4) || 'z' || substr(s, 6, 55) AS s
  FROM docs
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       levenshtein(a.s, b.s)::BIGINT AS dist
FROM docs a
JOIN mutants b ON substr(a.s, 10, 8) = substr(b.s, 10, 8)
WHERE levenshtein(a.s, b.s) <= 2
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff — the dataset-versioning audit between two
    epochs: one full-outer join on id, content equality via md5, and a
    single status rollup (added / removed / changed / unchanged). The
    synthetic v2 snapshot deletes every 13th doc, edits every 17th
    surviving doc, and adds 20 fresh ids — mirrored exactly in SQL."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    v2 = (
        docs.filter(F.col("doc_id") % 13 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 17 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text")).alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") < 20).select(
                (F.col("doc_id") + 90000).alias("doc_id"), "text"
            )
        )
    )
    a = docs.select("doc_id", F.md5("text").alias("h_old"))
    b = v2.select("doc_id", F.md5("text").alias("h_new"))
    status = (
        F.when(F.col("h_old").isNull(), F.lit("added"))
        .when(F.col("h_new").isNull(), F.lit("removed"))
        .when(F.col("h_old") != F.col("h_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        a.join(b, "doc_id", "full_outer")
        .select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("status")
    )


_SNAPSHOT_DIFF_SQL = """
WITH v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 13 != 0
  UNION ALL
  SELECT doc_id + 90000, text FROM documents WHERE doc_id < 20
),
j AS (
  SELECT CASE WHEN a.doc_id IS NULL THEN 'added'
              WHEN b.doc_id IS NULL THEN 'removed'
              WHEN md5(a.text) != md5(b.text) THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM documents a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
)
SELECT status, count(*) AS n FROM j GROUP BY status ORDER BY status
"""


def q_cdc_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDC between the same two snapshots snapshot_diff rolls
    up: one I/U/D record per difference, new-side payload for I/U,
    old-side payload for D — the feed merge_upsert/merge_scd2 apply.
    One full-outer key join, unchanged rows dropped pre-shuffle-out."""
    from sparkprep.operators import transform

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    v2 = (
        docs.filter(F.col("doc_id") % 13 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 17 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text")).alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") < 20).select(
                (F.col("doc_id") + 90000).alias("doc_id"), "text"
            )
        )
    )
    feed = transform.cdc_extract(docs, v2, key_cols=["doc_id"], compare_cols=["text"])
    return feed.select(
        "doc_id", "op", F.md5("text").alias("digest")
    ).orderBy("doc_id")


_CDC_FEED_SQL = """
WITH v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 0 THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 13 != 0
  UNION ALL
  SELECT doc_id + 90000, text FROM documents WHERE doc_id < 20
),
j AS (
  SELECT coalesce(b.doc_id, a.doc_id) AS doc_id,
         a.text AS t_old, b.text AS t_new,
         a.doc_id IS NOT NULL AS has_old, b.doc_id IS NOT NULL AS has_new
  FROM documents a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
)
SELECT doc_id,
       CASE WHEN has_old AND has_new THEN 'U'
            WHEN has_new THEN 'I' ELSE 'D' END AS op,
       md5(CASE WHEN has_new THEN t_new ELSE t_old END) AS digest
FROM j
WHERE NOT (has_old AND has_new AND t_old IS NOT DISTINCT FROM t_new)
ORDER BY doc_id
"""


def q_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic sampling: keep a document with
    probability proportional to its (length-based) weight, decided by
    an md5 hash threshold instead of RNG — replayable by any engine,
    stable across runs/partitionings, and exactly the curation
    primitive for 'sample better docs more' at 100 TB."""
    from sparkprep.operators import dedup as dd

    docs = t(spark, sf_dir, "documents")
    w = F.least(F.col("n_chars") / 400.0, F.lit(1.0))
    keep = (dd.string_to_int_hash(F.col("doc_id").cast("string")) % 10000) < (
        F.floor(w * 10000)
    )
    return (
        docs.select("doc_id", F.round(w, 4).alias("weight"))
        .filter(keep)
        .orderBy("doc_id")
    )


_IMPORTANCE_SAMPLE_SQL = f"""
SELECT doc_id, round(least(n_chars / 400.0, 1.0), 4) AS weight
FROM documents
WHERE (('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 2147483647) % 10000
      < floor(least(n_chars / 400.0, 1.0) * 10000)
ORDER BY doc_id
"""


def q_incr_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the events rollup
    per (event_type, day), maintained by merging an 80% "base" partial
    aggregate with a 20% "delta" partial aggregate instead of
    rescanning everything (transform.merge_aggregates). The oracle is
    the full recompute over ALL events — the merge must be
    indistinguishable from it: counts/min/max merge exactly, and the
    money sum goes through DECIMAL(18,4) so addition is associative
    (a double sum would differ by grouping order). The 80/20 split is
    md5-deterministic on event_id, so both engines can draw it."""
    from sparkprep.operators import transform
    from sparkprep.operators.dedup import string_to_int_hash

    ev = t(spark, sf_dir, "events").select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.col("value").cast("decimal(18,4)").alias("__vd"),
        F.col("value").alias("__v"),
        (string_to_int_hash(F.col("event_id").cast("string")) % 10).alias(
            "__bucket"
        ),
    )

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type", "day").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__vd").alias("total"),
            F.min("__v").alias("vmin"),
            F.max("__v").alias("vmax"),
        )

    merged = transform.merge_aggregates(
        rollup(ev.filter(F.col("__bucket") < 8)),
        rollup(ev.filter(F.col("__bucket") >= 8)),
        ["event_type", "day"],
        {"n": "sum", "total": "sum", "vmin": "min", "vmax": "max"},
    )
    return merged.select(
        "event_type",
        "day",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("total").cast("double"), 4).alias("total"),
        F.round("vmin", 4).alias("vmin"),
        F.round("vmax", 4).alias("vmax"),
    )


_INCR_AGG_SQL = """
SELECT event_type,
       strftime(ts::TIMESTAMP, '%Y-%m-%d') AS day,
       count(*)::BIGINT AS n,
       round(sum(value::DECIMAL(18,4))::DOUBLE, 4) AS total,
       round(min(value), 4) AS vmin,
       round(max(value), 4) AS vmax
FROM events GROUP BY 1, 2
"""




_MATRYOSHKA_K = 16


def q_embedding_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit: energy retained, truncated norm,
    and cosine(full, zero-padded truncation) when only the first 16 of
    64 dims are stored. The go/no-go check before a prefix-serving
    rollout (store k dims, re-rank finalists at full d). Native double
    HOF aggregates; DuckDB mirrors the identical slice/sum pipeline."""
    emb = t(spark, sf_dir, "embeddings")
    stats = quantize.matryoshka_stats(emb, "embedding", k=_MATRYOSHKA_K)
    return stats.select(
        "vec_id",
        F.round("energy_k", 6).alias("energy_k"),
        F.round("norm_k", 6).alias("norm_k"),
        F.round("cos_trunc", 6).alias("cos_trunc"),
    )


_EMBEDDING_TRUNCATE_SQL = f"""
WITH base AS (
  SELECT vec_id,
         list_transform(embedding, x -> x::DOUBLE) AS v
  FROM embeddings
),
sliced AS (
  SELECT vec_id, v, v[1:{_MATRYOSHKA_K}] AS vk FROM base
),
ss AS (
  SELECT vec_id,
         list_sum(list_transform(v, x -> x * x)) AS ss_full,
         list_sum(list_transform(vk, x -> x * x)) AS ss_k
  FROM sliced
)
SELECT vec_id,
       round(ss_k / nullif(ss_full, 0), 6) AS energy_k,
       round(sqrt(ss_k), 6) AS norm_k,
       round(sqrt(ss_k) / nullif(sqrt(ss_full), 0), 6) AS cos_trunc
FROM ss
"""


_CMS_DEPTH, _CMS_WIDTH = 4, 64


def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch fidelity audit over events.user_id: exact count
    vs CMS estimate per key at depth 4 x width 64 (width chosen BELOW
    the key cardinality so real collisions exercise the one-sided
    over-count). Every hash is md5-derived (sketches.cms_estimate), so
    DuckDB rebuilds the identical counter matrix and the estimates
    compare exactly — unlike the engine-internal HLL/GK sketches."""
    ev = t(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("uid")
    )
    return sketches.cms_estimate(
        ev, "uid", depth=_CMS_DEPTH, width=_CMS_WIDTH
    ).select(F.col("key").alias("uid"), "n_exact", "n_cms")


def _cms_sql() -> str:
    from sparkprep.operators.dedup import MERSENNE_P, hash_coeffs

    coeffs = hash_coeffs(_CMS_DEPTH, 42)
    P, W = MERSENNE_P, _CMS_WIDTH
    rows_b = " UNION ALL ".join(
        f"SELECT key, {d} AS row, ({a}::BIGINT * h + {b}) % {P} % {W} AS bucket FROM rows"
        for d, (a, b) in enumerate(coeffs)
    )
    keys_b = " UNION ALL ".join(
        f"SELECT key, n_exact, {d} AS row, ({a}::BIGINT * h + {b}) % {P} % {W} AS bucket FROM keys"
        for d, (a, b) in enumerate(coeffs)
    )
    return f"""
WITH rows AS (
  SELECT user_id::VARCHAR AS key,
         ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % {P} AS h
  FROM events
),
b AS ({rows_b}),
counters AS (SELECT row, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
keys AS (SELECT key, h, count(*) AS n_exact FROM rows GROUP BY 1, 2),
kb AS ({keys_b})
SELECT kb.key AS uid, n_exact::BIGINT AS n_exact, min(cnt)::BIGINT AS n_cms
FROM kb JOIN counters USING (row, bucket)
GROUP BY kb.key, n_exact
"""


# ---------------------------------------------------------------------------
# Entity-grain quantile scores, 100x form (VERDICT r5 "What's wrong" #2):
# the exact rfm_segments query scores with global ntile windows over the
# per-CUSTOMER aggregate — a frame that grows with the data, so one task
# sorts everything at 100x. rfm_scale computes the SAME answer
# (bit-identical: ranks.ntile_from_rank replays SQL ntile semantics in
# integer math) through range-partitioned parallel sorts, and therefore
# shares the exact query's oracle. Both read one staging code path,
# relational_ext.rfm_staged: a hand-synced copy here would silently
# break the bit-identity contract on the next edit. gini_scale and
# lorenz_scale are registered to the range-pass gini_revenue /
# lorenz_curve functions themselves.
# ---------------------------------------------------------------------------


def q_rfm_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rfm_segments' 100x twin: the three quintile scores come from
    chained ``ranks.global_ntile`` passes (one range exchange + one
    pid-hash exchange each, all parallel) instead of three
    single-partition ntile windows. Identical output, same oracle."""
    staged = relational_ext.rfm_staged(spark, sf_dir)
    # all three quintile orderings through ONE grouped range pass (r10)
    # instead of three chained global_ntile pipelines (each paid its own
    # sampling job + range exchange + checkpoint + counts). Orderings are
    # made ascending/integer without changing order: recency DESC ==
    # (-__rec) ASC (exact long negation), and the DECIMAL monetary maps
    # to exact integer units (__mon·10⁴ — monotone, integral, headroom
    # 9.2e18 vs ~1e11 at the 1000x revenue panel), so each layout's
    # bucket is bit-identical to its window-form ntile and the shared
    # oracle is unchanged. One groupBy pivots the exploded scores back
    # to customer grain.
    ranked = ranks.multi_order_global_ntile(
        staged,
        5,
        {
            "r": [(-F.col("__rec")), F.col("o_custkey")],
            "f": [F.col("__f"), F.col("o_custkey")],
            "m": [(F.col("__mon") * 10000).cast("long"), F.col("o_custkey")],
        },
        carry=["o_custkey", "__mon"],
        layout_name="__dim",
        bucket_name="__q",
    )
    scored = ranked.groupBy("o_custkey").agg(
        F.max(F.when(F.col("__dim") == "r", F.col("__q"))).alias("r_score"),
        F.max(F.when(F.col("__dim") == "f", F.col("__q"))).alias("f_score"),
        F.max(F.when(F.col("__dim") == "m", F.col("__q"))).alias("m_score"),
        F.max("__mon").alias("__mon"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.round(
            (F.sum("__mon").cast("double") / F.count(F.lit(1))).cast(
                "decimal(18,8)"
            ),
            2,
        ).cast("double").alias("avg_spend"),
    )


def q_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth deciles of order value over the RAW fact table
    — the bin-boundary readout partition planning and skew analysis
    need (equal ROW counts per bin, unlike equal-width histograms that
    collapse under a long tail). A plain ``ntile`` window here would
    single-task-sort the whole fact table — this is
    ``ranks.global_ntile`` on raw fact grain: range-partitioned
    parallel sort, exact SQL ntile semantics, any scale. Emits per-bin
    count and exact value bounds; (price, orderkey) ordering pins tie
    placement for the oracle."""
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    binned = ranks.global_ntile(
        orders,
        10,
        [F.asc("o_totalprice"), F.asc("o_orderkey")],
        bucket_name="bin",
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


_EQUIDEPTH_BINS_SQL = """
WITH b AS (
  SELECT o_totalprice,
         ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bin
  FROM orders
)
SELECT bin::BIGINT AS bin, count(*)::BIGINT AS n_orders,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi
FROM b GROUP BY 1
"""


def q_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-WEIGHTED customer deciles — equal-revenue bins instead of
    equal-count (lorenz_curve's transpose): bucket k holds the customers
    whose cumulative revenue (ascending, custkey tie-break) lands in the
    k-th tenth of total revenue, so bucket 10's n_customers IS the whale
    count. The running total is ``ranks.global_cumsum`` (range-partition
    + partial sums + broadcast prefix offsets — exact distributed
    prefix-sum, no single-partition sort) over exact integer revenue
    units (DECIMAL(18,4) x 10^4 → int64: order-independent, engine-
    identical). Bucket = ``greatest(10·cum − 1, 0) div total + 1``
    with the cumsum CAST TO DECIMAL(38,0) before the ×10 (ADVICE r6:
    int64 10·cum overflows under ANSI at ~9e14 revenue units while the
    oracle's ``//`` is HUGEINT — the decimal cast removes the
    asymmetry; the ``greatest`` guard removes the other one: a
    zero-revenue first customer makes the numerator −1, which Spark
    ``div`` truncates to 0 but DuckDB ``//`` floors to −1); a whale
    spanning several tenths leaves the skipped deciles EMPTY (both
    engines, by construction). One keyed join + one groupBy around the
    cumsum."""
    from sparkprep.queries import shared_frames

    # running units total from the shared one-pass scaffold (r10): same
    # ordering, same int64 prefix-sum as the dedicated global_cumsum
    cum = shared_frames.customer_revenue_ranked(spark, sf_dir).select(
        "o_custkey", "__rev", "__u", "__cum", "__tot"
    )
    decile = (
        F.expr("greatest(10 * CAST(__cum AS DECIMAL(38,0)) - 1, 0) div __tot")
        + 1
    )
    return (
        cum.withColumn("value_decile", decile)
        .groupBy("value_decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.round(F.sum("__rev"), 2).cast("double").alias("revenue"),
            F.round(
                (F.sum("__u").cast("double") / F.max("__tot")).cast(
                    "decimal(18,8)"
                ),
                6,
            ).cast("double").alias("rev_share"),
        )
    )


_VALUE_DECILES_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)) AS rev
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1
),
u AS (SELECT o_custkey, rev, (rev * 10000)::BIGINT AS units FROM per_cust),
c AS (
  SELECT o_custkey, rev, units,
         sum(units) OVER (ORDER BY rev, o_custkey ROWS UNBOUNDED PRECEDING) AS cum,
         sum(units) OVER () AS tot
  FROM u
),
b AS (SELECT greatest(10 * cum - 1, 0) // tot + 1 AS value_decile, rev, units, tot FROM c)
SELECT value_decile::BIGINT AS value_decile,
       count(*)::BIGINT AS n_customers,
       round(sum(rev), 2)::DOUBLE AS revenue,
       round((sum(units)::DOUBLE / max(tot))::DECIMAL(18,8), 6)::DOUBLE AS rev_share
FROM b GROUP BY 1
"""


def q_percent_rank_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank's 100x twin: the exact query windows per event_type
    — keyed, so the plan audit passes it, but with only ~5 distinct
    types each key's ENTIRE data sorts in one task at scale (the
    low-cardinality-key trap a single-partition check can't see).
    ``ranks.global_rank(..., group_cols=["event_type"])``
    range-partitions on (type, value, id) so every type spreads over
    many partitions; the tie-sharing SQL
    rank() is then min(row_number) over the (type, value) peer group (a
    high-cardinality keyed window — bounded per distinct value), and
    percent_rank = (rank−1)/(n_type−1), the same IEEE division
    percent_rank() itself performs. Identical output, same oracle."""
    ev = t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    rn = ranks.global_rank(
        ev,
        [F.asc("value"), F.asc("event_id")],
        rank_name="__rn",
        total_name="__n",
        group_cols=["event_type"],
    )
    from pyspark.sql.window import Window

    rank = F.min("__rn").over(Window.partitionBy("event_type", "value"))
    pr = F.when(F.col("__n") == 1, F.lit(0.0)).otherwise(
        (rank - 1).cast("double") / (F.col("__n") - 1)
    )
    return rn.select(
        "event_id", "event_type", F.round(pr, 4).alias("value_pr")
    )


def q_token_packing_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token_packing's 100x twin: the per-source running token total
    comes from ``ranks.global_cumsum(..., group_cols=["source"])``
    (range-partition on (source, doc_id) + per-(partition, source)
    partials + broadcast prefix offsets) instead of a per-source keyed window whose few keys
    each sort a whole source in one task. Same pack-assignment formula
    on identical int64 running totals → bit-identical manifest, same
    oracle."""
    from sparkprep.operators import text as _tx

    budget = 2048
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "source", _tx.token_count("text").alias("__nt")
    )
    c = ranks.global_cumsum(
        docs, [F.asc("doc_id")], "__nt", cum_name="__cum", group_cols=["source"]
    )
    packed = c.withColumn(
        "pack_id",
        F.floor((F.col("__cum") - F.col("__nt")) / budget).cast("long"),
    )
    return packed.groupBy("source", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__nt").alias("n_tokens"),
        F.min("doc_id").alias("first_doc"),
    )



# Poisson(1) CDF as 4-hex-char thresholds over a 16-bit hash slice:
# weight k iff slice < _POIS_HEX[k] (first match). Fixed-length
# lowercase hex compares LEXICOGRAPHICALLY == numerically on both
# engines (binary string order), and skipping the hex→int conv()
# measured ~20% off the exploded row pass. 16 bits quantize the CDF to
# 1/65536 (identically on both engines — the quantized distribution IS
# the sampled distribution). Int values: 24109, 48218, 60273, 64291,
# 65296, 65497.
_POIS_HEX = ("5e2d", "bc5a", "eb71", "fb23", "ff10", "ffd9")
_BOOT_B = 32


def _boot_digest(key: F.Column) -> F.Column:
    """128 hex chars of replicate entropy per row from FOUR md5 calls
    (8 replicates × 4 hex chars each): md5 per (row, replicate) was 3x
    slower at sf0.1 (6.4s → 2.3s measured) — the digest count, not the
    exploded row count, dominated the weight path."""
    return F.concat(
        *[F.md5(F.concat_ws(":", key, F.lit(j))) for j in range(4)]
    )


def _boot_weight_slice(sl: F.Column) -> F.Column:
    """Poisson(1) weight from a 4-hex digest slice, via lexicographic
    CDF-threshold compares (equal to the numeric compare for
    fixed-length lowercase hex)."""
    w = F.when(sl < _POIS_HEX[0], 0)
    for k, thr in enumerate(_POIS_HEX[1:], start=1):
        w = w.when(sl < thr, k)
    return w.otherwise(6)


def _boot_weight(digest: F.Column, b: F.Column) -> F.Column:
    """Poisson(1) weight for replicate ``b`` sliced from the full row
    digest — the per-(row, replicate) form; the query path pre-splits
    the digest per ROW instead (see q_bootstrap_ci), this stays as the
    reference form the parity test replays."""
    return _boot_weight_slice(F.substring(digest, b * 4 + 1, 4))


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson bootstrap CI for the mean order value —
    the resampling-free bootstrap (Chamandy et al., "Estimating
    Uncertainty for Massive Data Streams", Google 2012): instead of
    materializing B resamples (B full shuffles of the corpus), each
    row computes its OWN per-replicate Poisson(1) weight from an
    md5-derived hash slice — row-local, exactly reproducible on any
    engine, and only FOUR md5 calls per row for all B=32 replicates
    (4-hex-char slices; one md5 per (row, replicate) measured 3x
    slower). One explode to B=32 weighted copies (map-side only), ONE
    map-combined groupBy(replicate) (each partition emits <=32 partial
    rows), and the CI is an order statistic of the 32 replicate means
    (2nd and 31st of 32 — a ~94% interval; order statistics, never a
    float re-sum). Replicate means divide exact DECIMAL sums once; the
    32-row rank window is data-independent (registered bound). Weights
    come from integer threshold compares against the Poisson(1) CDF
    scaled to the 16-bit slice range — no float comparison anywhere in
    the weight path."""
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("decimal(18,4)").alias("__p")
    ).transform(lazy_checkpoint)  # consumed by point agg AND replicate fold
    # slice the digest BEFORE the explode (r10): the explode(sequence)
    # form fanned each row out carrying the whole 128-char digest and
    # re-sliced it per (row, replicate) — one split into 4-char slices
    # per ROW + posexplode ships 4 chars per exploded row instead
    # (4.33s -> 3.40s measured at sf0.1, replicate sums bit-identical).
    # The digest stays materialized in its own projection; split
    # references it ONCE, so project-collapsing cannot clone the md5
    # chain (the 32-slice array-literal landmine, CLAUDE.md).
    md = orders.withColumn("__md", _boot_digest(F.col("o_orderkey")))
    rep = md.select(
        "__p",
        F.posexplode(F.split("__md", r"(?<=\G.{4})")).alias("__b", "__sl"),
    ).filter(F.col("__sl") != "")
    w = _boot_weight_slice(F.col("__sl"))
    means = (
        rep.select("__b", w.alias("__w"), "__p")
        .groupBy("__b")
        .agg(
            F.sum(F.col("__p") * F.col("__w")).alias("__s"),
            F.sum("__w").cast("long").alias("__m"),
        )
        .select(
            "__b",
            F.try_divide(
                F.col("__s").cast("double"), F.col("__m")
            ).alias("__mean"),
        )
    )
    from pyspark.sql.window import Window

    rn = F.row_number().over(Window.orderBy("__mean", "__b"))
    ranked = means.select("__mean", rn.alias("__rn"))
    ci = ranked.agg(
        F.round(
            F.max(F.when(F.col("__rn") == 2, F.col("__mean"))).cast(
                "decimal(18,8)"
            ),
            6,
        ).cast("double").alias("boot_lo"),
        F.round(
            F.max(
                F.when(F.col("__rn") == _BOOT_B - 1, F.col("__mean"))
            ).cast("decimal(18,8)"),
            6,
        ).cast("double").alias("boot_hi"),
    )
    point = orders.agg(
        F.round(
            F.try_divide(
                F.sum("__p").cast("double"), F.count(F.lit(1))
            ).cast("decimal(18,8)"),
            6,
        ).cast("double").alias("point_mean"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    return point.join(F.broadcast(ci)).select(
        "point_mean",
        "boot_lo",
        "boot_hi",
        "n_orders",
        F.lit(_BOOT_B).cast("long").alias("b_reps"),
    )


_BOOTSTRAP_CI_SQL = f"""
WITH o AS (
  SELECT o_orderkey, o_totalprice::DECIMAL(18,4) AS p FROM orders
),
rep AS (
  SELECT o_orderkey, p, b
  FROM o CROSS JOIN (SELECT unnest(range({_BOOT_B})) AS b)
),
wts AS (
  SELECT p,
         b,
         CASE
           WHEN hv < '{_POIS_HEX[0]}' THEN 0
           WHEN hv < '{_POIS_HEX[1]}' THEN 1
           WHEN hv < '{_POIS_HEX[2]}' THEN 2
           WHEN hv < '{_POIS_HEX[3]}' THEN 3
           WHEN hv < '{_POIS_HEX[4]}' THEN 4
           WHEN hv < '{_POIS_HEX[5]}' THEN 5
           ELSE 6
         END AS w
  FROM (
    SELECT p, b,
           substr(
              md5(o_orderkey::VARCHAR || ':0')
                || md5(o_orderkey::VARCHAR || ':1')
                || md5(o_orderkey::VARCHAR || ':2')
                || md5(o_orderkey::VARCHAR || ':3'),
              b * 4 + 1, 4) AS hv
    FROM rep
  )
),
means AS (
  SELECT b, sum(p * w) AS s, sum(w)::BIGINT AS m FROM wts GROUP BY b
),
ranked AS (
  SELECT s::DOUBLE / m AS mean,
         row_number() OVER (ORDER BY s::DOUBLE / m, b) AS rn
  FROM means
),
ci AS (
  SELECT round(max(CASE WHEN rn = 2 THEN mean END)::DECIMAL(18,8), 6)::DOUBLE
           AS boot_lo,
         round(max(CASE WHEN rn = {_BOOT_B - 1} THEN mean END)::DECIMAL(18,8),
               6)::DOUBLE AS boot_hi
  FROM ranked
),
pt AS (
  SELECT round((sum(p)::DOUBLE / count(*))::DECIMAL(18,8), 6)::DOUBLE
           AS point_mean,
         count(*)::BIGINT AS n_orders
  FROM o
)
SELECT point_mean, boot_lo, boot_hi, n_orders, {_BOOT_B}::BIGINT AS b_reps
FROM pt, ci
"""



def q_gains_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains/lift table — the credit-scoring model-quality
    screen of the reference's LoanStats domain: orders ranked by
    o_totalprice (descending, orderkey tie-break) into 10 deciles via
    ``ranks.global_ntile`` (range-partition + broadcast offsets — the
    distributed ntile, bit-identical to the window form), target =
    order contains a returned ('R') line item. Per decile: volume, bad
    count, bad rate, cumulative capture of all bads, and lift vs the
    base rate. The only single-partition window runs over the 10-row
    decile frame; every rate is exact-int division, DECIMAL-recast
    before the display round."""
    from pyspark.sql.window import Window

    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    flagged = li.groupBy("l_orderkey").agg(
        F.max(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        ).alias("__bad")
    )
    scored = orders.join(
        flagged, orders.o_orderkey == flagged.l_orderkey, "left"
    ).select(
        "o_orderkey",
        "o_totalprice",
        F.coalesce(F.col("__bad"), F.lit(0)).alias("__bad"),
    )
    binned = ranks.global_ntile(
        scored,
        10,
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        bucket_name="decile",
    )
    per = binned.groupBy("decile").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__bad").alias("__nb"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    d18 = "decimal(18,8)"
    staged = per.select(
        "decile",
        "__n",
        "__nb",
        F.sum("__nb").over(w_cum).alias("__cb"),
        F.sum("__nb").over(w_all).alias("__tb"),
        F.sum("__n").over(w_all).alias("__tn"),
    )
    return staged.select(
        F.col("decile").cast("long").alias("decile"),
        F.col("__n").cast("long").alias("n_orders"),
        F.col("__nb").cast("long").alias("n_bad"),
        F.round(
            F.try_divide(F.col("__nb"), F.col("__n")).cast(d18), 6
        ).cast("double").alias("bad_rate"),
        F.round(
            F.try_divide(F.col("__cb"), F.col("__tb")).cast(d18), 6
        ).cast("double").alias("cum_capture"),
        F.round(
            F.try_divide(
                F.col("__nb").cast("double") * F.col("__tn").cast("double"),
                F.col("__n").cast("double") * F.col("__tb").cast("double"),
            ).cast(d18),
            6,
        ).cast("double").alias("lift"),
    )


_GAINS_TABLE_SQL = """
WITH flagged AS (
  SELECT l_orderkey,
         max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS bad
  FROM lineitem GROUP BY 1
),
scored AS (
  SELECT o_orderkey, o_totalprice, coalesce(bad, 0) AS bad
  FROM orders LEFT JOIN flagged ON o_orderkey = l_orderkey
),
binned AS (
  SELECT bad,
         ntile(10) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS decile
  FROM scored
),
per AS (
  SELECT decile, count(*) AS n, sum(bad) AS nb FROM binned GROUP BY 1
),
staged AS (
  SELECT decile, n, nb,
         sum(nb) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cb,
         sum(nb) OVER () AS tb,
         sum(n) OVER () AS tn
  FROM per
)
SELECT decile::BIGINT AS decile,
       n::BIGINT AS n_orders,
       nb::BIGINT AS n_bad,
       round((nb / n::DOUBLE)::DECIMAL(18,8), 6)::DOUBLE AS bad_rate,
       round((cb / tb::DOUBLE)::DECIMAL(18,8), 6)::DOUBLE AS cum_capture,
       round((nb::DOUBLE * tn::DOUBLE / (n::DOUBLE * tb::DOUBLE))::DECIMAL(18,8),
             6)::DOUBLE AS lift
FROM staged
"""


QUERIES = {
    "embedding_quantize": q_embedding_quantize,
    "equidepth_bins": q_equidepth_bins,
    "value_deciles": q_value_deciles,
    "percent_rank_scale": q_percent_rank_scale,
    "rolling_quantiles_scale": _tg.q_rolling_quantiles,
    "token_packing_scale": q_token_packing_scale,
    "incr_agg": q_incr_agg,
    "approx_distinct": q_approx_distinct,
    "approx_quantiles": q_approx_quantiles,
    "train_mix": q_train_mix,
    "zorder_key": q_zorder_key,
    "incremental_dedup": q_incremental_dedup,
    "fuzzy_linkage": q_fuzzy_linkage,
    "ann_ivf_exhaustive": q_ann_ivf_exhaustive,
    "snapshot_diff": q_snapshot_diff,
    "cdc_feed": q_cdc_feed,
    "importance_sample": q_importance_sample,
    "embedding_truncate": q_embedding_truncate,
    "cms_counts": q_cms_counts,
    "gini_scale": relational_ext.q_gini_revenue,
    "lorenz_scale": relational_ext.q_lorenz_curve,
    "rfm_scale": q_rfm_scale,
    "bootstrap_ci": q_bootstrap_ci,
    "gains_table": q_gains_table,
}

ORACLES = {
    "bootstrap_ci": _BOOTSTRAP_CI_SQL,
    "gains_table": _GAINS_TABLE_SQL,
    "incr_agg": _INCR_AGG_SQL,
    "embedding_quantize": _EMBEDDING_QUANTIZE_SQL,
    # approx_distinct / approx_quantiles: rows-only by design (sketch
    # values are engine-specific; bounds verified in tests/test_sketches.py)
    "train_mix": _TRAIN_MIX_SQL,
    "zorder_key": _ZORDER_KEY_SQL,
    "incremental_dedup": _incremental_dedup_sql(),
    "fuzzy_linkage": _FUZZY_LINKAGE_SQL,
    # exhaustive probes == brute force, so the cosine_topk oracle applies
    "ann_ivf_exhaustive": __import__(
        "sparkprep.queries.llmprep", fromlist=["_COSINE_TOPK_SQL"]
    )._COSINE_TOPK_SQL,
    "snapshot_diff": _SNAPSHOT_DIFF_SQL,
    "cdc_feed": _CDC_FEED_SQL,
    "importance_sample": _IMPORTANCE_SAMPLE_SQL,
    "embedding_truncate": _EMBEDDING_TRUNCATE_SQL,
    "cms_counts": _cms_sql(),
    # second names of the exact functions (gini, lorenz, rolling
    # quantiles) or bit-identical twins of them (rfm, percent_rank,
    # token_packing): each shares the exact query's oracle
    "gini_scale": relational_ext._GINI_REVENUE_SQL,
    "lorenz_scale": relational_ext._LORENZ_SQL,
    "rfm_scale": relational_ext._RFM_SQL,
    "equidepth_bins": _EQUIDEPTH_BINS_SQL,
    "value_deciles": _VALUE_DECILES_SQL,
    "percent_rank_scale": relational_ext._PERCENT_RANK_SQL,
    "rolling_quantiles_scale": _tg._ROLLING_QUANTILES_SQL,
    "token_packing_scale": __import__(
        "sparkprep.queries.textops", fromlist=["_TOKEN_PACKING_SQL"]
    )._TOKEN_PACKING_SQL,
}


# ---------------------------------------------------------------------------
# data-skipping (min/max pruning) layout simulation — round 8
# ---------------------------------------------------------------------------

_PRUNE_FILES = 32
_PRUNE_ZBITS = 12
# 1995-01-01 as epoch days — the order-calendar floor, canary-pinned by
# tests/test_headroom_canaries.py::test_order_calendar_pins_round8_periods
_PRUNE_DAY0 = 9131
# predicate panel: (label, day_lo, day_hi, pk_lo, pk_hi); None = no bound
_PRUNE_PREDS = [
    ("day:1996-03", 9556, 9587, None, None),
    ("part:100-299", None, None, 100, 300),
    ("day+part", 9556, 9587, 100, 300),
]


def q_pruning_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-skipping simulation: how many of 32 files must a scan
    touch under a LINEAR (ship-day-sorted) layout vs a Z-ORDER
    (day × part Morton) layout, for a date predicate, a part
    predicate, and their conjunction — the table that justifies
    zorder_layout before anyone rewrites 100 TB: linear wins the
    single-dimension date scan outright, z-order buys the second
    dimension without fully giving up the first.

    Both layouts assign files via ``ranks.global_ntile`` (range
    partition + offsets — never a single-partition sort; bit-identical
    to SQL ntile under the same total order); per-file min/max and the
    overlap tests are exact integers, so the scan counts match DuckDB
    file-for-file. Part keys fold into the Morton key's low 12 bits
    (dense ids wrap past 4096 — locality is per-block, which is what
    the simulation measures; day offsets from the canary-pinned
    calendar floor stay well inside 12 bits)."""
    from sparkprep.functions import zorder as zo
    from sparkprep.operators import ranks

    li = t(spark, sf_dir, "lineitem").select(
        (
            F.expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000")
            - F.lit(_PRUNE_DAY0)
        ).alias("day"),
        F.col("l_partkey").alias("pk"),
        "l_orderkey",
        "l_linenumber",
    )
    mask = (1 << _PRUNE_ZBITS) - 1
    keyed = li.select(
        "day",
        "pk",
        "l_orderkey",
        "l_linenumber",
        zo.morton_key(
            [
                F.col("day").bitwiseAND(F.lit(mask)),
                F.col("pk").bitwiseAND(F.lit(mask)),
            ],
            bits=_PRUNE_ZBITS,
        ).alias("zkey"),
    )

    # both layouts through ONE grouped range pass (the per-layout
    # global_ntile form re-ran sampling + exchange + counts per layout
    # and re-executed the scan+morton subtree for each — 3.9s -> ~2s at
    # sf0.1, r10). linear_day's key list gets a trailing constant-0 pad
    # so both layouts' key structs are width/type-aligned;
    # (day, pk, l_orderkey, l_linenumber) already totally orders rows,
    # so the pad is never consulted. Bit-identical ntile per
    # layout — the window-form DuckDB oracle is unchanged.
    filed = ranks.multi_order_global_ntile(
        keyed,
        _PRUNE_FILES,
        {
            "linear_day": [
                F.col("day"), F.col("pk"),
                F.col("l_orderkey"), F.col("l_linenumber"), F.lit(0),
            ],
            "zorder": [
                F.col("zkey"), F.col("day"), F.col("pk"),
                F.col("l_orderkey"), F.col("l_linenumber"),
            ],
        },
        carry=["day", "pk"],
        layout_name="layout",
        bucket_name="file",
    )
    stats = filed.groupBy("layout", "file").agg(
        F.min("day").alias("d_lo"),
        F.max("day").alias("d_hi"),
        F.min("pk").alias("p_lo"),
        F.max("pk").alias("p_hi"),
    )
    aggs = []
    for label, dlo, dhi, plo, phi in _PRUNE_PREDS:
        cond = F.lit(True)
        if dlo is not None:
            # day predicate is on RAW days; stats hold offset days
            cond = cond & ~(
                (F.col("d_hi") < dlo - _PRUNE_DAY0)
                | (F.col("d_lo") >= dhi - _PRUNE_DAY0)
            )
        if plo is not None:
            cond = cond & ~((F.col("p_hi") < plo) | (F.col("p_lo") >= phi))
        aggs.append(F.sum(cond.cast("long")).alias(f"s{len(aggs)}"))
    wide = stats.groupBy("layout").agg(*aggs)
    stack_args = ", ".join(
        f"'{_PRUNE_PREDS[i][0]}', s{i}" for i in range(len(_PRUNE_PREDS))
    )
    return (
        wide.select(
            "layout",
            F.expr(
                f"stack({len(_PRUNE_PREDS)}, {stack_args}) AS (predicate, files_scanned)"
            ),
        )
        .select("layout", "predicate", F.col("files_scanned").cast("long").alias("files_scanned"))
        .orderBy("layout", "predicate")
    )


def _pruning_sim_sql() -> str:
    terms = []
    for i in range(_PRUNE_ZBITS):
        terms.append(f"((((day & {(1 << _PRUNE_ZBITS) - 1}) >> {i}) & 1) << {2 * i})")
        terms.append(f"((((pk & {(1 << _PRUNE_ZBITS) - 1}) >> {i}) & 1) << {2 * i + 1})")
    morton = " + ".join(terms)
    pred_rows = []
    for label, dlo, dhi, plo, phi in _PRUNE_PREDS:
        conds = []
        if dlo is not None:
            conds.append(
                f"NOT (d_hi < {dlo - _PRUNE_DAY0} OR d_lo >= {dhi - _PRUNE_DAY0})"
            )
        if plo is not None:
            conds.append(f"NOT (p_hi < {plo} OR p_lo >= {phi})")
        pred_rows.append(
            f"SELECT layout, '{label}' AS predicate, "
            f"sum(({' AND '.join(conds)})::BIGINT)::BIGINT AS files_scanned "
            "FROM ps_stats GROUP BY 1"
        )
    preds = "\nUNION ALL\n".join(pred_rows)
    return f"""
WITH ps_b AS (
  SELECT epoch_us(l_shipdate) // 86400000000 - {_PRUNE_DAY0} AS day,
         l_partkey AS pk, l_orderkey, l_linenumber
  FROM lineitem
),
ps_k AS MATERIALIZED (
  SELECT *, ({morton})::BIGINT AS zkey FROM ps_b
),
ps_f AS (
  SELECT 'linear_day' AS layout,
         ntile({_PRUNE_FILES}) OVER (ORDER BY day, pk, l_orderkey, l_linenumber) AS f,
         day, pk
  FROM ps_k
  UNION ALL
  SELECT 'zorder' AS layout,
         ntile({_PRUNE_FILES}) OVER (ORDER BY zkey, day, pk, l_orderkey, l_linenumber) AS f,
         day, pk
  FROM ps_k
),
ps_stats AS MATERIALIZED (
  SELECT layout, f, min(day) AS d_lo, max(day) AS d_hi,
         min(pk) AS p_lo, max(pk) AS p_hi
  FROM ps_f GROUP BY 1, 2
)
{preds}
ORDER BY layout, predicate
"""


QUERIES["pruning_sim"] = q_pruning_sim
ORACLES["pruning_sim"] = _pruning_sim_sql()


# ---------------------------------------------------------------------------
# layout advisor adjudication — round 9
# ---------------------------------------------------------------------------


def q_layout_advice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive ``physical.layout_advisor`` itself through the driver:
    the same lineitem (day, part) frame and predicate panel as
    pruning_sim, but through the PROMOTED write-path operator
    (VERDICT r8 #6) — three candidate layouts (linear per dimension +
    z-order), per-layout files-scanned counts, and the integer-argmin
    recommendation flag. pruning_sim adjudicates the inline
    simulation; this adjudicates the operator users actually call
    before a 100 TB rewrite, including its linear:pk candidate and
    recommendation tie-break (total scans, then name).

    Determinism contract: (l_orderkey, l_linenumber) tiebreakers make
    every layout's sort a total order, so ``ranks.global_ntile`` file
    assignment — and therefore each file's min/max zone maps and every
    overlap count — is bit-identical to DuckDB's ntile. The advisor's
    driver-side table is |layouts| x |preds| = 9 rows re-lifted via
    createDataFrame (bounded, same class as the A6 scalar contract)."""
    from sparkprep.operators.physical import layout_advisor

    li = t(spark, sf_dir, "lineitem").select(
        (
            F.expr("unix_micros(cast(l_shipdate as timestamp)) div 86400000000")
            - F.lit(_PRUNE_DAY0)
        ).alias("day"),
        F.col("l_partkey").alias("pk"),
        "l_orderkey",
        "l_linenumber",
    )
    preds = []
    for label, dlo, dhi, plo, phi in _PRUNE_PREDS:
        ranges = {}
        if dlo is not None:
            ranges["day"] = (dlo - _PRUNE_DAY0, dhi - _PRUNE_DAY0)
        if plo is not None:
            ranges["pk"] = (plo, phi)
        preds.append((label, ranges))
    adv = layout_advisor(
        li,
        ["day", "pk"],
        preds,
        num_files=_PRUNE_FILES,
        bits=_PRUNE_ZBITS,
        tiebreakers=["l_orderkey", "l_linenumber"],
    )
    rows = [
        (
            r["layout"],
            r["predicate"],
            r["files_scanned"],
            1 if r["layout"] == adv["recommended"] else 0,
        )
        for r in adv["table"]
    ]
    out = spark.createDataFrame(
        rows, "layout string, predicate string, files_scanned long, recommended long"
    )
    return out.orderBy("layout", "predicate")


def _layout_advice_sql() -> str:
    mask = (1 << _PRUNE_ZBITS) - 1
    terms = []
    for i in range(_PRUNE_ZBITS):
        terms.append(f"((((day & {mask}) >> {i}) & 1) << {2 * i})")
        terms.append(f"((((pk & {mask}) >> {i}) & 1) << {2 * i + 1})")
    morton = " + ".join(terms)
    pred_rows = []
    for label, dlo, dhi, plo, phi in _PRUNE_PREDS:
        conds = []
        if dlo is not None:
            conds.append(
                f"NOT (d_hi < {dlo - _PRUNE_DAY0} OR d_lo >= {dhi - _PRUNE_DAY0})"
            )
        if plo is not None:
            conds.append(f"NOT (p_hi < {plo} OR p_lo >= {phi})")
        pred_rows.append(
            f"SELECT layout, '{label}' AS predicate, "
            f"sum(({' AND '.join(conds)})::BIGINT)::BIGINT AS files_scanned "
            "FROM la_stats GROUP BY 1"
        )
    preds = "\nUNION ALL\n".join(pred_rows)
    return f"""
WITH la_b AS (
  SELECT epoch_us(l_shipdate) // 86400000000 - {_PRUNE_DAY0} AS day,
         l_partkey AS pk, l_orderkey, l_linenumber
  FROM lineitem
),
la_k AS MATERIALIZED (
  SELECT *, ({morton})::BIGINT AS zkey FROM la_b
),
la_f AS (
  SELECT 'linear:day' AS layout,
         ntile({_PRUNE_FILES}) OVER (ORDER BY day, pk, l_orderkey, l_linenumber) AS f,
         day, pk
  FROM la_k
  UNION ALL
  SELECT 'linear:pk' AS layout,
         ntile({_PRUNE_FILES}) OVER (ORDER BY pk, day, l_orderkey, l_linenumber) AS f,
         day, pk
  FROM la_k
  UNION ALL
  SELECT 'zorder' AS layout,
         ntile({_PRUNE_FILES}) OVER (ORDER BY zkey, day, pk, l_orderkey, l_linenumber) AS f,
         day, pk
  FROM la_k
),
la_stats AS MATERIALIZED (
  SELECT layout, f, min(day) AS d_lo, max(day) AS d_hi,
         min(pk) AS p_lo, max(pk) AS p_hi
  FROM la_f GROUP BY 1, 2
),
la_scans AS MATERIALIZED (
{preds}
),
la_best AS (
  SELECT layout FROM la_scans GROUP BY layout
  ORDER BY sum(files_scanned), layout LIMIT 1
)
SELECT s.layout, s.predicate, s.files_scanned,
       (s.layout = (SELECT layout FROM la_best))::BIGINT AS recommended
FROM la_scans s
ORDER BY s.layout, s.predicate
"""


QUERIES["layout_advice"] = q_layout_advice
ORACLES["layout_advice"] = _layout_advice_sql()
