"""LLM-data-pipeline scale operators as oracle-checked queries:
exact dedup, MinHash-LSH near-dup, SimHash, exact n-gram Jaccard,
embedding cosine top-k / ANN / near-dup.

The driver tables are clean (no dup texts, random embeddings), so dup
structure is SYNTHESIZED deterministically on both engines:
- exact dups: every doc unioned with an identical copy (id+10000);
- near dups:  every doc unioned with a copy missing its first token;
- embedding dups: every vector unioned with itself scaled by 1.2
  (cosine exactly 1, sign bits preserved).

All hashing is md5-derived (engine-independent); MinHash/SimHash oracle
SQL is GENERATED from the same seeded coefficients the Spark plan uses,
so the comparison checks real numeric equality of the sketches.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkprep.operators import dedup as dd
from sparkprep.operators import similarity as sim
from sparkprep.queries import t
from sparkprep.checkpointing import lazy_checkpoint

# ---------------------------------------------------------------------------
# corpora
# ---------------------------------------------------------------------------


def _corpus_near(spark, sf_dir) -> DataFrame:
    """documents ∪ near-dup mutants (first token dropped, id+10000).

    The +10000 offset (and every ``% 10000`` sub-corpus selector below)
    assumes ids stay < 10000; tests/test_headroom_canaries.py pins that
    against every testdata generation with 2x headroom, so an id-range
    drift fails pytest instead of silently colliding twin ids.
    """
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    mutants = docs.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+ ", "").alias("text"),
    )
    return docs.unionByName(mutants)


_CORPUS_NEAR_SQL = r"""corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, regexp_replace(text, '^\S+ ', '') AS text FROM documents
)"""


def _corpus_exact(spark, sf_dir) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.select((F.col("doc_id") + 10000).alias("doc_id"), "text")
    return docs.unionByName(copies)


_CORPUS_EXACT_SQL = """corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, text FROM documents
)"""


# ---------------------------------------------------------------------------
# exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup at scale: groupBy(text) keeping min id + copy
    count. Hash-aggregate based — the 100 TB form (no sort, map-side
    partial agg); at real scale group on md5(text) instead of the full
    text to shrink the shuffle key."""
    corpus = _corpus_exact(spark, sf_dir)
    return (
        corpus.groupBy("text")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keep_id", "n_copies")
    )


_EXACT_DEDUP_SQL = f"""
WITH {_CORPUS_EXACT_SQL}
SELECT min(doc_id) AS keep_id, count(*) AS n_copies
FROM corpus GROUP BY text
"""


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_NUM_HASHES = 16
_BANDS = 4
_K = 3
_SEED = 42
_EST_THRESHOLD = 0.5

# One (node, component) CC-labels frame per (session, sf_dir), shared by
# the dedup_clusters / cluster_split / cluster_reps / source_dup_report
# family: each otherwise rebuilds the identical MinHash-pairs +
# connected-components subtree (the family head of every bench run —
# 16.1s → 1.6s measured at sf0.1, VERDICT r7 item 4).
# connected_components' convergence loop MATERIALIZES the labels
# (per-round lazy localCheckpoint), so reuse is a leaf scan. Lives in
# shared_frames.session_frame (applicationId-keyed — a restarted
# session's dead RDD lineage can never be served stale).


def _shared_near_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, h0..h15) MinHash signature frame over the near-dup
    corpus — FOUR queries (minhash_pairs, minhash_eval, lsh_tuning and
    the cc_labels family head) each re-ran the identical shingle
    explode + md5 hash + 16-min groupBy to rebuild it; one session-
    shared checkpointed leaf pays it once (r10)."""
    from sparkprep.queries import shared_frames

    def build() -> DataFrame:
        corpus = _corpus_near(spark, sf_dir)
        return dd.minhash_signatures(
            corpus, "text", "doc_id", num_hashes=_NUM_HASHES, k=_K,
            seed=_SEED,
        )

    return shared_frames.session_frame(spark, "minhash_sigs_near", sf_dir, build)


def _shared_cc_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sparkprep.queries import shared_frames

    def build() -> DataFrame:
        prs = dd.minhash_candidate_pairs(
            _shared_near_sigs(spark, sf_dir), "doc_id",
            bands=_BANDS, est_threshold=0.8,
        )
        return dd.connected_components(prs)

    return shared_frames.session_frame(spark, "cc_labels", sf_dir, build)


def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs with signature-agreement
    similarity estimate. est >= 0.5 keeps the (doc, mutant) pairs."""
    return dd.minhash_candidate_pairs(
        _shared_near_sigs(spark, sf_dir), "doc_id",
        bands=_BANDS, est_threshold=_EST_THRESHOLD,
    )


def _minhash_sig_ctes() -> str:
    """CTE chain (toks → sh → hv → sig) over a preceding CTE named
    ``corpus`` with (doc_id, text): ``sig`` = one row per doc with
    h0..h{n−1} MinHash columns. Shared by the pair oracles below AND
    the lsh_tuning advisor so the signature replay can never drift."""
    coeffs = dd.hash_coeffs(_NUM_HASHES, _SEED)
    P = dd.MERSENNE_P
    sig_cols = ", ".join(
        f"min(({a}::BIGINT * h + {b}) % {P}) AS h{i}" for i, (a, b) in enumerate(coeffs)
    )
    return f"""toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM corpus),
sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS s
       FROM toks, UNNEST(range(1, len(tk) - 1)) AS u(i)),
hv AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % {P} AS h FROM sh),
sig AS (SELECT doc_id, {sig_cols} FROM hv GROUP BY doc_id)"""


def _lsh_band_rows_sql(bands: int, from_cte: str = "sig") -> str:
    """Banded-key row generator over a signature CTE — the SQL twin of
    ``dd.lsh_bands`` for an arbitrary band count."""
    r = _NUM_HASHES // bands
    return " UNION ALL ".join(
        f"SELECT doc_id, {j}::BIGINT AS band, md5("
        + " || '_' || ".join(f"h{j * r + x}::VARCHAR" for x in range(r))
        + f") AS band_key FROM {from_cte}"
        for j in range(bands)
    )


def _minhash_core_ctes(est_threshold: float) -> str:
    """CTE chain (toks → … → mh) over a preceding CTE named ``corpus``
    with (doc_id, text): ``mh`` = (id_a, id_b, est_jaccard) filtered at
    ``est_threshold``. Shared by the doc-level and chunk-level oracles
    so the two can never drift."""
    band_rows = _lsh_band_rows_sql(_BANDS)
    agree = " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(_NUM_HASHES)
    )
    return f"""{_minhash_sig_ctes()},
bands AS ({band_rows}),
pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
          WHERE a.doc_id < b.doc_id),
mh AS (SELECT p.id_a, p.id_b, ({agree}) / {float(_NUM_HASHES)} AS est_jaccard
       FROM pairs p
       JOIN sig sa ON sa.doc_id = p.id_a
       JOIN sig sb ON sb.doc_id = p.id_b
       WHERE ({agree}) / {float(_NUM_HASHES)} >= {est_threshold})"""


def _minhash_sql(est_threshold: float = _EST_THRESHOLD) -> str:
    return f"""
WITH {_CORPUS_NEAR_SQL},
{_minhash_core_ctes(est_threshold)}
SELECT id_a, id_b, est_jaccard FROM mh
"""


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (ground truth for the LSH path)
# ---------------------------------------------------------------------------


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard pairs (>= 0.3) on a bounded sub-corpus —
    the verifier twin of q_minhash_pairs."""
    corpus = _corpus_near(spark, sf_dir).filter(
        (F.col("doc_id") % 10000) < 60
    )
    return dd.jaccard_pairs(corpus, "text", "doc_id", k=_K, threshold=0.3)


_JACCARD_SQL = f"""
WITH {_CORPUS_NEAR_SQL},
sub AS (SELECT * FROM corpus WHERE doc_id % 10000 < 60),
toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM sub),
sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS s
       FROM toks, UNNEST(range(1, len(tk) - 1)) AS u(i)),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT id_a, id_b,
       round(n_inter::DOUBLE / (na.n + nb.n - n_inter), 4) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = id_a
JOIN sizes nb ON nb.doc_id = id_b
WHERE round(n_inter::DOUBLE / (na.n + nb.n - n_inter), 4) >= 0.3
"""


# ---------------------------------------------------------------------------
# asymmetric containment (sub-document duplication)
# ---------------------------------------------------------------------------


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle containment |A∩B| / min(|A|,|B|) on a bounded sub-corpus
    planted with first-half prefix truncations: every (doc, half) pair
    scores containment 1.0 while its Jaccard (~0.48) sits BELOW the 0.5
    near-dup bar — the quote/sub-document case Jaccard-based dedup
    misses. Mirrors the reference's dedup-audit habit (loanStat.py
    count-before/count-after) of making the planted structure the
    expected answer."""
    from sparkprep.operators import text as tx

    docs = (
        t(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter((F.col("doc_id") % 10000) < 60)
    )
    tk = tx.tokens("text")
    halves = docs.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.array_join(
            F.slice(tk, 1, F.ceil(F.size(tk) / 2).cast("int")), " "
        ).alias("text"),
    )
    corpus = docs.unionByName(halves)
    return dd.containment_pairs(corpus, "text", "doc_id", k=_K, threshold=0.5)


_CONTAINMENT_SQL = r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 10000 < 60
  UNION ALL
  SELECT doc_id + 10000 AS doc_id,
         array_to_string(
           (list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> ''))[
             1:ceil(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) / 2.0)::INT],
           ' ') AS text
  FROM documents WHERE doc_id % 10000 < 60
),
toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM corpus),
sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS s
       FROM toks, UNNEST(range(1, len(tk) - 1)) AS u(i)),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
SELECT id_a, id_b,
       round(n_inter::DOUBLE / least(na.n, nb.n), 4) AS containment,
       round(n_inter::DOUBLE / (na.n + nb.n - n_inter), 4) AS jaccard
FROM inter
JOIN sizes na ON na.doc_id = id_a
JOIN sizes nb ON nb.doc_id = id_b
WHERE round(n_inter::DOUBLE / least(na.n, nb.n), 4) >= 0.5
"""


def q_substr_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplication coverage at k=8 token windows over
    the near-dup corpus: each first-token-dropped mutant is fully
    covered (1.0) while its original covers (n-8)/(n-7) — only the one
    window containing the dropped token is unique. Partial-copy signal
    doc-level dedup can't see."""
    corpus = _corpus_near(spark, sf_dir)
    return dd.duplicate_window_coverage(corpus, "text", "doc_id", k=8)


_SUBSTR_COVERAGE_SQL = f"""
WITH {_CORPUS_NEAR_SQL},
toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM corpus),
sh AS (SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4] || ' ' || tk[i+5] || ' ' || tk[i+6] || ' ' || tk[i+7] AS s
       FROM toks, UNNEST(range(1, len(tk) - 6)) AS u(i)),
counts AS (SELECT s, count(*) AS docs FROM sh GROUP BY s)
SELECT doc_id, count(*)::BIGINT AS n_windows,
       sum(CASE WHEN docs > 1 THEN 1 ELSE 0 END)::BIGINT AS n_shared,
       round(sum(CASE WHEN docs > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS dup_coverage
FROM sh JOIN counts USING (s)
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

_SIM_BITS = 32
_SIM_CHUNKS = 4


def _shared_simhash_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 32-bit SimHash sketch frame over the near-dup corpus —
    q_simhash and q_simhash_pairs both aggregated the identical token
    explode + 32-vote sketch (the pairs query twice more via its
    self-join's AQE exchange reuse); one session-shared checkpointed
    leaf pays the token stream once (r10)."""
    from sparkprep.queries import shared_frames

    def build() -> DataFrame:
        corpus = _corpus_near(spark, sf_dir)
        return dd.simhash(corpus, "text", "doc_id", bits=_SIM_BITS).transform(
            lazy_checkpoint
        )

    return shared_frames.session_frame(spark, "simhash_sketch", sf_dir, build)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash sketch per document (corpus + near-dup mutants)."""
    return _shared_simhash_sketch(spark, sf_dir)


def _simhash_core_sql() -> str:
    P = dd.MERSENNE_P
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(_SIM_BITS)
    )
    value = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b}::BIGINT ELSE 0::BIGINT END)"
        for b in range(_SIM_BITS)
    )
    return f"""
tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM corpus),
hv AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT % {P} AS h FROM tok),
votes AS (SELECT doc_id, {votes} FROM hv GROUP BY doc_id),
sim AS (SELECT doc_id, ({value}) AS simhash FROM votes)"""


_SIMHASH_SQL = f"""
WITH {_CORPUS_NEAR_SQL},
{_simhash_core_sql()}
SELECT doc_id, simhash FROM sim
"""


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, hamming <= 3 via 4-chunk banding
    (pigeonhole-complete at this threshold: any pair within hamming 3
    shares at least one exact 8-bit chunk)."""
    return dd.simhash_pairs(
        _shared_simhash_sketch(spark, sf_dir), "doc_id",
        bits=_SIM_BITS, max_hamming=3, chunks=_SIM_CHUNKS,
    )


_SIMHASH_PAIRS_SQL = f"""
WITH {_CORPUS_NEAR_SQL},
{_simhash_core_sql()},
chunked AS (SELECT doc_id, simhash, c::BIGINT AS chunk, (simhash >> (c * 8)) & 255 AS chunk_val
            FROM sim, UNNEST([0, 1, 2, 3]) AS u(c)),
pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.simhash AS sh_a, b.simhash AS sh_b
          FROM chunked a JOIN chunked b
            ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val
          WHERE a.doc_id < b.doc_id)
SELECT id_a, id_b, bit_count(xor(sh_a, sh_b))::BIGINT AS hamming
FROM pairs
WHERE bit_count(xor(sh_a, sh_b)) <= 3
"""


# ---------------------------------------------------------------------------
# embedding similarity
# ---------------------------------------------------------------------------

_DIM = 64
_TOPK = 5
_PLANES = 8


def _cos_sql(qv: str, cv: str) -> str:
    dot = f"list_sum(list_transform(range(1, {_DIM + 1}), i -> {qv}[i]::DOUBLE * {cv}[i]::DOUBLE))"
    nq = f"sqrt(list_sum(list_transform(range(1, {_DIM + 1}), i -> {qv}[i]::DOUBLE * {qv}[i]::DOUBLE)))"
    nc = f"sqrt(list_sum(list_transform(range(1, {_DIM + 1}), i -> {cv}[i]::DOUBLE * {cv}[i]::DOUBLE)))"
    return f"{dot} / ({nq} * {nc})"


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors (vec_id < 5), native
    expressions: broadcast queries x corpus, per-query window top-k."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return sim.cosine_topk_native(emb, queries, k=_TOPK)


_COSINE_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id, {_cos_sql('qv', 'cv')} AS cos
  FROM q, c WHERE neighbor_id != query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank::BIGINT AS rank, round(cos, 4) AS cosine
FROM ranked WHERE rank <= {_TOPK}
"""


def _planes() -> np.ndarray:
    return np.random.RandomState(42).normal(size=(_PLANES, _DIM))


def _sig_sql(v: str) -> str:
    planes = _planes()
    terms = []
    for b in range(_PLANES):
        lits = ", ".join(repr(float(x)) for x in planes[b])
        dot = f"list_sum(list_transform(range(1, {_DIM + 1}), i -> {v}[i]::DOUBLE * ([{lits}])[i]))"
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << b}::BIGINT ELSE 0::BIGINT END)")
    return " + ".join(terms)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via random-hyperplane buckets (single-probe)
    + exact rerank inside the bucket — the corpus-pruning scale path."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return sim.ann_lsh_topk(
        emb, queries, k=_TOPK, num_planes=_PLANES, dim=_DIM, seed=42
    )


_ANN_LSH_SQL = f"""
WITH sigs AS (
  SELECT vec_id, embedding, ({_sig_sql('embedding')}) AS sig FROM embeddings
),
q AS (SELECT vec_id AS query_id, embedding AS qv, sig FROM sigs WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv, sig FROM sigs),
scored AS (
  SELECT query_id, neighbor_id, {_cos_sql('qv', 'cv')} AS cos
  FROM q JOIN c USING (sig) WHERE neighbor_id != query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank::BIGINT AS rank, round(cos, 4) AS cosine
FROM ranked WHERE rank <= {_TOPK}
"""


def _dots_sql(v: str) -> str:
    """Per-plane dot list — DuckDB twin of ``similarity.hyperplane_dots``
    (same left-to-right summation, so margins are bit-identical)."""
    planes = _planes()
    dots = []
    for b in range(_PLANES):
        lits = ", ".join(repr(float(x)) for x in planes[b])
        dots.append(
            f"list_sum(list_transform(range(1, {_DIM + 1}), i -> {v}[i]::DOUBLE * ([{lits}])[i]))"
        )
    return "[" + ", ".join(dots) + "]"


def q_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe ANN (3 probes): beyond the exact hyperplane bucket,
    each query probes the buckets behind its two lowest-|margin| sign
    bits — the standard recall fix for single-probe LSH at scale (only
    the tiny query side explodes; the corpus stays put)."""
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return sim.ann_lsh_topk(
        emb, queries, k=_TOPK, num_planes=_PLANES, dim=_DIM, seed=42, num_probes=3
    )


_ANN_MULTIPROBE_SQL = f"""
WITH csig AS (
  SELECT vec_id AS neighbor_id, embedding AS cv, ({_sig_sql('embedding')}) AS sig
  FROM embeddings
),
qd AS (
  SELECT vec_id AS query_id, embedding AS qv, {_dots_sql('embedding')} AS dots
  FROM embeddings WHERE vec_id < 5
),
qs AS (
  SELECT query_id, qv, dots,
         list_sum(list_transform(range(1, {_PLANES + 1}),
           i -> CASE WHEN dots[i] >= 0 THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END))::BIGINT AS sig0
  FROM qd
),
qf AS (
  SELECT query_id, qv, sig0,
         list_transform(
           list_sort(list_transform(range(1, {_PLANES + 1}), i -> [abs(dots[i]), (i - 1)::DOUBLE]))[1:2],
           p -> p[2]::INTEGER) AS flips
  FROM qs
),
qp AS (
  SELECT query_id, qv,
         unnest(list_prepend(sig0, list_transform(flips, ix -> xor(sig0, 1::BIGINT << ix)))) AS sig
  FROM qf
),
scored AS (
  SELECT query_id, neighbor_id, {_cos_sql('qv', 'cv')} AS cos
  FROM qp JOIN csig ON qp.sig = csig.sig WHERE neighbor_id != query_id
),
ranked AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank::BIGINT AS rank, round(cos, 4) AS cosine
FROM ranked WHERE rank <= {_TOPK}
"""


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via hyperplane-bucket self-join.
    Scaled copies (x1.2, id+10000) are the planted dups — cosine exactly
    1, sign bits preserved, so every (v, 1.2v) pair lands in-bucket."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    scaled = emb.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * 1.2).alias("embedding"),
    )
    base = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    corpus = base.unionByName(scaled)
    return sim.embedding_near_dup_pairs(
        corpus, threshold=0.95, num_planes=_PLANES, dim=_DIM, seed=42
    )


_NEAR_DUP_SQL = f"""
WITH corpus AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000 AS vec_id, list_transform(embedding, x -> x::DOUBLE * 1.2) AS embedding
  FROM embeddings
),
sigs AS (SELECT vec_id, embedding, ({_sig_sql('embedding')}) AS sig FROM corpus)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round({_cos_sql('a.embedding', 'b.embedding')}, 4) AS cosine
FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id
WHERE round({_cos_sql('a.embedding', 'b.embedding')}, 4) >= 0.95
"""


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding-centroid drift between two corpus snapshots
    (vec_id parity stands in for old/new): the cosine between each
    label's old and new prototype — the encoder/data-shift monitor
    that catches a retrained embedding model or a poisoned feed before
    similarity joins silently rot. Centroids come from
    ``sim.grouped_centroids`` (map-combined per-dim averages, rounded
    at 6 so both engines dot IDENTICAL arrays in identical index
    order); the drift cosine is then deterministic IEEE."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    old = emb.filter(F.col("vec_id") % 2 == 0)
    new = emb.filter(F.col("vec_id") % 2 == 1)
    co = sim.grouped_centroids(old, "embedding", "label").select(
        "label",
        F.col("n_vecs").alias("n_old"),
        F.col("centroid").alias("__co"),
    )
    cn = sim.grouped_centroids(new, "embedding", "label").select(
        "label",
        F.col("n_vecs").alias("n_new"),
        F.col("centroid").alias("__cn"),
    )
    return co.join(cn, "label").select(
        "label",
        "n_old",
        "n_new",
        F.round(sim.cosine_native(F.col("__co"), F.col("__cn")), 4).alias(
            "drift_cos"
        ),
    )


_EMBEDDING_DRIFT_SQL = f"""
WITH halves AS (
  SELECT vec_id % 2 AS half, label, embedding FROM embeddings
),
d AS (
  SELECT half, label, i - 1 AS dim, embedding[i] AS v
  FROM halves, UNNEST(range(1, len(embedding) + 1)) AS u(i)
),
pd AS (
  -- exact decimal accumulation + ONE IEEE division + DECIMAL(18,8)
  -- re-cast before the display round, mirroring grouped_centroids
  SELECT half, label, dim,
         round((sum((v::DOUBLE)::DECIMAL(30,12))::DOUBLE / count(*))::DECIMAL(18,8), 6)::DOUBLE AS m,
         count(*) AS c
  FROM d GROUP BY 1, 2, 3
),
cent AS (
  SELECT half, label, max(c) AS n_vecs,
         list(m ORDER BY dim) AS centroid
  FROM pd GROUP BY 1, 2
)
SELECT o.label AS label, o.n_vecs::BIGINT AS n_old, n.n_vecs::BIGINT AS n_new,
       round({_cos_sql('o.centroid', 'n.centroid')}, 4) AS drift_cos
FROM cent o JOIN cent n ON o.label = n.label
WHERE o.half = 0 AND n.half = 1
"""


def q_mutual_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal nearest-neighbor pairs over the planted-dup corpus
    (each vector + its 1.2-scaled twin): every (v, 1.2v) pair is
    mutually closest at cosine exactly 1.0, so the expected output is
    the twin pairing — the dedup merge queue a one-directional top-1
    would pollute with hub vectors. Candidates stay LSH-bucket-bounded
    (``sim.mutual_nn_pairs``); the oracle replays bucket signatures,
    per-source top-1 windows, and the reversed-pair join in SQL. The
    +10000 twin-id offset is canary-pinned (test_headroom_canaries.py:
    max vec_id < 5000 today, fails loudly before twins can collide)."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    scaled = emb.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * 1.2).alias(
            "embedding"
        ),
    )
    base = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    corpus = base.unionByName(scaled)
    return sim.mutual_nn_pairs(
        corpus, num_planes=_PLANES, dim=_DIM, seed=42
    )


_MUTUAL_NN_SQL = f"""
WITH corpus AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000 AS vec_id, list_transform(embedding, x -> x::DOUBLE * 1.2) AS embedding
  FROM embeddings
),
sigs AS (SELECT vec_id, embedding, ({_sig_sql('embedding')}) AS sig FROM corpus),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round({_cos_sql('a.embedding', 'b.embedding')}, 4) AS cosine
  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id
  WHERE round({_cos_sql('a.embedding', 'b.embedding')}, 4) >= -1.0
),
directed AS (
  SELECT id_a AS src, id_b AS dst, cosine FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst, cosine FROM pairs
),
top1 AS (
  SELECT src, dst, cosine FROM (
    SELECT src, dst, cosine,
           row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rk
    FROM directed
  ) WHERE rk = 1
)
SELECT t1.src AS id_a, t1.dst AS id_b, t1.cosine AS cosine
FROM top1 t1 JOIN top1 t2 ON t1.dst = t2.src AND t1.src = t2.dst
WHERE t1.src < t1.dst
"""


def q_label_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-error mining: for every embedding, the fraction of its 5
    nearest in-bucket neighbors sharing its label
    (``sim.knn_label_consistency`` — Confident-Learning-style
    neighborhood vote); rows whose neighborhoods overwhelmingly
    disagree are labeling suspects to route to review before training.
    Candidates stay LSH-bucket-bounded; the per-source top-k window
    compiles to WindowGroupLimit; labels attach by keyed equi-joins
    (entity-grain — never broadcast at corpus scale)."""
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
        "label",
    )
    return sim.knn_label_consistency(
        emb, k=5, num_planes=_PLANES, dim=_DIM, seed=42
    )


_LABEL_CONSISTENCY_SQL = f"""
WITH sigs AS (
  SELECT vec_id, embedding, label, ({_sig_sql('embedding')}) AS sig
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round({_cos_sql('a.embedding', 'b.embedding')}, 4) AS cosine
  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id
  WHERE round({_cos_sql('a.embedding', 'b.embedding')}, 4) >= -1.0
),
directed AS (
  SELECT id_a AS src, id_b AS dst, cosine FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst, cosine FROM pairs
),
topk AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           row_number() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rk
    FROM directed
  ) WHERE rk <= 5
),
voted AS (
  SELECT t.src, o.label AS own, n.label AS nbr
  FROM topk t
  JOIN sigs o ON t.src = o.vec_id
  JOIN sigs n ON t.dst = n.vec_id
),
per AS (
  SELECT src, own, count(*) AS n,
         sum(CASE WHEN nbr = own THEN 1 ELSE 0 END) AS agree
  FROM voted GROUP BY 1, 2
)
SELECT src AS vec_id, own AS label,
       n::BIGINT AS n_nbrs, agree::BIGINT AS n_agree,
       round(agree::DOUBLE / n::DOUBLE, 4) AS agree_frac,
       (round(agree::DOUBLE / n::DOUBLE, 4) < 0.5) AS suspect
FROM per
"""


def q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-cluster-aware leakage-safe split: transitive MinHash
    clusters (dedup_clusters) dealt 80/10/10 by md5 of the CLUSTER rep
    (mix.grouped_split), so a document and its near-duplicates can
    never straddle train and eval — the contamination-by-construction
    guard a source- or row-level split misses. The split itself is
    map-only on the cluster label; the MinHash+CC subtree is the
    session-shared ``_shared_cc_labels`` frame, so the family pays it
    once, not per query."""
    from sparkprep.operators import mix

    corpus = _corpus_near(spark, sf_dir)
    clusters = dd.dedup_clusters(
        corpus, "doc_id", _shared_cc_labels(spark, sf_dir)
    )
    out = mix.grouped_split(
        clusters, "cluster_rep",
        {"train": 0.8, "val": 0.1, "test": 0.1}, salt="r4",
    )
    return out.select(
        "doc_id", F.col("cluster_rep").cast("bigint").alias("cluster_rep"),
        "split",
    )


def _cluster_split_sql() -> str:
    return f"""
WITH RECURSIVE {_cc_reps_ctes()},
u AS (
  SELECT doc_id, cluster_rep,
         ('0x' || substr(md5(cluster_rep::VARCHAR || 'r4'), 1, 15))::BIGINT
           / 1152921504606846976.0 AS uv
  FROM reps
)
SELECT doc_id, cluster_rep::BIGINT AS cluster_rep,
       CASE WHEN uv < 0.8 THEN 'train'
            WHEN uv < 0.9 THEN 'val'
            ELSE 'test' END AS split
FROM u
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: MinHash-LSH pairs closed under
    connected components (iterative min-label propagation). Oracle is a
    recursive CTE doing the same min-reachable-id fixpoint — the
    strongest check an iterative distributed algorithm can get. The
    labels come from the session-shared ``_shared_cc_labels`` frame
    (one MinHash+CC per session for the whole family)."""
    corpus = _corpus_near(spark, sf_dir)
    return dd.dedup_clusters(corpus, "doc_id", _shared_cc_labels(spark, sf_dir))


def _cc_reps_ctes() -> str:
    """Recursive min-label CC over the threshold-0.8 pair graph,
    resolved to per-doc cluster reps: CTE chain ending in
    ``reps(doc_id, cluster_rep)``. Shared by the dedup_clusters and
    cluster_split oracles so the closure semantics can never drift."""
    pair_sql = _minhash_sql(est_threshold=0.8)
    return f"""base AS ({pair_sql}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM base
  UNION
  SELECT id_b AS u, id_a AS v FROM base
),
cc(node, label) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, cc.label FROM cc JOIN edges e ON cc.node = e.u
),
comp AS (SELECT node, min(label) AS component FROM cc GROUP BY node),
{_CORPUS_NEAR_SQL},
reps AS (
  SELECT c.doc_id, coalesce(comp.component, c.doc_id) AS cluster_rep
  FROM corpus c LEFT JOIN comp ON comp.node = c.doc_id
)"""


def _dedup_clusters_sql() -> str:
    return f"""
WITH RECURSIVE {_cc_reps_ctes()}
SELECT doc_id, cluster_rep FROM reps
"""


def q_cluster_reps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-representative selection: the end-to-end near-dedup
    DECISION — MinHash-LSH pairs, transitive closure, then keep the
    longest member per cluster (doc_id tiebreak). One row per doc with
    its keep/drop verdict and cluster size; this is the table a corpus
    pipeline actually acts on, where dedup_clusters only labels. Rides
    the session-shared ``_shared_cc_labels`` frame like its siblings."""
    corpus = _corpus_near(spark, sf_dir).withColumn(
        "n_chars", F.length("text").cast("long")
    )
    return dd.cluster_representatives(
        corpus, "doc_id", "n_chars", _shared_cc_labels(spark, sf_dir)
    ).orderBy("doc_id")


def _cluster_reps_sql() -> str:
    # same recursive min-label CC as the dedup_clusters oracle, then the
    # keep-best window over each component
    pair_sql = _minhash_sql(est_threshold=0.8)
    return f"""
WITH RECURSIVE base AS ({pair_sql}),
edges AS (
  SELECT id_a AS u, id_b AS v FROM base
  UNION
  SELECT id_b AS u, id_a AS v FROM base
),
cc(node, label) AS (
  SELECT u, u FROM edges
  UNION
  SELECT e.v, cc.label FROM cc JOIN edges e ON cc.node = e.u
),
comp AS (SELECT node, min(label) AS component FROM cc GROUP BY node),
{_CORPUS_NEAR_SQL},
lab AS (
  SELECT c.doc_id, coalesce(comp.component, c.doc_id) AS cluster_rep,
         length(c.text)::BIGINT AS n_chars
  FROM corpus c LEFT JOIN comp ON comp.node = c.doc_id
),
r AS (
  SELECT doc_id, cluster_rep, n_chars,
         row_number() OVER (PARTITION BY cluster_rep
                            ORDER BY n_chars DESC, doc_id ASC) AS rk,
         count(*) OVER (PARTITION BY cluster_rep) AS cluster_size
  FROM lab
)
SELECT doc_id, cluster_rep, n_chars, (rk = 1) AS keep,
       cluster_size::BIGINT AS cluster_size
FROM r ORDER BY doc_id
"""


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing end-to-end under the ORACLE: synthetic binary
    payloads (md5-derived) → mapInPandas fake-decode → per-media feature
    vector. The stub decoder is hash-deterministic, so DuckDB can mirror
    every byte: payload = unhex(repeat(md5(id),4)), features = bytes of
    md5(payload)/255. This pins the Arrow batch plumbing, not a codec.
    """
    from sparkprep.operators import multimodal as mm

    base = t(spark, sf_dir, "embeddings").select(F.col("vec_id").alias("id"))
    media = mm.synthesize_media(base, "id", "image", ascii_payload=True)
    decoded = mm.decode_media(media, fake=True)
    return decoded.select(
        "media_id",
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        F.round(F.element_at("feature", 1), 6).alias("f0"),
        F.round(F.element_at("feature", 16), 6).alias("f15"),
    )


_MEDIA_SQL = """
WITH payload AS (
  -- ascii payload: the content bytes ARE the hex string, so VARCHAR md5
  -- equals the executor-side hashlib.md5(payload_bytes)
  SELECT vec_id AS media_id,
         md5(repeat(md5(vec_id::VARCHAR), 4)) AS h
  FROM embeddings
)
SELECT media_id,
       (16 + ('0x' || substr(h, 1, 2))::BIGINT % 240) AS width,
       (16 + ('0x' || substr(h, 3, 2))::BIGINT % 240) AS height,
       round(('0x' || substr(h, 1, 2))::BIGINT / 255.0, 6) AS f0,
       round(('0x' || substr(h, 31, 2))::BIGINT / 255.0, 6) AS f15
FROM payload
"""


_CHUNK_W = 32
_CHUNK_EST = 0.8


def q_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style SUB-document fuzzy dedup report: non-overlapping
    32-token chunks, MinHash-LSH near-dup pairs at chunk granularity,
    cross-document matches only, rolled up per document as a shared-
    chunk ratio (the 'how much of this doc is copied from elsewhere'
    signal that doc-level dedup misses entirely).

    Scale shape: the chunk explode is row-local; chunk pairs reuse the
    banded-LSH equi-join (never all-pairs); matched ids come from
    explode-over-struct, NOT a union of two selects from the pair
    subtree (which would re-execute the MinHash join — CLAUDE.md
    landmine); the rollup is one map-combined groupBy."""
    from sparkprep.operators import text as tx

    corpus = _corpus_near(spark, sf_dir)
    chunks = tx.chunk_documents(
        corpus, "text", "doc_id", width=_CHUNK_W, stride=_CHUNK_W
    )
    cdf = chunks.select(
        (F.col("doc_id") * 1000 + F.col("chunk_id")).alias("cid"),
        "chunk_text",
    )
    # NOTE (r10): cdf feeds the signature build AND the rollup join, but
    # a lazy checkpoint here measured a WASH (2.96s both ways at sf0.1):
    # the rollup side column-prunes to cid only, so its "recompute" never
    # touches the chunk text — and checkpointing the full chunk-text
    # frame would be strictly worse at 100 TB. Deliberately left.
    sig = dd.minhash_signatures(
        cdf, "chunk_text", "cid", num_hashes=_NUM_HASHES, k=_K, seed=_SEED
    )
    pairs = dd.minhash_candidate_pairs(
        sig, "cid", bands=_BANDS, est_threshold=_CHUNK_EST
    )
    cross = pairs.filter(F.expr("id_a div 1000") != F.expr("id_b div 1000"))
    matched = (
        cross.select(F.explode(F.array("id_a", "id_b")).alias("cid"))
        .distinct()
        .withColumn("__m", F.lit(1))
    )
    return (
        cdf.join(matched, "cid", "left")
        .groupBy(F.expr("cid div 1000").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count("__m").alias("n_shared"),
        )
        .select(
            "doc_id",
            F.col("n_chunks").cast("long").alias("n_chunks"),
            F.col("n_shared").cast("long").alias("n_shared"),
            F.round(F.col("n_shared") / F.col("n_chunks"), 4).alias("shared_ratio"),
        )
    )


def _chunk_overlap_sql() -> str:
    base = _CORPUS_NEAR_SQL.replace("corpus AS (", "base AS (", 1)
    return f"""
WITH {base},
tk0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM base),
nch AS (SELECT doc_id, t,
               greatest(ceil(len(t)::DOUBLE / {_CHUNK_W})::BIGINT, 1) AS n_chunks
        FROM tk0),
corpus AS (
  SELECT doc_id * 1000 + i AS doc_id,
         array_to_string(t[i * {_CHUNK_W} + 1 : i * {_CHUNK_W} + {_CHUNK_W}], ' ') AS text
  FROM nch, UNNEST(range(0, n_chunks)) AS u(i)
),
{_minhash_core_ctes(_CHUNK_EST)},
cross_p AS (SELECT id_a, id_b FROM mh WHERE id_a // 1000 <> id_b // 1000),
matched AS (SELECT DISTINCT cid
            FROM (SELECT unnest([id_a, id_b]) AS cid FROM cross_p)),
per AS (
  SELECT c.doc_id // 1000 AS doc_id,
         count(*) AS n_chunks,
         count(m.cid) AS n_shared
  FROM corpus c LEFT JOIN matched m ON c.doc_id = m.cid
  GROUP BY 1
)
SELECT doc_id, n_chunks::BIGINT AS n_chunks, n_shared::BIGINT AS n_shared,
       round(n_shared::DOUBLE / n_chunks, 4) AS shared_ratio
FROM per
"""


_SEM_K = 8
_SEM_TAU = 0.95


def _sem_cents() -> np.ndarray:
    rng = np.random.RandomState(7)
    c = rng.normal(size=(_SEM_K, _DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def _sem_sig_sql(v: str) -> str:
    """Hyperplane signature twin of the operator's candidate prefilter
    (planes from RandomState(seed + 100), same >= 0 bit convention)."""
    planes = np.random.RandomState(107).normal(size=(_PLANES, _DIM))
    terms = []
    for b in range(_PLANES):
        lits = ", ".join(repr(float(x)) for x in planes[b])
        dot = f"list_sum(list_transform(range(1, {_DIM + 1}), i -> {v}[i]::DOUBLE * ([{lits}])[i]))"
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << b}::BIGINT ELSE 0::BIGINT END)")
    return " + ".join(terms)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup over the embedding corpus with
    planted near-dups (the x1.2 scaled copies, id+10000): nearest seeded
    centroid → within-cluster cosine >= tau vs any lower id → keep flag.
    Cluster assignment is map-only; the pair check is an equi-join on
    the cluster key (bounded by largest cluster, never all-pairs)."""
    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    scaled = emb.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("embedding", lambda x: x.cast("double") * 1.2).alias("embedding"),
    )
    base = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    corpus = base.unionByName(scaled)
    return sim.semantic_dedup(
        corpus, num_clusters=_SEM_K, dim=_DIM, tau=_SEM_TAU, seed=7
    )


def _sem_dedup_sql() -> str:
    cents = _sem_cents()
    dots = []
    for k in range(_SEM_K):
        lits = ", ".join(repr(float(x)) for x in cents[k])
        dots.append(
            f"list_sum(list_transform(range(1, {_DIM + 1}),"
            f" i -> embedding[i]::DOUBLE * ([{lits}])[i])) AS d{k}"
        )
    # first-k-wins CASE chain == argmax with ties to lowest index
    arms = []
    for k in range(_SEM_K - 1):
        cond = " AND ".join(f"d{k} >= d{j}" for j in range(k + 1, _SEM_K))
        arms.append(f"WHEN {cond} THEN {k}")
    case = "CASE " + " ".join(arms) + f" ELSE {_SEM_K - 1} END"
    return f"""
WITH corpus AS (
  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000 AS vec_id, list_transform(embedding, x -> x::DOUBLE * 1.2) AS embedding
  FROM embeddings
),
dk AS (
  SELECT vec_id, embedding, {", ".join(dots)}
  FROM corpus
),
assigned AS (
  SELECT vec_id, embedding, ({case})::BIGINT AS cluster,
         ({_sem_sig_sql('embedding')}) AS sig
  FROM dk
),
un AS (
  SELECT vec_id, cluster, sig,
         list_transform(embedding, x -> x / nrm) AS u
  FROM (SELECT vec_id, cluster, sig, embedding,
               sqrt(list_sum(list_transform(embedding, x -> x * x))) AS nrm
        FROM assigned)
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM un a JOIN un b ON a.cluster = b.cluster AND a.sig = b.sig AND a.vec_id < b.vec_id
  WHERE round(list_sum(list_transform(range(1, {_DIM + 1}), i -> a.u[i] * b.u[i])), 4) >= {_SEM_TAU}
)
SELECT u.vec_id, u.cluster, (d.vec_id IS NULL) AS keep
FROM un u LEFT JOIN dropped d ON u.vec_id = d.vec_id
"""


def q_llm_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole LLM-prep quality gate as ONE funnel-accounting pass:
    length gate → composite quality gate → repetition gate → exact
    dedup, each stage's survivor count from a conditional aggregate
    over cumulative predicates. One projection computes every signal,
    one window (hash-partitioned by text) marks dedup canonicals, one
    aggregate emits the funnel — three stages total regardless of data
    size. Run over the exact-dup corpus so the dedup stage bites."""
    from sparkprep.operators import text as tx
    from pyspark.sql import Window

    corpus = _corpus_exact(spark, sf_dir)
    # only the dup-shingle signal is gated on — do NOT pay for
    # add_repetition_signals' top_token_ratio (O(distinct·n) per row).
    # Token array materialized in its OWN projection before the shingle
    # lambda touches it (an inline tokens() re-splits the text per
    # element inside transform — the 18x landmine)
    staged = corpus.withColumn("__tk", tx.tokens("text")).withColumn(
        "__sh", tx.shingles(F.col("__tk"), 3)
    )
    dup_ratio = F.when(
        F.size("__sh") > 0,
        1 - F.size(F.array_distinct("__sh")) / F.size("__sh"),
    )
    # dedup canonicals keyed on md5(text), not text: the window's
    # exchange then carries a 32-char digest per row instead of the
    # full document payload (the repo-wide exact-dup fingerprint
    # convention — text.fingerprint)
    staged = staged.select(
        "doc_id",
        F.md5("text").alias("__fp"),
        F.round(dup_ratio, 4).alias("dup_shingle_ratio"),
        tx.quality_score("text").alias("__q"),
        tx.char_count("text").alias("__n"),
    ).withColumn(
        "__min_id", F.min("doc_id").over(Window.partitionBy("__fp"))
    )
    c_len = (F.col("__n") >= 80) & (F.col("__n") <= 450)
    c_qual = c_len & (F.col("__q") >= 0.8)
    c_rep = c_qual & (
        F.col("dup_shingle_ratio").isNull() | (F.col("dup_shingle_ratio") <= 0.2)
    )
    c_dedup = c_rep & (F.col("doc_id") == F.col("__min_id"))
    return staged.agg(
        F.count(F.lit(1)).alias("total"),
        F.count(F.when(c_len, 1)).alias("after_length"),
        F.count(F.when(c_qual, 1)).alias("after_quality"),
        F.count(F.when(c_rep, 1)).alias("after_repetition"),
        F.count(F.when(c_dedup, 1)).alias("after_dedup"),
    )


_EN_FUNNEL = "'the', 'a', 'and', 'of', 'to', 'in', 'is', 'it'"

_LLM_FUNNEL_SQL = f"""
WITH {_CORPUS_EXACT_SQL.strip()},
sig AS (
  SELECT doc_id, text,
         length(text) AS n,
         round((
           (CASE WHEN length(text) < 50 THEN length(text) / 50.0
                 WHEN length(text) > 1000 THEN greatest(0.0, 1 - (length(text) - 1000) / 4000.0)
                 ELSE 1.0 END)
           + least(round(len(list_filter(string_split(text, ' '), x -> x IN ({_EN_FUNNEL})))::DOUBLE
                         / len(string_split(text, ' ')), 6) / 0.15, 1.0)
           + (1 - round(length(regexp_replace(text, '[a-zA-Z ]', '', 'g'))::DOUBLE / length(text), 6))
         ) / 3, 4) AS q,
         round(CASE WHEN len(list_transform(range(1, len(string_split(text, ' ')) - 1),
                        i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])) > 0
                    THEN 1 - len(list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
                        i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2])))::DOUBLE
                          / len(list_transform(range(1, len(string_split(text, ' ')) - 1),
                        i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] || ' ' || string_split(text, ' ')[i+2]))
               END, 4) AS dup_ratio,
         min(doc_id) OVER (PARTITION BY text) AS min_id
  FROM corpus
)
SELECT count(*) AS total,
       count(*) FILTER (WHERE n BETWEEN 80 AND 450) AS after_length,
       count(*) FILTER (WHERE n BETWEEN 80 AND 450 AND q >= 0.8) AS after_quality,
       count(*) FILTER (WHERE n BETWEEN 80 AND 450 AND q >= 0.8
                          AND (dup_ratio IS NULL OR dup_ratio <= 0.2)) AS after_repetition,
       count(*) FILTER (WHERE n BETWEEN 80 AND 450 AND q >= 0.8
                          AND (dup_ratio IS NULL OR dup_ratio <= 0.2)
                          AND doc_id = min_id) AS after_dedup
FROM sig
"""


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical leg + dense cosine leg fused with
    reciprocal-rank fusion (similarity.rrf_fuse). Each leg is top-50
    bounded BEFORE fusion (TakeOrdered, never a global corpus rank);
    the query vector is doc 0's embedding, the lexical query the shared
    _BM25_TERMS — the standard two-retriever RAG setup."""
    from sparkprep.operators import text as tx
    from sparkprep.queries.textops import _BM25_TERMS

    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    bm = tx.bm25_scores(docs, "text", "doc_id", _BM25_TERMS)
    lex = sim.topk_ranked(bm, "bm25", "doc_id", 50)
    q0 = emb.filter(F.col("vec_id") == 0)
    dense = sim.cosine_topk_native(emb, q0, k=50).select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return sim.rrf_fuse([lex, dense], "doc_id", k=60)


def _hybrid_rrf_sql() -> str:
    from sparkprep.queries.textops import _BM25_SQL

    return f"""
WITH bm AS ({_BM25_SQL}),
bmtop AS (
  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
  FROM bm QUALIFY r <= 50
),
qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cosd AS (
  SELECT vec_id AS doc_id, {_cos_sql('qv', 'embedding')} AS cos
  FROM embeddings, qv WHERE vec_id != 0
),
ctop AS (
  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS r
  FROM cosd QUALIFY r <= 50
),
fused AS (
  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         round(coalesce(1.0/(60 + a.r), 0) + coalesce(1.0/(60 + b.r), 0), 6) AS rrf
  FROM bmtop a FULL OUTER JOIN ctop b ON a.doc_id = b.doc_id
)
SELECT doc_id,
       row_number() OVER (ORDER BY rrf DESC, doc_id)::BIGINT AS rrf_rank,
       rrf
FROM fused ORDER BY rrf_rank
"""


_NEG_K = 3
_NEG_BUCKETS = 8
_NEG_SALT = "neg"


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negative mining over the embeddings
    table: each anchor takes the first 3 different-label rows of its
    md5 bucket in md5(anchor‖neg‖salt) order, with cosine attached for
    hardness grading (similarity.negative_pairs — id-only bucket join,
    vectors fetched for survivors only)."""
    emb = t(spark, sf_dir, "embeddings")
    return sim.negative_pairs(
        emb, k=_NEG_K, buckets=_NEG_BUCKETS, salt=_NEG_SALT
    )


_HARD_NEGATIVES_SQL = f"""
WITH ids AS (
  SELECT vec_id, label,
         ('0x' || substr(md5(vec_id::VARCHAR || '{_NEG_SALT}'), 1, 15))::BIGINT
           % {_NEG_BUCKETS} AS b
  FROM embeddings
),
kept AS (
  SELECT * FROM (
    SELECT a.vec_id AS anchor_id, a.label AS anchor_label,
           c.vec_id AS neg_id, c.label AS neg_label,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY md5(a.vec_id::VARCHAR || '|' || c.vec_id::VARCHAR || '{_NEG_SALT}'),
                      c.vec_id
           ) AS rn
    FROM ids a JOIN ids c ON a.b = c.b AND a.label <> c.label
  ) WHERE rn <= {_NEG_K}
)
SELECT k.anchor_id, k.anchor_label, k.neg_id, k.neg_label,
       k.rn::BIGINT AS neg_rank,
       round({_cos_sql('qa.embedding', 'qc.embedding')}, 4) AS cosine
FROM kept k
JOIN embeddings qa ON qa.vec_id = k.anchor_id
JOIN embeddings qc ON qc.vec_id = k.neg_id
"""



def q_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration: candidate count, MAE/bias of the
    signature-agreement estimate vs exact 3-gram Jaccard, precision at
    0.5 — exact side computed over candidate-involved docs ONLY."""
    corpus = _corpus_near(spark, sf_dir)
    return dd.minhash_estimator_eval(
        corpus, _shared_near_sigs(spark, sf_dir), "text", "doc_id",
        k=_K, bands=_BANDS, est_threshold=_EST_THRESHOLD, sim_threshold=0.5,
    )


def _minhash_eval_sql() -> str:
    return f"""
WITH {_CORPUS_NEAR_SQL},
{_minhash_core_ctes(_EST_THRESHOLD)},
cids AS (SELECT id_a AS id FROM mh UNION SELECT id_b FROM mh),
shc AS (SELECT * FROM sh WHERE doc_id IN (SELECT id FROM cids)),
sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
          FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
ex AS (SELECT id_a, id_b,
              n_inter::DOUBLE / (na.n + nb.n - n_inter) AS exact
       FROM inter
       JOIN sizes na ON na.doc_id = id_a
       JOIN sizes nb ON nb.doc_id = id_b),
j AS (SELECT mh.est_jaccard, coalesce(ex.exact, 0.0) AS exact
      FROM mh LEFT JOIN ex USING (id_a, id_b))
SELECT count(*)::BIGINT AS n_candidates,
       round(sum(CAST(round(abs(est_jaccard - exact), 6) AS DECIMAL(18,6)))::DOUBLE
             / count(*), 4) AS mae,
       round(sum(CAST(round(est_jaccard - exact, 6) AS DECIMAL(18,6)))::DOUBLE
             / count(*), 4) AS bias,
       round(sum(CASE WHEN exact >= 0.5 THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 4) AS precision
FROM j
"""


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle sample covariance of the embedding corpus's
    first 16 dims (136 (i,j) cells in ONE pass) — the PCA/whitening
    sufficient statistic; DECIMAL term sums make both engines
    bit-agree before the final double combine. 16 of 64 dims keeps
    the oracle-checked exact-decimal path cheap; the full-width
    production route is similarity.embedding_covariance_arrow
    (numpy X^T X per Arrow batch, tested against this one)."""
    emb = t(spark, sf_dir, "embeddings")
    return sim.embedding_covariance(emb, "embedding", dim=16)


_EMB_COV_SQL = """
WITH v AS (
  SELECT list_transform(embedding, x -> x::DOUBLE) AS e
  FROM embeddings WHERE embedding IS NOT NULL
),
pairs AS (
  SELECT p.i, p.j,
         sum((e[p.i + 1] * e[p.j + 1])::DECIMAL(28,12)) AS sxy,
         sum((e[p.i + 1])::DECIMAL(28,12)) AS sxi,
         count(*) AS n
  FROM v, (SELECT a.range AS i, b.range AS j
           FROM range(0, 16) a, range(0, 16) b
           WHERE b.range >= a.range) p
  GROUP BY p.i, p.j
),
diag AS (SELECT i AS d, sxi AS s FROM pairs WHERE j = i)
SELECT p.i::BIGINT AS i, p.j::BIGINT AS j,
       0.0 + round((p.sxy::DOUBLE - di.s::DOUBLE * dj.s::DOUBLE / p.n)
             / nullif(p.n - 1, 0), 6) AS cov
FROM pairs p
JOIN diag di ON di.d = p.i
JOIN diag dj ON dj.d = p.j
"""


def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection of the 64-dim embedding corpus onto its top-4
    principal components: covariance + means fitted in one distributed
    pass (O(d^2) scalars to the driver — the bounded-collect contract),
    rotation applied NATIVELY as literal-array dots, no UDF at serve
    time. No oracle: eigendecomposition is not SQL-expressible — the
    driver records the rows-only check; numpy parity is pinned in
    tests/test_r3_ops.py."""
    emb = t(spark, sf_dir, "embeddings")
    mean, comps = sim.fit_pca(emb, "embedding", dim=_DIM, n_components=4)
    return sim.pca_project(emb, "embedding", "vec_id", mean, comps)


def q_retrieval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retriever agreement: overlap@10 between the lexical (BM25) and
    dense (cosine) top-10 lists for the same query — the diversity
    number that justifies (or kills) running a second retriever: high
    overlap means the legs are redundant; low overlap is where RRF
    fusion earns its cost. Both legs are TakeOrdered-bounded before
    the tiny set intersection."""
    from sparkprep.operators import text as tx
    from sparkprep.queries.textops import _BM25_TERMS

    k = 10
    docs = t(spark, sf_dir, "documents")
    emb = t(spark, sf_dir, "embeddings")
    bm = tx.bm25_scores(docs, "text", "doc_id", _BM25_TERMS)
    lex = sim.topk_ranked(bm, "bm25", "doc_id", k).select("doc_id")
    q0 = emb.filter(F.col("vec_id") == 0)
    dense = sim.cosine_topk_native(emb, q0, k=k).select(
        F.col("neighbor_id").alias("doc_id")
    )
    common = lex.join(dense, "doc_id")
    return common.agg(
        F.lit(k).cast("long").alias("k"),
        F.count(F.lit(1)).cast("long").alias("n_common"),
        F.round(F.count(F.lit(1)) / k, 4).alias("overlap_at_k"),
        F.round(
            F.count(F.lit(1)) / (2 * k - F.count(F.lit(1))), 4
        ).alias("set_jaccard"),
    )


def _retrieval_overlap_sql() -> str:
    from sparkprep.queries.textops import _BM25_SQL

    return f"""
WITH bm AS ({_BM25_SQL}),
bmtop AS (
  SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
  FROM bm QUALIFY r <= 10
),
qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
cosd AS (
  SELECT vec_id AS doc_id, {_cos_sql('qv', 'embedding')} AS cos
  FROM embeddings, qv WHERE vec_id != 0
),
ctop AS (
  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS r
  FROM cosd QUALIFY r <= 10
),
common AS (SELECT a.doc_id FROM bmtop a JOIN ctop b ON a.doc_id = b.doc_id)
SELECT 10::BIGINT AS k,
       count(*)::BIGINT AS n_common,
       round(count(*)::DOUBLE / 10, 4) AS overlap_at_k,
       round(count(*)::DOUBLE / (20 - count(*)), 4) AS set_jaccard
FROM common
"""


def q_sft_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instruction-tuning conversation assembly: each user's event
    stream becomes one chat-template string (turns ordered by
    (ts, event_id), roles alternating user/assistant, message =
    event_type|props). The event-log -> trainable-text grouped map at
    the head of every SFT pipeline; per-key cost bounded by that
    user's events (operators/text.chat_assemble). Digest-compared:
    DuckDB renders the identical template via ordered string_agg."""
    from sparkprep.operators import text as tx

    ev = t(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    msgs = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.concat(
            F.col("event_type"), F.lit("|"), F.coalesce("props", F.lit(""))
        ).alias("msg"),
    )
    convo = tx.chat_assemble(msgs, "user_id", ["ts", "event_id"], "msg")
    return convo.select(
        "user_id",
        F.col("n_turns").cast("bigint").alias("n_turns"),
        F.length("conversation").cast("bigint").alias("convo_chars"),
        F.md5("conversation").alias("convo_digest"),
    )


_SFT_ASSEMBLY_SQL = r"""
WITH m AS (
  SELECT user_id, ts, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) - 1 AS pos,
         event_type || '|' || coalesce(props, '') AS msg
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
turns AS (
  SELECT user_id, pos,
         '<|' || CASE WHEN pos % 2 = 0 THEN 'user' ELSE 'assistant' END
              || '|>' || msg AS turn
  FROM m
),
convo AS (
  SELECT user_id,
         count(*)::BIGINT AS n_turns,
         string_agg(turn, chr(10) ORDER BY pos) AS conversation
  FROM turns GROUP BY user_id
)
SELECT user_id, n_turns,
       length(conversation)::BIGINT AS convo_chars,
       md5(conversation) AS convo_digest
FROM convo
"""


def q_setsim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard ≥ 0.5 pairs over the FULL document
    table via PREFIX FILTERING (``dd.prefix_jaccard_join``) —
    candidates only from rare-shingle prefixes with size-compat
    pruning, exact intersections routed through the candidate list.
    The oracle is the brute-force all-pairs shingle join DuckDB can
    afford at 500 docs; identical survivor sets prove the prefix
    filter loses NOTHING (it is an exact algorithm, unlike the MinHash
    estimate next door — and unlike q_jaccard_pairs it runs the whole
    corpus, not a bounded sub-corpus, because candidate generation is
    prefix-bounded rather than shingle-collision-bounded)."""
    docs = t(spark, sf_dir, "documents")
    return dd.prefix_jaccard_join(
        docs, "text", "doc_id", k=3, threshold=0.5
    )


_SETSIM_JOIN_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'),
                     x -> x <> '') AS tk
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS s
  FROM toks, UNNEST(range(1, len(tk) - 1)) AS u(i)
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(ni / (sa.n + sb.n - ni), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE ni / (sa.n + sb.n - ni) >= 0.5
"""


QUERIES = {
    "setsim_join": q_setsim_join,
    "mutual_nn": q_mutual_nn,
    "label_consistency": q_label_consistency,
    "embedding_drift": q_embedding_drift,
    "exact_dedup": q_exact_dedup,
    "minhash_pairs": q_minhash_pairs,
    "minhash_eval": q_minhash_eval,
    "jaccard_pairs": q_jaccard_pairs,
    "containment_pairs": q_containment_pairs,
    "substr_coverage": q_substr_coverage,
    "embedding_covariance": q_embedding_covariance,
    "pca_project": q_pca_project,
    "simhash": q_simhash,
    "simhash_pairs": q_simhash_pairs,
    "cosine_topk": q_cosine_topk,
    "ann_lsh_topk": q_ann_lsh_topk,
    "ann_multiprobe": q_ann_multiprobe,
    "embedding_near_dup": q_embedding_near_dup,
    "media_features": q_media_features,
    "dedup_clusters": q_dedup_clusters,
    "cluster_reps": q_cluster_reps,
    "chunk_overlap": q_chunk_overlap,
    "semantic_dedup": q_semantic_dedup,
    "llm_funnel": q_llm_funnel,
    "hybrid_rrf": q_hybrid_rrf,
    "retrieval_overlap": q_retrieval_overlap,
    "hard_negatives": q_hard_negatives,
    "sft_assembly": q_sft_assembly,
    "cluster_split": q_cluster_split,
}

ORACLES = {
    "setsim_join": _SETSIM_JOIN_SQL,
    "mutual_nn": _MUTUAL_NN_SQL,
    "label_consistency": _LABEL_CONSISTENCY_SQL,
    "embedding_drift": _EMBEDDING_DRIFT_SQL,
    "exact_dedup": _EXACT_DEDUP_SQL,
    "minhash_pairs": _minhash_sql(),
    "minhash_eval": _minhash_eval_sql(),
    "jaccard_pairs": _JACCARD_SQL,
    "containment_pairs": _CONTAINMENT_SQL,
    "substr_coverage": _SUBSTR_COVERAGE_SQL,
    "embedding_covariance": _EMB_COV_SQL,
    "simhash": _SIMHASH_SQL,
    "simhash_pairs": _SIMHASH_PAIRS_SQL,
    "cosine_topk": _COSINE_TOPK_SQL,
    "ann_lsh_topk": _ANN_LSH_SQL,
    "ann_multiprobe": _ANN_MULTIPROBE_SQL,
    "embedding_near_dup": _NEAR_DUP_SQL,
    "media_features": _MEDIA_SQL,
    "dedup_clusters": _dedup_clusters_sql(),
    "cluster_reps": _cluster_reps_sql(),
    "chunk_overlap": _chunk_overlap_sql(),
    "semantic_dedup": _sem_dedup_sql(),
    "llm_funnel": _LLM_FUNNEL_SQL,
    "hybrid_rrf": _hybrid_rrf_sql(),
    "retrieval_overlap": _retrieval_overlap_sql(),
    "hard_negatives": _HARD_NEGATIVES_SQL,    "sft_assembly": _SFT_ASSEMBLY_SQL,
    "cluster_split": _cluster_split_sql(),
}


# ---------------------------------------------------------------------------
# MMR diversified re-ranking — round 8
# ---------------------------------------------------------------------------

_MMR_QUERIES = 10
_MMR_CAND = 8
_MMR_K = 4
_MMR_LAMBDA = 0.5  # exact binary fraction — both engines bind identical bits


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance re-ranking: take each query's
    cosine top-8 candidates, then greedily select 4 balancing
    relevance against redundancy — score(d) = λ·cos(q,d) −
    (1−λ)·max_{s∈selected} cos(d,s) — the standard retrieval
    diversifier (RAG context assembly, dedup-aware search).

    Scale shape: the candidate pool is the bounded top-k output
    (queries × 8 rows), so the pairwise-similarity frame is queries ×
    64 and the K selection rounds iterate over TINY frames — plan-side
    unrolled joins, no collect, no loop-carried lineage worth
    checkpointing. Every cosine is the order-stable left-fold double
    (identical bits on both engines), λ is an exact binary fraction,
    so each round's argmax (score desc, id asc) picks the same row on
    both engines; displayed scores are DECIMAL-recast rounds."""
    from pyspark.sql.window import Window

    emb = t(spark, sf_dir, "embeddings")
    # norms ride each join side (one fold per row) so every per-pair
    # cosine is a single dot fold — bit-identical (cosine_from_norms)
    q = emb.filter(F.col("vec_id") < _MMR_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv"),
        sim.norm_native(F.col("embedding")).alias("__qn"),
    )
    c = emb.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("__cv"),
        sim.norm_native(F.col("embedding")).alias("__cn"),
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            sim.cosine_from_norms(
                F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn")
            ).alias("rel"),
            "__cv",
            "__cn",
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("cand_id"))
    cand = (
        scored.withColumn("__rk", F.row_number().over(wq))
        .filter(F.col("__rk") <= _MMR_CAND)
        .select("query_id", "cand_id", "rel", "__cv", "__cn")
        .transform(lazy_checkpoint)  # anchors the pair frame AND every round
    )
    a = cand.select(
        "query_id", F.col("cand_id").alias("id_a"),
        F.col("__cv").alias("__va"), F.col("__cn").alias("__na"),
    )
    b = cand.select(
        "query_id", F.col("cand_id").alias("id_b"),
        F.col("__cv").alias("__vb"), F.col("__cn").alias("__nb"),
    )
    pairs = (
        a.join(b, "query_id")
        .filter(F.col("id_a") != F.col("id_b"))
        .select(
            "query_id",
            "id_a",
            "id_b",
            sim.cosine_from_norms(
                F.col("__va"), F.col("__vb"), F.col("__na"), F.col("__nb")
            ).alias("sim_ab"),
        )
        .transform(lazy_checkpoint)  # consumed once per selection round
    )
    pool = cand.select("query_id", "cand_id", "rel")
    lam = F.lit(_MMR_LAMBDA)
    # round 1: pure relevance
    selected = pool.withColumn(
        "__rk", F.row_number().over(wq)
    ).filter(F.col("__rk") == 1).select(
        "query_id",
        "cand_id",
        F.lit(1).cast("long").alias("round"),
        (lam * F.col("rel")).alias("score"),
    )
    for r in range(2, _MMR_K + 1):
        # penalty(cand) = max sim to the selected set: fan the selected
        # ids out over their pair rows (id_a = selected, id_b = cand)
        # and fold max per candidate; selected candidates drop via the
        # anti-join, so pen covers exactly the available pool
        sel_ids = selected.select("query_id", F.col("cand_id").alias("id_a"))
        pen = (
            sel_ids.join(pairs, ["query_id", "id_a"])
            .groupBy("query_id", F.col("id_b").alias("cand_id"))
            .agg(F.max("sim_ab").alias("__pen"))
        )
        avail = pool.join(
            sel_ids.withColumnRenamed("id_a", "cand_id"),
            ["query_id", "cand_id"],
            "left_anti",
        ).join(pen, ["query_id", "cand_id"])
        wsel = Window.partitionBy("query_id").orderBy(
            F.desc("__score"), F.asc("cand_id")
        )
        pick = (
            avail.withColumn(
                "__score", lam * F.col("rel") - (F.lit(1.0) - lam) * F.col("__pen")
            )
            .withColumn("__rk", F.row_number().over(wsel))
            .filter(F.col("__rk") == 1)
            .select(
                "query_id",
                "cand_id",
                F.lit(r).cast("long").alias("round"),
                F.col("__score").alias("score"),
            )
        )
        # the next round references `selected` twice (pen + anti-join);
        # checkpoint keeps the accumulated-union lineage flat (the
        # iterative-loop discipline — frames are queries x rounds tiny)
        selected = selected.unionByName(pick).transform(lazy_checkpoint)
    return selected.select(
        F.col("query_id").cast("long").alias("query_id"),
        "round",
        F.col("cand_id").cast("long").alias("selected_id"),
        F.round(F.col("score").cast("decimal(18,8)"), 6)
        .cast("double")
        .alias("score"),
    ).orderBy("query_id", "round")


def _mmr_sql() -> str:
    cos_qc = _cos_sql("qv", "c.embedding")
    parts = [
        f"mm_q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {_MMR_QUERIES})",
        "mm_sc AS MATERIALIZED (SELECT query_id, c.vec_id AS cand_id, "
        f"{cos_qc} AS rel, c.embedding AS cv "
        "FROM mm_q, embeddings c WHERE c.vec_id != query_id)",
        f"mm_c AS MATERIALIZED (SELECT query_id, cand_id, rel, cv FROM "
        "(SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, cand_id) AS rk FROM mm_sc) "
        f"WHERE rk <= {_MMR_CAND})",
        "mm_p AS MATERIALIZED (SELECT a.query_id, a.cand_id AS id_a, b.cand_id AS id_b, "
        + _cos_sql("a.cv", "b.cv")
        + " AS sim_ab FROM mm_c a JOIN mm_c b ON a.query_id = b.query_id AND a.cand_id != b.cand_id)",
        f"mm_sel1 AS MATERIALIZED (SELECT query_id, cand_id, 1::BIGINT AS round, "
        f"{_MMR_LAMBDA!r} * rel AS score FROM "
        "(SELECT query_id, cand_id, rel, row_number() OVER "
        "(PARTITION BY query_id ORDER BY rel DESC, cand_id) AS rk FROM mm_c) WHERE rk = 1)",
    ]
    for r in range(2, _MMR_K + 1):
        prev = f"mm_sel{r - 1}"
        parts.append(
            f"mm_pen{r} AS MATERIALIZED (SELECT p.query_id, p.id_b AS cand_id, "
            f"max(p.sim_ab) AS pen FROM {prev} s JOIN mm_p p "
            "ON s.query_id = p.query_id AND s.cand_id = p.id_a GROUP BY 1, 2)"
        )
        parts.append(
            f"mm_pick{r} AS MATERIALIZED (SELECT query_id, cand_id, {r}::BIGINT AS round, score FROM "
            f"(SELECT c.query_id, c.cand_id, "
            f"{_MMR_LAMBDA!r} * c.rel - (1.0 - {_MMR_LAMBDA!r}) * n.pen AS score, "
            "row_number() OVER (PARTITION BY c.query_id ORDER BY "
            f"{_MMR_LAMBDA!r} * c.rel - (1.0 - {_MMR_LAMBDA!r}) * n.pen DESC, c.cand_id) AS rk "
            f"FROM mm_c c JOIN mm_pen{r} n ON c.query_id = n.query_id AND c.cand_id = n.cand_id "
            f"WHERE NOT EXISTS (SELECT 1 FROM {prev} s WHERE s.query_id = c.query_id "
            "AND s.cand_id = c.cand_id)) WHERE rk = 1)"
        )
        parts.append(
            f"mm_sel{r} AS MATERIALIZED (SELECT * FROM {prev} "
            f"UNION ALL SELECT * FROM mm_pick{r})"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT query_id::BIGINT AS query_id, round, cand_id::BIGINT AS selected_id,
       round(score::DECIMAL(18,8), 6)::DOUBLE AS score
FROM mm_sel{_MMR_K} ORDER BY 1, 2"""
    )


QUERIES["mmr_rerank"] = q_mmr_rerank
ORACLES["mmr_rerank"] = _mmr_sql()


# ---------------------------------------------------------------------------
# per-source near-dup provenance report — round 8
# ---------------------------------------------------------------------------


def q_source_dup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source near-duplication report card: for every ingest
    source, how many of its documents sit inside a near-dup cluster,
    the dup fraction, and how many distinct clusters touch the source
    — the provenance table a corpus owner reads to decide which feed
    to fix (dedup_clusters says WHICH docs collide; this says WHOSE).

    Mutant twins attribute to their original's source (doc_id mod
    10000 — the corpus-twin id contract, canary-pinned). Rides the
    session-shared ``_shared_cc_labels`` frame like the rest of the
    CC family, so the report costs two broadcast-joined aggregates on
    top of the already-owed cluster computation."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "source")
    corpus = _corpus_near(spark, sf_dir).select(
        "doc_id", (F.col("doc_id") % 10000).alias("__base")
    )
    cc = _shared_cc_labels(spark, sf_dir)
    labeled = (
        corpus.join(
            docs.select(F.col("doc_id").alias("__base"), "source"), "__base"
        )
        .join(cc, corpus["doc_id"] == cc["node"], "left")
    )
    return (
        labeled.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("component").isNotNull().cast("long"))
            .cast("long")
            .alias("n_dup_docs"),
            F.countDistinct("component").cast("long").alias("n_clusters"),
            F.round(
                (
                    F.sum(F.col("component").isNotNull().cast("long")).cast(
                        "double"
                    )
                    / F.count(F.lit(1)).cast("double")
                ).cast("decimal(18,8)"),
                6,
            )
            .cast("double")
            .alias("dup_frac"),
        )
        .orderBy("source")
    )


def _source_dup_report_sql() -> str:
    return f"""
WITH RECURSIVE {_cc_reps_ctes()},
sd_l AS (
  SELECT c.doc_id, d.source, comp.component
  FROM corpus c
  JOIN documents d ON c.doc_id % 10000 = d.doc_id
  LEFT JOIN comp ON comp.node = c.doc_id
)
SELECT source, count(*)::BIGINT AS n_docs,
       sum((component IS NOT NULL)::BIGINT)::BIGINT AS n_dup_docs,
       count(DISTINCT component)::BIGINT AS n_clusters,
       round((sum((component IS NOT NULL)::BIGINT)::DOUBLE
              / count(*)::DOUBLE)::DECIMAL(18,8), 6)::DOUBLE AS dup_frac
FROM sd_l GROUP BY 1 ORDER BY 1
"""


QUERIES["source_dup_report"] = q_source_dup_report
ORACLES["source_dup_report"] = _source_dup_report_sql()


# ---------------------------------------------------------------------------
# LSH banding advisor — round 10
# ---------------------------------------------------------------------------

_LSHT_BANDS = (2, 4, 8)


def _lsh_curve_points(bands: int, r: int) -> tuple[float, float]:
    """Collision probability 1 − (1 − s^r)^b at s = 0.5 and 0.8,
    computed ONCE in Python and interpolated as the SAME literal into
    both engines (r and b are powers of two here, but a literal needs
    no cross-engine float-op story at all)."""
    p50 = 1.0 - (1.0 - 0.5 ** r) ** bands
    p80 = 1.0 - (1.0 - 0.8 ** r) ** bands
    return round(p50, 6), round(p80, 6)


def q_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding advisor for the MinHash-LSH near-dup pipeline: for each
    (bands, rows-per-band) split of the SAME 16-hash signature it
    reports the measured candidate workload on THIS corpus — multi-doc
    buckets and Σ C(m,2) bucket-pair generations (the join work the
    banding would enqueue; cross-band duplicate pairs intentionally
    counted, that IS the work) — beside the theoretical S-curve
    heights at Jaccard 0.5/0.8. The "which (b,r) catches near-dups
    without drowning the verifier" decision table a 100 TB dedup run
    consults BEFORE burning a cluster-day (layout_advice's
    simulate-first convention).

    Scale shape: signatures computed ONCE (one shingle explode + one
    map-combined groupBy) and lazily checkpoint-ed — the per-config
    branches (a union of three aggregates) each re-read the
    materialized leaf, never the shingle subtree (the
    unions-of-selects landmine); each branch is one explode to
    docs×b band rows + one map-combined groupBy. Counts exact int64;
    C(m,2) via integer div; curve heights are interpolated literals."""
    sigs = _shared_near_sigs(spark, sf_dir)
    outs = []
    for b in _LSHT_BANDS:
        r = _NUM_HASHES // b
        p50, p80 = _lsh_curve_points(b, r)
        g = (
            dd.lsh_bands(sigs, "doc_id", b)
            .groupBy("band", "band_key")
            .agg(F.count(F.lit(1)).alias("m"))
        )
        outs.append(
            g.agg(
                F.coalesce(
                    F.sum(
                        F.when(F.col("m") >= 2, F.lit(1)).otherwise(F.lit(0))
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias("n_buckets_multi"),
                F.coalesce(
                    F.sum(F.expr("m * (m - 1) div 2")), F.lit(0)
                )
                .cast("long")
                .alias("n_bucket_pairs"),
            ).select(
                F.lit(b).cast("long").alias("bands"),
                F.lit(r).cast("long").alias("rows_per_band"),
                "n_buckets_multi",
                "n_bucket_pairs",
                F.lit(p50).alias("p_collide_at_50"),
                F.lit(p80).alias("p_collide_at_80"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("bands")


def _lsh_tuning_sql() -> str:
    parts = [_CORPUS_NEAR_SQL, _minhash_sig_ctes()]
    # sig is referenced once per config: materialize, or DuckDB inlines
    # the shingle chain once per reference (the CTE-inlining landmine)
    parts.append("lt_sig AS MATERIALIZED (SELECT * FROM sig)")
    selects = []
    for b in _LSHT_BANDS:
        r = _NUM_HASHES // b
        p50, p80 = _lsh_curve_points(b, r)
        parts.append(
            f"lt_b{b} AS ({_lsh_band_rows_sql(b, from_cte='lt_sig')})"
        )
        parts.append(
            f"lt_g{b} AS (SELECT band, band_key, count(*)::BIGINT AS m "
            f"FROM lt_b{b} GROUP BY 1, 2)"
        )
        selects.append(
            f"SELECT {b}::BIGINT AS bands, {r}::BIGINT AS rows_per_band, "
            f"coalesce(sum(CASE WHEN m >= 2 THEN 1 ELSE 0 END), 0)::BIGINT "
            f"AS n_buckets_multi, "
            f"coalesce(sum((m * (m - 1)) // 2), 0)::BIGINT AS n_bucket_pairs, "
            f"{p50!r} AS p_collide_at_50, {p80!r} AS p_collide_at_80 "
            f"FROM lt_g{b}"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + "\nSELECT * FROM ("
        + " UNION ALL ".join(selects)
        + ") ORDER BY bands"
    )


QUERIES["lsh_tuning"] = q_lsh_tuning
ORACLES["lsh_tuning"] = _lsh_tuning_sql()
