"""Similarity search over embedding columns: brute-force cosine top-k
as the correctness baseline, LSH-bucketed and IVF-style top-k as the
scale paths, plus embedding-cosine near-dup, mutual NN and SemDeDup.

One vector path per operator. Spark plans the scans, the bucket joins
and the shuffles; numpy over Arrow batches does the dense math of the
corpus side (:func:`corpus_kernel`: signatures, IVF cells, SemDeDup
clusters, norms, unit vectors) and of the bucket verify
(:func:`_bucket_pairs`: all pairs over a threshold, the best pair per
id, or each id's nearest). Every double that reaches an output or a
comparison is a LEFT FOLD from +0.0 over the double products in index
order (:func:`_fold_dot`) — the arithmetic of the Catalyst helpers
:func:`dot_native`, :func:`norm_native` and :func:`hyperplane_dots` —
so the Arrow kernels and the Catalyst expressions agree bit for bit
and the DuckDB oracles replay either. A GEMM (``a @ b.T``) sums in
blocked order and moves the last bits of most dots; it only ever
PREFILTERS candidates, with slack, and its values are never kept.
Rounding (``F.round``, HALF_UP) and thresholds stay in Spark.

The query side stays Catalyst expressions (signature and multi-probe
margins from :func:`hyperplane_dots`, IVF probe cells from
:func:`ivf_cell_expr`), and so does the per-candidate cosine rerank
(:func:`cosine_from_norms`): both are bounded by the query panel.
:func:`cosine_topk_arrow` is a standalone GEMM twin of
:func:`cosine_topk_native` and makes no bit-exact claim.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd  # module-level so pandas_udf type hints resolve
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from sparkprep.checkpointing import lazy_checkpoint


#: max vectors per folded bucket row in the Arrow verify stage — at
#: 1024-dim doubles one block row is <= 4096 * 8 KiB = 32 MiB, safely
#: inside executor memory and Arrow record-size limits.
BUCKET_BLOCK_CAP = 4096

def _id_ddl(df: DataFrame, id_col: str) -> str:
    """DDL type of the id column, interpolated into every Arrow
    mapInPandas schema string — the kernels must not silently assume
    bigint ids when the caller's ids are any orderable type."""
    return df.schema[id_col].dataType.simpleString()


def dot_native(a, b) -> Column:
    """Order-stable dot product: left fold over zip_with products, all
    in double (float32 summation differs across engines)."""
    prod = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def norm_native(a) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double"))
    )


def cosine_native(a, b) -> Column:
    """try_divide, not ``/``: ANSI mode (Spark 4 default) throws
    DIVIDE_BY_ZERO on a zero-norm vector — one all-zeros embedding in a
    100 TB corpus would kill the whole job. NULL cosine falls out of
    every >= / top-k comparison naturally."""
    return F.try_divide(dot_native(a, b), norm_native(a) * norm_native(b))


def cosine_from_norms(a, b, na, nb) -> Column:
    """:func:`cosine_native` with the two norms precomputed per ROW —
    attach ``norm_native`` as a column on each JOIN SIDE so the
    per-pair work is ONE interpreted dot fold instead of dot + 2 norm
    folds (the norms otherwise re-run per candidate pair: 3x the fold
    cost on every rerank fan-out). Bit-identical to cosine_native:
    same dot, same ``na * nb`` product, same try_divide."""
    return F.try_divide(dot_native(a, b), na * nb)


def cosine_topk_native(
    emb_df: DataFrame,
    query_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_to: int = 4,
) -> DataFrame:
    """Brute-force top-k neighbors for each query vector, native
    expressions only (oracle-reproducible).

    Plan shape: broadcast the (small) query side against the corpus —
    a broadcast-nested-loop join, each task scoring its corpus slice
    against all queries — then per-query top-k via window row_number
    (partition count = #queries, tiny). No corpus shuffle at all.
    """
    from pyspark.sql.window import Window

    # norms attached per JOIN SIDE (one fold per row), so the per-pair
    # rerank is a single dot fold — bit-identical, see cosine_from_norms
    q = query_df.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__qv"),
        norm_native(F.col(vec_col)).alias("__qn"),
    )
    c = emb_df.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__cv"),
        norm_native(F.col(vec_col)).alias("__cn"),
    )
    scored = (
        c.join(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_from_norms(
                F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn")
            ).alias("__cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("__cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("__cos", round_to).alias("cosine"),
        )
    )


def cosine_topk_arrow(
    emb_df: DataFrame,
    query_vecs: dict[int, list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Brute-force top-k with numpy over Arrow batches — the scale-path
    twin of :func:`cosine_topk_native`.

    The query matrix rides inside the serialized closure (broadcast by
    Spark); each Arrow batch computes a (batch x queries) GEMM and emits
    only per-batch top-k, so the driver-side reduce is tiny. Final exact
    top-k via groupBy window on batch winners (k * num_batches rows).
    """
    import pandas as pd
    from pyspark.sql.window import Window

    qids = sorted(query_vecs)
    qmat = np.asarray([query_vecs[i] for i in qids], dtype=np.float64)
    qnorm = np.linalg.norm(qmat, axis=1)

    idt = _id_ddl(emb_df, id_col)
    out_schema = f"query_id {idt}, neighbor_id {idt}, cosine double"

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[id_col].to_numpy()
            mat = np.asarray(list(pdf[vec_col]), dtype=np.float64)
            sims = (mat @ qmat.T) / (
                np.linalg.norm(mat, axis=1)[:, None] * qnorm[None, :]
            )
            frames = []
            for j, qid in enumerate(qids):
                col = sims[:, j]
                keep = min(k + 1, len(col))
                top = np.argpartition(-col, keep - 1)[:keep]
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": ids[top],
                            "cosine": col[top],
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    scored = emb_df.select(id_col, vec_col).mapInPandas(score, out_schema)
    scored = scored.filter(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long"), F.round("cosine", 4).alias("cosine"))
    )


def hyperplane_dots(vec_col, planes: np.ndarray) -> Column:
    """Per-plane dot products as ONE array<double> column — the shared
    base for both the bucket signature and multi-probe margin ranking
    (|dot| = distance to the hyperplane = flip confidence). Left-fold
    summation keeps the result bit-identical to any engine that sums
    sequentially (the oracle contract)."""
    return F.array(
        *[
            F.aggregate(
                F.zip_with(
                    vec_col,
                    F.array(*[F.lit(float(x)) for x in plane]),
                    lambda x, y: x.cast("double") * y,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            for plane in planes
        ]
    )


def signature_from_dots(dots_col, num_planes: int) -> Column:
    """Bucket id from a MATERIALIZED dots column (pass ``F.col``, not
    the dots expression — interpreted lambdas re-evaluate embedded
    trees per element)."""
    bits = [
        F.when(dots_col[b] >= 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        for b in range(num_planes)
    ]
    return sum(bits)


def _fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Dot products over the FIRST axis of two broadcastable float64
    arrays shaped ``(d, ...)``: +0.0, then each product added in index
    order — bit-identical to :func:`dot_native` and
    :func:`hyperplane_dots` (and, on ``(v, v)``, to the fold under
    :func:`norm_native`). One vectorized step per coordinate, so the
    other axes broadcast: ``(d, k, 1)`` against ``(d, 1, n)`` gives the
    ``(k, n)`` dots of k planes with n vectors (long axis last: 3x
    faster than ``(n, k)`` at 1024 dims), without a
    ``n x k x d`` temporary. Never GEMM or ``np.sum`` here: both
    re-associate, and the last bits move (70% of plane dots at 64
    dims, 95% at 1024)."""
    acc = np.zeros(np.broadcast_shapes(a.shape[1:], b.shape[1:]))
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _fold_pairs(vt: np.ndarray, ia: np.ndarray, ib: np.ndarray) -> np.ndarray:
    """:func:`_fold_dot` of the column pairs ``(vt[:, ia], vt[:, ib])``
    of a ``(d, u)`` matrix, in chunks of 4096 pairs, each DISTINCT
    unordered pair folded once (``x * y == y * x`` exactly, so (a, b)
    and (b, a) fold to the same bits): a bucket of duplicate vectors
    folds a handful of pairs, a bucket of distinct vectors folds each
    candidate once."""
    u = vt.shape[1]
    key, back = np.unique(
        np.minimum(ia, ib) * u + np.maximum(ia, ib), return_inverse=True
    )
    ka, kb = np.divmod(key, u)
    out = np.empty(len(key))
    for lo in range(0, len(key), 4096):
        # np.take, not vt[:, idx]: that returns a column-major copy, and
        # the fold's row steps then stride across it (10x slower)
        out[lo:lo + 4096] = _fold_dot(
            np.take(vt, ka[lo:lo + 4096], axis=1), np.take(vt, kb[lo:lo + 4096], axis=1)
        )
    return out[back]


def corpus_kernel(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    planes: np.ndarray | None = None,
    cells: np.ndarray | None = None,
    unit: bool = False,
) -> DataFrame:
    """The corpus side of every bucketed vector operator: ONE
    ``mapInPandas`` pass, every value from :func:`_fold_dot`, so each
    is bit-identical to its Catalyst spelling. Emits ``(id, __cn)``,
    ``__cn`` = sqrt(fold(v, v)) as :func:`norm_native`, plus

    - ``__sig`` (given ``planes``): bit b set iff fold(v, plane_b) >= 0,
      as :func:`signature_from_dots`;
    - ``__cell`` (given ``cells``): the FIRST maximum of fold(v, cell_c)
      — the lowest-index tie-break of ``ivf_cell_expr``'s
      ``array_sort((-dot, cid))`` and of SemDeDup's CASE chain;
    - ``__unit`` (``unit=True``): v / ``__cn``, NULL at zero norm (a
      zero vector pairs with nothing, as its NULL cosine did).

    Only ``unit`` sends vectors back to the JVM; the ANN operators join
    ``(id, __sig | __cell, __cn)`` back to the corpus by id, so ids must
    be unique. A NULL vector becomes a NaN row: its dots fail every
    comparison (signature 0, as the Catalyst NULL dots) and its norm and
    unit are NULL. Its ``__cell`` is NULL too, because the two Catalyst
    spellings disagree there: ``ivf_cell_expr`` sorts NULL dots by cid
    (cell 0), SemDeDup's CASE chain falls through to the last cluster;
    each caller coalesces to its own.
    The dense math is O(rows x (planes + cells) x dim) numpy work per
    Arrow batch, where the interpreted Catalyst folds cost ~1µs per
    element."""
    width = (planes if planes is not None else cells).shape[1]
    schema = f"{id_col} {_id_ddl(df, id_col)}, __cn double"
    schema += ", __sig long" if planes is not None else ""
    schema += ", __cell long" if cells is not None else ""
    schema += ", __unit array<double>" if unit else ""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        nan_row = np.full(width, np.nan)
        for pdf in batches:
            if pdf.empty:
                continue
            null = pdf[vec_col].isna().to_numpy()
            # (d, n), one row per coordinate, stacked straight from the
            # row arrays: 2x faster than building (n, d) and transposing
            vt = np.stack(
                [nan_row if v is None else v for v in pdf[vec_col]], axis=1, dtype=np.float64
            )
            norm = np.sqrt(_fold_dot(vt, vt))
            out = {id_col: pdf[id_col].to_numpy(), "__cn": norm}
            if planes is not None:
                bits = np.left_shift(1, np.arange(len(planes), dtype=np.int64))
                dots = _fold_dot(planes.T[:, :, None], vt[:, None, :])  # (k, n)
                out["__sig"] = bits @ (dots >= 0)
            if cells is not None:
                dots = _fold_dot(cells.T[:, :, None], vt[:, None, :])
                out["__cell"] = pd.array(np.argmax(dots, axis=0), dtype="Int64")
                out["__cell"][null] = pd.NA
            if unit:
                with np.errstate(divide="ignore", invalid="ignore"):
                    units = np.divide(vt.T, norm[:, None], order="C")
                out["__unit"] = [u if n > 0 else None for u, n in zip(units, norm)]
            yield pd.DataFrame(out)

    return df.select(id_col, vec_col).mapInPandas(kernel, schema)


def ann_lsh_topk(
    emb_df: DataFrame,
    query_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    round_to: int = 4,
    num_probes: int = 1,
) -> DataFrame:
    """Approximate top-k: random-hyperplane bucket join, exact cosine
    rerank only inside the probed buckets.

    At 100 TB the corpus signature is computed once and bucketed
    (optionally persisted bucketed-by-signature); each query touches
    ~num_probes * corpus/2^planes vectors. ``num_probes > 1`` enables
    multi-probe: beyond the exact bucket, the query also probes the
    buckets reached by flipping its ``num_probes - 1``
    lowest-|margin| sign bits (the planes it sits closest to — where
    a true neighbor most likely landed on the other side). Probe
    signatures are all distinct, so a corpus vector (one bucket) can
    match a query at most once — no candidate dedup shuffle needed.
    Multi-probe recovers the near-boundary recall single-probe loses
    WITHOUT touching the corpus side: only the (tiny, broadcast)
    query side explodes.

    The corpus signature and norm come from :func:`corpus_kernel`
    (num_planes x dim products per row, numpy over Arrow batches), as
    ``(id, __sig, __cn)`` joined back to the corpus by id — the vectors
    never round-trip through Python. The query side and the rerank
    inside the probed buckets are Catalyst folds, bounded by the
    query panel.
    """
    from pyspark.sql.window import Window

    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(num_planes, dim))
    sigs = corpus_kernel(emb_df, id_col, vec_col, planes=planes)
    c = emb_df.select(F.col(id_col), F.col(vec_col).alias("__cv")).join(
        sigs, id_col
    ).select(F.col(id_col).alias("neighbor_id"), "__cv", "__sig", "__cn")
    # dots materialized in their own projection, signature + probe set
    # derived from the column (not the expression) — HOF re-eval trap.
    # Norms ride each join side so the per-pair rerank is ONE dot fold
    # (cosine_from_norms — bit-identical to cosine_native).
    q_stage = query_df.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        hyperplane_dots(F.col(vec_col), planes).alias("__dots"),
        norm_native(F.col(vec_col)).alias("__qn"),
    ).select(
        "query_id",
        "__qv",
        "__qn",
        "__dots",
        signature_from_dots(F.col("__dots"), num_planes).alias("__sig0"),
    )
    if num_probes > 1:
        margins = F.array_sort(
            F.transform(
                F.col("__dots"),
                lambda d, i: F.struct(F.abs(d).alias("m"), i.alias("i")),
            )
        )
        flip_idx = F.transform(
            F.slice(margins, 1, min(num_probes - 1, num_planes)),
            lambda s: s["i"],
        )
        bitvals = F.array(*[F.lit(1 << b).cast("long") for b in range(num_planes)])
        probe_sigs = F.concat(
            F.array(F.col("__sig0")),
            F.transform(
                flip_idx,
                lambda ix: F.col("__sig0").bitwiseXOR(F.element_at(bitvals, ix + 1)),
            ),
        )
        q = q_stage.select(
            "query_id", "__qv", "__qn", F.explode(probe_sigs).alias("__sig")
        )
    else:
        q = q_stage.select(
            "query_id", "__qv", "__qn", F.col("__sig0").alias("__sig")
        )
    scored = (
        c.join(F.broadcast(q), "__sig")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_from_norms(
                F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn")
            ).alias("__cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("__cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("__cos", round_to).alias("cosine"),
        )
    )


def ivf_fit_centroid_units(
    emb_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 16,
    seed: int = 42,
    lloyd_iterations: int = 2,
    sample_size: int = 1024,
) -> "np.ndarray":
    """Fit the IVF coarse-quantizer and return UNIT-normalized
    centroids (num_centroids × dim float64) — the shared fit behind
    :func:`ann_ivf_topk` and ``pipelines.ann_index`` (one fit, so the
    ad-hoc operator and the persisted index can never disagree on cell
    geometry).

    A deterministic pseudo-random corpus sample (hash-order ``limit``)
    refined by ``lloyd_iterations`` rounds of spherical k-means ON THE
    SAMPLE, driver-side numpy — the sample is O(1) bounded
    (``sample_size`` rows × dim doubles) regardless of corpus size, so
    this stays off the scale path. Centroids are pre-normalized
    DRIVER-side: ranking cells by dot(v, c/|c|) orders identically to
    cosine(v, c) — the 1/|v| factor is constant across cells — so the
    per-row assignment (corpus and probes) costs num_centroids dot folds
    instead of dot + 2 norms each."""
    sample = [
        [float(x) for x in r[1]]
        for r in emb_df.select(id_col, vec_col)
        .orderBy(F.pmod(F.xxhash64(F.col(id_col) + seed), 997), F.col(id_col))
        .limit(max(sample_size, num_centroids))
        .collect()
    ]
    cmat = np.asarray(sample[:num_centroids], dtype=np.float64)
    if lloyd_iterations > 0 and len(sample) > num_centroids:
        X = np.asarray(sample, dtype=np.float64)
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        for _ in range(lloyd_iterations):
            Cn = cmat / np.maximum(
                np.linalg.norm(cmat, axis=1, keepdims=True), 1e-12
            )
            assign = np.argmax(Xn @ Cn.T, axis=1)
            for j in range(num_centroids):
                members = X[assign == j]
                if len(members):  # empty cell keeps its old centroid
                    cmat[j] = members.mean(axis=0)
    return cmat / np.maximum(np.linalg.norm(cmat, axis=1, keepdims=True), 1e-12)


def ivf_cell_expr(cunit, vec_col_expr, num_probes: int = 1):
    """Native Column expression: the ``num_probes`` nearest cell ids
    (by centroid dot product, smallest-cid tie-break) for a vector
    column — the same ordering chain ann_ivf_topk scores with."""
    centroids = [(j, [float(x) for x in cunit[j]]) for j in range(len(cunit))]
    scored = F.array(
        *[
            F.struct(
                (-dot_native(vec_col_expr, F.array(*[F.lit(x) for x in cvec]))).alias(
                    "neg"
                ),
                F.lit(cid).cast("long").alias("cid"),
            )
            for cid, cvec in centroids
        ]
    )
    return F.transform(
        F.slice(F.array_sort(scored), 1, num_probes), lambda s: s["cid"]
    )


def ann_ivf_topk(
    emb_df: DataFrame,
    query_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_centroids: int = 16,
    num_probes: int = 2,
    seed: int = 42,
    round_to: int = 4,
    lloyd_iterations: int = 2,
    sample_size: int = 1024,
) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus to Lloyd-refined
    centroids, search only the query's ``num_probes`` nearest cells.

    The corpus cell (first-max argmax of the folded centroid dots) and
    norm come from :func:`corpus_kernel` as ``(id, __cell, __cn)``
    joined back to the corpus by id — ann_lsh's shape, and the same
    kernel ``pipelines.ann_index`` persists cells with. The query
    side's probe cells are :func:`ivf_cell_expr` and the rerank is a
    Catalyst fold, both bounded by the query panel.

    Centroids: a deterministic pseudo-random corpus sample (hash-order
    ``limit``) refined by ``lloyd_iterations`` rounds of spherical
    k-means ON THE SAMPLE, driver-side numpy — the sample is O(1)
    bounded (``sample_size`` rows x dim doubles) regardless of corpus
    size, so this stays off the scale path. Refined centroids spread
    with the data's actual density, which evens out cell populations
    (raw sampled centroids leave hot cells that blow up rerank cost).
    At 100 TB you'd persist the corpus BUCKETED BY cell so each query
    touches ~num_probes/num_centroids of the data with zero shuffle.
    Assignment is a broadcast of the (tiny) centroid set; recall is
    tunable via ``num_probes``.
    """
    from pyspark.sql.window import Window

    cunit = ivf_fit_centroid_units(
        emb_df,
        id_col=id_col,
        vec_col=vec_col,
        num_centroids=num_centroids,
        seed=seed,
        lloyd_iterations=lloyd_iterations,
        sample_size=sample_size,
    )
    cells = corpus_kernel(emb_df, id_col, vec_col, cells=cunit)
    c = emb_df.select(F.col(id_col), F.col(vec_col).alias("__cv")).join(
        cells, id_col
    ).select(
        F.col(id_col).alias("neighbor_id"), "__cv",
        F.coalesce("__cell", F.lit(0)).alias("__cell"),  # ivf_cell_expr's NULL order
        "__cn",
    )
    q = query_df.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        norm_native(F.col(vec_col)).alias("__qn"),
        F.explode(ivf_cell_expr(cunit, F.col(vec_col), num_probes)).alias("__cell"),
    )
    scored = (
        c.join(F.broadcast(q), "__cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_from_norms(
                F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn")
            ).alias("__cos"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("__cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("__cos", round_to).alias("cosine"),
        )
    )


def embedding_near_dup_pairs(
    emb_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    num_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    round_to: int = 4,
    block_cap: int = BUCKET_BLOCK_CAP,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine >= threshold)
    via hyperplane buckets: vectors with cosine ~1 almost always share
    all sign bits, so the exact check runs only within buckets.

    :func:`corpus_kernel` gives each vector its signature and unit
    vector in one Arrow pass; :func:`_bucket_pairs` folds each
    signature bucket into bounded array rows and emits the candidate
    pairs with their exact folded unit dot, so every vector crosses the
    JVM→Python boundary once and no per-pair fold runs interpreted (the
    ~1µs/element HOF cost made 1024-dim pair folds the dominant term).
    ``cosine = F.round(dot, round_to)`` and the threshold run in Spark.
    Zero-norm vectors have no unit vector and pair with nothing.
    ``block_cap`` bounds the vectors in one folded row."""
    planes = np.random.RandomState(seed).normal(size=(num_planes, dim))
    # two consumers in the bucket fold (sizes, then members): cut once
    sig = corpus_kernel(
        emb_df, id_col, vec_col, planes=planes, unit=True
    ).transform(lazy_checkpoint)
    pairs = _bucket_pairs(sig, ["__sig"], id_col, threshold, round_to, block_cap).select(
        "id_a", "id_b", F.round("__raw", round_to).alias("cosine")
    )
    # a unit dot never rounds below -1: an open threshold filters nothing
    # (and would re-evaluate the BigDecimal round once more per pair)
    return pairs if threshold <= -1 else pairs.filter(F.col("cosine") >= threshold)


def _blocked_bucket_fold(
    frame: DataFrame, keys: list[str], id_col: str, cap: int = BUCKET_BLOCK_CAP
) -> DataFrame:
    """Fold bucket members into BOUNDED array rows for the Arrow verify
    (:func:`_bucket_pairs`): ``(__gi, __gj, __i, __u, __b)``, the
    member ids, unit vectors and block tags as aligned arrays.

    The unblocked form collected an entire ``keys`` bucket into ONE
    collect_list row: correct until a degenerate corpus (many
    near-identical vectors sharing a signature) produces a single row
    of n x dim x 8 bytes and OOMs the executor. Here each
    member is salted into ``ceil(n/cap)`` blocks by a deterministic id
    hash and emitted once per block-PAIR, so every unordered member
    pair co-occurs in exactly one ``(gi <= gj)`` group and a folded row
    holds at most ``2*cap`` vectors. Any bucket <= ``cap`` degenerates
    to a single fold (one (0,0) group, fan-out 1) — the block tag
    ``__b`` tells the verify which side of a cross group a member
    belongs to. Member order inside a row is whatever the shuffle
    delivered: the verify orders each pair by id itself.

    Bucket sizes come from a VECTOR-FREE aggregate joined back on the
    keys (AQE broadcasts the tiny sizes frame), NOT a window count: a
    window over the keys would shuffle AND buffer the full 8 KB/row
    vector payload just to count rows (measured 2-4x on the widevec
    panel). Callers must lazy-checkpoint ``frame`` first — the sizes
    aggregate is a second consumer.
    """
    sizes = frame.select(*keys).groupBy(*keys).agg(
        F.count(F.lit(1)).alias("__bn")
    )
    staged = frame.join(sizes, list(keys)).withColumn(
        "__nblk", F.ceil(F.col("__bn") / F.lit(int(cap))).cast("int")
    ).withColumn(
        # deterministic, not oracle-reaching: the pair SET is
        # blocking-invariant, so any stable hash works here
        "__blk",
        F.pmod(F.crc32(F.col(id_col).cast("string")), F.col("__nblk")).cast("int"),
    )
    pair_keys = F.transform(
        F.sequence(F.lit(0), F.col("__nblk") - 1),
        lambda x: F.struct(
            F.least(F.col("__blk"), x).alias("gi"),
            F.greatest(F.col("__blk"), x).alias("gj"),
        ),
    )
    exploded = staged.select(
        *keys,
        F.col(id_col),
        F.col("__unit"),
        F.col("__blk"),
        F.explode(pair_keys).alias("__g"),
    ).select(
        *keys,
        F.col(id_col),
        F.col("__unit"),
        F.col("__blk"),
        F.col("__g.gi").alias("__gi"),
        F.col("__g.gj").alias("__gj"),
    )
    return exploded.groupBy(*keys, "__gi", "__gj").agg(
        F.collect_list(
            F.struct(
                F.col(id_col).alias("i"),
                F.col("__unit").alias("u"),
                F.col("__blk").alias("b"),
            )
        ).alias("__m")
    ).select(
        "__gi",
        "__gj",
        F.col("__m.i").alias("__i"),
        F.col("__m.u").alias("__u"),
        F.col("__m.b").alias("__b"),
    )


def _bucket_pairs(
    frame: DataFrame,
    keys: list[str],
    id_col: str,
    threshold: float,
    round_to: int,
    cap: int = BUCKET_BLOCK_CAP,
    out: str = "pairs",
) -> DataFrame:
    """The one bucket verify over the non-NULL ``__unit`` rows of
    ``frame`` that share ``keys``. Every ``__raw`` it emits is the EXACT
    folded dot of two unit vectors (bit-identical to ``dot_native`` on
    the same units); callers keep ``F.round(__raw, round_to)`` and every
    comparison on it in Spark, so rounding is the Catalyst HALF_UP.
    ``out`` picks the rows:

    - ``"pairs"``: ``(id_a, id_b, __raw)``, id_a < id_b, for each pair
      whose GEMM dot is at least ``threshold - slack``;
    - ``"best_b"``: ``(id_b, __raw)``, the best such pair per id_b in
      each flush (SemDeDup: HALF_UP rounding is monotone, so that row
      passes ``F.round(__raw) >= threshold`` iff some pair does, and a
      bucket of near-duplicates ships bucket-many rows, not pair-many);
    - ``"nearest"``: directed ``(src, dst, __raw)`` for the dsts whose
      GEMM dot is within ``2 * slack`` of src's best GEMM dot in the
      bucket row (mutual NN; ``threshold`` unused). A dst whose rounded
      cosine ties src's best has ``raw >= best - 10**-round_to``, so it
      is always among them, and a per-src top-1 over these rows equals
      the top-1 over all of src's bucket pairs.

    ``slack = max(10**-round_to, 1e-9)`` covers HALF_UP rounding (a pair
    with ``round(dot, round_to) >= threshold`` has ``dot >= threshold -
    0.5 * 10**-round_to``) plus the gap between GEMM and the fold, which
    on unit vectors is at most ~2 * dim * 2**-53 (2.3e-13 at 1024 dims):
    the 1e-9 floor keeps that room at any ``round_to``. The GEMM, run in
    256-row blocks of each folded bucket row
    (:func:`_blocked_bucket_fold`), only picks candidates; its values
    are dropped. The candidates of all bucket rows in an Arrow batch
    are folded together by :func:`_fold_pairs` over the batch's
    DISTINCT unit vectors (flushed every ~1M candidates), so a batch of
    small buckets pays one fold, not one per bucket. A repeated id never
    pairs with itself. Lineage-cut ``frame`` first (the fold reads it
    twice)."""
    idt = _id_ddl(frame, id_col)
    slack = max(10.0 ** -int(round_to), 1e-9)
    floor = float(threshold) - slack
    folded = _blocked_bucket_fold(
        frame.filter(F.col("__unit").isNotNull()), keys, id_col, cap=cap
    )

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            sizes = pdf["__i"].map(len).to_numpy()
            starts = np.concatenate([[0], np.cumsum(sizes)])
            ids = np.concatenate(pdf["__i"].to_list())
            blk = np.concatenate(pdf["__b"].to_list())
            mat = np.ascontiguousarray(np.concatenate([np.stack(u) for u in pdf["__u"]]))
            rowkey = mat.view(np.dtype((np.void, mat.shape[1] * 8))).ravel()
            _, first, inv = np.unique(rowkey, return_index=True, return_inverse=True)
            vt = np.ascontiguousarray(mat[first].T)  # (d, distinct vectors)
            pending, npend = [], 0

            def flush():
                la, rb = np.concatenate([p[0] for p in pending]), np.concatenate(
                    [p[1] for p in pending]
                )
                raw = _fold_pairs(vt, inv[la], inv[rb])
                if out == "nearest":
                    return pd.DataFrame({"src": ids[la], "dst": ids[rb], "__raw": raw})
                swap = ids[la] > ids[rb]
                if out == "best_b":
                    best = np.full(len(ids), -np.inf)
                    np.maximum.at(best, np.where(swap, la, rb), raw)
                    hit = np.flatnonzero(best > -np.inf)
                    return pd.DataFrame({"id_b": ids[hit], "__raw": best[hit]})
                return pd.DataFrame({
                    "id_a": np.where(swap, ids[rb], ids[la]),
                    "id_b": np.where(swap, ids[la], ids[rb]),
                    "__raw": raw,
                })

            for lo_row, hi_row, gi, gj in zip(starts[:-1], starts[1:], pdf["__gi"], pdf["__gj"]):
                row = np.arange(lo_row, hi_row)
                if gi == gj:
                    sides = [(row, row)]
                else:  # cross-block: left (b == gi) x right (b == gj)
                    left, right = row[blk[row] == gi], row[blk[row] == gj]
                    sides = [(left, right)] + ([(right, left)] if out == "nearest" else [])
                for left, right in sides:
                    if not len(right):
                        continue
                    rmat_t = mat[right].T
                    # 256-row GEMM blocks: memory bounds at (256 x n), never n^2
                    for lo in range(0, len(left), 256):
                        gemm = mat[left[lo:lo + 256]] @ rmat_t
                        if out == "nearest":
                            if gi == gj:  # src is never its own neighbor
                                gemm[np.arange(len(gemm)), lo + np.arange(len(gemm))] = -np.inf
                            cand = gemm >= gemm.max(axis=1, keepdims=True) - 2 * slack
                            cand &= gemm > -np.inf
                        else:
                            cand = gemm >= floor
                            if gi == gj:  # each unordered pair once
                                cand &= np.arange(lo, lo + len(cand))[:, None] < np.arange(len(right))
                        rr, cc = np.nonzero(cand)
                        la, rb = left[lo + rr], right[cc]
                        distinct = ids[la] != ids[rb]  # a repeated id never pairs with itself
                        la, rb = la[distinct], rb[distinct]
                        if len(la):
                            pending.append((la, rb))
                            npend += len(la)
                        if npend >= 1 << 20:
                            yield flush()
                            pending, npend = [], 0
            if pending:
                yield flush()

    schema = {
        "pairs": f"id_a {idt}, id_b {idt}, __raw double",
        "best_b": f"id_b {idt}, __raw double",
        "nearest": f"src {idt}, dst {idt}, __raw double",
    }[out]
    return folded.mapInPandas(verify, schema)


def grouped_centroids(
    df: DataFrame,
    vec_col: str,
    group_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-group elementwise mean vector (class prototypes / cluster
    centroids / label embeddings). Emits (group, n_vecs, centroid).

    Explode-by-dimension, NOT collect-and-average: posexplode fans each
    vector into (group, dim, value) rows, and the groupBy(group, dim)
    average partial-aggregates map-side — every partition contributes
    at most |groups| x D pre-combined rows to the shuffle regardless of
    corpus size. The collect_list alternative ships every vector to one
    reducer per group (OOM at the first million-vector label). Second
    tiny shuffle folds (group, dim, mean) back to an ordered array.
    """
    dims = df.select(
        F.col(group_col), F.posexplode(F.col(vec_col)).alias("__d", "__v")
    )
    # Mean accumulates as an exact DECIMAL sum (per-row double→decimal
    # cast is engine-identical; decimal addition is order-independent)
    # with ONE IEEE division at the end — a plain double avg drifts
    # ~1e-12 by summation order and can flip round(m, 6) at a half
    # boundary between Spark and the DuckDB oracles (ADVICE r5 #4).
    per_dim = dims.groupBy(group_col, "__d").agg(
        (
            F.sum(F.col("__v").cast("double").cast("decimal(30,12)")).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("__m"),
        F.count(F.lit(1)).alias("__n"),
    )
    return (
        per_dim.groupBy(group_col)
        .agg(
            F.max("__n").alias("n_vecs"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("__d", "__m"))),
                # DECIMAL(18,8) re-cast BEFORE the display round: the
                # quotient is bit-identical cross-engine, but round(double)
                # itself diverges when it sits on an exact decimal half
                # (Spark HALF_UPs the shortest repr, DuckDB doesn't) —
                # the CLAUDE.md half-round landmine
                lambda s: F.round(
                    s["__m"].cast("decimal(18,8)"), round_to
                ).cast("double"),
            ).alias("centroid"),
        )
        .select(group_col, F.col("n_vecs").cast("long").alias("n_vecs"), "centroid")
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_clusters: int = 8,
    dim: int = 64,
    tau: float = 0.95,
    seed: int = 7,
    num_planes: int = 8,
    round_to: int = 4,
    block_cap: int = BUCKET_BLOCK_CAP,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    partition the corpus into clusters by nearest centroid, then inside
    each cluster drop every item whose cosine to a LOWER-id item is
    ``>= tau``. Emits (id, cluster, keep) for every input row.

    Scale shape: cluster assignment is map-only (K fixed dot products
    per row, no shuffle); candidate pairs come from buckets on
    (cluster, hyperplane-signature) — at tau >= 0.95 near-dups agree on
    every sign bit with overwhelming probability, so the quadratic term
    is bounded by the largest (cluster x signature) bucket, never by the
    cluster alone (measured 12.5s -> sub-second at sf0.1: 8 clusters x
    2^8 signatures vs 8 clusters). Same skeleton as
    :func:`embedding_near_dup_pairs`. At 100 TB, K grows ~sqrt(N) and
    centroids come from a k-means fit on an O(1) driver-side sample
    (see :func:`ann_ivf_topk`); here they are seeded random unit vectors
    so the DuckDB oracle can inline them as literals and replay the
    exact assignment. SIZE THE BUCKET GRID TO THE CORPUS:
    ``num_planes ≈ log2(N / (num_clusters * target_bucket_rows))`` —
    a fixed grid re-grows the quadratic pair term (8x256 buckets
    measured 61.7s at 500k vectors vs 21.9s with 12 planes;
    scripts/scale_smoke.py guards this).

    One path: :func:`corpus_kernel` assigns unit vector, signature and
    cluster (first-max argmax of the folded centroid dots — ties to the
    LOWEST cluster index, which the oracle's CASE chain mirrors) in one
    Arrow pass, and :func:`_bucket_pairs` emits each (cluster, sig)
    bucket's best candidate per higher id with its exact folded dot;
    an id whose ``F.round(dot, round_to) >= tau`` is dropped. The
    keep rule is non-transitive by design (a dropped item still
    shadows its own higher-id neighbors), matching the one-pass
    semantics of the published method. ``block_cap`` bounds the
    vectors in one folded bucket row.
    """
    rng = np.random.RandomState(seed)
    cents = rng.normal(size=(num_clusters, dim))
    cents = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    planes = np.random.RandomState(seed + 100).normal(size=(num_planes, dim))
    # cut ONCE: `assigned` feeds the bucket fold twice and the output
    assigned = corpus_kernel(
        df, id_col, vec_col, planes=planes, cells=cents, unit=True
    ).withColumn(  # a NULL vector: the CASE chain's fall-through
        "cluster", F.coalesce("__cell", F.lit(num_clusters - 1))
    ).drop("__cell").transform(lazy_checkpoint)
    dropped = (
        _bucket_pairs(
            assigned, ["cluster", "__sig"], id_col, tau, round_to, block_cap, out="best_b"
        )
        .filter(F.round("__raw", round_to) >= tau)
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return (
        assigned.join(dropped, id_col, "left")
        .select(
            F.col(id_col),
            F.col("cluster"),
            F.coalesce(~F.col("__dropped"), F.lit(True)).alias("keep"),
        )
    )


def mutual_nn_pairs(
    emb_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    round_to: int = 4,
) -> DataFrame:
    """Reciprocal (mutual) nearest-neighbor pairs within hyperplane
    LSH buckets — the canonical-pair picker for dedup merge queues: a
    pair survives only if each side is the OTHER's best in-bucket
    neighbor, which suppresses the hub vectors that one-directional
    top-1 lists glue to half the corpus.

    Candidates are the pairs of each signature bucket (the buckets of
    :func:`embedding_near_dup_pairs` at the same seed), so pair cost
    stays bucket-bounded (the all-pairs exact variant this replaces is
    O(n²·d)). The bucket verify (:func:`_bucket_pairs`, ``"nearest"``)
    emits, per source, only the directed rows that can tie its best
    rounded cosine, each with its exact folded dot; per-source top-1 is
    a keyed window over those (desc cosine, asc neighbor id —
    deterministic under rounded-cosine ties), so the window sorts about
    one row per source instead of both directions of every bucket pair;
    mutuality is one self-equi-join on the reversed pair. Vectors alone
    in their bucket (or zero-norm: no unit vector) simply drop out.
    """
    from pyspark.sql.window import Window

    planes = np.random.RandomState(seed).normal(size=(num_planes, dim))
    sig = corpus_kernel(
        emb_df, id_col, vec_col, planes=planes, unit=True
    ).transform(lazy_checkpoint)  # two consumers in the bucket fold
    directed = _bucket_pairs(sig, ["__sig"], id_col, -1.0, round_to, out="nearest").select(
        "src", "dst", F.round("__raw", round_to).alias("cosine")
    )
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    top1 = (
        directed.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select("src", "dst", "cosine")
    ).transform(lazy_checkpoint)  # consumed as BOTH join sides
    reverse = top1.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return (
        top1.join(reverse, ["src", "dst"])
        .filter(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("id_a"),
            F.col("dst").alias("id_b"),
            "cosine",
        )
    )


def topk_ranked(
    df: DataFrame,
    score_col: str,
    id_col: str,
    k: int,
    rank_col: str = "rank",
) -> DataFrame:
    """(id, rank) for the top-k rows by ``score_col`` (desc, id-asc
    tie-break). The limit runs as distributed TakeOrderedAndProject —
    each task keeps its local top-k, the driver merges k·P candidates —
    so no global sort of the corpus ever happens; the global
    ``row_number`` window then runs on the ALREADY-BOUNDED k-row frame
    (single-partitioning k rows is free — the fatal version of that
    pattern is on raw data)."""
    from pyspark.sql.window import Window

    top = df.select(id_col, score_col).orderBy(
        F.desc(score_col), F.asc(id_col)
    ).limit(k)
    w = Window.orderBy(F.desc(score_col), F.asc(id_col))
    return top.select(
        id_col, F.row_number().over(w).cast("long").alias(rank_col)
    )


def rrf_fuse(
    legs: list[DataFrame],
    id_col: str,
    k: int = 60,
    round_to: int = 6,
) -> DataFrame:
    """Reciprocal-rank fusion of N bounded candidate lists — the
    standard hybrid-retrieval merge (lexical BM25 + dense cosine, plus
    any other retriever): rrf(d) = Σ_legs 1/(k + rank_leg(d)), with a
    doc absent from a leg contributing 0.

    Each leg must already carry (id_col, rank) — produce them with
    :func:`topk_ranked` so every leg is top-k-bounded BEFORE fusion;
    fusing full corpus rankings is both statistically pointless (RRF
    weight at rank r decays as 1/r) and a scale bug (a global rank of
    1e9 docs). The fusion itself joins K-row frames: outer-join chain,
    all tiny.

    k=60 is the canonical damping constant (Cormack et al.) — it keeps
    a rank-1 hit from one retriever from drowning consensus mid-rank
    hits from several.
    """
    if not legs:
        raise ValueError("rrf_fuse needs at least one ranked leg")
    renamed = [
        leg.select(F.col(id_col), F.col("rank").alias(f"__r{i}"))
        for i, leg in enumerate(legs)
    ]
    fused = renamed[0]
    for nxt in renamed[1:]:
        fused = fused.join(nxt, id_col, "full_outer")
    score = None
    for i in range(len(legs)):
        term = F.coalesce(
            1.0 / (F.lit(float(k)) + F.col(f"__r{i}")), F.lit(0.0)
        )
        score = term if score is None else score + term
    from pyspark.sql.window import Window

    out = fused.select(F.col(id_col), F.round(score, round_to).alias("rrf"))
    w = Window.orderBy(F.desc("rrf"), F.asc(id_col))
    return out.select(
        id_col,
        F.row_number().over(w).cast("long").alias("rrf_rank"),
        "rrf",
    )


def negative_pairs(
    emb_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 3,
    buckets: int = 8,
    salt: str = "",
    round_to: int = 4,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for
    each anchor, the first ``k`` different-label rows from the anchor's
    md5 bucket, ordered by md5(anchor‖neg‖salt) — an engine-replayable
    stand-in for RNG negative sampling (same corpus + salt ⇒ same
    pairs; a new salt re-deals, e.g. per epoch). Cosine similarity is
    attached so downstream can grade hardness (high-cosine negatives
    are the informative ones).

    Scale shape, in order:
    1. bucket assignment is map-only (md5 of the id);
    2. the candidate join is (id, label)-only — vectors do NOT ride
       through it — and equi-keyed on the bucket, so pairs ≈ n²/buckets,
       never all-pairs: grow ``buckets`` ∝ n to hold the per-anchor
       candidate pool (n/buckets) constant;
    3. rank-and-keep cuts to ≤ k·n surviving pairs BEFORE the two
       id-keyed joins that fetch vectors — the expensive payload only
       ever moves for survivors.

    NULL labels never pair (NULL ≠ x is NULL → filtered on both
    engines): a row with unknown label can't be proven a negative.
    Anchors whose bucket holds only same-label rows get no pairs —
    detectable downstream via an anti-join; re-deal with another salt
    or more probes rather than widening buckets globally.
    """
    from pyspark.sql.window import Window

    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % buckets
    )
    ids = emb_df.select(F.col(id_col), F.col(label_col), bucket.alias("__b"))
    a = ids.select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("anchor_label"),
        "__b",
    )
    c = ids.select(
        F.col(id_col).alias("neg_id"),
        F.col(label_col).alias("neg_label"),
        "__b",
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.md5(
            F.concat(
                F.col("anchor_id").cast("string"),
                F.lit("|"),
                F.col("neg_id").cast("string"),
                F.lit(salt),
            )
        ),
        F.col("neg_id"),
    )
    kept = (
        a.join(c, "__b")
        .filter(F.col("anchor_label") != F.col("neg_label"))
        .withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k)
        .select(
            "anchor_id",
            "anchor_label",
            "neg_id",
            "neg_label",
            F.col("neg_rank").cast("long").alias("neg_rank"),
        )
    )
    va = emb_df.select(
        F.col(id_col).alias("anchor_id"), F.col(vec_col).alias("__av"),
        norm_native(F.col(vec_col)).alias("__an"),
    )
    vc = emb_df.select(
        F.col(id_col).alias("neg_id"), F.col(vec_col).alias("__cv"),
        norm_native(F.col(vec_col)).alias("__cn"),
    )
    return (
        kept.join(va, "anchor_id")
        .join(vc, "neg_id")
        .select(
            "anchor_id",
            "anchor_label",
            "neg_id",
            "neg_label",
            "neg_rank",
            F.round(
                cosine_from_norms(
                    F.col("__av"), F.col("__cv"), F.col("__an"), F.col("__cn")
                ),
                round_to,
            ).alias("cosine"),
        )
    )


def embedding_covariance(
    df: DataFrame, vec_col: str, dim: int, round_to: int = 6
) -> DataFrame:
    """One-pass sample covariance of an embedding column — the
    sufficient statistic for PCA / whitening / Mahalanobis outlier
    gates over a vector corpus (fit the rotation driver-side from this
    d x d table; the projection is then a native per-row expression).

    Shape: each row explodes to its d(d+1)/2 upper-triangle product
    terms and ONE map-combined groupBy(i, j) reduces them: the shuffle
    carries d(d+1)/2 partial rows per partition, never the data. The
    pair array is GENERATED by nested sequence/transform lambdas over
    the once-materialized double-cast vector — a literal array of
    d(d+1)/2 structs (2,080 at d=64) makes the projection's expression
    tree so large that codegen/Janino OOMs a 1g driver (measured);
    the lambda form is O(1) expressions regardless of d. Per-term
    products are cast to DECIMAL(28,12) BEFORE summing, so sums are
    order-independent and engine-exact; the covariance combine
    arithmetic runs in double on both engines in the same op order.
    try_divide: a single-vector corpus reports NULL (n-1 = 0), not a
    job kill. ``dim`` must not exceed the true vector length (ANSI
    element_at throws out-of-bounds).
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    staged = df.filter(F.col(vec_col).isNotNull()).select(v.alias("__v"))

    def _term(i, j):
        xi = F.element_at(F.col("__v"), (i + 1).cast("int"))
        xj = F.element_at(F.col("__v"), (j + 1).cast("int"))
        return F.struct(
            i.cast("long").alias("i"),
            j.cast("long").alias("j"),
            (xi * xj).cast("decimal(28,12)").alias("xy"),
            xi.cast("decimal(28,12)").alias("xi"),
        )

    entries = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.transform(
                F.sequence(i, F.lit(dim - 1)), lambda j: _term(i, j)
            ),
        )
    )
    terms = staged.select(F.explode(entries).alias("e")).select(
        "e.i", "e.j", "e.xy", "e.xi"
    )
    agg = terms.groupBy("i", "j").agg(
        F.sum("xy").alias("__sxy"),
        F.sum("xi").alias("__sxi"),
        F.count(F.lit(1)).cast("long").alias("__n"),
    )
    # the diagonal re-reads the 2080-row AGGREGATED frame, not the data
    agg = agg.transform(lazy_checkpoint)
    diag = agg.filter(F.col("j") == F.col("i")).select(
        F.col("i").alias("__d"), F.col("__sxi").alias("__s")
    )
    di = diag.select(F.col("__d").alias("i"), F.col("__s").alias("__si"))
    dj = diag.select(F.col("__d").alias("j"), F.col("__s").alias("__sj"))
    # 0.0 + x: a vanishing covariance can round to -0.0 on one engine
    # and +0.0 on the other (observed); IEEE x + 0.0 normalizes both.
    cov = F.lit(0.0) + F.round(
        F.try_divide(
            F.col("__sxy").cast("double")
            - F.col("__si").cast("double")
            * F.col("__sj").cast("double")
            / F.col("__n"),
            F.col("__n") - 1,
        ),
        round_to,
    )
    return (
        agg.join(F.broadcast(di), "i")
        .join(F.broadcast(dj), "j")
        .select("i", "j", cov.alias("cov"))
    )


def embedding_covariance_arrow(
    df: DataFrame, vec_col: str, dim: int, round_to: int = 6
) -> DataFrame:
    """Full-width covariance, the production path: per Arrow batch,
    numpy computes X^T X + column sums (BLAS matmul — three orders of
    magnitude over per-element expression evaluation), emitting ONE
    partial-sums row per batch; a single reduce over those few rows
    finishes. Sanctioned Arrow use: 64 dims is 2,080 per-row product
    terms, where the exact-decimal expression form
    (:func:`embedding_covariance`) pays ~10M interpreted lambda evals
    per 5k rows (14s at sf0.1, measured) — built-ins genuinely can't
    express a matmul.

    Trade: float64 batch sums are order-dependent at ~1e-12 (batch
    boundaries follow the layout), so this path is NOT oracle-exact —
    it is reconciled against the decimal-exact operator in tests at
    1e-9 and intended for fitting PCA/whitening, which is insensitive
    at that scale. Emits the same (i, j, cov) table.
    """
    import pandas as pd  # noqa: PLC0415 — Arrow path only
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    partial_schema = StructType(
        [
            StructField("xtx", ArrayType(DoubleType())),
            StructField("sums", ArrayType(DoubleType())),
            StructField("n", LongType()),
        ]
    )

    def partials(batches):
        import numpy as np

        for pdf in batches:
            vecs = pdf[vec_col].dropna()
            if not len(vecs):
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64)[:dim] for v in vecs]
            )
            yield pd.DataFrame(
                {
                    "xtx": [(X.T @ X).ravel().tolist()],
                    "sums": [X.sum(axis=0).tolist()],
                    "n": [len(X)],
                }
            )

    staged = df.select(vec_col).mapInPandas(partials, schema=partial_schema)
    # one partial row per Arrow batch; three consumers below would
    # re-run the Python stage without the checkpoint
    staged = staged.transform(lazy_checkpoint)
    # merge by POSITION via posexplode + groupBy — never a d² -wide
    # aggregate expression list (4,096 element_at sums is the same
    # codegen OOM the exact operator's literal-struct form hit)
    xtx = (
        staged.select(F.posexplode("xtx").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum("v").alias("sxy"))
        .select(
            (F.col("pos") / dim).cast("long").alias("i"),
            (F.col("pos") % dim).cast("long").alias("j"),
            "sxy",
        )
        .filter(F.col("j") >= F.col("i"))
    )
    csums = (
        staged.select(F.posexplode("sums").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.sum("v").alias("s"))
    )
    n_total = staged.agg(F.sum("n").cast("long").alias("n"))
    si = csums.select(F.col("pos").alias("i"), F.col("s").alias("__si"))
    sj = csums.select(F.col("pos").alias("j"), F.col("s").alias("__sj"))
    cov = F.lit(0.0) + F.round(
        F.try_divide(
            F.col("sxy") - F.col("__si") * F.col("__sj") / F.col("n"),
            F.col("n") - 1,
        ),
        round_to,
    )
    return (
        xtx.join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .join(F.broadcast(n_total))
        .select("i", "j", cov.alias("cov"))
    )


def fit_pca(
    df: DataFrame, vec_col: str, dim: int, n_components: int
) -> tuple[np.ndarray, np.ndarray]:
    """Driver-side PCA fit from ONE distributed pass: the covariance
    (numpy X^T X per Arrow batch via
    :func:`embedding_covariance_arrow`) and the column means. Only
    O(d²) scalars ever reach the driver — data-independent, the same
    bounded-collect contract as the IVF centroid fit. Eigenvectors are
    sign-normalized (largest-|component| coordinate positive) so the
    rotation is deterministic across LAPACK builds up to eigenvalue
    ties. Returns (mean[d], components[k x d], variance-descending).
    """
    cov_rows = embedding_covariance_arrow(
        df, vec_col, dim, round_to=12
    ).collect()
    C = np.zeros((dim, dim))
    for r in cov_rows:
        C[r.i][r.j] = C[r.j][r.i] = r.cov if r.cov is not None else 0.0
    mean_rows = (
        df.filter(F.col(vec_col).isNotNull())
        .select(
            F.posexplode(
                F.slice(
                    F.transform(F.col(vec_col), lambda x: x.cast("double")),
                    1,
                    dim,
                )
            ).alias("pos", "v")
        )
        .groupBy("pos")
        .agg(F.avg("v").alias("m"))
        .collect()
    )
    mean = np.zeros(dim)
    for r in mean_rows:
        mean[r.pos] = r.m
    vals, vecs = np.linalg.eigh(C)  # ascending eigenvalues
    order = np.argsort(vals)[::-1][:n_components]
    comps = vecs[:, order].T  # k x d
    for k in range(comps.shape[0]):
        j = int(np.argmax(np.abs(comps[k])))
        if comps[k, j] < 0:
            comps[k] = -comps[k]
    return mean, comps


def pca_project(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    mean: np.ndarray,
    components: np.ndarray,
    round_to: int = 4,
) -> DataFrame:
    """Project vectors onto fitted principal components, NATIVELY: the
    centered vector is materialized once (interpreted lambdas
    re-evaluate embedded trees per element — the measured landmine),
    then each component is a left-fold dot with a literal array.
    Map-only; the rotation ships as plan literals, no model object or
    UDF at serve time (same distilled-serving shape as
    lr_scoring_expr).
    """
    dim = int(components.shape[1])
    mean_arr = F.array(*[F.lit(float(m)) for m in mean])
    centered = F.zip_with(
        F.slice(F.transform(F.col(vec_col), lambda x: x.cast("double")), 1, dim),
        mean_arr,
        lambda x, m: x - m,
    )
    staged = df.select(F.col(id_col), centered.alias("__c"))
    outs = []
    for k in range(components.shape[0]):
        comp = F.array(*[F.lit(float(x)) for x in components[k]])
        dot = F.aggregate(
            F.zip_with(F.col("__c"), comp, lambda x, w: x * w),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        outs.append(F.round(dot, round_to).alias(f"c{k}"))
    return staged.select(id_col, *outs)


def knn_label_consistency(
    emb_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    num_planes: int = 8,
    dim: int = 64,
    seed: int = 42,
    round_to: int = 4,
    suspect_below: float = 0.5,
) -> DataFrame:
    """Label-error mining via in-bucket kNN agreement (the
    Confident-Learning-style neighborhood check): for each vector, the
    fraction of its k nearest in-bucket neighbors sharing its label —
    a row whose neighborhood overwhelmingly disagrees is a labeling
    suspect worth human review before training.

    Candidates stay LSH-bucket-bounded (reuses
    :func:`embedding_near_dup_pairs` with the threshold open), each
    undirected pair explodes to both directions row-locally, and the
    per-source top-k is a keyed window whose ``rank ≤ k`` filter
    compiles to WindowGroupLimit (map-side per-group limit — the
    scale-safe top-k shape). Labels attach by two keyed equi-joins on
    the id (entity-grain: never broadcast at corpus scale, AQE decides
    here). Vectors alone in their bucket drop out — they have no
    neighborhood to vote.
    """
    from pyspark.sql.window import Window

    pairs = embedding_near_dup_pairs(
        emb_df.select(id_col, vec_col), id_col, vec_col, threshold=-1.0,
        num_planes=num_planes, dim=dim, seed=seed, round_to=round_to,
    )
    directed = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("src"),
                    F.col("id_b").alias("dst"),
                    F.col("cosine"),
                ),
                F.struct(
                    F.col("id_b").alias("src"),
                    F.col("id_a").alias("dst"),
                    F.col("cosine"),
                ),
            )
        ).alias("__e")
    ).select("__e.src", "__e.dst", "__e.cosine")
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    topk = (
        directed.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= int(k))
    )
    labels = emb_df.select(
        F.col(id_col).alias("__id"), F.col(label_col).alias("__lbl")
    )
    scored = (
        topk.join(labels.withColumnsRenamed({"__id": "src", "__lbl": "__own"}), "src")
        .join(labels.withColumnsRenamed({"__id": "dst", "__lbl": "__nbr"}), "dst")
    )
    per = scored.groupBy("src", "__own").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(
            F.when(F.col("__nbr") == F.col("__own"), 1).otherwise(0)
        ).alias("__agree"),
    )
    frac = F.round(
        F.try_divide(
            F.col("__agree").cast("double"), F.col("__n").cast("double")
        ),
        round_to,
    )
    return per.select(
        F.col("src").alias(id_col),
        F.col("__own").alias(label_col),
        F.col("__n").cast("long").alias("n_nbrs"),
        F.col("__agree").cast("long").alias("n_agree"),
        frac.alias("agree_frac"),
        (frac < F.lit(float(suspect_below))).alias("suspect"),
    )
