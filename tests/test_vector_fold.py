"""Bit-exactness of the Arrow vector kernels against the Catalyst left
fold (`similarity.dot_native` / `norm_native` / `hyperplane_dots`).

Every double an Arrow kernel emits must equal, bit for bit, what the
Catalyst expressions compute on the same vectors: that is what lets one
path serve as both the oracle path and the scale path. A GEMM or
``np.sum`` re-associates the sum and moves the last bits of most dots,
so these tests compare raw bits (``float.hex``), not values within a
tolerance, and include one constructed row whose left fold and exact
sum have opposite signs.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkprep.operators import similarity as sim

_SEED = 11


def _cancelling_row(dim: int) -> list[float]:
    """Products 1e16, 1, -1e16, -0.5 against the ones-plane: the left
    fold loses the 1 (1e16 + 1 rounds back to 1e16) and ends at -0.5,
    while the exact sum is +0.5 — any re-associating sum (pairwise,
    SIMD lanes, blocked GEMM) can land on either side of zero."""
    return [1e16, 1.0, -1e16, -0.5] + [0.0] * (dim - 4)


def _rows(dim: int) -> list[list[float]]:
    rng = np.random.RandomState(_SEED + dim)
    rows = rng.normal(size=(40, dim)).tolist()
    half = rng.normal(size=dim)
    half[: dim // 2] = 0.0
    rows += [
        [0.0] * dim,
        [-0.0] * dim,
        half.tolist(),
        (-half).tolist(),
        _cancelling_row(dim),
    ]
    return rows


def _lits(dim: int) -> np.ndarray:
    lits = np.random.RandomState(_SEED).normal(size=(6, dim))
    ones = np.zeros(dim)
    ones[:4] = 1.0
    return np.vstack([lits, ones])


def _hex(xs) -> list:
    return [None if x is None else float(x).hex() for x in xs]


def test_cancelling_row_separates_fold_from_exact_sum():
    prods = _cancelling_row(64)[:4]
    fold = sim._fold_dot(np.asarray(prods), np.ones(4))
    assert math.fsum(prods) > 0 > fold


@pytest.mark.parametrize("dim", [64, 1024])
def test_fold_dot_bit_identical_to_catalyst(spark, dim):
    rows = _rows(dim)
    lits = _lits(dim)
    df = spark.createDataFrame(
        list(enumerate(rows)), "vec_id long, embedding array<double>"
    )
    ref = {
        r["vec_id"]: r
        for r in df.select(
            "vec_id",
            sim.hyperplane_dots(F.col("embedding"), lits).alias("dots"),
            sim.norm_native(F.col("embedding")).alias("norm"),
            sim.dot_native(F.col("embedding"), F.col("embedding")).alias("self"),
        ).collect()
    }
    vt = np.asarray(rows).T
    dots = sim._fold_dot(vt[:, :, None], lits.T[:, None, :])  # (n, k)
    self_dots = sim._fold_dot(vt, vt)
    for i in range(len(rows)):
        assert _hex(dots[i]) == _hex(ref[i]["dots"]), i
        assert _hex([self_dots[i]]) == _hex([ref[i]["self"]]), i
        assert _hex([math.sqrt(self_dots[i])]) == _hex([ref[i]["norm"]]), i
    # paired rows (the bucket verify's gather) fold the same way
    ia = np.arange(len(rows))
    ib = ia[::-1].copy()
    pair_ref = {
        r["i"]: r["d"]
        for r in df.alias("a")
        .join(df.alias("b"), F.col("a.vec_id") + F.col("b.vec_id") == len(rows) - 1)
        .select(
            F.col("a.vec_id").alias("i"),
            sim.dot_native(F.col("a.embedding"), F.col("b.embedding")).alias("d"),
        )
        .collect()
    }
    want = _hex([pair_ref[i] for i in ia])
    assert _hex(sim._fold_pairs(vt, ia, ib)) == want
    # every ordered pair: each unordered pair folds once, both orders agree
    grid = sim._fold_pairs(vt, np.repeat(ia, len(ia)), np.tile(ib, len(ia)))
    assert _hex(grid[ia * len(ia) + ia]) == want
    assert _hex(grid[ib * len(ia) + ib]) == want  # the (b, a) order


@pytest.mark.parametrize("dim", [64, 1024])
def test_corpus_kernel_bit_identical_to_catalyst(spark, dim):
    """The kernel's signature, first-max cell, norm and unit vector, all
    through Arrow, against the Catalyst spellings of the same values.
    The cancelling row against the ones-plane sets the sign bit only
    where the left fold's sign is kept."""
    rows = _rows(dim)
    lits = _lits(dim)
    df = spark.createDataFrame(
        list(enumerate(rows)), "vec_id long, embedding array<double>"
    )
    got = {
        r["vec_id"]: r
        for r in sim.corpus_kernel(
            df, "vec_id", "embedding", planes=lits, cells=lits, unit=True
        ).collect()
    }
    ref = {
        r["vec_id"]: r
        for r in df.select(
            "vec_id",
            "embedding",
            sim.hyperplane_dots(F.col("embedding"), lits).alias("dots"),
            sim.norm_native(F.col("embedding")).alias("norm"),
        )
        .select(
            "vec_id",
            "norm",
            sim.signature_from_dots(F.col("dots"), len(lits)).alias("sig"),
            (F.array_position("dots", F.array_max("dots")) - 1).alias("cell"),
            F.zip_with(
                "embedding",
                F.array_repeat("norm", F.size("embedding")),
                lambda x, n: F.try_divide(x, n),
            ).alias("unit"),
        )
        .collect()
    }
    assert set(got) == set(ref)
    for i, r in ref.items():
        g = got[i]
        assert g["__sig"] == r["sig"], i
        assert g["__cell"] == r["cell"], i
        assert _hex([g["__cn"]]) == _hex([r["norm"]]), i
        if r["norm"] > 0:
            assert _hex(g["__unit"]) == _hex(r["unit"]), i
        else:  # try_divide by a zero norm: NULL elements, NULL unit here
            assert g["__unit"] is None and set(r["unit"]) == {None}, i
    cancel = len(rows) - 1
    assert got[cancel]["__sig"] >> (len(lits) - 1) & 1 == 0


def test_null_vector_never_pairs(spark):
    df = spark.createDataFrame(
        [(0, None), (1, [1.0, 2.0, 3.0, 4.0]), (2, [1.0, 2.0, 3.0, 4.0])],
        "vec_id long, embedding array<double>",
    )
    out = sim.embedding_near_dup_pairs(
        df, threshold=-1.0, num_planes=2, dim=4
    ).collect()
    assert [(r.id_a, r.id_b, r.cosine) for r in out] == [(1, 2, 1.0)]
    sem = {r.vec_id: (r.cluster, r.keep) for r in sim.semantic_dedup(
        df, num_clusters=2, dim=4, tau=0.5, num_planes=2
    ).collect()}
    # the NULL row lands where SemDeDup's CASE chain falls through: the
    # last cluster (its NULL dots fail every >=)
    assert sem[0] == (1, True)
    assert {i: keep for i, (_, keep) in sem.items()} == {0: True, 1: True, 2: False}
    cells = sim.corpus_kernel(df, "vec_id", "embedding", cells=np.eye(4)[:2])
    assert {r["vec_id"]: r["__cell"] for r in cells.collect()} == {0: None, 1: 1, 2: 1}


def test_repeated_id_never_pairs_with_itself(spark):
    """A corpus id that occurs twice yields no (x, x) pair, so SemDeDup
    never drops an id for its own copy."""
    df = spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0]), (1, [1.0, 2.0, 3.0, 4.0]), (2, [1.0, 2.0, 3.0, 4.1])],
        "vec_id long, embedding array<double>",
    )
    out = sim.embedding_near_dup_pairs(
        df, threshold=0.9, num_planes=2, dim=4
    ).collect()
    assert sorted((r.id_a, r.id_b) for r in out) == [(1, 2), (1, 2)]
    sem = sim.semantic_dedup(df, num_clusters=2, dim=4, tau=0.9, num_planes=2).collect()
    assert sorted((r.vec_id, r.keep) for r in sem) == [(1, True), (1, True), (2, False)]


def test_prefilter_keeps_pair_at_threshold_for_any_round_to(spark):
    """At ``round_to=17`` the rounding slack is below one ulp of the
    cosine, so the GEMM prefilter alone would drop a pair whose GEMM dot
    lands under its folded dot. The pair's folded dot is the threshold,
    so it must come back."""
    dim = 256
    for seed in range(200):
        rng = np.random.RandomState(seed)
        base = rng.normal(size=dim)
        rows = np.vstack([base, base + 1e-3 * rng.normal(size=dim)])
        units = rows / np.sqrt(sim._fold_dot(rows.T, rows.T))[:, None]
        raw = float(sim._fold_dot(units[0], units[1]))
        gemm = units @ units.copy().T  # two buffers, as the verify (a @ a.T is SYRK)
        if gemm[0, 1] < raw and gemm[1, 0] < raw:
            break
    else:
        pytest.skip("no pair whose GEMM dot is below its folded dot")
    df = spark.createDataFrame(
        [(0, rows[0].tolist()), (1, rows[1].tolist())], "vec_id long, embedding array<double>"
    )
    out = sim.embedding_near_dup_pairs(
        df, threshold=raw, num_planes=1, dim=dim, round_to=17
    ).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(0, 1)]
