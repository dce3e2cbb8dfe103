"""Distributed clustering: Lloyd k-means over embedding columns in the
integer-exact form that makes every round engine-replayable.

The repo's third iterative-algorithm shape (after the node-state
propagation family in ``graph``/``dedup`` and the broadcast-state
power iteration in ``graph.transition_matrix``): here the iterated
state is a TINY per-cluster frame (k rows of per-dimension sums), so
each round is one map-combined groupBy (k rows out per partition) plus
one broadcast join of those k centroid rows back against the points —
the textbook distributed Lloyd step. Nothing is ever collected; the
loop runs a FIXED number of rounds so a fixed-depth unrolled-CTE
oracle replays it exactly (the pagerank/k_core oracle convention —
no fixpoint test needed because the round count is part of the
operator's definition, not an early exit).

Exactness contract (why integers): float centroid means drift a ulp
across engines and flip an argmin at a distance tie boundary. Instead
points are quantized ONCE to exact int64 grids (``floor(x·scale+0.5)``
— floor of an IEEE double is exact, no round-half divergence), and a
centroid is carried as its exact integer (sum, count) pair. The
squared distance comparison multiplies through by n²:

    ‖x − S/n‖² = (1/n²)·Σⱼ(n·xⱼ − Sⱼ)²

so ``q = Σⱼ(n·xⱼ − Sⱼ)²`` is exact int64 and the only float op is ONE
IEEE division ``q/n²`` of exact integers — bit-identical on identical
inputs across engines, and ties broken by cluster id. At the bench
scales q stays far inside int64 (see the headroom note in the query
docstring); at extreme corpus scale the same shape runs with double
means like every production k-means — the integer form is the
oracle-exact variant of the identical plan.
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from sparkprep.checkpointing import lazy_checkpoint


def quantize_points(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dims: int,
    scale: int = 1000,
) -> DataFrame:
    """Project the first ``dims`` components of ``vec_col`` onto an
    exact integer grid: ``xj = floor(double(vec[j])·scale + 0.5)``.

    float→double widening is exact, the multiply/add are IEEE ops on
    identical inputs, and ``floor`` has no round-half mode — the one
    quantization recipe with zero cross-engine rounding modes in it.
    Emitted as one materialized projection (separate column per dim
    folded into an array AFTER computing each element once) so no
    downstream higher-order lambda re-evaluates the cast chain
    per element (CLAUDE.md interpreted-HOF landmine).
    """
    elems = [
        F.floor(
            F.element_at(vec_col, j + 1).cast("double") * float(scale) + 0.5
        ).cast("long")
        for j in range(dims)
    ]
    # materialize each element as its own column first, then assemble
    cols = [F.col(id_col).alias("id")] + [
        e.alias(f"__x{j}") for j, e in enumerate(elems)
    ]
    staged = df.select(*cols)
    return staged.select(
        "id", F.array(*[F.col(f"__x{j}") for j in range(dims)]).alias("xi")
    )


def kmeans_lloyd(
    points: DataFrame,
    k: int,
    dims: int,
    rounds: int = 3,
) -> DataFrame:
    """Fixed-round distributed Lloyd iteration over quantized points
    ``(id, xi: array<long>)``; returns the final assignment
    ``(id, xi, cluster)``.

    Initial assignment is ``id % k`` (deterministic, SQL-replayable,
    no seeding join). Each round:

    1. centroid state = one map-combined groupBy: per cluster the
       exact count ``n`` and per-dimension int64 sums ``Sⱼ`` (k rows);
    2. broadcast those k rows across the points (the only join — the
       points side never shuffles) and score each (point, cluster)
       with the cross-multiplied exact distance; the per-point argmin
       is a keyed window over the k candidate rows (key = point id,
       fan-out exactly k — high-cardinality key, never a global sort).

    The assignment frame is localCheckpoint-ed per round: it anchors
    both the next centroid aggregate and the broadcast join, and
    without lineage truncation every round re-executes all prior
    rounds (the k_core loop discipline).
    """
    asg = points.select(
        "id", "xi", (F.col("id") % F.lit(int(k))).cast("int").alias("cluster")
    ).transform(lazy_checkpoint)

    for _ in range(int(rounds)):
        cent = asg.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("__n"),
            *[
                F.sum(F.element_at("xi", j + 1)).alias(f"__s{j}")
                for j in range(dims)
            ],
        )
        cent = cent.select(
            F.col("cluster").alias("__c"),
            "__n",
            F.array(*[F.col(f"__s{j}") for j in range(dims)]).alias("__s"),
        )
        scored = (
            asg.select("id", "xi")
            .crossJoin(F.broadcast(cent))
            .select(
                "id",
                "xi",
                "__c",
                (
                    F.aggregate(
                        F.zip_with(
                            "xi",
                            "__s",
                            lambda x, s: (F.col("__n") * x - s)
                            * (F.col("__n") * x - s),
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, v: acc + v,
                    ).cast("double")
                    / (F.col("__n") * F.col("__n")).cast("double")
                ).alias("__dist"),
            )
        )
        w = Window.partitionBy("id").orderBy("__dist", "__c")
        asg = (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("id", "xi", F.col("__c").alias("cluster"))
            .transform(lazy_checkpoint)
        )
    return asg


def cluster_profile(asg: DataFrame, dims: int, out_dims: int = 4) -> DataFrame:
    """Per-cluster readout of a :func:`kmeans_lloyd` assignment: size,
    exact within-cluster sum of squares (divided through once), and
    the first ``out_dims`` centroid means — every emitted float is ONE
    IEEE division of exact int64s, recast DECIMAL(18,8) before the
    round (the cross-engine round-half discipline)."""
    cent = asg.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.element_at("xi", j + 1)).alias(f"__s{j}")
            for j in range(dims)
        ],
    )
    cent = cent.select(
        F.col("cluster").alias("__c"),
        "__n",
        F.array(*[F.col(f"__s{j}") for j in range(dims)]).alias("__s"),
    )
    q = (
        asg.join(F.broadcast(cent), asg["cluster"] == cent["__c"])
        .select(
            "cluster",
            "__n",
            *[F.element_at("__s", j + 1).alias(f"__sj{j}") for j in range(out_dims)],
            F.aggregate(
                F.zip_with(
                    "xi",
                    "__s",
                    lambda x, s: (F.col("__n") * x - s) * (F.col("__n") * x - s),
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("__q"),
        )
    )
    # every non-key column is functionally determined by the cluster id,
    # so grouping on all of them keeps the aggregate deterministic (no
    # first()) and still map-combines to k rows per partition
    grp = ["cluster", "__n"] + [f"__sj{j}" for j in range(out_dims)]
    mean_cols: List = [
        F.round(
            (F.col(f"__sj{j}").cast("double") / F.col("__n").cast("double")).cast(
                "decimal(18,8)"
            ),
            6,
        )
        .cast("double")
        .alias(f"mean_{j}")
        for j in range(out_dims)
    ]
    return (
        q.groupBy(*grp)
        .agg(F.sum(F.col("__q").cast("decimal(38,0)")).alias("__qsum"))
        .select(
            "cluster",
            F.col("__n").cast("long").alias("n_points"),
            F.round(
                (
                    F.col("__qsum").cast("double")
                    / (F.col("__n") * F.col("__n")).cast("double")
                ).cast("decimal(18,8)"),
                4,
            )
            .cast("double")
            .alias("wss"),
            *mean_cols,
        )
        .orderBy("cluster")
    )
