"""Session-shared query subtrees.

Several registry families rebuild an identical expensive subtree per
query (the MinHash+CC labels; the co-purchase pair graph — eleven graph
queries derive it from the same lineitem projection with the same cap).
Within one driver/bench session those queries run back-to-back, so the
engine memoizes ONE lazily-localCheckpoint-ed frame per (session,
sf_dir) and every family member consumes the materialized leaf — the
computed-once-artifact shape a 100 TB pipeline would persist anyway
(VERDICT r7 item 4 measured the CC family 16.1s → 1.6s from this).

The frames this module builds, and their consumers:

- ``copurchase_pairs`` — the raw co-purchase pair frame: assoc_rules,
  frequent_triples and copurchase_chi2 read it directly; every
  co-purchase graph query reads it through ``copurchase_edges`` (a
  row-local filter + rename over the leaf, not memoized itself);
- ``copurchase_degrees`` — ``graph.degrees`` of the edge list:
  triangle_count, degree_dist, modularity, local_clustering,
  link_prediction, and the ``copurchase_support`` build;
- ``copurchase_support`` — ``graph.edge_support`` of the edge list
  (one row per edge in some triangle, so bounded by the edge count):
  triangle_count, and k_truss as its round-0 support;
- ``lpa_labels`` — the fixed-round LPA labels: communities, modularity;
- ``kmeans_assignment`` — the Lloyd assignment: kmeans_assign,
  silhouette_score;
- ``customer_revenue_ranked`` — one range-prefix pass over customer
  revenue: gini_revenue, lorenz_curve (also registered as gini_scale
  and lorenz_scale), value_deciles.

``relational_ext`` (per_customer_revenue, rfm_staged) and ``llmprep``
(minhash_sigs_near, cc_labels, simhash_sketch) memoize their own
frames through :func:`session_frame`.

No query under ``sparkprep/queries/`` other than this module calls
``graph.degrees`` or ``graph.edge_support`` on the co-purchase graph
(``tests/test_graph_fixpoint.py`` guards it).

Keyed by applicationId so a restarted session (dead RDD lineage) can
never serve a stale frame; within one live session the cache keeps one
entry per (name, sf_dir) — dead-session entries are evicted on miss.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from sparkprep.checkpointing import lazy_checkpoint

_FRAMES: dict = {}


def reset() -> None:
    """Drop every memoized frame so the next consumer rebuilds from the
    parquet inputs. The bench harness calls this at the start of every
    timing pass so each shared family's build cost is charged inside
    the FIRST consumer's timing on EVERY pass — without it, the
    best-of-N minima never bill the build at all (a pass-2 timing of
    the first consumer reads the pass-1 checkpoint leaf), overstating
    the shared-frame win (VERDICT r10 item 1). The dropped
    localCheckpoint blocks are reclaimed by the ContextCleaner once the
    last DataFrame reference dies; no explicit unpersist is needed."""
    _FRAMES.clear()


def session_frame(
    spark: SparkSession, name: str, sf_dir: str, build: Callable[[], DataFrame]
) -> DataFrame:
    """Memoize ``build()`` per (session, name, sf_dir); the builder is
    expected to return a frame whose expensive subtree is truncated by
    a lazy ``localCheckpoint`` (so reuse is a leaf scan, and the first
    consumer's action materializes it)."""
    app_id = spark.sparkContext.applicationId
    key = (app_id, name, sf_dir)
    hit = _FRAMES.get(key)
    if hit is not None:
        return hit
    frame = build()
    # evict only DEAD-session entries (different applicationId) for this
    # name: a restarted session's RDD lineage is gone, but one live
    # session alternating two sf_dirs (sf0.001 fixtures vs
    # SPARKPREP_TEST_SF_DIR) keeps one frame per sf_dir instead of
    # rebuilding the expensive subtree on every switch (ADVICE r8)
    for k in [k for k in _FRAMES if k[1] == name and k[0] != app_id]:
        del _FRAMES[k]
    _FRAMES[key] = frame
    return frame


def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-purchase pair graph every graph-family query derives:
    ``cooccurrence_pairs`` over the distinct (order, part) frame with
    the standard 64-item cap — returned RAW (``item_a, item_b,
    n_keys``) and localCheckpoint-ed, so each consumer applies its own
    support filter/renames on the materialized leaf."""
    from pyspark.sql import functions as F  # noqa: F401  (parity with callers)

    from sparkprep.operators import graph
    from sparkprep.queries import t

    def build() -> DataFrame:
        li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
        return graph.cooccurrence_pairs(
            li, "l_orderkey", "l_partkey", max_items_per_key=64, cap_by="id"
        ).transform(lazy_checkpoint)

    return session_frame(spark, "copurchase_pairs", sf_dir, build)


def kmeans_assignment(
    spark: SparkSession,
    sf_dir: str,
    k: int,
    dims: int,
    scale: int,
    rounds: int,
) -> DataFrame:
    """The fixed-round Lloyd assignment frame ``(id, xi, cluster)`` that
    kmeans_assign AND silhouette_score both replay (identical
    quantize + rounds chain, verbatim-shared oracle CTEs) — one Lloyd
    iteration per session instead of one per consumer. kmeans_lloyd
    already lazy-localCheckpoints its final assignment, so reuse is a
    leaf scan; parameters key the cache name so a panel with different
    (k, dims, rounds) could coexist."""
    from sparkprep.operators import clustering
    from sparkprep.queries import t

    def build() -> DataFrame:
        emb = t(spark, sf_dir, "embeddings")
        pts = clustering.quantize_points(
            emb, "vec_id", "embedding", dims=dims, scale=scale
        )
        return clustering.kmeans_lloyd(pts, k=k, dims=dims, rounds=rounds)

    name = f"kmeans_asg:k{k}d{dims}s{scale}r{rounds}"
    return session_frame(spark, name, sf_dir, build)


def lpa_labels(spark: SparkSession, sf_dir: str, rounds: int) -> DataFrame:
    """The fixed-round LPA community labels over the shared co-purchase
    edge list — communities and modularity both replay the identical
    4-round propagation (join + groupBy + keyed window per round);
    memoized once per session. lpa_communities checkpoints per round,
    so the returned frame is already a materialized leaf chain; one
    more lazy cut makes reuse a single leaf scan."""
    from sparkprep.operators import graph

    def build() -> DataFrame:
        edges = copurchase_edges(spark, sf_dir)
        return graph.lpa_communities(edges, rounds=rounds).transform(
            lazy_checkpoint
        )

    return session_frame(spark, f"lpa_labels:r{rounds}", sf_dir, build)


def customer_revenue_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One ``ranks.range_prefix`` pass over per-customer revenue in the
    ONE total ordering (revenue asc, custkey asc) that gini_revenue,
    lorenz_curve AND value_deciles all sort by — each previously ran its
    own ranks.global_rank/ntile/cumsum pass (sampling job + range
    exchange + checkpoint + counts apiece) over the same 150k-row frame.
    The pass emits everything each consumer derives row-locally:

    - ``__rank``  exact global row_number (gini's Σ i·x term)
    - ``__n``     total rows (ntile math → lorenz deciles, bit-identical
                  via ranks.ntile_from_rank)
    - ``__cum``   exact running sum of integer revenue units
                  (``__u = __rev·10⁴`` as int64 — value_deciles' input)
    - ``__tot``   total units

    The same kernel backs ranks.global_rank/global_cumsum, so every
    derived quantity is bit-identical to the single-purpose operators
    and the consumers keep their window-form oracles."""
    from pyspark.sql import functions as F
    from sparkprep.operators import ranks
    from sparkprep.queries import relational_ext

    def build() -> DataFrame:
        per_cust = relational_ext.per_customer_revenue(spark, sf_dir)
        units = per_cust.withColumn(
            "__u", (F.col("__rev") * 10000).cast("long")
        )
        return ranks.range_prefix(
            units, [F.asc("__rev"), F.asc("o_custkey")], value_col="__u"
        ).transform(lazy_checkpoint)

    return session_frame(spark, "customer_revenue_ranked", sf_dir, build)


def copurchase_edges(
    spark: SparkSession, sf_dir: str, a: str = "u", b: str = "v"
) -> DataFrame:
    """The standard ≥2-order-support edge list over the shared pair
    frame — the exact construction every graph query used inline
    before sharing (filter + rename are row-local over the leaf)."""
    from pyspark.sql import functions as F

    return (
        copurchase_pairs(spark, sf_dir)
        .filter(F.col("n_keys") >= 2)
        .select(F.col("item_a").alias(a), F.col("item_b").alias(b))
    )


def copurchase_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``graph.degrees`` of the co-purchase edge list, ``(node, d)`` —
    one degree frame per session instead of one per consumer."""
    from sparkprep.operators import graph

    def build() -> DataFrame:
        return graph.degrees(copurchase_edges(spark, sf_dir)).transform(
            lazy_checkpoint
        )

    return session_frame(spark, "copurchase_degrees", sf_dir, build)


def copurchase_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``graph.edge_support`` of the co-purchase edge list,
    ``(u, v, support)`` — the triangle enumeration runs once per
    session for both the triangle census and the k-truss round 0."""
    from sparkprep.operators import graph

    def build() -> DataFrame:
        return graph.edge_support(
            copurchase_edges(spark, sf_dir), copurchase_degrees(spark, sf_dir)
        ).transform(lazy_checkpoint)

    return session_frame(spark, "copurchase_support", sf_dir, build)
