"""Markov-chain operators over keyed event sequences: transition-matrix
extraction and k-step power iteration with broadcast state.

This is the repo's second iterative-algorithm shape, complementing
``dedup.connected_components`` (min-label propagation where the mutable
state is node-sized): here the iterated state is a TINY per-state
distribution vector (|states| rows), so each step is a broadcast join
against a transition matrix that was aggregated ONCE from the raw
sequence data. At 100 TB the expensive part — one keyed window to form
consecutive pairs plus one map-combined count aggregate — runs exactly
once; the k iterations afterwards touch only |states|^2 rows.

For chains whose state space is itself huge (page-level PageRank), the
distribution no longer broadcasts — that regime is :func:`pagerank`
(keyed-shuffle iteration, integer fixed-point); ``power_iteration`` is
the user-journey / event-funnel regime where states are event types,
funnel stages, or content categories (tens to thousands of values).

The undirected-graph operators (co-purchase family) share one spelling
of each primitive and never re-spell it: :func:`degrees` is the degree
frame (one endpoint explode, one map-combined count);
:func:`directed_ends_capped` without a cap is the both-directions
adjacency (one row-local struct explode, never a union of two selects
of one frame); ``_triangles`` is the degree-oriented triangle
enumeration behind :func:`edge_support`, the per-edge support frame
that :func:`triangle_stats` and :func:`k_truss` take; and
:func:`bfs_hops` is :func:`multi_bfs_hops` from one seed.
:func:`triangle_stats` and :func:`k_truss` take the artifacts they
consume (support and degree frames), not edges, so a session that
holds them (``queries.shared_frames``) builds each once for every
consumer. ``dedup.connected_components`` symmetrizes its near-dup pair
graph with :func:`directed_ends_capped` too, and the dedup consumers
likewise take the sketch or label frame they read (``operators/dedup``).
``tests/test_graph_fixpoint.py::test_one_graph_vocabulary`` guards it.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from sparkprep.checkpointing import lazy_checkpoint


def transition_matrix(
    df: DataFrame,
    key_col: str,
    state_col: str,
    order_cols: Sequence,
) -> DataFrame:
    """Per-key consecutive-state transition probabilities ``(src, dst,
    n, p)`` with ``p = n / Σ_dst n`` row-normalized per ``src``.

    One keyed window (``lag`` over each key's ordered sequence) and one
    map-combined groupBy; the normalization window runs over the
    AGGREGATED (src, dst) frame only — |states|^2 rows, so the per-src
    partitions are trivially small (never a raw-data window). ``p`` is
    a single IEEE division of two exact int64 counts: bit-identical
    across engines, no rounding needed downstream.

    Rows whose state or predecessor is the key's first event contribute
    no edge (lag yields NULL → filtered); a key with one event
    contributes nothing, matching the standard MLE fit of a first-order
    chain.
    """
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    edges = (
        df.select(
            F.lag(state_col).over(w).alias("src"),
            F.col(state_col).alias("dst"),
        )
        .filter(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_src = Window.partitionBy("src")
    return edges.select(
        "src",
        "dst",
        "n",
        (F.col("n") / F.sum("n").over(per_src)).alias("p"),
    )


def power_iteration(
    trans: DataFrame,
    states: DataFrame,
    steps: int,
    init: Optional[DataFrame] = None,
    round_at: int = 12,
) -> DataFrame:
    """Evolve a state distribution ``steps`` times through ``trans``:
    ``dist_{t+1}[dst] = Σ_src dist_t[src] · p(src, dst)``.

    - ``trans`` (columns ``src, dst, p``) is materialized ONCE via a
      lazy ``localCheckpoint`` — every iteration references it, and
      without lineage truncation the upstream count aggregate would
      re-execute per step (the re-execution trap: CLAUDE.md,
      unions-of-selects).
    - ``states`` (column ``state``) must list EVERY state, including
      ones that never appear in an edge — the uniform ``init`` is built
      over it with a window on the tiny post-distinct frame (one
      partition of |states| rows, never raw data).
    - The distribution stays |states| rows, so it broadcasts into each
      step's join; nothing larger than |states|^2 ever shuffles here.
    - Per-step ``round(round_at)`` pins engine-identical values: each
      step sums ≤|states| double terms whose summation order differs
      across engines (~1e-16 relative); rounding far above that but far
      below signal stops the drift compounding across steps. The
      rounding is part of the cross-engine contract — raise
      ``round_at`` rather than removing it.

    States with no outgoing edges leak mass (their row of the matrix is
    empty, so the output may sum to < 1) — deliberate, mirrored by the
    unrolled-SQL oracle; add explicit self-loop edges upstream for a
    mass-conserving chain. States that nothing transitions INTO simply
    drop out of the result frame after one step.
    """
    trans = trans.transform(lazy_checkpoint)
    if init is None:
        whole = Window.partitionBy()
        init = states.select(
            F.col("state"),
            F.round(
                F.lit(1.0) / F.count(F.lit(1)).over(whole), round_at
            ).alias("p"),
        )
    dist = init
    for _ in range(int(steps)):
        d = dist.select(F.col("state").alias("__s"), F.col("p").alias("__dp"))
        dist = (
            trans.join(F.broadcast(d), F.col("src") == F.col("__s"))
            .groupBy(F.col("dst").alias("state"))
            .agg(F.round(F.sum(F.col("p") * F.col("__dp")), round_at).alias("p"))
        )
    return dist


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    iterations: int = 3,
    damping_pct: int = 85,
    scale: int = 10**12,
) -> DataFrame:
    """Keyed-shuffle PageRank over an arbitrarily large node set —
    the huge-state-space regime :func:`power_iteration`'s docstring
    defers here (there the distribution broadcasts; at page scale it
    cannot, so every step is a rank ⋈ edges shuffle join keyed on the
    source node, the classic distributed-PageRank shape).

    All arithmetic is INTEGER fixed-point so the result is bit-exact
    and engine-portable (a cross-engine float PageRank drifts a ulp
    per step and never hashes equal):

    - every node starts at ``scale div n`` rank units;
    - a node with out-degree d sends ``rank div d`` units down each
      edge (integer division — exact, deliberately leaks ≤ d-1 units
      per node per step, same on every engine);
    - new rank = ``(base · (100-damping_pct)) div 100 +
      (Σ incoming · damping_pct) div 100``.

    Overflow headroom: total mass ≤ ``scale``; the damping multiply
    peaks at ``scale · damping_pct`` ≈ 8.5e13 for the default scale —
    five orders below int64. Dangling nodes (no out-edges) leak their
    damped mass entirely, as in the uniform-teleport formulation
    without dangling redistribution; mirror that choice in any oracle.

    ``edges(src, dst)`` with its degree column and ``nodes(node)`` are
    lazily localCheckpoint-ed: both anchor every iteration, and
    without lineage truncation the degree aggregate (and the node
    scan) would re-execute per step (CLAUDE.md re-execution trap).
    ``n = nodes.count()`` is the operator's one bounded driver scalar
    (same contract as numeric.py's one-job min/max). For hundreds of
    iterations, checkpoint the rank frame every ~10 steps too; at the
    default 3 the linear lineage is fine.
    """
    nodes = nodes.transform(lazy_checkpoint)
    n = nodes.count()
    if n == 0:
        raise ValueError("pagerank needs a non-empty node frame")
    base = scale // n
    teleport = (base * (100 - damping_pct)) // 100
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    ed = edges.join(deg, "src").transform(lazy_checkpoint)
    ranks = nodes.select("node", F.lit(base).cast("long").alias("rank"))
    for _ in range(int(iterations)):
        contrib = ed.join(
            ranks.select(F.col("node").alias("src"), "rank"), "src"
        ).select("dst", F.expr("rank div __deg").alias("__c"))
        incoming = contrib.groupBy("dst").agg(F.sum("__c").alias("__s"))
        ranks = (
            nodes.join(incoming, F.col("node") == F.col("dst"), "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"(coalesce(__s, 0L) * {int(damping_pct)}) div 100"
                    )
                ).cast("long").alias("rank"),
            )
        )
    return ranks


def cooccurrence_pairs(
    df: DataFrame,
    key_col: str,
    item_col: str,
    max_items_per_key: int = 100,
    cap_by: str = "freq",
) -> DataFrame:
    """Item-item co-occurrence counts from (key, item) interactions —
    the related-items / recommender building block (items sharing many
    keys are related) and the bipartite-graph projection.

    The scale hazard is the quadratic blowup on hot keys: a key with
    10k distinct items would emit 50M pairs. ``max_items_per_key``
    bounds that to the top-N items per key (by interaction count,
    item-order tiebreak), capped BEFORE any array exists — the same
    rank-then-aggregate discipline as event_sequences, so aggregation
    buffers hold <= N items. Pair generation is row-local (sorted
    array + index-sliced nested transform, array materialized in its
    own projection before the lambdas); pairs are emitted once in
    (item_a < item_b) order so the final map-combined groupBy sees
    each unordered pair as ONE key. Three keyed exchanges total:
    (key,item) count, the per-key cap window (whose partitioning the
    array rollup reuses), and the pair count.

    ``cap_by="id"`` is the lean twin for callers whose cap exists only
    as a fan-out BOUND, not a relevance ranking (bounded basket sizes
    — e.g. TPC-H orders hold ≤7 parts under a cap of 64): the per-key
    distinct set comes from one ``collect_list`` + row-local
    ``array_distinct``/``array_sort``/``slice`` (keeping the
    N id-smallest members when the cap DOES bind), skipping the
    per-(key,item) count and the cap window entirely — ONE keyed
    exchange before the pair count instead of two (2.5s → 1.4s warm
    measured on sf0.1 lineitem). When the cap can't bind, both modes
    emit identical pairs.
    """
    if cap_by == "id":
        arrays = df.groupBy(key_col).agg(
            F.slice(
                F.array_sort(F.array_distinct(F.collect_list(item_col))),
                1,
                int(max_items_per_key),
            ).alias("__items")
        )
    else:
        per = df.groupBy(key_col, item_col).agg(F.count(F.lit(1)).alias("__n"))
        w = Window.partitionBy(key_col).orderBy(F.desc("__n"), F.asc(item_col))
        capped = (
            per.select(key_col, item_col, F.row_number().over(w).alias("__rk"))
            .filter(F.col("__rk") <= max_items_per_key)
        )
        arrays = capped.groupBy(key_col).agg(
            F.array_sort(F.collect_list(item_col)).alias("__items")
        )
    pairs = arrays.select(
        F.explode(
            F.flatten(
                F.transform(
                    "__items",
                    lambda x, i: F.transform(
                        F.slice("__items", i + F.lit(2), F.size("__items")),
                        lambda y: F.struct(
                            x.alias("item_a"), y.alias("item_b")
                        ),
                    ),
                )
            )
        ).alias("__p")
    )
    return pairs.groupBy(
        F.col("__p.item_a").alias("item_a"),
        F.col("__p.item_b").alias("item_b"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_keys"))


def degrees(edges: DataFrame, a_col: str = "u", b_col: str = "v") -> DataFrame:
    """Node degrees ``(node, d)`` of an undirected edge list holding
    each edge once: one row-local explode of both endpoints, then one
    map-combined count — the one degree frame of the graph family.
    Isolated nodes never appear in an edge list, so they have no row.
    """
    return (
        edges.select(F.explode(F.array(a_col, b_col)).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def directed_ends_capped(
    edges: DataFrame,
    max_degree: int | None = None,
    a_col: str = "item_a",
    b_col: str = "item_b",
) -> DataFrame:
    """Directed (u, v) ends of an undirected edge list, with an optional
    per-node HUB GUARD: each u keeps at most ``max_degree`` out-neighbors
    (id-smallest first — deterministic, engine-portable, no RNG).

    This is the bound that keeps neighborhood expansions alive at 100x:
    any ``dirs ⋈ dirs`` 2-hop self-join fans out Σ deg², which one
    celebrity node turns into a near cross product; capping out-degree
    first bounds the fan-out at ``max_degree²`` rows PER NODE. With the
    cap unset (or never binding — e.g. driver-scale graphs whose max
    degree sits far below it), output is exactly the uncapped directed
    ends, so capped queries stay oracle-identical while headroom holds
    (VERDICT r5 two_hop watch-item; same family as cooccurrence_pairs'
    ``max_items_per_key``).

    One row-local explode + (when capping) one keyed window — the rank
    runs per-NODE, never a global sort.
    """
    dirs = edges.select(
        F.explode(
            F.array(
                F.struct(F.col(a_col).alias("u"), F.col(b_col).alias("v")),
                F.struct(F.col(b_col).alias("u"), F.col(a_col).alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    if max_degree is None:
        return dirs
    w = Window.partitionBy("u").orderBy("v")
    return (
        dirs.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= int(max_degree))
        .drop("__rk")
    )


def _triangles(und: DataFrame, deg: DataFrame) -> DataFrame:
    """Every triangle of ``und(u, v)`` (each undirected edge once) as
    ``(x, p, q)``, exactly once, at its lowest-(degree, id) vertex
    ``x``; ``deg(node, d)`` is :func:`degrees` of ``und``.

    The standard degree-oriented enumeration, which is what keeps
    triangle work feasible when a few hub nodes have millions of
    neighbors:

    - each edge is ORIENTED from its (degree, id)-smaller endpoint to
      the larger (a lexicographic compare on two longs — no composite
      key arithmetic, no global rank window), so every node's
      out-neighborhood is bounded by O(√m) regardless of its raw degree;
    - wedges ``(x; p, q)`` are enumerated from the oriented list only:
      the self-join on ``x`` fans out Σ out-deg², the quantity the
      orientation just bounded — an unoriented self-join fans out
      Σ deg², which a single celebrity node turns into a full cross
      product;
    - each wedge, with ``p`` below ``q`` by the SAME (degree, id) key,
      closes into a triangle iff oriented edge (p, q) exists — one hash
      semi-join probe. A triangle's minimum-key vertex is the unique
      wedge center, so it comes out once.

    The oriented list anchors both wedge sides and the probe, so it is
    lazily localCheckpoint-ed (the self-join re-execution trap).
    """
    def below(da, a, db, b):
        # (da, a) < (db, b) on plain longs: a (degree, id) struct key
        # orders the same but repeats the id in every oriented row
        return (F.col(da) < F.col(db)) | ((F.col(da) == F.col(db)) & (F.col(a) < F.col(b)))

    u_first = below("du", "u", "dv", "v")
    oriented = (
        und.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("x"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("y"),
            F.when(u_first, F.col("dv")).otherwise(F.col("du")).alias("dy"),
        )
        .transform(lazy_checkpoint)
    )
    w1 = oriented.select("x", F.col("y").alias("p"), F.col("dy").alias("dp"))
    w2 = oriented.select("x", F.col("y").alias("q"), F.col("dy").alias("dq"))
    wedges = w1.join(w2, "x").filter(below("dp", "p", "dq", "q")).select("x", "p", "q")
    return wedges.join(
        oriented.select(F.col("x").alias("p"), F.col("y").alias("q")),
        ["p", "q"],
        "left_semi",
    )


def edge_support(und: DataFrame, deg: DataFrame) -> DataFrame:
    """Per-edge triangle support ``(u, v, support)`` of ``und(u, v)``,
    which holds each undirected edge ONCE (any per-edge endpoint order,
    no self-loops, no duplicates — e.g. the ``item_a < item_b`` output
    of :func:`cooccurrence_pairs`); ``deg(node, d)`` is :func:`degrees`
    of ``und``. Output edges are canonical, ``u < v``.

    Each triangle comes once out of the degree-oriented kernel
    ``_triangles`` (fan-out Σ out-deg², hub-safe), is exploded to its
    three canonical ``u < v`` edges, and one map-combined
    ``groupBy(u, v)`` counts them. An edge appears iff it lies in at
    least one triangle, so the frame is bounded by the edge count m
    however many triangles the graph holds — the artifact both
    :func:`triangle_stats` (Σ support = 3·T) and :func:`k_truss` (its
    round-0 support) consume, so a session builds it once for both.
    """
    tri = _triangles(und, deg)
    edges3 = tri.select(
        F.explode(
            F.array(
                F.struct(F.least("x", "p").alias("u"), F.greatest("x", "p").alias("v")),
                F.struct(F.least("x", "q").alias("u"), F.greatest("x", "q").alias("v")),
                F.struct(F.least("p", "q").alias("u"), F.greatest("p", "q").alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    return edges3.groupBy("u", "v").agg(F.count(F.lit(1)).alias("support"))


def triangle_stats(sup: DataFrame, deg: DataFrame, round_to: int = 6) -> DataFrame:
    """Global triangle census of an undirected graph from its
    :func:`edge_support` frame ``sup`` and its :func:`degrees` frame
    ``deg``: one row with node / edge / wedge / triangle counts and the
    global clustering coefficient ``3·T / wedges``.

    The triangle count is Σ support / 3, exact because each triangle
    adds 1 to each of its three edges. Wedge COUNT (open+closed
    2-paths) is Σ deg·(deg-1)/2 and the edge count Σ deg / 2, both over
    the degree frame — never enumerated, never a separate scan. Every
    counter comes out of ONE global aggregate over a null-tagged union
    of the support and degree frames (no chained 1-row cross joins, no
    ``count()`` job). The result is a 5-column single row: any oracle
    can replay the unoriented 3-way self-join at test scale while this
    plan survives hub skew.
    """
    # a null-tagged column per side, so each counter reads only its rows
    tagged = sup.select(
        F.col("support").alias("s"), F.lit(None).cast("long").alias("d")
    ).unionByName(deg.select(F.lit(None).cast("long").alias("s"), "d"))
    out = tagged.agg(
        F.count("d").alias("n_nodes"),
        F.expr("coalesce(sum(d), 0) div 2").alias("n_edges"),
        F.sum(F.expr("(d * (d - 1)) div 2")).alias("n_wedges"),
        F.expr("coalesce(sum(s), 0) div 3").alias("n_triangles"),
    )
    return out.select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.round(
            F.try_divide(F.lit(3.0) * F.col("n_triangles"), F.col("n_wedges")), round_to
        ).alias("clustering"),
    )


def assortativity(
    edges: DataFrame,
    a_col: str = "item_a",
    b_col: str = "item_b",
    round_to: int = 4,
) -> DataFrame:
    """Degree assortativity of an undirected graph: the Pearson
    correlation of (deg(u), deg(v)) over the DIRECTED edge ends — the
    one-number answer to "do hubs link to hubs (r>0) or to leaves
    (r<0)", the standard Newman formulation.

    ``edges`` holds each undirected edge once (any endpoint order).
    The directed ends are never materialized: over them Σdu = Σdv =
    Σ_node d², Σdu² = Σdv² = Σ_node d³, Σdu·dv = 2·Σ_edge da·db and
    the end count is Σ_node d. So every sum, and the node count, comes
    off ONE aggregate over a null-tagged union of the per-edge da·db
    rows and the :func:`degrees` frame (triangle_stats' shape; no
    scalar cross attach). All sums are exact DECIMAL(38,0) — the finish
    is 5 IEEE ops on deterministic inputs (the stats.spearman
    contract). Returns one row ``(assortativity, n_nodes, n_edges)``.
    Constant-degree graphs (zero variance) yield NULL via try_divide.
    """
    und = edges.select(
        F.col(a_col).alias("u"), F.col(b_col).alias("v")
    ).transform(lazy_checkpoint)  # feeds degrees AND the per-edge products
    deg = degrees(und)
    prod = (
        und.join(deg.select(F.col("node").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            (F.col("du") * F.col("dv")).alias("p"), F.lit(None).cast("long").alias("d")
        )
    )
    tagged = prod.unionByName(deg.select(F.lit(None).cast("long").alias("p"), "d"))
    d38 = "decimal(38,0)"
    d = F.col("d").cast(d38)
    sums = tagged.agg(
        F.count("d").cast("long").alias("n_nodes"),
        F.coalesce(F.sum(d), F.lit(0).cast(d38)).alias("__m"),
        F.sum(d * d).alias("__sx"),
        F.sum(d * d * d).alias("__sxx"),
        F.sum(F.col("p").cast(d38)).alias("__sp"),
    )
    m = F.col("__m").cast("double")
    sx = F.col("__sx").cast("double")
    num = m * (F.col("__sp") * 2).cast("double") - sx * sx
    dx = m * F.col("__sxx").cast("double") - sx * sx
    r = F.try_divide(num, F.sqrt(dx) * F.sqrt(dx))
    return sums.select(
        F.round(r, round_to).alias("assortativity"),
        "n_nodes",
        F.expr("__m div 2").cast("long").alias("n_edges"),
    )


def association_rules(
    pairs: DataFrame,
    item_counts: DataFrame,
    n_baskets: int,
    top: int = 20,
    min_support: int = 2,
    round_to: int = 4,
) -> DataFrame:
    """Market-basket association rules from a co-occurrence pair table:
    for every directed rule a→b with pair support ≥ ``min_support``,
    confidence = sup(ab)/n(a) and lift = N·sup(ab)/(n(a)·n(b)), top-k
    by lift (desc; antecedent, consequent id tie-break — deterministic
    for the oracle).

    ``pairs`` is :func:`cooccurrence_pairs` output (item_a < item_b,
    n_keys); ``item_counts`` maps item → basket count; ``n_baskets``
    is the one bounded driver scalar (numeric.py A6 contract). Both
    rule directions come from one row-local struct-array explode;
    confidence/lift are single IEEE divisions of exact int64 counts
    (bit-identical cross-engine, no rounding contract needed beyond
    display rounding). The top-k compiles to TakeOrderedAndProject —
    no global sort of the rule stream.
    """
    sup = pairs.filter(F.col("n_keys") >= min_support)
    directed = sup.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("item_a").alias("antecedent"),
                    F.col("item_b").alias("consequent"),
                    F.col("n_keys").alias("support"),
                ),
                F.struct(
                    F.col("item_b").alias("antecedent"),
                    F.col("item_a").alias("consequent"),
                    F.col("n_keys").alias("support"),
                ),
            )
        ).alias("r")
    ).select("r.antecedent", "r.consequent", "r.support")
    ca = item_counts.select(
        F.col("item").alias("antecedent"), F.col("n").alias("__na")
    )
    cb = item_counts.select(
        F.col("item").alias("consequent"), F.col("n").alias("__nb")
    )
    scored = (
        directed.join(ca, "antecedent")
        .join(cb, "consequent")
        .select(
            "antecedent",
            "consequent",
            F.col("support").cast("long").alias("support"),
            F.round(
                F.col("support") / F.col("__na"), round_to
            ).alias("confidence"),
            F.round(
                (F.lit(int(n_baskets)) * F.col("support"))
                / (F.col("__na") * F.col("__nb")),
                round_to,
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.desc("lift"), "antecedent", "consequent"
    ).limit(top)


def k_core(
    edges: DataFrame,
    k: int = 3,
    max_rounds: int = 12,
) -> DataFrame:
    """k-core decomposition membership: iteratively PEEL nodes of
    degree < k (and the edges they anchor) until a fixpoint — the
    standard distributed shape (each round is one map-combined degree
    groupBy + two semi-joins keyed on the endpoints; nothing is ever
    collected — the loop reads its fixpoint off the round's own degree
    aggregate). ``edges(u, v)`` must be UNDIRECTED UNIQUE pairs (u < v).

    Loop disciplines: the working edge set is
    ``repartition("u", "v")`` with no count BEFORE the loop, so AQE
    sizes it from its measured bytes (the loop-sizing rule in
    ``operators/physical.py``; the pairs are unique, so a hub cannot
    skew it). Each round cuts its degree aggregate (it feeds the
    fixpoint test AND both semi-joins) and the survivor set (it anchors
    the next round; without lineage truncation every round re-executes
    all prior rounds).

    The fixpoint test is ``isEmpty`` on the below-k filter of the
    round's degree aggregate, never a ``count()`` of the cut: peeling
    is monotone, so a round with no node below k is the fixpoint, and
    its degree aggregate IS the answer — no confirming round and no
    final re-aggregation. The empty graph lands there too. Early exit
    is RESULT-IDENTICAL to running all ``max_rounds``, which is what
    makes a fixed-depth unrolled-CTE oracle exact for any graph
    converging within its depth (the pagerank oracle convention; pin
    convergence headroom with a canary, tests/test_headroom_canaries.py).

    Returns the surviving nodes with their within-core degree
    ``(node, core_degree)``; every core_degree is ≥ k at the fixpoint
    (a ``max_rounds`` exit reports the degrees of the edges left).
    """
    e = (
        edges.select("u", "v")
        .repartition("u", "v")
        .transform(lazy_checkpoint)
    )
    for r in range(int(max_rounds) + 1):
        deg = degrees(e).transform(lazy_checkpoint)
        if r == int(max_rounds) or deg.filter(F.col("d") < int(k)).isEmpty():
            break
        keep = deg.filter(F.col("d") >= int(k)).select("node")
        e = (
            e.join(keep.withColumnRenamed("node", "u"), "u", "semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "semi")
            .select("u", "v")
            .transform(lazy_checkpoint)
        )
    return deg.select("node", F.col("d").alias("core_degree"))


def k_truss(
    sup: DataFrame,
    k: int = 4,
    max_rounds: int = 12,
) -> DataFrame:
    """k-truss decomposition: iteratively PEEL edges supported by
    fewer than k−2 triangles until a fixpoint — the edge-grain
    companion of :func:`k_core` (a k-truss is a stricter cohesion
    standard: every surviving tie is embedded in k−2 closed wedges,
    so bridges and stars that survive coring are peeled here).

    ``sup(u, v, support)`` is the round-0 :func:`edge_support` of the
    graph. An edge in no triangle has no support row and is in no
    k-truss for k ≥ 3, so ``sup`` alone defines the input; ``k < 3`` —
    where a triangle-free edge must survive — is rejected.

    Each round tests ``sup`` for its fixpoint with ``isEmpty`` on its
    below-k−2 filter, never a ``count()``: when no edge is below, the
    round would peel only zero-support edges, which close no triangle,
    so ``sup`` holds the survivors' final supports (at k=3 the round-0
    support is always the answer). Otherwise the survivors are cut
    (``sup`` came out of a ``groupBy(u, v)``, so they are cut as they
    are — the loop-sizing rule in ``operators/physical.py``) and their
    support is rebuilt from their own uncut :func:`degrees` and
    lazily checkpoint-ed — routed by the engine checkpoint mode.
    The rebuild's fan-out is Σ outdeg(x)² with outdeg bounded by
    O(√E) (graph arboricity): a 142k-degree power-law hub contributes
    its RANK-ABOVE neighbors only, never hub-degree² wedge rows
    (scale_smoke's graph panel is the receipt).

    Peeling is monotone, so early exit at the fixpoint is
    result-identical to a fixed-depth unrolled-CTE oracle replay
    (k_core's convention; pin convergence headroom with a canary).
    Returns surviving edges with their within-truss support
    ``(u, v, support)``; a ``max_rounds`` exit returns the last
    support built, which is the honest support of the final edge set.
    """
    if int(k) < 3:
        raise ValueError(f"k_truss needs k >= 3, got k={k}")
    thr = int(k) - 2
    for _ in range(int(max_rounds)):
        if sup.filter(F.col("support") < thr).isEmpty():
            break
        e = sup.filter(F.col("support") >= thr).select("u", "v").transform(
            lazy_checkpoint
        )
        sup = lazy_checkpoint(edge_support(e, degrees(e)))
    return sup.select("u", "v", F.col("support").cast("long"))


def lpa_communities(
    edges: DataFrame,
    rounds: int = 4,
) -> DataFrame:
    """Synchronous label propagation (deterministic variant): every
    node starts labeled with its own id; each round every node adopts
    the MOST FREQUENT label among its neighbors, ties broken by the
    SMALLEST label — the deterministic form of Raghavan-style LPA that
    a fixed-depth unrolled-CTE oracle can replay exactly (random
    tie-breaking is the published algorithm's only nondeterminism, and
    min-label is its standard derandomization).

    ``edges(u, v)`` must be UNDIRECTED UNIQUE pairs; the adjacency is
    the uncapped :func:`directed_ends_capped`, hash-repartitioned on ``u``
    before the loop and localCheckpoint-ed (the loop-sizing rule in
    ``operators/physical.py``: no count, AQE sizes it). Each round is
    one keyed join (labels ⋈ adjacency on the source endpoint) and one
    map-combined groupBy; the per-node argmax is ``min(struct(-count,
    label))`` — an aggregate, not a window, so it partial-aggregates
    map-side. The label frame is localCheckpoint-ed per round (it
    feeds the next round's join; lineage otherwise re-executes all
    prior rounds — k_core discipline).

    A fixed round count (NOT a convergence test) is part of the
    operator contract: synchronous LPA can 2-cycle on bipartite-ish
    structure, so "run r rounds" is the only definition both engines
    can replay bit-identically. Isolated nodes never appear in an edge
    list and are out of scope by construction.

    Returns ``(node, community)`` after ``rounds`` rounds.
    """
    # adj hash-partitioned on the JOIN key (not round-robin): the
    # checkpointed leaf keeps hash(u) at AQE's coalesced count, so the
    # per-round labels join re-exchanges only the (tiny) label frame,
    # never the adjacency (r11: −8% alone, −40% with the vote exchange
    # below, labels bit-identical).
    adj = (
        directed_ends_capped(edges, a_col="u", b_col="v")
        .repartition("u")
        .transform(lazy_checkpoint)
    )
    labels = (
        adj.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
        .transform(lazy_checkpoint)
    )
    for _ in range(int(rounds)):
        # ONE explicit hash(v) exchange per round that BOTH vote levels
        # reuse: hash(v) satisfies the (v, lbl) count's clustering and
        # the per-node argmax's, so the per-round plan has one exchange
        # where groupBy(v,lbl) + groupBy(node) planned two. Trade-off
        # vs the previous shape: the (v,lbl) count no longer map-side
        # combines BEFORE its exchange — in round 1 labels are all
        # distinct so the combine never reduced anything, and the
        # scale_smoke graph panel (power-law hub) is the guard for the
        # later, label-converged rounds.
        votes = (
            adj.join(labels.withColumnRenamed("node", "u"), "u")
            .repartition("v")
            .groupBy(F.col("v").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        labels = (
            votes.groupBy("node")
            .agg(F.min(F.struct((-F.col("__c")).alias("__nc"), F.col("lbl"))).alias("__m"))
            .select("node", F.col("__m.lbl").alias("lbl"))
            .transform(lazy_checkpoint)
        )
    return labels.select("node", F.col("lbl").alias("community"))


def hits_bipartite(
    edges: DataFrame,
    hub_col: str,
    auth_col: str,
    rounds: int = 2,
) -> DataFrame:
    """Unnormalized HITS over a bipartite containment graph (hub =
    basket/order, authority = item/part): h⁰ ≡ 1, then rounds of
    aᵣ(p) = Σ_{hubs ∋ p} hᵣ₋₁ and hᵣ(o) = Σ_{p ∈ o} aᵣ(p).

    Normalization is deliberately SKIPPED: the classic L2 norm is a
    float sqrt whose cross-engine drift would poison every rank, while
    the unnormalized scores after a fixed round count are exact
    integers whose ORDER is the same as the normalized iteration's
    (normalization is a positive scalar per round). Score growth is
    geometric in the round count — two rounds stay far inside int64 at
    any realistic scale (a₂ ≤ maxdeg²·|edges|); more rounds would cast
    the accumulators to DECIMAL(38,0) first.

    Every step is a keyed equi-join of the score frame against the
    edge list plus a map-combined sum — the same shuffle shape as
    pagerank, with no per-round driver scalar at all. Returns the
    authority frame ``(auth, score)`` after ``rounds`` rounds.
    """
    e = edges.select(
        F.col(hub_col).alias("__h"), F.col(auth_col).alias("__a")
    ).distinct()
    # round 1 folds h0 == 1 into a plain degree count
    auth = e.groupBy("__a").agg(F.count(F.lit(1)).cast("long").alias("__as"))
    for _ in range(int(rounds) - 1):
        hub = (
            e.join(auth, "__a")
            .groupBy("__h")
            .agg(F.sum("__as").alias("__hs"))
        )
        auth = (
            e.join(hub, "__h")
            .groupBy("__a")
            .agg(F.sum("__hs").cast("long").alias("__as"))
        )
    return auth.select(F.col("__a").alias("auth"), F.col("__as").alias("score"))


def bfs_hops(
    edges: DataFrame,
    rounds: int = 4,
) -> DataFrame:
    """Breadth-first hop distances from the MINIMUM node id over an
    undirected edge set — the shortest-path-layer primitive (reach
    census, diameter probing, seed-centric neighborhood carving).

    :func:`multi_bfs_hops` with one seed, ``least(min(u), min(v))``:
    the same relaxation loop, adjacency and cuts. A FIXED round count
    is the contract (hop layers beyond it are reported as unreached),
    which makes the fixed-depth unrolled-CTE oracle exact; run more
    rounds for deeper graphs.

    Returns ``(node, hop)`` for every node reached within ``rounds``
    hops of the seed; the seed itself is hop 0. Nodes outside the
    seed's component (or beyond the horizon) are absent — callers
    wanting an unreached census anti-join the node set. An empty edge
    set has no seed (its NULL minimum is filtered) and returns no rows.
    """
    seed = edges.agg(F.least(F.min("u"), F.min("v")).alias("node")).filter(
        F.col("node").isNotNull()
    )
    return multi_bfs_hops(edges, seed, rounds=rounds).drop("seed")


def multi_bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 4,
) -> DataFrame:
    """Multi-source BFS: hop distances from EVERY seed at once, keyed
    (seed, node) — the centrality/neighborhood primitive behind
    closeness estimates and landmark-distance features.

    Distance propagation in the connected-components shape, with the
    seed id carried through the key: each round relaxes
    ``dist(seed, v) ≤ min over neighbors(dist(seed, u) + 1)`` via one
    keyed join (adjacency ⋈ current distances) that fans the frontier
    out PER SEED and one map-combined min over the union with the
    current frame — never a frontier collect. Cost per round is
    O(|E| x seeds-reaching-it) — keep the seed panel small (sampled
    landmarks), which is exactly how closeness is estimated at scale
    (Eppstein-Wang style sampling; all-pairs BFS is O(V·E) and is the
    wrong tool past toy graphs). The adjacency is the uncapped
    :func:`directed_ends_capped`, repartitioned on (u, v) and
    localCheckpoint-ed before the loop, the distance frame per round
    (each feeds the next join — the k_core loop discipline).

    ``seeds`` must have a single ``node`` column. Returns
    ``(seed, node, hop)`` for every node within ``rounds`` hops of
    each seed (hop 0 = the seed itself); unreached pairs are absent.
    """
    adj = (
        directed_ends_capped(edges, a_col="u", b_col="v")
        .repartition("u", "v")
        .transform(lazy_checkpoint)
    )
    dist = seeds.select(
        F.col("node").alias("seed"),
        F.col("node"),
        F.lit(0).cast("long").alias("hop"),
    ).transform(lazy_checkpoint)
    for _ in range(int(rounds)):
        cand = (
            adj.join(dist.withColumnRenamed("node", "u"), "u")
            .select("seed", F.col("v").alias("node"), (F.col("hop") + 1).alias("hop"))
        )
        dist = (
            dist.union(cand)
            .groupBy("seed", "node")
            .agg(F.min("hop").alias("hop"))
            .transform(lazy_checkpoint)
        )
    return dist
