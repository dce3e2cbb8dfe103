"""Near-duplicate detection at LLM-corpus scale (north-star extension
ops, BASELINE.json): MinHash+LSH, SimHash, exact n-gram Jaccard.

Every stage is native DataFrame ops — explode / hash / groupBy / band /
self-join — so the shuffle structure is explicit and AQE-manageable:

- MinHash signatures: ONE shuffle (groupBy doc) regardless of the number
  of hash functions (they're N parallel min-aggregates, partial-agg'd
  map-side).
- LSH banding: candidate generation is an equi-join on (band, band_key)
  — no all-pairs blowup; at 100 TB the band join is the only wide op and
  it's skew-safe (hot buckets split by AQE skew-join).
- Hashing is md5-derived integers (engine-independent), so results are
  exactly reproducible anywhere — and DuckDB-oracle-checkable.

Config defaults (16 hashes, 4 bands x 4 rows) target the classic
S-curve: P(candidate) = 1-(1-J^r)^b ≈ 0.97 at J=0.8, ≈0.04 at J=0.3.

One vocabulary: each near-dup consumer takes the artifact it reads —
the :func:`minhash_signatures` frame (pairs, incremental filter,
estimator eval), the :func:`simhash` sketch (simhash pairs) or the
:func:`connected_components` labels (clusters, representatives) — and
never builds it, so a session that holds one builds it once for every
consumer. The signature width is read off the frame's ``h<i>``
columns. :func:`minhash_dedup` is the one raw-corpus entry.
``tests/test_dedup_ops.py::test_dedup_takes_its_sketch`` guards it.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sparkprep.operators.graph import directed_ends_capped
from sparkprep.operators.text import tokens
from sparkprep.checkpointing import lazy_checkpoint

MERSENNE_P = 2147483647  # 2^31 - 1; keeps a*h + b inside int64


def hash_coeffs(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    """Seeded universal-hash coefficients (a_i, b_i), embedded as plan
    literals so Spark and any oracle engine compute identical values."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE_P), rng.randrange(0, MERSENNE_P))
        for _ in range(num_hashes)
    ]


def string_to_int_hash(c) -> Column:
    """Engine-independent 60-bit integer hash of a string:
    first 15 hex chars of md5, parsed base-16, mod 2^31-1.
    (Spark's builtin ``hash``/``xxhash64`` would be faster but is not
    reproducible outside Spark; md5 keeps every downstream number
    oracle-checkable. Swap in ``xxhash64`` for production-only runs.)"""
    col = F.col(c) if isinstance(c, str) else c
    return (F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long") % MERSENNE_P)


def explode_shingles(
    df: DataFrame, text_col: str, id_col: str, k: int = 3, distinct: bool = True
) -> DataFrame:
    """(id, shingle-string) rows: tokenize → k-token shingles → explode.
    Distinct by default (MinHash is over shingle SETS) — via
    ``array_distinct`` BEFORE the explode: distinctness is per-document,
    so it's a row-local array op, not the dropDuplicates SHUFFLE a
    post-explode dedup would cost (one full exchange removed from every
    MinHash path)."""
    from sparkprep.operators.text import shingles

    staged = df.select(id_col, tokens(text_col).alias("__tk"))
    sh = shingles(F.col("__tk"), k)
    if distinct:
        sh = F.array_distinct(sh)
    return staged.select(id_col, F.explode(sh).alias("shingle"))


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    k: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, h0..h{n-1}) MinHash signature columns — the one builder of
    the signature frame every MinHash consumer below takes.

    h_i(doc) = min over shingles s of (a_i * H(s) + b_i) mod p.
    One explode + ONE groupBy shuffle; the N mins partial-aggregate.

    Returned behind a lazy lineage cut: every consumer scans the frame
    two or three times (banding plus both sides of the signature
    join-back) through exchanges hashed on different keys, so AQE's
    ReusedExchange cannot cover them — without the cut the whole
    shingle-explode + N-min groupBy re-executed per scan (3x measured
    at sf0.1). The O(docs x hashes) frame is the compact artifact a
    100 TB run persists anyway before pair generation.
    """
    coeffs = hash_coeffs(num_hashes, seed)
    hashed = explode_shingles(df, text_col, id_col, k).select(
        id_col, string_to_int_hash("shingle").alias("__h")
    )
    aggs = [
        F.min((F.lit(a) * F.col("__h") + F.lit(b)) % F.lit(MERSENNE_P)).alias(f"h{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    return hashed.groupBy(id_col).agg(*aggs).transform(lazy_checkpoint)


def _num_hashes(sig: DataFrame) -> int:
    """Signature width, read off the frame's h0..h{n-1} columns."""
    return sum(1 for c in sig.columns if c[:1] == "h" and c[1:].isdigit())


def lsh_bands(sig: DataFrame, id_col: str, bands: int) -> DataFrame:
    """(id, band, band_key): concatenate each band's signature rows into
    one md5 band key. Rows-per-band r = num_hashes // bands.

    Built as ONE explode over an array of band structs, not a union of
    per-band selects: a union duplicates the signature subtree `bands`
    times, re-running the whole shingle+groupBy computation per band
    (and again per join side downstream).
    """
    num_hashes = _num_hashes(sig)
    if bands < 1 or bands > num_hashes or num_hashes % bands != 0:
        # bands > num_hashes makes r=0 -> every band key is md5('') ->
        # the equi-join degenerates to all-pairs PER BAND (the exact
        # quadratic blowup LSH exists to avoid); a non-dividing bands
        # silently drops trailing hashes and shifts the S-curve
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes} "
            "(rows-per-band = num_hashes/bands must be a positive integer)"
        )
    r = num_hashes // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).cast("long").alias("band"),
                F.md5(
                    F.concat_ws(
                        "_", *[F.col(f"h{b * r + j}").cast("string") for j in range(r)]
                    )
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return sig.select(F.col(id_col), F.explode(band_structs).alias("__b")).select(
        id_col, F.col("__b.band").alias("band"), F.col("__b.band_key").alias("band_key")
    )


def _agreement(num_hashes: int) -> Column:
    """Share of agreeing components between the ``a<i>`` and ``b<i>``
    signature columns of a candidate pair (the unbiased MinHash
    estimate of their Jaccard)."""
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(num_hashes)
    )
    return agree / F.lit(float(num_hashes))


def minhash_candidate_pairs(
    sig: DataFrame,
    id_col: str,
    bands: int = 4,
    est_threshold: float | None = None,
) -> DataFrame:
    """Near-dup candidate pairs via MinHash-LSH over a
    :func:`minhash_signatures` frame: (id_a, id_b, est_jaccard) with
    id_a < id_b.

    est_jaccard = fraction of agreeing signature components (unbiased
    MinHash estimator). The heavy lifting is ONE equi-join on
    (band, band_key); no quadratic pair enumeration ever materializes.
    Callers that run several LSH consumers over one corpus (pairs,
    estimator eval, cluster labels, banding advisor) pass one
    session-shared signature frame, so the shingle+groupBy subtree is
    paid once per session, not once per query.
    """
    num_hashes = _num_hashes(sig)
    banded = lsh_bands(sig, id_col, bands)
    left = banded.select(
        F.col(id_col).alias("id_a"), "band", "band_key"
    )
    right = banded.select(F.col(id_col).alias("id_b"), "band", "band_key")
    pairs = (
        left.join(right, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates()
    )
    sig_a = sig.select(
        F.col(id_col).alias("id_a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(num_hashes)]
    )
    sig_b = sig.select(
        F.col(id_col).alias("id_b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(num_hashes)]
    )
    est = _agreement(num_hashes).alias("est_jaccard")
    out = pairs.join(sig_a, "id_a").join(sig_b, "id_b").select("id_a", "id_b", est)
    if est_threshold is not None:
        out = out.filter(F.col("est_jaccard") >= est_threshold)
    return out


def minhash_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    k: int = 3,
    bands: int = 4,
    seed: int = 42,
    est_threshold: float = 0.8,
) -> DataFrame:
    """Greedy near-dup removal: drop every doc that has a near-dup with a
    smaller id (keep-first by id — the scalable standard; NOT transitive
    closure, which needs iterative connected components; see docstring
    note in SURVEY §7 extension plan). The one raw-corpus entry of the
    MinHash family: signatures, then pairs."""
    sig = minhash_signatures(df, text_col, id_col, num_hashes, k, seed)
    pairs = minhash_candidate_pairs(sig, id_col, bands, est_threshold)
    losers = pairs.select(F.col("id_b").alias(id_col)).dropDuplicates()
    return df.join(losers, id_col, "left_anti")


def incremental_minhash_filter(
    new_df: DataFrame,
    sig_new: DataFrame,
    sig_ref: DataFrame,
    id_col: str,
    bands: int = 4,
    est_threshold: float = 0.8,
) -> DataFrame:
    """Incremental dedup: drop new-batch docs near-duplicating the
    existing reference corpus.

    The daily-ingest form of near-dup removal: at 100 TB you never
    re-pair the whole corpus — the reference side's signatures
    (``sig_ref``) are a compute-once artifact, built with the same
    :func:`minhash_signatures` parameters as the batch's ``sig_new`` so
    both sides sketch identically, and each batch costs one band
    equi-join proportional to the BATCH, never ref x ref. Candidates
    are new-vs-ref only; agreement >= est_threshold on the signature
    components flags the new doc; survivors of ``new_df`` return
    unchanged. Keys of the two sides must be disjoint (callers
    namespace batch ids).
    """
    num_hashes = _num_hashes(sig_new)
    bands_new = lsh_bands(sig_new, id_col, bands).select(
        F.col(id_col).alias("new_id"), "band", "band_key"
    )
    bands_ref = lsh_bands(sig_ref, id_col, bands).select(
        F.col(id_col).alias("ref_id"), "band", "band_key"
    )
    cand = (
        bands_new.join(bands_ref, ["band", "band_key"])
        .select("new_id", "ref_id")
        .dropDuplicates()
    )
    sa = sig_new.select(
        F.col(id_col).alias("new_id"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(num_hashes)],
    )
    sb = sig_ref.select(
        F.col(id_col).alias("ref_id"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(num_hashes)],
    )
    flagged = (
        cand.join(sa, "new_id")
        .join(sb, "ref_id")
        .filter(_agreement(num_hashes) >= est_threshold)
        .select(F.col("new_id").alias(id_col))
        .dropDuplicates()
    )
    return new_df.join(flagged, id_col, "left_anti")


def _shingle_overlaps(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """(id_a, id_b, n_inter, n_a, n_b) for every doc pair id_a < id_b
    sharing at least one shingle: shingle self-equi-join for |A∩B|, then
    both shingle-set sizes attached by id."""
    sh = explode_shingles(df, text_col, id_col, k)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    return inter.join(na, "id_a").join(nb, "id_b")


def jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.3,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs (id_a, id_b, jaccard >= threshold).

    Shingle-explode + equi-join on the shingle string: |A∩B| arrives from
    the join group counts, |A∪B| = |A|+|B|-|A∩B|. Quadratic only within
    identical-shingle groups — use as ground truth / verifier for the
    LSH path, or on bounded subsets; the LSH path is the 100 TB route.
    """
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        _shingle_overlaps(df, text_col, id_col, k)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT pairs: |A∩B| / min(|A|, |B|).

    Jaccard misses quote/sub-document duplication — a 50-shingle doc
    fully embedded in a 5,000-shingle doc scores J ≈ 0.01 but
    containment 1.0. Containment (Broder's resemblance companion
    measure) is the right filter for "this doc is mostly a copy of
    part of another" in crawl dedup. Same shingle equi-join shape as
    :func:`jaccard_pairs` (quadratic only within identical-shingle
    groups); jaccard is emitted alongside so the asymmetry is visible.
    At 100 TB, run it on LSH candidates, not the raw corpus.
    """
    cont = F.col("n_inter") / F.least("n_a", "n_b")
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        _shingle_overlaps(df, text_col, id_col, k)
        .select(
            "id_a",
            "id_b",
            F.round(cont, 4).alias("containment"),
            F.round(jac, 4).alias("jaccard"),
        )
        .filter(F.col("containment") >= threshold)
    )


def duplicate_window_coverage(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 8,
) -> DataFrame:
    """Exact substring-duplication coverage: the share of each doc's
    DISTINCT k-token windows that also occur in another doc — the
    per-document signal behind exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better").
    Doc-level and even near-dup dedup miss partially-copied spans;
    high coverage marks docs to cut or down-weight.

    Shape: the window explode is row-local (array_distinct before
    explode); ONE groupBy(shingle) counts carrying docs (map-side
    combined); join-back + per-doc rollup. No pair join ever forms —
    a boilerplate window carried by d docs costs d rows here, not the
    d² a pair formulation would fan out to. Docs shorter than k tokens
    have no windows and are absent from the output (no 0/0 row).
    """
    sh = explode_shingles(df, text_col, id_col, k)
    # carrying-doc count via a shingle-KEYED window (high-cardinality
    # key) instead of groupBy(shingle) + join-back: the join form
    # exchanged both the window stream and the count partials by
    # shingle and sort-merged them; the window form is ONE exchange +
    # in-partition count, and with a single consumer chain the
    # checkpoint of sh is no longer needed (r10 — same rewrite measured
    # 1.39s -> 1.05s on setsim_join's identical stage).
    from pyspark.sql.window import Window

    w_sh = Window.partitionBy("shingle")
    return (
        sh.withColumn("__docs", F.count(F.lit(1)).over(w_sh))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_windows"),
            F.sum((F.col("__docs") > 1).cast("long")).alias("n_shared"),
        )
        .select(
            id_col,
            "n_windows",
            "n_shared",
            F.round(F.try_divide("n_shared", "n_windows"), 4).alias(
                "dup_coverage"
            ),
        )
    )


def connected_components(
    pairs: DataFrame,
    max_iterations: int = 20,
) -> DataFrame:
    """Transitive dedup clusters: connected components over a near-dup
    ``(id_a, id_b)`` pair graph via iterative min-label propagation.

    Greedy pair-based dedup (``minhash_dedup``) is not transitive (A~B,
    B~C but A!~C still all one cluster); this closes the transitive
    closure. Each iteration: every node adopts the minimum label among
    itself and its neighbors (one-hop propagation), then remaps its
    label to its label's OWN label (pointer doubling / path
    shortcutting) — so reachable-distance to the component minimum
    shrinks geometrically and the loop converges in O(log diameter)
    rounds, not O(diameter): ``max_iterations=20`` covers components of
    diameter ~2^20, far beyond any real near-dup graph. Early-exits
    when an iteration changes nothing (labels only decrease, so
    sum(component) is monotone — the convergence check IS the driver
    loop; this is the engine's 'iterative algorithm' template). If the
    loop exhausts without reaching the fixpoint it RAISES rather than
    silently returning partial clusters.

    Returns (node, component) with component = min node id reachable.
    """
    # symmetrize with the graph family's one both-directions explode,
    # NOT a union of two selects: that plants the (expensive) pair-
    # generation subtree in the plan TWICE and re-executes it when edges
    # first materializes (CLAUDE.md landmine; ~2x MinHash cost measured
    # on dedup_clusters cold runs).
    edges = directed_ends_capped(pairs, a_col="id_a", b_col="id_b").dropDuplicates()
    # Loop discipline (the loop-sizing rule in operators/physical.py): a
    # near-dup pair graph is TINY relative to the corpus (edges ∝
    # duplicates), and dropDuplicates already ends in an exchange, so
    # the cut keeps the partition count AQE coalesced it to. A cache()
    # would not: AQE never re-partitions a cached plan's output.
    edges = edges.transform(lazy_checkpoint)
    # round 0 fused: from identity labels, the first hop ALWAYS yields
    # label(u) = min(u, min neighbor) — compute that directly from the
    # edge list (one groupBy) instead of spending a full join round on
    # it. Every graph saves exactly one iteration; a single planted
    # pair now converges in one confirming round.
    labels = (
        edges.groupBy("u")
        .agg(F.min("v").alias("__mn"))
        .select(
            F.col("u").alias("node"),
            F.least(F.col("u"), F.col("__mn")).alias("component"),
        )
    )
    # localCheckpoint each round: iterative self-referential plans grow
    # lineage PER ITERATION until Catalyst itself OOMs just printing the
    # tree (measured on a 30-round chain). Checkpointing materializes
    # the frame and truncates the plan to a leaf — the canonical pattern
    # for any iterate-until-fixpoint algorithm on Spark.
    # convergence check: labels only ever DECREASE under min-propagation,
    # so sum(component) is strictly monotone until fixpoint — comparing
    # sums is one tiny aggregate on the checkpointed frame instead of a
    # join + filter + count. Checkpoints are LAZY: the convergence
    # aggregate's own action is what materializes each round's frame, so
    # every round costs ONE job, not two (30% cold / 13% warm measured
    # on a 100k-node chain graph).
    labels = labels.transform(lazy_checkpoint)
    prev_sum = labels.agg(F.sum("component")).collect()[0][0]
    converged = False
    for round_idx in range(max_iterations):
        neighbor_labels = (
            edges.join(labels, edges.v == labels.node)
            .select(F.col("u").alias("node"), "component")
        )
        candidates = labels.unionByName(neighbor_labels)
        # pointer doubling, fused into the hop aggregate and DEFERRED to
        # round 3+: label-of-label candidates (labels self-joined on
        # component == node — every label value IS a node, so the lookup
        # always hits) join the one-hop candidates in the SAME
        # min-aggregate. Near-dup graphs are shallow (pairs/triangles,
        # done in <=2 hop-only rounds — the common case pays nothing);
        # a chain that survives round 2 then shrinks geometrically, so
        # total rounds stay O(log diameter) and max_iterations=20 still
        # covers diameter ~2^20.
        if round_idx >= 2:
            parent = labels.select(
                F.col("node").alias("p_node"), F.col("component").alias("p_comp")
            )
            shortcut = (
                labels.join(parent, labels.component == parent.p_node)
                .select("node", F.col("p_comp").alias("component"))
            )
            candidates = candidates.unionByName(shortcut)
        labels = (
            candidates.groupBy("node")
            .agg(F.min("component").alias("component"))
            .transform(lazy_checkpoint)
        )
        new_sum = labels.agg(F.sum("component")).collect()[0][0]
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations — component diameter exceeds 2^iterations; raise "
            "max_iterations (wrong cluster labels must not pass silently)"
        )
    return labels.select("node", "component")


def dedup_clusters(df: DataFrame, id_col: str, cc: DataFrame) -> DataFrame:
    """Transitive near-dup clusters → (id, cluster_rep); docs with no
    near-dup get themselves as rep. Drop ``id != cluster_rep`` rows for
    a transitively-correct dedup.

    ``cc`` is the :func:`connected_components` (node, component) frame
    of the corpus's near-dup pairs, so a family of consumers (labels,
    split, reps) shares ONE MinHash+CC build per session — the frame is
    already materialized by the CC convergence loop, so reuse is a leaf
    scan."""
    return (
        df.select(F.col(id_col))
        .join(cc, df[id_col] == cc.node, "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("cluster_rep"),
        )
    )


def cluster_representatives(
    df: DataFrame, id_col: str, quality_col: str, cc: DataFrame
) -> DataFrame:
    """The dedup DECISION table: transitive near-dup clusters
    (``dedup_clusters``) resolved to one kept representative per cluster
    — the highest-``quality_col`` member, ``id_col`` ascending as the
    deterministic tiebreak (keep-BEST, not keep-first: corpus
    canonicalization wants the best surviving copy, and "first" isn't
    even well-defined across a distributed scan).

    Returns one row per input row: (id, cluster_rep, quality, keep,
    cluster_size). Filter ``keep`` for the deduped corpus; the full
    table is the audit trail (what was dropped, and for whom).

    Scale notes: the ranking windows share ONE exchange on cluster_rep
    (identical partition keys — the second WindowExec reuses the first's
    partitioning). Hot clusters (site-wide boilerplate with millions of
    members) are the skew risk; they bound per-partition sort size, not
    correctness — at 100 TB either pre-gate boilerplate
    (text.boilerplate_scrub) or let AQE split the straggler partition.
    """
    from pyspark.sql.window import Window

    # inline dedup_clusters' label join so quality rides along in the
    # SAME left join: going through dedup_clusters() would join the
    # corpus twice (once for labels, once for quality) — one full-frame
    # equi-join saved, identical result.
    lab = (
        df.select(F.col(id_col), F.col(quality_col))
        .join(cc, df[id_col] == cc.node, "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("cluster_rep"),
            F.col(quality_col),
        )
    )
    w_rank = Window.partitionBy("cluster_rep").orderBy(
        F.col(quality_col).desc(), F.col(id_col).asc()
    )
    w_all = Window.partitionBy("cluster_rep")
    return lab.select(
        F.col(id_col),
        "cluster_rep",
        F.col(quality_col),
        (F.row_number().over(w_rank) == F.lit(1)).alias("keep"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("cluster_size"),
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    df: DataFrame, text_col: str, id_col: str, bits: int = 32
) -> DataFrame:
    """(id, simhash): Charikar sketch over token hashes.

    Each token votes ±1 on each bit of its hash; the sketch sets bit b
    iff the vote sum is positive. Computed as `bits` conditional-sum
    aggregates over the exploded tokens — one shuffle, map-side combine.
    32 bits keeps every intermediate in positive int64 territory (and
    the final value BIGINT-comparable in any engine).

    Caveat baked into the oracle contract: token hashes come from
    ``string_to_int_hash`` (mod 2^31-1), so bit 31 of every token hash
    is 0 and sketch bit 31 is constantly 0 — the "32-bit" sketch
    carries 31 informative bits, and simhash_pairs' top chunk is one
    bit weaker than nominal (slightly more false candidates, never
    missed pairs). Kept as-is because both engines compute the
    identical sketch; a production xxhash64 swap restores the full
    width.

    Deliberately NOT the row-local formulation (filter+size per bit on
    the token array): per-element lambdas run INTERPRETED (no codegen),
    and removing the exchange also removes the ReusedExchange that lets
    a downstream self-join compute the sketch once — measured 30%
    SLOWER end-to-end in simhash_pairs despite "zero shuffles". The
    map-side-combined exchange here moves one partial row per doc per
    partition, not the token stream.
    """
    tok = df.select(id_col, F.explode(tokens(text_col)).alias("__t")).select(
        id_col, string_to_int_hash("__t").alias("__h")
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    voted = tok.groupBy(id_col).agg(*votes)
    value = sum(
        F.when(F.col(f"v{b}") > 0, F.lit(2 ** b).cast("long")).otherwise(F.lit(0).cast("long"))
        for b in range(bits)
    )
    return voted.select(id_col, value.alias("simhash"))


def simhash_pairs(
    sketch: DataFrame,
    id_col: str,
    bits: int = 32,
    max_hamming: int = 3,
    chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming over a
    ``bits``-wide :func:`simhash` frame ``sketch`` (id, simhash).

    Candidate generation is banded like LSH: split the sketch into
    `chunks` bit-ranges; by pigeonhole any pair within hamming ≤
    chunks-1 shares at least one exact chunk, so candidates come from
    equi-joins on (chunk_idx, chunk_value) — never an all-pairs scan.
    A session-shared sketch leaf pays the token explode + 32-sum
    sketch aggregate once per session instead of once per consumer.
    An uncut sketch needs no checkpoint either: the self-join sides
    canonicalize to the same exchange despite differing aliases, so AQE
    ReusedExchange computes it once.
    """
    width = bits // chunks
    mask = (1 << width) - 1
    # one explode, not a union of selects — a union re-executes the
    # simhash aggregation once per chunk per join side (8x here)
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("chunk"),
                F.shiftright(F.col("simhash"), i * width)
                .bitwiseAND(F.lit(mask))
                .alias("chunk_val"),
            )
            for i in range(chunks)
        ]
    )
    chunked = sketch.select(
        F.col(id_col), F.col("simhash"), F.explode(chunk_structs).alias("__c")
    ).select(
        id_col, "simhash",
        F.col("__c.chunk").alias("chunk"), F.col("__c.chunk_val").alias("chunk_val"),
    )
    a = chunked.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "chunk", "chunk_val"
    )
    b = chunked.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "chunk", "chunk_val"
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    # emit-on-first-matching-chunk: a pair sharing chunks {c1 < c2 < ...}
    # is kept ONLY at c1 (all earlier chunks must differ — computable
    # from the two sketches, no extra state). Each pair surfaces exactly
    # once, so the dropDuplicates dedup shuffle disappears entirely; the
    # hamming filter still runs before anything downstream (candidates
    # from hot buckets can be ~100x the surviving pairs). Measured
    # ~4.2s -> ~2.6s on the join leg at sf0.1.
    xor = F.col("sh_a").bitwiseXOR(F.col("sh_b"))
    first_match = F.lit(True)
    for j in range(chunks - 1):
        chunk_j_differs = (
            F.shiftright(xor, j * width).bitwiseAND(F.lit(mask)) != 0
        )
        first_match = first_match & ((F.col("chunk") <= j) | chunk_j_differs)
    return (
        a.join(b, ["chunk", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(ham <= max_hamming)
        .filter(first_match)
        .select("id_a", "id_b", ham.cast("long").alias("hamming"))
    )


def minhash_estimator_eval(
    df: DataFrame,
    sig: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    bands: int = 4,
    est_threshold: float = 0.5,
    sim_threshold: float = 0.5,
) -> DataFrame:
    """Calibration report for the MinHash-LSH estimator, in one row:
    candidate count, MAE and signed bias of ``est_jaccard`` vs the
    EXACT n-gram Jaccard, and precision (share of candidates whose
    exact similarity clears ``sim_threshold``). The measurement that
    turns band/hash parameter choices from folklore into numbers —
    run it on a sample before committing a 100 TB dedup pass.

    ``sig`` is the :func:`minhash_signatures` frame of ``df``; ``k`` is
    its shingle width, because the exact Jaccard re-shingles ``df``.

    Cost discipline: the exact Jaccard — quadratic in general — is
    computed ONLY over docs that appear in some candidate pair (semi-
    join first), so the evaluation costs LSH + a shingle join bounded
    by the candidate set, never corpus x corpus. A candidate pair with
    zero shared shingles (possible only via band-hash collision) scores
    exact 0 through the left join's coalesce rather than vanishing.
    Per-pair errors round at 6 and sum as DECIMAL(18,6), so the
    aggregate is order-independent and engine-exact before the final
    presentation rounding.
    """
    cand = minhash_candidate_pairs(sig, id_col, bands, est_threshold)
    # cand anchors three consumers (id roll-up via union, and the
    # final left join) — lazily checkpoint so the LSH pipeline runs
    # once, not once per consumer; the candidate list is tiny relative
    # to the corpus by construction.
    cand = cand.transform(lazy_checkpoint)
    ids = (
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .dropDuplicates()
    )
    sub = df.join(ids, id_col, "left_semi")
    sh = explode_shingles(sub, text_col, id_col, k)
    # sh feeds sizes + both sides of the intersection join; keep the
    # candidate-doc shingle explode (and the semi-join above it)
    # single-execution.
    sh = sh.transform(lazy_checkpoint)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    # Intersections routed THROUGH the candidate list, not a global
    # shingle self-join: joining all candidate-doc shingles on the
    # shingle value fans out to every doc pair that shares ANY shingle
    # — on a low-entropy corpus that is ~all pairs (9M+ intermediate
    # rows at sf0.1, discarded after the fact). Fanning the pair list
    # out by id_a's shingles (pairs x |A|) and hash-joining on
    # (id_b, shingle) costs candidates x doc-length instead (7.6s ->
    # 3.4s at sf0.1); at 100 TB it's the difference between "bounded
    # by the candidate set" and "bounded by shingle collision
    # structure you don't control".
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        cand.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    exact = (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("__exact"),
        )
    )
    j = cand.join(exact, ["id_a", "id_b"], "left").select(
        "est_jaccard",
        F.coalesce(F.col("__exact"), F.lit(0.0)).alias("__exact"),
    )
    abs6 = F.round(F.abs(F.col("est_jaccard") - F.col("__exact")), 6).cast(
        "decimal(18,6)"
    )
    err6 = F.round(F.col("est_jaccard") - F.col("__exact"), 6).cast(
        "decimal(18,6)"
    )
    n = F.count(F.lit(1))
    return j.agg(
        n.cast("long").alias("n_candidates"),
        F.round(F.try_divide(F.sum(abs6).cast("double"), n), 4).alias("mae"),
        F.round(F.try_divide(F.sum(err6).cast("double"), n), 4).alias("bias"),
        F.round(
            F.try_divide(
                F.sum(
                    F.when(F.col("__exact") >= sim_threshold, 1).otherwise(0)
                ),
                n,
            ),
            4,
        ).alias("precision"),
    )


def prefix_jaccard_join(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT shingle-set Jaccard join (``id_a, id_b, jaccard >=
    threshold``) via PREFIX FILTERING (PPJoin-family) — the scalable
    *exact* complement to the MinHash path: no false negatives, no
    estimator error, and unlike :func:`jaccard_pairs` no join on raw
    shingle values over the whole corpus. ``k`` is the shingle width
    (``k=1`` degrades to word sets — beware: on a low-entropy corpus
    word-set Jaccard matches almost everything; 500 synthetic docs
    measured 74% of ALL pairs ≥ 0.5, vs exactly the 25 planted
    near-dups with 3-gram shingles).

    The filter: order each doc's shingle set by global rarity (document
    frequency, value tie-break — a TOTAL order, no global rank needed:
    the (df, token) struct sorts row-locally), and keep only the first
    ``|s| - ceil(t·|s|) + 1`` tokens as its *prefix*. Any pair with
    J ≥ t must overlap in ≥ ceil(t·max(|a|,|b|)) tokens, so skipping a
    full prefix of either side leaves too few tokens to reach that
    overlap — two docs with J ≥ t MUST share a prefix token. Candidates
    therefore come from an equi-join on prefix tokens only — rare
    tokens by construction, so the join groups are small where
    ``jaccard_pairs``'s are corpus-shaped. A ``- 1e-9`` guard inside
    the ceil keeps float roundoff from ever SHORTENING a prefix
    (ceil(0.6·5) = 4 in IEEE arithmetic; a longer prefix only adds
    candidates, never loses one). The |a| ≥ t·|b| size-compat filter
    (same epsilon guard) prunes inside the join.

    Verification is routed THROUGH the candidate pairs (fan the pair
    list out by id_a's tokens, hash-join on (id_b, token) — the
    CLAUDE.md candidate-routed-intersection discipline), so the exact
    phase costs candidates × doc length, never corpus × corpus. The
    final Jaccard is ONE IEEE division of exact int64 counts —
    bit-identical on any engine — and the threshold compares that
    exact value, so the survivor set is engine-exact; the 6-digit
    rounding only shapes the reported column.
    """
    tok_rows = explode_shingles(
        df, text_col, id_col, k
    ) if k > 1 else df.select(
        id_col, F.explode(F.array_distinct(tokens(text_col))).alias("shingle")
    )
    tok_rows = tok_rows.withColumnRenamed("shingle", "token").transform(lazy_checkpoint)  # anchors df-counts, prefixes, and both intersection legs —
    # multiple consumers, one execution
    # document frequency via a token-KEYED window (high-cardinality key,
    # never a global sort) instead of groupBy(token) + join-back: the
    # join form exchanged BOTH the token stream and the vocab partials
    # by token and then sort-merged them; the window form is ONE
    # exchange + in-partition count (r10: 1.39s -> 1.05s interleaved on
    # this stage at sf0.1, identical (df, token) rows verified).
    from pyspark.sql.window import Window

    w_tok = Window.partitionBy("token")
    per_doc = (
        tok_rows.withColumn("__df", F.count(F.lit(1)).over(w_tok))
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__df"), F.col("token")))
            ).alias("__st")
        )
        .select(
            id_col,
            F.transform("__st", lambda s: s["token"]).alias("__sorted"),
            F.size("__st").alias("__n"),
        )
    )
    prefix_len = (
        F.col("__n")
        - F.ceil(F.lit(threshold) * F.col("__n") - F.lit(1e-9))
        + F.lit(1)
    ).cast("int")
    pre = per_doc.select(
        id_col,
        "__n",
        F.explode(F.slice("__sorted", F.lit(1), prefix_len)).alias("token"),
    )
    a = pre.select(
        F.col(id_col).alias("id_a"), F.col("__n").alias("n_a"), "token"
    )
    b = pre.select(
        F.col(id_col).alias("id_b"), F.col("__n").alias("n_b"), "token"
    )
    cand = (
        a.join(b, "token")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("n_a") >= F.lit(threshold) * F.col("n_b") - F.lit(1e-9))
            & (F.col("n_b") >= F.lit(threshold) * F.col("n_a") - F.lit(1e-9))
        )
        .select("id_a", "id_b", "n_a", "n_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    ta = tok_rows.select(F.col(id_col).alias("id_a"), "token")
    tb = tok_rows.select(F.col(id_col).alias("id_b"), "token")
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "token"])
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("__ni"))
    )
    jac = F.col("__ni") / (F.col("n_a") + F.col("n_b") - F.col("__ni"))
    return (
        inter.filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


def symspell_pairs(
    words: DataFrame,
    word_col: str = "word",
    max_edits: int = 2,
    max_word_len: int = 30,
) -> DataFrame:
    """SymSpell-style spelling-variant pairs: all DISTINCT word pairs
    within Levenshtein distance ``max_edits``, found by an equi-join on
    single/double-DELETION neighborhoods instead of the quadratic
    all-pairs scan.

    The SymSpell guarantee (Garbe's public algorithm): two words at
    edit distance ≤ k share at least one common variant when each side
    generates every way of deleting UP TO k characters (the word
    itself included, depth 0). So the candidate set is
    ``join on variant`` — cost Σ|word|·(|word|+1)/2 rows per word for
    k = 2, never vocabulary² — and an exact ``levenshtein() ≤ k``
    filter on the candidates removes the false positives the deletion
    match admits. At corpus scale this is the standard spell-dedup
    shape: the variant fan-out is bounded by word length — and the
    operator ENFORCES that bound itself: tokens longer than
    ``max_word_len`` are dropped (a single pathological 1000-char
    token would otherwise emit ~500k depth-2 variants, quadratic in
    word length) — the join is a plain hash equi-join on the variant
    string, and candidate pairs are deduplicated BEFORE the
    Levenshtein filter so each pair pays the DP cost once.

    Deletion variants are generated natively: ``sequence(0, len)``
    exploded (never a Python UDF), each position deleting one char via
    ``concat(left, right)`` substrings; depth-2 variants re-apply the
    same expansion to the depth-1 output. Returns distinct
    ``(word_a, word_b, distance)`` with ``word_a < word_b``.
    """
    if int(max_edits) < 1 or int(max_edits) > 2:
        # the variant expansion below is hand-unrolled to depth 2; a
        # deeper neighborhood would silently MISS distance-3+ pairs
        raise ValueError(
            f"symspell_pairs supports max_edits in {{1, 2}}, got {max_edits}"
        )
    w = (
        words.select(F.col(word_col).alias("__w"))
        .filter(F.length("__w") <= int(max_word_len))
        .distinct()
    )
    # depth-0..1: position 0 keeps the word itself (deletion of nothing)
    d1 = w.select(
        "__w",
        F.explode(F.sequence(F.lit(0), F.length("__w"))).alias("__p"),
    ).select(
        "__w",
        F.when(F.col("__p") == 0, F.col("__w"))
        .otherwise(
            F.concat(
                F.expr("substring(__w, 1, __p - 1)"),
                F.expr("substring(__w, __p + 1)"),
            )
        )
        .alias("__v"),
    )
    variants = d1
    if int(max_edits) >= 2:
        d2 = d1.select(
            "__w",
            F.col("__v").alias("__v1"),
            F.explode(F.sequence(F.lit(0), F.length("__v"))).alias("__p"),
        ).select(
            "__w",
            F.when(F.col("__p") == 0, F.col("__v1"))
            .otherwise(
                F.concat(
                    F.expr("substring(__v1, 1, __p - 1)"),
                    F.expr("substring(__v1, __p + 1)"),
                )
            )
            .alias("__v"),
        )
        variants = d2
    variants = variants.select("__w", "__v").distinct()
    right = variants.select(
        F.col("__w").alias("__wb"), F.col("__v").alias("__v")
    )
    cand = (
        variants.join(right, "__v")
        .filter(F.col("__w") < F.col("__wb"))
        .select(F.col("__w").alias("word_a"), F.col("__wb").alias("word_b"))
        .distinct()
    )
    return (
        cand.withColumn(
            "distance", F.levenshtein("word_a", "word_b").cast("long")
        )
        .filter(F.col("distance") <= int(max_edits))
        .select("word_a", "word_b", "distance")
    )
