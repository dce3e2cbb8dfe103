"""Behavioral unit tests for the scale-dedup/similarity operators —
covers semantics the oracle queries can't (keep-first dedup choice,
short-document edge cases, LSH recall vs brute force)."""

import math
from collections import defaultdict
from decimal import ROUND_HALF_UP, Decimal
from itertools import combinations

import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkprep.operators import dedup as dd
from sparkprep.operators import similarity as sim
from sparkprep.operators import text as tx

ROWS = [
    (1, "the quick brown fox jumps over the lazy dog again and again today"),
    (2, "quick brown fox jumps over the lazy dog again and again today"),  # near-dup of 1
    (3, "completely different text about spark dataframes and shuffle partitions here"),
    (4, "ein ganz anderer text ohne jede ueberlappung mit den anderen texten hier"),
]


# --- test-local replay of the Catalyst vector arithmetic -------------------
# The reference side of the vector-operator tests: pure Python, one left
# fold from +0.0 over double products in index order (dot_native /
# norm_native / hyperplane_dots), unit = x / norm, signatures from
# ``dot >= 0`` bits, first-max cells, and Spark's HALF_UP ``round`` on
# the shortest decimal repr — what the deleted Catalyst paths computed.


def _fold(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _half_up(x, n):
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-n), ROUND_HALF_UP))


def _sig(v, planes):
    return sum(1 << b for b, p in enumerate(planes) if _fold(v, p) >= 0)


def _first_max(dots):
    return dots.index(max(dots))


def _rows(df):
    return [(r[0], list(r[1])) for r in df.collect()]


def _replay_pairs(rows, keyed, threshold, round_to=4):
    """(id_a < id_b) -> rounded unit cosine of the pairs sharing a key,
    zero-norm vectors excluded (their NULL cosine fails every >=)."""
    buckets = defaultdict(list)
    for i, v in rows:
        n = math.sqrt(_fold(v, v))
        if n > 0:
            buckets[keyed(i, v)].append((i, [x / n for x in v]))
    out = {}
    for members in buckets.values():
        for (ia, ua), (ib, ub) in combinations(sorted(members, key=lambda m: m[0]), 2):
            cos = _half_up(_fold(ua, ub), round_to)
            if cos >= threshold:
                out[(ia, ib)] = cos
    return out


def _replay_near_dup(rows, threshold, num_planes, dim=64, seed=42):
    planes = np.random.RandomState(seed).normal(size=(num_planes, dim)).tolist()
    return _replay_pairs(rows, lambda i, v: _sig(v, planes), threshold)


def _replay_semantic(rows, num_clusters=8, dim=64, tau=0.95, seed=7, num_planes=8):
    """vec_id -> (cluster, keep)."""
    cents = np.random.RandomState(seed).normal(size=(num_clusters, dim))
    cents = (cents / np.linalg.norm(cents, axis=1, keepdims=True)).tolist()
    planes = np.random.RandomState(seed + 100).normal(size=(num_planes, dim)).tolist()
    cluster = {i: _first_max([_fold(v, c) for c in cents]) for i, v in rows}
    pairs = _replay_pairs(rows, lambda i, v: (cluster[i], _sig(v, planes)), tau)
    dropped = {b for _a, b in pairs}
    return {i: (cluster[i], i not in dropped) for i, _v in rows}


def _replay_topk(rows, queries, k, candidates, round_to=4):
    """Exact cosine rerank of each query's candidates (cosine_from_norms:
    dot over the product of the two norms), desc cosine, asc id."""
    norm = {i: math.sqrt(_fold(v, v)) for i, v in rows}
    out = []
    for qi, qv in queries:
        qn = math.sqrt(_fold(qv, qv))
        scored = sorted(
            (-(_fold(qv, v) / (qn * norm[i])), i)
            for i, v in rows
            if i != qi and candidates(qv, i, v)
        )
        out += [
            (qi, i, r, _half_up(-neg, round_to))
            for r, (neg, i) in enumerate(scored[:k], 1)
        ]
    return sorted(out)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(ROWS, ["doc_id", "text"])


def test_minhash_dedup_keeps_first_by_id(docs):
    kept = sorted(r.doc_id for r in dd.minhash_dedup(docs, "text", "doc_id", est_threshold=0.5).collect())
    assert kept == [1, 3, 4]


def test_minhash_pairs_match_exact_jaccard_ranking(docs):
    pairs = dd.minhash_candidate_pairs(docs, "text", "doc_id", est_threshold=0.5).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
    exact = dd.jaccard_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    assert [(p.id_a, p.id_b) for p in exact] == [(1, 2)]


def test_short_docs_yield_no_shingles(spark):
    # regression: sequence(1, n<1) descends and ANSI element_at(_, 0) throws
    edge = spark.createDataFrame([(1, "hello"), (2, "a b")], ["doc_id", "text"])
    assert dd.explode_shingles(edge, "text", "doc_id", k=3).count() == 0
    assert dd.minhash_signatures(edge, "text", "doc_id").count() == 0
    fp = tx.add_shingle_fingerprint(edge, "text").select("fp_shingle").collect()
    assert all(r.fp_shingle is None for r in fp)


def test_simhash_banding_finds_planted_pair(docs):
    pairs = dd.simhash_pairs(docs, "text", "doc_id", max_hamming=10).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]


def test_lsh_topk_subset_of_bruteforce(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    brute = sim.cosine_topk_native(emb, queries, k=10)
    approx = sim.ann_lsh_topk(emb, queries, k=10)
    brute_pairs = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    approx_rows = approx.collect()
    # single-probe LSH returns a subset of the bucket; every returned
    # neighbor must be real (exist in corpus) and self-matches excluded
    assert all(r.query_id != r.neighbor_id for r in approx_rows)
    # recall: at least some overlap with true top-10 on this data
    approx_pairs = {(r.query_id, r.neighbor_id) for r in approx_rows}
    assert approx_pairs  # non-empty buckets for at least one query


def test_arrow_topk_agrees_with_native(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    native = sim.cosine_topk_native(emb, queries, k=5).collect()
    qvecs = {r.vec_id: list(r.embedding) for r in queries.collect()}
    arrow = sim.cosine_topk_arrow(emb, qvecs, k=5).collect()
    key = lambda rows: sorted((r.query_id, r.neighbor_id, r.rank) for r in rows)  # noqa: E731
    assert key(native) == key(arrow)

def test_connected_components_transitive_closure(spark):
    # chain 1-2-3, pair 10-11, singleton via dedup_clusters coalesce
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    cc = {r.node: r.component for r in dd.connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_converges(spark):
    # 30-node path graph: needs ~log-diameter rounds of min propagation
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], ["id_a", "id_b"]
    )
    cc = dd.connected_components(pairs, max_iterations=40).collect()
    assert {r.component for r in cc} == {0}
    assert len(cc) == 31


def test_dedup_clusters_keep_reps(docs):
    clusters = dd.dedup_clusters(docs, "text", "doc_id", est_threshold=0.5)
    got = {r.doc_id: r.cluster_rep for r in clusters.collect()}
    assert got == {1: 1, 2: 1, 3: 3, 4: 4}


def test_cluster_representatives_keep_best(docs):
    # doc 1 is LONGER than its near-dup 2 ("the " prefix), so keep-best
    # picks 1; singletons 3 and 4 keep themselves with cluster_size 1
    sized = docs.withColumn("n_chars", F.length("text").cast("long"))
    out = dd.cluster_representatives(
        sized, "text", "doc_id", "n_chars", est_threshold=0.5
    ).collect()
    by_id = {r.doc_id: r for r in out}
    assert len(out) == 4
    assert by_id[1].keep and not by_id[2].keep
    assert by_id[1].cluster_size == 2 and by_id[2].cluster_size == 2
    assert by_id[3].keep and by_id[3].cluster_size == 1
    assert by_id[4].keep and by_id[4].cluster_size == 1
    # exactly one keep per cluster, and it's the max-quality member
    kept = [r for r in out if r.keep]
    assert sorted(r.doc_id for r in kept) == [1, 3, 4]


def test_cluster_representatives_quality_tiebreak(spark):
    # equal quality -> lowest id wins, deterministically
    rows = [
        (10, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (11, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).withColumn(
        "n_chars", F.length("text").cast("long")
    )
    out = {r.doc_id: r.keep for r in dd.cluster_representatives(
        df, "text", "doc_id", "n_chars", est_threshold=0.5
    ).collect()}
    assert out == {10: True, 11: False}


def test_connected_components_nonconvergence_raises(spark):
    # a 10-node path cannot reach its fixpoint in one round even with
    # pointer doubling — the loop must refuse to return partial labels
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dd.connected_components(pairs, max_iterations=1)


def test_connected_components_log_rounds(spark):
    # pointer doubling: a 100-node path converges within default
    # max_iterations=20 (one-hop propagation alone would need ~100)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], ["id_a", "id_b"]
    )
    cc = dd.connected_components(pairs).collect()
    assert {r.component for r in cc} == {0}
    assert len(cc) == 101


def _planted_corpus(spark, n_base=200, n_planted=20, dim=64, noise=0.1, seed=7):
    # base gaussian corpus + perturbed copies (cosine ~0.995) of the
    # first n_planted vectors: the planted copy IS the true nearest
    # neighbor, the regime LSH/IVF serve (random-vector top-k is
    # near-orthogonal and unfindable by ANY sublinear index)
    import numpy as np

    rng = np.random.RandomState(seed)
    base = rng.normal(size=(n_base, dim))
    rows = [(i, [float(x) for x in base[i]]) for i in range(n_base)]
    for i in range(n_planted):
        pert = base[i] + noise * rng.normal(size=dim)
        rows.append((10_000 + i, [float(x) for x in pert]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    return df, n_planted


def _planted_recall(rows, n_planted):
    # fraction of planted queries whose returned neighbors include
    # their base twin
    hits = {r.query_id for r in rows if r.neighbor_id == r.query_id - 10_000}
    return len(hits) / n_planted


def test_multiprobe_lsh_recall(spark):
    corpus, n = _planted_corpus(spark)
    queries = corpus.filter(F.col("vec_id") >= 10_000)
    single = sim.ann_lsh_topk(corpus, queries, k=5, num_probes=1).collect()
    multi = sim.ann_lsh_topk(corpus, queries, k=5, num_probes=9).collect()
    r1, r9 = _planted_recall(single, n), _planted_recall(multi, n)
    # multi-probe (exact bucket + all 1-bit flips) must recover the
    # near-boundary twins single-probe drops
    assert r9 >= 0.9
    assert r9 >= r1


def test_multiprobe_single_probe_unchanged(spark, sf_dir):
    # num_probes=1 must be bit-for-bit the original single-probe result
    # (the oracle-checked query runs with the default)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    a = sorted(map(tuple, sim.ann_lsh_topk(emb, queries, k=5).collect()))
    b = sorted(map(tuple, sim.ann_lsh_topk(emb, queries, k=5, num_probes=1).collect()))
    assert a == b


def test_ivf_lloyd_recall(spark):
    corpus, n = _planted_corpus(spark)
    queries = corpus.filter(F.col("vec_id") >= 10_000)
    refined = sim.ann_ivf_topk(
        corpus, queries, k=5, num_centroids=8, num_probes=4,
        lloyd_iterations=2, sample_size=256,
    ).collect()
    assert _planted_recall(refined, n) >= 0.9


def test_semantic_dedup_drops_scaled_twin_keeps_base(spark):
    """A x1.2 scaled copy has cosine exactly 1 with its base and the
    same argmax cluster (scaling multiplies every centroid dot equally),
    so the higher-id twin must be dropped and the base kept."""
    import numpy as np
    from sparkprep.operators.similarity import semantic_dedup

    rng = np.random.RandomState(3)
    vecs = rng.normal(size=(6, 64))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(6)]
    rows += [(100 + i, [float(x) * 1.2 for x in vecs[i]]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, num_clusters=4, dim=64, tau=0.95, seed=7)
    got = {r["vec_id"]: (r["cluster"], r["keep"]) for r in out.collect()}
    assert len(got) == 12
    for i in range(6):
        assert got[i][1] is True, f"base {i} must be kept"
        assert got[100 + i][1] is False, f"twin {100 + i} must be dropped"
        assert got[i][0] == got[100 + i][0], "twin must share the base's cluster"


def test_semantic_dedup_orthogonal_vectors_all_kept(spark):
    """One-hot (orthogonal) vectors have pairwise cosine 0 — nothing
    may be dropped regardless of cluster collisions."""
    from sparkprep.operators.similarity import semantic_dedup

    rows = []
    for i in range(8):
        v = [0.0] * 64
        v[i] = 1.0
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, num_clusters=4, dim=64, tau=0.5, seed=7)
    assert all(r["keep"] for r in out.collect())


def test_semantic_dedup_arrow_agrees_with_native(spark, sf_dir):
    import os

    from sparkprep.operators.similarity import semantic_dedup

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    nat = _replay_semantic(_rows(emb))
    arr = {
        r["vec_id"]: (r["cluster"], r["keep"])
        for r in semantic_dedup(emb).collect()
    }
    assert nat == arr


def test_minhash_eval_calibration_on_planted_pair(docs, spark):
    """(1,2) is the only candidate; exact jaccard is computable by hand
    from the shingle sets, so MAE/bias/precision pin to it exactly."""
    rep = dd.minhash_estimator_eval(
        docs, "text", "doc_id", est_threshold=0.5, sim_threshold=0.5
    ).collect()[0]
    assert rep.n_candidates == 1
    # exact jaccard of (1,2): doc2's shingles are a subset chain of doc1's
    exact = [
        r.jaccard
        for r in dd.jaccard_pairs(docs, "text", "doc_id", threshold=0.0).collect()
        if (r.id_a, r.id_b) == (1, 2)
    ][0]
    est = dd.minhash_candidate_pairs(
        docs, "text", "doc_id", est_threshold=0.5
    ).collect()[0].est_jaccard
    assert rep.mae == pytest.approx(abs(est - exact), abs=1e-3)
    assert rep.bias == pytest.approx(est - exact, abs=1e-3)
    assert rep.precision == (1.0 if exact >= 0.5 else 0.0)


def test_minhash_eval_empty_candidates(spark):
    """No candidate pairs -> zero counts and NULL (not error) metrics."""
    lonely = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        ["doc_id", "text"],
    )
    rep = dd.minhash_estimator_eval(
        lonely, "text", "doc_id", est_threshold=0.5
    ).collect()[0]
    assert rep.n_candidates == 0
    assert rep.mae is None and rep.bias is None and rep.precision is None


def test_containment_catches_subdocument_jaccard_misses(spark):
    """A short doc fully embedded in a long one: containment 1.0 while
    Jaccard sits far below any near-dup bar — the case the operator
    exists for."""
    long_text = " ".join(f"w{i}" for i in range(40))
    short_text = " ".join(f"w{i}" for i in range(8))  # prefix quote
    df = spark.createDataFrame(
        [(1, long_text), (2, short_text)], ["doc_id", "text"]
    )
    rows = dd.containment_pairs(df, "text", "doc_id", k=3, threshold=0.5).collect()
    assert [(r.id_a, r.id_b) for r in rows] == [(1, 2)]
    assert rows[0].containment == 1.0
    # 6 shared shingles, union 38: J ~ 0.158 — invisible to jaccard_pairs@0.5
    assert rows[0].jaccard < 0.2
    assert dd.jaccard_pairs(df, "text", "doc_id", k=3, threshold=0.5).count() == 0


def test_containment_disjoint_docs_absent(docs):
    rows = dd.containment_pairs(docs, "text", "doc_id", k=3, threshold=0.1).collect()
    ids = {(r.id_a, r.id_b) for r in rows}
    assert all(4 not in pair for pair in ids)  # no overlap with the German doc


def test_duplicate_window_coverage_partial_copy(spark):
    """Doc B copies the tail half of doc A: B's copied windows are
    shared, A's lead-in windows are not; doc C is unrelated; a doc
    shorter than k emits no row."""
    a = " ".join(f"w{i}" for i in range(20))          # w0..w19
    b = " ".join(f"w{i}" for i in range(10, 20))      # tail half of a
    c = " ".join(f"x{i}" for i in range(12))
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (4, "too short")], ["doc_id", "text"]
    )
    out = {
        r.doc_id: r
        for r in dd.duplicate_window_coverage(df, "text", "doc_id", k=8).collect()
    }
    # b: 10 tokens -> 3 windows, all inside a -> coverage 1.0
    assert (out[2].n_windows, out[2].n_shared, out[2].dup_coverage) == (3, 3, 1.0)
    # a: 13 windows, shared ones start at w10..w12 -> 3 of 13
    assert (out[1].n_windows, out[1].n_shared) == (13, 3)
    assert out[1].dup_coverage == round(3 / 13, 4)
    assert (out[3].n_shared, out[3].dup_coverage) == (0, 0.0)
    assert 4 not in out  # shorter than k: no windows, no 0/0 row


def test_cc_family_shares_one_labels_frame(spark, sf_dir):
    """The dedup_clusters / cluster_split / cluster_reps family must
    reuse ONE materialized CC-labels frame per (session, sf_dir) — the
    VERDICT r7 family-head optimization — and the shared frame must
    produce the same labels as a from-scratch dedup_clusters build."""
    from sparkprep.queries import llmprep as lp

    from sparkprep.queries import shared_frames

    shared_frames._FRAMES.clear()
    a = lp._shared_cc_labels(spark, sf_dir)
    b = lp._shared_cc_labels(spark, sf_dir)
    assert a is b, "second call must hit the session cache"
    # parity with the unshared operator path
    corpus = lp._corpus_near(spark, sf_dir)
    fresh = dd.dedup_clusters(
        corpus, "text", "doc_id",
        num_hashes=lp._NUM_HASHES, k=lp._K, bands=lp._BANDS, seed=lp._SEED,
        est_threshold=0.8,
    )
    shared = dd.dedup_clusters(corpus, "text", "doc_id", cc=a)
    rows_fresh = sorted(map(tuple, fresh.collect()))
    rows_shared = sorted(map(tuple, shared.collect()))
    assert rows_fresh == rows_shared


def test_near_dup_pairs_arrow_agrees_with_native(spark, sf_dir):
    import os

    from sparkprep.operators.similarity import embedding_near_dup_pairs

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    kw = dict(threshold=-1.0, num_planes=6)
    nat = _replay_near_dup(_rows(emb), **kw)
    arr = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_pairs(emb, **kw).collect()
    }
    assert nat == arr


def test_mutual_nn_arrow_agrees_with_native(spark, sf_dir):
    import os

    from sparkprep.operators.similarity import mutual_nn_pairs

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    pairs = _replay_near_dup(_rows(emb), threshold=-1.0, num_planes=8)
    best = {}
    for (a, b), cos in pairs.items():
        for src, dst in ((a, b), (b, a)):
            best[src] = min(best.get(src, (2.0, dst)), (-cos, dst))
    nat = sorted(
        (src, dst, -best[src][0])
        for src, (_neg, dst) in best.items()
        if src < dst and best[dst][1] == src
    )
    arr = sorted(map(tuple, mutual_nn_pairs(emb).collect()))
    assert nat == arr


def test_nearest_verify_keeps_each_top1_across_blocks(spark):
    """mutual NN's verify emits, per source, only the rows that can tie
    its best rounded cosine. A cap of 3 splits every bucket into
    cross-block groups, and exact and scaled copies tie at cosine 1.0:
    the per-source top-1 over the emitted rows must equal the top-1 over
    all of the source's bucket pairs, and each emitted dot is the fold."""
    base = np.random.RandomState(5).normal(size=(12, 8))
    vecs = np.vstack([base, base[:4], base[:2] * 3.0])
    rows = [(i, v.tolist()) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planes = np.random.RandomState(42).normal(size=(1, 8))
    sig = sim.corpus_kernel(df, "vec_id", "embedding", planes=planes, unit=True)
    near = sim._bucket_pairs(sig, ["__sig"], "vec_id", -1.0, 4, cap=3, out="nearest")
    units = {i: [x / math.sqrt(_fold(v, v)) for x in v] for i, v in rows}
    got = defaultdict(list)
    for r in near.collect():
        assert r["__raw"] == _fold(units[r["src"]], units[r["dst"]])
        got[r["src"]].append((-_half_up(r["__raw"], 4), r["dst"]))
    want = {}
    for (a, b), cos in _replay_near_dup(rows, threshold=-1.0, num_planes=1, dim=8).items():
        for src, dst in ((a, b), (b, a)):
            want[src] = min(want.get(src, (2.0, dst)), (-cos, dst))
    assert {src: min(c) for src, c in got.items()} == want


def test_near_dup_pairs_arrow_blocked_fold_same_pairs(spark, sf_dir):
    """ADVICE r9: the arrow verify fold salt-splits oversize buckets into
    block-pairs. A tiny cap forces the cross-block path on every bucket;
    the pair SET must be blocking-invariant (identical to the replay of
    the Catalyst arithmetic)."""
    import os

    from sparkprep.operators.similarity import embedding_near_dup_pairs

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    kw = dict(threshold=-1.0, num_planes=6)
    nat = _replay_near_dup(_rows(emb), **kw)
    blocked = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_pairs(emb, block_cap=4, **kw).collect()
    }
    assert nat == blocked


def test_semantic_dedup_arrow_blocked_fold_same_keeps(spark, sf_dir):
    import os

    from sparkprep.operators.similarity import semantic_dedup

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    nat = _replay_semantic(_rows(emb), tau=0.5)
    blocked = {
        r["vec_id"]: (r["cluster"], r["keep"])
        for r in semantic_dedup(emb, tau=0.5, block_cap=3).collect()
    }
    assert nat == blocked


def test_arrow_twins_handle_string_ids(spark):
    """ADVICE r9: the Arrow kernels interpolate the id type instead of
    hardcoding bigint — a string-id corpus must work end-to-end."""
    from sparkprep.operators.quantize import reconstruction_stats_arrow
    from sparkprep.operators.similarity import (
        embedding_near_dup_pairs,
        semantic_dedup,
    )

    rows = [(f"doc-{i:02d}", [float((i * 7 + j) % 5) + 0.1 for j in range(8)])
            for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")

    pairs = embedding_near_dup_pairs(
        df, threshold=0.99, num_planes=2, dim=8
    ).collect()
    assert all(isinstance(r.id_a, str) and r.id_a < r.id_b for r in pairs)
    nat = _replay_near_dup(rows, 0.99, num_planes=2, dim=8)
    assert {(r.id_a, r.id_b) for r in pairs} == set(nat)

    sem = semantic_dedup(df, num_clusters=2, dim=8, tau=0.99)
    assert {type(r["vec_id"]) for r in sem.collect()} == {str}

    rec = reconstruction_stats_arrow(df, "vec_id", "embedding").collect()
    assert len(rec) == 20 and isinstance(rec[0]["vec_id"], str)


def test_near_dup_pairs_arrow_drops_zero_norm(spark):
    from sparkprep.operators.similarity import embedding_near_dup_pairs

    rows = [(0, [0.0] * 8), (1, [1.0] * 8), (2, [1.0] * 8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = embedding_near_dup_pairs(
        df, threshold=-1.0, num_planes=2, dim=8
    ).collect()
    # the zero-norm vector has no unit vector and pairs with nothing —
    # the NULL-cosine semantics of the Catalyst fold
    assert {(r.id_a, r.id_b) for r in out} == {(1, 2)}
    assert out[0].cosine == 1.0


def test_reconstruction_stats_arrow_agrees_with_native(spark, sf_dir):
    import math
    import os

    from sparkprep.operators.quantize import (
        reconstruction_stats,
        reconstruction_stats_arrow,
    )

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    nat = {
        r["vec_id"]: r
        for r in reconstruction_stats(emb, "embedding").select(
            "vec_id", "q_min", "q_max", "codes", "mean_abs_err", "cos_fidelity"
        ).collect()
    }
    arr = {
        r["vec_id"]: r
        for r in reconstruction_stats_arrow(emb, "vec_id", "embedding").collect()
    }
    assert set(nat) == set(arr)
    for k in nat:
        a, b = nat[k], arr[k]
        assert a["codes"] == b["codes"], k  # integer codes: bit-exact
        assert a["q_min"] == b["q_min"] and a["q_max"] == b["q_max"], k
        assert math.isclose(a["mean_abs_err"], b["mean_abs_err"], abs_tol=1e-12), k
        assert math.isclose(a["cos_fidelity"], b["cos_fidelity"], abs_tol=1e-12), k


def test_reconstruction_stats_arrow_zero_vector(spark):
    from sparkprep.operators.quantize import reconstruction_stats_arrow

    df = spark.createDataFrame(
        [(0, [0.0] * 4), (1, [1.0, 2.0, 3.0, 4.0])],
        "vec_id long, embedding array<double>",
    )
    rows = {r["vec_id"]: r for r in reconstruction_stats_arrow(df, "vec_id", "embedding").collect()}
    assert rows[0]["cos_fidelity"] is None  # NaN -> NULL, native parity
    assert rows[0]["codes"] == [0, 0, 0, 0]
    assert rows[1]["cos_fidelity"] > 0.999


def test_ann_lsh_arrow_agrees_with_native(spark, sf_dir):
    import os

    from sparkprep.operators.similarity import ann_lsh_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    from pyspark.sql import functions as F

    q = emb.filter(F.col("vec_id") < 5)
    kw = dict(k=3, num_planes=6, num_probes=3)
    planes = np.random.RandomState(42).normal(size=(6, 64)).tolist()

    def probed(qv, _i, v):
        d = [_fold(qv, p) for p in planes]
        s0 = _sig(qv, planes)
        flips = sorted(range(6), key=lambda b: (abs(d[b]), b))[:2]
        return _sig(v, planes) in {s0} | {s0 ^ (1 << b) for b in flips}

    nat = _replay_topk(_rows(emb), _rows(q), 3, probed)
    arr = sorted(map(tuple, ann_lsh_topk(emb, q, **kw).collect()))
    assert nat == arr


def test_ann_ivf_arrow_agrees_with_native(spark, sf_dir):
    import os

    from pyspark.sql import functions as F

    from sparkprep.operators.similarity import ann_ivf_topk

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).select(
        "vec_id", "embedding"
    )
    q = emb.filter(F.col("vec_id") < 5)
    kw = dict(k=3, num_centroids=8, num_probes=2)
    cunit = sim.ivf_fit_centroid_units(emb, num_centroids=8, seed=42).tolist()

    def probed(qv, _i, v):
        cells = sorted(range(8), key=lambda c: (-_fold(qv, cunit[c]), c))[:2]
        return _first_max([_fold(v, c) for c in cunit]) in cells

    nat = _replay_topk(_rows(emb), _rows(q), 3, probed)
    arr = sorted(map(tuple, ann_ivf_topk(emb, q, **kw).collect()))
    assert nat == arr
