"""Semantics tests for the round-7 advanced operators — everything the
sf0.001/sf0.01 oracle replay can't see because both engines run the
same formula: each operator is checked against an INDEPENDENT pure-
Python reference implementation (reference Lloyd iteration, reference
synchronous LPA, brute-force Levenshtein, reference PAV pooling,
numpy-free HITS power steps, closed-form interpolation cases).
"""

import itertools
import random

import pytest
from pyspark.sql import functions as F

from sparkprep.operators import clustering, dedup, graph


# ---------------------------------------------------------------------------
# k-means
# ---------------------------------------------------------------------------


def _py_lloyd(points, k, rounds):
    """Reference Lloyd with exact fractions: argmin over clusters of
    ||x - S/n||^2 with ties broken by cluster id; init id % k."""
    from fractions import Fraction

    asg = {i: i % k for i in points}
    for _ in range(rounds):
        stats = {}
        for i, c in asg.items():
            n, s = stats.get(c, (0, [0] * len(points[i])))
            stats[c] = (n + 1, [a + b for a, b in zip(s, points[i])])
        new = {}
        for i, x in points.items():
            best = None
            for c, (n, s) in sorted(stats.items()):
                d = sum((Fraction(xj) - Fraction(sj, n)) ** 2 for xj, sj in zip(x, s))
                if best is None or d < best[0]:
                    best = (d, c)
            new[i] = best[1]
        asg = new
    return asg


def test_kmeans_matches_reference_lloyd(spark):
    rng = random.Random(7)
    pts = {i: [rng.randint(-500, 500) for _ in range(4)] for i in range(40)}
    df = spark.createDataFrame(
        [(i, [float(v) / 1000.0 for v in x]) for i, x in pts.items()],
        "id long, vec array<double>",
    )
    q = clustering.quantize_points(df, "id", "vec", dims=4, scale=1000)
    got = {
        r["id"]: r["cluster"]
        for r in clustering.kmeans_lloyd(q, k=3, dims=4, rounds=3).collect()
    }
    want = _py_lloyd(pts, k=3, rounds=3)
    assert got == want


def test_kmeans_profile_counts_and_wss(spark):
    # two blobs aligned with the id%k init (even ids = blob A, odd =
    # blob B) so Lloyd is stable from round 1: profile must report
    # exact sizes, exact integer-grid means, zero WSS
    data = [
        (i, [0.1, 0.2] if i % 2 == 0 else [0.9, -0.4]) for i in range(16)
    ]
    df = spark.createDataFrame(data, "id long, vec array<double>")
    q = clustering.quantize_points(df, "id", "vec", dims=2, scale=1000)
    asg = clustering.kmeans_lloyd(q, k=2, dims=2, rounds=3)
    prof = clustering.cluster_profile(asg, dims=2, out_dims=2).collect()
    assert sorted(r["n_points"] for r in prof) == [8, 8]
    for r in prof:
        if r["cluster"] == 0:
            assert (r["mean_0"], r["mean_1"]) == (100.0, 200.0)
        else:
            assert (r["mean_0"], r["mean_1"]) == (900.0, -400.0)
        assert r["wss"] == 0.0


# ---------------------------------------------------------------------------
# label propagation
# ---------------------------------------------------------------------------


def _py_lpa(edges, rounds):
    adj = {}
    for u, v in edges:
        adj.setdefault(u, []).append(v)
        adj.setdefault(v, []).append(u)
    lbl = {n: n for n in adj}
    for _ in range(rounds):
        new = {}
        for n, nbrs in adj.items():
            counts = {}
            for m in nbrs:
                counts[lbl[m]] = counts.get(lbl[m], 0) + 1
            best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            new[n] = best[0]
        lbl = new
    return lbl


@pytest.mark.parametrize("seed,rounds", [(1, 1), (2, 3), (3, 4)])
def test_lpa_matches_reference(spark, seed, rounds):
    rng = random.Random(seed)
    nodes = list(range(30))
    edges = set()
    # two dense-ish blobs with a weak bridge
    for grp in (nodes[:15], nodes[15:]):
        for _ in range(40):
            u, v = rng.sample(grp, 2)
            edges.add((min(u, v), max(u, v)))
    edges.add((14, 15))
    df = spark.createDataFrame(sorted(edges), "u long, v long")
    got = {
        r["node"]: r["community"]
        for r in graph.lpa_communities(df, rounds=rounds).collect()
    }
    assert got == _py_lpa(sorted(edges), rounds)


# ---------------------------------------------------------------------------
# SymSpell pairs
# ---------------------------------------------------------------------------


def _py_lev(a, b):
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
    return dp[-1]


def test_symspell_complete_vs_bruteforce(spark):
    rng = random.Random(11)
    alphabet = "abcde"
    vocab = set()
    while len(vocab) < 60:
        vocab.add("".join(rng.choice(alphabet) for _ in range(rng.randint(4, 8))))
    vocab = sorted(vocab)
    want = {
        (a, b, _py_lev(a, b))
        for a, b in itertools.combinations(vocab, 2)
        if _py_lev(a, b) <= 2
    }
    df = spark.createDataFrame([(w,) for w in vocab], "word string")
    got = {
        (r["word_a"], r["word_b"], r["distance"])
        for r in dedup.symspell_pairs(df, "word", max_edits=2).collect()
    }
    assert got == want
    assert len(want) > 10  # the random vocab actually exercises the join


def test_symspell_rejects_unsupported_max_edits(spark):
    # the deletion neighborhood is unrolled to depth 2; deeper would
    # silently miss distance-3 pairs, so the operator must refuse
    df = spark.createDataFrame([("abc",)], "word string")
    for bad in (0, 3, 5):
        with pytest.raises(ValueError):
            dedup.symspell_pairs(df, "word", max_edits=bad)


def test_symspell_no_false_positives_at_k1(spark):
    words = ["hello", "hallo", "hell", "world", "word", "sword"]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    got = {
        (r["word_a"], r["word_b"])
        for r in dedup.symspell_pairs(df, "word", max_edits=1).collect()
    }
    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(words), 2)
        if _py_lev(a, b) <= 1
    }
    assert got == want


# ---------------------------------------------------------------------------
# HITS
# ---------------------------------------------------------------------------


def test_hits_matches_reference_power_steps(spark):
    rng = random.Random(5)
    edges = {(rng.randint(0, 9), rng.randint(100, 109)) for _ in range(60)}
    df = spark.createDataFrame(sorted(edges), "o long, p long")
    auth1 = {}
    for o, p in edges:
        auth1[p] = auth1.get(p, 0) + 1
    hub1 = {}
    for o, p in edges:
        hub1[o] = hub1.get(o, 0) + auth1[p]
    auth2 = {}
    for o, p in edges:
        auth2[p] = auth2.get(p, 0) + hub1[o]
    got = {
        r["auth"]: r["score"]
        for r in graph.hits_bipartite(df, "o", "p", rounds=2).collect()
    }
    assert got == auth2


# ---------------------------------------------------------------------------
# isotonic regression (PAV reference)
# ---------------------------------------------------------------------------


def _py_pav(ys, ws):
    """Classic pool-adjacent-violators on (value, weight) bins."""
    merged = []
    for y, w in zip(ys, ws):
        merged.append([y * w, w])
        while len(merged) >= 2 and (
            merged[-2][0] * merged[-1][1] > merged[-1][0] * merged[-2][1]
        ):
            s2, w2 = merged.pop()
            merged[-1][0] += s2
            merged[-1][1] += w2
    # expand back to per-bin fitted values: walk bins against pools
    res = []
    i = 0
    for s, w in merged:
        acc = 0
        while acc < w:
            acc += ws[i]
            res.append(s / w)
            i += 1
    return res


def test_minimax_isotonic_matches_pav(spark, sf_dir):
    # run the registered query and re-derive PAV from its own bin stats
    from sparkprep.queries.advanced import q_isotonic_fit

    rows = q_isotonic_fit(spark, sf_dir).collect()
    rows = sorted(rows, key=lambda r: r["bin"])
    ys = [r["pos"] / r["n"] for r in rows]
    ws = [r["n"] for r in rows]
    want = _py_pav(ys, ws)
    got = [r["rate_iso"] for r in rows]
    for g, w in zip(got, want):
        assert g == pytest.approx(w, abs=2e-6)
    # monotone non-decreasing by construction
    assert all(a <= b + 1e-12 for a, b in zip(got, got[1:]))


# ---------------------------------------------------------------------------
# linear interpolation
# ---------------------------------------------------------------------------


def test_resample_interp_closed_form(spark, sf_dir, tmp_path):
    # synthetic series with a hole: observed h=0 (v=10), h=3 (v=40);
    # h=1,2 must interpolate to 20, 30; plus a leading-edge case on a
    # second type observed only at h=2
    import pandas as pd

    # h=0 weight 10 and h=3 weight 40 via duplicated events
    rows = []
    for _ in range(10):
        rows.append((len(rows), "2024-01-01 00:30", 1, "a"))
    for _ in range(40):
        rows.append((len(rows), "2024-01-01 03:30", 1, "a"))
    rows.append((len(rows), "2024-01-01 02:15", 2, "b"))
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    pdf["value"] = 1.0
    pdf["props"] = "{}"
    out = tmp_path / "sf"
    out.mkdir()
    pdf.to_parquet(out / "events.parquet", index=False)
    from sparkprep.queries.advanced import q_resample_interp

    res = {
        (r["event_type"], r["h"] % 24): (r["filled"], r["observed"])
        for r in q_resample_interp(spark, str(out)).collect()
    }
    assert res[("a", 0)] == (10.0, 1)
    assert res[("a", 1)] == (20.0, 0)
    assert res[("a", 2)] == (30.0, 0)
    assert res[("a", 3)] == (40.0, 1)
    # type b: single observation -> nearest-fill everywhere
    assert res[("b", 0)] == (1.0, 0)
    assert res[("b", 2)] == (1.0, 1)
    assert res[("b", 3)] == (1.0, 0)


# ---------------------------------------------------------------------------
# SPRT
# ---------------------------------------------------------------------------


def test_sprt_constants_and_reference_scan(spark, sf_dir):
    from sparkprep.queries import advanced as adv

    # boundaries: symmetric at alpha=beta, increments signed correctly
    assert adv._SPRT_AS > 0 > adv._SPRT_AF
    assert adv._SPRT_ACC == -adv._SPRT_REJ > 0
    # reference scan on the real data for a handful of users
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").orderBy("ts", "event_id")
    rows = [
        (r["user_id"], r["event_type"] == "purchase")
        for r in ev.select("user_id", "event_type", "ts", "event_id").collect()
    ]
    from collections import defaultdict

    per_user = defaultdict(list)
    for u, hit in rows:
        per_user[u].append(hit)
    decisions = defaultdict(lambda: [0, 0])
    for u, seq in per_user.items():
        s = 0
        stopped = None
        for n, hit in enumerate(seq, 1):
            s += int(hit)
            llr = s * adv._SPRT_AS + (n - s) * adv._SPRT_AF
            if llr >= adv._SPRT_ACC:
                stopped = ("accept_h1", n)
                break
            if llr <= adv._SPRT_REJ:
                stopped = ("accept_h0", n)
                break
        if stopped is None:
            stopped = ("continue", len(seq))
        decisions[stopped[0]][0] += 1
        decisions[stopped[0]][1] += stopped[1]
    got = {
        r["decision"]: (r["n_users"], r["avg_steps"])
        for r in adv.q_sprt_stop(spark, sf_dir).collect()
    }
    for dec, (n, tot) in decisions.items():
        assert got[dec][0] == n
        assert got[dec][1] == pytest.approx(tot / n, abs=1e-3)


# ---------------------------------------------------------------------------
# transition gini / kappa sanity
# ---------------------------------------------------------------------------


def test_transition_gini_bounds(spark, sf_dir):
    from sparkprep.queries.advanced import q_transition_gini

    rows = q_transition_gini(spark, sf_dir).collect()
    assert len(rows) >= 1
    for r in rows:
        assert 0.0 <= r["next_gini"] <= 1.0 - 1.0 / 5 + 1e-9  # k=5 types max


def test_cohens_kappa_identities(spark, sf_dir):
    from sparkprep.queries.advanced import q_cohens_kappa

    r = q_cohens_kappa(spark, sf_dir).collect()[0]
    # kappa = (po - pe) / (1 - pe) within rounding
    assert r["kappa"] == pytest.approx(
        (r["po"] - r["pe"]) / (1 - r["pe"]), abs=5e-5
    )
    assert -1.0 <= r["kappa"] <= 1.0


# ---------------------------------------------------------------------------
# modularity / attribution / jaccard histogram / conformal
# ---------------------------------------------------------------------------


def test_modularity_two_clique_identity(spark, tmp_path):
    # two disjoint triangles via synthetic lineitem: orders {1,2,3} each
    # buy part-pairs of clique A twice, orders {4,5,6} clique B —
    # LPA finds the two cliques, and modularity of a 2-clique split of
    # 2 triangles is exactly 1/2 - 1/4 + ... hand value below
    import pandas as pd

    rows = []
    # clique A = parts 1,2,3 ; clique B = parts 11,12,13; each order
    # holds the full clique -> every pair supported by >= 2 orders
    for o in (1, 2, 3):
        for p in (1, 2, 3):
            rows.append((o, p))
    for o in (4, 5, 6):
        for p in (11, 12, 13):
            rows.append((o, p))
    pdf = pd.DataFrame(rows, columns=["l_orderkey", "l_partkey"])
    for c in (
        "l_suppkey l_linenumber l_quantity l_extendedprice l_discount "
        "l_tax l_returnflag l_linestatus l_shipdate"
    ).split():
        pdf[c] = 0 if c not in ("l_returnflag", "l_linestatus", "l_shipdate") else "x"
    pdf["l_shipdate"] = pd.to_datetime("2024-01-01")
    out = tmp_path / "sf"
    out.mkdir()
    pdf.to_parquet(out / "lineitem.parquet", index=False)
    from sparkprep.queries.advanced import q_modularity

    r = q_modularity(spark, str(out)).collect()[0]
    # 6 edges, 2 communities, each with e_c=3, d_c=6:
    # Q = sum(e_c/m - (d_c/2m)^2) = 2*(3/6 - (6/12)^2) = 0.5
    assert r["n_edges"] == 6
    assert r["n_communities"] == 2
    assert r["modularity"] == 0.5


def test_position_attribution_hand_math(spark, tmp_path):
    import pandas as pd

    # user 1: touches a,b,c then purchase -> 4000/2000/4000
    # user 2: single touch a then purchase -> 10000
    # user 3: touch beyond 7d window -> excluded
    rows = [
        (1, "2024-01-01 00:00", 1, "view"),
        (2, "2024-01-01 01:00", 1, "click"),
        (3, "2024-01-01 02:00", 1, "signup"),
        (4, "2024-01-01 03:00", 1, "purchase"),
        (5, "2024-01-02 00:00", 2, "view"),
        (6, "2024-01-02 01:00", 2, "purchase"),
        (7, "2024-01-01 00:00", 3, "click"),
        (8, "2024-01-20 00:00", 3, "purchase"),
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    pdf["value"] = 1.0
    pdf["props"] = "{}"
    out = tmp_path / "sf"
    out.mkdir()
    pdf.to_parquet(out / "events.parquet", index=False)
    from sparkprep.queries.advanced import q_position_attribution

    got = {
        r["event_type"]: (r["n_touches"], r["credit_bp"])
        for r in q_position_attribution(spark, str(out)).collect()
    }
    assert got["view"] == (2, 14000.0)  # 4000 (first of 3) + 10000 (solo)
    assert got["click"] == (1, 2000.0)  # middle of 3
    assert got["signup"] == (1, 4000.0)  # last of 3
    # user 3's click is outside the 7-day window
    total = sum(v for _, v in got.values())
    assert total == 20000.0  # exactly two journeys' worth of credit


def test_jaccard_histogram_mass_matches_pairs(spark, sf_dir):
    # every >=0.3 pair found by the exact jaccard query must land in a
    # bin >= 2 of the histogram on the same sub-corpus, and the total
    # histogram mass must equal the candidate-pair count
    from sparkprep.operators import dedup as dd
    from sparkprep.queries.advanced import q_jaccard_histogram
    from sparkprep.queries.llmprep import _corpus_near

    hist = {r["j_bin"]: r["n_pairs"] for r in q_jaccard_histogram(spark, sf_dir).collect()}
    corpus = _corpus_near(spark, sf_dir).filter((F.col("doc_id") % 10000) < 60)
    pairs = dd.jaccard_pairs(corpus, "text", "doc_id", k=3, threshold=0.0).count()
    assert sum(hist.values()) == pairs
    assert all(0 <= b <= 9 for b in hist)


def test_conformal_coverage_near_nominal(spark, sf_dir):
    from sparkprep.queries.advanced import q_conformal_interval

    r = q_conformal_interval(spark, sf_dir).collect()[0]
    assert r["n_train"] > 0 and r["n_cal"] > 0 and r["n_test"] > 0
    assert r["q_hat"] > 0
    # split-conformal guarantees coverage >= 0.9 in expectation; allow
    # finite-sample slack at sf0.001's ~400-row test split
    assert 0.82 <= r["coverage"] <= 0.98


def test_symspell_word_len_cap_drops_not_truncates(spark):
    words = ["hello", "hallo", "x" * 40, "x" * 40 + "y"]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    got = {
        (r["word_a"], r["word_b"])
        for r in dedup.symspell_pairs(df, "word", max_edits=1).collect()
    }
    # the two >30-char near-identical tokens are dropped entirely
    assert got == {("hallo", "hello")}


def test_ndcg_matches_numpy_reference(spark, sf_dir):
    import math

    import numpy as np

    from sparkprep.queries.advanced import _NDCG_K, _NDCG_QUERIES, q_ndcg_eval

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    vecs = {r["vec_id"]: (np.array(r["embedding"], dtype=np.float64), r["label"]) for r in emb}
    got = {r["query_id"]: (r["n_rel"], r["ndcg"]) for r in q_ndcg_eval(spark, sf_dir).collect()}
    w = [1.0 / math.log2(i + 1) for i in range(1, _NDCG_K + 1)]
    for qid in range(_NDCG_QUERIES):
        qv, ql = vecs[qid]
        scored = []
        for nid, (nv, nl) in vecs.items():
            if nid == qid:
                continue
            cos = float(qv @ nv / (np.linalg.norm(qv) * np.linalg.norm(nv)))
            scored.append((-cos, nid, nl))
        scored.sort()
        top = scored[:_NDCG_K]
        rel = [1 if nl == ql else 0 for _, _, nl in top]
        r = sum(rel)
        dcg = sum(x * wi for x, wi in zip(rel, w))
        idcg = sum(w[:r])
        want = None if r == 0 else dcg / idcg
        assert got[qid][0] == r
        if want is None:
            assert got[qid][1] is None
        else:
            assert got[qid][1] == pytest.approx(want, abs=2e-6)


def test_isotonic_bins_property_random_inputs(spark):
    # the minimax identity must equal classic PAV pooling on arbitrary
    # weighted bin frames — 6 seeded random cases in one session
    from sparkprep.operators import stats

    rng = random.Random(23)
    for case in range(6):
        nbins = rng.randint(1, 18)
        cnts = [rng.randint(1, 20) for _ in range(nbins)]
        poss = [rng.randint(0, c) for c in cnts]
        df = spark.createDataFrame(
            [(b, c, p) for b, (c, p) in enumerate(zip(cnts, poss))],
            "bin long, cnt long, pos long",
        )
        got = {
            r["bin"]: r["iso"]
            for r in stats.isotonic_bins(df, "bin", "cnt", "pos").collect()
        }
        want = _py_pav([p / c for p, c in zip(poss, cnts)], cnts)
        for b in range(nbins):
            assert got[b] == pytest.approx(want[b], abs=1e-12), (
                f"case {case}: bin {b}: {got[b]} != {want[b]} "
                f"(cnts={cnts}, poss={poss})"
            )


def test_bfs_hops_path_graph(spark):
    # path 0-1-2-3-4-5-6: 4 rounds from seed 0 reach hops 0..4;
    # nodes 5,6 stay unreached (absent from the result)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "u long, v long"
    )
    got = {
        r["node"]: r["hop"] for r in graph.bfs_hops(edges, rounds=4).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}


def test_bfs_hops_empty_edges(spark):
    # no edges, no seed: min(u) over nothing is NULL and must not
    # surface as a phantom (node=None, hop=0) row
    edges = spark.createDataFrame([], "u long, v long")
    assert graph.bfs_hops(edges, rounds=2).collect() == []


def test_bfs_hops_takes_shortest_route(spark):
    # triangle + tail: 0-1, 0-2, 1-2, 2-3 — node 2 is hop 1 (direct),
    # never hop 2 via node 1; node 3 is hop 2
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 3)], "u long, v long"
    )
    got = {
        r["node"]: r["hop"] for r in graph.bfs_hops(edges, rounds=3).collect()
    }
    assert got == {0: 0, 1: 1, 2: 1, 3: 2}
