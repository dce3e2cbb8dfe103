"""Round-10 operator semantics the oracle can't see: pure-Python
references for Holt-Winters, hand-built graphs for k-truss and link
prediction (the queries read tables via the `t` loader, so a temp dir
with a purpose-built lineitem parquet IS the unit-test harness)."""

import os
import tempfile

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from sparkprep.operators import graph, grouped


def _mini_dir(spark, **tables) -> str:
    d = tempfile.mkdtemp(prefix="r10mini_")
    for name, pdf in tables.items():
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, f"{name}.parquet")
        )
    return d


# ---------------------------------------------------------------------------
# Holt-Winters
# ---------------------------------------------------------------------------


def _hw_reference(y, m, a, bt, g):
    """Straight-line replay of the documented recurrence."""
    y = np.asarray(y, dtype=float)
    mbar = y[:m].sum() / float(m)
    s = [y[p] - mbar for p in range(m)]
    l, b = mbar, 0.0
    rows = []
    for i in range(m, len(y)):
        p = i % m
        sp = s[p]
        f = l + b + sp
        lp = l
        l = a * (y[i] - sp) + (1.0 - a) * (lp + b)
        b = bt * (l - lp) + (1.0 - bt) * b
        s[p] = g * (y[i] - l) + (1.0 - g) * sp
        rows.append((i, l, b, s[p], f))
    return rows


def test_grouped_holt_winters_matches_reference(spark):
    rng = np.random.RandomState(7)
    # integral counts with a planted weekly cycle + drift
    season = np.array([5, 1, 0, 2, 9, 14, 11])
    y = [
        float(20 + 2 * t // 3 + season[t % 7] + rng.randint(0, 3))
        for t in range(30)
    ]
    pdf = pd.DataFrame({"k": ["a"] * 30, "t": range(30), "y": y})
    df = spark.createDataFrame(pdf)
    out = (
        grouped.grouped_holt_winters(
            df, ["k"], ["t"], "y", m=7, alpha=0.3, beta=0.1, gamma=0.2
        )
        .orderBy("t")
        .collect()
    )
    ref = _hw_reference(y, 7, 0.3, 0.1, 0.2)
    assert len(out) == len(ref) == 23
    for row, (i, l, b, s, f) in zip(out, ref):
        assert row["t"] == i
        # bit parity with the documented op order, not approximate
        assert row["level"] == l
        assert row["trend"] == b
        assert row["seasonal"] == s
        assert row["forecast"] == f


def test_grouped_holt_winters_short_groups_emit_nothing(spark):
    pdf = pd.DataFrame(
        {
            "k": ["short"] * 7 + ["long"] * 9,
            "t": list(range(7)) + list(range(9)),
            "y": [float(i + 1) for i in range(7)]
            + [float(i + 1) for i in range(9)],
        }
    )
    out = grouped.grouped_holt_winters(
        spark.createDataFrame(pdf), ["k"], ["t"], "y", m=7
    ).toPandas()
    # a group needs > m rows to leave the init window
    assert set(out["k"]) == {"long"}
    assert len(out) == 2


# ---------------------------------------------------------------------------
# k-truss
# ---------------------------------------------------------------------------


def _support(df):
    return graph.edge_support(df, graph.degrees(df))


def test_k_truss_peels_pendants_and_triangle_free_structure(spark):
    # triangle {1,2,3} + pendant (3,4) + triangle-free square {5,6,7,8}
    edges = [
        (1, 2), (1, 3), (2, 3),
        (3, 4),
        (5, 6), (6, 7), (7, 8), (5, 8),
    ]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["u", "v"]))
    out = graph.k_truss(_support(df), k=3, max_rounds=8).toPandas()
    got = {(r.u, r.v): r.support for r in out.itertuples()}
    assert got == {(1, 2): 1, (1, 3): 1, (2, 3): 1}


def test_k_truss_k4_needs_two_triangles_per_edge(spark):
    # K4 minus one edge: edges (1,2),(1,3),(1,4),(2,3),(2,4) — only
    # (1,2) sits in two triangles, but peeling its neighbors' edges
    # (each in one triangle) collapses everything at k=4
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4)]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["u", "v"]))
    assert graph.k_truss(_support(df), k=4, max_rounds=8).count() == 0
    # the full K4 survives at k=4: every edge in exactly 2 triangles
    k4 = edges + [(3, 4)]
    out = graph.k_truss(
        _support(spark.createDataFrame(pd.DataFrame(k4, columns=["u", "v"]))),
        k=4,
        max_rounds=8,
    ).toPandas()
    assert len(out) == 6 and (out["support"] == 2).all()


def test_k_truss_rejects_k_below_3(spark):
    # the support frame holds only edges in some triangle, so at k=2 the
    # triangle-free edge (3,4) would be peeled although the 2-truss is
    # every edge: refuse k < 3 instead of answering wrongly
    edges = [(1, 2), (2, 3), (3, 4), (1, 3)]
    df = spark.createDataFrame(pd.DataFrame(edges, columns=["u", "v"]))
    for k in (1, 2):
        with pytest.raises(ValueError, match="k >= 3"):
            graph.k_truss(_support(df), k=k)


# ---------------------------------------------------------------------------
# link prediction
# ---------------------------------------------------------------------------


def test_link_prediction_hand_graph(spark):
    from sparkprep.queries.advanced import q_link_prediction

    # path 1-2-3 plus 3-4 (each edge = two shared orders, 2 parts per
    # order so no accidental extra pairs)
    rows = []
    for o, (pa, pb) in enumerate([(1, 2), (1, 2), (2, 3), (2, 3), (3, 4), (3, 4)]):
        rows.append((100 + o, pa))
        rows.append((100 + o, pb))
    li = pd.DataFrame(rows, columns=["l_orderkey", "l_partkey"])
    d = _mini_dir(spark, lineitem=li)
    out = q_link_prediction(spark, d).toPandas().set_index(["part_a", "part_b"])
    # candidates: (1,3) via z=2 (deg 2), (2,4) via z=3 (deg 2)
    assert set(out.index) == {(1, 3), (2, 4)}
    for key in [(1, 3), (2, 4)]:
        assert out.loc[key, "common_neighbors"] == 1
        assert out.loc[key, "ra_index"] == 0.5
        assert out.loc[key, "jaccard"] == 0.5


# ---------------------------------------------------------------------------
# merkle manifest
# ---------------------------------------------------------------------------


def test_merkle_manifest_tamper_and_order(spark):
    from sparkprep.queries.governance import q_merkle_manifest

    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": ["alpha", "beta", "gamma", "delta"],
            "lang": ["en"] * 4,
            "source": ["s1", "s1", "s1", "s2"],
            "n_chars": [5, 4, 5, 5],
        }
    )
    d1 = _mini_dir(spark, documents=docs)
    m1 = q_merkle_manifest(spark, d1).toPandas().set_index("source")
    # input ROW ORDER must not matter (the fold sorts by doc_id)
    d2 = _mini_dir(spark, documents=docs.iloc[::-1].reset_index(drop=True))
    m2 = q_merkle_manifest(spark, d2).toPandas().set_index("source")
    assert (m1["digest"] == m2["digest"]).all()
    # any single-character edit flips exactly that source's digest
    tampered = docs.copy()
    tampered.loc[0, "text"] = "alphA"
    d3 = _mini_dir(spark, documents=tampered)
    m3 = q_merkle_manifest(spark, d3).toPandas().set_index("source")
    assert m3.loc["s1", "digest"] != m1.loc["s1", "digest"]
    assert m3.loc["s2", "digest"] == m1.loc["s2", "digest"]
    assert m1.loc["s1", "n_docs"] == 3 and m1.loc["s1", "total_chars"] == 14


# ---------------------------------------------------------------------------
# Krippendorff's alpha
# ---------------------------------------------------------------------------


def test_krippendorff_alpha_hand_cases(spark):
    from sparkprep.queries.advanced import q_krippendorff_alpha

    en = "the a and of to in is it"            # stopword rater -> en
    en_tri = "the then they there other"       # trigram rater -> en too
    # perfect-agreement corpus is degenerate (De = 0 -> NULL); build a
    # 4-doc corpus where raters agree on 3 and split on 1
    agree = f"{en} {en_tri}"
    # stopword rater sees only 'le' (fr); trigram rater sees only
    # 'ing' mass (en) -> guaranteed disagreement
    disagree = "le le le inginginging"
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4],
            "text": [agree, agree, agree, disagree],
            "lang": ["en"] * 4,
            "source": ["s"] * 4,
            "n_chars": [len(agree)] * 3 + [len(disagree)],
        }
    )
    d = _mini_dir(spark, documents=docs)
    out = q_krippendorff_alpha(spark, d).toPandas()
    assert len(out) == 1
    U, D = int(out.loc[0, "n_units"]), int(out.loc[0, "n_disagree"])
    assert U == 4
    # replay the closed form on the query's own confusion counts
    from sparkprep.operators import text as tx
    from pyspark.sql import functions as F
    from sparkprep.queries import t as load

    lab = (
        load(spark, d, "documents")
        .select(tx.lang_id("text").alias("a"), tx.lang_id_ngram("text").alias("b"))
        .toPandas()
    )
    D_ref = int((lab["a"] != lab["b"]).sum())
    assert D == D_ref and D_ref >= 1
    from collections import Counter

    nk = Counter(lab["a"]) + Counter(lab["b"])
    n = 2 * U
    expected = 1.0 - ((n - 1) * 2 * D_ref) / (n * n - sum(v * v for v in nk.values()))
    assert abs(out.loc[0, "alpha"] - expected) < 1e-6


# ---------------------------------------------------------------------------
# earth mover's distance
# ---------------------------------------------------------------------------


def test_earth_movers_hand_case(spark):
    from sparkprep.queries.stat_tests import q_earth_movers, _EMD_BIN

    # priority A: all mass in bin 0; priority B: all mass in bin 3
    # -> W1 = 3 bins x bin width (shift the whole distribution 3 bins)
    rows = []
    for i in range(10):
        rows.append((i, 1, "A", 0.0 + 500.0, pd.Timestamp("1995-01-01"), "A-PRI"))
    for i in range(10, 20):
        rows.append((i, 1, "B", 3 * _EMD_BIN + 500.0, pd.Timestamp("1995-01-01"), "B-PRI"))
    orders = pd.DataFrame(
        rows,
        columns=[
            "o_orderkey", "o_custkey", "o_orderstatus",
            "o_totalprice", "o_orderdate", "o_orderpriority",
        ],
    )
    d = _mini_dir(spark, orders=orders)
    out = q_earth_movers(spark, d).toPandas()
    assert len(out) == 1
    assert out.loc[0, "pr_a"] == "A-PRI" and out.loc[0, "pr_b"] == "B-PRI"
    assert out.loc[0, "emd"] == 3 * _EMD_BIN


# ---------------------------------------------------------------------------
# silhouette
# ---------------------------------------------------------------------------


def test_silhouette_separated_blobs(spark):
    from sparkprep.queries.advanced import q_silhouette_score, _KM_K, _KM_DIMS

    rng = np.random.RandomState(3)
    rows = []
    for i in range(200):
        c = i % _KM_K
        # centers far apart vs jitter -> silhouette near 1, none negative
        center = np.zeros(_KM_DIMS)
        center[c % _KM_DIMS] = 10.0 * (1 + c)
        v = center + rng.uniform(-0.01, 0.01, _KM_DIMS)
        rows.append((i, [float(x) for x in v], 0))
    emb = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    d = _mini_dir(spark, embeddings=emb)
    out = q_silhouette_score(spark, d).toPandas()
    assert len(out) == _KM_K
    assert (out["n_negative"] == 0).all()
    assert (out["mean_silhouette"] > 0.95).all()
    assert out["n_points"].sum() == 200


# ---------------------------------------------------------------------------
# Burrows' delta
# ---------------------------------------------------------------------------


def test_burrows_delta_mirror_sources_near_zero(spark):
    from sparkprep.queries.corpus import q_burrows_delta

    rng = np.random.RandomState(11)
    words_a = ["the", "of", "and", "to", "in"]
    words_b = ["le", "des", "une", "est", "dans"]

    def doc(words):
        return " ".join(rng.choice(words, 60))

    rows = []
    did = 0
    # s1/s2 share a register (template mirror), s3 is a different one
    for src, words in [("s1", words_a), ("s2", words_a), ("s3", words_b)]:
        for _ in range(5):
            txt = doc(words)
            rows.append((did, txt, "en", src, len(txt)))
            did += 1
    docs = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    d = _mini_dir(spark, documents=docs)
    out = q_burrows_delta(spark, d).toPandas().set_index(
        ["source_a", "source_b"]
    )
    assert len(out) == 3
    mirror = out.loc[("s1", "s2"), "delta"]
    cross = min(out.loc[("s1", "s3"), "delta"], out.loc[("s2", "s3"), "delta"])
    # same-register pair must sit well below either cross-register pair
    assert mirror < cross / 2


# ---------------------------------------------------------------------------
# LSH banding advisor
# ---------------------------------------------------------------------------


def test_lsh_tuning_monotone_workload(spark, sf_dir):
    from sparkprep.queries.llmprep import q_lsh_tuning

    out = q_lsh_tuning(spark, sf_dir).toPandas().sort_values("bands")
    assert list(out["bands"]) == [2, 4, 8]
    assert list(out["rows_per_band"]) == [8, 4, 2]
    # more, narrower bands = more collisions: the S-curve heights and
    # the measured candidate workload must both be non-decreasing
    assert out["p_collide_at_50"].is_monotonic_increasing
    assert out["p_collide_at_80"].is_monotonic_increasing
    assert out["n_bucket_pairs"].is_monotonic_increasing
    # the corpus has planted near-dup mutants: even the strictest
    # banding must surface SOME candidate pairs
    assert out["n_bucket_pairs"].min() > 0
