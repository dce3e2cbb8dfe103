"""Planted-fixture semantics for corpus-surgery ops (span dedup,
bigram LM) — the edges the sf oracle data can't exercise: cross-doc
and within-doc span repetition, fully-duplicate docs, sub-width docs,
and a hand-computed bigram probability."""

import math

from pyspark.sql import functions as F

from sparkprep.operators import text as tx


def _w(n, tag):
    return " ".join(f"{tag}{i}" for i in range(n))


def test_span_dedup_cross_doc_first_occurrence_wins(spark):
    shared = _w(4, "s")
    df = spark.createDataFrame(
        [
            (1, shared + " " + _w(4, "a")),  # chunk0 = shared, chunk1 = a*
            (2, shared + " " + _w(4, "b")),  # chunk0 duplicates doc 1's
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in tx.dedup_spans(df, "text", "doc_id", width=4).collect()
    }
    assert out[1]["n_chunks"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["dedup_text"] == shared + " " + _w(4, "a")
    assert out[2]["n_chunks"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["dedup_text"] == _w(4, "b")


def test_span_dedup_within_doc_repetition(spark):
    rep = _w(4, "r")
    df = spark.createDataFrame(
        [(7, rep + " " + _w(4, "m") + " " + rep)], ["doc_id", "text"]
    )
    row = tx.dedup_spans(df, "text", "doc_id", width=4).collect()[0]
    assert row["n_chunks"] == 3 and row["n_kept"] == 2
    assert row["dedup_text"] == rep + " " + _w(4, "m")


def test_span_dedup_fully_duplicate_doc_empties(spark):
    body = _w(8, "d")
    df = spark.createDataFrame([(1, body), (2, body)], ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in tx.dedup_spans(df, "text", "doc_id", width=4).collect()
    }
    assert out[1]["n_kept"] == 2 and out[1]["dedup_text"] == body
    assert out[2]["n_kept"] == 0 and out[2]["dedup_text"] == ""


def test_span_dedup_short_doc_single_chunk(spark):
    df = spark.createDataFrame([(1, "only two")], ["doc_id", "text"])
    row = tx.dedup_spans(df, "text", "doc_id", width=4).collect()[0]
    assert row["n_chunks"] == 1 and row["n_kept"] == 1
    assert row["dedup_text"] == "only two"


def test_bigram_lm_hand_computed(spark):
    # corpus: "a b a b" and "a c". bigram counts: (a,b)x2 (b,a)x1 (a,c)x1
    # prefix counts: a->3, b->1. p(b|a)=2/3, p(a|b)=1, p(c|a)=1/3
    df = spark.createDataFrame([(1, "a b a b"), (2, "a c")], ["doc_id", "text"])
    out = {r["doc_id"]: r["bigram_lm"] for r in tx.bigram_lm_score(df, "text", "doc_id").collect()}
    exp1 = (math.log(2 / 3) + math.log(1.0) + math.log(2 / 3)) / 3
    exp2 = math.log(1 / 3)
    assert abs(out[1] - round(exp1, 4)) < 1e-9
    assert abs(out[2] - round(exp2, 4)) < 1e-9


def test_bigram_lm_drops_single_token_docs(spark):
    df = spark.createDataFrame([(1, "solo"), (2, "two tokens")], ["doc_id", "text"])
    ids = [r["doc_id"] for r in tx.bigram_lm_score(df, "text", "doc_id").collect()]
    assert ids == [2]


def test_span_dedup_text_crosses_one_exchange(spark):
    """The chunk text must reach the reassembly through exactly one
    exchange: the keep-decision branches shuffle only (hash, id, pos)."""
    df = spark.createDataFrame(
        [(i, _w(40, f"t{i}_")) for i in range(20)], ["doc_id", "text"]
    )
    plan = tx.dedup_spans(df, "text", "doc_id", width=8)._jdf.queryExecution().executedPlan().toString()
    # count exchanges whose output carries the chunk string column
    assert plan.count("Exchange") <= 4  # 2 narrow key shuffles + 1 text + agg reuse

def test_boilerplate_scrub_drops_all_occurrences_per_domain(spark):
    """Unlike span dedup there is NO surviving first occurrence: a
    chunk seen in >=2 distinct docs of one domain vanishes from both;
    the same chunk in ANOTHER domain (only one doc there) survives."""
    banner = _w(4, "nav")
    df = spark.createDataFrame(
        [
            (1, "d1", banner + " " + _w(4, "a")),
            (2, "d1", banner + " " + _w(4, "b")),
            (3, "d2", banner + " " + _w(4, "c")),
        ],
        ["doc_id", "source", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in tx.boilerplate_scrub(
            df, "text", "doc_id", "source", width=4, min_docs=2
        ).collect()
    }
    assert out[1]["n_kept"] == 1 and out[1]["scrub_text"] == _w(4, "a")
    assert out[2]["n_kept"] == 1 and out[2]["scrub_text"] == _w(4, "b")
    # d2 has the banner only once — not boilerplate there
    assert out[3]["n_kept"] == 2
    assert out[3]["scrub_text"] == banner + " " + _w(4, "c")


def test_boilerplate_scrub_within_doc_repeat_not_boilerplate(spark):
    """Repetition inside ONE doc does not meet the distinct-doc bar."""
    rep = _w(4, "r")
    df = spark.createDataFrame(
        [(1, "d1", rep + " " + rep)], ["doc_id", "source", "text"]
    )
    row = tx.boilerplate_scrub(
        df, "text", "doc_id", "source", width=4, min_docs=2
    ).collect()[0]
    assert row["n_chunks"] == 2 and row["n_kept"] == 2


def test_boilerplate_scrub_fully_boilerplate_doc_empties(spark):
    body = _w(4, "x")
    df = spark.createDataFrame(
        [(1, "d1", body), (2, "d1", body)], ["doc_id", "source", "text"]
    )
    out = {
        r["doc_id"]: r
        for r in tx.boilerplate_scrub(
            df, "text", "doc_id", "source", width=4, min_docs=2
        ).collect()
    }
    assert out[1]["n_kept"] == 0 and out[1]["scrub_text"] == ""
    assert out[2]["n_kept"] == 0 and out[2]["scrub_text"] == ""


def test_gopher_rules_planted_violations(spark):
    from sparkprep.operators.text import gopher_quality_flags

    good = ("the quick brown fox jumps over that lazy dog with style and "
            "grace to be of sound mind and body " * 5)
    bullets = "\n".join(f"- item {i}" for i in range(10))
    dots = " ".join(["word..."] * 60)
    short = "too few words"
    df = spark.createDataFrame(
        [(1, good), (2, bullets), (3, dots), (4, short), (5, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_quality_flags(df, "text").collect()}
    assert out[1]["pass"] is True
    assert out[1]["stop_hits"] >= 2
    assert out[2]["bullet_ratio"] == 1.0 and out[2]["pass"] is False
    assert out[3]["ellipsis_ratio"] == 1.0 and out[3]["symbol_ratio"] > 0.1
    assert out[3]["pass"] is False
    assert out[4]["n_words"] == 3 and out[4]["pass"] is False
    assert out[5]["n_words"] == 0 and out[5]["pass"] is False
    assert out[5]["mean_word_len"] is None


def test_chunk_overlap_planted_full_and_zero(spark):
    """A verbatim copy of a doc must show shared_ratio 1.0 on both ids;
    a doc with a disjoint vocabulary must show 0.0."""
    from sparkprep.operators import dedup as dd
    from sparkprep.operators import text as tx
    from pyspark.sql import functions as F

    base = " ".join(f"tok{i} word{i % 7} item{i % 13}" for i in range(40))
    other = " ".join(f"zzz{i} qqq{i % 5} mmm{i % 11}" for i in range(40))
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, other)], "doc_id long, text string"
    )
    chunks = tx.chunk_documents(df, "text", "doc_id", width=32, stride=32)
    cdf = chunks.select(
        (F.col("doc_id") * 1000 + F.col("chunk_id")).alias("cid"), "chunk_text"
    )
    sig = dd.minhash_signatures(cdf, "chunk_text", "cid")
    pairs = dd.minhash_candidate_pairs(sig, "cid", est_threshold=0.8)
    cross = pairs.filter(F.expr("id_a div 1000") != F.expr("id_b div 1000"))
    matched = (
        cross.select(F.explode(F.array("id_a", "id_b")).alias("cid"))
        .distinct()
        .withColumn("__m", F.lit(1))
    )
    out = {
        r["doc_id"]: (r["n_chunks"], r["n_shared"])
        for r in cdf.join(matched, "cid", "left")
        .groupBy(F.expr("cid div 1000").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_chunks"), F.count("__m").alias("n_shared"))
        .collect()
    }
    assert out[1][0] == out[1][1] > 0, "copy must share every chunk"
    assert out[2][0] == out[2][1] > 0
    assert out[3][1] == 0, "disjoint vocabulary must share nothing"


def test_readability_flesch(spark):
    from pyspark.sql import Row

    from sparkprep.operators import text as tx

    df = spark.createDataFrame(
        [
            Row(i=1, t="The cat sat. The dog ran!"),   # 6 words, 2 sents, 6 syl
            Row(i=2, t=""),                             # degenerate -> NULL
            Row(i=3, t="no terminal punctuation here"), # sentences floored at 1
        ]
    )
    got = {r["i"]: r["f"] for r in df.select(
        "i", tx.readability("t").alias("f")).collect()}
    # 206.835 - 1.015*(6/2) - 84.6*(6/6) = 119.19
    assert abs(got[1] - 119.19) < 1e-9
    assert got[2] is None
    # 4 words / 1 sentence / >=1 syllable per word -> finite score
    assert got[3] is not None
