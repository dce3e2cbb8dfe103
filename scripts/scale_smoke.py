"""Scale smoke: run the heavy operators on a synthetic corpus 10-50x
the bench scale and report wall times, rows and each op's Spark
counters (jobs, tasks, executor CPU, shuffle write, spill), to catch
nonlinear cliffs (quadratic pair blowups, single-partition stages,
interpreted-lambda hotspots) that sf0.1 is too small to expose.
``cpu=`` is executor JVM task time only: the Python workers that run
the Arrow kernels are not in it, so compare Arrow ops on wall time.
``rows=`` is counted on the same noop write (an observed metric). Runs
local[<host cores>] (``SPARK_GRAFT_CPUS`` when set, else
``os.cpu_count()``) and prints the master it used.

Usage: python scripts/scale_smoke.py [core|revenue|graph|longdoc|widevec|streaming|all] [args...]
  core    [num_docs] [num_rows]   text/dedup/similarity panel (default)
  revenue [rep] [price_mult]      DECIMAL(38,x) overflow panel: scaled
                                  lineitem/orders (~rep*mult^2 x sf0.1
                                  monetary mass) driven through the
                                  REGISTERED revenue queries — the
                                  failure class the sf0.01 driver can
                                  NOT catch (abc_classification's
                                  DECIMAL(18,8) overflow only surfaced
                                  in the sf0.1 bench; this panel goes
                                  1000x beyond that)
  graph   [num_nodes] [num_edges] skewed power-law graph (hub degree
                                  >> the co-purchase cap) through the
                                  iterative graph family — validates
                                  hub guards + per-round checkpoint
                                  discipline at 10-50x bench edges
  widevec [num_vecs] [dims] [dup|distinct]
                                  wide-vector operators; ``dup`` repeats
                                  1,000 distinct vectors, ``distinct``
                                  has no two equal vectors
Writes nothing to the repo; synthesizes under /tmp.

Measured round 9 (local[32], idle host):
  revenue panel (10x rows, 100x prices; total revenue 3.0e13):
    all 13 registered revenue queries green, 1.1-5.1s each — no
    DECIMAL overflow anywhere at 1000x the monetary mass that killed
    the old (18,8) recast.
  graph panel (1M nodes, 9.9M unique edges, hub degree 142,058):
    pagerank(3) 63.7s, k_core(3) 20.8s, LPA(4) 47.9s, BFS(4) 27.7s,
    triangle census 37.8s — every loop converges with bounded lineage;
    the degree-oriented wedge join absorbs the 142k-degree hub (2,200x
    past the co-purchase cap) without a quadratic cliff. r10 rerun
    (idle host): pagerank 27.5s, k_core 10.8s, LPA 35.1s, BFS 34.0s,
    triangles 18.9s, k_truss(k=3, 4 rounds) 48.0s — the k_truss
    degree-ordered orientation bounds the per-round wedge fan-out at
    the hub (the naive undirected form would enumerate ~2e10 rows).
    r11 rerun (busy host — pagerank 52.0s on the same run, ~1.9x the
    idle r10 numbers): LPA(4) 28.2s after the one-vote-exchange-per-
    round rewrite — beats both prior records despite the slow host,
    so the hash(v) repartition absorbs the 142k hub fine.
  graph panel at 3x (2M nodes, 29.7M unique edges, hub degree 303,612):
    pagerank(3) 98.9s, k_core 46.3s, LPA(4) 98.6s, BFS(4) 58.1s,
    triangles 122.2s — 1.5-3.2x for 3x edges: linear-family scaling,
    the hub guards hold at 4,700x past the co-purchase cap.
  longdoc panel (1,000 docs x 50,000 tokens, ~270 KB/doc):
    all 8 width-sensitive text/dedup ops green, 1.0-10.9s — per-row
    width scales linearly (minhash over 50M shingles 10.9s).
  widevec panel (50,000 vecs x 1024 dims; clean idle run):
    FOUND a cliff: semantic_dedup's interpreted verify folded candidate
    pairs through 1024-element Catalyst lambdas — 187s. Fixed by
    folding each (cluster, sig) bucket into one array row and verifying
    it in numpy over Arrow (ships each vector once, pair fan-out never
    crosses the JVM->Python boundary): 8.9s same panel.
    negative_pairs needs NO kernel: vectors only move for the <=k*n
    survivors by design — 12.0s at the same width.
  widevec panel re-measured on a 4-core host (local[4]), after the five
  bucketed vector operators went to one path each (Arrow kernels that
  replay the Catalyst left fold bit for bit; GEMM only prefilters) and
  mutual NN's verify began sending each source only the rows that can
  tie its best. Wall time, best of two alternating runs of the five
  operators with this panel's parameters (quantize, cosine top-k,
  matryoshka and negative mining were not re-run); cpu= counts
  executor JVM time only, so it leaves out the Python workers that run
  every Arrow kernel:
                             dup corpus               distinct corpus
    semantic dedup (8x2^8)   19.2s  rows=50,000       16.7s  rows=50,000
    near-dup pairs (>=0.95)  16.3s  rows=10,450,000   10.5s  rows=134,180
    mutual NN (2^11)         12.4s  rows=1,000        11.5s  rows=11,614
    ann_lsh (20q, 4 probes)  13.2s  rows=100          12.3s  rows=100
    ann_ivf (20q, 32 cells)  28.4s  rows=100          24.6s  rows=100
    Mutual NN took 59-77s on the dup corpus before (old Arrow twin and
    first one-path version alike): its window sorted both directions
    of all 25.7M bucket pairs (51M rows, 940 MB spill).
    The dup corpus has only 1,000 distinct vectors (50 copies each), so
    buckets hold thousands of exact duplicates: the verify folds each
    distinct vector pair once. Earlier run: quantize fidelity native
    8.6s on the 10k slice vs arrow 7.5s on the full corpus; cosine
    top-k native 5.7s on the slice vs arrow 3.4s on the full corpus;
    matryoshka 4.5s; negative mining 11.9s.

Measured round 10 (local[32]):
  streaming panel (50,000 users, 12 hourly waves x 200,000 events, 2h
  watermark, maxFilesPerTrigger=1 → one wave per micro-batch):
    every state curve PLATEAUS at the watermark horizon and drains on
    the final finalization batch — no unbounded growth anywhere:
    windowed_agg  20 rows peak (windows x event_type), 111.1s
    sessionize    ~124.5k rows peak (sessions in horizon), 25.3s
    dedup_within_watermark 1.0M rows peak (5 waves of event_ids:
                  2h watermark + 1h wave span + in-flight), 26.2s
    join_streams  inner and left_outer identical state curves
                  (~280k rows peak = clicks+purchases in the
                  watermark+within horizon), 89.5s / 85.8s
    running_user_profile climbs to exactly |users|=50,000 and goes
                  flat (running profile state is per-user by design,
                  bounded by key cardinality), 102.6s
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from perfbench.counters import collect
from sparkprep.session import build_session

VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark line "
    "sort window data column join small customer query big group stream filter "
    "order the a vector"
).split()


def _materialize(df) -> int:
    # noop sink: full materialization; a bare count() would let
    # Catalyst prune projections and fake instant "timings". The row
    # count rides the same write as an observed metric (no extra job).
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format(
        "noop").mode("overwrite").save()
    return obs.get["rows"]


def _bench(name, fn):
    # each op runs in its own job group, so its Spark counters are its own
    spark = SparkSession.getActiveSession()
    sc = spark.sparkContext
    group = f"scale-smoke-{time.monotonic_ns()}"
    sc.setJobGroup(group, name)
    t0 = time.perf_counter()
    try:
        n = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    dt = time.perf_counter() - t0
    c = collect(spark, [group])
    print(
        f"{name:32s} {dt:8.2f}s  rows={n if n >= 0 else 'n/a'}  "
        f"jobs={c['jobs']} tasks={c['tasks']} cpu={c['cpu_s']:.1f}s "
        f"shuffle_w={c['shuffle_write_mb']:.1f}MB spill={c['spill_mb']:.1f}MB",
        flush=True,
    )


def core_panel(spark, num_docs: int, num_rows: int) -> None:

    # --- synthetic documents: ~120 tokens from a 30-word vocab ---------
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    docs = (
        spark.range(num_docs)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(1), F.lit(120)),
                    lambda i: F.element_at(
                        vocab, (F.pmod(F.xxhash64(F.col("id") * 1000 + i), 30) + 1).cast("int")
                    ),
                ),
            ).alias("text"),
        )
        .repartition(64)
    )
    docs.write.mode("overwrite").parquet("/tmp/scale_docs.parquet")
    docs = spark.read.parquet("/tmp/scale_docs.parquet")

    rows = (
        spark.range(num_rows)
        .select(
            F.col("id").alias("k"),
            (F.pmod(F.xxhash64("id"), 1000)).alias("g"),
            (F.pmod(F.xxhash64(F.col("id") + 7), 100000) / 100.0).alias("v"),
        )
        .repartition(64)
    )
    rows.write.mode("overwrite").parquet("/tmp/scale_rows.parquet")
    rows = spark.read.parquet("/tmp/scale_rows.parquet")

    from sparkprep.operators import clean, dedup, text
    from sparkprep.operators.skew import salted_agg

    print(f"--- scale smoke: {num_docs:,} docs / {num_rows:,} rows on {spark.sparkContext.master} ---")
    _bench("groupBy agg (1000 groups)", lambda: _materialize(rows.groupBy("g").agg(
        F.sum("v"), F.avg("v"), F.count(F.lit(1)))))
    _bench("salted agg", lambda: _materialize(salted_agg(
        rows, ["g"], {"s": "sum(v)", "n": "count(*)"})))
    _bench("window dedup audit", lambda: _materialize(clean.dup_audit(
        rows.select("g", (F.col("k") % 1000).alias("k2")), keys=["g", "k2"], order_by="g")))
    _bench("null census (3 cols)", lambda: rows.select(
        *[F.count(F.when(F.isnull(c), True)) for c in rows.columns]).count())
    _bench("text stats", lambda: _materialize(docs.select(
        text.token_count("text"), text.char_count("text"))))
    _bench("shingle fingerprint", lambda: _materialize(text.add_shingle_fingerprint(
        docs, "text").select("fp_shingle")))
    _bench("minhash signatures", lambda: _materialize(dedup.minhash_signatures(
        docs, "text", "doc_id")))
    _bench("simhash", lambda: _materialize(dedup.simhash(docs, "text", "doc_id")))
    _bench("minhash LSH pairs (est>=0.8)", lambda: _materialize(dedup.minhash_candidate_pairs(
        docs, "text", "doc_id", est_threshold=0.8)))
    _bench("unigram LM score", lambda: _materialize(text.unigram_lm_score(
        docs, "text", "doc_id")))
    # pair graph: num_docs/10 chains of length 10 -> CC must converge in
    # ~diameter rounds with bounded lineage (localCheckpoint per round)
    edges = spark.range(num_docs - 1).filter(F.pmod("id", 10) != 9).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    _bench("connected components (chains)", lambda: _materialize(
        dedup.connected_components(edges, max_iterations=15)))

    # --- round-2 additions: incremental dedup, quantize, zorder, mix --
    from sparkprep.functions import zorder
    from sparkprep.operators import mix, quantize

    batch = docs.filter(F.pmod("doc_id", 10) == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+ ", "").alias("text"),
    )
    _bench("incremental dedup (10% batch)", lambda: _materialize(
        dedup.incremental_minhash_filter(batch, docs, "text", "doc_id",
                                         est_threshold=0.5)))
    vecs = spark.range(num_docs).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(64)),
            lambda i: (F.pmod(F.xxhash64(F.col("id") * 100 + i), 1000) / 500.0 - 1.0),
        ).alias("embedding"),
    )
    _bench("scalar quantize + fidelity", lambda: _materialize(
        quantize.reconstruction_stats(vecs, "embedding").select(
            "vec_id", "mean_abs_err", "cos_fidelity")))
    _bench("zorder layout (64 files)", lambda: _materialize(
        zorder.zorder_layout(rows.select(
            (F.col("k") % 65536).alias("x"), (F.pmod(F.xxhash64("k"), 65536)).alias("y")),
            ["x", "y"], num_files=64)))
    _bench("train-mix resample", lambda: _materialize(
        mix.resample_to_quotas(
            docs.withColumn("grp", F.pmod("doc_id", 8).cast("string")),
            "grp", {str(g): num_docs // 20 for g in range(8)}, "doc_id")))
    # span dedup explodes ~4 chunks/doc and shuffles the md5 keep-keys;
    # the op whose shuffle volume grows fastest with corpus size
    _bench("span dedup (32-tok chunks)", lambda: _materialize(
        text.dedup_spans(docs, "text", "doc_id", width=32)
        .select("doc_id", "n_chunks", "n_kept")))
    _bench("training order (1024 shards)", lambda: _materialize(
        mix.training_order(docs, "doc_id", num_shards=1024)))

    # --- round-3 additions: semantic dedup, gopher gate ----------------
    from sparkprep.operators import similarity

    # candidate pairs are bounded by (cluster x signature) buckets, and
    # the BUCKET COUNT MUST SCALE WITH N or the per-bucket quadratic
    # term re-emerges (fixed 8x256 buckets measured 61.7s at 500k vecs —
    # 244 rows/bucket; planes sized for ~25 rows/bucket brings it back
    # to linear). Production guidance in the operator docstring.
    import math

    planes = max(8, math.ceil(math.log2(max(num_docs, 1) / (8 * 25))))
    _bench(f"semantic dedup (8x2^{planes} buckets)", lambda: _materialize(
        similarity.semantic_dedup(vecs, num_planes=planes)))
    _bench("gopher quality gate", lambda: _materialize(
        text.gopher_quality_flags(docs, "text").select("doc_id", "pass")))

    # chunk-granular minhash: the explode multiplies the MinHash load by
    # ~docs/chunk ratio — watch for superlinear growth vs the doc-level
    # "minhash LSH pairs" row above
    def chunk_minhash():
        chunks = text.chunk_documents(docs, "text", "doc_id", width=32, stride=32)
        cdf = chunks.select(
            (F.col("doc_id") * 1000 + F.col("chunk_id")).alias("cid"), "chunk_text"
        )
        return _materialize(dedup.minhash_candidate_pairs(
            cdf, "chunk_text", "cid", est_threshold=0.8))

    _bench("chunk-level minhash pairs", chunk_minhash)

    # --- round-3 session-2 additions ----------------------------------
    from sparkprep.operators import temporal, transform
    from sparkprep.functions import numeric

    # RANGE-frame rolling window: per-key cost is O(rows), frame width
    # notwithstanding (incremental WindowExec) — 1000 keys, dense events
    events = rows.select(
        "g",
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + F.col("k") * 1_000_000
        ).alias("ts"),
        "v",
    )
    _bench("rolling 1h window (1000 keys)", lambda: _materialize(
        temporal.rolling_time_agg(events, "ts", "g", "v", window="1 hour")))
    _bench("IQR outlier fences (1000 keys)", lambda: _materialize(
        numeric.iqr_outlier_report(rows, "g", "v")))
    # SCD2: only CURRENT rows join; 10% of keys arrive changed
    target = rows.select(
        F.col("k"), F.col("v"),
        F.to_date(F.lit("2024-01-01")).alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    upd = rows.filter(F.pmod("k", 10) == 0).select(
        "k", (F.col("v") + 1.0).alias("v"),
        F.to_date(F.lit("2024-06-01")).alias("effective_ts"),
    )
    _bench("SCD2 merge (10% changed)", lambda: _materialize(
        transform.merge_scd2(target, upd, key_cols=["k"])))

    # --- round-3 session-3 additions ----------------------------------
    from sparkprep.operators import expect as ex

    suite = ex.Suite(checks=[
        ex.completeness("v"), ex.in_range("v", 0.0, 900.0, 0.9),
        ex.mean_between("v", 400.0, 600.0), ex.non_negative("v"),
        ex.uniqueness("g", 0.0),  # approx HLL path (the 100 TB default)
    ])
    _bench("constraint suite (5 checks, 1 pass)", lambda: _materialize(
        suite.report_df(rows)))
    edges_v = [0.0, 200.0, 400.0, 600.0, 800.0, 1000.0]
    ref = ex.reference_shares(rows.filter(F.pmod("k", 2) == 0), "v", edges_v)
    _bench("PSI vs precomputed reference", lambda: _materialize(
        ex.psi_against_reference(rows.filter(F.pmod("k", 2) == 1), "v", edges_v, ref)))
    _bench("char entropy (28-class)", lambda: _materialize(
        text.add_char_entropy(docs, "text").select("doc_id", "char_entropy")))
    _bench("grouped split (map-only)", lambda: _materialize(
        mix.grouped_split(
            docs.withColumn("src", F.pmod("doc_id", 1000).cast("string")),
            "src", {"train": 0.8, "val": 0.1, "test": 0.1})))
    # hot-key sequence export: 1000 keys x ~num_rows/1000 events each,
    # capped at 100 — aggregation state must stay at cap, not key size
    _bench("event sequences (cap 100)", lambda: _materialize(
        temporal.event_sequences(events, "g", ["ts"], "v", max_len=100)))
    # RRF over two bounded legs carved from the 10M-row frame
    _bench("RRF fusion (2x top-1000 legs)", lambda: _materialize(
        similarity.rrf_fuse([
            similarity.topk_ranked(rows, "v", "k", 1000),
            similarity.topk_ranked(
                rows.select("k", (1000.0 - F.col("v")).alias("w")), "w", "k", 1000),
        ], "k")))

    # --- round-3 session-4 additions ----------------------------------
    from sparkprep.operators import graph
    from sparkprep.operators.features import binned_auc
    from sparkprep.operators.skew import key_skew_report

    # 1000 keys x ~num_rows/1000 steps; 16 states — one lag window + one
    # count agg dominates; the 3 iterations touch 16^2 rows
    chain = rows.select("g", "k", F.pmod("k", 16).cast("string").alias("st"))
    _bench("markov fit + 3-step iterate", lambda: _materialize(
        graph.power_iteration(
            graph.transition_matrix(chain, "g", "st", ["k"]),
            chain.select(F.col("st").alias("state")).distinct(),
            steps=3)))
    # negatives: BUCKETS MUST SCALE WITH N (pairs ~ n^2/buckets); hold
    # the per-anchor candidate pool at ~25 rows
    neg_buckets = max(8, num_docs // 25)
    labeled = vecs.withColumn("label", F.pmod("vec_id", 16))
    _bench(f"negative mining ({neg_buckets} buckets)", lambda: _materialize(
        similarity.negative_pairs(labeled, k=3, buckets=neg_buckets)))
    scored = rows.select(
        (F.col("v") / 1000.0).alias("score"), (F.pmod("k", 3) == 0).alias("y"))
    _bench("binned AUC (10M rows)", lambda: _materialize(
        binned_auc(scored, "score", "y")))
    _bench("key-skew report (1000 keys)", lambda: _materialize(
        key_skew_report(rows, "g", top=20)))
    _bench("debounce (1000 keys)", lambda: _materialize(
        temporal.debounce(events, ["g"], "ts", gap="5 seconds")))
    _bench("decayed agg (1000 keys)", lambda: _materialize(
        temporal.decayed_agg(events, "g", "ts", "v", half_life="1 day")))

    # --- round-4 additions: pairs, chat assembly, truncation, JS drift -
    # preference pairs: 1000-ish groups -> windows stay balanced; the
    # cliff to watch is one giant group single-partitioning the rank
    pref_in = docs.select(
        "doc_id", F.pmod("doc_id", 1000).alias("grp"),
        F.length("text").alias("score"))
    _bench("preference pairs (1000 grps)", lambda: _materialize(
        mix.preference_pairs(pref_in, ["grp"], "score", "doc_id")))
    # chat assembly: per-key collect_list — num_rows/1000 msgs per key;
    # the cliff is per-key array width, not row count
    _bench("chat assembly (1000 convs)", lambda: _materialize(
        text.chat_assemble(
            rows.select(F.col("g").alias("conv"), F.col("k").alias("pos"),
                        F.col("v").cast("string").alias("msg")),
            "conv", ["pos"], "msg")))
    _bench("matryoshka stats", lambda: _materialize(
        quantize.matryoshka_stats(vecs, "embedding", k=16)))
    _bench("token JS divergence", lambda: _materialize(
        text.token_js_divergence(docs, "text", F.pmod("doc_id", 2) == 0)))

    # --- round-5 additions: graph census, funnels, sweeps, ranks ------
    from sparkprep.operators import graph, stats

    # co-occurrence graph from 8-item baskets over a 50k-item catalog:
    # pair fan-out is C(8,2)=28 per basket (row-local explode); the
    # cliff to watch is the wedge join -- degree orientation must keep
    # it near-linear even with hub items
    baskets = rows.select(
        F.expr("k div 8").alias("basket"),
        F.pmod(F.xxhash64("k"), 50_000).alias("item"),
    )
    co_edges = graph.cooccurrence_pairs(
        baskets, "basket", "item", max_items_per_key=16, cap_by="id"
    ).filter(F.col("n_keys") >= 2)
    co_und = co_edges.select(F.col("item_a").alias("u"), F.col("item_b").alias("v"))
    co_deg = graph.degrees(co_und)
    _bench("triangle census (support>=2)", lambda: _materialize(
        graph.triangle_stats(graph.edge_support(co_und, co_deg), co_deg)))
    _bench("degree assortativity", lambda: _materialize(
        graph.assortativity(co_edges)))

    # ordered funnel over num_rows events / 1000 users: each stage is a
    # type-filtered scan + keyed join; per-user volume (10k events) must
    # never need to fit an array
    fev = rows.select(
        F.col("g").alias("user_id"),
        F.element_at(
            F.array(F.lit("a"), F.lit("b"), F.lit("c"), F.lit("d")),
            (F.pmod("k", 4) + 1).cast("int"),
        ).alias("event_type"),
        F.timestamp_micros(
            F.lit(1_700_000_000_000_000) + F.col("k") * 1_000_000
        ).alias("ts"),
    )
    _bench("window funnel (4 stages)", lambda: _materialize(
        temporal.window_funnel(
            fev, "user_id", "event_type", "ts", ["a", "b", "c", "d"],
            window="30 days")))

    # sweep-line peak concurrency: ~num_rows/1000 intervals split at
    # day boundaries; the running-sum window partitions by day
    iv = fev.groupBy("user_id", (F.col("ts").cast("long") / 3600).cast("long").alias("h")).agg(
        F.min("ts").alias("s"), F.max("ts").alias("e"))
    _bench("peak concurrency (hourly iv)", lambda: _materialize(
        temporal.peak_concurrency(iv, "s", "e")))

    # sort-free Spearman: rank maps come from 1000- and 100-row
    # frequency tables, never a global sort of the 10M rows
    sp_in = rows.select(
        F.col("g").cast("double").alias("x"),
        F.pmod("k", 100).cast("double").alias("y"),
    )
    _bench("spearman (freq-table ranks)", lambda: _materialize(
        stats.spearman(sp_in, "x", "y")))

    # mutual NN inside scaled LSH buckets: unlike semantic dedup's
    # 8 x 2^p scheme this op has ONLY the hyperplane buckets, so the
    # plane count must absorb the full n/25 target itself (2^9 buckets
    # at 100k vecs = 195/bucket = 19k pairs/bucket -> 21.7s measured;
    # 2^12 brings per-bucket pairs back to ~300)
    nn_planes = max(8, math.ceil(math.log2(max(num_docs, 1) / 25)))
    _bench(f"mutual NN (2^{nn_planes} buckets)", lambda: _materialize(
        similarity.mutual_nn_pairs(vecs, num_planes=nn_planes)))

    # --- round-7 operators ------------------------------------------
    from pyspark.sql.window import Window

    from sparkprep.operators import ranks
    from sparkprep.queries.scale_ops import _boot_digest, _boot_weight

    # Poisson bootstrap: num_rows x 32 weighted copies; must stay a
    # map-side explode + ONE 32-group map-combined fold (watch for the
    # digest re-evaluation cliff)
    def boot():
        rep = rows.select("k", "v").withColumn(
            "__md", _boot_digest(F.col("k"))
        ).withColumn("__b", F.explode(F.sequence(F.lit(0), F.lit(31))))
        w = _boot_weight(F.col("__md"), F.col("__b"))
        return _materialize(
            rep.select("__b", w.alias("__w"), "v")
            .groupBy("__b")
            .agg(F.sum(F.col("v") * F.col("__w")), F.sum("__w"))
        )

    _bench("poisson bootstrap (32 reps)", boot)

    # kendall tau-b on bounded domains (1000 x 100 contingency grid):
    # cost must be ONE groupBy over num_rows + grid-sized window work
    kt_in = rows.select(
        F.col("g").cast("double").alias("x"),
        F.pmod("k", 100).cast("double").alias("y"),
    )
    _bench("kendall tau-b (1000x100 grid)", lambda: _materialize(
        stats.kendall_tau(kt_in, "x", "y")))

    # exact global rank over num_rows (tail_quantiles' engine): range
    # partition + broadcast offsets, never a single-partition sort
    _bench("global rank (exact, 10M)", lambda: _materialize(
        ranks.global_rank(rows, [F.asc("v"), F.asc("k")],
                          rank_name="r", total_name="n")))

    # interval merge sweep over num_rows events / 1000 users: two
    # same-key windows must share one exchange+sort
    def imerge():
        pt = fev.select(
            "user_id",
            F.unix_micros("ts").alias("s"),
            (F.unix_micros("ts") + 300_000_000).alias("e"),
        )
        w_prev = (
            Window.partitionBy("user_id").orderBy("s", "e")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        w_cum = (
            Window.partitionBy("user_id").orderBy("s", "e")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        marked = pt.select(
            "user_id", "s", "e",
            F.when(F.col("s") > F.coalesce(
                F.max("e").over(w_prev), F.lit(-1)), 1).otherwise(0)
            .alias("ni"),
        )
        isl = marked.select(
            "user_id", "s", "e", F.sum("ni").over(w_cum).alias("isl"))
        return _materialize(
            isl.groupBy("user_id", "isl")
            .agg(F.min("s"), F.max("e"), F.count(F.lit(1))))

    _bench("interval merge (1000 users)", imerge)

    # --- round-7 session-2: clustering / LPA / SymSpell / HITS --------
    from sparkprep.operators import clustering

    # distributed Lloyd at 100x the bench points: per round ONE
    # map-combined groupBy to k rows + a k-row broadcast back; the
    # cliff to watch is the interpreted zip_with lambda (k x dims
    # evaluations per point per round)
    km_pts = clustering.quantize_points(vecs, "vec_id", "embedding", dims=8)
    _bench("kmeans lloyd (k=4, 3 rounds)", lambda: _materialize(
        clustering.kmeans_lloyd(km_pts, k=4, dims=8, rounds=3)))

    # sync LPA on the basket co-occurrence graph: per round one keyed
    # join + one map-combined argmax aggregate; the cliff is a hub
    # label fanning out (bounded here by the basket cap, as in prod)
    _bench("LPA communities (4 rounds)", lambda: _materialize(
        graph.lpa_communities(
            co_edges.select("item_a", "item_b")
            .withColumnRenamed("item_a", "u")
            .withColumnRenamed("item_b", "v"),
            rounds=4)))

    # SymSpell over a 50k-word synthetic vocabulary: variant fan-out is
    # Sum(|w|^2)/2 per word (~30x vocab rows), hash-joined on the
    # variant — never vocab^2; the cliff is a hot variant bucket
    sym_w = spark.range(50_000).select(
        F.concat(
            F.lit("w"),
            (F.pmod(F.xxhash64("id"), 26) + 10).cast("string"),
            (F.pmod(F.xxhash64(F.col("id") + 1), 26) + 10).cast("string"),
            (F.pmod(F.xxhash64(F.col("id") + 2), 26) + 10).cast("string"),
            (F.pmod(F.xxhash64(F.col("id") + 3), 100) + 10).cast("string"),
        ).alias("word")
    )
    _bench("symspell pairs (50k vocab)", lambda: _materialize(
        dedup.symspell_pairs(sym_w, "word", max_edits=2)))

    # exact-integer HITS on the basket bipartite graph: two keyed
    # equi-join + map-combined sum rounds over num_rows/8 baskets
    _bench("HITS bipartite (2 rounds)", lambda: _materialize(
        graph.hits_bipartite(baskets, "basket", "item", rounds=2)))


# --- round-9 panel: DECIMAL(38,x) overflow / high monetary mass ----------
# VERDICT r8 #1a: the sf0.01 driver pass can NOT catch aggregate-recast
# overflow (abc_classification's DECIMAL(18,8) died in the sf0.1 bench,
# not the driver). This panel synthesizes ~rep*mult x sf0.1 monetary
# mass (default 10 x 100 = 1000x, yearly revenue ~4.4e12 vs the 1e10
# bound where (18,x) overflows) and drives the REGISTERED revenue-family
# queries end-to-end: any lingering narrow recast throws under ANSI.

_REVENUE_QUERIES = [
    "abc_classification",
    "revenue_bridge",
    "ltv_curve",
    "growth_decomposition",
    "gini_revenue",
    "lorenz_curve",
    "gini_scale",
    "lorenz_scale",
    "theil_index",
    "revenue_concentration",
    "top_movers",
    "rfm_segments",
    "market_share",
]

_BASE_SF = "/root/testdata/sf0.1"


def _build_revenue_dir(spark, rep: int, mult: float) -> str:
    sf = f"/tmp/scale_rev_sf_{rep}x{int(mult)}"
    os.makedirs(sf, exist_ok=True)
    for t_ in (
        "region", "nation", "customer", "supplier", "part",
        "events", "documents", "embeddings",
    ):
        dst = os.path.join(sf, f"{t_}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(_BASE_SF, f"{t_}.parquet"), dst)
    dup = F.explode(F.sequence(F.lit(0), F.lit(rep - 1))).alias("__rep")
    li = spark.read.parquet(f"{_BASE_SF}/lineitem.parquet").select("*", dup)
    li.select(
        # orderkey scaled consistently with orders so joins keep their
        # fan-out; dates untouched so the 1995/1996 period panels hold
        (F.col("l_orderkey") * rep + F.col("__rep")).alias("l_orderkey"),
        "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        (F.col("l_extendedprice") * mult).alias("l_extendedprice"),
        "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
    ).repartition(32).write.mode("overwrite").parquet(f"{sf}/lineitem.parquet")
    o = spark.read.parquet(f"{_BASE_SF}/orders.parquet").select("*", dup)
    o.select(
        (F.col("o_orderkey") * rep + F.col("__rep")).alias("o_orderkey"),
        "o_custkey", "o_orderstatus",
        (F.col("o_totalprice") * mult).alias("o_totalprice"),
        "o_orderdate", "o_orderpriority",
    ).repartition(8).write.mode("overwrite").parquet(f"{sf}/orders.parquet")
    return sf


def revenue_panel(spark, rep: int = 10, mult: float = 100.0) -> None:
    from sparkprep.queries import registry

    queries, _ = registry()
    sf = _build_revenue_dir(spark, rep, mult)
    total = spark.read.parquet(f"{sf}/lineitem.parquet").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    ).collect()[0][0]
    print(
        f"--- revenue panel: {rep}x rows, {mult}x prices; total revenue "
        f"{total:.3e} (sf0.1 base ~3.0e10) ---", flush=True,
    )
    for name in _REVENUE_QUERIES:
        # run the REGISTERED query verbatim; collect is safe (every
        # revenue query returns a bounded report frame)
        _bench(name, lambda n=name: len(queries[n](spark, sf).collect()))


# --- round-9 panel: skewed power-law graph ---------------------------------
# VERDICT r8 #1b: the co-purchase graph's hub degree is capped at 64 by
# construction, so sf0.1 never tests the hub guards. This panel draws
# endpoints ~ floor(N * r^3) (heavy head: node 0's degree ~ E * N^(-1/3),
# ~100k at the defaults — three orders past the cap) and drives the
# iterative family with its per-round localCheckpoint discipline.


def graph_panel(spark, num_nodes: int = 1_000_000, num_edges: int = 10_000_000) -> None:
    from sparkprep.checkpointing import lazy_checkpoint
    from sparkprep.operators import graph

    def endpoint(seed: int):
        r = F.pmod(F.xxhash64(F.col("id") * 2 + seed), 1_000_000) / 1e6
        return F.floor(F.lit(float(num_nodes)) * F.pow(r, F.lit(3.0))).cast("long")

    raw = spark.range(num_edges).select(
        endpoint(1).alias("a"), endpoint(2).alias("b")
    ).filter("a != b")
    edges = (
        raw.select(F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v"))
        .distinct()
        .repartition(64)
    )
    edges.write.mode("overwrite").parquet("/tmp/scale_graph_edges.parquet")
    edges = spark.read.parquet("/tmp/scale_graph_edges.parquet")
    n_e = edges.count()
    deg = graph.degrees(edges)
    hub = deg.agg(F.max("d")).collect()[0][0]
    print(
        f"--- graph panel: {num_nodes:,} nodes, {n_e:,} unique edges, "
        f"hub degree {hub:,} (co-purchase cap is 64) ---", flush=True,
    )
    directed = graph.directed_ends_capped(edges, a_col="u", b_col="v").select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )
    nodes = deg.select("node")
    _bench("pagerank (3 iters)", lambda: _materialize(
        graph.pagerank(directed, nodes, iterations=3)))
    _bench("k_core (k=3)", lambda: _materialize(
        graph.k_core(edges, k=3)))
    _bench("LPA communities (4 rounds)", lambda: _materialize(
        graph.lpa_communities(edges, rounds=4)))
    _bench("BFS hops (4 rounds)", lambda: _materialize(
        graph.bfs_hops(edges, rounds=4)))

    # the census and k_truss read a cut degree frame and a cut per-edge
    # support frame, as queries.shared_frames builds them. The first two
    # ops build their own leaves, as a session running only one of them
    # does; the third builds them once for both, as a session running
    # both does. Degree-ordered orientation: the hub contributes only
    # rank-above neighbors to the wedge fan-out — the naive undirected
    # form would enumerate hub-degree² (~2e10) wedge rows here
    def leaves():
        d = graph.degrees(edges).transform(lazy_checkpoint)
        return graph.edge_support(edges, d).transform(lazy_checkpoint), d

    def census_and_truss():
        sup, d = leaves()
        _materialize(graph.triangle_stats(sup, d))
        return _materialize(graph.k_truss(sup, k=3, max_rounds=4))

    _bench("triangle census", lambda: _materialize(
        graph.triangle_stats(*leaves())))
    _bench("k_truss (k=3)", lambda: _materialize(
        graph.k_truss(leaves()[0], k=3, max_rounds=4)))
    _bench("census + k_truss, one support", census_and_truss)


# --- round-9 panel: per-ROW width (long documents) -------------------------
# sf* documents average ~100 tokens, so nothing at bench scale tests
# per-row state width: 350 KB strings through the regex-heavy gates,
# 50k-element token arrays through HOF lambdas, 50k shingles exploding
# PER DOC. This is the third scale axis (rows, groups, now row WIDTH).


def longdoc_panel(spark, num_docs: int = 1_000, tokens_per_doc: int = 50_000) -> None:
    from sparkprep.operators import dedup, text

    vocab = F.array(*[F.lit(w) for w in VOCAB])
    tok = spark.range(num_docs * tokens_per_doc).select(
        (F.col("id") % num_docs).alias("doc_id"),
        F.element_at(
            vocab, (F.pmod(F.xxhash64("id"), 30) + 1).cast("int")
        ).alias("tok"),
    )
    # fold natively (no per-element lambdas; token order within a doc is
    # irrelevant to every op below) — collect_list partials map-side
    docs = tok.groupBy("doc_id").agg(F.concat_ws(" ", F.collect_list("tok")).alias("text"))
    docs.repartition(32).write.mode("overwrite").parquet("/tmp/scale_longdocs.parquet")
    docs = spark.read.parquet("/tmp/scale_longdocs.parquet")
    avg_b = docs.select(F.avg(F.length("text"))).collect()[0][0]
    print(
        f"--- longdoc panel: {num_docs:,} docs x {tokens_per_doc:,} tokens "
        f"(~{avg_b / 1024:.0f} KB/doc; bench docs are ~100 tokens) ---",
        flush=True,
    )
    _bench("text stats (wide rows)", lambda: _materialize(docs.select(
        text.token_count("text"), text.char_count("text"))))
    _bench("gopher gate (350KB regexes)", lambda: _materialize(
        text.gopher_quality_flags(docs, "text").select("doc_id", "pass")))
    _bench("char entropy", lambda: _materialize(
        text.add_char_entropy(docs, "text").select("doc_id", "char_entropy")))
    _bench("chunking (512-tok windows)", lambda: _materialize(
        text.chunk_documents(docs, "text", "doc_id", width=512, stride=512)))
    _bench("span dedup (512-tok chunks)", lambda: _materialize(
        text.dedup_spans(docs, "text", "doc_id", width=512)
        .select("doc_id", "n_chunks", "n_kept")))
    _bench("minhash signatures (50k shingles/doc)", lambda: _materialize(
        dedup.minhash_signatures(docs, "text", "doc_id")))
    _bench("simhash (50k tokens/doc)", lambda: _materialize(
        dedup.simhash(docs, "text", "doc_id")))
    _bench("unigram LM score", lambda: _materialize(
        text.unigram_lm_score(docs, "text", "doc_id")))


# --- round-9 panel: per-VECTOR width (high-dim embeddings) ------------------
# The embeddings table is 64-dim; interpreted HOF lambdas cost ~1µs per
# ELEMENT (CLAUDE.md), so a 1024-dim corpus multiplies every Catalyst
# vector fold by 16x. The quantize and cosine top-k twins still print
# native vs Arrow on the same data; the bucketed operators have one
# path each.


def widevec_panel(
    spark, num_vecs: int = 50_000, dims: int = 1_024, corpus: str = "dup"
) -> None:
    """``corpus="dup"``: 1,000 distinct vectors, each 50 times (ids that
    agree mod 1,000 share a vector), so buckets hold thousands of exact
    duplicates. ``corpus="distinct"``: every vector distinct, in groups
    of 10 noisy copies of a seeded base vector (cosine ~0.99 within a
    group), so every candidate pair folds its own dot."""
    from sparkprep.operators import quantize, similarity

    def gen(batches):
        import numpy as np
        import pandas as pd

        for b in batches:
            ids = b["id"].to_numpy()
            if corpus == "dup":
                grid = (ids[:, None] * 2654435761 + np.arange(dims)[None, :] * 97) % 1000
                arr = grid / 500.0 - 1.0
            else:
                arr = np.stack([
                    np.random.RandomState(i // 10).normal(size=dims)
                    + 0.1 * np.random.RandomState(1_000_000 + i).normal(size=dims)
                    for i in ids
                ])
            yield pd.DataFrame({"vec_id": ids, "embedding": list(arr)})

    vecs = (
        spark.range(num_vecs)
        .repartition(32)
        .mapInPandas(gen, "vec_id long, embedding array<double>")
    )
    vecs.write.mode("overwrite").parquet("/tmp/scale_widevecs.parquet")
    vecs = spark.read.parquet("/tmp/scale_widevecs.parquet")
    print(
        f"--- widevec panel: {num_vecs:,} {corpus} vecs x {dims} dims "
        f"(bench embeddings are 64-dim) ---", flush=True,
    )
    native_slice = vecs.filter(F.col("vec_id") < num_vecs // 5)
    _bench(f"quantize fidelity NATIVE ({num_vecs // 5 // 1000}k)", lambda: _materialize(
        quantize.reconstruction_stats(native_slice, "embedding").select(
            "vec_id", "mean_abs_err", "cos_fidelity")))
    _bench("quantize fidelity ARROW (5x corpus)", lambda: _materialize(
        quantize.reconstruction_stats_arrow(vecs, "vec_id", "embedding").select(
            "vec_id", "mean_abs_err", "cos_fidelity")))
    queries = vecs.filter(F.col("vec_id") < 3)
    _bench("cosine top-k NATIVE (3 queries)", lambda: _materialize(
        similarity.cosine_topk_native(native_slice, queries)))
    qv = {int(r["vec_id"]): list(r["embedding"]) for r in queries.collect()}
    _bench("cosine top-k ARROW (3 queries, 5x corpus)", lambda: _materialize(
        similarity.cosine_topk_arrow(vecs, qv)))
    import math

    # the five bucketed vector operators have one path each (Arrow
    # kernels replaying the Catalyst left fold), run once on the corpus
    planes = max(8, math.ceil(math.log2(max(num_vecs, 1) / (8 * 25))))
    _bench(f"semantic dedup (8x2^{planes})", lambda: _materialize(
        similarity.semantic_dedup(vecs, dim=dims, num_planes=planes)))
    _bench("matryoshka stats (k=64)", lambda: _materialize(
        quantize.matryoshka_stats(vecs, "embedding", k=64)))
    nn_planes = max(8, math.ceil(math.log2(max(num_vecs, 1) / 25)))
    _bench(f"near-dup pairs (2^{nn_planes}, >=0.95)", lambda: _materialize(
        similarity.embedding_near_dup_pairs(
            vecs, threshold=0.95, num_planes=nn_planes, dim=dims)))
    _bench(f"mutual NN (2^{nn_planes})", lambda: _materialize(
        similarity.mutual_nn_pairs(vecs, num_planes=nn_planes, dim=dims)))
    q20 = vecs.filter(F.col("vec_id") < 20)
    _bench(f"ann_lsh (20q, 2^{nn_planes}, 4 probes)", lambda: _materialize(
        similarity.ann_lsh_topk(
            vecs, q20, num_planes=nn_planes, dim=dims, num_probes=4)))
    _bench("ann_ivf (20q, 32 cells)", lambda: _materialize(
        similarity.ann_ivf_topk(vecs, q20, num_centroids=32, num_probes=2)))
    labeled = vecs.withColumn("label", F.pmod("vec_id", 16))
    _bench("negative mining (2000 buckets)", lambda: _materialize(
        similarity.negative_pairs(labeled, k=3, buckets=2000)))


# --- round-10 panel: streaming state growth ---------------------------------
# The one op class none of the other panels exercises (VERDICT r9 #3):
# stateful streaming. Land WAVES of event files (one file = one
# micro-batch via maxFilesPerTrigger=1, each wave one hour later), drive
# the registered streaming operators through Trigger.AvailableNow, and
# read the state-store size per progress event
# (q.recentProgress[*]["stateOperators"]). The invariant: state rows
# PLATEAU once the watermark horizon fills — sustained growth in the
# late batches means state is never expired (unbounded on a real
# 24/7 stream) and the panel FAILS.


def _land_wave(df, in_dir: str, name: str) -> None:
    """Land a frame as FLAT part-files (the file source lists its input
    dir non-recursively — a nested directory is silently never seen,
    CLAUDE.md)."""
    import glob
    import shutil
    import tempfile

    stage = tempfile.mkdtemp(prefix="sparkprep-wave-")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    os.makedirs(in_dir, exist_ok=True)
    for i, f in enumerate(sorted(glob.glob(os.path.join(stage, "*.parquet")))):
        shutil.move(f, os.path.join(in_dir, f"{name}-{i}.parquet"))
    shutil.rmtree(stage, ignore_errors=True)


def _drain_noop(stream_df, ckpt: str, output_mode: str = "append"):
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("noop")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    return q


def _state_curve(q) -> list:
    """[(batch_id, op_name, state_rows, state_bytes)] from the finished
    query's progress history."""
    out = []
    for p in q.recentProgress:
        for op in p.get("stateOperators") or []:
            out.append(
                (
                    p["batchId"],
                    op.get("operatorName", "?"),
                    int(op.get("numRowsTotal", 0)),
                    int(op.get("memoryUsedBytes", 0)),
                )
            )
    return out


def _check_plateau(name: str, curve: list, tol: float = 1.3) -> None:
    """State must stop growing once the watermark horizon fills: the
    peak over the LAST quarter of batches must not exceed tol x the
    peak over the middle — sustained late growth = never-expired state."""
    by_batch: dict = {}
    for b, _opn, rows, _byts in curve:
        by_batch[b] = by_batch.get(b, 0) + rows
    batches = sorted(by_batch)
    rows = [by_batch[b] for b in batches]
    print(f"{name:34s} state rows/batch: {rows}", flush=True)
    if len(rows) < 8:
        print(f"{name}: too few batches for a plateau check", flush=True)
        return
    mid_peak = max(rows[len(rows) // 3 : 2 * len(rows) // 3 + 1])
    late_peak = max(rows[-(len(rows) // 4) :])
    if late_peak > tol * max(mid_peak, 1):
        raise SystemExit(
            f"STATE GROWTH: {name} late-batch state {late_peak} rows > "
            f"{tol}x mid-run peak {mid_peak} — state is not being expired"
        )


def streaming_panel(
    spark,
    num_users: int = 50_000,
    num_waves: int = 12,
    events_per_wave: int = 200_000,
) -> None:
    """Drive the registered streaming ops at ~10-50x the bench's key
    cardinality with hour-spaced waves and a 2h watermark, recording the
    state-store curve per micro-batch."""
    import shutil
    import tempfile

    from sparkprep.streaming import events as st
    from sparkprep.streaming import stateful

    base = tempfile.mkdtemp(prefix="sparkprep-streampanel-")
    in_dir = os.path.join(base, "in")
    t0 = 1_700_000_000  # fixed epoch base; waves advance one hour each

    def wave_frame(w: int, users: int, rows: int, id_prefix: str = ""):
        return spark.range(rows).select(
            (F.col("id") + w * rows).alias("event_id"),
            F.timestamp_micros(
                (
                    (t0 + w * 3600) * 1_000_000
                    + F.pmod(F.xxhash64(F.col("id") + w), 3_600_000_000)
                ).cast("long")
            ).alias("ts"),
            F.pmod(F.xxhash64(F.col("id") * 31 + w), users).alias("user_id"),
            F.element_at(
                F.array(F.lit("view"), F.lit("click"), F.lit("purchase"),
                        F.lit("refund"), F.lit("signup")),
                (F.pmod(F.xxhash64(F.col("id") + 7), 5) + 1).cast("int"),
            ).alias("event_type"),
            (F.pmod(F.xxhash64(F.col("id") + 13), 10_000) / 100.0).alias("value"),
        )

    for w in range(num_waves):
        _land_wave(wave_frame(w, num_users, events_per_wave), in_dir, f"wave{w:02d}")

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, value double"
    )

    def read_stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(in_dir)
        )

    print(
        f"--- streaming panel: {num_users:,} users, {num_waves} hourly waves "
        f"x {events_per_wave:,} events, 2h watermark ---",
        flush=True,
    )

    t = time.perf_counter()
    q = _drain_noop(
        st.windowed_agg_stream(read_stream(), window="1 hour", watermark="2 hours"),
        f"{base}/ck_win",
    )
    print(f"windowed_agg_stream drained in {time.perf_counter() - t:.1f}s")
    _check_plateau("windowed_agg_stream", _state_curve(q))

    t = time.perf_counter()
    q = _drain_noop(
        st.sessionize_stream(read_stream(), gap="30 minutes", watermark="2 hours"),
        f"{base}/ck_sess",
    )
    print(f"sessionize_stream drained in {time.perf_counter() - t:.1f}s")
    _check_plateau("sessionize_stream", _state_curve(q))

    t = time.perf_counter()
    q = _drain_noop(
        st.dedup_stream_within_watermark(
            read_stream(), ["event_id"], watermark="2 hours"
        ),
        f"{base}/ck_dedup",
    )
    print(f"dedup_within_watermark drained in {time.perf_counter() - t:.1f}s")
    _check_plateau("dedup_stream_within_watermark", _state_curve(q))

    # stream-stream join, both modes: clicks attribute to purchases
    # within 1h; state must expire at watermark + within
    def split_stream():
        ev = read_stream()
        clicks = ev.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        return clicks, purchases

    for how in ("inner", "left_outer"):
        clicks, purchases = split_stream()
        t = time.perf_counter()
        q = _drain_noop(
            st.join_streams(
                clicks, purchases, ("c_user", "p_user"),
                "click_ts", "purchase_ts", within="1 hour",
            ) if how == "inner" else st.join_streams(
                clicks, purchases, ("c_user", "p_user"),
                "click_ts", "purchase_ts", within="1 hour", how="left_outer",
            ),
            f"{base}/ck_join_{how}",
        )
        print(f"join_streams[{how}] drained in {time.perf_counter() - t:.1f}s")
        _check_plateau(f"join_streams[{how}]", _state_curve(q))

    # custom stateful: per-user running profile. State is a RUNNING
    # profile — by design it grows to |users| and must then go FLAT
    # (every later wave touches existing keys, adds none).
    t = time.perf_counter()
    q = _drain_noop(
        stateful.running_user_profile(read_stream()),
        f"{base}/ck_profile",
        output_mode="update",
    )
    print(f"running_user_profile drained in {time.perf_counter() - t:.1f}s")
    curve = _state_curve(q)
    _check_plateau("running_user_profile", curve, tol=1.05)
    final_rows = max(r for b, _o, r, _m in curve if b == max(c[0] for c in curve))
    assert final_rows <= num_users, (
        f"profile state {final_rows} rows exceeds user cardinality {num_users}"
    )
    print(f"running_user_profile final state rows={final_rows} (|users|<={num_users})")

    shutil.rmtree(base, ignore_errors=True)


def main() -> None:
    args = list(sys.argv[1:])
    panel = "core"
    if args and args[0] in (
        "core", "revenue", "graph", "longdoc", "widevec", "streaming", "all"
    ):
        panel = args.pop(0)
    # the host's cores, not session.default_parallelism()'s fallback of
    # 32: oversubscribing a small host buries op-level changes in noise
    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    spark = build_session(
        app_name="scale-smoke",
        master=f"local[{cores}]",
        shuffle_partitions=max(cores * 2, 8),
    )
    spark.sparkContext.setLogLevel("ERROR")
    print(f"master {spark.sparkContext.master}", flush=True)
    if panel in ("core", "all"):
        num_docs = int(args[0]) if args else 100_000
        num_rows = int(args[1]) if len(args) > 1 else 10_000_000
        core_panel(spark, num_docs, num_rows)
    if panel in ("revenue", "all"):
        rep = int(args[0]) if panel == "revenue" and args else 10
        mult = float(args[1]) if panel == "revenue" and len(args) > 1 else 100.0
        revenue_panel(spark, rep, mult)
    if panel in ("graph", "all"):
        nn = int(args[0]) if panel == "graph" and args else 1_000_000
        ne = int(args[1]) if panel == "graph" and len(args) > 1 else 10_000_000
        graph_panel(spark, nn, ne)
    if panel in ("longdoc", "all"):
        nd = int(args[0]) if panel == "longdoc" and args else 1_000
        tpd = int(args[1]) if panel == "longdoc" and len(args) > 1 else 50_000
        longdoc_panel(spark, nd, tpd)
    if panel in ("widevec", "all"):
        nv = int(args[0]) if panel == "widevec" and args else 50_000
        dims = int(args[1]) if panel == "widevec" and len(args) > 1 else 1_024
        corpus = args[2] if panel == "widevec" and len(args) > 2 else "dup"
        if corpus not in ("dup", "distinct"):
            raise SystemExit(f"widevec corpus must be dup or distinct, got {corpus!r}")
        widevec_panel(spark, nv, dims, corpus)
    if panel in ("streaming", "all"):
        nu = int(args[0]) if panel == "streaming" and args else 50_000
        nw = int(args[1]) if panel == "streaming" and len(args) > 1 else 12
        epw = int(args[2]) if panel == "streaming" and len(args) > 2 else 200_000
        streaming_panel(spark, nu, nw, epw)
    spark.stop()


if __name__ == "__main__":
    main()
