"""Structured Streaming path: drain the events table through
Trigger.AvailableNow and reconcile against the equivalent batch
aggregation — the unified-API property the module exists for."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from sparkprep import streaming as st
from sparkprep.queries import t as load_table


@pytest.fixture(scope="module")
def ckpt():
    d = tempfile.mkdtemp(prefix="sparkprep-ckpt-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_windowed_stream_matches_batch(spark, sf_dir, ckpt):
    stream = st.read_events_stream(spark, f"{sf_dir}/events.parquet")
    agg = st.windowed_agg_stream(stream, window="1 hour", watermark="2 hours")
    st.run_available_now(
        agg, query_name="win_agg", output_mode="append", checkpoint=f"{ckpt}/win_agg"
    )
    got = spark.sql("SELECT * FROM win_agg")

    batch = load_table(spark, sf_dir, "events")
    expected = (
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type", "n_events", "sum_value",
        )
    )
    # append mode only emits windows FINALIZED by the watermark: windows
    # with end > (max event time - watermark) stay in state when the
    # AvailableNow drain stops — that bounded-state behavior is the
    # semantics under test, so reconcile against the finalized subset.
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    finalized = expected.filter(
        F.col("window_end") <= F.lit(max_ts) - F.expr("INTERVAL 2 HOURS")
    )
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    got_rows, exp_rows = key(got), key(finalized)
    assert got_rows == exp_rows
    # only the tail horizon may be held back: at most (watermark + 1)
    # hourly windows per event type — a constant bound broke at sf0.01,
    # where 5 event types x 3 horizon windows = 15 held-back rows
    n_types = batch.select("event_type").distinct().count()
    assert len(key(expected)) - len(exp_rows) <= 3 * n_types


def test_streaming_dedup(spark, sf_dir, ckpt):
    stream = st.read_events_stream(spark, f"{sf_dir}/events.parquet")
    doubled = stream.union(stream)  # duplicate every event
    dd = st.dedup_stream(doubled, keys=["event_id"], watermark="2 hours")
    st.run_available_now(
        dd, query_name="dedup_stream", output_mode="append",
        checkpoint=f"{ckpt}/dedup",
    )
    got = spark.sql("SELECT count(*) AS n FROM dedup_stream").collect()[0].n
    total = load_table(spark, sf_dir, "events").count()
    assert got == total


def test_sessionize_stream_runs(spark, sf_dir, ckpt):
    stream = st.read_events_stream(spark, f"{sf_dir}/events.parquet")
    sess = st.sessionize_stream(stream, gap="10 minutes", watermark="2 hours")
    st.run_available_now(
        sess, query_name="sessions", output_mode="append", checkpoint=f"{ckpt}/sess"
    )
    rows = spark.sql("SELECT * FROM sessions").collect()
    assert rows, "expected at least one closed session"
    # sessions are per-user, start <= end, with positive event counts
    assert all(r.session_start <= r.session_end and r.n_events > 0 for r in rows)


def test_foreach_batch_parquet_roundtrip(spark, sf_dir, ckpt):
    out_dir = tempfile.mkdtemp(prefix="sparkprep-stream-out-")
    try:
        stream = st.read_events_stream(spark, f"{sf_dir}/events.parquet")
        captured = []

        def sink(batch_df, batch_id):
            captured.append(batch_id)
            batch_df.write.mode("append").parquet(out_dir)

        st.run_available_now(
            stream, foreach_batch=sink, checkpoint=f"{ckpt}/feb", output_mode="append"
        )
        written = spark.read.parquet(out_dir).count()
        assert written == load_table(spark, sf_dir, "events").count()
        assert captured
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)

def test_enrich_stream_matches_batch_join(spark, sf_dir, ckpt):
    stream = st.read_events_stream(spark, f"{sf_dir}/events.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = st.enrich_stream(stream, cust, "user_id").select(
        "event_id", "user_id", "c_mktsegment"
    )
    st.run_available_now(
        enriched, query_name="enriched", output_mode="append",
        checkpoint=f"{ckpt}/enrich",
    )
    got = spark.sql("SELECT * FROM enriched")

    batch = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    expected = batch.join(cust, "user_id", "left").select(
        "event_id", "user_id", "c_mktsegment"
    )
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    assert key(got) == key(expected)


def test_stream_stream_join_matches_batch(spark, sf_dir, ckpt):
    # attribution: purchases within 1 hour of a click by the same user.
    # AvailableNow drains the file source in one micro-batch, so every
    # inner-join match is emitted before the query stops — exact batch
    # reconcile is valid.
    def split(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        purchases = df.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            "value",
        )
        return clicks, purchases

    s_clicks, _ = split(st.read_events_stream(spark, f"{sf_dir}/events.parquet"))
    _, s_purch = split(st.read_events_stream(spark, f"{sf_dir}/events.parquet"))
    joined = st.join_streams(
        s_clicks, s_purch, on=("c_user", "p_user"),
        left_ts="click_ts", right_ts="purchase_ts", within="1 hour",
    )
    st.run_available_now(
        joined, query_name="attribution", output_mode="append",
        checkpoint=f"{ckpt}/ss_join",
    )
    got = spark.sql("SELECT click_id, purchase_id FROM attribution")

    b_clicks, b_purch = split(load_table(spark, sf_dir, "events"))
    expected = b_clicks.join(
        b_purch,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 hour")),
    ).select("click_id", "purchase_id")
    key = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    got_rows, exp_rows = key(got), key(expected)
    assert got_rows == exp_rows
    assert got_rows, "expected at least one attributed purchase"


def test_streaming_incremental_dedup_matches_batch(spark, sf_dir, ckpt, monkeypatch):
    # two micro-batches of arriving docs (half mutants of the reference
    # corpus, half fresh) dedup against the static corpus per batch;
    # the union of survivors must equal the batch-mode answer.
    import tempfile

    from pyspark.sql import functions as F

    from sparkprep.operators import dedup

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mutants = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 50000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+ ", "").alias("text"),
    )
    fresh = docs.filter(F.col("doc_id") % 7 == 1).select(
        (F.col("doc_id") + 60000).alias("doc_id"),
        F.reverse("text").alias("text"),  # unrelated content
    )
    arriving = mutants.unionByName(fresh)

    src = tempfile.mkdtemp(prefix="sparkprep-arrivals-")
    out = tempfile.mkdtemp(prefix="sparkprep-survivors-") + "/out"
    mutants.write.mode("append").parquet(src)  # file 1 = batch 1
    fresh.write.mode("append").parquet(src)  # file(s) 2 = batch 2

    stream = (
        spark.readStream.schema(arriving.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # the sink sketches the static reference once, when it is made, and
    # each micro-batch only itself: 1 + 2 signature builds, not 2 per batch
    builds = []
    build = dedup.minhash_signatures

    def counted(*args, **kwargs):
        builds.append(args)
        return build(*args, **kwargs)

    monkeypatch.setattr(dedup, "minhash_signatures", counted)
    st.run_available_now(
        stream,
        foreach_batch=st.foreach_batch_incremental_dedup(
            docs, "text", "doc_id", out, est_threshold=0.5
        ),
        checkpoint=f"{ckpt}/inc_dedup",
    )
    monkeypatch.undo()
    assert len(builds) == 3
    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    expected = sorted(
        r["doc_id"]
        for r in dedup.incremental_minhash_filter(
            arriving,
            dedup.minhash_signatures(arriving, "text", "doc_id"),
            dedup.minhash_signatures(docs, "text", "doc_id"),
            "doc_id",
            est_threshold=0.5,
        ).collect()
    )
    assert got == expected
    # every fresh (reversed) doc must survive; it's not in the corpus
    fresh_ids = {r["doc_id"] for r in fresh.select("doc_id").collect()}
    assert fresh_ids <= set(got)


def test_streaming_quality_gate_matches_batch(spark, sf_dir, ckpt):
    """The gate is a stateless map: streaming survivors must equal the
    batch gate's survivors exactly (ids compared, not just counts)."""
    from sparkprep.operators.text import EN_STOPWORDS, gopher_quality_flags
    from sparkprep.streaming import corpus as sc

    out_dir = tempfile.mkdtemp(prefix="sparkprep-gate-out-")
    try:
        stream = sc.read_documents_stream(
            spark, f"{sf_dir}/documents.parquet", max_files_per_trigger=1
        )
        gated = sc.gated_stream(stream, required_stopwords=EN_STOPWORDS)
        (
            gated.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", f"{ckpt}/gate")
            .trigger(availableNow=True)
            .start()
            .awaitTermination(120)
        )
        got = {
            r["doc_id"] for r in spark.read.parquet(out_dir).select("doc_id").collect()
        }
        batch = load_table(spark, sf_dir, "documents")
        want = {
            r["doc_id"]
            for r in gopher_quality_flags(
                batch, "text", required_stopwords=EN_STOPWORDS
            )
            .filter(F.col("pass"))
            .select("doc_id")
            .collect()
        }
        assert got == want and len(want) > 0
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def test_dedup_within_watermark_collapses_perturbed_ts(spark, sf_dir, ckpt):
    # at-least-once replay with re-stamped timestamps: the duplicate
    # arrives 1 second later. dropDuplicates(event_id, ts) keeps both;
    # dropDuplicatesWithinWatermark(event_id) collapses them.
    stream = st.read_events_stream(spark, f"{sf_dir}/events.parquet")
    replay = stream.withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 SECOND"))
    dd = st.dedup_stream_within_watermark(
        stream.union(replay), keys=["event_id"], watermark="2 hours"
    )
    st.run_available_now(
        dd, query_name="dedup_wm", output_mode="append",
        checkpoint=f"{ckpt}/dedup_wm",
    )
    total = load_table(spark, sf_dir, "events").count()
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_wm").collect()[0]
    assert got.n == total        # every duplicate collapsed
    assert got.d == total        # and every original survived


def test_stream_stream_left_outer_join_matches_batch(spark, sf_dir, ckpt):
    # same attribution shape, but clicks with NO purchase must surface
    # as null-padded rows once the watermark proves no match can still
    # arrive. Reconcile on the finalized horizon only: a click is
    # finalized when click_ts + within + watermark <= max event time.
    def split(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        purchases = df.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        return clicks, purchases

    s_clicks, _ = split(st.read_events_stream(spark, f"{sf_dir}/events.parquet"))
    _, s_purch = split(st.read_events_stream(spark, f"{sf_dir}/events.parquet"))
    joined = st.join_streams(
        s_clicks, s_purch, on=("c_user", "p_user"),
        left_ts="click_ts", right_ts="purchase_ts", within="1 hour",
        watermarks=("2 hours", "2 hours"), how="left_outer",
    )
    st.run_available_now(
        joined, query_name="attribution_outer", output_mode="append",
        checkpoint=f"{ckpt}/ss_join_outer",
    )
    got = spark.sql("SELECT click_id, purchase_id FROM attribution_outer")

    batch = load_table(spark, sf_dir, "events")
    b_clicks, b_purch = split(batch)
    expected = b_clicks.join(
        b_purch,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 hour")),
        "left",
    ).select("click_id", "purchase_id", "click_ts")
    # The query-wide watermark is min over BOTH watermark operators:
    # min(max click ts, max purchase ts) - 2h. An unmatched click emits
    # once click_ts + within < that watermark. Backed off 1s: the
    # engine's watermark is ms-truncated and eviction is strict, so a
    # click exactly AT the horizon is legitimately still buffered.
    wm_base = min(
        b_clicks.agg(F.max("click_ts")).collect()[0][0],
        b_purch.agg(F.max("purchase_ts")).collect()[0][0],
    )
    horizon = F.lit(wm_base) - F.expr("INTERVAL 3 hours") - F.expr("INTERVAL 1 second")
    exp_final = expected.filter(F.col("click_ts") <= horizon).select("click_id", "purchase_id")
    got_final = got.join(
        expected.filter(F.col("click_ts") <= horizon).select("click_id").distinct(),
        "click_id",
    ).select("click_id", "purchase_id")
    key = lambda df: sorted((r.click_id, r.purchase_id) for r in df.collect())  # noqa: E731
    got_rows, exp_rows = key(got_final), key(exp_final)
    assert got_rows == exp_rows
    assert any(p is None for _, p in exp_rows), "expected unmatched clicks in the horizon"
    assert any(p is not None for _, p in exp_rows), "expected matched clicks in the horizon"


def test_synthetic_event_stream_windowed_agg(spark, ckpt):
    # custom streaming DataSource driving the engine's windowed agg:
    # exactly-once offsets + deterministic generation -> the drained
    # result must equal the batch recompute over the same event ids
    from sparkprep.sources.synthetic import _event, register_stream

    register_stream(spark)
    stream = (
        spark.readStream.format("synthetic_events")
        .option("events_per_batch", 2000).option("seed", 7).load()
    )
    agg = st.windowed_agg_stream(stream, window="1 hour", watermark="30 minutes")
    q = (
        agg.writeStream.format("memory").queryName("synth_agg")
        .outputMode("append").option("checkpointLocation", f"{ckpt}/synth_agg")
        .trigger(processingTime="250 milliseconds").start()
    )
    # progress-aware: wait for finalized windows to land (python stream
    # sources have ~10s startup latency; a fixed sleep flakes on slow
    # machines), bounded by a generous deadline
    import time
    deadline = time.time() + 60
    while time.time() < deadline:
        if spark.sql("SELECT count(*) AS n FROM synth_agg").collect()[0].n > 0:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination()
    got = spark.sql("SELECT * FROM synth_agg").collect()
    assert got, "no finalized windows emitted within the deadline"
    # validate per-row consistency instead of prefix length (the drain
    # point is timing-dependent): every emitted window must equal the
    # batch aggregate over ALL events in that window, recomputed from
    # the same deterministic generator
    rows = [
        _event(i, 7) for i in range(0, 100_000)
    ]  # superset of anything the 5s drain produced (7s spacing/event)
    import collections
    exp = collections.defaultdict(lambda: [0, 0.0])
    for eid, ts, uid, etype, val in rows:
        wstart = ts.replace(minute=0, second=0, microsecond=0)
        exp[(wstart, etype)][0] += 1
        exp[(wstart, etype)][1] += val
    for r in got:
        e = exp[(r.window_start, r.event_type)]
        assert r.n_events == e[0], (r, e)
        assert abs(r.sum_value - round(e[1], 2)) < 0.05


def test_synthetic_stream_restart_exactly_once(spark, ckpt):
    # kill the query mid-stream, restart from the SAME checkpoint: the
    # offset log + deterministic readBetweenOffsets replay must yield
    # every event exactly once across the two runs
    import time

    from sparkprep.sources.synthetic import register_stream

    import tempfile

    register_stream(spark)
    out = tempfile.mkdtemp(prefix="sparkprep-restart-")

    def run(seconds):
        stream = (
            spark.readStream.format("synthetic_events")
            .option("events_per_batch", 500).option("seed", 11).load()
        )
        q = (
            stream.writeStream.format("parquet").option("path", out)
            .outputMode("append").option("checkpointLocation", f"{ckpt}/restart_eo")
            .trigger(processingTime="200 milliseconds").start()
        )
        # progress-aware stop: wait until at least one batch with rows
        # COMMITTED (python stream sources have startup latency), then
        # a little longer so the restart has something to resume past
        deadline = time.time() + 30
        while time.time() < deadline:
            p = q.lastProgress
            if p and p.get("sink", {}).get("numOutputRows", 0) > 0:
                break
            time.sleep(0.3)
        time.sleep(seconds)
        q.stop()
        q.awaitTermination()

    run(2)
    n1 = spark.read.parquet(out).count()
    run(2)
    ids = [r.event_id for r in spark.read.parquet(out).collect()]
    # exactly-once across the restart: the file sink's commit log plus
    # the source's offset log must neither duplicate nor lose events
    assert len(ids) == len(set(ids)), "duplicate events after restart"
    assert len(ids) > n1, "restart made no progress"
    assert sorted(ids) == list(range(len(ids))), "gap in the event stream"
