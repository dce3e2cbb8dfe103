"""ML feature pipeline (M1-M9) + multimodal plumbing + pipeline composer
+ sinks — behavioral tests (metric floors, not hashes: nondeterminism
quarantine per SURVEY §7)."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from sparkprep.operators import features as ft
from sparkprep.operators import multimodal as mm
from sparkprep.plans import Pipeline, explain_formatted
from sparkprep.sources import writers


@pytest.fixture(scope="module")
def loan_df(spark):
    """Miniature 2-class loan table (FIXTURES.md F3 spirit): grade and
    home_ownership categoricals, dti to bucketize, numeric features."""
    rows = []
    for i in range(200):
        status = "Fully Paid" if i % 3 else "Charged Off"
        rows.append(
            (
                float(1000 + i * 17 % 5000),
                "ABCDEFG"[i % 7],
                ["MORTGAGE", "RENT", "OWN"][i % 3],
                float(i % 40),
                status,
            )
        )
    return spark.createDataFrame(
        rows, ["loan_amnt", "grade", "home_ownership", "dti", "loan_status"]
    )


def test_feature_pipeline_assembles(loan_df):
    plan = ft.FeaturePlan(
        label_col="loan_status",
        categorical=["grade", "home_ownership"],
        continuous=["loan_amnt"],
        bucketize={"dti": [-1.0, 0.0, 10.0, 20.0, 30.0, float("inf")]},
    )
    pipe = ft.build_feature_pipeline(plan)
    model = pipe.fit(loan_df)
    out = model.transform(loan_df)
    assert "features" in out.columns and "indexedLabel" in out.columns
    layers = ft.mlp_layers_from_features(out, hidden=[8], num_classes=3)
    assert layers[0] == out.schema["features"].metadata["ml_attr"]["num_attrs"]
    assert layers == [layers[0], 8, 3]


def test_subset_search_guards_exponential_fit_count(spark):
    # the 2^n driver-loop cost is the caller's bill (M8 reference
    # parity) — but the operator must refuse an unbounded blow-up
    plan = ft.FeaturePlan(label_col="y", categorical=[], continuous=[])
    cols = [f"c{i}" for i in range(12)]
    with pytest.raises(ValueError, match="pipeline fits"):
        ft.subset_search(None, None, plan, cols, None)
    # bounded search over the same columns is accepted (generator
    # construction succeeds; no fit is attempted on the None frames)
    gen = ft.subset_search(None, None, plan, cols, None, max_size=1)
    assert gen is not None


def test_confusion_metrics_in_spark(spark):
    scored = spark.createDataFrame(
        [(1.0, 1.0)] * 40 + [(1.0, 0.0)] * 10 + [(0.0, 0.0)] * 45 + [(0.0, 1.0)] * 5,
        ["indexedLabel", "prediction"],
    )
    m = ft.confusion_metrics(scored)
    assert (m["tp"], m["fn"], m["tn"], m["fp"]) == (40, 10, 45, 5)
    assert m["accuracy"] == pytest.approx(0.85)
    assert m["ppv"] == pytest.approx(40 / 45)
    assert m["sensitivity"] == pytest.approx(0.8)


def test_mlpc_end_to_end_metric_floor(loan_df):
    """EP3 shape: prep -> split -> MLPC fit -> metrics in Spark.
    Seeded; asserts a sanity floor, not exact values."""
    plan = ft.FeaturePlan(
        label_col="loan_status",
        categorical=["grade"],
        continuous=["loan_amnt", "dti"],
    )
    prep = ft.build_feature_pipeline(plan).fit(loan_df)
    train, test = loan_df.randomSplit([0.8, 0.2], seed=42)
    train_t, test_t = prep.transform(train), prep.transform(test)
    layers = ft.mlp_layers_from_features(train_t, hidden=[8, 5], num_classes=3)
    model = ft.build_mlpc(layers, seed=42).fit(train_t)
    m = ft.confusion_metrics(model.transform(test_t), positive=0.0)
    assert m["accuracy"] is not None and m["accuracy"] >= 0.5


def test_multimodal_decode_plumbing(spark):
    base = spark.range(50).select(F.col("id"))
    media = mm.synthesize_media(base, "id", "image")
    assert [(f.name, f.dataType) for f in media.schema.fields] == [
        (f.name, f.dataType) for f in mm.MEDIA_SCHEMA.fields
    ]
    decoded = mm.decode_media(media, fake=True)
    rows = decoded.collect()
    assert len(rows) == 50
    assert all(len(r.feature) == 16 for r in rows)
    assert all(16 <= r.width < 256 for r in rows)
    # determinism: same ids -> same features
    again = {r.media_id: r.feature for r in mm.decode_media(media, fake=True).collect()}
    assert all(again[r.media_id] == r.feature for r in rows)


def test_multimodal_real_decode_raises(spark):
    # only meaningful where the optional codec lib is ABSENT: the
    # missing-library path must be loud, never silently fake
    try:
        import soundfile  # noqa: F401

        pytest.skip("soundfile installed; missing-lib path not reachable")
    except ImportError:
        pass
    media = mm.synthesize_media(spark.range(3), "id", "audio")
    with pytest.raises(Exception) as exc:
        mm.decode_media(media, fake=False).collect()
    assert "NotImplementedError" in str(exc.value) or "real media decode" in str(exc.value)


def test_multimodal_real_image_decode_with_pil(spark):
    # runs only where PIL exists (skip-not-fail otherwise): real PNG
    # payloads flow through the SAME mapInPandas plumbing as the stub
    pytest.importorskip("PIL")
    import io

    from PIL import Image

    rows = []
    for i in range(3):
        img = Image.new("RGB", (8 + i, 6), color=(10 * i, 20, 30))
        buf = io.BytesIO()
        img.save(buf, format="PNG")
        payload = buf.getvalue()
        rows.append((i, "image", bytearray(payload), f"mem://{i}", len(payload)))
    media = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = mm.decode_media(media, fake=False).collect()
    got = {r.media_id: (r.width, r.height, r.n_frames) for r in out}
    assert got == {0: (8, 6, 1), 1: (9, 6, 1), 2: (10, 6, 1)}
    assert all(len(r.feature) == 16 for r in out)
    assert all(0.0 <= x <= 1.0 for r in out for x in r.feature)


def test_frame_sample_and_feature_table(spark):
    media = mm.synthesize_media(spark.range(20), "id", "video")
    decoded = mm.decode_media(media, fake=True)
    sampled = mm.frame_sample(decoded, every_nth=30)
    rows = sampled.collect()
    assert all(r.n_sampled == len(r.sampled_frames) >= 1 for r in rows)
    feats = mm.media_feature_table(decoded)
    assert feats.columns == ["vec_id", "embedding"]


def test_pipeline_report(spark):
    df = spark.range(1000).select(F.col("id"), (F.col("id") % 7).alias("k"))
    pipe = (
        Pipeline()
        .add("filter", lambda d: d.filter(F.col("id") > 10))
        .add("agg", lambda d: d.groupBy("k").count(), count_rows=True)
    )
    out, finish = pipe.run_observed(df)
    out.collect()
    report = finish()
    assert report.steps[1].rows_out == 7
    assert report.total_seconds > 0
    assert [r["step"] for r in report.as_rows()] == ["filter", "agg"]


def test_bq_emulated_sink_contract(spark):
    df = spark.range(10).select(
        F.col("id").cast("double").alias("loan_amnt"),
        F.lit("A").alias("grade"),
    )
    staging = tempfile.mkdtemp(prefix="sparkprep-bq-")
    try:
        manifest = writers.bq_load_emulated(df, staging, "ds", "tbl")
        assert manifest["schema_string"] == "loan_amnt:FLOAT,grade:STRING"
        assert "bq load --source_format=CSV --replace" in manifest["command"]
        back = spark.read.csv(manifest["staging_path"], header=False).count()
        assert back == 10
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def test_plan_assertions(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 10).select("l_orderkey", "l_quantity")
    plan = explain_formatted(q)
    assert "PushedFilters" in plan  # predicate reached the parquet scan
    assert "l_extendedprice" not in plan.split("ReadSchema")[-1]  # pruned

def test_resize_plan_bounds_and_aspect(spark):
    from sparkprep.operators import multimodal as mm

    base = spark.range(64).select(F.col("id"))
    media = mm.synthesize_media(base, "id", "image")
    decoded = mm.decode_media(media, fake=True)
    planned = mm.resize_plan(decoded, max_side=64)
    rows = planned.select("width", "height", "target_w", "target_h").collect()
    assert rows
    for r in rows:
        assert 1 <= r["target_w"] <= 64 and 1 <= r["target_h"] <= 64
        # no upscale
        assert r["target_w"] <= r["width"] and r["target_h"] <= r["height"]
        # aspect preserved within rounding (1px)
        if r["width"] >= r["height"]:
            expect_h = round(r["height"] * min(1.0, 64 / r["width"]))
            assert abs(r["target_h"] - max(1, expect_h)) <= 1


def test_resize_media_stub_plumbing_matches_plan(spark):
    from sparkprep.operators import multimodal as mm

    base = spark.range(32).select(F.col("id"))
    media = mm.synthesize_media(base, "id", "image")
    resized = mm.resize_media(media, max_side=64, fake=True)
    decoded = mm.resize_plan(mm.decode_media(media, fake=True), max_side=64)
    got = {r["media_id"]: (r["target_w"], r["target_h"]) for r in resized.collect()}
    want = {r["media_id"]: (r["target_w"], r["target_h"]) for r in decoded.collect()}
    assert got == want
    # stub passes payloads through unchanged
    n0 = {r["media_id"]: bytes(r["content"]) for r in media.collect()}
    n1 = {r["media_id"]: bytes(r["content"]) for r in resized.collect()}
    assert n0 == n1


def test_resize_media_real_path_raises_without_pil(spark):
    import pytest as _pytest

    from sparkprep.operators import multimodal as mm

    try:
        import PIL  # noqa: F401
        _pytest.skip("PIL present — real path exercised elsewhere")
    except ImportError:
        pass
    base = spark.range(4).select(F.col("id"))
    media = mm.synthesize_media(base, "id", "image")
    from py4j.protocol import Py4JJavaError

    with _pytest.raises(Exception) as exc:
        mm.resize_media(media, fake=False).collect()
    assert "NotImplementedError" in str(exc.value) or isinstance(
        exc.value, Py4JJavaError
    )


def test_extract_frames_explode_shape(spark):
    # row-exploding mapInPandas: output rows = sum over videos of
    # ceil(n_frames / every_nth), deterministic from the stub decoder
    media = mm.synthesize_media(spark.range(15), "id", "video")
    decoded = mm.decode_media(media, fake=True)
    expected = {
        r.media_id: (r.n_frames + 29) // 30 for r in decoded.collect()
    }
    frames = mm.extract_frames(media, every_nth=30, fake=True)
    rows = frames.collect()
    got = {}
    for r in rows:
        got[r.media_id] = got.get(r.media_id, 0) + 1
        assert r.frame_idx % 30 == 0
        assert len(bytes(r.frame)) == 16          # md5-derived stub frame
        assert r.width >= 16 and r.height >= 16
    assert got == expected
    # deterministic replay: same ids -> same frame bytes
    again = {(r.media_id, r.frame_idx): bytes(r.frame) for r in frames.collect()}
    first = {(r.media_id, r.frame_idx): bytes(r.frame) for r in rows}
    assert again == first


def test_extract_frames_ignores_non_video_and_raises_real(spark):
    images = mm.synthesize_media(spark.range(5), "id", "image")
    assert mm.extract_frames(images, fake=True).count() == 0
    videos = mm.synthesize_media(spark.range(2), "id", "video")
    import pytest as _pytest

    with _pytest.raises(Exception, match="ffmpeg|NotImplemented"):
        mm.extract_frames(videos, fake=False).collect()
