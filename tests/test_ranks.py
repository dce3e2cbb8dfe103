"""ranks.range_prefix and its projections (global_rank / global_ntile /
global_cumsum) — the distributed exact twins of the single-partition
``Window.orderBy`` rank/ntile/running sum (VERDICT r5 #2).

The range-pass queries (gini_revenue / lorenz_curve, also registered
as gini_scale / lorenz_scale, and rfm_scale) are replayed against their
window-form DuckDB oracles in test_entry_oracle's sf0.001 replay, which
makes rfm_scale bit-identical to rfm_segments; these tests pin the
operator itself:
exact equality with Spark's own window functions across ties, n < k,
skewed values, and multi-key orderings — plus the plan contract that no
single-partition sort of the INPUT frame appears.
"""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sparkprep.operators import ranks
from tests.plan_util import no_lineage_cuts, simple_plan


def _df(spark, vals):
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], ["id", "v"]
    )


CASES = {
    "unique": [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 0.0],
    "ties": [1.0, 1.0, 1.0, 2.0, 2.0, 3.0, 3.0, 3.0, 3.0, 4.0],
    "constant": [7.0] * 13,
    "skewed": [0.0] * 50 + [1.0, 2.0, 3.0],
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_global_rank_matches_window_row_number(spark, name):
    df = _df(spark, CASES[name])
    order = [F.asc("v"), F.asc("id")]
    got = {
        r["id"]: r["rk"]
        for r in ranks.global_rank(df, order, rank_name="rk").collect()
    }
    want = {
        r["id"]: r["rk"]
        for r in df.select(
            "id", F.row_number().over(Window.orderBy(*order)).alias("rk")
        ).collect()
    }
    assert got == want


@pytest.mark.parametrize("k", [1, 2, 3, 5, 7])
@pytest.mark.parametrize("name", sorted(CASES))
def test_global_ntile_matches_window_ntile(spark, name, k):
    df = _df(spark, CASES[name])
    order = [F.asc("v"), F.asc("id")]
    got = {
        r["id"]: r["b"]
        for r in ranks.global_ntile(df, k, order, bucket_name="b").collect()
    }
    want = {
        r["id"]: r["b"]
        for r in df.select(
            "id", F.ntile(k).over(Window.orderBy(*order)).alias("b")
        ).collect()
    }
    assert got == want


def test_global_ntile_fewer_rows_than_buckets(spark):
    # n < k: SQL ntile gives row i bucket i; the q=0 branch of
    # ntile_from_rank must not be reached (ANSI % 0 would throw)
    df = _df(spark, [3.0, 1.0, 2.0])
    order = [F.asc("v"), F.asc("id")]
    got = {
        r["id"]: r["b"]
        for r in ranks.global_ntile(df, 10, order, bucket_name="b").collect()
    }
    want = {
        r["id"]: r["b"]
        for r in df.select(
            "id", F.ntile(10).over(Window.orderBy(*order)).alias("b")
        ).collect()
    }
    assert got == want


def test_global_rank_desc_and_total(spark):
    df = _df(spark, [5.0, 1.0, 9.0, 1.0])
    order = [F.desc("v"), F.asc("id")]
    rows = {
        r["id"]: (r["rk"], r["n"])
        for r in ranks.global_rank(
            df, order, rank_name="rk", total_name="n"
        ).collect()
    }
    # 9.0 first, then 5.0, then the two 1.0s in id order
    assert rows == {2: (1, 4), 0: (2, 4), 1: (3, 4), 3: (4, 4)}


@pytest.mark.parametrize("name", sorted(CASES))
def test_global_cumsum_matches_window_running_sum(spark, name):
    df = _df(spark, CASES[name]).withColumn(
        "w", (F.col("id") % 5 + 1).cast("long")
    )
    order = [F.asc("v"), F.asc("id")]
    got = {
        r["id"]: (r["c"], r["t"])
        for r in ranks.global_cumsum(
            df, order, "w", cum_name="c", total_name="t"
        ).collect()
    }
    w = Window.orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        r["id"]: (r["c"], r["t"])
        for r in df.select(
            "id",
            F.sum("w").over(w).alias("c"),
            F.sum("w").over(Window.partitionBy()).alias("t"),
        ).collect()
    }
    assert got == want


@pytest.mark.parametrize(
    "kind,name,total",
    [("rank", "rk", "__n"), ("rank", "__rank", "n"), ("cum", "__tot", "t")],
)
def test_output_names_may_equal_internal_ones(spark, kind, name, total):
    # range_prefix's own output columns are __rank/__n/__cum/__tot; a
    # caller may reuse any of them as an output name
    df = _df(spark, CASES["ties"]).withColumn(
        "w", (F.col("id") % 5 + 1).cast("long")
    )
    order = [F.asc("v"), F.asc("id")]
    w = Window.orderBy(*order)
    if kind == "rank":
        out = ranks.global_rank(df, order, rank_name=name, total_name=total)
        first = F.row_number().over(w)
        second = F.count(F.lit(1)).over(Window.partitionBy())
    else:
        out = ranks.global_cumsum(
            df, order, "w", cum_name=name, total_name=total
        )
        first = F.sum("w").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        second = F.sum("w").over(Window.partitionBy())
    assert out.columns == ["id", "v", "w", name, total]
    got = {r["id"]: (r[name], r[total]) for r in out.collect()}
    want = {
        r["id"]: (r["a"], r["b"])
        for r in df.select("id", first.alias("a"), second.alias("b")).collect()
    }
    assert got == want


def test_global_cumsum_preserves_decimal_exactness(spark):
    from decimal import Decimal

    rows = [(i, Decimal(f"{i}.{i:02d}")) for i in range(1, 30)]
    df = spark.createDataFrame(rows, "id: long, m: decimal(18,4)")
    out = ranks.global_cumsum(
        df, [F.desc("m"), F.asc("id")], "m", cum_name="c", total_name="t"
    )
    assert dict(out.dtypes)["c"].startswith("decimal"), out.dtypes
    last = out.orderBy(F.desc("c")).limit(1).collect()[0]
    assert last["c"] == sum(m for _, m in rows) == last["t"]


def test_grouped_global_rank_matches_per_group_window(spark):
    # 3 groups of very different sizes, with ties inside each
    rows = []
    for i in range(120):
        rows.append((i, ["a", "a", "a", "b", "c"][i % 5], float(i % 7)))
    df = spark.createDataFrame(rows, ["id", "g", "v"])
    order = [F.asc("v"), F.asc("id")]
    got = {
        r["id"]: (r["rk"], r["n"])
        for r in ranks.global_rank(
            df, order, rank_name="rk", total_name="n", group_cols=["g"]
        ).collect()
    }
    wg = Window.partitionBy("g").orderBy(*order)
    want = {
        r["id"]: (r["rk"], r["n"])
        for r in df.select(
            "id",
            F.row_number().over(wg).alias("rk"),
            F.count(F.lit(1)).over(Window.partitionBy("g")).alias("n"),
        ).collect()
    }
    assert got == want


def test_grouped_global_cumsum_matches_per_group_window(spark):
    rows = [
        (i, ["a", "a", "b", "c", "c"][i % 5], (i % 9) + 1) for i in range(90)
    ]
    df = spark.createDataFrame(rows, ["id", "g", "w"])
    order = [F.asc("id")]
    got = {
        r["id"]: r["c"]
        for r in ranks.global_cumsum(
            df, order, "w", cum_name="c", group_cols=["g"]
        ).collect()
    }
    wg = (
        Window.partitionBy("g")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        r["id"]: r["c"]
        for r in df.select("id", F.sum("w").over(wg).alias("c")).collect()
    }
    assert got == want


def test_grouped_global_rank_single_row_groups(spark):
    df = spark.createDataFrame(
        [(1, "x", 5.0), (2, "y", 1.0)], ["id", "g", "v"]
    )
    out = {
        r["id"]: (r["rk"], r["n"])
        for r in ranks.global_rank(
            df, [F.asc("v"), F.asc("id")], rank_name="rk", total_name="n",
            group_cols=["g"],
        ).collect()
    }
    assert out == {1: (1, 1), 2: (1, 1)}


def test_multi_order_global_ntile_matches_chained_global_ntile(spark):
    """Pad-slot neutrality (VERDICT r10 item 2): the fused multi-order
    form pads shorter key lists with a constant-0 slot at a position
    where the preceding keys already totally order rows. On a frame
    with HEAVY duplicates in every sort key (so the pad boundary sees
    ties), each layout's buckets must be bit-identical to a dedicated
    global_ntile run under that layout's own ordering."""
    rows = [
        # v and w both duplicate-heavy; id is the only unique key
        (i, [1.0, 1.0, 2.0, 2.0, 2.0, 3.0][i % 6], float(i % 3))
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, ["id", "v", "w"])
    k = 4
    layouts = {
        # pad AFTER (v, id) — already a total order, pad never consulted
        "lin_v": [F.col("v") * 10, F.col("id"), F.lit(0)],
        "lin_w": [F.col("w") * 10, F.col("v") * 10, F.col("id")],
    }
    fused = ranks.multi_order_global_ntile(
        df, k, layouts, carry=["id"], layout_name="layout", bucket_name="b"
    )
    got = {
        (r["layout"], r["id"]): r["b"] for r in fused.collect()
    }
    chained = {}
    for name, order in {
        "lin_v": [F.asc((F.col("v") * 10).cast("long")), F.asc("id")],
        "lin_w": [
            F.asc((F.col("w") * 10).cast("long")),
            F.asc((F.col("v") * 10).cast("long")),
            F.asc("id"),
        ],
    }.items():
        for r in ranks.global_ntile(df, k, order, bucket_name="b").collect():
            chained[(name, r["id"])] = r["b"]
    assert got == chained


def test_ntile_from_rank_matches_sql_semantics_exhaustively(spark):
    """Pure integer-math check of the bucket formula against the SQL
    definition (first n mod k buckets get one extra row) for every
    (n, k) in a grid — driver-side arithmetic via a literal frame, so
    one Spark job covers the whole grid."""
    rows = []
    for n in range(1, 41):
        for k in (1, 2, 3, 4, 5, 7, 10, 16):
            q, r = divmod(n, k)
            for rank in range(1, n + 1):
                # reference ntile: walk the bucket sizes
                if q == 0:
                    want = rank
                elif rank <= r * (q + 1):
                    want = (rank - 1) // (q + 1) + 1
                else:
                    want = r + (rank - r * (q + 1) - 1) // q + 1
                rows.append((n, k, rank, want))
    df = spark.createDataFrame(rows, ["n", "k", "rank", "want"])
    got = df.select(
        "want",
        *[
            F.when(
                F.col("k") == k,
                ranks.ntile_from_rank(F.col("rank"), F.col("n"), k),
            ).alias(f"b{k}")
            for k in (1, 2, 3, 4, 5, 7, 10, 16)
        ],
    )
    bad = got.filter(
        ~F.coalesce(*[F.col(f"b{k}") for k in (1, 2, 3, 4, 5, 7, 10, 16)]).eqNullSafe(
            F.col("want")
        )
    ).count()
    assert bad == 0


def test_global_rank_plan_has_no_single_partition_sort_of_input(spark):
    """The operator's whole point: the input-frame sort must be range-
    partitioned (parallel), with the only SinglePartition exchange the
    O(partitions) offsets frame (post-aggregate)."""
    df = _df(spark, [float(i % 17) for i in range(200)])
    with no_lineage_cuts():
        plan = simple_plan(
            ranks.global_rank(df, [F.asc("v"), F.asc("id")], rank_name="rk")
        )
    assert "rangepartitioning" in plan.lower()
    # every SinglePartition exchange sits above an Aggregate (the
    # bounded counts frame), mirroring the registry-wide audit rule
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" in line:
            below = "\n".join(lines[i:])
            assert "Aggregate" in below, plan


def test_range_prefix_is_the_only_rank_scaffold():
    """One scaffold, no per-call knobs: ``F.spark_partition_id`` is
    called in exactly one function under ``sparkprep/`` (the shared
    range pass), and no ranks operator takes a partition-count
    parameter."""
    import ast
    import pathlib

    pkg = pathlib.Path(ranks.__file__).resolve().parents[1]
    callers = set()
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "spark_partition_id"
                ):
                    callers.add(f"{path.relative_to(pkg)}:{fn.name}")
    assert callers == {"operators/ranks.py:range_prefix"}, callers

    tree = ast.parse(pathlib.Path(ranks.__file__).read_text())
    knobs = [
        fn.name
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef)
        and any(
            a.arg == "num_partitions"
            for a in fn.args.args + fn.args.kwonlyargs
        )
    ]
    assert not knobs, knobs
