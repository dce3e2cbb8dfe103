"""Physical-control operators (SURVEY.md §2.13 C1-C4), systematized.

The reference hard-codes ``repartition(60)`` three times
(loanStat.py:149,230,307) and sprinkles ``cache()`` as ritual. Policy
here (SURVEY §4): let AQE coalesce; when an explicit repartition IS
needed (e.g. before a partitioned write), derive the count from data
size, never a constant; cache only what is referenced more than once.

Loop working sets (graph peeling/propagation, BPE, CC, Markov) follow
one rule. A working set that comes in from a caller is
``repartition(<key cols>)`` with no count, then cut with
``lazy_checkpoint``; one that is already the output of an exchange in
the same function is cut as it is. A count-less repartition is a
``REPARTITION_BY_COL`` exchange that AQE coalesces from measured shuffle
bytes, and under AQE building the cut runs that stage, so the
checkpointed leaf keeps the coalesced count (1 partition for a few
thousand rows, up to ``spark.sql.shuffle.partitions`` at scale). No
loop takes a partition-count knob, reads ``defaultParallelism`` or
counts rows to size itself, and none caches its working set: AQE never
re-partitions a cached plan's output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from sparkprep.checkpointing import lazy_checkpoint


def input_size_bytes(df: DataFrame) -> int | None:
    """Best-effort logical-plan size estimate (from file statistics for
    scans; Catalyst propagates through projections/filters)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None


def repartition_by_size(
    df: DataFrame, target_partition_bytes: int = 128 * 1024 * 1024, min_partitions: int = 1
) -> DataFrame:
    """C1 done right: partition count = ceil(size / target), bounded
    below. 128 MB default matches ``spark.sql.files.maxPartitionBytes``
    — partitions that fit executor memory at any SF, instead of the
    reference's magic 60."""
    size = input_size_bytes(df)
    if size is None:
        return df
    n = max(min_partitions, -(-size // target_partition_bytes))
    return df.repartition(int(n))


def cache_if_reused(df: DataFrame, num_downstream_uses: int) -> DataFrame:
    """C2 as policy: cache exactly when a frame feeds >= 2 actions
    (e.g. the scalar-agg + main-flow pair in EP1); a cache used once
    only costs memory and a write pass."""
    return df.cache() if num_downstream_uses >= 2 else df


def partition_count(df: DataFrame) -> int:
    """C4 — ``df.rdd.getNumPartitions()`` (mssql.ipynb:184)."""
    return df.rdd.getNumPartitions()


def coalesce_for_write(df: DataFrame, max_files: int) -> DataFrame:
    """Writer-side small-files control: coalesce (no shuffle) down to a
    file budget — the missing half of the reference's CSV sinks, which
    emitted one file per task."""
    return df.coalesce(max_files)


def compact_files(
    spark,
    src_dir: str,
    dst_dir: str,
    fmt: str = "parquet",
    target_partition_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Small-file compaction — the table-maintenance op every long-lived
    100 TB layout needs (streaming sinks and per-trigger appends leave
    thousands of KB-sized files; scan cost becomes per-file overhead).

    Reads the directory, repartitions to the size-derived count
    (:func:`repartition_by_size`), writes to an EXPLICIT destination —
    never in-place: object stores have no atomic directory rename, so
    the safe pattern everywhere is write-new + flip pointers, and a
    local-FS "swap" would train users on a pattern that loses data on
    S3/GCS. Returns an accounting manifest (rows, files before/after).
    """
    import glob
    import os

    df = spark.read.format(fmt).load(src_dir)
    files_before = len(
        [p for p in glob.glob(os.path.join(src_dir, "part-*"))]
    )
    rows = df.count()
    out = repartition_by_size(df, target_partition_bytes)
    out.write.mode("overwrite").format(fmt).save(dst_dir)
    files_after = len([p for p in glob.glob(os.path.join(dst_dir, "part-*"))])
    return {
        "rows": rows,
        "files_before": files_before,
        "files_after": files_after,
        "src": src_dir,
        "dst": dst_dir,
    }


def plan_metrics(df: DataFrame) -> dict:
    """Post-action cost attribution from the executed plan's SQL metric
    registry — the per-query observability a 100 TB deployment bills
    by: rows scanned, shuffle volume, spill, peak operator memory.

    Call AFTER an action: metrics accumulate during execution. Under
    AQE, resolving the final plan on a not-yet-run query FORCES the
    remaining stages to execute (same as an action) — so this never
    reads zeros, but on an unexecuted frame you pay the run here.
    Resolves the AQE root to the final
    physical plan and descends through materialized query stages
    (``QueryStageExec.plan()``) so exchange metrics aren't hidden
    behind stage boundaries. Driver-side tooling over py4j — reads
    accumulators only, never touches data.
    """
    node = df._jdf.queryExecution().executedPlan()
    try:
        node = node.finalPhysicalPlan()
    except Exception:
        pass  # non-AQE plan: already physical

    totals = {
        "rows_scanned": 0,
        "scan_files_read": 0,
        "scan_bytes_read": 0,
        "shuffle_records_written": 0,
        "shuffle_bytes_written": 0,
        "spill_bytes": 0,
        "peak_operator_memory": 0,
        "output_rows": None,
    }

    def metric_values(n) -> dict:
        m = n.metrics()
        it = m.keySet().iterator()
        vals = {}
        while it.hasNext():
            k = it.next()
            vals[k] = m.get(k).get().value()
        return vals

    def walk(n, is_root=False):
        name = n.nodeName()
        vals = metric_values(n)
        if is_root and totals["output_rows"] is None and "numOutputRows" in vals:
            totals["output_rows"] = vals["numOutputRows"]
        if name.startswith("Scan"):
            totals["rows_scanned"] += vals.get("numOutputRows", 0)
            totals["scan_files_read"] += vals.get("numFiles", 0)
            totals["scan_bytes_read"] += vals.get("filesSize", 0)
        totals["shuffle_records_written"] += vals.get("shuffleRecordsWritten", 0)
        totals["shuffle_bytes_written"] += vals.get("shuffleBytesWritten", 0)
        totals["spill_bytes"] += vals.get("spillSize", 0)
        totals["peak_operator_memory"] = max(
            totals["peak_operator_memory"], vals.get("peakMemory", 0)
        )
        kids = []
        try:
            kids.append(n.plan())  # QueryStageExec: the materialized stage
        except Exception:
            pass
        ch = n.children()
        for i in range(ch.size()):
            kids.append(ch.apply(i))
        for k in kids:
            walk(k)

    walk(node, is_root=True)
    return totals


def file_skipping_report(df: DataFrame, col: str) -> DataFrame:
    """Layout-pruning effectiveness: per-file (n_rows, min, max,
    span_frac) of ``col``, where span_frac is the file's value span as a
    fraction of the global range — exactly the min/max zone-map stats a
    reader's file/row-group skipping uses. ``avg(span_frac)`` is the
    expected fraction of files a uniformly random point predicate must
    scan: ~1.0 means the layout is unclustered on ``col`` and a
    sort/z-order rewrite (zorder_layout, write_partitioned) would pay
    for itself; ~1/n_files means near-perfect clustering.

    ``df`` must be a direct file-source read — ``input_file_name()`` is
    empty after exchanges. One column-pruned scan, map-combined groupBy
    on file; the global range comes from windows over the per-FILE
    frame (|files| rows). A zero global range (constant column) yields
    NULL span_frac via try_divide, not a divide error.
    :func:`footer_skipping_report` is the footer-only (pyarrow
    metadata, no data scan) 100 TB upgrade; this form needs no listing
    round-trip and prunes to one column."""
    from pyspark.sql.window import Window

    per = (
        df.select(F.input_file_name().alias("file"), F.col(col).alias("__v"))
        .groupBy("file")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("__v").alias("col_min"),
            F.max("__v").alias("col_max"),
        )
    )
    w = Window.partitionBy()
    gmin = F.min("col_min").over(w)
    gmax = F.max("col_max").over(w)
    return per.select(
        "file",
        "n_rows",
        "col_min",
        "col_max",
        F.round(
            F.try_divide(
                F.col("col_max").cast("double") - F.col("col_min").cast("double"),
                gmax.cast("double") - gmin.cast("double"),
            ),
            4,
        ).alias("span_frac"),
    )


def clustering_summary(report: DataFrame) -> DataFrame:
    """One-row rollup of ``file_skipping_report``: n_files, avg/max
    span fraction. avg_span_frac IS the expected point-predicate scan
    fraction; compare before/after a layout rewrite."""
    return report.agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.round(F.avg("span_frac"), 4).alias("avg_span_frac"),
        F.round(F.max("span_frac"), 4).alias("max_span_frac"),
    )


def layout_advisor(
    df: DataFrame,
    cols: list[str],
    predicates: list[tuple],
    num_files: int = 32,
    bits: int = 12,
    tiebreakers: list[str] | None = None,
) -> dict:
    """Adjudicate LINEAR-sort vs Z-ORDER layout for a table before
    anyone rewrites 100 TB of it: simulate ``num_files`` files under
    each candidate layout, collect per-file min/max zone maps over
    ``cols``, evaluate every predicate in the panel against them, and
    return per-layout expected file-scan rates + a recommendation —
    the `q_pruning_sim` verdict promoted into the write path
    (VERDICT r8 #6).

    ``cols``: candidate layout dimensions, already non-negative ints
    scaled into ``bits`` bits (rank/bucket upstream for doubles — the
    same contract as :func:`sparkprep.functions.zorder.morton_key`).
    ``predicates``: ``(label, {col: (lo, hi)})`` half-open ranges over
    a subset of ``cols`` — use the REAL query panel; the advice is
    only as good as the workload it scores.
    ``tiebreakers``: extra columns appended to every layout's sort so
    the total order (and therefore the file assignment) is
    DETERMINISTIC — pass the table's key columns when the layout
    dimensions alone don't uniquely order rows; required for the
    scan counts to be engine-reproducible (the oracle contract the
    ``layout_advice`` registry query relies on).

    Candidate layouts: one linear sort per leading column (remaining
    cols as tiebreakers, the classic ORDER BY rewrite) and one Morton
    z-order over all of ``cols``. File assignment uses
    ``ranks.global_ntile`` (range partition + broadcast offsets —
    never a single-partition sort), so the simulation itself scales to
    the table it advises on; the per-file stats frame is
    |layouts| x num_files rows, a bounded driver-side collect.

    Returns ``{"recommended": layout, "table": [...], "per_layout":
    {layout: avg_scan_frac}, "apply": {layout: fn(df) -> DataFrame}}``
    where each ``apply`` fn re-lays a frame for writing (feed it to
    ``writers.write_laid_out``).
    """
    from sparkprep.functions import zorder as zo
    from sparkprep.operators import ranks

    if not cols or not predicates:
        raise ValueError("layout_advisor needs >=1 column and >=1 predicate")
    mask = (1 << bits) - 1
    keyed = df.withColumn(
        "__zkey",
        zo.morton_key(
            [F.col(c).bitwiseAND(F.lit(mask)) for c in cols], bits=bits
        ),
    )
    # Lineage cut kept even with the fused single multi-order pass
    # below: the range SAMPLER and the exchange each consume `keyed`,
    # and removing the checkpoint measured 11-27s vs ~5s at sf0.1
    # (r10 A/B — the sampler + exchange double-execution of the
    # scan+morton+explode subtree costs far more than the checkpoint's
    # write+read here). At 100 TB, persist the keyed projection
    # explicitly instead of relying on executor-local blocks.
    keyed = lazy_checkpoint(keyed)

    ties = [F.asc(c) for c in (tiebreakers or [])]
    layouts: dict = {}
    for lead in cols:
        rest = [c for c in cols if c != lead]
        layouts[f"linear:{lead}"] = [F.asc(lead), *[F.asc(c) for c in rest], *ties]
    layouts["zorder"] = [F.asc("__zkey"), *[F.asc(c) for c in cols], *ties]

    # ALL candidate layouts through ONE grouped range pass
    # (ranks.multi_order_global_ntile) instead of |layouts| independent
    # global_ntile pipelines — one sampling job + one exchange + one
    # checkpoint total (measured 6.7s -> ~2.5s at sf0.1, r10). Key lists
    # are width-aligned by padding each linear layout with a constant 0
    # BETWEEN its cols and the tiebreakers: (lead, *rest) + ties already
    # totally orders rows, so the constant slot never changes the order,
    # and every slot stays numeric across layouts (zorder's extra slot
    # is the Morton key). Bit-identical ntile per layout, same oracle.
    tie_names = list(tiebreakers or [])
    sim_keys: dict = {}
    for lead in cols:
        rest = [c for c in cols if c != lead]
        sim_keys[f"linear:{lead}"] = [
            F.col(lead),
            *[F.col(c) for c in rest],
            F.lit(0),
            *[F.col(c) for c in tie_names],
        ]
    sim_keys["zorder"] = [
        F.col("__zkey"),
        *[F.col(c) for c in cols],
        *[F.col(c) for c in tie_names],
    ]
    filed = ranks.multi_order_global_ntile(
        keyed, num_files, sim_keys, carry=list(cols),
        layout_name="__layout", bucket_name="__file",
    )
    stats = filed.groupBy("__layout", "__file").agg(
        *[F.min(c).alias(f"__{c}_lo") for c in cols],
        *[F.max(c).alias(f"__{c}_hi") for c in cols],
    )

    aggs = []
    for i, (_, ranges) in enumerate(predicates):
        cond = F.lit(True)
        for c, (lo, hi) in ranges.items():
            if c not in cols:
                raise ValueError(f"predicate column {c!r} not in layout cols {cols}")
            cond = cond & ~(
                (F.col(f"__{c}_hi") < F.lit(lo)) | (F.col(f"__{c}_lo") >= F.lit(hi))
            )
        aggs.append(F.sum(cond.cast("long")).alias(f"__s{i}"))
    wide = stats.groupBy("__layout").agg(*aggs).collect()  # |layouts| rows

    table = []
    per_layout: dict = {}
    totals: dict = {}
    for row in wide:
        scans = [int(row[f"__s{i}"]) for i in range(len(predicates))]
        for (label, _), s in zip(predicates, scans):
            table.append(
                {
                    "layout": row["__layout"],
                    "predicate": label,
                    "files_scanned": s,
                    "scan_frac": round(s / num_files, 4),
                }
            )
        totals[row["__layout"]] = sum(scans)
        per_layout[row["__layout"]] = round(
            sum(scans) / (num_files * len(predicates)), 4
        )
    # INTEGER argmin (total files scanned over the panel), ties to the
    # lexicographically-smallest name — exact and oracle-replicable,
    # unlike an argmin over the rounded display fractions
    recommended = min(totals, key=lambda n: (totals[n], n))

    tie_cols = list(tiebreakers or [])

    def _apply_fn(name: str):
        def apply(frame: DataFrame) -> DataFrame:
            if name == "zorder":
                return zo.zorder_layout(frame, cols, num_files, bits=bits)
            lead = name.split(":", 1)[1]
            order = [lead, *[c for c in cols if c != lead], *tie_cols]
            return frame.repartitionByRange(
                num_files, *order
            ).sortWithinPartitions(*order)

        return apply

    return {
        "recommended": recommended,
        "table": sorted(table, key=lambda r: (r["layout"], r["predicate"])),
        "per_layout": per_layout,
        "apply": {name: _apply_fn(name) for name in layouts},
    }


def footer_skipping_report(spark, path: str, cols: list[str]) -> DataFrame:
    """Zone-map report straight from parquet FOOTERS — the 100 TB form
    of :func:`file_skipping_report`: per (file, row-group) n_rows and
    min/max for each of ``cols``, read via pyarrow metadata only
    (kilobytes per file), never a data scan. At a 100 TB table the
    scan-based report reads everything once; this reads what the
    query planner itself reads.

    Distributed by FILE: the path listing is parallelized and each
    partition opens only footers (pyarrow handles local and object-
    store filesystems alike), so driver memory holds file PATHS, never
    stats for all row groups. Files written by Spark are discovered
    through the standard _(SUCCESS/…) filtering; pass a single .parquet
    file or a directory.

    Columns with no footer statistics (e.g. disabled stats) yield NULL
    min/max — callers should treat NULL as "cannot prune", exactly as
    a reader would. Integer-typed layout columns only (the
    layout_advisor/morton_key contract); wider types would need
    type-tagged stat columns.
    """
    import os as _os

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    if _os.path.isdir(path):
        files = sorted(
            _os.path.join(path, f)
            for f in _os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    elif _os.path.isfile(path):
        files = [path]
    else:
        files = []
    if not files:
        raise ValueError(f"no parquet files under {path!r}")

    want = list(cols)

    def read_footers(paths):
        import pyarrow.parquet as pq

        for p in paths:
            md = pq.ParquetFile(p).metadata
            # column indices come from the FILE schema, which exists even
            # for a zero-row-group (empty) file — deriving them from
            # row_group(0) made empty files raise a misleading
            # "columns not in footer schema" (ADVICE r9)
            arrow_schema = md.schema.to_arrow_schema()
            name_to_idx = {n: i for i, n in enumerate(arrow_schema.names)}
            missing = [c for c in want if c not in name_to_idx]
            if missing:
                raise ValueError(f"{p}: columns {missing} not in footer schema")
            # an empty file simply contributes no row-group rows
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                row = [p.rsplit("/", 1)[-1], g, rg.num_rows]
                for c in want:
                    st = rg.column(name_to_idx[c]).statistics
                    if st is not None and st.has_min_max:
                        row.extend([int(st.min), int(st.max)])
                    else:
                        row.extend([None, None])
                yield row

    fields = [
        StructField("file", StringType(), False),
        StructField("row_group", LongType(), False),
        StructField("n_rows", LongType(), False),
    ]
    for c in want:
        fields.append(StructField(f"{c}_min", LongType(), True))
        fields.append(StructField(f"{c}_max", LongType(), True))
    schema = StructType(fields)
    rdd = spark.sparkContext.parallelize(files, max(1, min(len(files), 64)))
    return spark.createDataFrame(rdd.mapPartitions(read_footers), schema)
