"""Persisted IVF ANN index — the bucket-by-cell layout the ann_ivf
operator's docstring promises for 100 TB corpora, made real.

``ann_ivf_topk`` re-assigns every corpus vector per query batch; at
corpus scale the economics invert — you fit the coarse quantizer ONCE,
persist the corpus PARTITIONED BY CELL, and each query batch then
touches ~num_probes/num_centroids of the data through parquet
partition PRUNING (a static ``cell IN (...)`` filter reaches the scan;
no shuffle, no full-corpus read). This module is that lifecycle:

- :func:`build_ann_index` — fit (shared `ivf_fit_centroid_units`, so
  the index and the ad-hoc operator can never disagree on cell
  geometry), assign (the same `similarity.corpus_kernel` cells
  `ann_ivf_topk` uses), write hive-partitioned corpus + centroid
  table + per-cell manifest. ``partitionBy("cell")`` is the writer-side layout
  (CLAUDE.md: one-directory-per-key needs the writer, not a
  repartition).
- :func:`query_ann_index` — load the (num_centroids-row) centroid
  table, compute each query's probe cells, read ONLY the probed
  partitions, rerank by exact cosine. Result-identical to
  ``ann_ivf_topk`` at the same parameters
  (tests/test_ann_index.py pins the parity and the pruning).

Scale notes: the probe-cell list is bounded by |queries| x num_probes
(query panels are bounded by contract — cosine_topk's convention), so
the driver-side ``collect`` of probe cells is O(1); the corpus is
only ever read through the pruned scan. Rebuilds are cheap to verify:
the manifest carries per-cell counts + a corpus row total to
reconcile before anyone trusts the index.
"""

from __future__ import annotations

import os

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkprep.operators import similarity as sim


def build_ann_index(
    emb_df: DataFrame,
    out_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 16,
    seed: int = 42,
    lloyd_iterations: int = 2,
    sample_size: int = 1024,
) -> dict:
    """Fit + assign + persist; returns the manifest dict (also written
    to ``<out_dir>/manifest.json``)."""
    import json

    spark = emb_df.sparkSession
    cunit = sim.ivf_fit_centroid_units(
        emb_df,
        id_col=id_col,
        vec_col=vec_col,
        num_centroids=num_centroids,
        seed=seed,
        lloyd_iterations=lloyd_iterations,
        sample_size=sample_size,
    )
    cells = sim.corpus_kernel(emb_df, id_col, vec_col, cells=cunit)
    assigned = emb_df.select(id_col, vec_col).join(
        # a NULL vector's cell: ivf_cell_expr's NULL order (cell 0)
        cells.select(id_col, F.coalesce("__cell", F.lit(0)).alias("cell")), id_col
    )
    corpus_path = os.path.join(out_dir, "corpus")
    assigned.write.mode("overwrite").partitionBy("cell").parquet(corpus_path)
    cent_rows = [
        (int(j), [float(x) for x in cunit[j]]) for j in range(len(cunit))
    ]
    spark.createDataFrame(
        cent_rows, "cell BIGINT, unit ARRAY<DOUBLE>"
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(out_dir, "centroids")
    )
    counts = {
        int(r["cell"]): int(r["n"])
        for r in spark.read.parquet(corpus_path)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    manifest = {
        "num_centroids": int(num_centroids),
        "seed": int(seed),
        "lloyd_iterations": int(lloyd_iterations),
        "sample_size": int(sample_size),
        "id_col": id_col,
        "vec_col": vec_col,
        "n_rows": int(sum(counts.values())),
        "cell_counts": {str(k): v for k, v in sorted(counts.items())},
    }
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=2, sort_keys=True)
    return manifest


def query_ann_index(
    spark: SparkSession,
    index_dir: str,
    query_df: DataFrame,
    k: int = 5,
    num_probes: int = 2,
    round_to: int = 4,
) -> DataFrame:
    """Top-k cosine neighbors from the persisted index, reading only
    the probed cell partitions. Columns and semantics match
    ``ann_ivf_topk``: (query_id, neighbor_id, rank, cosine), self
    matches excluded, ties broken by neighbor id."""
    import json

    from pyspark.sql.window import Window

    with open(os.path.join(index_dir, "manifest.json")) as fh:
        mf = json.load(fh)
    id_col, vec_col = mf["id_col"], mf["vec_col"]
    cent = (
        spark.read.parquet(os.path.join(index_dir, "centroids"))
        .orderBy("cell")
        .collect()
    )
    cunit = np.asarray([r["unit"] for r in cent], dtype=np.float64)
    q = query_df.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        sim.norm_native(F.col(vec_col)).alias("__qn"),
        F.explode(
            sim.ivf_cell_expr(cunit, F.col(vec_col), num_probes)
        ).alias("cell"),
    )
    # bounded: |queries| x num_probes rows -> the probe list is O(1)
    probed = sorted({int(r["cell"]) for r in q.select("cell").distinct().collect()})
    corpus = (
        spark.read.parquet(os.path.join(index_dir, "corpus"))
        # static IN-filter on the partition column -> the scan prunes to
        # the probed directories (asserted via inputFiles in tests)
        .filter(F.col("cell").isin(probed))
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__cv"),
            "cell",
            # norm per corpus row, not per candidate pair
            sim.norm_native(F.col(vec_col)).alias("__cn"),
        )
    )
    scored = (
        corpus.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            sim.cosine_from_norms(
                F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn")
            ).alias("__cos"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("__cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("rank").cast("long").alias("rank"),
            F.round("__cos", round_to).alias("cosine"),
        )
    )
