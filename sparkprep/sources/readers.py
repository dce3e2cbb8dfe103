"""Sources S1-S6 (SURVEY.md §2.1), DataFrame-native.

The reference's ingest pattern is "read permissively, profile, then
harden": header CSV with ``mode=DROPMALFORMED`` and no schema
(``loanStat-DataproctoBQ.py:32``), or with ``inferSchema``
(``dedup.ipynb:122-124``). DROPMALFORMED silently changes row counts; we
surface the drop count as observability the reference lacks (SURVEY §4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_csv(
    spark: SparkSession,
    path: str,
    header: bool = True,
    infer_schema: bool = False,
    mode: str = "DROPMALFORMED",
    schema=None,
    **options,
) -> DataFrame:
    """S1/S2 — permissive header CSV scan.

    Reference: ``spark.read.format('csv').option('header','true')
    .option('mode','DROPMALFORMED').load(path)`` (loanStat.py:32);
    ``inferSchema='true'`` variant at dedup.ipynb:122-124.

    Note inferSchema costs a second pass over the data — at 100 TB always
    pass an explicit ``schema`` (one pass, and the scan can prune columns).
    """
    reader = spark.read.options(header=str(header).lower(), mode=mode, **options)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer_schema:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def malformed_drop_count(spark: SparkSession, path: str, df: DataFrame, header: bool = True) -> int:
    """How many raw lines DROPMALFORMED silently discarded (SURVEY §4:
    'Malformed-row dropping at parse ... record drop counts').

    Spark quirk this must work around: ``df.count()`` on a CSV read
    skips parsing entirely (zero-column pushdown), so malformed rows are
    COUNTED even though any real projection drops them — and column
    pruning can even hide extra-trailing-token rows. The parsed side is
    therefore a full-width count: an ``observe(count)`` over ``df``
    drained by a ``noop`` write, which materializes every column (no
    pruning, so DROPMALFORMED drops exactly the lines a full parse
    rejects) without leaving the JVM — ``df.rdd.count()`` gives the same
    number but pickles every parsed row into a Python worker. This is
    an audit operator; the extra full parse is the point.
    """
    from pyspark.sql import Observation

    # one exchange for BOTH raw totals: lines per input file — a
    # directory/glob of N header CSVs carries N header lines (the parsed
    # side drops every one), so subtracting a single header would
    # overstate the malformed count by N-1
    per_file = (
        spark.read.text(path)
        # input_file_name() is non-deterministic — Spark rejects it
        # INSIDE an aggregate; a projection first is fine
        .select(F.input_file_name().alias("__f"))
        .groupBy("__f")
        .count()
        .collect()
    )
    raw = sum(r["count"] for r in per_file)
    if header:
        raw -= len(per_file)
    parsed = Observation()
    (
        df.observe(parsed, F.count(F.lit(1)).alias("rows"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return raw - parsed.get["rows"]


def read_text(spark: SparkSession, path: str) -> DataFrame:
    """S3 — unstructured text/log scan, DataFrame-native.

    Reference used ``sc.textFile`` (nasa.py:20); we stay in the DataFrame
    API (column ``value: string``) so the log parser (functions.logs)
    stays inside whole-stage codegen instead of Python ``Row`` mapping.
    """
    return spark.read.text(path)


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """JSON-Lines scan (LLM-corpus interchange). ALWAYS pass a schema
    in production: without one Spark runs a full extra inference pass
    over the data (doubling the scan at corpus scale) and silently
    widens mixed-type fields to string. Schema-on-read also prunes —
    only the requested fields are parsed per line. Malformed lines
    surface under ``_corrupt_record`` in PERMISSIVE mode rather than
    failing the job (same accounting contract as read_csv)."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


def read_parquet(
    spark: SparkSession, path: str, merge_schema: bool = False
) -> DataFrame:
    """Columnar scan — our default interchange format (vectorized reader,
    predicate pushdown, column pruning; none of which CSV gives you).

    ``merge_schema=True`` unions the schemas of every footer in the
    directory (schema evolution across ingest epochs: new columns read
    as NULL for old files). Off by default — merging reads every
    footer up front, a real cost at 100k-file scale; evolved tables
    should carry their contract in a metastore instead."""
    r = spark.read
    if merge_schema:
        r = r.option("mergeSchema", "true")
    return r.parquet(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC columnar scan — the Hive-ecosystem interchange twin of
    parquet (vectorized reader, predicate pushdown via ORC SearchArgs,
    column pruning), built into Spark."""
    return spark.read.orc(path)


def read_avro(spark: SparkSession, path: str) -> DataFrame:
    """Avro row-format scan (Kafka/streaming-ecosystem interchange).
    Avro is an EXTERNAL Spark module (spark-avro jar) — raise a clear
    error when it isn't deployed instead of a late AnalysisException."""
    try:
        return spark.read.format("avro").load(path)
    except Exception as exc:  # noqa: BLE001 — surface the deploy hint
        raise RuntimeError(
            "Avro source requires the spark-avro package "
            "(--packages org.apache.spark:spark-avro_2.13:<spark-version>)"
        ) from exc


def read_table_dir(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load driver testdata tables: ``read_table_dir(spark, sf, 'lineitem', ...)``."""
    return {n: spark.read.parquet(os.path.join(sf_dir, f"{n}.parquet")) for n in names}


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    user: str | None = None,
    password: str | None = None,
    driver: str | None = None,
    partition_column: str | None = None,
    num_partitions: int | None = None,
    lower_bound=None,
    upper_bound=None,
    **options,
) -> DataFrame:
    """S6 — JDBC scan (reference: MSSQL read-back, mssql.ipynb:933-938).

    The reference reads the whole table through ONE connection. At scale
    that serializes the read; pass ``partition_column`` + bounds +
    ``num_partitions`` to parallelize across executors.
    """
    reader = (
        spark.read.format("jdbc").option("url", url).option("dbtable", table)
    )
    for k, v in {
        "user": user,
        "password": password,
        "driver": driver,
        "partitionColumn": partition_column,
        "numPartitions": num_partitions,
        "lowerBound": lower_bound,
        "upperBound": upper_bound,
    }.items():
        if v is not None:
            reader = reader.option(k, str(v))
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def from_rows(spark: SparkSession, data, columns) -> DataFrame:
    """S4 — in-memory fixture (nulls.ipynb#cell2: ``spark.createDataFrame``)."""
    return spark.createDataFrame(data, columns)


def add_ingest_audit(df: DataFrame) -> DataFrame:
    """Attach file provenance — input file + a stable surrogate row id.

    ``monotonically_increasing_id`` is partition-local (no shuffle); the
    reference has no row lineage at all, which is why its dedup audit
    needs a full-width window. Having an id column makes keep-first dedup
    deterministic and cheap at scale.
    """
    return df.withColumn("_ingest_file", F.input_file_name()).withColumn(
        "_row_id", F.monotonically_increasing_id()
    )


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    value_schema: str | None = None,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka streaming source — the production ingest path the file
    stream (`streaming.read_events_stream`) stands in for in tests.
    Kafka is an EXTERNAL Spark module (spark-sql-kafka jar); raise the
    deploy hint eagerly instead of a late AnalysisException. When
    ``value_schema`` is given, the value bytes parse as JSON into typed
    columns (the landing contract used by the documents stream);
    otherwise raw (key, value, timestamp) passes through.

    The downstream plan is IDENTICAL either way — every watermark,
    window, dedup, and join operator in ``sparkprep.streaming`` takes
    whatever ``readStream`` produced. That unification is the point:
    swap the source, keep the pipeline.
    """
    from pyspark.sql import functions as F

    try:
        raw = (
            spark.readStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("subscribe", topic)
            .option("startingOffsets", starting_offsets)
            .load()
        )
    except Exception as exc:
        # translate ONLY the missing-datasource failure into the deploy
        # hint; a real config error (bad offsets, malformed option) with
        # the jar present must surface as itself
        msg = str(exc)
        if "Failed to find data source" in msg or "ClassNotFoundException" in msg:
            raise RuntimeError(
                "Kafka source requires the spark-sql-kafka package "
                "(--packages org.apache.spark:spark-sql-kafka-0-10_2.13:"
                "<spark-version>)"
            ) from exc
        raise
    if value_schema is None:
        return raw
    return raw.select(
        F.from_json(F.col("value").cast("string"), value_schema).alias("v"),
        F.col("timestamp").alias("kafka_ts"),
    ).select("v.*", "kafka_ts")
