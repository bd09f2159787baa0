"""Sources and sinks (SURVEY.md §2.1: S1-S3, K1-K4).

Reference behaviors reproduced (file:line cites are to the reference):

- S1  whitespace edge-list scan   — ``pageRank.py:29-55`` (np.loadtxt)
- S2  parquet scan                — driver fixture tables
- S3  arbitrary-path source       — ``streamlit-pagerank.py:249-251``
- K1  CSV sink                    — ``pageRank.py:40-41``
- K2  formatted-text sink         — ``pageRank.py:19-24`` ("[page] [score]")
- K3  base64 CSV download payload — ``streamlit-pagerank.py:220-229``
- K4  console/table inspection    — ``pageRank.py:62`` / ``st.table``

Design notes for scale: the edge reader declares an explicit schema (no
inference pass over 100 TB), keeps everything JVM-side (split/cast are
Catalyst expressions), and the formatted-text sink only collects when
the input is a bounded top-k result — otherwise it writes distributed.
"""

from __future__ import annotations

import base64

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from pagerank_spark.graph.loop import conf_session, rehome

EDGE_SCHEMA = StructType(
    [
        StructField("src", LongType(), nullable=False),
        StructField("dst", LongType(), nullable=False),
    ]
)


def read_edge_list(
    spark: SparkSession, path: str, sep: str = "\t", sample_fraction: float = 1.0
) -> DataFrame:
    """S1/S3: parse a 2-column numeric text edge list into (src, dst).

    Mirrors the reference's loader (``pageRank.py:29-55``): floats in the
    file are accepted and cast to long; a ``sample_fraction`` < 1 takes a
    seeded Bernoulli sample (dev-time knob X5, never used in oracle paths).
    Uses the CSV reader with an explicit schema so column pruning and a
    single-pass scan apply; falls back to a regex split only for ragged
    whitespace.
    """
    if sep is not None:
        df = (
            spark.read.option("sep", sep)
            .option("comment", "#")
            .schema("src DOUBLE, dst DOUBLE")
            .csv(path)
            .select(F.col("src").cast("long"), F.col("dst").cast("long"))
        )
    else:
        parts = F.split(F.trim(F.col("value")), r"\s+")
        df = (
            spark.read.text(path)
            .where(F.length(F.trim(F.col("value"))) > 0)
            .where(~F.col("value").startswith("#"))
            .select(
                parts.getItem(0).cast("long").alias("src"),
                parts.getItem(1).cast("long").alias("dst"),
            )
        )
    if sample_fraction != 1.0:
        df = df.sample(fraction=sample_fraction, seed=1)
    return df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S2: columnar parquet scan (predicate pushdown + column pruning free)."""
    return spark.read.parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Fixture-table loader: ``{sf_dir}/{name}.parquet``.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects outright ([PARQUET_TYPE_ILLEGAL]); read it
    as nano-precision longs (``nanosAsLong``) and convert to a proper
    TimestampType via exact integer division (``DIV 1000`` — a double
    division would lose precision at 2^63-scale nanos).
    """
    if name == "events":
        # nanosAsLong is read at ANALYSIS time (schema resolution), so
        # the read is analyzed on a clone carrying it and then moved to
        # the caller's session, whose confs stay untouched. Without the
        # clone bridge the read takes the caller's own setting.
        try:
            reader = conf_session(
                spark, {"spark.sql.legacy.parquet.nanosAsLong": "true"}
            )
        except Exception:  # Spark Connect, API drift
            reader = spark
        df = reader.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        return rehome(df, spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Parquet sink, optionally hive-partitioned.

    Partitioning by a low-cardinality filter column (date, category,
    source) is the 100 TB layout primitive: a filtered read then prunes
    whole directories at planning time (``PartitionFilters`` in the scan,
    plan-tested) instead of scanning and discarding.
    """
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
) -> None:
    """Persist a table bucketed (and sorted) on its join/aggregation key.

    Bucketing is THE repeated-join optimization at warehouse scale: two
    tables bucketed on the same key with the same bucket count join with
    NO shuffle exchange on either side (verified by plan test) — the
    shuffle is paid once at write time instead of per query. Files land
    at ``path``; bucket metadata lives in the session catalog under
    ``table``.
    """
    (
        df.write.bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .option("path", path)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )


def write_csv(df: DataFrame, path: str, single_file: bool = False) -> None:
    """K1: CSV sink (reference: ``nodes.to_csv`` at pageRank.py:40-41)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    header: bool = True,
) -> DataFrame:
    """CSV source, the read side of K1.

    Pass an explicit DDL ``schema`` in production — schema inference
    costs an extra full pass over the files and can flip types between
    runs; with a schema the scan is single-pass and the types are a
    contract. ``mode=FAILFAST`` surfaces malformed rows instead of
    silently nulling them.
    """
    reader = (
        spark.read.option("header", header).option("mode", "FAILFAST")
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def format_result_lines(ranks: DataFrame) -> DataFrame:
    """K2 expression: one ``[page] [score]`` string per row (distributed).

    NOTE: Spark's ``CAST(double AS STRING)`` switches to scientific
    notation below 1e-3 (e.g. ``9.78E-4``) while the reference renders via
    Python ``str(float)`` (``0.000978...``, pageRank.py:23). Use this for
    distributed/unbounded sinks; ``write_result_text`` formats driver-side
    with Python semantics and is the byte-faithful reference artifact.
    """
    return ranks.select(
        F.concat(
            F.lit("["),
            F.col("page").cast("string"),
            F.lit("] ["),
            F.col("score").cast("string"),
            F.lit("]"),
        ).alias("line")
    )


def write_result_text(ranks: DataFrame, path: str, k: int = 100) -> None:
    """K2: write top-k ``[page] [score]`` lines in score-desc order.

    The result is bounded (top-k), so we collect on the driver and write a
    single ordered file — same artifact shape as the reference's
    ``result.txt``. For unbounded outputs use ``format_result_lines`` +
    distributed ``write.text`` instead.
    """
    rows = ranks.orderBy(F.desc("score"), F.asc("page")).limit(k).collect()
    with open(path, "w") as f:
        for r in rows:
            # Python str(float): matches the reference's writer byte-for-byte
            # (pageRank.py:23 builds the line with str()).
            f.write(f"[{int(r['page'])}] [{str(float(r['score']))}]\n")


def csv_download_payload(df: DataFrame, max_rows: int = 10_000) -> str:
    """K3: serialize a bounded result to base64-encoded CSV.

    Reference: ``get_table_download_link`` (streamlit-pagerank.py:220-229).
    Guarded by ``max_rows`` — this is a driver-side convenience for top-k
    results, never a bulk export path.
    """
    pdf = df.limit(max_rows).toPandas()
    csv_bytes = pdf.to_csv(index=False).encode()
    return base64.b64encode(csv_bytes).decode()


def show_table(df: DataFrame, n: int = 20) -> None:
    """K4: console inspection (reference prints / st.table)."""
    df.show(n, truncate=False)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — the other columnar format a reference user might hold
    data in; same pushdown/pruning story as parquet."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan (predicate pushdown + column pruning, like S2)."""
    return spark.read.orc(path)


def write_json_lines(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (one JSON object per line)."""
    df.write.mode(mode).json(path)


def read_json_lines(
    spark: SparkSession, path: str, schema: str | None = None
) -> DataFrame:
    """JSON-lines scan. ALWAYS pass an explicit ``schema`` in anything
    but exploration: schema inference reads the data twice and types
    drift run-to-run (ints become bigints become doubles) — the same
    no-inference discipline as the CSV edge scan (S1).
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_xml(
    df: DataFrame,
    path: str,
    row_tag: str = "row",
    root_tag: str = "rows",
    mode: str = "overwrite",
) -> None:
    """XML sink (Spark 4 built-in ``xml`` source — the spark-xml
    package folded into core): one element per row under
    ``root_tag``. The interchange format enterprise feeds still
    arrive in; same distributed writer path as parquet/ORC."""
    (
        df.write.format("xml")
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
        .mode(mode)
        .save(path)
    )


def read_xml(
    spark: SparkSession,
    path: str,
    row_tag: str = "row",
    schema: str | None = None,
) -> DataFrame:
    """XML scan. As with JSON-lines, pass an explicit ``schema``
    outside exploration — inference scans the data twice."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)
