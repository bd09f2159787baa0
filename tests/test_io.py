"""Sources and sinks (S1-S3, K1-K4): parse paths, sink formats."""

from __future__ import annotations

import base64
import glob
import os

from pyspark.sql import functions as F

from pagerank_spark import io as pio


def test_read_edge_list_tab(spark, tmp_path):
    p = tmp_path / "edges.txt"
    p.write_text("1\t2\n3\t4\n# comment\n5\t6\n")
    df = pio.read_edge_list(spark, str(p))
    assert df.dtypes == [("src", "bigint"), ("dst", "bigint")]
    assert sorted((r.src, r.dst) for r in df.collect()) == [(1, 2), (3, 4), (5, 6)]


def test_read_edge_list_ragged_whitespace(spark, tmp_path):
    p = tmp_path / "edges_ws.txt"
    p.write_text("1   2\n  3\t\t4  \n\n# c\n5 6\n")
    df = pio.read_edge_list(spark, str(p), sep=None)
    assert sorted((r.src, r.dst) for r in df.collect()) == [(1, 2), (3, 4), (5, 6)]


def test_write_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, 2), (3, 4)], ["src", "dst"])
    out = str(tmp_path / "csv_out")
    pio.write_csv(df, out, single_file=True)
    files = glob.glob(os.path.join(out, "part-*.csv"))
    assert len(files) == 1
    back = spark.read.option("header", True).csv(out)
    assert sorted((int(r.src), int(r.dst)) for r in back.collect()) == [
        (1, 2), (3, 4),
    ]


def test_write_result_text_decimal_format(spark, tmp_path):
    # Sub-1e-3 scores must render decimal (reference str(float)), never
    # scientific — the reason this sink formats driver-side.
    df = spark.createDataFrame(
        [(7, 0.000978), (3, 0.5)], ["page", "score"]
    )
    out = str(tmp_path / "result.txt")
    pio.write_result_text(df, out)
    lines = open(out).read().splitlines()
    assert lines == ["[3] [0.5]", "[7] [0.000978]"]
    assert "E" not in lines[1] and "e" not in lines[1]


def test_format_result_lines_distributed(spark):
    df = spark.createDataFrame([(7, 0.25)], ["page", "score"])
    rows = pio.format_result_lines(df).collect()
    assert rows[0]["line"] == "[7] [0.25]"


def test_csv_download_payload(spark):
    df = spark.createDataFrame([(1, "x")], ["id", "val"])
    payload = pio.csv_download_payload(df)
    decoded = base64.b64decode(payload).decode()
    assert decoded.splitlines() == ["id,val", "1,x"]


def test_orc_roundtrip(spark, tmp_path):
    from pagerank_spark.io import read_orc, write_orc

    df = spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v")
    path = str(tmp_path / "orc_out")
    write_orc(df, path)
    back = read_orc(spark, path)
    # nullability relaxes on read; names and types must round-trip
    assert back.dtypes == df.dtypes
    assert sorted(r["v"] for r in back.collect()) == [2 * i for i in range(100)]


def test_json_lines_roundtrip_with_explicit_schema(spark, tmp_path):
    from pagerank_spark.io import read_json_lines, write_json_lines

    df = spark.range(0, 50).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) / 4 AS v", "CONCAT('n', id) AS name"
    )
    path = str(tmp_path / "json_out")
    write_json_lines(df, path)
    back = read_json_lines(
        spark, path, schema="k BIGINT, v DOUBLE, name STRING"
    )
    assert dict(back.dtypes) == {"k": "bigint", "v": "double", "name": "string"}
    got = {r["k"]: (r["v"], r["name"]) for r in back.collect()}
    assert got[8] == (2.0, "n8")
    assert len(got) == 50


def test_csv_roundtrip_with_schema(spark, tmp_path):
    """write_csv -> read_csv with an explicit DDL schema: values and
    types survive; no inference pass."""
    from pagerank_spark.io import read_csv, write_csv

    df = spark.createDataFrame(
        [(1, "a,b", 1.5), (2, None, -3.25)], "id long, s string, x double"
    )
    path = str(tmp_path / "csv")
    write_csv(df, path)
    back = read_csv(spark, path, schema="id long, s string, x double")
    assert back.schema.simpleString() == "struct<id:bigint,s:string,x:double>"
    got = sorted(
        (r["id"], r["s"], r["x"]) for r in back.collect()
    )
    assert got == [(1, "a,b", 1.5), (2, None, -3.25)]


def test_csv_read_infers_without_schema(spark, tmp_path):
    from pagerank_spark.io import read_csv, write_csv

    df = spark.createDataFrame([(7, 2.0)], "id long, x double")
    path = str(tmp_path / "csv2")
    write_csv(df, path)
    back = read_csv(spark, path)
    assert back.count() == 1
    assert dict(back.dtypes)["x"] == "double"


def test_read_edge_list_gzip_transparent(spark, tmp_path):
    # The flagship text source must read compressed edge lists
    # transparently (Hadoop codec inference by extension) — the
    # standard shape for crawl/dump inputs at scale.
    import gzip

    from pagerank_spark.io import read_edge_list

    raw = "1\t2\n2\t3\n3\t1\n"
    plain = tmp_path / "edges.txt"
    plain.write_text(raw)
    gz = tmp_path / "edges.txt.gz"
    gz.write_bytes(gzip.compress(raw.encode()))
    want = sorted(
        (r["src"], r["dst"])
        for r in read_edge_list(spark, str(plain)).collect()
    )
    got = sorted(
        (r["src"], r["dst"])
        for r in read_edge_list(spark, str(gz)).collect()
    )
    assert got == want == [(1, 2), (2, 3), (3, 1)]
    # ragged-whitespace mode reads compressed input too
    rag = tmp_path / "ragged.txt.gz"
    rag.write_bytes(gzip.compress(b"1 2\n2   3\n"))
    got2 = sorted(
        (r["src"], r["dst"])
        for r in read_edge_list(spark, str(rag), sep=None).collect()
    )
    assert got2 == [(1, 2), (2, 3)]


def test_parquet_compression_codec_matrix(spark, tmp_path):
    # Every bundled parquet codec round-trips bit-exact: the knob a
    # 100 TB deployment turns (zstd for cold storage, snappy/lz4 for
    # scan-heavy) without changing any query.
    df = spark.range(500).selectExpr(
        "id", "id * 1.5 AS v", "CAST(id % 7 AS STRING) AS s"
    )
    want = sorted((r["id"], r["v"], r["s"]) for r in df.collect())
    for codec in ("snappy", "zstd", "gzip", "lz4"):
        path = str(tmp_path / f"pq_{codec}")
        df.write.option("compression", codec).parquet(path)
        back = sorted(
            (r["id"], r["v"], r["s"])
            for r in spark.read.parquet(path).collect()
        )
        assert back == want, codec


def test_text_sink_compression(spark, tmp_path):
    # Formatted-text output compresses at write (gzip/bzip2) and reads
    # back transparently.
    df = spark.range(20).selectExpr("CAST(id AS STRING) AS value")
    want = sorted(str(i) for i in range(20))
    for codec in ("gzip", "bzip2"):
        path = str(tmp_path / f"txt_{codec}")
        df.write.option("compression", codec).text(path)
        back = sorted(r["value"] for r in spark.read.text(path).collect())
        assert back == want, codec


def test_xml_roundtrip_with_schema(spark, tmp_path):
    from pagerank_spark.io import read_xml, write_xml

    df = spark.createDataFrame(
        [(1, "alpha", 1.5), (2, "beta", -2.0), (3, None, 0.25)],
        "id LONG, name STRING, score DOUBLE",
    )
    path = str(tmp_path / "xml_rt")
    write_xml(df, path, row_tag="doc", root_tag="docs")
    back = read_xml(
        spark, path, row_tag="doc",
        schema="id LONG, name STRING, score DOUBLE",
    )
    got = sorted(
        (r["id"], r["name"], r["score"]) for r in back.collect()
    )
    want = sorted((r["id"], r["name"], r["score"]) for r in df.collect())
    assert got == want
    # inference path also reads it
    assert read_xml(spark, path, row_tag="doc").count() == 3


def test_load_events_leaves_the_callers_nanos_conf(
    spark, monkeypatch, tmp_path
):
    # An ``events.ts`` written as parquet TIMESTAMP(NANOS) is analyzed
    # on a clone carrying nanosAsLong, so the caller's session never
    # holds the key, during the call or after it; ``ts`` comes back as
    # a timestamp at the file's microseconds.
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.readwriter import DataFrameReader

    key = "spark.sql.legacy.parquet.nanosAsLong"
    nanos = [1_704_067_200_123_456_789, 1_704_067_201_000_000_999]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(nanos, pa.timestamp("ns")),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    seen = []
    parquet = DataFrameReader.parquet

    def recording(self, *paths, **options):
        seen.append(spark.conf.get(key, None))
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", recording)
    ev = pio.load_table(spark, str(tmp_path), "events")
    assert seen == [None]
    assert spark.conf.get(key, None) is None
    assert ev.sparkSession is spark
    assert dict(ev.dtypes)["ts"] == "timestamp"
    got = ev.orderBy("event_id").select(F.unix_micros("ts").alias("us"))
    assert [r["us"] for r in got.collect()] == [v // 1000 for v in nanos]
