"""CLI pipeline parity (``python -m pagerank_spark.cli``).

The CLI mirrors the reference's ``python pageRank.py`` UX
(pageRank.py:181-194): duplicate-edge report, per-iteration L1 print,
``[page] [score]`` result file, optional CSV dump and β sweep.
"""

from __future__ import annotations

import os

from pagerank_spark.cli import main


def _write_edges(tmp_path):
    # 4-node graph with one duplicate edge and one dangling node (4).
    p = tmp_path / "edges.txt"
    p.write_text("1\t2\n2\t3\n3\t1\n1\t3\n1\t3\n3\t4\n")
    return str(p)


def _storage(spark) -> set[int]:
    return {x.id() for x in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_cli_end_to_end(tmp_path, spark, capsys):
    edges = _write_edges(tmp_path)
    out = tmp_path / "result.txt"
    csv_dir = tmp_path / "edges_csv"
    before = _storage(spark)
    rc = main(
        [
            edges,
            "--top", "4",
            "--output", str(out),
            "--csv-dump", str(csv_dir),
            "--compare-teleports",
        ],
        spark=spark,
    )
    assert rc == 0
    # a caller-supplied session gets back no pin of the run: not the
    # edge cache, the ranks or the checkpoints either of them read
    # (a subset: the collector may free other tests' leftovers meanwhile)
    assert _storage(spark) <= before

    captured = capsys.readouterr().out
    assert "duplicate edges: 1" in captured
    assert "(1, 3) x2" in captured
    assert "converged in" in captured
    assert "compare_teleports:" in captured

    lines = out.read_text().strip().splitlines()
    assert len(lines) == 4
    assert all(line.startswith("[") for line in lines)

    # CSV dump exists with a header and all 6 edge rows.
    csv_files = [f for f in os.listdir(csv_dir) if f.endswith(".csv")]
    assert len(csv_files) == 1
    rows = (csv_dir / csv_files[0]).read_text().strip().splitlines()
    assert rows[0] == "src,dst"
    assert len(rows) == 7


def test_curate_cli_end_to_end(tmp_path, spark, capsys):
    import json

    from pagerank_spark.curate import main as curate_main

    long_good = ("the quick brown fox jumps over the lazy dog and then "
                 "keeps going with more and more plain english words "
                 "about the weather the market and the evening news ") * 3
    rows = [
        # passes the gate; contains PII to scrub
        (1, long_good + " contact me at bob@example.com", "en"),
        # exact duplicate pair (one must survive)
        (2, long_good + " unique tail alpha", "en"),
        (3, long_good + " unique tail alpha", "en"),
        # too short: the Gopher gate drops it
        (4, "tiny", "en"),
    ]
    src = tmp_path / "corpus"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.parquet(str(src))

    out = tmp_path / "curated"
    rc = curate_main(
        [str(src), "--out", str(out), "--split", "train=0.5,val=0.5"],
        spark=spark,
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["input_rows"] == 4
    assert report["pii_rows_touched"] == 1
    assert report["after_gate"] == 3          # the tiny doc dropped
    assert report["after_exact_dedup"] == 2   # dup pair collapsed
    assert sum(report["split_rows"].values()) == 2

    got = spark.read.parquet(str(out))
    texts = [r["text"] for r in got.collect()]
    assert all("bob@example.com" not in t for t in texts)
    assert any("<EMAIL>" in t for t in texts)
    assert got.select("split").distinct().count() >= 1


def test_curate_cli_custom_text_col(tmp_path, spark, capsys):
    """Non-default --text-col (r11 ADVICE): pii_redact emits
    f"{text_col}_redacted", and the pipeline used to rename the literal
    "text_redacted" — a silent no-op that left BOTH columns in the frame
    and broke every downstream stage for e.g. --text-col body."""
    import json

    from pagerank_spark.curate import main as curate_main

    long_good = ("the quick brown fox jumps over the lazy dog and then "
                 "keeps going with more and more plain english words "
                 "about the weather the market and the evening news ") * 3
    rows = [
        (1, long_good + " contact me at bob@example.com", "en"),
        (2, long_good + " unique tail alpha", "en"),
        (3, "tiny", "en"),
    ]
    src = tmp_path / "corpus"
    spark.createDataFrame(
        rows, "doc_id long, body string, lang string"
    ).write.parquet(str(src))

    out = tmp_path / "curated"
    rc = curate_main(
        [str(src), "--out", str(out), "--text-col", "body"], spark=spark
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["input_rows"] == 3
    assert report["pii_rows_touched"] == 1
    assert report["after_gate"] == 2

    got = spark.read.parquet(str(out))
    assert "body" in got.columns and "body_redacted" not in got.columns
    texts = [r["body"] for r in got.collect()]
    assert all("bob@example.com" not in t for t in texts)
    assert any("<EMAIL>" in t for t in texts)


def test_curate_cli_trained_quality_gate(tmp_path, spark, capsys):
    """--quality-labels trains the hashed-BoW logistic gate on a
    labeled seed subset and thresholds the WHOLE corpus: docs carrying
    the positive-label token survive, the rest drop — including
    unlabeled docs, which only the learned model can judge."""
    import json

    from pagerank_spark.curate import main as curate_main

    filler = ("plain english words about the weather the market and "
              "the evening news rolling onward through the day ") * 3
    rows = [
        # labeled seeds: 1-4 positive (contain 'quantum'), 5-8 negative
        *[(i, filler + " quantum flux", "en") for i in range(1, 5)],
        *[(i, filler + " mundane noise", "en") for i in range(5, 9)],
        # unlabeled: 9 looks positive, 10 looks negative
        (9, filler + " quantum leap", "en"),
        (10, filler + " mundane drivel", "en"),
    ]
    src = tmp_path / "corpus"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.parquet(str(src))
    labels = tmp_path / "labels"
    spark.createDataFrame(
        [(i, 1.0) for i in range(1, 5)] + [(i, 0.0) for i in range(5, 9)],
        "doc_id long, y double",
    ).write.parquet(str(labels))

    out = tmp_path / "curated"
    rc = curate_main(
        [
            str(src), "--out", str(out), "--no-scrub", "--no-dedup",
            "--quality-labels", str(labels),
            "--quality-rounds", "30",
        ],
        spark=spark,
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["after_quality_gate"] == 5  # 1-4 and 9
    kept = {r["doc_id"] for r in spark.read.parquet(str(out)).collect()}
    assert kept == {1, 2, 3, 4, 9}


def test_curate_cli_trained_gate_keeps_featureless_docs(
    tmp_path, spark, capsys
):
    """A doc whose text tokenizes to nothing (blank — reachable with
    --no-gate) gets no score row from logreg_predict; the gate must
    default it to sigmoid(bias), the model's zero-feature prior, not
    silently drop it (r12 ADVICE). Measured on this corpus: positives
    score 0.511, negatives 0.489, bias 0 → prior 0.5; threshold 0.495
    separates all three classes and sits safely below the prior."""
    import json

    from pagerank_spark.curate import main as curate_main

    filler = "steady prose about rivers and markets and weather " * 4
    rows = [
        *[(i, filler + " quantum flux", "en") for i in range(1, 5)],
        *[(i, filler + " mundane noise", "en") for i in range(5, 9)],
        (9, "   ", "en"),  # whitespace-only: zero feature rows
    ]
    src = tmp_path / "corpus"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.parquet(str(src))
    labels = tmp_path / "labels"
    spark.createDataFrame(
        [(i, 1.0) for i in range(1, 5)] + [(i, 0.0) for i in range(5, 9)],
        "doc_id long, y double",
    ).write.parquet(str(labels))

    out = tmp_path / "curated"
    rc = curate_main(
        [
            str(src), "--out", str(out), "--no-scrub", "--no-gate",
            "--no-dedup",
            "--quality-labels", str(labels),
            "--quality-rounds", "30",
            "--quality-threshold", "0.495",
        ],
        spark=spark,
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    kept = {r["doc_id"] for r in spark.read.parquet(str(out)).collect()}
    assert 9 in kept, "feature-less doc must ride the prior, not vanish"
    assert kept == {1, 2, 3, 4, 9}
    assert report["after_quality_gate"] == 5


def test_curate_cli_audit_reconciles_report(tmp_path, spark, capsys):
    import json

    from pagerank_spark.curate import main as curate_main

    long_good = ("the quick brown fox jumps over the lazy dog and then "
                 "keeps going with more and more plain english words "
                 "about the weather the market and the evening news ") * 3
    rows = [
        (1, long_good + " contact me at bob@example.com", "en"),
        (2, long_good + " unique tail alpha", "en"),
        (3, long_good + " unique tail alpha", "en"),   # dup of 2
        (4, "tiny", "en"),                             # gate drop
        (5, long_good + " unique tail beta", "en"),
    ]
    src = tmp_path / "corpus"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.parquet(str(src))

    out = tmp_path / "curated"
    audit_path = tmp_path / "audit"
    rc = curate_main(
        [str(src), "--out", str(out), "--split", "train=0.5,val=0.5",
         "--audit", str(audit_path)],
        spark=spark,
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    audit = spark.read.parquet(str(audit_path))
    by = {
        (r["stage"], r["verdict"]): r["n"]
        for r in audit.groupBy("stage", "verdict").count()
        .withColumnRenamed("count", "n").collect()
    }
    # stage-for-stage reconciliation with the report counts
    assert by.get(("scrub", "redacted"), 0) == report["pii_rows_touched"]
    assert by.get(("gate", "pass"), 0) == report["after_gate"]
    assert by.get(("exact_dedup", "keep"), 0) == report["after_exact_dedup"]
    split_counts = {
        k: v for (stage, k), v in by.items() if stage == "split"
    }
    assert split_counts == report["split_rows"]
    # every input doc has scrub+gate rows; only gate-passers have dedup
    assert by.get(("scrub", "redacted"), 0) + by.get(("scrub", "clean"), 0) \
        == report["input_rows"]
    # drop reasons point at the surviving winner
    dropped = {
        r["doc_id"]: r["reason"]
        for r in audit.where(
            (audit.stage == "exact_dedup") & (audit.verdict == "drop")
        ).collect()
    }
    assert dropped == {3: "duplicate_of=2"}


def test_curate_cli_audit_refuses_neardup(tmp_path, spark):
    import pytest

    from pagerank_spark.curate import main as curate_main

    src = tmp_path / "corpus"
    spark.createDataFrame(
        [(1, "x", "en")], "doc_id long, text string, lang string"
    ).write.parquet(str(src))
    with pytest.raises(SystemExit):
        curate_main(
            [str(src), "--out", str(tmp_path / "o"), "--neardup",
             "--audit", str(tmp_path / "a")],
            spark=spark,
        )


def test_curate_cli_audit_respects_stage_toggles(tmp_path, spark, capsys):
    import json

    from pagerank_spark.curate import main as curate_main

    long_good = ("plain english words about the weather the market and "
                 "the evening news rolling onward with steady pace ") * 5
    rows = [
        (1, long_good + " contact me at bob@example.com", "en"),
        (2, "tiny", "en"),
    ]
    src = tmp_path / "corpus"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.parquet(str(src))
    rc = curate_main(
        [str(src), "--out", str(tmp_path / "o"), "--no-scrub", "--no-gate",
         "--audit", str(tmp_path / "a")],
        spark=spark,
    )
    assert rc == 0
    json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    audit = spark.read.parquet(str(tmp_path / "a"))
    stages = {r["stage"] for r in audit.select("stage").distinct().collect()}
    # scrub and gate disabled: no rows for them; everyone reaches dedup
    assert stages == {"exact_dedup", "split"}
    assert audit.where(audit.stage == "exact_dedup").count() == 2


def test_curate_cli_ppl_band_gate(tmp_path, spark, capsys):
    """--ppl-bands trains the in-domain KN LM and keeps only the
    listed perplexity bands: three 3-doc groups with strictly ordered
    fluency land in bands 1/2/3, and '1,2' drops the scrambled tail."""
    import json

    from pagerank_spark.curate import main as curate_main

    fluent = "the cat sat on the mat and the dog sat on the rug"
    middle = "the cat sat on the rug and the dog sat on the mat"
    tail = "rug the on sat dog mat and the the cat on sat the"
    rows = (
        [(i, fluent, "en") for i in range(1, 4)]
        + [(i, middle, "en") for i in range(4, 7)]
        + [(i, tail, "en") for i in range(7, 10)]
    )
    src = tmp_path / "corpus"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.parquet(str(src))

    out = tmp_path / "curated"
    rc = curate_main(
        [
            str(src), "--out", str(out), "--no-scrub", "--no-gate",
            "--no-dedup", "--ppl-bands", "1,2",
        ],
        spark=spark,
    )
    assert rc == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["after_ppl_band"] == 6
    assert report["ppl_band_unscored_dropped"] == 0
    assert report["ppl_bands_kept"] == [1, 2]
    assert "ppl_band" in report["stage_sec"]
    kept = {r["doc_id"] for r in spark.read.parquet(str(out)).collect()}
    assert kept == set(range(1, 7))  # fluent + middle; tail dropped
