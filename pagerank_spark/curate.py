"""Corpus-curation pipeline CLI: the training-data front door.

Composes the curation tier end-to-end over a parquet corpus —
scrub (PII redaction) → structure gate (Gopher bounds) → exact dedup
→ optional near-dup cluster dedup → deterministic train/val/test
split — and writes the result partitioned by split, plus a one-line
JSON report of per-stage row counts (the numbers an ingest dashboard
tracks load-over-load).

Every stage is one of the declared, oracle-verified operators; the
CLI only wires them, so the pipeline inherits their determinism: two
runs over the same corpus produce byte-identical keep decisions.

Usage::

    python -m pagerank_spark.curate CORPUS.parquet --out OUT_DIR
        [--id-col doc_id] [--text-col text]
        [--no-scrub] [--no-gate] [--no-dedup] [--neardup]
        [--quality-labels LABELS.parquet --quality-threshold 0.5]
        [--ppl-bands 1,2]
        [--split train=0.98,val=0.01,test=0.01]

``--quality-labels`` inserts the LEARNED gate between the structural
gate and dedup: a hashed-BoW logistic classifier (operators/
classifier.py) trains on the labeled seed subset and every surviving
doc is kept only if its score clears the threshold — the CCNet
fastText-gate pattern, trained in-pipeline on the cluster.

``--ppl-bands`` adds the OTHER CCNet gate after it: an in-domain
Kneser–Ney trigram LM trains on the surviving corpus, docs split
into 3 equal-population perplexity bands by value (operators/
ngram_lm.py ppl_quality_bands), and only the listed bands survive
(``1,2`` = keep head+middle, drop the disfluent tail).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _parse_split(spec: str) -> dict[str, float]:
    out: dict[str, float] = {}
    for part in spec.split(","):
        name, _, frac = part.partition("=")
        if not name or not frac:
            raise ValueError(f"bad split spec segment: {part!r}")
        out[name.strip()] = float(frac)
    return out


def main(argv: list[str] | None = None, spark=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("input", help="parquet corpus (id, text columns)")
    ap.add_argument("--out", required=True,
                    help="output dir (parquet, partitioned by split)")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--no-scrub", action="store_true",
                    help="skip PII redaction")
    ap.add_argument("--no-gate", action="store_true",
                    help="skip the Gopher structure gate")
    ap.add_argument("--no-dedup", action="store_true",
                    help="skip exact dedup")
    ap.add_argument("--neardup", action="store_true",
                    help="also drop MinHash near-duplicate clusters")
    ap.add_argument(
        "--quality-labels",
        default=None,
        help="parquet with (id_col, y in {0,1}) rows: train a hashed-"
        "BoW logistic quality classifier on the labeled subset (the "
        "CCNet seed-corpus pattern) and keep only docs scoring >= "
        "--quality-threshold; runs after the structure gate",
    )
    ap.add_argument("--quality-threshold", type=float, default=0.5)
    ap.add_argument("--quality-rounds", type=int, default=20)
    ap.add_argument("--quality-features", type=int, default=1024)
    ap.add_argument(
        "--ppl-bands",
        default=None,
        help="comma-listed perplexity bands to KEEP (e.g. '1,2' = "
        "head+middle, the CCNet move): train an in-domain KN trigram "
        "LM on the surviving corpus, split it into 3 equal-population "
        "perplexity bands by value (operators/ngram_lm.py "
        "ppl_quality_bands), and drop every doc outside the listed "
        "bands; docs the model cannot score (NULL band) are dropped "
        "and counted separately. Runs after the learned quality gate",
    )
    ap.add_argument("--split", default="train=0.98,val=0.01,test=0.01")
    ap.add_argument(
        "--audit",
        default=None,
        help="also write the per-document (id, stage, verdict, reason) "
        "provenance relation (parquet) — the lineage rows an ingest "
        "dashboard reconciles against the report counts; not supported "
        "together with --neardup",
    )
    args = ap.parse_args(argv)
    if args.audit and (
        args.neardup or args.quality_labels or args.ppl_bands
    ):
        raise SystemExit(
            "--audit models the default pipeline stages "
            "(scrub/gate/dedup/split); --neardup, --quality-labels "
            "and --ppl-bands are not audited"
        )

    from pyspark.sql import functions as F

    from pagerank_spark.graph.loop import Pins
    from pagerank_spark.operators.curation import dataset_split
    from pagerank_spark.operators.dedup import exact_dedup, neardup_clusters
    from pagerank_spark.operators.text import gopher_quality, pii_redact
    from pagerank_spark.session import get_spark

    own_session = spark is None
    if own_session:
        spark = get_spark(app_name="pagerank-curate")
        spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    _mark = [t0]

    def _stage_sec() -> float:
        # per-stage wall: each stage ends at a materializing count, so
        # the delta since the previous mark is that stage's real cost
        # (CURATE_PROBE.json asserts these stay near-linear at 2x)
        now = time.perf_counter()
        d = now - _mark[0]
        _mark[0] = now
        return round(d, 3)

    id_col, text_col = args.id_col, args.text_col

    docs = spark.read.parquet(args.input)
    report: dict = {"input_rows": docs.count()}
    stage_sec: dict = {}
    report["stage_sec"] = stage_sec
    _stage_sec()  # reset the mark after the input count

    with Pins() as pins:
        # Pin each stage's output and release the previous pins: every
        # stage ends in a materializing count anyway, so the persist is
        # ~free — without it stage N re-computes stages 1..N-1's whole
        # lineage (regex scrub, gate, classifier joins) and the pipeline
        # cost goes O(stages × upstream) instead of O(corpus per stage)
        # (measured 2.4x end-to-end at 100k docs, CURATE_PROBE.json).
        def _swap_pin(df):
            df = pins.persist(df)
            # Materialize unconditionally — ALSO on the first pin: a lazy
            # first persist defers the scrub stage's real work into the
            # next stage's count, so stage_sec['scrub'] would read ~0 and
            # the gate slope in CURATE_PROBE would absorb scrub's cost
            # (r13 ADVICE). Counting before the sweep also keeps the swap
            # from recomputing through a released cache.
            df.count()
            pins.sweep(df)
            return df

        if not args.no_scrub:
            red = pii_redact(docs, text_col=text_col)
            report["pii_rows_touched"] = red.where(
                (F.col("n_emails") > 0) | (F.col("n_phones") > 0)
            ).count()
            # pii_redact emits f"{text_col}_redacted" — renaming the literal
            # "text_redacted" silently no-ops for any non-default --text-col
            # and breaks every downstream stage (r11 ADVICE).
            docs = _swap_pin(
                red.drop(text_col, "n_emails", "n_phones").withColumnRenamed(
                    f"{text_col}_redacted", text_col
                )
            )
            stage_sec["scrub"] = _stage_sec()

        if not args.no_gate:
            gated = gopher_quality(docs, text_col=text_col)
            docs = _swap_pin(
                gated.where(F.col("passes_gopher")).select(docs.columns)
            )
            report["after_gate"] = docs.count()
            stage_sec["gate"] = _stage_sec()

        if args.quality_labels:
            # CCNet/GPT-3-style learned gate: train on the labeled seed
            # subset (post-scrub/post-gate text, so train and serve see the
            # same distribution), score EVERYTHING, threshold. One corpus
            # scan for features; the model is a dim-sized broadcast.
            from pagerank_spark.operators.classifier import (
                hashed_token_features,
                logreg_predict,
                logreg_train,
            )

            labels = spark.read.parquet(args.quality_labels).select(
                F.col(id_col), F.col("y").cast("double").alias("y")
            )
            # scanned by training AND corpus-wide scoring; the stage's
            # swap releases it
            feats = pins.persist(hashed_token_features(
                docs, text_col=text_col, id_col=id_col,
                n_features=args.quality_features, normalize=True,
            ))
            model = logreg_train(
                feats.join(labels.select(id_col), on=id_col, how="left_semi"),
                labels.join(docs.select(id_col), on=id_col, how="left_semi"),
                id_col=id_col,
                rounds=args.quality_rounds,
                lr=0.5,
            )
            # Feature-less docs (blank / whitespace-only text — reachable
            # with --no-gate) get no score row from logreg_predict; a bare
            # semi-join on scores would drop them regardless of the
            # threshold (r12 ADVICE). Left-join the scores back and default
            # the missing ones to sigmoid(bias) — the model's prior for a
            # doc with zero active features.
            import math as _math

            from pagerank_spark.operators.classifier import BIAS_INDEX

            bias_rows = model.weights.where(
                F.col("feature_index") == BIAS_INDEX
            ).collect()
            b = float(bias_rows[0]["weight"]) if bias_rows else 0.0
            prior = 1.0 / (1.0 + _math.exp(-b))
            scores = logreg_predict(feats, model.weights, id_col=id_col)
            keep = (
                docs.select(id_col)
                .join(scores, on=id_col, how="left")
                .select(
                    id_col,
                    F.coalesce(F.col("score"), F.lit(prior)).alias("score"),
                )
                .where(F.col("score") >= args.quality_threshold)
                .select(id_col)
            )
            docs = _swap_pin(docs.join(keep, on=id_col, how="left_semi"))
            report["after_quality_gate"] = docs.count()
            report["quality_train_iterations"] = model.iterations
            stage_sec["quality"] = _stage_sec()

        if args.ppl_bands:
            # CCNet-style fluency gate: train the KN trigram LM in-domain
            # on the SURVIVING corpus (so the model reflects what earlier
            # stages kept) and keep only the listed perplexity bands.
            keep_bands = sorted({int(x) for x in args.ppl_bands.split(",")})
            if not keep_bands or any(b < 1 or b > 3 for b in keep_bands):
                raise SystemExit("--ppl-bands: bands must be in 1..3")
            from pagerank_spark.operators.ngram_lm import ppl_quality_bands

            bands = ppl_quality_bands(
                docs, n_bands=3, text_col=text_col, id_col=id_col
            )
            keep = bands.where(F.col("band").isin(keep_bands)).select(id_col)
            n_unscored = bands.where(F.col("band").isNull()).count()
            docs = _swap_pin(docs.join(keep, on=id_col, how="left_semi"))
            report["after_ppl_band"] = docs.count()
            report["ppl_band_unscored_dropped"] = n_unscored
            report["ppl_bands_kept"] = keep_bands
            stage_sec["ppl_band"] = _stage_sec()

        if not args.no_dedup:
            docs = _swap_pin(exact_dedup(docs, [text_col], id_col))
            report["after_exact_dedup"] = docs.count()
            stage_sec["dedup"] = _stage_sec()

        if args.neardup:
            reps = pins.adopt(
                neardup_clusters(docs, id_col=id_col, text_col=text_col)
            )
            keep = reps.where(
                F.col(id_col) == F.col("canonical_id")
            ).select(id_col)
            docs = _swap_pin(docs.join(keep, on=id_col, how="left_semi"))
            report["after_neardup"] = docs.count()
            stage_sec["neardup"] = _stage_sec()

        if args.audit:
            # One extra pass over the corpus TOTAL (not per stage): the
            # provenance relation recomputes the same operator flags the
            # pipeline used — identical deterministic verdicts — and
            # explodes them into audit rows. The reconcile pytest pins
            # report counts == audit counts stage for stage.
            from pagerank_spark.operators.curation import curation_provenance

            audit = curation_provenance(
                spark.read.parquet(args.input),
                id_col=id_col,
                text_col=text_col,
                fractions=_parse_split(args.split),
                scrub=not args.no_scrub,
                gate=not args.no_gate,
                dedup=not args.no_dedup,
            )
            audit.write.mode("overwrite").parquet(args.audit)
            report["audit"] = args.audit

        docs = dataset_split(docs, id_col, _parse_split(args.split))
        report["split_rows"] = {
            r["split"]: r["n"]
            for r in docs.groupBy("split")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        docs.write.mode("overwrite").partitionBy("split").parquet(args.out)
        stage_sec["split_write"] = _stage_sec()
    report["output"] = args.out
    report["elapsed_sec"] = round(time.perf_counter() - t0, 3)
    print(json.dumps(report))
    if own_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
