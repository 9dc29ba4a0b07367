"""Accuracy-metric operators (reference experiments.cpp:819-874):
per query errRel = |est-gt|/gt, errN = |est-gt|/N_stream,
errL1 = |est-gt|/L1; Bloom-filter runs get a confusion matrix
(FPR/FNR/precision/recall/F1, experiments.cpp:846-873).

Implemented as plain DataFrame column arithmetic over a results table
(qid, est, groundtruth, l1, n_stream [, expected_member]).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def error_metrics(results: DataFrame) -> DataFrame:
    """results: (qid, est, groundtruth, l1, n_stream) -> adds errRel,
    errN, errL1 columns; aggregate with .agg(F.avg(...)) as the
    reference does over its 100 placements."""
    diff = F.abs(F.col("est") - F.col("groundtruth")).cast("double")
    return (results
            .withColumn("errRel", F.when(F.col("groundtruth") > 0,
                                         diff / F.col("groundtruth")))
            .withColumn("errN", diff / F.col("n_stream"))
            .withColumn("errL1", F.when(F.col("l1") > 0, diff / F.col("l1"))))


def summarize_errors(results: DataFrame) -> dict:
    row = error_metrics(results).agg(
        F.avg("errRel").alias("errRel"),
        F.avg("errN").alias("errN"),
        F.avg("errL1").alias("errL1"),
        F.count("*").alias("n")).collect()[0]
    return {k: (None if row[k] is None else float(row[k]))
            for k in ("errRel", "errN", "errL1")} | {"n": int(row["n"])}


def membership_confusion(results: DataFrame) -> dict:
    """results: (est in {0,1}, expected_member in {0,1}) ->
    FPR/FNR/precision/recall/F1 (experiments.cpp:846-873)."""
    row = results.agg(
        F.sum(F.when((F.col("est") == 1) & (F.col("expected_member") == 1), 1)
              .otherwise(0)).alias("tp"),
        F.sum(F.when((F.col("est") == 1) & (F.col("expected_member") == 0), 1)
              .otherwise(0)).alias("fp"),
        F.sum(F.when((F.col("est") == 0) & (F.col("expected_member") == 1), 1)
              .otherwise(0)).alias("fn"),
        F.sum(F.when((F.col("est") == 0) & (F.col("expected_member") == 0), 1)
              .otherwise(0)).alias("tn")).collect()[0]
    tp, fp, fn, tn = (int(row[k]) for k in ("tp", "fp", "fn", "tn"))
    prec = tp / (tp + fp) if tp + fp else None
    rec = tp / (tp + fn) if tp + fn else None
    f1 = (2 * prec * rec / (prec + rec)
          if prec is not None and rec is not None and (prec + rec) else None)
    return {
        "tp": tp, "fp": fp, "fn": fn, "tn": tn,
        "fpr": fp / (fp + tn) if fp + tn else None,
        "fnr": fn / (fn + tp) if fn + tp else None,
        "precision": prec, "recall": rec, "f1": f1,
    }
