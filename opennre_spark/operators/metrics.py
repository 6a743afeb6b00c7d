"""Evaluation metrics as DataFrame plans (SURVEY.md §2.4 A9-A11, §2.5
W1-W5) — the reference computes these driver-side with python loops +
sklearn (data_loader.py:53-103, 239-310); here they are window/agg
plans that scale to prediction sets that don't fit on the driver.

Determinism delta vs the reference (documented, SURVEY.md §7): the
reference's global sort is Python's stable sort on insertion order
(data_loader.py:250); we totalize the order with (h_id, t_id, relation)
as tie-break keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import config


def ranked_cumsum(
    df: DataFrame,
    flag_col: str = "is_correct",
    score_col: str = "score",
    tiebreak: tuple = ("h_id", "t_id", "relation"),
    n_buckets: int | None = None,
    buckets: str = "uniform",
) -> DataFrame:
    """Exact global rank + running flag sum WITHOUT a single-reducer
    window — the two-phase distributed prefix sum.

    An unpartitioned `Window.orderBy(score)` moves every row through one
    task (Spark's WindowExec warns exactly this); at 100x scale the
    curve input is |pairs| x |relations| rows and that task is the
    bottleneck. Instead:

      phase 1: rows are bucketed by fixed uniform splits of the score
        range [min, max] (width_bucket — deterministic, no sampling, so
        re-evaluating the plan can never disagree with the collected
        stats); a tiny groupBy collects per-bucket (count, flag sum) and
        the driver turns them into per-bucket prefix offsets
        (n_buckets rows).
      phase 2: a window partitioned BY bucket computes the local
        row_number/cumsum in parallel; adding the broadcast offsets
        yields the exact global rank and running sum.

    Ties in `score` land in the same bucket (bucketing is score-only),
    so the within-bucket tiebreak ordering is globally total.

    buckets='uniform' splits [min, max] evenly (one cheap agg; can skew
    if scores concentrate). buckets='quantile' spends one approxQuantile
    pass to place boundaries at score quantiles, evening the per-bucket
    row counts — the production choice for skewed score distributions.
    Either way the boundaries become PLAN LITERALS before phase 1 runs,
    so both phases see identical bucketing by construction.

    NULL scores take bucket 0 (the lowest) — they rank after every
    non-NULL score, matching a DESC NULLS LAST window ordering.

    The input is localCheckpoint'ed first: phase 1 (stats) and phase 2
    (the returned plan) would otherwise each re-execute the full
    upstream lineage — for pr_curve that lineage is the CNN scoring
    pipeline, so one materialization of the (small) prediction set here
    buys back two re-runs of the expensive part.
    """
    spark = df.sparkSession
    if n_buckets is None:
        n_buckets = max(spark.sparkContext.defaultParallelism * 2, 16)
    df = df.localCheckpoint()
    s = F.col(score_col)
    if buckets == "quantile":
        probs = [i / n_buckets for i in range(1, n_buckets)]
        bounds = sorted(set(df.approxQuantile(score_col, probs, 0.01)))
        if not bounds:
            nonnull = F.lit(1)
        else:
            # bucket = 1 + #{boundaries <= score}; a plain CASE-sum, NOT a
            # higher-order-function lambda — a lambda capturing the outer
            # score column mis-binds when Catalyst rewrites the aliased
            # expression as a join key (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND
            # on Spark 4.1.2, caught by review + reproduction).
            acc = F.lit(1)
            for bound in bounds:
                acc = acc + F.when(s >= F.lit(float(bound)), 1).otherwise(0)
            nonnull = acc
    else:
        mn, mx = df.agg(F.min(score_col), F.max(score_col)).first()
        if mn is None or mn == mx:
            nonnull = F.lit(1)
        else:
            nonnull = F.width_bucket(s, F.lit(mn), F.lit(mx), F.lit(n_buckets))
    bucket = F.when(s.isNull(), F.lit(0)).otherwise(nonnull)
    b = df.withColumn("__bucket", bucket.cast("int"))
    stats = b.groupBy("__bucket").agg(
        F.count(F.lit(1)).alias("__n"), F.sum(flag_col).alias("__c")
    ).collect()
    # score DESC order => offsets accumulate from the highest bucket down
    offs, run_n, run_c = [], 0, 0
    for r in sorted(stats, key=lambda r: -r["__bucket"]):
        offs.append((r["__bucket"], run_n, run_c))
        run_n += r["__n"]
        run_c += int(r["__c"] or 0)
    off_df = spark.createDataFrame(
        offs or [(1, 0, 0)], "__bucket int, __off_n long, __off_c long"
    )
    order = [F.col(score_col).desc()] + [F.col(c) for c in tiebreak]
    w = Window.partitionBy("__bucket").orderBy(*order)
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        b.join(F.broadcast(off_df), "__bucket")
        .withColumn("rank", (F.row_number().over(w) + F.col("__off_n")).cast("long"))
        .withColumn(
            "cum_correct",
            (F.sum(flag_col).over(cum) + F.col("__off_c")).cast("long"),
        )
        .drop("__bucket", "__off_n", "__off_c")
    )


def _lag_by_rank(curve: DataFrame, cols: dict[str, str]) -> DataFrame:
    """lag(col) OVER (ORDER BY rank) without the single-partition window:
    an equi-join of the curve with itself shifted by one rank. `cols`
    maps source column -> lagged alias. Rows with no predecessor
    (rank 1) are dropped — same as filtering lag IS NULL."""
    prev = curve.select(
        (F.col("rank") + 1).alias("rank"),
        *[F.col(src).alias(dst) for src, dst in cols.items()],
    )
    return curve.join(prev, "rank")


def pr_curve(predictions: DataFrame, facts: DataFrame) -> DataFrame:
    """Running precision/recall over score-ranked predictions
    (W1+W2, data_loader.py:250-275).

    predictions: (h_id, t_id, relation, score) — non-NA only (the
    emitter already filters NA per bag_re.py:174).
    facts: gold (h_id, t_id, relation), distinct.

    Correctness membership test = LEFT-join marker (J2). The facts side
    is usually small relative to predictions (it is the distinct gold
    set) but at corpus scale it is an unbounded distinct (h, t, r) set,
    so the broadcast is SIZE-GATED via broadcast_hint_if_small
    (VERDICT r2 "what's wrong" #1): one bounded probe of the
    materialized facts decides broadcast vs shuffle join, and the same
    materialization serves both consumers (the marker join and
    total_facts) without re-executing the facts lineage. The global
    rank/cumulative-correct pair comes from the two-phase distributed
    prefix sum (ranked_cumsum) — no row ever passes through a
    single-reducer window.
    """
    from .linking import broadcast_hint_if_small

    facts_m, hint = broadcast_hint_if_small(
        facts.distinct().withColumn("is_correct", F.lit(1))
    )
    marked = predictions.join(
        hint(facts_m),
        ["h_id", "t_id", "relation"],
        "left",
    ).withColumn("is_correct", F.coalesce("is_correct", F.lit(0)))

    total_facts = facts_m.count()
    return (
        ranked_cumsum(marked)
        .withColumn("prec", F.col("cum_correct").cast("double") / F.col("rank"))
        .withColumn(
            "rec", F.col("cum_correct").cast("double") / F.lit(float(total_facts))
        )
    )


def bag_eval(
    predictions: DataFrame,
    facts: DataFrame,
    threshold: float = config.SCORE_THRESHOLD,
    rel_count: int | None = None,
) -> dict:
    """Full bag-level eval result (data_loader.py:239-310): AUC, max
    micro-F1 + best threshold, mean precision, P@k, and the
    thresholded entpair micro/macro F1 (A10/A11, sklearn semantics with
    labels = all non-NA relations).

    Returns a dict of scalars (the curve itself via pr_curve()).
    """
    curve = pr_curve(predictions, facts).cache()
    try:
        # W3: trapezoidal AUC (sklearn.metrics.auc) — rank-shift self-join
        # instead of an unpartitioned lag window (single-reducer at scale)
        steps = _lag_by_rank(curve, {"prec": "lprec", "rec": "lrec"})
        auc_row = steps.agg(
            F.sum((F.col("rec") - F.col("lrec")) * (F.col("prec") + F.col("lprec")) / 2.0)
        ).first()
        auc = float(auc_row[0]) if auc_row[0] is not None else 0.0

        # W4: max F1 over the curve + the score at the argmax rank
        f1c = curve.withColumn(
            "f1",
            2.0 * F.col("prec") * F.col("rec")
            / (F.col("prec") + F.col("rec") + F.lit(1e-20)),
        )
        best = f1c.orderBy(F.col("f1").desc(), "rank").select("f1", "score").first()
        max_micro_f1 = float(best["f1"]) if best else 0.0
        best_threshold = float(best["score"]) if best else 0.0
        mean_prec_row = curve.agg(F.avg("prec")).first()
        mean_prec = float(mean_prec_row[0]) if mean_prec_row[0] is not None else 0.0

        # W5: P@k — reference crashes if <300 predictions
        # (data_loader.py:310 indexes np_prec[299] unguarded); we guard.
        pk = {
            f"p@{k}": float(r["prec"])
            for k in (100, 200, 300)
            for r in curve.filter(F.col("rank") == k).select("prec").collect()
        }

        # A10/A11: entpair-level micro/macro P/R/F1 at the fixed
        # threshold, labels = non-NA relations (data_loader.py:284-301).
        # label=1 iff (h,t,r) in facts; pred=1 iff any score >= thr.
        per_cell = curve.groupBy("h_id", "t_id", "relation").agg(
            F.max("is_correct").alias("label"),
            F.max(
                F.when(F.col("score") >= F.lit(threshold), 1).otherwise(0)
            ).alias("pred"),
        )
        per_rel = per_cell.groupBy("relation").agg(
            F.sum(F.col("label") * F.col("pred")).alias("tp"),
            F.sum(F.col("pred") * (1 - F.col("label"))).alias("fp"),
            F.sum(F.col("label") * (1 - F.col("pred"))).alias("fn"),
        ).cache()
        tot = per_rel.agg(
            F.sum("tp").alias("tp"), F.sum("fp").alias("fp"), F.sum("fn").alias("fn")
        ).first()
        tp, fp, fn = (int(tot["tp"] or 0), int(tot["fp"] or 0), int(tot["fn"] or 0))
        micro_p = tp / (tp + fp) if tp + fp else 0.0
        micro_r = tp / (tp + fn) if tp + fn else 0.0
        micro_f1 = (
            2 * micro_p * micro_r / (micro_p + micro_r) if micro_p + micro_r else 0.0
        )
        # macro: average per-relation F1 over ALL non-NA labels
        # (sklearn divides by len(labels), including relations with no
        # predictions/facts -> F1 contribution 0)
        per_rel_rows = per_rel.collect()
        per_rel_f1 = {}
        macro_sum = 0.0
        for r in per_rel_rows:
            p = r["tp"] / (r["tp"] + r["fp"]) if r["tp"] + r["fp"] else 0.0
            rr = r["tp"] / (r["tp"] + r["fn"]) if r["tp"] + r["fn"] else 0.0
            f1 = 2 * p * rr / (p + rr) if p + rr else 0.0
            per_rel_f1[r["relation"]] = f1
            macro_sum += f1
        n_labels = rel_count - 1 if rel_count else len(per_rel_rows)
        macro_f1 = macro_sum / n_labels if n_labels else 0.0
        per_rel.unpersist()

        return {
            "auc": auc,
            "max_micro_f1": max_micro_f1,
            "best_threshold": best_threshold,
            "mean_prec": mean_prec,
            "micro_p": micro_p,
            "micro_r": micro_r,
            "micro_f1": micro_f1,
            "macro_f1": macro_f1,
            "per_relation_f1": per_rel_f1,
            **pk,
        }
    finally:
        curve.unpersist()


def sentence_eval(labeled: DataFrame, rel2id: dict[str, int]) -> dict:
    """A9 (data_loader.py:53-103): accuracy + micro P/R/F1 with the
    negative class excluded from positives. labeled: (gold, pred)
    relation-name columns.
    """
    neg = None
    for name in config.NEG_LABEL_NAMES:
        if name in rel2id:
            neg = name
            break
    negl = F.lit(neg)
    row = labeled.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(F.col("gold") == F.col("pred"), 1).otherwise(0)).alias("correct"),
        F.sum(
            F.when((F.col("gold") == F.col("pred")) & (F.col("gold") != negl), 1)
            .otherwise(0)
        ).alias("correct_positive"),
        F.sum(F.when(F.col("gold") != negl, 1).otherwise(0)).alias("gold_positive"),
        F.sum(F.when(F.col("pred") != negl, 1).otherwise(0)).alias("pred_positive"),
    ).first()
    acc = row["correct"] / row["total"] if row["total"] else 0.0
    micro_p = (
        row["correct_positive"] / row["pred_positive"] if row["pred_positive"] else 0
    )
    micro_r = (
        row["correct_positive"] / row["gold_positive"] if row["gold_positive"] else 0
    )
    micro_f1 = (
        2 * micro_p * micro_r / (micro_p + micro_r) if (micro_p + micro_r) else 0
    )
    return {"acc": acc, "micro_p": micro_p, "micro_r": micro_r, "micro_f1": micro_f1}


def multilabel_sentence_eval(
    cells: DataFrame,
    rel2id: dict[str, int],
    threshold: float = config.SCORE_THRESHOLD,
) -> dict:
    """Multi-label sentence-level eval (data_loader.py:383-446, the
    NYT10m/Wiki20m manual-test path):

      - ranked micro P/R curve + AUC + max-F1 + P@k over every
        (sentence, relation) cell whose relation is NOT in the
        multi-label negative list (P5, data_loader.py:390-391);
      - thresholded micro/macro P/R/F1 over labels range(1, N)
        (assumes NA=0, data_loader.py:434-440);
      - elementwise accuracy over the FULL (sentence x relation)
        matrix including the NA column (data_loader.py:442).

    cells: one row per (sent_id, relation) with `score` double and
    `label` int (1 iff the relation is annotated for the sentence) —
    the long form of the reference's dense matrices.
    """
    na = set(config.MULTILABEL_NA_NAMES)
    pos = cells.filter(~F.col("relation").isin(*na))

    total_row = pos.agg(F.sum("label")).first()
    total = int(total_row[0] or 0)
    curve = (
        ranked_cumsum(pos, flag_col="label", tiebreak=("sent_id", "relation"))
        .withColumn("prec", F.col("cum_correct").cast("double") / F.col("rank"))
        .withColumn("rec", F.col("cum_correct").cast("double") / F.lit(float(total)))
        .cache()
    )
    try:
        steps = _lag_by_rank(curve, {"prec": "lprec", "rec": "lrec"})
        auc_row = steps.agg(
            F.sum((F.col("rec") - F.col("lrec")) * (F.col("prec") + F.col("lprec")) / 2.0)
        ).first()
        auc = float(auc_row[0]) if auc_row[0] is not None else 0.0
        f1c = curve.withColumn(
            "f1",
            2.0 * F.col("prec") * F.col("rec")
            / (F.col("prec") + F.col("rec") + F.lit(1e-20)),
        )
        best = f1c.orderBy(F.col("f1").desc(), "rank").select("f1", "score").first()
        pk = {
            f"p@{k}": float(r["prec"])
            for k in (100, 200, 300)
            for r in curve.filter(F.col("rank") == k).select("prec").collect()
        }

        # thresholded micro/macro over labels 1..N-1 (NA=0 excluded)
        id2rel = {v: k for k, v in rel2id.items()}
        na_rel = id2rel.get(0)
        thresholded = cells.withColumn(
            "pred", (F.col("score") >= F.lit(threshold)).cast("int")
        )
        labeled = thresholded.filter(F.col("relation") != F.lit(na_rel))
        per_rel = labeled.groupBy("relation").agg(
            F.sum(F.col("label") * F.col("pred")).alias("tp"),
            F.sum(F.col("pred") * (1 - F.col("label"))).alias("fp"),
            F.sum(F.col("label") * (1 - F.col("pred"))).alias("fn"),
        ).collect()
        TP = sum(r["tp"] for r in per_rel)
        FP = sum(r["fp"] for r in per_rel)
        FN = sum(r["fn"] for r in per_rel)
        micro_p = TP / (TP + FP) if TP + FP else 0.0
        micro_r = TP / (TP + FN) if TP + FN else 0.0
        micro_f1 = (
            2 * micro_p * micro_r / (micro_p + micro_r) if micro_p + micro_r else 0.0
        )
        n_labels = len(rel2id) - 1
        macro_p = macro_r = macro_f1 = 0.0
        for r in per_rel:
            p = r["tp"] / (r["tp"] + r["fp"]) if r["tp"] + r["fp"] else 0.0
            rr = r["tp"] / (r["tp"] + r["fn"]) if r["tp"] + r["fn"] else 0.0
            macro_p += p
            macro_r += rr
            macro_f1 += 2 * p * rr / (p + rr) if p + rr else 0.0
        macro_p /= n_labels
        macro_r /= n_labels
        macro_f1 /= n_labels

        acc_row = thresholded.agg(
            F.avg((F.col("pred") == F.col("label")).cast("double"))
        ).first()
        return {
            "acc": float(acc_row[0]),
            "auc": auc,
            "max_micro_f1": float(best["f1"]) if best else 0.0,
            "max_micro_f1_threshold": float(best["score"]) if best else 0.0,
            "micro_p": micro_p,
            "micro_r": micro_r,
            "micro_f1": micro_f1,
            "macro_p": macro_p,
            "macro_r": macro_r,
            "macro_f1": macro_f1,
            **pk,
        }
    finally:
        curve.unpersist()
