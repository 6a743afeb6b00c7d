"""The traced run: per-layer metrics from spans around each layer's
public function and from Spark's task metrics for the span's job group.

A traced run first measures untraced passes (its own reference wall),
then persists the input and runs traced passes, in which the workload
calls each layer in turn on the persisted output of the previous one
(workloads.*.traced_pass). Its numbers are not end-to-end figures.
"""

from __future__ import annotations

import statistics
import time

from .spans import EventLog, Tracer

TRACED_PASSES = 2

# every span any workload records
SPANS = (
    "mentions.detect_mentions",
    "candidates.candidate_pairs",
    "scoring.encode_instances",
    "scoring.score_encoded",
    "pipeline.extract_triples.sentence",
    "pipeline.extract_triples.att",
    "pipeline.extract_triples.one",
    "bags.bag_scores_fused",
    "similarity.hyperplane_signature",
    "similarity.ann_self_join",
    "linking.connected_components",
    "dedup.embedding_dedup",
)
# spans whose plans cross into Arrow UDFs (mapInArrow) and so report
# the time the Python workers took and the bytes sent both ways
PYTHON_SPANS = (
    "mentions.detect_mentions",
    "scoring.encode_instances",
    "scoring.score_encoded",
    "pipeline.extract_triples.sentence",
    "pipeline.extract_triples.att",
    "pipeline.extract_triples.one",
    "bags.bag_scores_fused",
)
BASE = (
    ("self_s", "s"), ("rows_out", "count"), ("executor_cpu_s", "s"),
    ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("failed_tasks", "count"),
    ("jobs", "count"),
)
RATIOS = {
    "mentions.detect_mentions": (("mentions_per_turn", "ratio"),),
    "candidates.candidate_pairs": (("instances_per_mention", "ratio"),),
    "scoring.encode_instances": (("distinct_share", "ratio"),),
    "pipeline.extract_triples.sentence": (
        ("na_share", "ratio"), ("triples_per_instance", "ratio"),
    ),
    "pipeline.extract_triples.att": (("triples_per_instance", "ratio"),),
    "pipeline.extract_triples.one": (("triples_per_instance", "ratio"),),
    "bags.bag_scores_fused": (("max_bag_rows", "count"), ("cap_drop_share", "ratio")),
    "similarity.ann_self_join": (
        ("candidate_pairs", "count"), ("verify_yield", "ratio"),
    ),
}
# the N -> 4N pair of this benchmark is local[1] -> local[4], on kg_sentence
SCALING_SPANS = (
    "mentions.detect_mentions",
    "candidates.candidate_pairs",
    "scoring.encode_instances",
    "scoring.score_encoded",
    "pipeline.extract_triples.sentence",
)
RUN_METRICS = (
    ("trace.untraced_wall_s", "s"),
    ("trace.traced_wall_s", "s"),
    ("trace.overhead_s", "s"),
    ("trace.unattributed_share", "ratio"),
    ("scaling_eff", "ratio"),
)


def metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in report order."""
    out = dict(RUN_METRICS)
    for span in SPANS:
        for m, u in BASE:
            out[f"{span}.{m}"] = u
        if span in PYTHON_SPANS:
            out[f"{span}.python_s"] = "s"
            out[f"{span}.arrow_mb"] = "MB"
        for m, u in RATIOS.get(span, ()):
            out[f"{span}.{m}"] = u
        if span in SCALING_SPANS:
            out[f"{span}.scaling_eff"] = "ratio"
    return out


def span_table(tracer: Tracer, elog: EventLog) -> dict[str, dict]:
    """Per span name: the median over traced passes of its self time,
    its recorded counts and its job group's Spark metrics."""
    per_name: dict[str, list[dict]] = {}
    for rec, span in zip(tracer.records(), tracer.spans):
        if rec["parent"] is None:
            continue
        row = {k: v for k, v in rec.items() if k not in ("name", "start", "end", "parent", "pass")}
        row.update(elog.groups.get(span.group, {}))
        per_name.setdefault(span.name, []).append(row)
    return {
        name: {
            k: statistics.median(r.get(k, 0) for r in rows)
            for k in set().union(*rows)
        }
        for name, rows in per_name.items()
    }


def _traced_passes(wl, spark, passes, elog_dir, n_passes, **kw):
    elog = EventLog(spark, elog_dir)
    wl.df.persist()
    wl.df.count()
    tracer = Tracer(spark)
    for p in range(n_passes):
        tracer.pass_id = p
        with tracer.span("pass"):
            out = wl.traced_pass(spark, tracer, **kw)
        passes.check(out)
    elog.sync()
    roots = [s.duration for s in tracer.spans if s.parent is None]
    wl.df.unpersist()
    return tracer, span_table(tracer, elog), statistics.median(roots)


def traced_run(wl, sess, passes, seconds: float, cores: int) -> dict:
    elog_dir = sess.extra["spark.eventLog.dir"].removeprefix("file://")
    spark = sess.start(cores)
    wl.register(spark)
    passes.run(spark)  # cold
    walls, _ = passes.warm(spark, time.perf_counter() + seconds, 2)
    untraced = statistics.median(walls)
    tracer, table, traced = _traced_passes(wl, spark, passes, elog_dir, TRACED_PASSES)
    chain_self = sum(table[n]["self_s"] for n in wl.chain)
    metrics = {
        "trace.untraced_wall_s": untraced,
        "trace.traced_wall_s": traced,
        "trace.overhead_s": traced - untraced,
        "trace.unattributed_share": max(0.0, 1.0 - chain_self / untraced),
    }
    detail = {"untraced_walls": walls, "spans": tracer.records(), "span_table": table}
    if wl.name == "kg_sentence":
        # the same passes at local[1]: T1 / (cores * T_cores)
        sess.stop()
        spark = sess.start(1)
        wl.register(spark)
        passes.run(spark)  # cold
        t1, _ = passes.run(spark)
        tracer1, table1, _ = _traced_passes(wl, spark, passes, elog_dir, 1, bags=False)
        metrics["scaling_eff"] = t1 / (cores * untraced)
        for name in SCALING_SPANS:
            metrics[f"{name}.scaling_eff"] = table1[name]["self_s"] / (
                cores * table[name]["self_s"]
            )
        detail["local1"] = {"wall_s": t1, "spans": tracer1.records(), "span_table": table1}
    for name, row in table.items():
        for k, v in row.items():
            metrics[f"{name}.{k}"] = v
    units = metric_units()
    return {
        "metrics": {k: (metrics.get(k, 0.0), u) for k, u in units.items()},
        "detail": detail,
    }
