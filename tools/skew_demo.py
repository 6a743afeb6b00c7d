"""Hot-entity-pair skew demonstration for the `att` bag path
(VERDICT r2 item 8) and the TRAINING bag-assembly path (VERDICT r3
item 8).

Eval (bags.bag_scores_fused): members stream through one hash exchange
and an external sort into the Python bag kernel, so no JVM aggregation
buffer exists. The deterministic cap acts before scoring: it bounds the
rows the kernel encodes and the member matrix one worker holds
(members x H float32). Uncapped, the hot bag is scored and held whole.

Train (training.assemble_train_bags): the cap is enforced BEFORE
collect_list, so it bounds the aggregation buffer; the uncapped
whole-bag assembly exhausts a constrained heap.

Protocol: each scenario runs in its OWN JVM with a deliberately small
heap (SPARK_DRIVER_MEM, default 1g — local mode puts driver and
executors in one JVM, so this bounds the buffer arena the way a real
executor's heap would). The input is one hot (h, t) pair with N_HOT
members — raw instance rows (eval) / encoded token+pos arrays (train)
generated JVM-side, no parquet — plus background bags. `att` with
bag_size=0 genuinely needs whole bags, so bag_cap is exactly the knob
that makes the bag boundable.

Run both scenarios of one path and print a summary:

    python tools/skew_demo.py --all [n_hot]          # eval bag path
    python tools/skew_demo.py --all-train [n_hot]    # train assembly

Run one scenario (exit code reports survival):

    python tools/skew_demo.py <bag_cap> [n_hot]
    python tools/skew_demo.py --train <bag_cap> [n_hot]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_HOT_DEFAULT = 400_000
N_BG_BAGS = 500
BG_MEMBERS = 20
HEAP = os.environ.get("SPARK_DRIVER_MEM", "1g")


def build_input(spark, n_hot: int):
    """Raw instance rows (h_id, t_id, stable-order cols, text + entity
    spans) — one hot pair with n_hot members + background bags. Each
    text names its pair and a turn number; the point is bag VOLUME,
    not the relations."""
    from pyspark.sql import functions as F

    def rows(ids, h, t, conv, turn, pair_turn):
        text = F.concat(h, F.lit(" met "), t, F.lit(" in turn "), turn.cast("string"))
        return ids.select(
            h.alias("h_id"),
            t.alias("t_id"),
            conv.alias("conv_id"),
            turn.alias("turn_idx"),
            pair_turn.alias("pair_turn_idx"),
            F.lit(0).alias("h_begin"),
            F.length(h).cast("int").alias("h_end"),
            (F.length(h) + 5).cast("int").alias("t_begin"),
            (F.length(h) + 5 + F.length(t)).cast("int").alias("t_end"),
            text.alias("text"),
        )

    i = F.col("id")
    hot = rows(
        spark.range(n_hot), F.lit("HOT_H"), F.lit("HOT_T"),
        F.concat(F.lit("c"), (i % 97).cast("string")),
        (i % 1000).cast("int"), (i % 7).cast("int"),
    )
    bg = rows(
        spark.range(N_BG_BAGS * BG_MEMBERS),
        F.concat(F.lit("h"), (i % N_BG_BAGS).cast("string")),
        F.concat(F.lit("t"), (i % N_BG_BAGS).cast("string")),
        F.concat(F.lit("bc"), (i % 31).cast("string")),
        (i % 100).cast("int"), F.lit(0),
    )
    return hot.unionByName(bg)


def build_train_input(spark, n_hot: int):
    """Encoded training rows (h_id, t_id, label_id, stable-order cols,
    token/pos1/pos2 int arrays at the reduced schema's max_length):
    one hot FACT bag (h, t, label) with n_hot members + background
    facts. Arrays are generated JVM-side (hash-mod expressions) — the
    point is the collect_list buffer VOLUME in assemble_train_bags
    (~3 * L * 4 bytes per member), not the token values."""
    from pyspark.sql import functions as F

    from opennre_spark import config

    L = config.MAX_LENGTH

    def arr(salt: int):
        return F.transform(
            F.sequence(F.lit(0), F.lit(L - 1)),
            lambda i: F.pmod(
                F.xxhash64(F.col("__seed") * L + i + salt), F.lit(199)
            ).cast("int"),
        )

    hot = spark.range(n_hot).select(
        F.lit("HOT_H").alias("h_id"),
        F.lit("HOT_T").alias("t_id"),
        F.lit(1).alias("label_id"),
        F.concat(F.lit("c"), (F.col("id") % 97).cast("string")).alias("conv_id"),
        (F.col("id") % 1000).cast("int").alias("turn_idx"),
        (F.col("id") % 7).cast("int").alias("pair_turn_idx"),
        F.col("id").alias("__seed"),
    )
    bg = spark.range(N_BG_BAGS * BG_MEMBERS).select(
        F.concat(F.lit("h"), (F.col("id") % N_BG_BAGS).cast("string")).alias("h_id"),
        F.concat(F.lit("t"), (F.col("id") % N_BG_BAGS).cast("string")).alias("t_id"),
        (F.col("id") % 7).cast("int").alias("label_id"),
        F.concat(F.lit("bc"), (F.col("id") % 31).cast("string")).alias("conv_id"),
        (F.col("id") % 100).cast("int").alias("turn_idx"),
        F.lit(0).alias("pair_turn_idx"),
        (F.col("id") + 10_000_000).alias("__seed"),
    )
    return (
        hot.unionByName(bg)
        .withColumn("token", arr(0))
        .withColumn("pos1", arr(1))
        .withColumn("pos2", arr(2))
        .drop("__seed")
    )


def run_train_scenario(bag_cap: int, n_hot: int) -> None:
    from pyspark.sql import functions as F

    from opennre_spark.operators.training import assemble_train_bags
    from opennre_spark.session import get_spark

    spark = get_spark(
        f"skew_demo_train_cap{bag_cap}", cores=8, shuffle_partitions=16
    )
    spark.sparkContext.setLogLevel("ERROR")
    encoded = build_train_input(spark, n_hot)
    t0 = time.time()
    bags = assemble_train_bags(encoded, bag_cap=bag_cap)
    # sum(size(members)) forces the collect_list buffers to materialize
    # (a bare count() would let Catalyst prune the members column)
    row = bags.agg(
        F.count(F.lit(1)).alias("bags"),
        F.sum(F.size("members")).alias("members"),
    ).first()
    print(
        json.dumps(
            {
                "bag_cap": bag_cap,
                "bags": row["bags"],
                "members": row["members"],
                "wall_sec": round(time.time() - t0, 2),
            }
        )
    )


def run_scenario(bag_cap: int, n_hot: int) -> None:
    from pyspark.sql import functions as F

    from opennre_spark.operators.bags import bag_scores_fused
    from opennre_spark.session import get_spark

    spark = get_spark(
        f"skew_demo_cap{bag_cap}",
        cores=8,
        shuffle_partitions=16,
    )
    spark.sparkContext.setLogLevel("ERROR")
    instances = build_input(spark, n_hot)
    t0 = time.time()
    row = bag_scores_fused(instances, method="att", bag_cap=bag_cap).agg(
        F.count(F.lit(1)).alias("bags"),
        F.sum("n_sentences").alias("members"),
    ).first()
    print(
        json.dumps(
            {
                "bag_cap": bag_cap,
                "bags": row["bags"],
                "members_scored": row["members"],
                "wall_sec": round(time.time() - t0, 2),
            }
        )
    )


def run_all(n_hot: int, train: bool = False) -> None:
    results = {}
    for cap in (64, 0):
        env = dict(os.environ, SPARK_DRIVER_MEM=HEAP)
        t0 = time.time()
        args = [sys.executable, os.path.abspath(__file__)]
        if train:
            args.append("--train")
        args += [str(cap), str(n_hot)]
        p = subprocess.run(
            args,
            capture_output=True,
            text=True,
            env=env,
            timeout=1800,
        )
        wall = round(time.time() - t0, 2)
        line = [l for l in p.stdout.splitlines() if l.startswith("{")]
        oom = (
            "OutOfMemoryError" in p.stderr
            or "OutOfMemoryError" in p.stdout
            or "SparkOutOfMemory" in p.stderr
        )
        results[f"cap={cap}"] = {
            "survived": p.returncode == 0,
            "oom": oom,
            "proc_wall_sec": wall,
            "result": json.loads(line[-1]) if (p.returncode == 0 and line) else None,
        }
        tail = "\n".join(p.stderr.splitlines()[-3:])
        print(f"--- cap={cap}: rc={p.returncode} oom={oom} wall={wall}s\n{tail}")
    print(
        json.dumps(
            {
                "heap": HEAP,
                "n_hot": n_hot,
                "path": "train_assembly" if train else "eval_bags",
                "scenarios": results,
            },
            indent=2,
        )
    )


if __name__ == "__main__":
    if sys.argv[1] == "--all":
        run_all(int(sys.argv[2]) if len(sys.argv) > 2 else N_HOT_DEFAULT)
    elif sys.argv[1] == "--all-train":
        run_all(
            int(sys.argv[2]) if len(sys.argv) > 2 else N_HOT_DEFAULT,
            train=True,
        )
    elif sys.argv[1] == "--train":
        run_train_scenario(
            int(sys.argv[2]),
            int(sys.argv[3]) if len(sys.argv) > 3 else N_HOT_DEFAULT,
        )
    else:
        run_scenario(
            int(sys.argv[1]),
            int(sys.argv[2]) if len(sys.argv) > 2 else N_HOT_DEFAULT,
        )
