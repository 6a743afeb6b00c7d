"""Distributed training (SURVEY.md §2 A3 + the train loops): synchronous
data-parallel SGD for the bag-attention and sentence models, re-expressing
`BagRE.train_model` (/root/reference/opennre/framework/bag_re.py:100-152)
and `SentenceRE.train_model` (sentence_re.py:96-139) in Spark.

Shape (the classic Spark parameter-server-less pattern, MLlib-style):
  1. label + encode instances ONCE (distant supervision join + one
     mapInArrow tokenize/encode pass) and assemble train bags keyed by
     the gold fact (h_id, t_id, label) — `entpair_as_bag=False`
     training semantics (data_loader.py:166-168);
  2. localCheckpoint the assembled bag table (training iterates many
     steps over it — the lineage must not re-run mention detection
     every step);
  3. per optimizer step: broadcast the current weights, compute
     per-partition gradient PARTIALS with one mapInPandas pass
     (functions/grad_kernels — SUM-form gradients compose exactly),
     sum the <= n_partitions partial rows on the driver, apply the SGD
     update (p -= lr * (g/w_sum + wd * p)), update the AverageMeter
     stats exactly like the reference's per-step meter updates.

Batch schedule: the reference shuffles bags into fixed-size batches
each epoch (DataLoader shuffle=True — nondeterministic). Here each
epoch assigns `batch = xxhash64(bag_key, epoch_seed) mod n_batches` —
deterministic under any partitioning, no global sort/window at scale;
batch sizes are Poisson(batch_size) rather than exactly fixed
(documented delta, same expectation; SURVEY.md §7 determinism contract).

Scale notes (100 TB): the gradient partial is MODEL-sized, independent
of corpus size, and one row per partition crosses the wire per step —
a step costs one scan of the localCheckpointed bag TABLE (the batch
filter is evaluated during the scan, so an epoch reads the table
n_batches times; docs/PERFORMANCE.md discusses why large-batch sync
SGD — few steps per epoch — is the 100 TB operating point) + a driver
reduce. The word-embedding block — the part that grows with vocabulary
(~160 MB of float64 at a 400k-row vocab) — is SPARSE on the wire:
partials ship (touched-row ids, rows) and the driver scatter-adds
(gk.split_word_grad; kernel-side accumulation stays dense, mirroring
torch's default dense nn.Embedding grads). For clusters with thousands
of partitions, `combine_fanin=K` adds a two-level combine
(tree_combine: partials group by partition id mod K and sum in one
applyInPandas reducer) so the driver collects K rows regardless of
cluster width — numerically identical, pytest-checked.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import config, relations
from ..functions import grad_kernels as gk
from .bags import _SORT_COLS, resize_bag
from .candidates import candidate_pairs
from .mentions import detect_mentions

_PARTIAL_SCHEMA = (
    "loss_wsum double, w_sum double, n double, n_correct double, "
    "n_pos double, n_pos_correct double, grad array<double>, "
    "word_idx array<bigint>, word_grad array<double>"
)


def _materialize(df: DataFrame, mode: str) -> DataFrame:
    """Materialize a table the training loop will scan every step.

    mode='local' (default): `localCheckpoint` — partitions live on the
    executors that computed them; cheapest, but an executor loss during
    a long run loses them (no lineage remains to recompute). Local
    mode's single JVM has no such failure domain.

    mode='reliable': `checkpoint` to the session's checkpoint
    directory — survives executor loss; requires
    `spark.sparkContext.setCheckpointDir(<shared storage>)` first,
    which this raises about explicitly rather than letting Spark fail
    mid-epoch. The plan downstream is identical either way
    (Scan ExistingRDD / Scan from checkpoint); docs/PLANS.md round-4
    fault-tolerance note."""
    if mode == "local":
        return df.localCheckpoint()
    if mode == "reliable":
        if df.sparkSession.sparkContext.getCheckpointDir() is None:
            raise ValueError(
                "checkpoint_mode='reliable' needs "
                "spark.sparkContext.setCheckpointDir(<shared storage>) "
                "before training starts"
            )
        return df.checkpoint()
    raise ValueError(f"unknown checkpoint_mode {mode!r}")


def tree_combine(partials_df: DataFrame, fanin: int) -> DataFrame:
    """Two-level gradient combine for very wide clusters: instead of
    collecting one partial per partition to the driver (fine at tens of
    partitions, ~0.5 MB each; a 500 MB driver hot-spot at a thousand),
    route partials into `fanin` groups by partition id and sum each
    group in ONE applyInPandas reducer — the driver then collects
    `fanin` rows regardless of cluster width. Summation stays float64
    and the sparse word rows concatenate (ids may repeat across group
    members; the driver's scatter-add handles repeats), so the result
    is numerically identical to the direct collect."""
    from pyspark.sql.functions import spark_partition_id

    def combine(pdf: pd.DataFrame) -> pd.DataFrame:
        rest = None
        widx_all, wval_all = [], []
        sums = {k: 0.0 for k in ("loss_wsum", "w_sum", "n", "n_correct",
                                 "n_pos", "n_pos_correct")}
        for _, r in pdf.iterrows():
            for k in sums:
                sums[k] += float(r[k])
            g = np.asarray(r["grad"], dtype=np.float64)
            rest = g if rest is None else rest + g
            widx_all.append(np.asarray(r["word_idx"], dtype=np.int64))
            wval_all.append(np.asarray(r["word_grad"], dtype=np.float64))
        return pd.DataFrame(
            {
                **{k: [v] for k, v in sums.items()},
                "grad": [rest],
                "word_idx": [np.concatenate(widx_all) if widx_all else
                             np.array([], dtype=np.int64)],
                "word_grad": [np.concatenate(wval_all) if wval_all else
                              np.array([], dtype=np.float64)],
            }
        )

    return (
        partials_df.withColumn("__g", spark_partition_id() % fanin)
        .groupBy("__g")
        .applyInPandas(combine, schema=_PARTIAL_SCHEMA)
    )


def _reduce_partials(partials, weights):
    """Driver-side reduce of per-partition gradient partials: dense sum
    of the non-embedding block, scatter-add of the sparse-transported
    word-embedding rows (gk.split_word_grad). Returns (stats dict,
    flattened full gradient SUM)."""
    stats = {
        k: sum(r[k] for r in partials)
        for k in ("loss_wsum", "w_sum", "n", "n_correct", "n_pos",
                  "n_pos_correct")
    }
    rest = None
    word = np.zeros(weights["word_emb"].shape, dtype=np.float64)
    for r in partials:
        g = np.asarray(r["grad"], dtype=np.float64)
        rest = g if rest is None else rest + g
        idx = np.asarray(r["word_idx"], dtype=np.int64)
        if idx.size:
            # np.add.at, not fancy-index +=: tree-combined partials
            # concatenate group members' sparse rows, so ids can repeat
            np.add.at(
                word, idx,
                np.asarray(r["word_grad"], dtype=np.float64).reshape(
                    idx.size, -1
                ),
            )
    return stats, np.concatenate([word.ravel(), rest])

# sentences per kernel invocation inside a partial — bounds the
# (B, L, H) conv map + im2col cache exactly like EVAL_MICRO_BATCH
# bounds the eval path (reference bs=256, bag_attention.py:140)
_TRAIN_MICRO_SENTS = 512
# BERT caches every layer's (B, heads, L, L) attention matrix for the
# backward pass, so its micro-batch is smaller (the reference's BERT
# example scripts run batch_size 16-64 for the same reason)
_BERT_TRAIN_MICRO_SENTS = 64


def distant_supervision_instances(
    transcripts: DataFrame,
    facts: DataFrame,
    schema: str = "reduced",
    window_turns: int = config.PAIR_WINDOW_TURNS,
) -> DataFrame:
    """Distant-supervision labeling: every candidate instance whose
    (h_id, t_id) appears in the KB `facts` (h_id, relation, t_id) gets
    that fact's relation label; everything else is NA — the construction
    the reference's training JSON encodes offline (its `relation` field
    per instance, data_loader.py:155-168). Pairs with multiple KB
    relations take the lowest relation id (deterministic).

    Returns instance rows + `label_id` int. The facts side is
    broadcast when small (size-gated — KBs at corpus scale are not)."""
    from .linking import broadcast_hint_if_small

    rel2id = relations.rel2id_for(schema)
    from ..pipeline import na_rel_id

    na_id = na_rel_id(rel2id)
    if na_id is None:
        # wiki80-style schemas have no negative class — unlabeled
        # candidates cannot be defaulted to a REAL relation id
        raise ValueError(
            f"schema {schema!r} has no NA-style label; distant "
            "supervision needs a negative class for unmatched pairs"
        )
    spark = transcripts.sparkSession
    rel_dim = spark.createDataFrame(
        [(r, i) for r, i in sorted(rel2id.items())],
        "relation string, label_id int",
    )
    fact_labels = (
        facts.join(F.broadcast(rel_dim), "relation")
        .groupBy("h_id", "t_id")
        .agg(F.min("label_id").alias("label_id"))
    )
    fact_labels, hint = broadcast_hint_if_small(fact_labels)
    mentions = detect_mentions(transcripts, relations.gazetteer())
    inst = candidate_pairs(mentions, window_turns=window_turns)
    return inst.join(hint(fact_labels), ["h_id", "t_id"], "left").withColumn(
        "label_id", F.coalesce(F.col("label_id"), F.lit(na_id)).cast("int")
    )


_ENC_COLS = ["h_id", "t_id", "label_id"] + _SORT_COLS


def encode_labeled(
    instances: DataFrame, schema: str = "reduced", encoder: str = "cnn"
) -> DataFrame:
    """Tokenize+encode once, up front: training sweeps the data
    epochs × steps times, so the string work must not re-run per step
    (the reference's DataLoader caches nothing and re-tokenizes every
    epoch — data_loader.py:196; doing that in a distributed loop would
    be the dominant cost). Emits token/pos1/pos2 (+ the PCNN segment
    mask for encoder='pcnn') as int32 arrays.

    encoder='bert'/'bert_entity' emits the BERT input set instead —
    token = wordpiece ids with entity markers (bert_encoder.py:74-86),
    mask = the attention mask (T15), pos1/pos2 = length-1 arrays
    holding the [unused0]/[unused2] marker positions (the entity
    encoder's gather indices; the CLS path ignores them) — so one
    column layout serves both encoder families downstream."""
    bert = encoder in ("bert", "bert_entity")
    pcnn = encoder == "pcnn"
    extra = (
        [T.StructField("mask", T.ArrayType(T.IntegerType()), False)]
        if (pcnn or bert) else []
    )
    out_schema = T.StructType(
        [f for f in instances.schema.fields if f.name in _ENC_COLS]
        + [
            T.StructField("token", T.ArrayType(T.IntegerType()), False),
            T.StructField("pos1", T.ArrayType(T.IntegerType()), False),
            T.StructField("pos2", T.ArrayType(T.IntegerType()), False),
        ]
        + extra
    )
    keep = [f.name for f in instances.schema.fields if f.name in _ENC_COLS]

    def run(batches):
        import pyarrow as pa

        from .scoring import _int_col, _list_i32

        if bert:
            from .. import config
            from ..functions.bert_encoding import bert_encode_batch
            from ..functions.bert_kernels import default_bert_model

            vocab, _ = default_bert_model(
                entity=(encoder == "bert_entity"), schema=schema
            )
            L = config.BERT_MAX_LENGTH
        else:
            from ..functions.encoding import encode_batch
            from ..functions.weights import default_model

            vocab, weights = default_model(schema=schema, pcnn=pcnn)
            pad_id, unk_id = vocab["[PAD]"], vocab["[UNK]"]
            L = int(weights["max_length"])
        for rb in batches:
            if not rb.num_rows:
                continue
            args = (
                rb.column("text").to_pylist(),
                _int_col(rb, "h_begin"), _int_col(rb, "h_end"),
                _int_col(rb, "t_begin"), _int_col(rb, "t_end"),
            )
            cols = [rb.column(nm) for nm in keep]
            names = list(keep)
            if bert:
                enc = bert_encode_batch(*args, vocab, L)
                cols += [
                    _list_i32(enc["token"]),
                    _list_i32(enc["pos1"].reshape(-1, 1)),
                    _list_i32(enc["pos2"].reshape(-1, 1)),
                    _list_i32(enc["att_mask"]),
                ]
                names += ["token", "pos1", "pos2", "mask"]
            else:
                enc = encode_batch(
                    *args, vocab, L, pad_id, unk_id, with_mask=pcnn
                )
                cols += [
                    _list_i32(enc["token"]),
                    _list_i32(enc["pos1"]),
                    _list_i32(enc["pos2"]),
                ]
                names += ["token", "pos1", "pos2"]
                if pcnn:
                    cols.append(_list_i32(enc["mask"]))
                    names.append("mask")
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return instances.mapInArrow(run, schema=out_schema)


def assemble_train_bags(
    encoded: DataFrame, bag_cap: int = 0
) -> DataFrame:
    """Bags keyed by the gold fact (h_id, t_id, label_id) with the
    members' encoded arrays collected per bag. Same cap semantics as the
    eval path (bags.bag_scores_fused keeps the first bag_cap members of
    the stable order): with bag_cap > 0 a row_number window over the
    stable member order prunes BEFORE collect_list, so a hot pair cannot
    overflow the aggregation buffer."""
    sort_cols = [c for c in _SORT_COLS if c in encoded.columns]
    if bag_cap > 0 and sort_cols:
        from pyspark.sql import Window

        w = Window.partitionBy("h_id", "t_id", "label_id").orderBy(
            *[F.col(c) for c in sort_cols]
        )
        encoded = (
            encoded.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= F.lit(bag_cap))
            .drop("__rn")
        )
    enc_cols = [c for c in ("token", "pos1", "pos2", "mask")
                if c in encoded.columns]
    member = F.struct(*sort_cols, *[F.col(c) for c in enc_cols])
    return encoded.groupBy("h_id", "t_id", "label_id").agg(
        F.collect_list(member).alias("members")
    )


def epoch_batch_col(epoch: int, n_batches: int, seed: int):
    """Deterministic per-epoch batch assignment: no global sort, no
    single-partition window — evaluable map-side at any scale."""
    return F.pmod(
        F.xxhash64("h_id", "t_id", "label_id", F.lit(seed * 1_000_003 + epoch)),
        F.lit(n_batches),
    ).cast("int")


def sentence_batch_col(epoch: int, n_batches: int, seed: int,
                       sort_cols: list[str]):
    """Instance-level batch assignment over the full natural row key."""
    return F.pmod(
        F.xxhash64(
            "h_id", "t_id", "label_id", *sort_cols,
            F.lit(seed * 1_000_003 + epoch),
        ),
        F.lit(n_batches),
    ).cast("int")


def _bag_partials(
    weights_bc, class_weights, dropout_p: float, bag_size: int, bag_seed: int,
    sort_cols: list[str], salt: tuple = (0, 0, 0), method: str = "att",
    bert_dropout_p: float = 0.0,
):
    """mapInPandas kernel: ONE partial row per partition with SUM-form
    gradients + meter numerators (grad_kernels contract). dropout_p > 0
    seeds a per-(seed, epoch, step, partition) Generator — the full
    tuple is the seed, so no two steps ever share a stream
    (deterministic given the schedule; a different stream than torch's,
    documented delta). The bag_size resize is salted per (epoch, step)
    too: a bag is visited once per epoch, so this reproduces the
    reference's resample-per-visit semantics deterministically
    (data_loader.py:185-190 uses process-global randomness)."""
    resize_salt = (bag_seed * 1_000_003 + salt[1]) * 1_000_003 + salt[2]

    def run(batches):
        weights = weights_bc.value
        micro = (
            _BERT_TRAIN_MICRO_SENTS if "conv_w" not in weights
            else _TRAIN_MICRO_SENTS
        )
        rng = None
        if dropout_p > 0 or bert_dropout_p > 0:
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId() if TaskContext.get() else 0
            rng = np.random.default_rng((*salt, pid))
        acc = None
        loss_wsum = w_sum = n = n_correct = n_pos = n_pos_correct = 0.0

        def flush(tok_list, scope_list, labels):
            nonlocal acc, loss_wsum, w_sum, n, n_correct, n_pos, n_pos_correct
            if not labels:
                return
            token = np.concatenate([t[0] for t in tok_list])
            pos1 = np.concatenate([t[1] for t in tok_list])
            pos2 = np.concatenate([t[2] for t in tok_list])
            mask = (
                np.concatenate([t[3] for t in tok_list])
                if tok_list[0][3] is not None else None
            )
            lw, ws, nc, npos, npc, grads = gk.BAG_TRAIN_KERNELS[method](
                token, pos1, pos2,
                np.asarray(scope_list, dtype=np.int64),
                np.asarray(labels, dtype=np.int64),
                weights, class_weights=class_weights, dropout_p=dropout_p,
                rng=rng, mask=mask, bert_dropout_p=bert_dropout_p,
            )
            loss_wsum += lw
            w_sum += ws
            n += len(labels)
            n_correct += nc
            n_pos += npos
            n_pos_correct += npc
            g = gk.flatten_grads(grads, weights)
            acc = g if acc is None else acc + g

        tok_list, scope_list, labels, n_sents = [], [], [], 0
        for pdf in batches:
            for h, t, lab, members in zip(
                pdf["h_id"], pdf["t_id"], pdf["label_id"], pdf["members"]
            ):
                members = sorted(
                    members, key=lambda m: tuple(m[c] for c in sort_cols)
                )
                has_mask = "mask" in members[0]  # arrow struct -> dict
                cols = {
                    "token": [np.asarray(m["token"]) for m in members],
                    "pos1": [np.asarray(m["pos1"]) for m in members],
                    "pos2": [np.asarray(m["pos2"]) for m in members],
                }
                if has_mask:
                    cols["mask"] = [np.asarray(m["mask"]) for m in members]
                sub = pd.DataFrame(cols)
                if bag_size > 0:
                    sub = resize_bag(sub, bag_size, h, t, resize_salt)
                k = len(sub)
                tok_list.append(
                    (
                        np.stack(sub["token"].tolist()),
                        np.stack(sub["pos1"].tolist()),
                        np.stack(sub["pos2"].tolist()),
                        np.stack(sub["mask"].tolist()) if has_mask else None,
                    )
                )
                scope_list.append((n_sents, n_sents + k))
                labels.append(int(lab))
                n_sents += k
                if n_sents >= micro:
                    flush(tok_list, scope_list, labels)
                    tok_list, scope_list, labels, n_sents = [], [], [], 0
        flush(tok_list, scope_list, labels)
        if acc is not None:
            widx, wvals, rest = gk.split_word_grad(acc, weights)
            yield pd.DataFrame(
                {
                    "loss_wsum": [loss_wsum], "w_sum": [w_sum], "n": [n],
                    "n_correct": [n_correct], "n_pos": [n_pos],
                    "n_pos_correct": [n_pos_correct], "grad": [rest],
                    "word_idx": [widx], "word_grad": [wvals],
                }
            )

    return run


def make_optimizer(opt: str, weights: dict, lr: float, weight_decay: float,
                   used_keys=None):
    """The reference's full optimizer switch (bag_re.py:67-93 /
    sentence_re.py:55-82): 'sgd' and 'adam' are the torch optimizers
    with coupled L2 at `weight_decay`; 'adamw' is the BERT-branch
    transformers AdamW (bag_re.py:77-88) with correct_bias=False,
    decoupled decay, and the reference's hard-coded no-decay groups —
    in that branch the ctor's weight_decay arg is ignored, exactly as
    the reference ignores it (gk.adamw_step). Returns
    (step(weights, grads, lr_mult=1.0) -> new weights, state-or-None);
    lr_mult is the warmup/decay schedule multiplier
    (gk.linear_warmup_multiplier — reference scheduler wraps ANY of the
    three optimizers, sentence_re.py:84-88). used_keys
    (gk.used_param_keys) restricts stepping to the parameters the model
    configuration actually trains — torch optimizers skip grad-None
    params, so structurally-unused ones (att_diag outside BagAttention,
    the BERT pooler under the entity encoder) must stay bit-identical.
    Raises on unknown names like the reference."""
    if opt == "sgd":
        return (
            lambda w, g, lr_mult=1.0: gk.sgd_step(
                w, g, lr * lr_mult, weight_decay, used_keys=used_keys
            )
        ), None
    if opt == "adam":
        state = gk.adam_init(weights)
        return (
            lambda w, g, lr_mult=1.0: gk.adam_step(
                w, g, state, lr * lr_mult, weight_decay, used_keys=used_keys
            )
        ), state
    if opt == "adamw":
        state = gk.adam_init(weights)  # same moment/step-counter layout
        return (
            lambda w, g, lr_mult=1.0: gk.adamw_step(
                w, g, state, lr * lr_mult, used_keys=used_keys
            )
        ), state
    raise ValueError("Invalid optimizer. Must be 'sgd' or 'adam' or 'adamw'.")


# --- training resumability (the S6 checkpoint/resume semantics applied
# to the train loop: lineage.py's write-manifest-then-resume pattern) ---

def _save_train_epoch(resume_dir: str, epoch: int, weights: dict,
                      opt_state: dict | None, row: dict, schema: str) -> None:
    """Persist a completed epoch: weights as a loadable .npz checkpoint,
    optimizer moments when present, and an epoch manifest written LAST
    via atomic rename — a torn run never leaves a manifest without its
    arrays, so resume only ever sees complete epochs."""
    import json
    import os

    from .. import relations
    from ..functions.weights import save_weights_npz

    os.makedirs(resume_dir, exist_ok=True)
    save_weights_npz(
        weights, os.path.join(resume_dir, f"weights_{epoch}.npz"),
        rel2id=relations.rel2id_for(schema),
    )
    if opt_state is not None:
        keys = gk.param_keys(weights)
        arrays = {f"m__{k}": opt_state["m"][k] for k in keys}
        arrays.update({f"v__{k}": opt_state["v"][k] for k in keys})
        arrays["t"] = np.int64(opt_state["t"])
        tmp = os.path.join(resume_dir, f".opt_{epoch}.tmp{os.getpid()}")
        with open(tmp, "wb") as f:
            np.savez(f, **arrays)
        os.replace(tmp, os.path.join(resume_dir, f"opt_{epoch}.npz"))
    tmp = os.path.join(resume_dir, f".epoch_{epoch}.tmp{os.getpid()}")
    with open(tmp, "w") as f:
        json.dump(row, f)
    os.replace(tmp, os.path.join(resume_dir, f"epoch_{epoch}.json"))


def _load_train_state(resume_dir: str, schema: str):
    """(next_epoch, weights-or-None, opt_state-or-None, history rows) —
    resumes from the highest complete epoch manifest."""
    import json
    import os
    import re

    from ..functions.weights import load_state_dict_npz
    from .. import relations

    if not os.path.isdir(resume_dir):
        return 0, None, None, []
    done = sorted(
        int(m.group(1))
        for f in os.listdir(resume_dir)
        if (m := re.fullmatch(r"epoch_(\d+)\.json", f))
    )
    if not done:
        return 0, None, None, []
    history = []
    for e in done:
        with open(os.path.join(resume_dir, f"epoch_{e}.json")) as f:
            history.append(json.load(f))
    last = done[-1]
    weights = load_state_dict_npz(
        os.path.join(resume_dir, f"weights_{last}.npz"),
        rel2id=relations.rel2id_for(schema),
    )
    opt_state = None
    opt_path = os.path.join(resume_dir, f"opt_{last}.npz")
    if os.path.exists(opt_path):
        raw = dict(np.load(opt_path))
        keys = gk.param_keys(weights)
        opt_state = {
            "t": int(raw["t"]),
            "m": {k: raw[f"m__{k}"] for k in keys},
            "v": {k: raw[f"v__{k}"] for k in keys},
        }
    return last + 1, weights, opt_state, history


def evaluate_bag_model(
    val_instances: DataFrame,
    val_facts: DataFrame,
    weights: dict,
    schema: str = "reduced",
    method: str = "att",
    encoder: str = "cnn",
    threshold: float = config.SCORE_THRESHOLD,
    bag_cap: int = 0,
    bag_size: int = 0,
    tmp_dir: str | None = None,
) -> dict:
    """BagRE.eval_model with IN-MEMORY weights (bag_re.py:154-181 +
    the per-epoch val call at 143-151): the weights are written to a
    temporary .npz checkpoint and routed through the PRODUCTION eval
    path (bag_scores_fused over the raw val instances -> explode ->
    metrics.bag_eval), so training-time validation exercises exactly
    the code a later inference run will.

    tmp_dir: where the temporary checkpoint lands. Executors read this
    path, so on a real multi-node cluster it MUST be shared storage
    (NFS/fuse mount) — the default (the driver's tempfile dir) is only
    correct in local mode. Train loops thread their `val_tmp_dir`
    through here.

    val_facts: gold (h_id, relation, t_id) rows. Returns the bag_eval
    dict (auc, max_micro_f1, p@k, ...)."""
    import os
    import tempfile

    from .. import relations
    from ..functions.weights import save_weights_npz
    from .bags import bag_scores_fused, explode_bag_scores
    from .metrics import bag_eval

    rel2id = relations.rel2id_for(schema)
    id2rel = {v: k for k, v in rel2id.items()}
    fd, path = tempfile.mkstemp(
        suffix=".npz", prefix="spark_graft_val_", dir=tmp_dir
    )
    os.close(fd)
    try:
        save_weights_npz(weights, path, rel2id=rel2id)
        bags = bag_scores_fused(
            val_instances, method=method, bag_cap=bag_cap, bag_size=bag_size,
            schema=schema, encoder=encoder, ckpt=path,
        )
        preds = explode_bag_scores(bags, id2rel).select(
            "h_id", "t_id", "relation", "score"
        )
        facts = val_facts.select("h_id", "t_id", "relation")
        return bag_eval(preds, facts, threshold=threshold)
    finally:
        os.remove(path)


def evaluate_sentence_acc(
    val_instances: DataFrame, weights: dict, schema: str = "reduced",
    encoder: str = "cnn", tmp_dir: str | None = None,
) -> float:
    """SentenceRE.eval_model accuracy (sentence_re.py:142-161): argmax
    prediction vs gold label over labeled val instances, through the
    production scoring path with a temp checkpoint (tmp_dir: must be
    executor-visible shared storage on a multi-node cluster — see
    evaluate_bag_model)."""
    import os
    import tempfile

    from .. import relations
    from ..functions.weights import save_weights_npz
    from .scoring import score_instances

    rel2id = relations.rel2id_for(schema)
    fd, path = tempfile.mkstemp(
        suffix=".npz", prefix="spark_graft_val_", dir=tmp_dir
    )
    os.close(fd)
    try:
        save_weights_npz(weights, path, rel2id=rel2id)
        scored = score_instances(
            val_instances, schema=schema, encoder=encoder, ckpt=path
        )
        agg = scored.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("pred_rel_id") == F.col("label_id")).cast("long")
            ).alias("ok"),
        ).first()
        return float(agg["ok"] or 0) / float(agg["n"]) if agg["n"] else 0.0
    finally:
        os.remove(path)


def class_freq_weight_vector(encoded: DataFrame, n_rel: int) -> np.ndarray:
    """The BagRELoader loss_weight vector: per-INSTANCE label counts,
    w = 1 / (count + 1)**0.05 — the reference initializes the count
    vector at ONES and adds one per instance (data_loader.py:147
    `np.ones`, :174 `+= 1.0`, :176 `1.0 / weight**0.05`), so a class
    absent from the training data gets weight 1.0, never an inf. Same
    formula as the oracle-checked a7 query (plans/queries.py)."""
    counts = {
        r["label_id"]: r["cnt"]
        for r in encoded.groupBy("label_id").agg(F.count("*").alias("cnt")).collect()
    }
    freq = np.array(
        [counts.get(i, 0) + 1 for i in range(n_rel)], dtype=np.float64
    )
    return (1.0 / freq**0.05).astype(np.float32)


def train_bag_attention(
    instances: DataFrame,
    schema: str = "reduced",
    epochs: int = 2,
    batch_size: int = 160,
    lr: float = 0.1,
    weight_decay: float = 1e-5,
    opt: str = "sgd",
    loss_weight: bool = False,
    bag_cap: int = 0,
    bag_size: int = 0,
    dropout: float = 0.0,
    seed: int = 42,
    init_weights: dict | None = None,
    val_instances: DataFrame | None = None,
    val_facts: DataFrame | None = None,
    ckpt: str | None = None,
    metric: str = "auc",
    resume_dir: str | None = None,
    combine_fanin: int | None = None,
    method: str = "att",
    encoder: str = "cnn",
    warmup_step: int = 0,
    val_tmp_dir: str | None = None,
    bert_dropout: float = 0.0,
    checkpoint_mode: str = "local",
) -> tuple[dict, list[dict]]:
    """BagRE.train_model (bag_re.py:100-152) as synchronous distributed
    SGD. `instances` are labeled rows (text, spans, h_id, t_id,
    label_id, stable-order cols) — see distant_supervision_instances.

    method selects the bag model class the framework wraps:
    'att' (BagAttention, bag_attention.py:100-137), 'avg' (BagAverage
    mean-of-reps, bag_average.py:117-131) or 'one' (BagOne
    at-least-one gold-label argmax selection, bag_one.py:111-138) —
    the same trio the eval path exposes.

    Defaults mirror the reference (batch_size... bag_re.py:16-21 uses 32;
    the published example scripts use 160; lr=0.1, wd=1e-5, opt='sgd';
    'adam' = torch optim.Adam semantics). dropout=0 is the deterministic
    parity surface (reference default is p=0.5 with torch's RNG stream —
    not reproducible here; dropout>0 uses a numpy Generator seeded per
    (seed, epoch, step)).

    val_instances + val_facts: per-epoch validation through the
    PRODUCTION eval path (bag_re.py:143-151) — the epoch's bag_eval
    `metric` (default AUC) lands in the history row as `val_<metric>`,
    and when `ckpt` is given the best epoch's weights are saved as a
    loadable .npz checkpoint (the torch.save best-checkpoint semantics,
    bag_re.py:146-149). With `ckpt` but no val set, the final weights
    are saved.

    resume_dir: persist every completed epoch (weights + optimizer
    moments + manifest, atomically) and resume a killed run from the
    last complete epoch. The batch schedule is a pure function of
    (seed, epoch), so a resumed run replays the identical remaining
    steps — a staged run equals an uninterrupted one (pytest-checked).

    warmup_step: linear-warmup-then-linear-decay lr schedule
    (gk.linear_warmup_multiplier; the reference wires
    get_linear_schedule_with_warmup around any optimizer when
    warmup_step > 0, sentence_re.py:84-88 — BagRE itself has no
    scheduler, so 0 is the reference-faithful default here). The
    schedule position is the reference's global_step — the count of
    COMPLETED optimizer steps (scheduler.step() after optimizer.step(),
    sentence_re.py:97,124-128) — so a hash-mod batch that comes up
    empty (impossible in the reference's DataLoader, possible here on
    tiny corpora) skips the update AND the schedule position, exactly
    like the reference skipping a batch would. Schedule length is the
    reference's floor formula `len(dataset) // batch_size * max_epoch`
    (sentence_re.py:86). On resume the position is rebuilt from the
    per-epoch n_steps history, so a staged run replays identical
    multipliers.

    val_tmp_dir: directory for the per-epoch validation's temporary
    checkpoint — must be executor-visible shared storage on a
    multi-node cluster (see evaluate_bag_model).

    encoder='bert'/'bert_entity' fine-tunes the transformer through
    the bag kernels' encoder dispatch (the reference's
    example/train_bag_bert.py branch, typically with opt='adamw');
    `bert_dropout` drives the four HF-internal dropout sites there
    (HF default 0.1; 0 = the deterministic parity surface) and is
    ignored by the CNN/PCNN family, whose dropout sites are the
    reference's own encoder/bag-level ones under `dropout`.

    Returns (trained weight dict, per-epoch metric rows with the same
    AverageMeter semantics as the reference's progress bar: per-step
    batch-mean loss/acc/pos_acc averaged over the epoch's steps)."""
    spark = instances.sparkSession
    pcnn = encoder == "pcnn"
    if (val_instances is None) != (val_facts is None):
        raise ValueError(
            "val_instances and val_facts must be given together — "
            "bag validation is AUC against the gold facts "
            "(a lone val_instances would silently skip validation AND "
            "the best-checkpoint save)"
        )
    if init_weights is None:
        if encoder in ("bert", "bert_entity"):
            # the reference's BERT bag branch (example/train_bag_bert.py:
            # BERT encoder + att/avg/one bag model, opt='adamw'); the
            # bag kernels fine-tune it through the same
            # encoder_forward_train/encoder_backward dispatch
            from ..functions.bert_kernels import default_bert_model

            _, w0 = default_bert_model(
                entity=(encoder == "bert_entity"), schema=schema
            )
        else:
            from ..functions.weights import default_model

            _, w0 = default_model(schema=schema, pcnn=pcnn)
        weights = dict(w0)
    else:
        weights = dict(init_weights)

    encoded = encode_labeled(instances, schema=schema, encoder=encoder)
    if loss_weight:
        # class_freq_weight_vector counts labels over the encoded
        # instances — materialize so the count does not replay the full
        # labeling+encode lineage a second time (the bag table is built
        # from the same checkpoint, so nothing runs twice)
        encoded = _materialize(encoded, checkpoint_mode)
    bags = _materialize(
        assemble_train_bags(encoded, bag_cap=bag_cap), checkpoint_mode
    )
    n_bags = bags.count()
    if n_bags == 0:
        return weights, []
    class_weights = (
        class_freq_weight_vector(encoded, weights["fc_w"].shape[0])
        if loss_weight
        else None
    )
    step_fn, opt_state = make_optimizer(
        opt, weights, lr, weight_decay,
        used_keys=gk.used_param_keys(weights, model="bag", method=method),
    )
    best_metric = None
    start_epoch = 0
    history: list[dict] = []
    if resume_dir is not None:
        start_epoch, w_res, opt_res, history = _load_train_state(
            resume_dir, schema
        )
        if w_res is not None:
            weights = dict(w_res)  # incl. derived max_length/pcnn keys
        if opt_res is not None and opt_state is not None:
            opt_state.update(opt_res)
        if val_instances is not None and history:
            best = [h.get(f"val_{metric}") for h in history
                    if h.get(f"val_{metric}") is not None]
            best_metric = max(best) if best else None
    sort_cols = [c for c in _SORT_COLS if c in instances.columns]
    n_batches = max(1, math.ceil(n_bags / batch_size))
    # reference schedule length: len(dataset) // batch_size * max_epoch
    # (sentence_re.py:86 — floor, NOT epochs * n_batches; ADVICE r4)
    total_steps = (n_bags // batch_size) * epochs
    if warmup_step > 0 and total_steps == 0:
        # the reference's formula degenerates identically, but there it
        # trains silently at lr-multiplier 0 forever; fail fast instead
        raise ValueError(
            f"warmup schedule has 0 total steps ({n_bags} bags // "
            f"batch_size {batch_size} * {epochs} epochs) — every "
            "post-warmup step would run at lr 0; shrink batch_size or "
            "disable warmup"
        )
    # reference global_step: completed optimizer steps only
    # (sentence_re.py:97,124-128); resume rebuilds it from history
    global_step = sum(int(h.get("n_steps", 0)) for h in history)
    sc = spark.sparkContext
    for epoch in range(start_epoch, epochs):
        with_batch = bags.withColumn(
            "__batch", epoch_batch_col(epoch, n_batches, seed)
        )
        sums = {"loss": 0.0, "acc": 0.0, "pos_acc": 0.0}
        n_steps = 0
        for step in range(n_batches):
            weights_bc = sc.broadcast(weights)
            pdf = (
                with_batch.filter(F.col("__batch") == F.lit(step))
                .drop("__batch")
                .mapInPandas(
                    _bag_partials(
                        weights_bc, class_weights, dropout, bag_size, seed,
                        sort_cols, salt=(seed, epoch, step), method=method,
                        bert_dropout_p=bert_dropout,
                    ),
                    schema=_PARTIAL_SCHEMA,
                )
            )
            if combine_fanin:
                pdf = tree_combine(pdf, combine_fanin)
            partials = pdf.collect()
            weights_bc.destroy()
            if not partials:
                continue  # hash-mod batch came up empty this epoch
            st, gsum = _reduce_partials(partials, weights)
            w_sum = st["w_sum"]
            lr_mult = (
                gk.linear_warmup_multiplier(
                    global_step, warmup_step, total_steps
                )
                if warmup_step > 0
                else 1.0
            )
            weights = step_fn(
                weights, gk.unflatten_grads(gsum / w_sum, weights), lr_mult
            )
            sums["loss"] += st["loss_wsum"] / w_sum
            sums["acc"] += st["n_correct"] / st["n"]
            sums["pos_acc"] += (
                (st["n_pos_correct"] / st["n_pos"]) if st["n_pos"] > 0 else 0.0
            )
            n_steps += 1
            global_step += 1
        row = {
            "epoch": epoch,
            "n_steps": n_steps,
            "global_step": global_step,
            "avg_loss": sums["loss"] / max(n_steps, 1),
            "avg_acc": sums["acc"] / max(n_steps, 1),
            "avg_pos_acc": sums["pos_acc"] / max(n_steps, 1),
        }
        if val_instances is not None and val_facts is not None:
            res = evaluate_bag_model(
                val_instances, val_facts, weights, schema=schema,
                method=method, encoder=encoder,
                bag_cap=bag_cap, bag_size=bag_size, tmp_dir=val_tmp_dir,
            )
            row[f"val_{metric}"] = float(res[metric])
            if best_metric is None or res[metric] > best_metric:
                best_metric = float(res[metric])
                if ckpt is not None:
                    from .. import relations
                    from ..functions.weights import save_weights_npz

                    save_weights_npz(
                        weights, ckpt, rel2id=relations.rel2id_for(schema),
                        keep_diag=(method == "att"),
                    )
        history.append(row)
        if resume_dir is not None:
            _save_train_epoch(resume_dir, epoch, weights, opt_state, row, schema)
    if ckpt is not None and val_instances is None:
        from .. import relations
        from ..functions.weights import save_weights_npz

        save_weights_npz(weights, ckpt, rel2id=relations.rel2id_for(schema),
                         keep_diag=(method == "att"))
    return weights, history


def _sentence_partials(weights_bc, class_weights, dropout_p: float,
                       salt: tuple = (0, 0, 0),
                       bert_dropout_p: float = 0.0,
                       multilabel: bool = False):
    def run(batches):
        weights = weights_bc.value
        bert = "conv_w" not in weights
        micro = _BERT_TRAIN_MICRO_SENTS if bert else _TRAIN_MICRO_SENTS
        rng = None
        if dropout_p > 0 or bert_dropout_p > 0:
            from pyspark import TaskContext

            pid = TaskContext.get().partitionId() if TaskContext.get() else 0
            rng = np.random.default_rng((*salt, pid))
        acc = None
        loss_wsum = w_sum = n = n_correct = n_pos = n_pos_correct = 0.0
        for pdf in batches:
            for lo in range(0, len(pdf), micro):
                sub = pdf.iloc[lo : lo + micro]
                token = np.stack([np.asarray(t) for t in sub["token"]])
                pos1 = np.stack([np.asarray(t) for t in sub["pos1"]])
                pos2 = np.stack([np.asarray(t) for t in sub["pos2"]])
                mask = (
                    np.stack([np.asarray(t) for t in sub["mask"]])
                    if "mask" in sub.columns else None
                )
                labels = sub["label_id"].to_numpy(dtype=np.int64)
                if multilabel:
                    # SigmoidNN + BCE (multi_label_sentence_re.py);
                    # encoder family resolves inside the kernel's
                    # encoder_forward_train dispatch
                    lw, ws, nc, npos, npc, grads = (
                        gk.multilabel_sentence_train_batch(
                            token, pos1, pos2, labels, weights,
                            dropout_p=dropout_p, rng=rng, mask=mask,
                            bert_dropout_p=bert_dropout_p,
                        )
                    )
                elif bert:
                    from ..functions import bert_grad_kernels as bgk

                    # mask column = attention mask; pos1/pos2 are the
                    # (B, 1) entity-marker positions
                    lw, ws, nc, npos, npc, grads = (
                        bgk.bert_sentence_train_batch(
                            token, mask, pos1.reshape(-1), pos2.reshape(-1),
                            labels, weights, class_weights=class_weights,
                            dropout_p=dropout_p,
                            bert_dropout_p=bert_dropout_p, rng=rng,
                        )
                    )
                else:
                    lw, ws, nc, npos, npc, grads = gk.sentence_train_batch(
                        token, pos1, pos2, labels, weights,
                        class_weights=class_weights, dropout_p=dropout_p,
                        rng=rng, mask=mask,
                    )
                loss_wsum += lw
                w_sum += ws
                # the multilabel meter denominator is ELEMENTS
                # (B * (N-1), multi_label_sentence_re.py:124), not rows
                n += ws if multilabel else len(labels)
                n_correct += nc
                n_pos += npos
                n_pos_correct += npc
                g = gk.flatten_grads(grads, weights)
                acc = g if acc is None else acc + g
        if acc is not None:
            widx, wvals, rest = gk.split_word_grad(acc, weights)
            yield pd.DataFrame(
                {
                    "loss_wsum": [loss_wsum], "w_sum": [w_sum], "n": [n],
                    "n_correct": [n_correct], "n_pos": [n_pos],
                    "n_pos_correct": [n_pos_correct], "grad": [rest],
                    "word_idx": [widx], "word_grad": [wvals],
                }
            )

    return run


def evaluate_multilabel(
    val_instances: DataFrame,
    weights: dict,
    schema: str = "reduced",
    encoder: str = "cnn",
    threshold: float = config.SCORE_THRESHOLD,
    tmp_dir: str | None = None,
) -> dict:
    """MultiLabelSentenceRE.eval_model (multi_label_sentence_re.py:
    151-185) with in-memory weights, through the PRODUCTION sigmoid
    scoring path + metrics.multilabel_sentence_eval (A10): per-sentence
    sigmoid scores explode to (sent_id, relation, score, label) cells —
    labels one-hot the instance's single label_id exactly like the
    reference's train/val construction (multi_label_sentence_re.py:
    117-120). Rows carrying a non-null `anno_relation_list` (the
    NYT10m/Wiki20m manual-test shape, data_loader.py:393-397) instead
    label every listed relation — the reference's per-row
    `'anno_relation_list' in item` duck-typing, so single-label and
    annotated rows mix in one table. Returns the multilabel eval dict
    (acc, auc, micro/macro F1, p@k, ...)."""
    import os
    import tempfile

    from .. import relations
    from ..functions.weights import save_weights_npz
    from .metrics import multilabel_sentence_eval
    from .scoring import score_instances

    rel2id = relations.rel2id_for(schema)
    fd, path = tempfile.mkstemp(
        suffix=".npz", prefix="spark_graft_val_", dir=tmp_dir
    )
    os.close(fd)
    try:
        save_weights_npz(weights, path, rel2id=rel2id)
        scored = score_instances(
            val_instances, with_scores=True, classifier="sigmoid",
            schema=schema, encoder=encoder, ckpt=path,
        )
        sort_cols = [c for c in _SORT_COLS if c in scored.columns]
        spark = val_instances.sparkSession
        rel_dim = spark.createDataFrame(
            [(r, i) for r, i in sorted(rel2id.items())],
            "relation string, rel_id int",
        )
        has_anno = "anno_relation_list" in scored.columns
        anno_cols = ["anno_relation_list"] if has_anno else []
        one_hot = (F.col("rel_id") == F.col("label_id")).cast("int")
        label_col = (
            F.when(
                F.col("anno_relation_list").isNotNull(),
                F.array_contains(
                    "anno_relation_list", F.col("relation")
                ).cast("int"),
            ).otherwise(one_hot)
            if has_anno
            else one_hot
        )
        cells = (
            scored.withColumn(
                "sent_id", F.xxhash64("h_id", "t_id", *sort_cols)
            )
            .select(
                "sent_id", "label_id", *anno_cols,
                F.posexplode("scores").alias("rel_id", "score"),
            )
            .join(F.broadcast(rel_dim), "rel_id")
            .select(
                "sent_id",
                "relation",
                F.col("score").cast("double").alias("score"),
                label_col.alias("label"),
            )
        )
        return multilabel_sentence_eval(cells, rel2id, threshold=threshold)
    finally:
        os.remove(path)


def train_sentence_model(
    instances: DataFrame,
    schema: str = "reduced",
    epochs: int = 2,
    batch_size: int = 512,
    lr: float = 0.1,
    weight_decay: float = 1e-5,
    opt: str = "sgd",
    loss_weight: bool = False,
    dropout: float = 0.0,
    seed: int = 42,
    init_weights: dict | None = None,
    val_instances: DataFrame | None = None,
    ckpt: str | None = None,
    combine_fanin: int | None = None,
    encoder: str = "cnn",
    resume_dir: str | None = None,
    warmup_step: int = 0,
    val_tmp_dir: str | None = None,
    bert_dropout: float = 0.0,
    multilabel: bool = False,
    checkpoint_mode: str = "local",
) -> tuple[dict, list[dict]]:
    """SentenceRE.train_model (sentence_re.py:96-139): per-sentence CE
    over the softmax classifier, same distributed step shape as
    train_bag_attention but batching INSTANCES (the reference's
    SentenceRELoader batches sentences, not bags). val_instances adds
    per-epoch accuracy validation (metric='acc', sentence_re.py:128-138)
    with best-checkpoint save when `ckpt` is given.

    encoder='bert' / 'bert_entity' fine-tunes the transformer — the
    reference's BERT branch (example/train_supervised_bert.py:
    BERTEncoder + SoftmaxNN, opt='adamw', warmup_step=300), which this
    loop reproduces with opt='adamw' + warmup_step. `bert_dropout`
    drives the four HF-internal dropout sites (HF default 0.1; 0 is
    the deterministic parity surface). Checkpoints save/load through
    the same S4 .npz dispatch as the CNN family (HF dotted keys), so
    resume_dir and the best-ckpt save work unchanged.

    resume_dir: the same epoch-checkpoint/resume machinery as the bag
    loop (weights + optimizer moments + atomic manifest per completed
    epoch) — the reference checkpoints sentence training too
    (sentence_re.py:133-139). The batch schedule is a pure function of
    (seed, epoch, step) and the warmup position is rebuilt from the
    per-epoch n_steps history, so a resumed run replays the identical
    remaining steps.

    warmup_step: linear warmup + decay (gk.linear_warmup_multiplier) —
    SentenceRE's scheduler (sentence_re.py:84-88; its ctor default is
    300). Default 0 here: warmup-off is this engine's established
    parity surface and the schedule is opt-in like every other
    reference hyperparameter. Position/length follow the reference's
    global_step and floor-division conventions — see
    train_bag_attention's warmup_step note.

    multilabel=True switches the step to MultiLabelSentenceRE.train_model
    semantics (multi_label_sentence_re.py:97-136): SigmoidNN forward,
    one-hot target and logits both dropping the NA column, flattened
    BCEWithLogitsLoss, elementwise thresholded-accuracy meters; the
    per-epoch validation runs the full multilabel eval (A10) through
    the production sigmoid scoring path and records its `acc`. The
    reference's multilabel framework has no loss_weight — combining
    the flags raises."""
    if multilabel and loss_weight:
        raise ValueError(
            "multilabel training has no class-weight path "
            "(MultiLabelSentenceRE uses unweighted BCEWithLogitsLoss, "
            "multi_label_sentence_re.py:55)"
        )
    spark = instances.sparkSession
    pcnn = encoder == "pcnn"
    if init_weights is None:
        if encoder in ("bert", "bert_entity"):
            from ..functions.bert_kernels import default_bert_model

            _, w0 = default_bert_model(
                entity=(encoder == "bert_entity"), schema=schema
            )
        else:
            from ..functions.weights import default_model

            _, w0 = default_model(schema=schema, pcnn=pcnn)
        weights = dict(w0)
    else:
        weights = dict(init_weights)
    encoded = _materialize(
        encode_labeled(instances, schema=schema, encoder=encoder),
        checkpoint_mode,
    )
    n_inst = encoded.count()
    if n_inst == 0:
        return weights, []
    class_weights = (
        class_freq_weight_vector(encoded, weights["fc_w"].shape[0])
        if loss_weight
        else None
    )
    step_fn, opt_state = make_optimizer(
        opt, weights, lr, weight_decay,
        used_keys=gk.used_param_keys(
            weights, model="multilabel" if multilabel else "sentence"
        ),
    )
    best_metric = None
    start_epoch = 0
    history: list[dict] = []
    if resume_dir is not None:
        start_epoch, w_res, opt_res, history = _load_train_state(
            resume_dir, schema
        )
        if w_res is not None:
            weights = dict(w_res)
        if opt_res is not None and opt_state is not None:
            opt_state.update(opt_res)
        if val_instances is not None and history:
            best = [h.get("val_acc") for h in history
                    if h.get("val_acc") is not None]
            best_metric = max(best) if best else None
    sort_cols = [c for c in _SORT_COLS if c in encoded.columns]
    n_batches = max(1, math.ceil(n_inst / batch_size))
    # reference schedule length (floor) + global_step position — see
    # train_bag_attention's warmup_step note
    total_steps = (n_inst // batch_size) * epochs
    if warmup_step > 0 and total_steps == 0:
        raise ValueError(
            f"warmup schedule has 0 total steps ({n_inst} instances // "
            f"batch_size {batch_size} * {epochs} epochs) — every "
            "post-warmup step would run at lr 0; shrink batch_size or "
            "disable warmup"
        )
    global_step = sum(int(h.get("n_steps", 0)) for h in history)
    sc = spark.sparkContext
    for epoch in range(start_epoch, epochs):
        with_batch = encoded.withColumn(
            "__batch", sentence_batch_col(epoch, n_batches, seed, sort_cols)
        )
        sums = {"loss": 0.0, "acc": 0.0, "pos_acc": 0.0}
        n_steps = 0
        for step in range(n_batches):
            weights_bc = sc.broadcast(weights)
            pdf = (
                with_batch.filter(F.col("__batch") == F.lit(step))
                .drop("__batch")
                .mapInPandas(
                    _sentence_partials(
                        weights_bc, class_weights, dropout,
                        salt=(seed, epoch, step),
                        bert_dropout_p=bert_dropout,
                        multilabel=multilabel,
                    ),
                    schema=_PARTIAL_SCHEMA,
                )
            )
            if combine_fanin:
                pdf = tree_combine(pdf, combine_fanin)
            partials = pdf.collect()
            weights_bc.destroy()
            if not partials:
                continue
            st, gsum = _reduce_partials(partials, weights)
            w_sum = st["w_sum"]
            lr_mult = (
                gk.linear_warmup_multiplier(
                    global_step, warmup_step, total_steps
                )
                if warmup_step > 0
                else 1.0
            )
            weights = step_fn(
                weights, gk.unflatten_grads(gsum / w_sum, weights), lr_mult
            )
            sums["loss"] += st["loss_wsum"] / w_sum
            sums["acc"] += st["n_correct"] / st["n"]
            sums["pos_acc"] += (
                (st["n_pos_correct"] / st["n_pos"]) if st["n_pos"] > 0 else 0.0
            )
            n_steps += 1
            global_step += 1
        row = {
            "epoch": epoch,
            "n_steps": n_steps,
            "global_step": global_step,
            "avg_loss": sums["loss"] / max(n_steps, 1),
            "avg_acc": sums["acc"] / max(n_steps, 1),
            "avg_pos_acc": sums["pos_acc"] / max(n_steps, 1),
        }
        if val_instances is not None:
            if multilabel:
                acc = float(
                    evaluate_multilabel(
                        val_instances, weights, schema=schema,
                        encoder=encoder, tmp_dir=val_tmp_dir,
                    )["acc"]
                )
            else:
                acc = evaluate_sentence_acc(
                    val_instances, weights, schema=schema, encoder=encoder,
                    tmp_dir=val_tmp_dir,
                )
            row["val_acc"] = acc
            if best_metric is None or acc > best_metric:
                best_metric = acc
                if ckpt is not None:
                    from .. import relations
                    from ..functions.weights import save_weights_npz

                    save_weights_npz(
                        weights, ckpt, rel2id=relations.rel2id_for(schema),
                        keep_diag=False,  # SoftmaxNN ckpts carry no diag
                    )
        history.append(row)
        if resume_dir is not None:
            _save_train_epoch(resume_dir, epoch, weights, opt_state, row, schema)
    if ckpt is not None and val_instances is None:
        from .. import relations
        from ..functions.weights import save_weights_npz

        save_weights_npz(weights, ckpt, rel2id=relations.rel2id_for(schema),
                         keep_diag=False)
    return weights, history
