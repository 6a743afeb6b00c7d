"""BERT fine-tuning kernels (functions/bert_grad_kernels.py): the
reference's BERT training branch — BERTEncoder/BERTEntityEncoder +
SoftmaxNN under AdamW + warmup (bert_encoder.py, softmax_nn.py:41-51,
sentence_re.py:62-88).

Verification mirrors the CNN training strategy (torch absent):
  1. train-mode forward == the float32 eval kernel at dropout 0;
  2. central finite differences in float64 over EVERY parameter entry
     (CLS-pooler path, entity path, and both with dropout enabled via
     a replayable seeded Generator);
  3. the shared optimizer/flatten machinery generalizes to the BERT
     key family (param_keys, adamw no-decay groups, sparse word grad);
  4. distributed == serial through the Spark sentence loop
     (tests/test_training.py covers the CNN twin; the BERT case lives
     here to keep the tiny-config helpers together).
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from opennre_spark.functions import bert_grad_kernels as bgk
from opennre_spark.functions import bert_kernels as bk
from opennre_spark.functions import grad_kernels as gk

# tiny config: every FD check touches every entry of every parameter
V, L, H, HEADS, LAYERS, INTER, N = 23, 6, 8, 2, 2, 12, 4


def tiny_bert_weights(dtype=np.float64, seed=11, entity=False):
    W = bk.make_bert_weights(
        vocab_size=V, hidden=H, layers=LAYERS, heads=HEADS,
        intermediate=INTER, max_pos=16, seed=seed,
    )
    rng = np.random.default_rng(seed + 1)
    # non-trivial LN gains/biases and biases so the FD check exercises
    # real values, not init symmetry
    for k in list(W):
        a = W[k]
        if not isinstance(a, np.ndarray) or a.dtype != np.float32:
            continue
        if k.endswith("_b") or k.endswith("_ln_b"):
            W[k] = (0.05 * rng.standard_normal(a.shape)).astype(np.float32)
        elif k.endswith("_ln_g"):
            W[k] = (1.0 + 0.1 * rng.standard_normal(a.shape)).astype(
                np.float32
            )
    rep_w = 2 * H if entity else H
    if entity:
        W["ent_w"] = (0.3 * rng.standard_normal((2 * H, 2 * H))).astype(
            np.float32
        )
        W["ent_b"] = (0.05 * rng.standard_normal(2 * H)).astype(np.float32)
        rep_w = 2 * H
    W["fc_w"] = (0.3 * rng.standard_normal((N, rep_w))).astype(np.float32)
    W["fc_b"] = (0.05 * rng.standard_normal(N)).astype(np.float32)
    if dtype is np.float64:
        for k in list(W):
            if isinstance(W[k], np.ndarray) and W[k].dtype == np.float32:
                W[k] = W[k].astype(np.float64)
    return W


def tiny_batch(seed=5, B=3):
    rng = np.random.default_rng(seed)
    token = rng.integers(0, V, size=(B, L)).astype(np.int64)
    att_mask = np.ones((B, L), dtype=np.int64)
    att_mask[0, -2:] = 0  # real padding in the fixture
    att_mask[2, -1:] = 0
    pos1 = rng.integers(0, L - 2, size=B).astype(np.int64)
    pos2 = (pos1 + 1).astype(np.int64)
    labels = rng.integers(0, N, size=B).astype(np.int64)
    return token, att_mask, pos1, pos2, labels


# --------------------------------------------------------------------------
# 1. train forward == eval kernel (float32, dropout 0)
# --------------------------------------------------------------------------

def test_bert_train_forward_matches_eval_kernel():
    W = tiny_bert_weights(np.float32)
    token, att_mask, pos1, pos2, _ = tiny_batch()
    hidden, pooled, _ = bgk.bert_forward_train(token, att_mask, W)
    hidden_e, pooled_e = bk.bert_forward(token, att_mask, W)
    np.testing.assert_allclose(hidden, hidden_e, rtol=0, atol=2e-5)
    np.testing.assert_allclose(pooled, pooled_e, rtol=0, atol=2e-5)


def test_bert_entity_rep_matches_eval_kernel():
    W = tiny_bert_weights(np.float32, entity=True)
    token, att_mask, pos1, pos2, _ = tiny_batch()
    rep, _ = bgk.bert_rep_forward_train(token, att_mask, pos1, pos2, W)
    rep_e = bk.bert_entity_rep(token, att_mask, pos1, pos2, W)
    np.testing.assert_allclose(rep, rep_e, rtol=0, atol=2e-5)


# --------------------------------------------------------------------------
# 2. finite-difference gradient checks (float64, every parameter entry)
# --------------------------------------------------------------------------

def _fd_check_bert(loss_fn, analytic_grads, weights, eps=1e-6, tol=5e-5):
    worst = 0.0
    for key in gk.param_keys(weights):
        p = weights[key]
        g = analytic_grads[key]
        it = np.nditer(p, flags=["multi_index"])
        for _ in it:
            idx = it.multi_index
            orig = p[idx]
            p[idx] = orig + eps
            lp = loss_fn(weights)
            p[idx] = orig - eps
            lm = loss_fn(weights)
            p[idx] = orig
            fd = (lp - lm) / (2 * eps)
            denom = max(abs(fd), abs(g[idx]), 1e-4)
            worst = max(worst, abs(fd - g[idx]) / denom)
    assert worst < tol, f"worst relative FD error {worst}"


def _run_fd(entity: bool, dropout_p: float, bert_dropout_p: float, seed=99):
    W = tiny_bert_weights(np.float64, entity=entity)
    token, att_mask, pos1, pos2, labels = tiny_batch()
    cw = np.array([0.7, 1.0, 1.3, 0.9], dtype=np.float64)

    def run(w):
        # recreate the Generator per call: identical dropout masks on
        # every evaluation, which is what makes FD well-defined under
        # dropout (the loss is deterministic given the seed)
        rng = (
            np.random.default_rng(seed)
            if (dropout_p > 0 or bert_dropout_p > 0)
            else None
        )
        return gk.sentence_train_batch(
            token, pos1, pos2, labels, w, mask=att_mask, class_weights=cw,
            dropout_p=dropout_p, bert_dropout_p=bert_dropout_p, rng=rng,
        )

    lw, ws, _, _, _, grads = run(W)

    def loss_fn(w):
        lw, ws, *_ = run(w)
        return lw / ws

    _fd_check_bert(loss_fn, {k: grads[k] / ws for k in grads}, W)


def test_bert_cls_gradcheck_fd():
    _run_fd(entity=False, dropout_p=0.0, bert_dropout_p=0.0)


def test_bert_entity_gradcheck_fd():
    _run_fd(entity=True, dropout_p=0.0, bert_dropout_p=0.0)


def test_bert_gradcheck_fd_with_dropout():
    """Classifier dropout (softmax_nn.py:49) + all four HF-internal
    dropout sites active; the seeded Generator replays identical masks
    on every FD evaluation."""
    _run_fd(entity=False, dropout_p=0.4, bert_dropout_p=0.25)


def test_bert_entity_gradcheck_fd_with_dropout():
    _run_fd(entity=True, dropout_p=0.3, bert_dropout_p=0.2)


# --------------------------------------------------------------------------
# 3. shared machinery generalizes to the BERT key family
# --------------------------------------------------------------------------

def test_param_keys_families():
    Wc = {"conv_w": None}
    assert gk.param_keys(Wc) == gk.PARAM_KEYS
    Wb = tiny_bert_weights(np.float64)
    keys = gk.param_keys(Wb)
    assert keys[0] == "word_emb"  # sparse word-grad layout contract
    assert keys[-2:] == ("fc_w", "fc_b")
    assert len(keys) == len(set(keys))
    assert all(k in Wb for k in keys)
    # every trainable float array is covered, nothing non-trainable is
    covered = set(keys)
    for k, a in Wb.items():
        if isinstance(a, np.ndarray) and a.dtype == np.float64:
            assert k in covered, f"trainable {k} missing from param_keys"
    Wbe = tiny_bert_weights(np.float64, entity=True)
    assert "ent_w" in gk.param_keys(Wbe)


def test_flatten_roundtrip_and_sparse_word_grad_bert():
    W = tiny_bert_weights(np.float64)
    token, att_mask, pos1, pos2, labels = tiny_batch()
    *_, grads = gk.sentence_train_batch(
        token, pos1, pos2, labels, W, mask=att_mask
    )
    flat = gk.flatten_grads(grads, W)
    back = gk.unflatten_grads(flat, W)
    for k in gk.param_keys(W):
        np.testing.assert_array_equal(back[k], grads[k])
    widx, wvals, rest = gk.split_word_grad(flat, W)
    assert set(widx) <= set(np.unique(token))
    word = np.zeros(W["word_emb"].shape, dtype=np.float64)
    word[widx] = wvals.reshape(len(widx), -1)
    np.testing.assert_array_equal(
        np.concatenate([word.ravel(), rest]), flat
    )


@pytest.mark.parametrize("method", ["att", "avg", "one"])
def test_bert_bag_gradcheck_fd(method):
    """All three bag models fine-tuning BERT through the
    encoder_forward_train/encoder_backward dispatch (the reference's
    example/train_bag_bert.py branch; att uses the diag parameter,
    bag_attention.py:29,116): FD over every parameter entry."""
    W = tiny_bert_weights(np.float64)
    rng0 = np.random.default_rng(17)
    W["att_diag"] = 1.0 + 0.1 * rng0.standard_normal(H)
    rng = np.random.default_rng(31)
    bags = []
    for i in range(3):
        k = 1 + int(rng.integers(2))
        members = [
            (
                rng.integers(0, V, size=L).astype(np.int64),
                np.concatenate([
                    np.ones(L - 1, dtype=np.int64),
                    rng.integers(0, 2, size=1).astype(np.int64),
                ]),
                rng.integers(0, L - 1, size=1).astype(np.int64),
                rng.integers(0, L - 1, size=1).astype(np.int64),
            )
            for _ in range(k)
        ]
        bags.append((members, int(rng.integers(0, N))))
    token = np.concatenate([np.stack([m[0] for m in ms]) for ms, _ in bags])
    att_mask = np.concatenate([np.stack([m[1] for m in ms]) for ms, _ in bags])
    pos1 = np.concatenate([np.stack([m[2] for m in ms]) for ms, _ in bags])
    pos2 = np.concatenate([np.stack([m[3] for m in ms]) for ms, _ in bags])
    scopes, lo = [], 0
    for ms, _ in bags:
        scopes.append((lo, lo + len(ms)))
        lo += len(ms)
    scopes = np.array(scopes, dtype=np.int64)
    labels = np.array([y for _, y in bags], dtype=np.int64)

    def run(w):
        return gk.BAG_TRAIN_KERNELS[method](
            token, pos1, pos2, scopes, labels, w, mask=att_mask
        )

    lw, ws, _, _, _, grads = run(W)

    def loss_fn(w):
        lw, ws, *_ = run(w)
        return lw / ws

    _fd_check_bert(loss_fn, {k: grads[k] / ws for k in grads}, W)
    if method == "att":
        assert np.any(grads["att_diag"] != 0.0)


# --------------------------------------------------------------------------
# 4. Spark: distributed == serial, and the full BERT lifecycle
# --------------------------------------------------------------------------


def test_distributed_bert_bag_training_matches_serial(spark):
    """train_bag_attention(encoder='bert', opt='adamw') — the BERT bag
    branch — equals the serial schedule (the serial loop shares the
    kernels, so this checks the distributed orchestration: schedule,
    scope assembly, partial composition, sparse word transport)."""
    from tests.oracle.train_loop import serial_train_bags
    from tests.test_training import _collect_bag_schedule, _labeled_instances

    from opennre_spark.functions.bert_kernels import default_bert_model
    from opennre_spark.operators.training import train_bag_attention

    inst = _labeled_instances(spark, n=12)
    _, W0 = default_bert_model(schema="reduced")
    epochs, batch_size, lr, seed = 2, 6, 2e-4, 19

    W_dist, hist_dist = train_bag_attention(
        inst, epochs=epochs, batch_size=batch_size, lr=lr,
        weight_decay=0.0, seed=seed, init_weights=W0, encoder="bert",
        opt="adamw",
    )
    n_bags = sum(len(b) for b in _collect_bag_schedule(
        spark, inst, 1, 1, seed, encoder="bert")[0])
    n_batches = max(1, math.ceil(n_bags / batch_size))
    schedule = _collect_bag_schedule(
        spark, inst, epochs, n_batches, seed, encoder="bert"
    )
    W_ser, hist_ser = serial_train_bags(
        schedule, dict(W0), lr, 0.0, opt="adamw"
    )
    for hd, hs in zip(hist_dist, hist_ser):
        assert math.isclose(hd["avg_loss"], hs["avg_loss"], rel_tol=1e-5)
    for k in gk.param_keys(W0):
        np.testing.assert_allclose(
            W_dist[k], W_ser[k], rtol=0, atol=2e-6,
            err_msg=f"BERT bag param {k} diverged from the serial loop",
        )

def test_distributed_bert_training_matches_serial(spark):
    """train_sentence_model(encoder='bert', opt='adamw', warmup) — the
    reference's BERT fine-tuning recipe (sentence_re.py:62-88) — must
    equal the serial one-row-at-a-time loop over the identical batch
    schedule: weights, meters, optimizer state, warmup multipliers."""
    from tests.oracle.train_loop import serial_train_sentences_bert
    from tests.test_training import _labeled_instances

    from opennre_spark.functions.bert_kernels import default_bert_model
    from opennre_spark.operators.training import (
        _SORT_COLS,
        encode_labeled,
        sentence_batch_col,
        train_sentence_model,
    )

    inst = _labeled_instances(spark, n=12)
    _, W0 = default_bert_model(schema="reduced")
    epochs, batch_size, lr, seed, warmup = 2, 6, 2e-4, 3, 2

    W_dist, hist_dist = train_sentence_model(
        inst, epochs=epochs, batch_size=batch_size, lr=lr,
        weight_decay=0.0, seed=seed, init_weights=W0, encoder="bert",
        opt="adamw", warmup_step=warmup,
    )

    encoded = encode_labeled(inst, encoder="bert")
    n_inst = encoded.count()
    n_batches = max(1, math.ceil(n_inst / batch_size))
    sort_cols = [c for c in _SORT_COLS if c in inst.columns]
    schedule = []
    for epoch in range(epochs):
        rows = encoded.withColumn(
            "__batch", sentence_batch_col(epoch, n_batches, seed, sort_cols)
        ).collect()
        batches = [[] for _ in range(n_batches)]
        for r in rows:
            batches[r["__batch"]].append(
                (
                    np.asarray(r["token"], dtype=np.int64),
                    np.asarray(r["mask"], dtype=np.int64),
                    int(r["pos1"][0]),
                    int(r["pos2"][0]),
                    int(r["label_id"]),
                )
            )
        schedule.append(batches)
    W_ser, hist_ser = serial_train_sentences_bert(
        schedule, dict(W0), lr, 0.0, opt="adamw", warmup_step=warmup,
        total_steps=(n_inst // batch_size) * epochs,
    )
    for hd, hs in zip(hist_dist, hist_ser):
        assert math.isclose(hd["avg_loss"], hs["avg_loss"], rel_tol=1e-5)
        assert math.isclose(hd["avg_acc"], hs["avg_acc"], rel_tol=1e-9)
        assert hd["global_step"] == hs["global_step"]
    for k in gk.param_keys(W0):
        np.testing.assert_allclose(
            W_dist[k], W_ser[k], rtol=0, atol=2e-6,
            err_msg=f"BERT param {k} diverged from the serial loop",
        )


def test_bert_train_val_ckpt_roundtrip(spark, tmp_path):
    """The full BERT lifecycle through the encoder-agnostic machinery:
    per-epoch validation (production scoring path), best-ckpt save in
    the HF-dotted S4 format, reload through the load_state_dict_npz
    dispatch, re-evaluate to exactly the recorded best accuracy."""
    from tests.test_training import _labeled_instances

    from opennre_spark.functions.bert_kernels import default_bert_model
    from opennre_spark.functions.weights import load_state_dict_npz
    from opennre_spark.operators.training import (
        evaluate_sentence_acc,
        train_sentence_model,
    )

    inst = _labeled_instances(spark, n=12)
    _, W0 = default_bert_model(schema="reduced")
    ckpt = str(tmp_path / "best_bert.npz")
    _, hist = train_sentence_model(
        inst, epochs=2, batch_size=6, lr=2e-4, weight_decay=0.0,
        seed=7, init_weights=W0, encoder="bert", opt="adamw",
        val_instances=inst, ckpt=ckpt,
    )
    vals = [h["val_acc"] for h in hist]
    assert all(0.0 <= v <= 1.0 for v in vals)
    loaded = load_state_dict_npz(ckpt)
    assert int(loaded["layers"]) == int(W0["layers"])
    assert int(loaded["heads"]) == int(W0["heads"])
    acc = evaluate_sentence_acc(inst, loaded, encoder="bert")
    assert math.isclose(acc, max(vals), rel_tol=1e-12)
    # sentence-model saves match the reference SoftmaxNN state-dict key
    # set: no BagAttention `diag` entry (ADVICE r4); the loader
    # synthesizes the untrained ones value back
    raw = dict(np.load(ckpt))
    assert "diag" not in raw
    np.testing.assert_array_equal(
        loaded["att_diag"], np.ones_like(loaded["att_diag"])
    )


def test_bert_bag_att_ckpt_keeps_diag(tmp_path):
    """Bag-attention saves DO carry `diag` under its torch state-dict
    name (BagAttention creates the parameter, bag_attention.py:29) —
    the sentence-model omission must not leak into the bag path."""
    from opennre_spark.functions.bert_kernels import default_bert_model
    from opennre_spark.functions.weights import save_weights_npz

    _, W = default_bert_model(schema="reduced")
    W = dict(W)
    W["att_diag"] = np.arange(
        W["att_diag"].size, dtype=np.float32
    )  # distinguishable from the ones init
    path = str(tmp_path / "bag_att.npz")
    save_weights_npz(W, path, keep_diag=True)
    raw = dict(np.load(path))
    np.testing.assert_array_equal(raw["diag"], W["att_diag"])


def test_adamw_no_decay_covers_layernorm_gains():
    """transformers AdamW's no_decay list includes LayerNorm.weight —
    our `_ln_g` keys. A zero-gradient step must leave LN gains and all
    biases untouched while plain weights shrink by lr*0.01."""
    W = tiny_bert_weights(np.float32)
    zg = {k: np.zeros_like(W[k], dtype=np.float64)
          for k in gk.param_keys(W)}
    state = gk.adam_init(W)
    out = gk.adamw_step(W, zg, state, lr=0.1)
    np.testing.assert_array_equal(out["emb_ln_g"], W["emb_ln_g"])
    np.testing.assert_array_equal(out["l0_att_ln_g"], W["l0_att_ln_g"])
    np.testing.assert_array_equal(out["l0_q_b"], W["l0_q_b"])
    assert not np.array_equal(out["l0_q_w"], W["l0_q_w"])
    np.testing.assert_allclose(
        out["l0_q_w"],
        (W["l0_q_w"].astype(np.float64) * (1 - 0.1 * 0.01)).astype(
            np.float32
        ),
        rtol=1e-6,
    )


def test_bert_entity_pooler_untouched_by_adamw(spark):
    """The entity encoder consumes hidden states, not the pooler
    (bert_encoder.py:133-143) — its pooler grads are None in torch, so
    transformers AdamW never decays pool_w/pool_b. used_param_keys
    must keep them (and sentence-model att_diag) bit-identical."""
    from tests.test_training import _labeled_instances

    from opennre_spark.functions.bert_kernels import default_bert_model
    from opennre_spark.operators.training import train_sentence_model

    inst = _labeled_instances(spark, n=8)
    _, W0 = default_bert_model(schema="reduced", entity=True)
    W, _ = train_sentence_model(
        inst, epochs=1, batch_size=8, lr=1e-3, weight_decay=0.0,
        seed=61, init_weights=W0, encoder="bert_entity", opt="adamw",
    )
    np.testing.assert_array_equal(W["pool_w"], W0["pool_w"])
    np.testing.assert_array_equal(W["pool_b"], W0["pool_b"])
    np.testing.assert_array_equal(W["att_diag"], W0["att_diag"])
    assert not np.array_equal(W["ent_w"], W0["ent_w"])  # trained
    assert not np.array_equal(W["l0_q_w"], W0["l0_q_w"])


def test_bert_bag_gradcheck_fd_with_internal_dropout():
    """bert_dropout_p threads through the bag-kernel encoder dispatch
    (review finding: it was silently ignored) — FD stays valid with
    a replayable seeded Generator."""
    W = tiny_bert_weights(np.float64)
    rng0 = np.random.default_rng(71)
    W["att_diag"] = 1.0 + 0.1 * rng0.standard_normal(H)
    token, att_mask, pos1, pos2, labels = tiny_batch(seed=8)
    scopes = np.array([[0, 1], [1, 3]], dtype=np.int64)
    labels = labels[:2]

    def run(w):
        rng = np.random.default_rng(123)
        return gk.BAG_TRAIN_KERNELS["att"](
            token, pos1.reshape(-1, 1), pos2.reshape(-1, 1), scopes,
            labels, w, mask=att_mask, dropout_p=0.3, rng=rng,
            bert_dropout_p=0.2,
        )

    lw, ws, _, _, _, grads = run(W)

    def loss_fn(w):
        lw, ws, *_ = run(w)
        return lw / ws

    _fd_check_bert(loss_fn, {k: grads[k] / ws for k in grads}, W)


def test_bert_bag_val_and_ckpt_roundtrip(spark, tmp_path):
    """The BERT bag lifecycle end to end: train_bag_attention
    (encoder='bert', adamw) with per-epoch AUC validation through the
    PRODUCTION bag eval path (bag_scores_fused with BERT kernels,
    att_diag included), best-ckpt save in the HF-dotted S4
    format, reload, re-evaluate to exactly the recorded best — the
    train_bag_bert.py lifecycle (bag_re.py:143-151)."""
    from tests.test_training import _labeled_instances, _val_facts_from

    from opennre_spark.functions.bert_kernels import default_bert_model
    from opennre_spark.functions.weights import load_state_dict_npz
    from opennre_spark.operators.training import (
        evaluate_bag_model,
        train_bag_attention,
    )

    inst = _labeled_instances(spark, n=12)
    facts = _val_facts_from(spark, inst)
    _, W0 = default_bert_model(schema="reduced")
    ckpt = str(tmp_path / "best_bert_bag.npz")
    _, hist = train_bag_attention(
        inst, epochs=2, batch_size=6, lr=2e-4, weight_decay=0.0,
        seed=87, init_weights=W0, encoder="bert", opt="adamw",
        val_instances=inst, val_facts=facts, ckpt=ckpt, metric="auc",
    )
    vals = [h["val_auc"] for h in hist]
    assert all(0.0 <= v <= 1.0 for v in vals)
    loaded = load_state_dict_npz(ckpt)
    # att_diag round-trips under its torch state-dict name "diag"
    assert "att_diag" in loaded and loaded["att_diag"].shape[0] == int(
        W0["hidden"]
    )
    res = evaluate_bag_model(
        inst, facts, loaded, schema="reduced", method="att", encoder="bert"
    )
    assert math.isclose(res["auc"], max(vals), rel_tol=1e-9)


def test_bert_resume_equals_uninterrupted(spark, tmp_path):
    """resume_dir through the BERT family: epoch checkpoints save in
    the HF-dotted S4 format and reload through the content dispatch,
    adamw moments (keyed by the BERT param family) survive the
    restart — staged == uninterrupted."""
    from tests.test_training import _labeled_instances

    from opennre_spark.functions.bert_kernels import default_bert_model
    from opennre_spark.operators.training import train_sentence_model

    inst = _labeled_instances(spark, n=10)
    _, W0 = default_bert_model(schema="reduced")
    kw = dict(
        batch_size=5, lr=2e-4, weight_decay=0.0, seed=93,
        init_weights=W0, encoder="bert", opt="adamw",
    )
    W_full, hist_full = train_sentence_model(inst, epochs=2, **kw)
    rdir = str(tmp_path / "bert_resume")
    train_sentence_model(inst, epochs=1, resume_dir=rdir, **kw)
    W_res, hist_res = train_sentence_model(inst, epochs=2, resume_dir=rdir, **kw)
    assert len(hist_res) == len(hist_full) == 2
    for hf, hr in zip(hist_full, hist_res):
        assert math.isclose(hf["avg_loss"], hr["avg_loss"], rel_tol=1e-9)
    for k in gk.param_keys(W0):
        np.testing.assert_allclose(
            W_res[k], W_full[k], rtol=0, atol=1e-6,
            err_msg=f"BERT param {k} diverged across resume",
        )
