"""Training parity (SURVEY.md §2 A3 + train loops).

Verification strategy (torch absent — no autograd to diff against):
  1. forward parity: grad_kernels' vectorized train forward == all-loops
     naive forward (tests/oracle/train_loop.py) on float32 weights;
  2. backward correctness: central finite differences in float64 over
     EVERY parameter entry of a tiny config — implementation-independent;
  3. distributed == serial: the Spark loop (operators/training.py)
     reproduces the same schedule run one-example-at-a-time on the
     driver (weights and AverageMeter history);
  4. training works: loss falls / accuracy rises on a separable corpus.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from opennre_spark.functions import grad_kernels as gk

from tests.oracle.train_loop import (
    naive_bag_loss,
    naive_sentence_loss,
    serial_train_bags,
    serial_train_sentences,
)

# --------------------------------------------------------------------------
# tiny config helpers
# --------------------------------------------------------------------------

V, L, WSZ, PSZ, H, N, K = 13, 7, 3, 2, 5, 4, 3


def tiny_weights(dtype=np.float64, seed=7):
    rng = np.random.default_rng(seed)

    def r(*shape):
        return (rng.standard_normal(shape) * 0.5).astype(dtype)

    return {
        "word_emb": r(V, WSZ),
        "pos1_emb": r(2 * L, PSZ),
        "pos2_emb": r(2 * L, PSZ),
        "conv_w": r(H, WSZ + 2 * PSZ, K),
        "conv_b": r(H),
        "fc_w": r(N, H),
        "fc_b": r(N),
        "att_diag": (np.ones(H) + 0.1 * rng.standard_normal(H)).astype(dtype),
    }


def tiny_bags(n_bags=3, max_members=3, seed=3):
    rng = np.random.default_rng(seed)
    bags = []
    for i in range(n_bags):
        k = 1 + int(rng.integers(max_members))
        members = [
            (
                rng.integers(0, V, size=L).astype(np.int64),
                rng.integers(0, 2 * L, size=L).astype(np.int64),
                rng.integers(0, 2 * L, size=L).astype(np.int64),
            )
            for _ in range(k)
        ]
        bags.append((members, int(rng.integers(0, N))))
    return bags


def tiny_weights_pcnn(dtype=np.float64, seed=7):
    W = tiny_weights(dtype, seed)
    rng = np.random.default_rng(seed + 1)
    W["fc_w"] = (rng.standard_normal((N, 3 * H)) * 0.5).astype(dtype)
    W["att_diag"] = (np.ones(3 * H) + 0.1 * rng.standard_normal(3 * H)).astype(
        dtype
    )
    return W


def tiny_bags_pcnn(n_bags=3, max_members=3, seed=3):
    """tiny_bags + a 4th per-member array: the PCNN segment mask in
    {0,1,2,3} with a mask-0 (pad) tail."""
    rng = np.random.default_rng(seed + 100)
    bags = []
    for members, label in tiny_bags(n_bags, max_members, seed):
        out = []
        for (t, p1, p2) in members:
            m = rng.integers(1, 4, size=L)
            m[-2:] = 0  # padded tail
            out.append((t, p1, p2, m.astype(np.int64)))
        bags.append((out, label))
    return bags


def batch_arrays(bags):
    token = np.concatenate([np.stack([m[0] for m in ms]) for ms, _ in bags])
    pos1 = np.concatenate([np.stack([m[1] for m in ms]) for ms, _ in bags])
    pos2 = np.concatenate([np.stack([m[2] for m in ms]) for ms, _ in bags])
    scopes, lo = [], 0
    for ms, _ in bags:
        scopes.append((lo, lo + len(ms)))
        lo += len(ms)
    labels = np.array([y for _, y in bags], dtype=np.int64)
    return token, pos1, pos2, np.array(scopes, dtype=np.int64), labels


# --------------------------------------------------------------------------
# 1. forward parity vs the all-loops naive forward
# --------------------------------------------------------------------------

def test_bag_forward_matches_naive_loops():
    W = tiny_weights(np.float32)
    bags = tiny_bags(n_bags=5)
    token, pos1, pos2, scopes, labels = batch_arrays(bags)
    lw, ws, *_ = gk.bag_att_train_batch(token, pos1, pos2, scopes, labels, W)
    naive_loss, _ = naive_bag_loss(bags, W)
    assert math.isclose(lw / ws, naive_loss, rel_tol=1e-5)


def test_sentence_forward_matches_naive_loops():
    W = tiny_weights(np.float32)
    bags = tiny_bags(n_bags=6, max_members=1)
    rows = [(ms[0][0], ms[0][1], ms[0][2], y) for ms, y in bags]
    token = np.stack([r[0] for r in rows])
    pos1 = np.stack([r[1] for r in rows])
    pos2 = np.stack([r[2] for r in rows])
    labels = np.array([r[3] for r in rows], dtype=np.int64)
    lw, ws, *_ = gk.sentence_train_batch(token, pos1, pos2, labels, W)
    naive_loss, _ = naive_sentence_loss(rows, W)
    assert math.isclose(lw / ws, naive_loss, rel_tol=1e-5)


def test_weighted_ce_matches_naive():
    W = tiny_weights(np.float32)
    cw = np.array([0.5, 1.0, 2.0, 1.5], dtype=np.float32)
    bags = tiny_bags(n_bags=5)
    token, pos1, pos2, scopes, labels = batch_arrays(bags)
    lw, ws, *_ = gk.bag_att_train_batch(
        token, pos1, pos2, scopes, labels, W, class_weights=cw
    )
    naive_loss, _ = naive_bag_loss(bags, W, class_weights=cw)
    assert math.isclose(lw / ws, naive_loss, rel_tol=1e-5)


# --------------------------------------------------------------------------
# 2. finite-difference gradient checks (float64, every parameter entry)
# --------------------------------------------------------------------------

def _fd_check(loss_fn, analytic_grads, weights, eps=1e-6, tol=5e-5):
    worst = 0.0
    for key in gk.PARAM_KEYS:
        p = weights[key]
        g = analytic_grads[key]
        it = np.nditer(p, flags=["multi_index"])
        for _ in it:
            idx = it.multi_index
            if key in ("pos1_emb", "pos2_emb") and idx[0] == 0:
                # padding_idx=0 (base_encoder.py:68-69): torch blocks
                # the data gradient structurally — FD sees the loss
                # dependence, the parameter grad is defined as zero
                assert g[idx] == 0.0
                continue
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


def test_bag_gradcheck_fd():
    W = tiny_weights(np.float64)
    bags = tiny_bags(n_bags=3)
    token, pos1, pos2, scopes, labels = batch_arrays(bags)
    cw = np.array([0.7, 1.0, 1.3, 0.9], dtype=np.float64)

    def loss_fn(w):
        lw, ws, *_ = gk.bag_att_train_batch(
            token, pos1, pos2, scopes, labels, w, class_weights=cw
        )
        return lw / ws

    lw, ws, _, _, _, grads = gk.bag_att_train_batch(
        token, pos1, pos2, scopes, labels, W, class_weights=cw
    )
    _fd_check(loss_fn, {k: grads[k] / ws for k in grads}, W)


@pytest.mark.parametrize("method", ["avg", "one"])
def test_bag_method_forward_matches_naive(method):
    W = tiny_weights(np.float32)
    bags = tiny_bags(n_bags=5)
    token, pos1, pos2, scopes, labels = batch_arrays(bags)
    lw, ws, *_ = gk.BAG_TRAIN_KERNELS[method](
        token, pos1, pos2, scopes, labels, W
    )
    naive_loss, _ = naive_bag_loss(bags, W, method=method)
    assert math.isclose(lw / ws, naive_loss, rel_tol=1e-5)


@pytest.mark.parametrize("method", ["att", "one"])
def test_pcnn_bag_gradcheck_fd(method):
    """FD grad check through the PCNN piecewise-pool backward
    (pcnn_encoder.py:54-80: per-segment -100 gating, relu, max)."""
    W = tiny_weights_pcnn(np.float64, seed=31)
    bags = tiny_bags_pcnn(n_bags=3, seed=37)
    token = np.concatenate([np.stack([m[0] for m in ms]) for ms, _ in bags])
    pos1 = np.concatenate([np.stack([m[1] for m in ms]) for ms, _ in bags])
    pos2 = np.concatenate([np.stack([m[2] for m in ms]) for ms, _ in bags])
    mask = np.concatenate([np.stack([m[3] for m in ms]) for ms, _ in bags])
    scopes, lo = [], 0
    for ms, _ in bags:
        scopes.append((lo, lo + len(ms)))
        lo += len(ms)
    scopes = np.array(scopes, dtype=np.int64)
    labels = np.array([y for _, y in bags], dtype=np.int64)

    def loss_fn(w):
        lw, ws, *_ = gk.BAG_TRAIN_KERNELS[method](
            token, pos1, pos2, scopes, labels, w, mask=mask
        )
        return lw / ws

    lw, ws, _, _, _, grads = gk.BAG_TRAIN_KERNELS[method](
        token, pos1, pos2, scopes, labels, W, mask=mask
    )
    _fd_check(loss_fn, {k: grads[k] / ws for k in grads}, W)


def test_pcnn_bag_forward_matches_naive():
    W = tiny_weights_pcnn(np.float32)
    bags = tiny_bags_pcnn(n_bags=4)
    token = np.concatenate([np.stack([m[0] for m in ms]) for ms, _ in bags])
    pos1 = np.concatenate([np.stack([m[1] for m in ms]) for ms, _ in bags])
    pos2 = np.concatenate([np.stack([m[2] for m in ms]) for ms, _ in bags])
    mask = np.concatenate([np.stack([m[3] for m in ms]) for ms, _ in bags])
    scopes, lo = [], 0
    for ms, _ in bags:
        scopes.append((lo, lo + len(ms)))
        lo += len(ms)
    labels = np.array([y for _, y in bags], dtype=np.int64)
    lw, ws, *_ = gk.bag_att_train_batch(
        token, pos1, pos2, np.array(scopes, dtype=np.int64), labels, W,
        mask=mask,
    )
    naive_loss, _ = naive_bag_loss(bags, W, method="att")
    assert math.isclose(lw / ws, naive_loss, rel_tol=1e-5)


@pytest.mark.parametrize("method", ["avg", "one"])
def test_bag_method_gradcheck_fd(method):
    """FD grad check for the BagAverage / BagOne train branches. For
    'one' the argmax selection is a hard (locally constant) choice —
    valid FD as long as eps does not flip it, which random continuous
    weights make overwhelmingly likely."""
    W = tiny_weights(np.float64, seed=19)
    bags = tiny_bags(n_bags=3, seed=23)
    token, pos1, pos2, scopes, labels = batch_arrays(bags)

    def loss_fn(w):
        lw, ws, *_ = gk.BAG_TRAIN_KERNELS[method](
            token, pos1, pos2, scopes, labels, w
        )
        return lw / ws

    lw, ws, _, _, _, grads = gk.BAG_TRAIN_KERNELS[method](
        token, pos1, pos2, scopes, labels, W
    )
    _fd_check(loss_fn, {k: grads[k] / ws for k in grads}, W)


def test_sentence_gradcheck_fd():
    W = tiny_weights(np.float64)
    bags = tiny_bags(n_bags=4, max_members=1)
    token = np.stack([ms[0][0] for ms, _ in bags])
    pos1 = np.stack([ms[0][1] for ms, _ in bags])
    pos2 = np.stack([ms[0][2] for ms, _ in bags])
    labels = np.array([y for _, y in bags], dtype=np.int64)

    def loss_fn(w):
        lw, ws, *_ = gk.sentence_train_batch(token, pos1, pos2, labels, w)
        return lw / ws

    lw, ws, _, _, _, grads = gk.sentence_train_batch(
        token, pos1, pos2, labels, W
    )
    _fd_check(loss_fn, {k: grads[k] / ws for k in grads}, W)


def test_adam_step_semantics():
    """torch optim.Adam, coupled wd: after ONE step from zero state,
    p1 = p0 - lr * g' / (|g'| + eps) with g' = g + wd*p0 (bias
    corrections cancel at t=1)."""
    W = tiny_weights(np.float32)
    rng = np.random.default_rng(1)
    grads = {
        k: rng.standard_normal(W[k].shape).astype(np.float64)
        for k in gk.PARAM_KEYS
    }
    lr, wd, eps = 0.01, 0.02, 1e-8
    state = gk.adam_init(W)
    out = gk.adam_step(W, grads, state, lr, wd, eps=eps)
    for k in gk.PARAM_KEYS:
        gp = grads[k] + wd * W[k].astype(np.float64)
        exp = W[k].astype(np.float64) - lr * gp / (np.abs(gp) + eps)
        np.testing.assert_allclose(out[k], exp.astype(np.float32), rtol=3e-5)
    assert state["t"] == 1
    # second step uses accumulated moments — spot-check one param by
    # hand-rolling the recurrence
    g2 = {k: np.ones_like(W[k], dtype=np.float64) for k in gk.PARAM_KEYS}
    out2 = gk.adam_step(out, g2, state, lr, wd, eps=eps)
    k = "fc_b"
    b1, b2 = 0.9, 0.999
    g1p = grads[k] + wd * W[k].astype(np.float64)
    m = (1 - b1) * g1p
    v = (1 - b2) * g1p**2
    g2p = g2[k] + wd * out[k].astype(np.float64)
    m = b1 * m + (1 - b1) * g2p
    v = b2 * v + (1 - b2) * g2p**2
    exp2 = out[k].astype(np.float64) - lr * (m / (1 - b1**2)) / (
        np.sqrt(v / (1 - b2**2)) + eps
    )
    np.testing.assert_allclose(out2[k], exp2.astype(np.float32), rtol=3e-5)
    assert state["t"] == 2


def test_pos_padding_row_gradient_blocked():
    """padding_idx=0 parity (base_encoder.py:68-69): the position
    embeddings' row 0 never receives a data gradient, and under SGD
    with weight decay a zero row stays zero through training — while
    the word PAD row (no padding_idx) DOES train."""
    W = tiny_weights(np.float64)
    W["pos1_emb"][0] = 0.0
    W["pos2_emb"][0] = 0.0
    bags = tiny_bags(n_bags=4)
    token, pos1, pos2, scopes, labels = batch_arrays(bags)
    # force pad-style index usage
    pos1[:, -2:] = 0
    pos2[:, -2:] = 0
    *_, grads = gk.bag_att_train_batch(token, pos1, pos2, scopes, labels, W)
    assert not grads["pos1_emb"][0].any()
    assert not grads["pos2_emb"][0].any()
    assert grads["pos1_emb"][1:].any()  # other rows do train
    W2 = gk.sgd_step(W, {k: grads[k] for k in gk.PARAM_KEYS}, 0.1, 1e-4)
    assert not W2["pos1_emb"][0].any()
    assert not W2["pos2_emb"][0].any()


def test_trained_ckpt_disables_exact_truncation(spark, tmp_path):
    """A trained checkpoint's non-zero PAD word row invalidates the
    eval kernel's pad-window shortcut; the loader must detect it and
    the kernel must fall back to the (always-correct) full-length conv."""
    from opennre_spark.functions import kernels
    from opennre_spark.functions.weights import default_model

    _, W0 = default_model(schema="reduced")
    assert bool(W0["exact_trunc"]) is True
    # simulate a trained ckpt: PAD row moved
    W = dict(W0)
    W["word_emb"] = W0["word_emb"].copy()
    W["word_emb"][-1] = 0.3
    W["exact_trunc"] = np.bool_(False)
    pad_id = W["word_emb"].shape[0] - 1
    rng = np.random.default_rng(0)
    B, L = 6, int(W["max_length"])
    token = np.full((B, L), pad_id, dtype=np.int64)
    token[:, :5] = rng.integers(0, 50, size=(B, 5))
    pos1 = np.zeros((B, L), dtype=np.int64)
    pos2 = np.zeros((B, L), dtype=np.int64)
    pos1[:, :5] = rng.integers(1, 2 * L, size=(B, 5))
    pos2[:, :5] = rng.integers(1, 2 * L, size=(B, 5))
    n_real = np.full(B, 5, dtype=np.int64)
    full = kernels.cnn_forward(token, pos1, pos2, W, n_real=None)
    gated = kernels.cnn_forward(token, pos1, pos2, W, n_real=n_real)
    np.testing.assert_array_equal(gated, full)
    # and the shortcut WOULD have been wrong here (test has teeth)
    W_wrong = dict(W)
    W_wrong["exact_trunc"] = np.bool_(True)
    trunc = kernels.cnn_forward(token, pos1, pos2, W_wrong, n_real=n_real)
    assert not np.array_equal(trunc, full)


def test_split_word_grad_roundtrip():
    """Sparse transport of the word-embedding gradient block: split +
    scatter-add reconstructs the dense vector exactly, and only rows
    actually touched by the batch are shipped."""
    W = tiny_weights(np.float64)
    bags = tiny_bags(n_bags=3)
    token, pos1, pos2, scopes, labels = batch_arrays(bags)
    *_, grads = gk.bag_att_train_batch(token, pos1, pos2, scopes, labels, W)
    flat = gk.flatten_grads(grads)
    widx, wvals, rest = gk.split_word_grad(flat, W)
    # only touched vocab rows ship
    assert set(widx) <= set(np.unique(token))
    # exact reconstruction
    word = np.zeros(W["word_emb"].shape, dtype=np.float64)
    word[widx] = wvals.reshape(len(widx), -1)
    rebuilt = np.concatenate([word.ravel(), rest])
    np.testing.assert_array_equal(rebuilt, flat)


def test_sgd_step_semantics():
    """p -= lr * (g + wd * p) — coupled L2, torch optim.SGD."""
    W = tiny_weights(np.float32)
    grads = {k: np.ones_like(W[k], dtype=np.float64) for k in gk.PARAM_KEYS}
    out = gk.sgd_step(W, grads, lr=0.1, weight_decay=0.01)
    for k in gk.PARAM_KEYS:
        exp = W[k] - 0.1 * (1.0 + 0.01 * W[k].astype(np.float64))
        np.testing.assert_allclose(out[k], exp.astype(np.float32), rtol=1e-6)


# --------------------------------------------------------------------------
# 3+4. Spark: distributed == serial, and training improves
# --------------------------------------------------------------------------

REL_WORDS = {1: "runs", 2: "founded", 3: "visited"}  # 0 = NA


def _labeled_instances(spark, n=32):
    """Separable synthetic corpus: the relation word in the text
    determines the label; several (h, t) pairs repeat -> real bags."""
    rows = []
    for i in range(n):
        label = i % 4
        verb = REL_WORDS.get(label, "saw")
        h = f"ent{i % 6}"
        t = f"ent{(i % 6) + 6}"
        text = f"{h} {verb} the {t} yesterday"
        rows.append(
            (
                text,
                0, len(h),
                text.index(t), text.index(t) + len(t),
                h, t, label,
                f"c{i % 5}", i % 11, (i % 11) + (i % 2),
            )
        )
    return spark.createDataFrame(
        rows,
        "text string, h_begin int, h_end int, t_begin int, t_end int, "
        "h_id string, t_id string, label_id int, conv_id string, "
        "turn_idx int, pair_turn_idx int",
    )


def _collect_bag_schedule(spark, inst, epochs, n_batches, seed, encoder="cnn"):
    from opennre_spark.operators.training import (
        _SORT_COLS,
        assemble_train_bags,
        encode_labeled,
        epoch_batch_col,
    )

    encoded = encode_labeled(inst, encoder=encoder)
    bags = assemble_train_bags(encoded)
    sort_cols = [c for c in _SORT_COLS if c in inst.columns]
    schedule = []
    for epoch in range(epochs):
        rows = bags.withColumn(
            "__batch", epoch_batch_col(epoch, n_batches, seed)
        ).collect()
        batches = [[] for _ in range(n_batches)]
        for r in rows:
            members = sorted(
                r["members"], key=lambda m: tuple(m[c] for c in sort_cols)
            )
            ms = [
                (
                    np.asarray(m["token"], dtype=np.int64),
                    np.asarray(m["pos1"], dtype=np.int64),
                    np.asarray(m["pos2"], dtype=np.int64),
                )
                + (
                    (np.asarray(m["mask"], dtype=np.int64),)
                    if "mask" in m else ()
                )
                for m in members
            ]
            batches[r["__batch"]].append((ms, int(r["label_id"])))
        schedule.append(batches)
    return schedule


def test_distributed_bag_training_matches_serial(spark):
    from opennre_spark.functions.weights import default_model
    from opennre_spark.operators.training import train_bag_attention

    inst = _labeled_instances(spark, n=32)
    _, W0 = default_model(schema="reduced")
    epochs, batch_size, lr, wd, seed = 2, 8, 0.2, 1e-4, 11

    W_dist, hist_dist = train_bag_attention(
        inst, epochs=epochs, batch_size=batch_size, lr=lr,
        weight_decay=wd, seed=seed, init_weights=W0,
    )
    n_bags = sum(len(b) for b in _collect_bag_schedule(
        spark, inst, 1, 1, seed)[0])
    n_batches = max(1, math.ceil(n_bags / batch_size))
    schedule = _collect_bag_schedule(spark, inst, epochs, n_batches, seed)
    W_ser, hist_ser = serial_train_bags(schedule, dict(W0), lr, wd)

    assert [h["n_steps"] for h in hist_dist] == [h["n_steps"] for h in hist_ser]
    for hd, hs in zip(hist_dist, hist_ser):
        assert math.isclose(hd["avg_loss"], hs["avg_loss"], rel_tol=1e-6)
        assert math.isclose(hd["avg_acc"], hs["avg_acc"], rel_tol=1e-9)
        assert math.isclose(hd["avg_pos_acc"], hs["avg_pos_acc"], rel_tol=1e-9)
    for k in gk.PARAM_KEYS:
        np.testing.assert_allclose(
            W_dist[k], W_ser[k], rtol=0, atol=2e-6,
            err_msg=f"param {k} diverged from the serial loop",
        )


def test_distributed_sentence_training_matches_serial(spark):
    from opennre_spark.functions.weights import default_model
    from opennre_spark.operators.training import (
        _SORT_COLS,
        encode_labeled,
        sentence_batch_col,
        train_sentence_model,
    )

    inst = _labeled_instances(spark, n=24)
    _, W0 = default_model(schema="reduced")
    epochs, batch_size, lr, wd, seed = 2, 8, 0.2, 1e-4, 5

    W_dist, hist_dist = train_sentence_model(
        inst, epochs=epochs, batch_size=batch_size, lr=lr,
        weight_decay=wd, seed=seed, init_weights=W0,
    )

    encoded = encode_labeled(inst)
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
                    np.asarray(r["pos1"], dtype=np.int64),
                    np.asarray(r["pos2"], dtype=np.int64),
                    int(r["label_id"]),
                )
            )
        schedule.append(batches)
    W_ser, hist_ser = serial_train_sentences(schedule, dict(W0), lr, wd)

    for hd, hs in zip(hist_dist, hist_ser):
        assert math.isclose(hd["avg_loss"], hs["avg_loss"], rel_tol=1e-6)
        assert math.isclose(hd["avg_acc"], hs["avg_acc"], rel_tol=1e-9)
    for k in gk.PARAM_KEYS:
        np.testing.assert_allclose(W_dist[k], W_ser[k], rtol=0, atol=2e-6)


def test_distributed_pcnn_training_matches_serial(spark):
    """encoder='pcnn' end-to-end: mask encoded once, carried through
    bag assembly, consumed by the piecewise-pool train kernel —
    distributed == the serial schedule."""
    from opennre_spark.functions.weights import default_model
    from opennre_spark.operators.training import train_bag_attention

    inst = _labeled_instances(spark, n=24)
    _, W0 = default_model(schema="reduced", pcnn=True)
    epochs, batch_size, lr, wd, seed = 2, 8, 0.2, 1e-4, 41

    W_dist, hist_dist = train_bag_attention(
        inst, epochs=epochs, batch_size=batch_size, lr=lr,
        weight_decay=wd, seed=seed, init_weights=W0, encoder="pcnn",
    )
    n_bags = sum(len(b) for b in _collect_bag_schedule(
        spark, inst, 1, 1, seed, encoder="pcnn")[0])
    n_batches = max(1, math.ceil(n_bags / batch_size))
    schedule = _collect_bag_schedule(
        spark, inst, epochs, n_batches, seed, encoder="pcnn"
    )
    W_ser, hist_ser = serial_train_bags(schedule, dict(W0), lr, wd)
    for hd, hs in zip(hist_dist, hist_ser):
        assert math.isclose(hd["avg_loss"], hs["avg_loss"], rel_tol=1e-6)
    for k in gk.PARAM_KEYS:
        np.testing.assert_allclose(W_dist[k], W_ser[k], rtol=0, atol=2e-6)


@pytest.mark.parametrize("method", ["avg", "one"])
def test_distributed_bag_method_matches_serial(spark, method):
    """The avg and one bag models through the same schedule harness."""
    from opennre_spark.functions.weights import default_model
    from opennre_spark.operators.training import train_bag_attention

    inst = _labeled_instances(spark, n=24)
    _, W0 = default_model(schema="reduced")
    epochs, batch_size, lr, wd, seed = 2, 8, 0.2, 1e-4, 29

    W_dist, hist_dist = train_bag_attention(
        inst, epochs=epochs, batch_size=batch_size, lr=lr,
        weight_decay=wd, seed=seed, init_weights=W0, method=method,
    )
    n_bags = sum(len(b) for b in _collect_bag_schedule(
        spark, inst, 1, 1, seed)[0])
    n_batches = max(1, math.ceil(n_bags / batch_size))
    schedule = _collect_bag_schedule(spark, inst, epochs, n_batches, seed)
    W_ser, hist_ser = serial_train_bags(
        schedule, dict(W0), lr, wd, method=method
    )
    for hd, hs in zip(hist_dist, hist_ser):
        assert math.isclose(hd["avg_loss"], hs["avg_loss"], rel_tol=1e-6)
        assert math.isclose(hd["avg_acc"], hs["avg_acc"], rel_tol=1e-9)
    for k in gk.PARAM_KEYS:
        np.testing.assert_allclose(W_dist[k], W_ser[k], rtol=0, atol=2e-6)


def test_distributed_adam_matches_serial(spark):
    """opt='adam' through the same schedule harness: the optimizer
    state (moments + bias correction) must evolve identically."""
    from opennre_spark.functions.weights import default_model
    from opennre_spark.operators.training import train_bag_attention

    inst = _labeled_instances(spark, n=24)
    _, W0 = default_model(schema="reduced")
    epochs, batch_size, lr, wd, seed = 2, 8, 0.01, 1e-4, 17

    W_dist, hist_dist = train_bag_attention(
        inst, epochs=epochs, batch_size=batch_size, lr=lr,
        weight_decay=wd, seed=seed, init_weights=W0, opt="adam",
    )
    n_bags = sum(len(b) for b in _collect_bag_schedule(
        spark, inst, 1, 1, seed)[0])
    n_batches = max(1, math.ceil(n_bags / batch_size))
    schedule = _collect_bag_schedule(spark, inst, epochs, n_batches, seed)
    W_ser, hist_ser = serial_train_bags(schedule, dict(W0), lr, wd, opt="adam")

    for hd, hs in zip(hist_dist, hist_ser):
        assert math.isclose(hd["avg_loss"], hs["avg_loss"], rel_tol=1e-6)
    for k in gk.PARAM_KEYS:
        np.testing.assert_allclose(W_dist[k], W_ser[k], rtol=0, atol=2e-6)


def test_adamw_step_semantics():
    """transformers==3.4.0 AdamW with correct_bias=False, as the
    reference constructs it for the BERT branch (bag_re.py:77-88):
    NO bias correction, eps=1e-6, DECOUPLED weight decay applied
    after the Adam update with the reference's hard-coded groups —
    wd=0.01 for weights, wd=0.0 for biases (the no_decay list)."""
    W = tiny_weights(np.float32)
    rng = np.random.default_rng(4)
    grads = {
        k: rng.standard_normal(W[k].shape).astype(np.float64)
        for k in gk.PARAM_KEYS
    }
    lr, eps, b1, b2 = 0.01, 1e-6, 0.9, 0.999
    state = gk.adam_init(W)
    out = gk.adamw_step(W, grads, state, lr)
    m = {k: (1 - b1) * grads[k] for k in gk.PARAM_KEYS}
    v = {k: (1 - b2) * grads[k] ** 2 for k in gk.PARAM_KEYS}
    for k in gk.PARAM_KEYS:
        p0 = W[k].astype(np.float64)
        wd = 0.0 if k.endswith("_b") else 0.01
        # correct_bias=False: raw m, v — no (1-b^t) rescale; the
        # decoupled decay reads the POST-Adam parameter (transformers
        # applies add_(-lr*wd, p.data) AFTER addcdiv_), so the closed
        # form is (p - lr*u) * (1 - lr*wd)
        exp = (p0 - lr * m[k] / (np.sqrt(v[k]) + eps)) * (1 - lr * wd)
        np.testing.assert_allclose(
            out[k], exp.astype(np.float32), rtol=3e-5,
            err_msg=f"adamw step mismatch for {k}",
        )
    assert state["t"] == 1
    # biases really are decay-free: zero grad => bias unchanged,
    # while a weight with zero grad still shrinks by lr*wd
    zg = {k: np.zeros_like(W[k], dtype=np.float64) for k in gk.PARAM_KEYS}
    st2 = gk.adam_init(W)
    out2 = gk.adamw_step(W, zg, st2, lr)
    np.testing.assert_array_equal(out2["fc_b"], W["fc_b"])
    np.testing.assert_array_equal(out2["conv_b"], W["conv_b"])
    assert not np.array_equal(out2["fc_w"], W["fc_w"])
    np.testing.assert_allclose(
        out2["fc_w"],
        (W["fc_w"].astype(np.float64) * (1 - lr * 0.01)).astype(np.float32),
        rtol=1e-6,
    )
    # second step: hand-rolled recurrence, still no bias correction
    g2 = {k: np.ones_like(W[k], dtype=np.float64) for k in gk.PARAM_KEYS}
    out3 = gk.adamw_step(out, g2, state, lr)
    k = "fc_w"
    m2 = b1 * m[k] + (1 - b1) * g2[k]
    v2 = b2 * v[k] + (1 - b2) * g2[k] ** 2
    p1 = out[k].astype(np.float64)
    exp3 = (p1 - lr * m2 / (np.sqrt(v2) + eps)) * (1 - lr * 0.01)
    np.testing.assert_allclose(out3[k], exp3.astype(np.float32), rtol=3e-5)
    assert state["t"] == 2


def test_linear_warmup_multiplier():
    """get_linear_schedule_with_warmup's lambda (sentence_re.py:84-88):
    0 at step 0, linear ramp to 1 at warmup, linear decay to 0 at
    total_steps."""
    w, T = 4, 10
    got = [gk.linear_warmup_multiplier(s, w, T) for s in range(T + 1)]
    exp = [0.0, 0.25, 0.5, 0.75, 1.0, 5 / 6, 4 / 6, 3 / 6, 2 / 6, 1 / 6, 0.0]
    np.testing.assert_allclose(got, exp, rtol=1e-12)
    # warmup_step=0 => pure linear decay from 1 (transformers semantics)
    assert gk.linear_warmup_multiplier(0, 0, 10) == 1.0
    # never negative past the end
    assert gk.linear_warmup_multiplier(15, 4, 10) == 0.0


def test_distributed_adamw_warmup_matches_serial(spark):
    """opt='adamw' + linear warmup through the same schedule harness:
    decoupled decay, no-decay bias group, and the per-step lr
    multiplier (the reference's global_step position over the floor
    total_steps, sentence_re.py:86,97,124-128) must all evolve
    identically in the distributed and serial loops."""
    from opennre_spark.functions.weights import default_model
    from opennre_spark.operators.training import train_bag_attention

    inst = _labeled_instances(spark, n=24)
    _, W0 = default_model(schema="reduced")
    epochs, batch_size, lr, seed, warmup = 2, 8, 0.01, 23, 3

    W_dist, hist_dist = train_bag_attention(
        inst, epochs=epochs, batch_size=batch_size, lr=lr,
        weight_decay=1e-4,  # ignored by the adamw branch, like the ref
        seed=seed, init_weights=W0, opt="adamw", warmup_step=warmup,
    )
    n_bags = sum(len(b) for b in _collect_bag_schedule(
        spark, inst, 1, 1, seed)[0])
    n_batches = max(1, math.ceil(n_bags / batch_size))
    schedule = _collect_bag_schedule(spark, inst, epochs, n_batches, seed)
    W_ser, hist_ser = serial_train_bags(
        schedule, dict(W0), lr, 1e-4, opt="adamw", warmup_step=warmup,
        total_steps=(n_bags // batch_size) * epochs,
    )
    for hd, hs in zip(hist_dist, hist_ser):
        assert math.isclose(hd["avg_loss"], hs["avg_loss"], rel_tol=1e-6)
        assert hd["global_step"] == hs["global_step"]
    for k in gk.PARAM_KEYS:
        np.testing.assert_allclose(W_dist[k], W_ser[k], rtol=0, atol=2e-6)


def test_empty_batch_does_not_advance_warmup_schedule(spark):
    """An empty hash-mod batch (impossible in the reference's
    DataLoader, possible here on tiny corpora) must skip the optimizer
    update AND the schedule position: the reference's scheduler
    advances only on completed optimizer steps (global_step,
    sentence_re.py:97,124-128). Finds a seed whose hash-mod schedule
    leaves a batch empty, then asserts the distributed loop's recorded
    step count and final weights equal the serial oracle replaying the
    reference convention."""
    from opennre_spark.functions.weights import default_model
    from opennre_spark.operators.training import train_bag_attention

    inst = _labeled_instances(spark, n=5)  # 5 bags
    _, W0 = default_model(schema="reduced")
    epochs, batch_size, lr = 2, 1, 0.05
    n_bags = sum(len(b) for b in _collect_bag_schedule(spark, inst, 1, 1, 1)[0])
    n_batches = max(1, math.ceil(n_bags / batch_size))
    seed = schedule = None
    for cand in range(1, 30):
        sched = _collect_bag_schedule(spark, inst, epochs, n_batches, cand)
        if any(not b for ep in sched for b in ep):
            seed, schedule = cand, sched
            break
    assert seed is not None, "no candidate seed produced an empty batch"
    n_nonempty = sum(1 for ep in schedule for b in ep if b)
    assert n_nonempty < epochs * n_batches  # the schedule really has a hole

    W_dist, hist = train_bag_attention(
        inst, epochs=epochs, batch_size=batch_size, lr=lr,
        weight_decay=0.0, seed=seed, init_weights=W0, warmup_step=2,
    )
    assert hist[-1]["global_step"] == n_nonempty
    W_ser, hist_ser = serial_train_bags(
        schedule, dict(W0), lr, 0.0, warmup_step=2,
        total_steps=(n_bags // batch_size) * epochs,
    )
    assert (
        [h["global_step"] for h in hist]
        == [h["global_step"] for h in hist_ser]
    )
    for k in gk.PARAM_KEYS:
        np.testing.assert_allclose(W_dist[k], W_ser[k], rtol=0, atol=2e-6)


def test_unknown_optimizer_raises(spark):
    from opennre_spark.operators.training import make_optimizer

    with pytest.raises(ValueError, match="Invalid optimizer"):
        make_optimizer("rmsprop", {}, 0.1, 0.0)


def _val_facts_from(spark, inst):
    """Gold facts (h_id, relation, t_id) for the synthetic labels."""
    from opennre_spark import relations

    rel2id = relations.rel2id_for("reduced")
    id2rel = {v: k for k, v in rel2id.items()}
    rows = (
        inst.filter("label_id != 0")
        .select("h_id", "label_id", "t_id")
        .distinct()
        .collect()
    )
    return spark.createDataFrame(
        [(r["h_id"], id2rel[r["label_id"]], r["t_id"]) for r in rows],
        "h_id string, relation string, t_id string",
    )


def test_val_loop_and_best_checkpoint(spark, tmp_path):
    """Per-epoch val AUC through the production eval path + best-ckpt
    save (bag_re.py:143-151): the saved checkpoint must reload through
    the S4 loader and re-evaluate to exactly the best recorded AUC."""
    from opennre_spark.functions.weights import default_model, load_state_dict_npz
    from opennre_spark import relations
    from opennre_spark.operators.training import (
        evaluate_bag_model,
        train_bag_attention,
    )

    inst = _labeled_instances(spark, n=32)
    facts = _val_facts_from(spark, inst)
    _, W0 = default_model(schema="reduced")
    ckpt = str(tmp_path / "best_bag.npz")
    W, hist = train_bag_attention(
        inst, epochs=2, batch_size=16, lr=0.5, weight_decay=1e-5,
        seed=9, init_weights=W0, val_instances=inst, val_facts=facts,
        ckpt=ckpt, metric="auc",
    )
    vals = [h["val_auc"] for h in hist]
    assert all(0.0 <= v <= 1.0 for v in vals)
    best = max(vals)
    rel2id = relations.rel2id_for("reduced")
    loaded = load_state_dict_npz(ckpt, rel2id=rel2id)
    # the checkpointed weights re-evaluate to the best recorded AUC
    res = evaluate_bag_model(inst, facts, loaded, schema="reduced")
    assert math.isclose(res["auc"], best, rel_tol=1e-9)


def test_sentence_val_acc_and_ckpt(spark, tmp_path):
    from opennre_spark.functions.weights import default_model, load_state_dict_npz
    from opennre_spark.operators.training import (
        evaluate_sentence_acc,
        train_sentence_model,
    )

    inst = _labeled_instances(spark, n=24)
    _, W0 = default_model(schema="reduced")
    ckpt = str(tmp_path / "best_sent.npz")
    W, hist = train_sentence_model(
        inst, epochs=2, batch_size=12, lr=0.5, weight_decay=1e-5,
        seed=13, init_weights=W0, val_instances=inst, ckpt=ckpt,
    )
    vals = [h["val_acc"] for h in hist]
    assert all(0.0 <= v <= 1.0 for v in vals)
    loaded = load_state_dict_npz(ckpt)
    acc = evaluate_sentence_acc(inst, loaded)
    assert math.isclose(acc, max(vals), rel_tol=1e-12)


@pytest.mark.parametrize(
    "train", ["train_bag_attention", "train_sentence_model"]
)
def test_tree_combine_matches_direct_collect(spark, train):
    """combine_fanin routes partials through a second-level reducer —
    results must match the direct driver collect (float64 summation
    regroups only), for the bag and the sentence model alike."""
    from opennre_spark.functions.weights import default_model
    from opennre_spark.operators import training

    train = getattr(training, train)
    inst = _labeled_instances(spark, n=24)
    _, W0 = default_model(schema="reduced")
    kw = dict(epochs=2, batch_size=8, lr=0.2, weight_decay=1e-4,
              seed=11, init_weights=W0)
    W_direct, hist_direct = train(inst, **kw)
    W_tree, hist_tree = train(inst, combine_fanin=2, **kw)
    for hd, ht in zip(hist_direct, hist_tree):
        assert math.isclose(hd["avg_loss"], ht["avg_loss"], rel_tol=1e-9)
        assert hd["avg_acc"] == ht["avg_acc"]
    for k in gk.PARAM_KEYS:
        np.testing.assert_allclose(W_tree[k], W_direct[k], rtol=0, atol=2e-6)


def test_training_resume_equals_uninterrupted(spark, tmp_path):
    """Kill-and-resume parity: epoch checkpoints + deterministic
    (seed, epoch) batch schedule mean a staged run (1 epoch, then
    resume for 2 more) produces the same weights and history as an
    uninterrupted 3-epoch run — for BOTH optimizers (adam carries its
    moments across the restart)."""
    from opennre_spark.functions.weights import default_model
    from opennre_spark.operators.training import train_bag_attention

    inst = _labeled_instances(spark, n=24)
    _, W0 = default_model(schema="reduced")
    for opt, lr in (("sgd", 0.3), ("adam", 0.01)):
        kw = dict(
            batch_size=8, lr=lr, weight_decay=1e-4, seed=21,
            init_weights=W0, opt=opt,
        )
        W_full, hist_full = train_bag_attention(inst, epochs=3, **kw)
        rdir = str(tmp_path / f"resume_{opt}")
        train_bag_attention(inst, epochs=1, resume_dir=rdir, **kw)
        W_res, hist_res = train_bag_attention(
            inst, epochs=3, resume_dir=rdir, **kw
        )
        assert len(hist_res) == len(hist_full) == 3
        for hf, hr in zip(hist_full, hist_res):
            assert math.isclose(hf["avg_loss"], hr["avg_loss"], rel_tol=1e-9)
        for k in gk.PARAM_KEYS:
            np.testing.assert_allclose(
                W_res[k], W_full[k], rtol=0, atol=1e-6,
                err_msg=f"{opt}: param {k} diverged across resume",
            )


@pytest.mark.parametrize(
    "multilabel", [False, True], ids=["softmax", "multilabel"]
)
def test_sentence_resume_equals_uninterrupted(spark, tmp_path, multilabel):
    """The sentence loop's resume machinery (same epoch-checkpoint
    scheme as the bag loop; the reference checkpoints sentence training
    too, sentence_re.py:133-139): a staged run (1 epoch, then resume
    for 2 more) equals an uninterrupted 3-epoch run for BOTH
    optimizers — adam's moments must survive the restart — under the
    softmax and the multilabel (SigmoidNN + BCE) step alike."""
    from opennre_spark.functions.weights import default_model
    from opennre_spark.operators.training import train_sentence_model

    inst = _labeled_instances(spark, n=24)
    _, W0 = default_model(schema="reduced")
    for opt, lr in (("sgd", 0.3), ("adam", 0.01)):
        kw = dict(
            batch_size=8, lr=lr, weight_decay=1e-4, seed=31,
            init_weights=W0, opt=opt, multilabel=multilabel,
        )
        W_full, hist_full = train_sentence_model(inst, epochs=3, **kw)
        rdir = str(tmp_path / f"sent_resume_{opt}")
        train_sentence_model(inst, epochs=1, resume_dir=rdir, **kw)
        W_res, hist_res = train_sentence_model(
            inst, epochs=3, resume_dir=rdir, **kw
        )
        assert len(hist_res) == len(hist_full) == 3
        for hf, hr in zip(hist_full, hist_res):
            assert math.isclose(hf["avg_loss"], hr["avg_loss"], rel_tol=1e-9)
        for k in gk.PARAM_KEYS:
            np.testing.assert_allclose(
                W_res[k], W_full[k], rtol=0, atol=1e-6,
                err_msg=f"sentence {opt}: param {k} diverged across resume",
            )


def test_sentence_pcnn_training_runs(spark):
    """train_sentence_model(encoder='pcnn') end-to-end: the mask column
    must reach the sentence kernel (regression: the partial generator
    once dropped it, which would shape-crash on the 3H classifier)."""
    from opennre_spark.functions.weights import default_model
    from opennre_spark.operators.training import train_sentence_model

    inst = _labeled_instances(spark, n=16)
    _, W0 = default_model(schema="reduced", pcnn=True)
    W, hist = train_sentence_model(
        inst, epochs=2, batch_size=8, lr=0.3, weight_decay=1e-5,
        seed=7, init_weights=W0, encoder="pcnn",
    )
    assert len(hist) == 2
    assert hist[-1]["avg_loss"] < hist[0]["avg_loss"]


def test_pcnn_val_and_ckpt_roundtrip(spark, tmp_path):
    """The validation/checkpoint machinery is encoder-generic: PCNN
    weights save, reload through the S4 loader (pcnn derived from the
    3H fc width), and evaluate through the production PCNN eval path."""
    from opennre_spark.functions.weights import (
        default_model,
        load_state_dict_npz,
        save_weights_npz,
    )
    from opennre_spark import relations
    from opennre_spark.operators.training import evaluate_bag_model

    inst = _labeled_instances(spark, n=16)
    facts = _val_facts_from(spark, inst)
    _, W = default_model(schema="reduced", pcnn=True)
    res = evaluate_bag_model(inst, facts, W, schema="reduced", encoder="pcnn")
    assert 0.0 <= res["auc"] <= 1.0
    path = str(tmp_path / "pcnn.npz")
    save_weights_npz(W, path, rel2id=relations.rel2id_for("reduced"))
    loaded = load_state_dict_npz(path)
    assert bool(loaded["pcnn"]) is True
    res2 = evaluate_bag_model(
        inst, facts, loaded, schema="reduced", encoder="pcnn"
    )
    assert math.isclose(res["auc"], res2["auc"], rel_tol=1e-12)


def test_bag_training_improves_and_changes_decisions(spark):
    from opennre_spark.functions.weights import default_model
    from opennre_spark.operators.training import train_bag_attention

    inst = _labeled_instances(spark, n=48)
    _, W0 = default_model(schema="reduced")
    W, hist = train_bag_attention(
        inst, epochs=4, batch_size=16, lr=0.5, weight_decay=1e-5,
        seed=3, init_weights=W0,
    )
    assert hist[-1]["avg_loss"] < hist[0]["avg_loss"]
    assert hist[-1]["avg_acc"] >= hist[0]["avg_acc"]
    # the trained weights are a usable model: at least one param moved
    # and the fc layer changed decisions-relevant mass
    assert not np.allclose(W["fc_w"], W0["fc_w"])


def test_loss_weight_vector_semantics(spark):
    """w = 1/(count+1)**0.05 over instance labels — the reference's
    count vector starts at np.ones and adds one per instance
    (data_loader.py:147,174-176), so an absent class weighs exactly
    1.0 (finite; an inf here would poison any weighted loss that
    touches it, e.g. resuming on a different instance set)."""
    from opennre_spark.operators.training import (
        class_freq_weight_vector,
        encode_labeled,
    )

    inst = _labeled_instances(spark, n=32)
    enc = encode_labeled(inst)
    w = class_freq_weight_vector(enc, 8)
    counts = np.zeros(8)
    for r in inst.groupBy("label_id").count().collect():
        counts[r["label_id"]] = r["count"]
    expected = 1.0 / (counts + 1.0) ** 0.05
    got = np.asarray(w, dtype=np.float64)
    assert counts.sum() > 0 and (counts == 0).any()  # both branches real
    np.testing.assert_allclose(got, expected, rtol=1e-6)
    assert np.all(np.isfinite(got))
    np.testing.assert_allclose(got[counts == 0], 1.0)


def test_distant_supervision_labeling(spark):
    from opennre_spark.operators.training import distant_supervision_instances
    from opennre_spark.sources.transcripts import gold_df, transcripts_df

    from pyspark.sql import functions as F

    t = transcripts_df(spark, 12)
    facts = gold_df(spark, 12).select(
        "h_id", F.col("pred").alias("relation"), "t_id"
    ).distinct()
    inst = distant_supervision_instances(t, facts)
    rows = inst.select("h_id", "t_id", "label_id").collect()
    assert len(rows) > 0
    # pairs present in the KB carry a non-NA label; others are NA (0)
    kb = {(r["h_id"], r["t_id"]) for r in facts.collect()}
    labeled = {(r["h_id"], r["t_id"]): r["label_id"] for r in rows}
    hits = [v for k, v in labeled.items() if k in kb]
    misses = [v for k, v in labeled.items() if k not in kb]
    assert hits and all(v != 0 for v in hits)
    assert all(v == 0 for v in misses)


def test_unused_params_stay_untouched(spark):
    """torch optimizers skip grad-None parameters, so parameters
    structurally outside a model's forward graph must stay
    BIT-IDENTICAL through training (gk.used_param_keys threaded into
    every optimizer): att_diag belongs only to BagAttention — the
    sentence model and the avg/one bag models never touch it, and
    before this guard weight decay silently shrank it every step."""
    from opennre_spark.functions.weights import default_model
    from opennre_spark.operators.training import (
        train_bag_attention,
        train_sentence_model,
    )

    inst = _labeled_instances(spark, n=16)
    _, W0 = default_model(schema="reduced")
    kw = dict(epochs=1, batch_size=8, lr=0.3, weight_decay=1e-2,
              seed=51, init_weights=W0)
    for trainer, extra in (
        (train_sentence_model, {}),
        (train_bag_attention, {"method": "avg"}),
        (train_bag_attention, {"method": "one"}),
    ):
        W, _ = trainer(inst, **kw, **extra)
        np.testing.assert_array_equal(
            W["att_diag"], W0["att_diag"],
            err_msg=f"{trainer.__name__} {extra} moved the unused att_diag",
        )
        assert not np.array_equal(W["fc_w"], W0["fc_w"])  # training happened
    # ...while bag ATT training does move it (diag is in its graph)
    W_att, _ = train_bag_attention(inst, **kw, method="att")
    assert not np.array_equal(W_att["att_diag"], W0["att_diag"])


def test_reliable_checkpoint_mode_matches_local(spark, tmp_path):
    """checkpoint_mode='reliable' materializes the encoded/bag tables
    through setCheckpointDir-backed checkpoints (fault-tolerant on a
    real cluster; see docs/PLANS.md round-4 note) — training results
    must be identical to the default localCheckpoint route, and asking
    for it without a checkpoint dir must fail fast, not mid-epoch."""
    from opennre_spark.functions.weights import default_model
    from opennre_spark.operators.training import train_bag_attention

    inst = _labeled_instances(spark, n=16)
    _, W0 = default_model(schema="reduced")
    kw = dict(epochs=2, batch_size=8, lr=0.3, weight_decay=1e-4,
              seed=71, init_weights=W0)
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    with pytest.raises(ValueError, match="setCheckpointDir"):
        train_bag_attention(inst, checkpoint_mode="reliable", **kw)
    with pytest.raises(ValueError, match="checkpoint_mode"):
        train_bag_attention(inst, checkpoint_mode="bogus", **kw)
    W_local, hist_local = train_bag_attention(inst, **kw)
    sc.setCheckpointDir(str(tmp_path / "ckpt_dir"))
    try:
        W_rel, hist_rel = train_bag_attention(
            inst, checkpoint_mode="reliable", **kw
        )
    finally:
        # Option(null) resets the Scala-side checkpointDir to None
        sc._jsc.sc().setCheckpointDir(None)
    assert sc.getCheckpointDir() is None  # restore verified (idempotent)
    for hl, hr in zip(hist_local, hist_rel):
        assert math.isclose(hl["avg_loss"], hr["avg_loss"], rel_tol=1e-12)
    for k in gk.PARAM_KEYS:
        np.testing.assert_array_equal(W_rel[k], W_local[k])
