"""Serial training oracles for operators/training.py.

Two independent checks compose (torch is absent in the sandbox):
  - `naive_bag_loss` / `naive_sentence_loss`: train-mode FORWARD written
    from the reference sources with plain loops (reusing the naive conv
    from reference_math) — validates grad_kernels' vectorized forward.
    Backward is validated against these plus central finite differences
    in tests/test_training.py (autograd-free, implementation-independent).
  - `serial_train_bags` / `serial_train_sentences`: the optimizer loop
    run one bag / one row at a time on the driver, calling the SAME
    per-example kernel the executors run — validates the distributed
    orchestration (batch schedule, scope assembly, partial-gradient
    summation, meter bookkeeping) against a trivially-correct serial
    execution of the identical schedule.

Reference math: bag_attention.py:100-137 (train branch, bag_size=0),
cnn_encoder.py:58-65, softmax_nn.py:45-50, bag_re.py:100-152 (SGD +
meters), data_loader.py:176-178 (loss weights).
"""

from __future__ import annotations

import math

import numpy as np

from opennre_spark.functions import grad_kernels as gk

from .reference_math import oracle_conv


def _naive_rep(token, pos1, pos2, W, mask=None):
    """CNN / PCNN encoder forward for ONE sentence, loops only (no
    dropout). mask given -> piecewise pooling (pcnn_encoder.py:54-80)."""
    x = np.concatenate(
        [W["word_emb"][token], W["pos1_emb"][pos1], W["pos2_emb"][pos2]],
        axis=1,
    )  # (L, C)
    conv = oracle_conv(x[None, :, :], W["conv_w"], W["conv_b"])[0]  # (L, H)
    if mask is None:
        return np.maximum(conv, 0).max(axis=0)  # (H,)
    H = conv.shape[1]
    out = np.empty(3 * H, dtype=conv.dtype)
    for seg in (1, 2, 3):
        gate = (mask == seg).astype(conv.dtype)
        shifted = conv + np.float32(-100.0) * (1.0 - gate)[:, None]
        out[(seg - 1) * H : seg * H] = np.maximum(shifted, 0).max(axis=0)
    return out


def _naive_log_softmax(z):
    z = np.asarray(z, dtype=np.float64)
    m = max(z)
    s = math.log(sum(math.exp(v - m) for v in z))
    return [v - m - s for v in z]


def naive_bag_loss(bags, W, class_weights=None, method="att"):
    """Mean CE over a batch of bags through the train-mode bag model,
    all-loops. method: 'att' (gold-label-query attention), 'avg'
    (mean of reps, bag_average.py:117-131) or 'one' (member with max
    softmaxed gold-label prob, bag_one.py:111-138). bags: list of
    (members, label) where members is a list of (token, pos1, pos2)
    int arrays. Returns (mean_loss, preds)."""
    loss_wsum = 0.0
    w_sum = 0.0
    preds = []
    for members, label in bags:
        reps = [_naive_rep(*m[:3], W, mask=(m[3] if len(m) > 3 else None))
                for m in members]
        if method == "att":
            att_mat = W["fc_w"][label] * W["att_diag"]
            scores = [float(r @ att_mat) for r in reps]
            m = max(scores)
            es = [math.exp(s - m) for s in scores]
            tot = sum(es)
            a = [e / tot for e in es]
            bag_rep = sum(ai * ri for ai, ri in zip(a, reps))
        elif method == "avg":
            bag_rep = sum(reps) / len(reps)
        else:  # 'one': member maximizing softmaxed gold-label prob
            best, bag_rep = None, None
            for r in reps:
                lg = W["fc_w"] @ r + W["fc_b"]
                p = math.exp(_naive_log_softmax(lg)[label])
                if best is None or p > best:
                    best, bag_rep = p, r
        logits = W["fc_w"] @ bag_rep + W["fc_b"]
        ls = _naive_log_softmax(logits)
        w = 1.0 if class_weights is None else float(class_weights[label])
        loss_wsum += -w * ls[label]
        w_sum += w
        preds.append(int(np.argmax(logits)))
    return loss_wsum / w_sum, preds


def naive_sentence_loss(rows, W, class_weights=None):
    """Mean CE over per-sentence softmax logits (SentenceRE step)."""
    loss_wsum = 0.0
    w_sum = 0.0
    preds = []
    for token, pos1, pos2, label in rows:
        rep = _naive_rep(token, pos1, pos2, W)
        logits = W["fc_w"] @ rep + W["fc_b"]
        ls = _naive_log_softmax(logits)
        w = 1.0 if class_weights is None else float(class_weights[label])
        loss_wsum += -w * ls[label]
        w_sum += w
        preds.append(int(np.argmax(logits)))
    return loss_wsum / w_sum, preds


def _serial_step(W, acc_g, w_sum, lr, weight_decay, opt, opt_state,
                 lr_mult=1.0, used_keys=None):
    g = gk.unflatten_grads(acc_g / w_sum, W)
    if opt == "adam":
        return gk.adam_step(W, g, opt_state, lr * lr_mult, weight_decay,
                            used_keys=used_keys)
    if opt == "adamw":
        return gk.adamw_step(W, g, opt_state, lr * lr_mult,
                             used_keys=used_keys)
    return gk.sgd_step(W, g, lr * lr_mult, weight_decay,
                       used_keys=used_keys)


def serial_train_bags(
    bags_by_epoch_batch, W0, lr, weight_decay, class_weights=None,
    opt="sgd", method="att", warmup_step=0, total_steps=None,
):
    """Run the EXACT schedule serially, one bag per kernel call.

    bags_by_epoch_batch: list (per epoch) of lists (per step) of
    (members, label) bags — the same assignment the distributed loop
    used. warmup_step enables the linear-warmup schedule with the
    reference's position convention: global_step = count of COMPLETED
    optimizer steps (scheduler.step() after optimizer.step(),
    sentence_re.py:97,124-128 — an empty batch advances nothing).
    total_steps: the reference's num_training_steps
    (len(dataset) // batch_size * max_epoch, sentence_re.py:86);
    defaults to n_epochs * n_batches when not given. Returns
    (weights, history) with the reference's AverageMeter semantics
    (per-step batch means averaged over the epoch)."""
    W = dict(W0)
    opt_state = gk.adam_init(W) if opt in ("adam", "adamw") else None
    used_keys = gk.used_param_keys(W, model="bag", method=method)
    history = []
    n_epochs = len(bags_by_epoch_batch)
    global_step = 0
    for epoch, epoch_batches in enumerate(bags_by_epoch_batch):
        n_batches = len(epoch_batches)
        if total_steps is None:
            total_steps = n_epochs * n_batches
        sums = {"loss": 0.0, "acc": 0.0, "pos_acc": 0.0}
        n_steps = 0
        for step, batch in enumerate(epoch_batches):
            if not batch:
                continue
            lr_mult = (
                gk.linear_warmup_multiplier(
                    global_step, warmup_step, total_steps,
                )
                if warmup_step > 0
                else 1.0
            )
            acc_g = None
            loss_wsum = w_sum = 0.0
            n_correct = n_pos = n_pos_correct = 0
            for members, label in batch:
                token = np.stack([m[0] for m in members])
                pos1 = np.stack([m[1] for m in members])
                pos2 = np.stack([m[2] for m in members])
                mask = (
                    np.stack([m[3] for m in members])
                    if len(members[0]) > 3 else None
                )
                lw, ws, nc, npos, npc, grads = gk.BAG_TRAIN_KERNELS[method](
                    token, pos1, pos2,
                    np.array([[0, len(members)]], dtype=np.int64),
                    np.array([label], dtype=np.int64),
                    W, class_weights=class_weights, mask=mask,
                )
                loss_wsum += lw
                w_sum += ws
                n_correct += nc
                n_pos += npos
                n_pos_correct += npc
                g = gk.flatten_grads(grads)
                acc_g = g if acc_g is None else acc_g + g
            W = _serial_step(
                W, acc_g, w_sum, lr, weight_decay, opt, opt_state, lr_mult,
                used_keys=used_keys,
            )
            sums["loss"] += loss_wsum / w_sum
            sums["acc"] += n_correct / len(batch)
            sums["pos_acc"] += (n_pos_correct / n_pos) if n_pos > 0 else 0.0
            n_steps += 1
            global_step += 1
        history.append(
            {
                "epoch": len(history),
                "n_steps": n_steps,
                "global_step": global_step,
                "avg_loss": sums["loss"] / max(n_steps, 1),
                "avg_acc": sums["acc"] / max(n_steps, 1),
                "avg_pos_acc": sums["pos_acc"] / max(n_steps, 1),
            }
        )
    return W, history


def serial_train_sentences_bert(
    rows_by_epoch_batch, W0, lr, weight_decay, class_weights=None,
    opt="adamw", warmup_step=0, total_steps=None,
):
    """BERT sentence-model serial twin: one ROW per kernel call through
    grad_kernels.sentence_train_batch (BERT weights dispatch to the
    transformer; `mask` carries the attention mask), the distributed loop's
    schedule + the reference's warmup conventions (global_step position,
    floor total_steps — see serial_train_bags), reference AverageMeter
    semantics. rows: (token, att_mask, pos1, pos2, label)."""
    W = dict(W0)
    opt_state = gk.adam_init(W) if opt in ("adam", "adamw") else None
    used_keys = gk.used_param_keys(W, model="sentence")
    history = []
    n_epochs = len(rows_by_epoch_batch)
    global_step = 0
    for epoch, epoch_batches in enumerate(rows_by_epoch_batch):
        n_batches = len(epoch_batches)
        if total_steps is None:
            total_steps = n_epochs * n_batches
        sums = {"loss": 0.0, "acc": 0.0, "pos_acc": 0.0}
        n_steps = 0
        for step, batch in enumerate(epoch_batches):
            if not batch:
                continue
            lr_mult = (
                gk.linear_warmup_multiplier(
                    global_step, warmup_step, total_steps,
                )
                if warmup_step > 0
                else 1.0
            )
            acc_g = None
            loss_wsum = w_sum = 0.0
            n_correct = n_pos = n_pos_correct = 0
            for token, att_mask, pos1, pos2, label in batch:
                lw, ws, nc, npos, npc, grads = gk.sentence_train_batch(
                    token[None, :],
                    np.array([pos1], dtype=np.int64),
                    np.array([pos2], dtype=np.int64),
                    np.array([label], dtype=np.int64),
                    W, class_weights=class_weights, mask=att_mask[None, :],
                )
                loss_wsum += lw
                w_sum += ws
                n_correct += nc
                n_pos += npos
                n_pos_correct += npc
                g = gk.flatten_grads(grads, W)
                acc_g = g if acc_g is None else acc_g + g
            W = _serial_step(
                W, acc_g, w_sum, lr, weight_decay, opt, opt_state, lr_mult,
                used_keys=used_keys,
            )
            sums["loss"] += loss_wsum / w_sum
            sums["acc"] += n_correct / len(batch)
            sums["pos_acc"] += (n_pos_correct / n_pos) if n_pos > 0 else 0.0
            n_steps += 1
            global_step += 1
        history.append(
            {
                "epoch": len(history),
                "n_steps": n_steps,
                "global_step": global_step,
                "avg_loss": sums["loss"] / max(n_steps, 1),
                "avg_acc": sums["acc"] / max(n_steps, 1),
                "avg_pos_acc": sums["pos_acc"] / max(n_steps, 1),
            }
        )
    return W, history


def serial_train_sentences(
    rows_by_epoch_batch, W0, lr, weight_decay, class_weights=None,
    multilabel=False,
):
    """Sentence-model twin of serial_train_bags: one ROW per kernel
    call, same schedule, same meters. multilabel=True routes through
    the SigmoidNN+BCE kernel with the reference's elementwise meter
    denominators (multi_label_sentence_re.py:122-124)."""
    W = dict(W0)
    history = []
    for epoch_batches in rows_by_epoch_batch:
        sums = {"loss": 0.0, "acc": 0.0, "pos_acc": 0.0}
        n_steps = 0
        for batch in epoch_batches:
            if not batch:
                continue
            acc_g = None
            loss_wsum = w_sum = 0.0
            n_total = 0.0
            n_correct = n_pos = n_pos_correct = 0
            for token, pos1, pos2, label in batch:
                if multilabel:
                    lw, ws, nc, npos, npc, grads = (
                        gk.multilabel_sentence_train_batch(
                            token[None, :], pos1[None, :], pos2[None, :],
                            np.array([label], dtype=np.int64), W,
                        )
                    )
                    n_total += ws
                else:
                    lw, ws, nc, npos, npc, grads = gk.sentence_train_batch(
                        token[None, :], pos1[None, :], pos2[None, :],
                        np.array([label], dtype=np.int64),
                        W, class_weights=class_weights,
                    )
                    n_total += 1
                loss_wsum += lw
                w_sum += ws
                n_correct += nc
                n_pos += npos
                n_pos_correct += npc
                g = gk.flatten_grads(grads)
                acc_g = g if acc_g is None else acc_g + g
            W = gk.sgd_step(
                W, gk.unflatten_grads(acc_g / w_sum, W), lr, weight_decay,
                used_keys=gk.used_param_keys(
                    W, model="multilabel" if multilabel else "sentence"
                ),
            )
            sums["loss"] += loss_wsum / w_sum
            sums["acc"] += n_correct / n_total
            sums["pos_acc"] += (n_pos_correct / n_pos) if n_pos > 0 else 0.0
            n_steps += 1
        history.append(
            {
                "epoch": len(history),
                "n_steps": n_steps,
                "avg_loss": sums["loss"] / max(n_steps, 1),
                "avg_acc": sums["acc"] / max(n_steps, 1),
                "avg_pos_acc": sums["pos_acc"] / max(n_steps, 1),
            }
        )
    return W, history
