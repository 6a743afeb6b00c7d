"""Training-mode forward/backward kernels (SURVEY.md §2 A3 + the train
loops): vectorized numpy re-expression of the reference's autograd graph
for the CNN encoder + selective-attention bag model and the sentence
softmax model.

Reference math being differentiated:
  - CNNEncoder.forward: embed-concat -> Conv1d(K, pad) -> ReLU ->
    MaxPool(max_length) -> dropout        cnn_encoder.py:58-65
  - BagAttention.forward train branch (bag_size=0): query = gold label,
    att_mat = fc.weight[query] (* diag), per-bag softmax over member
    scores, weighted-sum bag rep, dropout, fc
                                          bag_attention.py:100-137
  - SoftmaxNN.forward: rep -> dropout -> fc  softmax_nn.py:45-50
  - nn.CrossEntropyLoss (optional per-class weights = the BagRELoader
    1/freq^0.05 vector, data_loader.py:176-178; weighted mean divides
    by the sum of selected weights, torch semantics)
  - optim.SGD(lr, weight_decay): p -= lr * (g + wd * p)
                                          bag_re.py:68, sentence_re.py:71

Verification strategy (torch is absent in this sandbox, so parity can't
be checked against autograd directly):
  1. central finite-difference gradient checks on small float64 configs
     (tests/test_training.py) — independent of any hand-written oracle;
  2. the distributed Spark loop (operators/training.py) reproduces a
     serial per-bag python loop over the same batch schedule to <=1e-5;
  3. loss decreases / accuracy rises on a separable synthetic corpus.

dtype contract: all math runs in the dtype of the weight arrays
(float32 in production, float64 in the FD tests). Gradients are
accumulated in float64 regardless, so summing per-partition partials in
any order agrees with the serial loop to ~1e-12 — the distributed-vs-
serial tolerance is set by float32 forward math, not by reduction order.

Dropout: `dropout_p=0` (identity) is the deterministic parity surface.
p>0 uses a seeded Generator (deterministic under a fixed seed and batch
order, but a different stream than torch's — documented delta).
"""

from __future__ import annotations

import numpy as np

# canonical parameter order for flatten/unflatten (the SGD state
# vector) — the CNN/PCNN family. BERT weight dicts derive their key
# order from param_keys() below; "word_emb" stays first in BOTH
# families so split_word_grad's sparse-transport layout is shared.
PARAM_KEYS = (
    "word_emb", "pos1_emb", "pos2_emb", "conv_w", "conv_b",
    "fc_w", "fc_b", "att_diag",
)

_BERT_LAYER_PARAMS = (
    "q_w", "q_b", "k_w", "k_b", "v_w", "v_b", "o_w", "o_b",
    "att_ln_g", "att_ln_b", "i_w", "i_b", "f_w", "f_b",
    "ffn_ln_g", "ffn_ln_b",
)


def param_keys(weights: dict) -> tuple:
    """Deterministic trainable-parameter order for a weight dict:
    the fixed CNN/PCNN tuple when `conv_w` is present, else the BERT
    family's derived order (embeddings, per-layer blocks, pooler,
    optional entity head, classifier). Every optimizer/flatten/resume
    code path keys off this so the two encoder families share one
    training loop."""
    if "conv_w" in weights:
        return PARAM_KEYS
    keys = ["word_emb", "pos_emb", "type_emb", "emb_ln_g", "emb_ln_b"]
    for i in range(int(weights["layers"])):
        keys.extend(f"l{i}_{s}" for s in _BERT_LAYER_PARAMS)
    keys += ["pool_w", "pool_b"]
    if "ent_w" in weights:
        keys += ["ent_w", "ent_b"]
    keys += ["fc_w", "fc_b"]
    if "att_diag" in weights:  # BagAttention's diag (bag_attention.py:29)
        keys.append("att_diag")
    return tuple(keys)


def used_param_keys(weights: dict, model: str = "bag",
                    method: str = "att") -> frozenset:
    """The parameters a given model configuration actually trains.

    torch optimizers skip parameters whose .grad is None (optim.SGD,
    optim.Adam and transformers AdamW all `continue` on it), and a
    parameter structurally absent from the forward graph never gets a
    grad — so the reference never weight-decays it either. Mirroring
    that:
      - `att_diag` participates only in BagAttention (method='att',
        bag_attention.py:27-29,116); SoftmaxNN / SigmoidNN /
        BagAverage / BagOne have no diag parameter at all;
      - the BERT pooler feeds only the CLS path — the entity encoder
        consumes hidden states (bert_encoder.py:133-143), leaving
        pooler grads None.
    model: 'bag' | 'sentence' | 'multilabel'. Pass the result to
    make_optimizer / the step functions as `used_keys` so unused
    parameters stay bit-identical through training, exactly like the
    reference."""
    keys = set(param_keys(weights))
    if model in ("sentence", "multilabel") or method in ("avg", "one"):
        keys.discard("att_diag")
    if "ent_w" in weights:
        keys -= {"pool_w", "pool_b"}
    return frozenset(keys)


def zero_grads(weights: dict) -> dict:
    return {
        k: np.zeros_like(weights[k], dtype=np.float64)
        for k in param_keys(weights)
    }


def flatten_grads(grads: dict, weights: dict | None = None) -> np.ndarray:
    if weights is not None:
        keys = param_keys(weights)
    elif "conv_w" in grads:
        keys = PARAM_KEYS
    else:
        # BERT grads without a weights dict: rebuild the canonical
        # param_keys order from the grad keys themselves (layer count
        # from the l{i}_ blocks present) instead of trusting dict
        # insertion order — a caller-built grads dict in any other
        # order would otherwise silently flatten in the wrong layout
        # (ADVICE r4). Unknown keys fail fast below via KeyError.
        n_layers = 0
        while f"l{n_layers}_q_w" in grads:
            n_layers += 1
        keys = ["word_emb", "pos_emb", "type_emb", "emb_ln_g", "emb_ln_b"]
        for i in range(n_layers):
            keys.extend(f"l{i}_{s}" for s in _BERT_LAYER_PARAMS)
        keys += ["pool_w", "pool_b"]
        if "ent_w" in grads:
            keys += ["ent_w", "ent_b"]
        keys += ["fc_w", "fc_b"]
        if "att_diag" in grads:
            keys.append("att_diag")
        if set(keys) != set(grads):
            extra = sorted(set(grads) - set(keys))
            missing = sorted(set(keys) - set(grads))
            raise ValueError(
                "grads dict does not match the canonical layout "
                f"(unknown keys: {extra[:5]}, absent canonical keys: "
                f"{missing[:5]}) — pass the weights dict to fix the order"
            )
    return np.concatenate([grads[k].ravel() for k in keys])


def unflatten_grads(vec: np.ndarray, weights: dict) -> dict:
    out, off = {}, 0
    for k in param_keys(weights):
        n = weights[k].size
        out[k] = vec[off : off + n].reshape(weights[k].shape)
        off += n
    return out


def split_word_grad(flat: np.ndarray, weights: dict):
    """Split one flattened gradient vector into (word_idx, word_vals,
    rest) for sparse TRANSPORT of the word-embedding block: a batch only
    touches the vocabulary rows its tokens index, so shipping (touched
    row ids, their rows) instead of the dense (V, wsz) block bounds the
    per-partial wire cost by the batch's distinct tokens, not the
    vocabulary (at a real 400k-row vocab the dense block is ~160 MB of
    float64 per partial — the sparse rendition is a few hundred rows).
    Kernel-side accumulation stays DENSE, mirroring torch's default
    nn.Embedding dense grads — only the wire format changes, and
    word_idx rows are unique within a partial so the driver's
    scatter-add reconstructs the dense sum exactly."""
    n_we = weights["word_emb"].size
    wsz = weights["word_emb"].shape[1]
    word = flat[:n_we].reshape(-1, wsz)
    touched = np.nonzero(np.any(word != 0.0, axis=1))[0]
    return touched, word[touched].ravel(), flat[n_we:]


def sgd_step(weights: dict, grads: dict, lr: float, weight_decay: float,
             used_keys=None) -> dict:
    """optim.SGD with coupled L2 (torch: d_p = g + wd*p; p -= lr*d_p).
    Returns a NEW weight dict (old arrays untouched — executors may
    still hold broadcast references to them). used_keys: parameters the
    model actually trains (used_param_keys) — others are left
    bit-identical, mirroring torch's `if p.grad is None: continue`."""
    out = dict(weights)
    # the truncation-soundness flag describes the PRE-step arrays; the
    # step can move the PAD word row, so drop it rather than carry it
    # stale (kernels treat a missing flag as the safe full-length path;
    # weights._set_trunc_flag recomputes it on any save/load)
    out.pop("exact_trunc", None)
    for k in param_keys(weights):
        if used_keys is not None and k not in used_keys:
            continue  # torch: grad is None -> parameter untouched
        p = weights[k]
        g = grads[k] + weight_decay * p.astype(np.float64)
        out[k] = (p.astype(np.float64) - lr * g).astype(p.dtype)
    return out


def adam_init(weights: dict) -> dict:
    """Fresh Adam state: first/second moments + step counter."""
    keys = param_keys(weights)
    return {
        "t": 0,
        "m": {k: np.zeros_like(weights[k], dtype=np.float64) for k in keys},
        "v": {k: np.zeros_like(weights[k], dtype=np.float64) for k in keys},
    }


def adam_step(
    weights: dict, grads: dict, state: dict, lr: float, weight_decay: float,
    betas: tuple = (0.9, 0.999), eps: float = 1e-8, used_keys=None,
) -> dict:
    """optim.Adam with coupled L2, torch semantics (bag_re.py:70-71
    `optim.Adam(params, lr, weight_decay=weight_decay)`): g += wd*p;
    m = b1*m + (1-b1)*g; v = b2*v + (1-b2)*g^2; bias-corrected
    p -= lr * (m/(1-b1^t)) / (sqrt(v/(1-b2^t)) + eps). State (float64)
    is mutated in place; a NEW weight dict is returned."""
    b1, b2 = betas
    state["t"] += 1
    t = state["t"]
    out = dict(weights)
    out.pop("exact_trunc", None)  # stale after the step (see sgd_step)
    for k in param_keys(weights):
        if used_keys is not None and k not in used_keys:
            continue  # torch: grad is None -> no step, no moments
        p = weights[k].astype(np.float64)
        g = grads[k] + weight_decay * p
        m = state["m"][k]
        v = state["v"][k]
        m *= b1
        m += (1 - b1) * g
        v *= b2
        v += (1 - b2) * g * g
        mhat = m / (1 - b1**t)
        vhat = v / (1 - b2**t)
        out[k] = (p - lr * mhat / (np.sqrt(vhat) + eps)).astype(weights[k].dtype)
    return out


def adamw_step(
    weights: dict, grads: dict, state: dict, lr: float,
    betas: tuple = (0.9, 0.999), eps: float = 1e-6, used_keys=None,
) -> dict:
    """The reference's BERT-branch optimizer (bag_re.py:72-91 /
    sentence_re.py:62-81): `transformers.AdamW(grouped_params,
    correct_bias=False)` from transformers==3.4.0 (requirements.txt:2).
    Semantics, in order, per that implementation:

      m = b1*m + (1-b1)*g;  v = b2*v + (1-b2)*g^2   (raw g — weight
      p -= lr * m / (sqrt(v) + eps)                  decay is NOT
      p -= lr * wd * p     <- decays the POST-Adam p added to g)

    (the decay reads the ALREADY-UPDATED parameter — transformers
    applies `p.data.add_(-lr * wd, p.data)` after `addcdiv_` — so the
    closed form is p_new = (p - lr*m/(sqrt(v)+eps)) * (1 - lr*wd),
    not p - lr*u - lr*wd*p; the difference is the lr^2*wd*u cross
    term, which compounds over a training run.)

    correct_bias=False => NO bias correction (the BERT convention), and
    eps defaults to transformers' 1e-6 (not torch Adam's 1e-8). Weight
    decay is DECOUPLED (applied to p after the Adam update) and uses
    the reference's hard-coded parameter groups — no_decay =
    ['bias', 'LayerNorm.bias', 'LayerNorm.weight'] at wd=0.0,
    everything else at wd=0.01 (bag_re.py:74-88 ignores the ctor's
    weight_decay arg in this branch; so do we). In our weight dicts
    that group is exactly the `*_b` keys (every torch bias AND every
    LayerNorm.bias maps to a `_b`-suffixed key) plus the `*_ln_g`
    LayerNorm gains (= torch LayerNorm.weight, BERT dicts only).

    State (float64 moments + step counter) is mutated in place; a NEW
    weight dict is returned."""
    b1, b2 = betas
    state["t"] += 1
    out = dict(weights)
    out.pop("exact_trunc", None)  # stale after the step (see sgd_step)
    for k in param_keys(weights):
        if used_keys is not None and k not in used_keys:
            continue  # torch/transformers: grad is None -> skipped
        p = weights[k].astype(np.float64)
        g = grads[k]
        m = state["m"][k]
        v = state["v"][k]
        m *= b1
        m += (1 - b1) * g
        v *= b2
        v += (1 - b2) * g * g
        wd = 0.0 if (k.endswith("_b") or k.endswith("_ln_g")) else 0.01
        new_p = p - lr * m / (np.sqrt(v) + eps)
        new_p -= lr * wd * new_p  # decoupled decay of the UPDATED p
        out[k] = new_p.astype(weights[k].dtype)
    return out


def linear_warmup_multiplier(step: int, warmup_step: int,
                             total_steps: int) -> float:
    """transformers.get_linear_schedule_with_warmup's LambdaLR lambda
    (sentence_re.py:84-88): the multiplier applied to the base lr at
    optimizer step `step` (0-indexed count of COMPLETED steps — the
    first step runs at lambda(0), i.e. lr 0 when warmup_step > 0;
    scheduler.step() is called after optimizer.step(),
    sentence_re.py:124-126). Ramps 0 -> 1 over warmup_step steps, then
    decays linearly to 0 at total_steps."""
    if warmup_step > 0 and step < warmup_step:
        return float(step) / float(max(1, warmup_step))
    return max(
        0.0,
        float(total_steps - step) / float(max(1, total_steps - warmup_step)),
    )


# ---------------------------------------------------------------------------
# encoder forward (train mode) + backward
# ---------------------------------------------------------------------------

def _embed(token, pos1, pos2, weights):
    """(B, L, C) concatenated input features, in the weights' dtype."""
    return np.concatenate(
        [
            weights["word_emb"][token],
            weights["pos1_emb"][pos1],
            weights["pos2_emb"][pos2],
        ],
        axis=2,
    )


def _conv_full(x, w, b):
    """Full-length conv (out[:, t] = sum_k xp[:, t+k] @ w[:,:,k].T + b).
    Training keeps the whole (B, L, H) map for maxpool backward, so the
    eval path's pad-window truncation (kernels.cnn_forward) is not
    applied here — the reference trains over the full padded length
    (cnn_encoder.py:44) and so do we."""
    B, L, C = x.shape
    H, _, K = w.shape
    pad = (K - 1) // 2
    xp = np.zeros((B, L + 2 * pad, C), dtype=x.dtype)
    xp[:, pad : pad + L, :] = x
    out = np.broadcast_to(b, (B, L, H)).astype(x.dtype).copy()
    for k in range(K):
        out += xp[:, k : k + L, :] @ w[:, :, k].T
    return out, xp


def encoder_forward_train(token, pos1, pos2, weights, mask=None,
                          bert_dropout_p: float = 0.0, rng=None):
    """CNN / PCNN encoder train forward WITHOUT the trailing dropout
    (the caller owns dropout so the bag path can place it exactly where
    the reference does). mask=None -> CNNEncoder (rep width H); mask
    (B, L) in {0,1,2,3} -> PCNNEncoder piecewise pooling
    (pcnn_encoder.py:54-80, rep width 3H: each segment's max over
    relu(conv - 100*(1-gate))). Returns (rep, cache for backward).

    BERT weight dicts (no conv_w) dispatch to the transformer train
    forward (bert_grad_kernels.bert_rep_forward_train): there `mask`
    carries the ATTENTION mask and pos1/pos2 the entity-marker
    positions — the column layout encode_labeled emits for both
    families — which is what lets all three bag trainers fine-tune
    BERT through the same kernels (the reference's
    example/train_bag_bert.py branch). bert_dropout_p/rng drive the
    four HF-internal dropout sites on that path (the CNN family's
    dropout belongs to the caller and ignores both)."""
    if "conv_w" not in weights:
        from . import bert_grad_kernels as bgk

        rep, cache = bgk.bert_rep_forward_train(
            token, mask, np.asarray(pos1).reshape(-1),
            np.asarray(pos2).reshape(-1), weights,
            bert_dropout_p=bert_dropout_p, rng=rng,
        )
        cache["__bert__"] = True
        return rep, cache
    x = _embed(token, pos1, pos2, weights)
    conv, xp = _conv_full(x, weights["conv_w"], weights["conv_b"])
    cache = {"token": token, "pos1": pos1, "pos2": pos2, "xp": xp}
    if mask is None:
        relu = np.maximum(conv, 0)
        amax = relu.argmax(axis=1)  # (B, H) first-max index, torch rule
        rep = np.take_along_axis(relu, amax[:, None, :], axis=1)[:, 0, :]
        cache["amax"] = amax
        cache["pos_mask"] = rep > 0
        return rep, cache
    B, L, H = conv.shape
    minus = conv.dtype.type(-100.0)
    rep = np.empty((B, 3 * H), dtype=conv.dtype)
    amax = np.empty((B, 3, H), dtype=np.int64)
    pos_mask = np.empty((B, 3, H), dtype=bool)
    for seg in (1, 2, 3):
        gate = (mask == seg).astype(conv.dtype)  # (B, L)
        shifted = conv + minus * (1.0 - gate)[:, :, None]
        relu = np.maximum(shifted, 0)
        a = relu.argmax(axis=1)  # (B, H)
        r = np.take_along_axis(relu, a[:, None, :], axis=1)[:, 0, :]
        rep[:, (seg - 1) * H : seg * H] = r
        amax[:, seg - 1] = a
        pos_mask[:, seg - 1] = r > 0
    cache["seg_amax"] = amax
    cache["seg_pos_mask"] = pos_mask
    return rep, cache


def encoder_backward(d_rep, cache, weights, grads):
    """Backprop d_rep through (piecewise) maxpool -> relu -> conv ->
    embed, accumulating into grads (float64). MaxPool routes each
    channel's gradient to its (first) argmax position; ReLU gates on
    output > 0; the PCNN -100 segment shift is additive-constant, so
    d(shifted)/d(conv) = 1 and segments simply accumulate into d_conv.
    BERT caches (from the dispatch above) route to the transformer
    backward instead."""
    if cache.get("__bert__"):
        from . import bert_grad_kernels as bgk

        bgk.bert_rep_backward(d_rep, cache, weights, grads)
        return
    w = weights["conv_w"]
    H, C, K = w.shape
    xp = cache["xp"]
    B, Lp, _ = xp.shape
    pad = (K - 1) // 2
    L = Lp - 2 * pad
    d_conv = np.zeros((B, L, H), dtype=np.float64)
    if "seg_amax" in cache:  # PCNN: d_rep is (B, 3H)
        rows = np.arange(B)[:, None]
        cols = np.arange(H)[None, :]
        for seg in range(3):
            d_gate = np.where(
                cache["seg_pos_mask"][:, seg],
                d_rep[:, seg * H : (seg + 1) * H], 0.0,
            ).astype(np.float64)
            # add.at: two segments can argmax the same (pos, channel)
            np.add.at(
                d_conv, (rows, cache["seg_amax"][:, seg], cols), d_gate
            )
    else:
        d_gate = np.where(cache["pos_mask"], d_rep, 0.0).astype(np.float64)
        np.put_along_axis(
            d_conv, cache["amax"][:, None, :], d_gate[:, None, :], axis=1
        )

    grads["conv_b"] += d_conv.sum(axis=(0, 1))
    d_xp = np.zeros((B, Lp, C), dtype=np.float64)
    dc2 = d_conv.reshape(B * L, H)
    for k in range(K):
        xk = xp[:, k : k + L, :].reshape(B * L, C)
        grads["conv_w"][:, :, k] += dc2.T @ xk
        d_xp[:, k : k + L, :] += d_conv @ w[:, :, k].astype(np.float64)
    d_x = d_xp[:, pad : pad + L, :]

    wsz = weights["word_emb"].shape[1]
    psz = weights["pos1_emb"].shape[1]
    np.add.at(grads["word_emb"], cache["token"].ravel(),
              d_x[:, :, :wsz].reshape(-1, wsz))
    np.add.at(grads["pos1_emb"], cache["pos1"].ravel(),
              d_x[:, :, wsz : wsz + psz].reshape(-1, psz))
    np.add.at(grads["pos2_emb"], cache["pos2"].ravel(),
              d_x[:, :, wsz + psz :].reshape(-1, psz))
    # padding_idx=0 on BOTH position embeddings (base_encoder.py:68-69):
    # torch structurally zeroes that row's data gradient, keeping the
    # padding row at its zero init through training. The word embedding
    # has NO padding_idx (base_encoder.py:56) — its PAD row trains.
    grads["pos1_emb"][0] = 0.0
    grads["pos2_emb"][0] = 0.0


# ---------------------------------------------------------------------------
# loss
# ---------------------------------------------------------------------------

def _log_softmax(z):
    z = z - z.max(axis=-1, keepdims=True)
    return z - np.log(np.exp(z).sum(axis=-1, keepdims=True))


def ce_loss_and_dlogits(logits, labels, class_weights=None):
    """nn.CrossEntropyLoss forward + d_loss/d_logits, SUM form.

    Returns (loss_wsum, w_sum, d_logits) where the mean loss for a batch
    (or a union of partial batches) is loss_wsum / w_sum and d_logits is
    the gradient of the SUM (caller divides by the global w_sum — this
    is what makes per-partition partials exactly composable). Unweighted
    CE is the w=1 case (w_sum = batch size)."""
    B, N = logits.shape
    ls = _log_softmax(logits.astype(np.float64))
    if class_weights is None:
        w = np.ones(B, dtype=np.float64)
    else:
        w = class_weights.astype(np.float64)[labels]
    loss_wsum = float(-(w * ls[np.arange(B), labels]).sum())
    d = np.exp(ls)
    d[np.arange(B), labels] -= 1.0
    d *= w[:, None]
    return loss_wsum, float(w.sum()), d


# ---------------------------------------------------------------------------
# pieces every train kernel shares: encoder + its dropout, the fc head
# ---------------------------------------------------------------------------

def _dropout_mask(shape, p, rng, dtype):
    """Inverted dropout (torch semantics: zero w.p. p, scale kept by
    1/(1-p)). rng=None or p=0 -> None (identity)."""
    if p <= 0 or rng is None:
        return None
    return (rng.random(shape) >= p).astype(dtype) / dtype.type(1 - p)


def _encode_train(token, pos1, pos2, weights, mask, dropout_p,
                  bert_dropout_p, rng):
    """encoder_forward_train + the per-sentence dropout that models the
    CNN/PCNN encoder's trailing self.drop (cnn_encoder.py:65); BERT
    encoders have no trailing dropout (bert_encoder.py:23-33), so only
    the caller's later sites apply there. The encoder mask is drawn
    before any bag/classifier mask — the rng order every kernel keeps.
    Returns (rep, rep_d, enc_mask-or-None, cache)."""
    rep, cache = encoder_forward_train(
        token, pos1, pos2, weights, mask=mask,
        bert_dropout_p=bert_dropout_p, rng=rng,
    )
    enc_mask = (
        _dropout_mask(rep.shape, dropout_p, rng, rep.dtype)
        if "conv_w" in weights else None
    )
    rep_d = rep * enc_mask if enc_mask is not None else rep
    return rep, rep_d, enc_mask, cache


def _fc_backward(d_logits, x, weights):
    """Backprop SUM-form d_logits through logits = x @ fc_w.T + fc_b:
    returns (fresh float64 grads holding the fc block, d_x)."""
    fc_w = weights["fc_w"]
    grads = zero_grads(weights)
    grads["fc_b"] += d_logits.sum(axis=0)
    grads["fc_w"] += d_logits.T @ x.astype(np.float64)
    return grads, d_logits @ fc_w.astype(np.float64)


def _softmax_ce_head(x, labels, weights, class_weights):
    """fc -> softmax CE over (B, width) reps x: returns
    ((loss_wsum, w_sum, n_correct, n_pos, n_pos_correct), grads, d_x)
    with the meters the reference's progress bar reads (label 0 = NA,
    so pos_acc counts the non-NA rows)."""
    logits = x @ weights["fc_w"].T + weights["fc_b"]
    loss_wsum, w_sum, d_logits = ce_loss_and_dlogits(
        logits, labels, class_weights
    )
    pred = logits.argmax(axis=-1)
    n_correct = int((pred == labels).sum())
    pos = labels != 0
    n_pos = int(pos.sum())
    n_pos_correct = int(((pred == labels) & pos).sum())
    grads, d_x = _fc_backward(d_logits, x, weights)
    return (loss_wsum, w_sum, n_correct, n_pos, n_pos_correct), grads, d_x


# ---------------------------------------------------------------------------
# bag models: train forward + backward over one batch of bags
# ---------------------------------------------------------------------------

def bag_att_train_batch(
    token, pos1, pos2, scopes, labels, weights,
    class_weights=None, dropout_p: float = 0.0, rng=None, mask=None,
    bert_dropout_p: float = 0.0,
):
    """One training batch of bags through BagAttention (train branch,
    bag_size=0 semantics, use_diag=True): returns
    (loss_wsum, w_sum, n_correct, n_pos, n_pos_correct, grads).

    token/pos1/pos2: (nsum, L) int arrays — every member sentence of
    every bag in the batch, concatenated. scopes: (B, 2) [begin, end)
    slices. labels: (B,) gold relation ids (the attention QUERY,
    bag_attention.py:108-114 — train bags are keyed by the gold fact,
    entpair_as_bag=False, data_loader.py:166-168).

    Gradients are the SUM over bags (see ce_loss_and_dlogits); the
    caller normalizes by the global weight sum so partials computed on
    different executors compose exactly.
    """
    dt = weights["fc_w"].dtype
    fc_w, diag = weights["fc_w"], weights["att_diag"]
    B = len(labels)

    rep, rep_d, enc_mask, cache = _encode_train(
        token, pos1, pos2, weights, mask, dropout_p, bert_dropout_p, rng
    )

    # attention per bag (train branch): query = gold label
    att_mats = fc_w[labels] * diag[None, :]  # (B, H)
    bag_rep = np.empty((B, fc_w.shape[1]), dtype=dt)
    att_cache = []
    for i in range(B):
        lo, hi = scopes[i]
        m = rep_d[lo:hi]  # (n, H)
        s = m @ att_mats[i]  # (n,)
        s = s - s.max()
        e = np.exp(s)
        a = e / e.sum()
        bag_rep[i] = a @ m
        att_cache.append(a)

    bag_mask = _dropout_mask(bag_rep.shape, dropout_p, rng, bag_rep.dtype)
    bag_rep_d = bag_rep * bag_mask if bag_mask is not None else bag_rep
    # fc consumes bag_rep_d both as input and (rows indexed by label)
    # as the attention query matrix
    stats, grads, d_bag_rep_d = _softmax_ce_head(
        bag_rep_d, labels, weights, class_weights
    )
    d_bag_rep = (
        d_bag_rep_d * bag_mask if bag_mask is not None else d_bag_rep_d
    )

    d_rep_d = np.zeros(rep.shape, dtype=np.float64)
    fc_w64 = fc_w.astype(np.float64)
    diag64 = diag.astype(np.float64)
    for i in range(B):
        lo, hi = scopes[i]
        m = rep_d[lo:hi].astype(np.float64)
        a = att_cache[i].astype(np.float64)
        db = d_bag_rep[i]
        d_a = m @ db
        d_rep_d[lo:hi] += a[:, None] * db[None, :]
        d_s = a * (d_a - a @ d_a)  # softmax backward
        am = att_mats[i].astype(np.float64)
        d_rep_d[lo:hi] += d_s[:, None] * am[None, :]
        d_att_mat = d_s @ m  # (H,)
        y = labels[i]
        grads["fc_w"][y] += d_att_mat * diag64
        grads["att_diag"] += d_att_mat * fc_w64[y]

    if enc_mask is not None:
        d_rep_d *= enc_mask
    encoder_backward(d_rep_d, cache, weights, grads)
    return (*stats, grads)


def bag_avg_train_batch(
    token, pos1, pos2, scopes, labels, weights,
    class_weights=None, dropout_p: float = 0.0, rng=None, mask=None,
    bert_dropout_p: float = 0.0,
):
    """BagAverage train branch (bag_average.py:117-131): bag rep = mean
    of member reps -> dropout -> fc -> CE. Same SUM-form contract and
    argument shapes as bag_att_train_batch."""
    B = len(labels)
    rep, rep_d, enc_mask, cache = _encode_train(
        token, pos1, pos2, weights, mask, dropout_p, bert_dropout_p, rng
    )

    bag_rep = np.empty((B, rep.shape[1]), dtype=rep.dtype)
    for i in range(B):
        lo, hi = scopes[i]
        bag_rep[i] = rep_d[lo:hi].mean(axis=0)
    bag_mask = _dropout_mask(bag_rep.shape, dropout_p, rng, bag_rep.dtype)
    bag_rep_d = bag_rep * bag_mask if bag_mask is not None else bag_rep
    stats, grads, d_bag_rep_d = _softmax_ce_head(
        bag_rep_d, labels, weights, class_weights
    )
    d_bag_rep = (
        d_bag_rep_d * bag_mask if bag_mask is not None else d_bag_rep_d
    )
    d_rep_d = np.zeros(rep.shape, dtype=np.float64)
    for i in range(B):
        lo, hi = scopes[i]
        d_rep_d[lo:hi] += d_bag_rep[i] / (hi - lo)
    if enc_mask is not None:
        d_rep_d *= enc_mask
    encoder_backward(d_rep_d, cache, weights, grads)
    return (*stats, grads)


def bag_one_train_batch(
    token, pos1, pos2, scopes, labels, weights,
    class_weights=None, dropout_p: float = 0.0, rng=None, mask=None,
    bert_dropout_p: float = 0.0,
):
    """BagOne ("at-least-one") train branch (bag_one.py:111-138): per
    bag, pick the member whose softmaxed instance logits score highest
    ON THE GOLD LABEL (argmax is a hard selection — no gradient flows
    through the selection itself, matching torch indexing semantics);
    the bag rep is that member's rep -> dropout -> fc -> CE."""
    fc_w, fc_b = weights["fc_w"], weights["fc_b"]
    B = len(labels)
    rep, rep_d, enc_mask, cache = _encode_train(
        token, pos1, pos2, weights, mask, dropout_p, bert_dropout_p, rng
    )

    inst_logits = rep_d @ fc_w.T + fc_b  # (nsum, N), selection only
    inst_prob = np.exp(_log_softmax(inst_logits))
    sel = np.empty(B, dtype=np.int64)
    for i in range(B):
        lo, hi = scopes[i]
        sel[i] = lo + int(inst_prob[lo:hi, labels[i]].argmax())
    bag_rep = rep_d[sel]
    bag_mask = _dropout_mask(bag_rep.shape, dropout_p, rng, bag_rep.dtype)
    bag_rep_d = bag_rep * bag_mask if bag_mask is not None else bag_rep
    stats, grads, d_bag_rep_d = _softmax_ce_head(
        bag_rep_d, labels, weights, class_weights
    )
    d_bag_rep = (
        d_bag_rep_d * bag_mask if bag_mask is not None else d_bag_rep_d
    )
    d_rep_d = np.zeros(rep.shape, dtype=np.float64)
    np.add.at(d_rep_d, sel, d_bag_rep)  # only selected members backprop
    if enc_mask is not None:
        d_rep_d *= enc_mask
    encoder_backward(d_rep_d, cache, weights, grads)
    return (*stats, grads)


BAG_TRAIN_KERNELS = {
    "att": bag_att_train_batch,
    "avg": bag_avg_train_batch,
    "one": bag_one_train_batch,
}


# ---------------------------------------------------------------------------
# sentence softmax model: train forward + backward
# ---------------------------------------------------------------------------

def sentence_train_batch(
    token, pos1, pos2, labels, weights,
    class_weights=None, dropout_p: float = 0.0, rng=None, mask=None,
    bert_dropout_p: float = 0.0,
):
    """One batch through CNNEncoder -> dropout -> dropout -> fc -> CE
    (SentenceRE.train_model step, sentence_re.py:104-127). The reference
    sentence path applies dropout TWICE with independent masks: once at
    the end of the encoder (cnn_encoder.py:65 self.drop(x)) and once in
    the classifier (softmax_nn.py:48 self.drop(rep)) — effective keep
    probability (1-p)^2, mirrored here. BERT weights (BERTEncoder /
    BERTEntityEncoder -> SoftmaxNN, sentence_re.py:104-127) have no
    encoder dropout, so the classifier's is the only `dropout_p` site;
    `mask` is then the attention mask and pos1/pos2 the entity-marker
    positions. Same partial-composable SUM contract as
    bag_att_train_batch; returns
    (loss_wsum, w_sum, n_correct, n_pos, n_pos_correct, grads)."""
    rep, rep_d, enc_mask, cache = _encode_train(
        token, pos1, pos2, weights, mask, dropout_p, bert_dropout_p, rng
    )
    cls_mask = _dropout_mask(rep.shape, dropout_p, rng, rep.dtype)
    rep_dd = rep_d * cls_mask if cls_mask is not None else rep_d
    stats, grads, d_rep = _softmax_ce_head(
        rep_dd, labels, weights, class_weights
    )
    if cls_mask is not None:
        d_rep *= cls_mask
    if enc_mask is not None:
        d_rep *= enc_mask
    encoder_backward(d_rep, cache, weights, grads)
    return (*stats, grads)


# ---------------------------------------------------------------------------
# multi-label sentence model (SigmoidNN + BCEWithLogits): train step
# ---------------------------------------------------------------------------

def bce_loss_and_dlogits(logits, targets):
    """nn.BCEWithLogitsLoss over flattened elements, SUM form (the
    reference flattens (B, N-1) to one vector and takes the mean,
    multi_label_sentence_re.py:122). Numerically stable composition:
    loss = max(z,0) - z*y + log1p(exp(-|z|)); dL/dz = sigmoid(z) - y.
    Returns (loss_sum, n_elements, d_logits_SUM)."""
    z = logits.astype(np.float64)
    y = targets.astype(np.float64)
    loss = np.maximum(z, 0.0) - z * y + np.log1p(np.exp(-np.abs(z)))
    d = 1.0 / (1.0 + np.exp(-z)) - y
    return float(loss.sum()), float(z.size), d


def multilabel_sentence_train_batch(
    token, pos1, pos2, labels, weights,
    dropout_p: float = 0.0, rng=None, mask=None,
    bert_dropout_p: float = 0.0,
):
    """MultiLabelSentenceRE.train_model step
    (multi_label_sentence_re.py:96-136): SigmoidNN forward
    (encoder -> dropout -> fc, sigmoid_nn.py:28-37), then the
    single-label int target becomes a one-hot vector, BOTH the target
    and the logits drop the NA column 0 (`[:, 1:]`,
    multi_label_sentence_re.py:117-121), and BCEWithLogitsLoss runs
    over the flattened (B, N-1) elements. The meter numerators follow
    the reference's train-time definitions: n = B*(N-1) ELEMENTS,
    n_correct = elementwise (sigmoid >= 0.5) matches
    (multi_label_sentence_re.py:123-124); n_pos/n_pos_correct restrict
    to the y==1 elements (recall-style extra, not in the reference's
    bar). Encoder family dispatch as everywhere: CNN/PCNN weights use
    `mask` as the segment mask with the encoder's trailing dropout,
    BERT weights use it as the attention mask (no trailing dropout).
    Same SUM-form partial-composable contract; w_sum counts ELEMENTS."""
    fc_w, fc_b = weights["fc_w"], weights["fc_b"]
    rep, rep_d, enc_mask, cache = _encode_train(
        token, pos1, pos2, weights, mask, dropout_p, bert_dropout_p, rng
    )
    cls_mask = _dropout_mask(rep.shape, dropout_p, rng, rep.dtype)
    rep_dd = rep_d * cls_mask if cls_mask is not None else rep_d
    logits = rep_dd @ fc_w.T + fc_b
    B, N = logits.shape
    onehot = np.zeros((B, N), dtype=np.float64)
    onehot[np.arange(B), labels] = 1.0
    loss_wsum, w_sum, d_z = bce_loss_and_dlogits(
        logits[:, 1:], onehot[:, 1:]
    )
    sig = 1.0 / (1.0 + np.exp(-logits[:, 1:].astype(np.float64)))
    pred = (sig >= 0.5).astype(np.int64)
    y1 = onehot[:, 1:].astype(np.int64)
    n_correct = float((pred == y1).sum())
    n_pos = float(y1.sum())
    n_pos_correct = float(((pred == 1) & (y1 == 1)).sum())

    d_logits = np.zeros((B, N), dtype=np.float64)
    d_logits[:, 1:] = d_z
    grads, d_rep = _fc_backward(d_logits, rep_dd, weights)
    if cls_mask is not None:
        d_rep *= cls_mask
    if enc_mask is not None:
        d_rep *= enc_mask
    encoder_backward(d_rep, cache, weights, grads)
    return loss_wsum, w_sum, n_correct, n_pos, n_pos_correct, grads
