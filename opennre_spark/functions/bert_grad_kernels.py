"""BERT train-mode forward + backward (the reference's fine-tuning
branch: BERTEncoder / BERTEntityEncoder under SoftmaxNN, trained with
the 'adamw' optimizer + linear warmup — bert_encoder.py:9-143,
softmax_nn.py:41-51, sentence_re.py:62-88; example/train_supervised_bert.py).

The eval kernel (bert_kernels.bert_forward) is float32 and discards
activations; training needs both the activations and dtype freedom
(the finite-difference grad checks run everything in float64), so this
module re-derives the same architecture as an explicit
forward-with-cache + hand-written backward. No autograd exists in this
sandbox — every backward formula below is validated against central
finite differences over EVERY parameter entry (tests/test_bert_training.py).

Architecture (HF BertModel as the reference consumes it):
  emb  = LN(word_emb[ids] + pos_emb[:L] + type_emb[0]);  drop
  per layer:
    q,k,v = x@Wq+bq, x@Wk+bk, x@Wv+bv          (heads split, dh = H/heads)
    att   = softmax(q@k^T/sqrt(dh) + additive_mask);  drop(att)
    ctx   = att@v;  attn_out = ctx@Wo+bo;      drop
    x     = LN(x + attn_out)
    ffn   = gelu(x@Wi+bi)@Wf+bf;               drop
    x     = LN(x + ffn)
  pooled = tanh(x[:,0]@Wp+bp)                  (CLS path, bert_encoder.py:31-33)
  entity: rep = [x[b,pos1]; x[b,pos2]]@We^T+be (bert_encoder.py:133-143)

Dropout sites mirror HF BertModel's four (embeddings, attention probs,
attention output, FFN output) at `bert_dropout_p` (HF default 0.1,
0 = the deterministic parity surface, like the CNN path). GELU uses
the tanh approximation (same delta as the eval kernel's docstring;
both sides of every parity test share it).

This module is the encoder only. The sentence, multi-label and bag
heads (with the classifier's nn.Dropout() at `dropout_p`) are the
grad_kernels train kernels, which dispatch BERT weight dicts here
through encoder_forward_train / encoder_backward — one kernel per
model for every encoder family, under the same SUM-form contract.
"""

from __future__ import annotations

import numpy as np

from . import grad_kernels as gk

_GELU_C = 0.7978845608028654  # sqrt(2/pi)
_GELU_A = 0.044715


def _gelu(x):
    return 0.5 * x * (1.0 + np.tanh(_GELU_C * (x + _GELU_A * x**3)))


def _gelu_grad(x):
    u = _GELU_C * (x + _GELU_A * x**3)
    t = np.tanh(u)
    return 0.5 * (1.0 + t) + 0.5 * x * (1.0 - t * t) * _GELU_C * (
        1.0 + 3.0 * _GELU_A * x * x
    )


def _ln_forward(x, g, b, eps=1e-12):
    """LayerNorm over the last axis; returns (out, xhat, inv_std)."""
    mu = x.mean(axis=-1, keepdims=True)
    var = x.var(axis=-1, keepdims=True)
    inv = 1.0 / np.sqrt(var + eps)
    xhat = (x - mu) * inv
    return xhat * g + b, xhat, inv


def _ln_backward(d_out, xhat, inv, g, grads, g_key, b_key):
    """d(LN)/d(input); accumulates gain/bias grads into `grads`."""
    grads[g_key] += (d_out * xhat).reshape(-1, d_out.shape[-1]).sum(axis=0)
    grads[b_key] += d_out.reshape(-1, d_out.shape[-1]).sum(axis=0)
    dxhat = d_out * g
    m1 = dxhat.mean(axis=-1, keepdims=True)
    m2 = (dxhat * xhat).mean(axis=-1, keepdims=True)
    return (dxhat - m1 - xhat * m2) * inv


def _softmax(z):
    z = z - z.max(axis=-1, keepdims=True)
    e = np.exp(z)
    return e / e.sum(axis=-1, keepdims=True)


def bert_forward_train(
    token, att_mask, W, bert_dropout_p: float = 0.0, rng=None
):
    """(B, L) ids + mask -> (hidden (B, L, H), pooled (B, H), cache).

    Computes in the weights' dtype (float64 under the FD harness,
    float32 in production) and caches every activation the backward
    needs. Matches bert_kernels.bert_forward bit-for-bit at
    bert_dropout_p=0 in float32 up to BLAS blocking (parity-tested)."""
    dt = W["word_emb"].dtype
    B, L = token.shape
    H = int(W["hidden"])
    heads = int(W["heads"])
    dh = H // heads
    scale = dt.type(1.0 / np.sqrt(dh))

    def drop(x):
        m = gk._dropout_mask(x.shape, bert_dropout_p, rng, x.dtype)
        return (x * m if m is not None else x), m

    x0 = W["word_emb"][token] + W["pos_emb"][:L][None, :, :] + W["type_emb"][0]
    x0 = np.asarray(x0, dtype=dt)
    e, e_xhat, e_inv = _ln_forward(x0, W["emb_ln_g"], W["emb_ln_b"])
    x, emb_mask = drop(np.asarray(e, dtype=dt))
    add_mask = ((1.0 - att_mask.astype(dt)) * dt.type(-10000.0))[
        :, None, None, :
    ]
    cache = {
        "token": token, "L": L, "B": B, "heads": heads, "dh": dh,
        "scale": scale, "e_xhat": e_xhat, "e_inv": e_inv,
        "emb_mask": emb_mask, "layers": [],
    }
    n_layers = int(W["layers"])
    for i in range(n_layers):
        x_in = x
        x2 = x.reshape(B * L, H)
        q = (x2 @ W[f"l{i}_q_w"] + W[f"l{i}_q_b"]).reshape(
            B, L, heads, dh).transpose(0, 2, 1, 3)
        k = (x2 @ W[f"l{i}_k_w"] + W[f"l{i}_k_b"]).reshape(
            B, L, heads, dh).transpose(0, 2, 1, 3)
        v = (x2 @ W[f"l{i}_v_w"] + W[f"l{i}_v_b"]).reshape(
            B, L, heads, dh).transpose(0, 2, 1, 3)
        scores = q @ k.transpose(0, 1, 3, 2) * scale + add_mask
        att = _softmax(np.asarray(scores, dtype=dt))
        att_d, att_drop = drop(att)
        ctx = (att_d @ v).transpose(0, 2, 1, 3).reshape(B * L, H)
        attn_out = ctx @ W[f"l{i}_o_w"] + W[f"l{i}_o_b"]
        attn_out_d, attn_drop = drop(attn_out)
        s1 = x2 + attn_out_d
        y, y_xhat, y_inv = _ln_forward(
            np.asarray(s1, dtype=dt).reshape(B, L, H),
            W[f"l{i}_att_ln_g"], W[f"l{i}_att_ln_b"],
        )
        y = np.asarray(y, dtype=dt)
        y2 = y.reshape(B * L, H)
        ffn_pre = y2 @ W[f"l{i}_i_w"] + W[f"l{i}_i_b"]
        gact = np.asarray(_gelu(ffn_pre), dtype=dt)
        ffn = gact @ W[f"l{i}_f_w"] + W[f"l{i}_f_b"]
        ffn_d, ffn_drop = drop(ffn)
        s2 = y2 + ffn_d
        z, z_xhat, z_inv = _ln_forward(
            np.asarray(s2, dtype=dt).reshape(B, L, H),
            W[f"l{i}_ffn_ln_g"], W[f"l{i}_ffn_ln_b"],
        )
        x = np.asarray(z, dtype=dt)
        cache["layers"].append({
            "x_in": x_in, "q": q, "k": k, "v": v, "att": att,
            "att_drop": att_drop, "ctx": ctx, "attn_drop": attn_drop,
            "y_xhat": y_xhat, "y_inv": y_inv, "y": y,
            "ffn_pre": ffn_pre, "gact": gact, "ffn_drop": ffn_drop,
            "z_xhat": z_xhat, "z_inv": z_inv,
        })
    pool_pre = x[:, 0, :] @ W["pool_w"] + W["pool_b"]
    pooled = np.tanh(np.asarray(pool_pre, dtype=dt))
    cache["pooled"] = pooled
    return x, pooled, cache


def bert_backward(d_hidden, d_pooled, hidden, cache, W, grads):
    """Backprop (d_hidden, d_pooled) through the whole stack into
    `grads` (float64). d_hidden: (B, L, H) gradient w.r.t. the final
    hidden states (entity path; None for CLS-only). d_pooled: (B, H)
    gradient w.r.t. the pooler output (CLS path; None if unused).
    `hidden` is the forward's final hidden states (needed for the
    pooler input)."""
    B = cache["B"]
    L = cache["L"]
    heads, dh, scale = cache["heads"], cache["dh"], cache["scale"]
    H = heads * dh
    dx = (
        np.zeros((B, L, H), dtype=np.float64)
        if d_hidden is None
        else np.asarray(d_hidden, dtype=np.float64).copy()
    )
    if d_pooled is not None:
        pooled = cache["pooled"].astype(np.float64)
        d_pre = np.asarray(d_pooled, dtype=np.float64) * (1.0 - pooled**2)
        grads["pool_b"] += d_pre.sum(axis=0)
        grads["pool_w"] += hidden[:, 0, :].astype(np.float64).T @ d_pre
        dx[:, 0, :] += d_pre @ W["pool_w"].astype(np.float64).T
    for i in reversed(range(len(cache["layers"]))):
        c = cache["layers"][i]
        # --- second LN (over s2 = y2 + drop(ffn)) ---
        d_s2 = _ln_backward(
            dx, c["z_xhat"], c["z_inv"], W[f"l{i}_ffn_ln_g"].astype(np.float64),
            grads, f"l{i}_ffn_ln_g", f"l{i}_ffn_ln_b",
        ).reshape(B * L, H)
        d_y2 = d_s2.copy()
        d_ffn = d_s2 if c["ffn_drop"] is None else d_s2 * c["ffn_drop"].reshape(B * L, H)
        gact64 = c["gact"].astype(np.float64)
        grads[f"l{i}_f_b"] += d_ffn.sum(axis=0)
        grads[f"l{i}_f_w"] += gact64.T @ d_ffn
        d_gact = d_ffn @ W[f"l{i}_f_w"].astype(np.float64).T
        d_ffn_pre = d_gact * _gelu_grad(c["ffn_pre"].astype(np.float64))
        y2_64 = c["y"].reshape(B * L, H).astype(np.float64)
        grads[f"l{i}_i_b"] += d_ffn_pre.sum(axis=0)
        grads[f"l{i}_i_w"] += y2_64.T @ d_ffn_pre
        d_y2 += d_ffn_pre @ W[f"l{i}_i_w"].astype(np.float64).T
        # --- first LN (over s1 = x2 + drop(attn_out)) ---
        d_s1 = _ln_backward(
            d_y2.reshape(B, L, H), c["y_xhat"], c["y_inv"],
            W[f"l{i}_att_ln_g"].astype(np.float64),
            grads, f"l{i}_att_ln_g", f"l{i}_att_ln_b",
        ).reshape(B * L, H)
        d_x2 = d_s1.copy()
        d_attn_out = (
            d_s1 if c["attn_drop"] is None
            else d_s1 * c["attn_drop"].reshape(B * L, H)
        )
        ctx64 = c["ctx"].astype(np.float64)
        grads[f"l{i}_o_b"] += d_attn_out.sum(axis=0)
        grads[f"l{i}_o_w"] += ctx64.T @ d_attn_out
        d_ctx = (
            (d_attn_out @ W[f"l{i}_o_w"].astype(np.float64).T)
            .reshape(B, L, heads, dh).transpose(0, 2, 1, 3)
        )
        att_d64 = (
            c["att"] if c["att_drop"] is None else c["att"] * c["att_drop"]
        ).astype(np.float64)
        v64 = c["v"].astype(np.float64)
        d_att_d = d_ctx @ v64.transpose(0, 1, 3, 2)
        d_v = att_d64.transpose(0, 1, 3, 2) @ d_ctx
        d_att = (
            d_att_d if c["att_drop"] is None else d_att_d * c["att_drop"]
        )
        att64 = c["att"].astype(np.float64)
        d_scores = att64 * (
            d_att - (d_att * att64).sum(axis=-1, keepdims=True)
        )
        q64 = c["q"].astype(np.float64)
        k64 = c["k"].astype(np.float64)
        d_q = d_scores @ k64 * float(scale)
        d_k = d_scores.transpose(0, 1, 3, 2) @ q64 * float(scale)
        x_in64 = c["x_in"].reshape(B * L, H).astype(np.float64)
        for name, d_h in (("q", d_q), ("k", d_k), ("v", d_v)):
            d_flat = d_h.transpose(0, 2, 1, 3).reshape(B * L, H)
            grads[f"l{i}_{name}_b"] += d_flat.sum(axis=0)
            grads[f"l{i}_{name}_w"] += x_in64.T @ d_flat
            d_x2 += d_flat @ W[f"l{i}_{name}_w"].astype(np.float64).T
        dx = d_x2.reshape(B, L, H)
    # --- embeddings ---
    if cache["emb_mask"] is not None:
        dx = dx * cache["emb_mask"]
    d_x0 = _ln_backward(
        dx, cache["e_xhat"], cache["e_inv"],
        W["emb_ln_g"].astype(np.float64), grads, "emb_ln_g", "emb_ln_b",
    )
    flat = d_x0.reshape(-1, H)
    np.add.at(grads["word_emb"], cache["token"].ravel(), flat)
    grads["pos_emb"][:L] += d_x0.sum(axis=0)
    grads["type_emb"][0] += flat.sum(axis=0)


def bert_rep_forward_train(
    token, att_mask, pos1, pos2, W, bert_dropout_p: float = 0.0, rng=None
):
    """Encoder rep + cache: CLS-pooled (bert_encoder.py:31-33) when no
    entity head is present, else the entity-start concat + linear
    (bert_encoder.py:133-143). pos1/pos2: (B,) marker positions (only
    the entity path reads them)."""
    hidden, pooled, cache = bert_forward_train(
        token, att_mask, W, bert_dropout_p=bert_dropout_p, rng=rng
    )
    cache["hidden"] = hidden
    if "ent_w" not in W:
        return pooled, cache
    B = hidden.shape[0]
    rows = np.arange(B)
    p1 = np.asarray(pos1).reshape(-1)
    p2 = np.asarray(pos2).reshape(-1)
    head = hidden[rows, p1]
    tail = hidden[rows, p2]
    xcat = np.concatenate([head, tail], axis=1)
    rep = xcat @ W["ent_w"].T + W["ent_b"]
    cache["ent"] = (p1, p2, xcat)
    return np.asarray(rep, dtype=W["word_emb"].dtype), cache


def bert_rep_backward(d_rep, cache, W, grads):
    """Backprop d_rep (B, rep_width) through the encoder head and the
    transformer stack into grads."""
    hidden = cache["hidden"]
    if "ent" not in cache:
        bert_backward(None, d_rep, hidden, cache, W, grads)
        return
    p1, p2, xcat = cache["ent"]
    d_rep64 = np.asarray(d_rep, dtype=np.float64)
    grads["ent_b"] += d_rep64.sum(axis=0)
    grads["ent_w"] += d_rep64.T @ xcat.astype(np.float64)
    d_xcat = d_rep64 @ W["ent_w"].astype(np.float64)
    B, L, H = hidden.shape
    d_hidden = np.zeros((B, L, H), dtype=np.float64)
    rows = np.arange(B)
    np.add.at(d_hidden, (rows, p1), d_xcat[:, :H])
    np.add.at(d_hidden, (rows, p2), d_xcat[:, H:])
    bert_backward(d_hidden, None, hidden, cache, W, grads)

