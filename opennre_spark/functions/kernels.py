"""Dense inference kernels in float32 numpy — the vectorized re-expression
of the reference's PyTorch modules (eval mode: dropout is identity).

Reference math:
  - embedding concat [word; pos1; pos2]   /root/reference/opennre/encoder/
    base_encoder.py:56-69 + cnn_encoder.py:58-60
  - Conv1d(kernel 3, pad 1) + ReLU + MaxPool over full length (PAD
    positions included in the pool)          cnn_encoder.py:43-44,58-64
  - PCNN piecewise pool: conv + (-100)*(1-segment_onehot) -> ReLU -> max,
    3 segments concatenated; the fixed 4x3 mask-embedding table is the
    identity rows [[0,0,0],[1,0,0],[0,1,0],[0,0,1]]
                                             pcnn_encoder.py:45-52,66-78
  - linear classifier logits = rep @ W.T + b   softmax_nn.py:20,50
  - softmax over last axis                     softmax_nn.py:53-54

All intermediates are float32; reductions keep the same operand order as
the reference (max over L, sum over channels via matmul) so scores agree
to ~1e-6 (the reference's own golden tolerance, tests/test_inference.py:11).
"""

from __future__ import annotations

import numpy as np


def sigmoid(x: np.ndarray) -> np.ndarray:
    """SigmoidNN.logit_to_score (sigmoid_nn.py:39-40)."""
    return (1.0 / (1.0 + np.exp(-x))).astype(np.float32, copy=False)


def softmax(x: np.ndarray, axis: int = -1) -> np.ndarray:
    x = x - np.max(x, axis=axis, keepdims=True)
    e = np.exp(x)
    return e / np.sum(e, axis=axis, keepdims=True)


def embed_concat(
    token: np.ndarray,  # (B, L) int
    pos1: np.ndarray,
    pos2: np.ndarray,
    word_emb: np.ndarray,  # (V, word_size) float32
    pos1_emb: np.ndarray,  # (2L, pos_size) float32, row 0 zeros
    pos2_emb: np.ndarray,
) -> np.ndarray:
    """(B, L, word+2*pos) float32 input features (base_encoder.py:56-69)."""
    return np.concatenate(
        [word_emb[token], pos1_emb[pos1], pos2_emb[pos2]], axis=2
    )


# ---------------------------------------------------------------------------
# Cache-blocked conv path (round-2 rework of the 8->32 scaling miss).
#
# The shifted-GEMM conv (conv1d_same below) moves ~30 MB of DRAM traffic
# per 256-row micro-batch (padded input copy + K write/read passes over a
# (B*Lp, H) accumulator + the (B, L, H) output read back for pooling).
# With 32 worker processes sharing one memory bus that traffic capped
# scaling at ~0.65 efficiency (measured, tools/kernel_scaling.py).
#
# The blocked path instead processes SLAB-row slabs whose im2col matrix
# (slab, Lc, K*C+1) and conv output (slab, Lc, H) both fit in a core's
# private L2 (~1 MB at slab=32, Lc<=16): ONE fused GEMM per slab (bias
# folded in as a constant 1-column against a stacked (K*C+1, H) weight
# matrix) writes the conv map into cache, and the relu/pool (or PCNN
# segment gating) consumes it before it ever reaches DRAM. Scratch
# buffers are reused across calls (np.zeros/empty per call costs page
# faults + kernel zeroing — real traffic at 32 workers). Measured
# (tools/kernel_scaling.py, max-of-3, 40k rows/proc): 8 procs 96.7k ->
# 104.7k rows/s, 32 procs 253k -> 365k rows/s; kernel 8->32 efficiency
# 0.655 -> 0.872. Numerics: the fused GEMM sums the K*C reduction in one
# pass, so scores move <4e-7 vs the 3-GEMM order — inside the reference's
# own 1e-6 golden tolerance (tests/test_inference.py:11), and argmax
# decisions are unchanged (north-rule tests stay exact).
# ---------------------------------------------------------------------------

_SCRATCH: dict = {}
_CONV_SLAB = 32


def _scratch(name: str, shape: tuple) -> np.ndarray:
    """Reusable per-process float32 buffer: keyed by trailing dims (Lc
    varies per micro-batch), grown monotonically along axis 0."""
    key = (name,) + shape[1:]
    b = _SCRATCH.get(key)
    if b is None or b.shape[0] < shape[0]:
        b = np.empty(shape, dtype=np.float32)
        _SCRATCH[key] = b
    return b[: shape[0]]


_WB_CACHE: dict = {}


def _stacked_conv_weights(cw: np.ndarray, cb: np.ndarray) -> np.ndarray:
    """(K*C+1, H): the K kernel taps stacked along the reduction axis
    plus the bias as a final row (multiplied by the im2col constant-1
    column). The strong ref in the cache entry pins the array so the
    id key can never be reused while cached."""
    e = _WB_CACHE.get(id(cw))
    if e is not None and e[0] is cw:
        return e[1]
    H, C, K = cw.shape
    Wb = np.empty((K * C + 1, H), dtype=np.float32)
    for k in range(K):
        Wb[k * C : (k + 1) * C] = cw[:, :, k].T
    Wb[K * C] = cb
    # bounded: the strong refs pin weight sets that lru_cache may have
    # evicted — clear rather than grow without limit on long-lived
    # executors cycling many (schema, ckpt) combinations
    if len(_WB_CACHE) >= 16:
        _WB_CACHE.clear()
    _WB_CACHE[id(cw)] = (cw, Wb)
    return Wb


# ---------------------------------------------------------------------------
# Projection-table conv (r7, guide §1.2: don't recompute what a lookup
# can answer). Every conv input feature is an EMBEDDING LOOKUP
# ([word; pos1; pos2]), and the conv is linear in its input, so the
# per-tap projection of each embedding ROW can be precomputed once per
# weight set: Pw[k] = word_emb @ conv_w[:, :wsz, k].T (V, H), likewise
# for the two (2L)-row position tables. The per-row conv then collapses
# from an im2col GEMM (2*Lc*(K*C+1)*H FLOPs/row) to 3K row-gathers +
# adds (~20x fewer ops at the reference dims). Gated by table size: the
# gathers only win while the tables stay cache-resident (word table is
# V*K*H floats), so vocabularies past _PROJ_MAX_BYTES keep the blocked
# im2col GEMM — the right algorithm for a 400k-row GloVe vocab, where
# the projected table would be ~1 GB per worker process.
#
# Numerics: the reduction order changes (per-table partial dot products
# summed pairwise instead of one fused K*C+1 dot) — measured max delta
# 4.2e-7 vs the fused GEMM on the corpus mix, the same class as the r2
# fused-GEMM reorder and inside the reference's own 1e-6 golden
# tolerance (tests/test_inference.py:11). Pinned by
# test_projected_conv_matches_gemm.
# ---------------------------------------------------------------------------

_PROJ_MAX_BYTES = 8 * 1024 * 1024
_PROJ_CACHE: dict = {}


def _projected_tables(weights: dict):
    """(Pw, Pp1, Pp2) each (K, rows, H) float32, or None when the word
    table would blow the cache gate. Cached per weight set (strong ref
    pins the key array, same pattern as _WB_CACHE)."""
    cw = weights["conv_w"]
    we, p1e, p2e = weights["word_emb"], weights["pos1_emb"], weights["pos2_emb"]
    # the tables derive from all FOUR source arrays — pin each identity
    # (a caller may legitimately swap word_emb under the same conv_w,
    # e.g. the trained-ckpt PAD-row tests)
    srcs = (cw, we, p1e, p2e)
    key = tuple(id(a) for a in srcs)
    e = _PROJ_CACHE.get(key)
    if e is not None and all(a is b for a, b in zip(e[0], srcs)):
        return e[1]
    H, C, K = cw.shape
    V = we.shape[0]
    if V * K * H * 4 > _PROJ_MAX_BYTES:
        tables = None
    else:
        wsz = we.shape[1]
        psz = p1e.shape[1]
        Pw = np.empty((K, V, H), dtype=np.float32)
        Pp1 = np.empty((K, p1e.shape[0], H), dtype=np.float32)
        Pp2 = np.empty((K, p2e.shape[0], H), dtype=np.float32)
        for k in range(K):
            Pw[k] = we @ cw[:, :wsz, k].T
            Pp1[k] = p1e @ cw[:, wsz : wsz + psz, k].T
            Pp2[k] = p2e @ cw[:, wsz + psz :, k].T
        tables = (Pw, Pp1, Pp2)
    if len(_PROJ_CACHE) >= 16:
        _PROJ_CACHE.clear()
    _PROJ_CACHE[key] = (srcs, tables)
    return tables


def _conv_slabs_projected(
    token, pos1, pos2, weights, Lc: int, tables, slab: int = _CONV_SLAB
):
    """The projected-table rendition of _conv_slabs_gemm: same yielded
    contract (bias included, NO activation, slab L2-resident). Each
    output window t sums, per tap k (offset k-1), the projected word +
    pos1 + pos2 rows of token position t+k-1; windows whose tap falls
    off the [0, Lc) edge skip it — the zero-padded feature's projection
    is exactly 0, so skipping equals adding it."""
    Pw, Pp1, Pp2 = tables
    cb = weights["conv_b"]
    H = Pw.shape[2]
    K = Pw.shape[0]
    B = token.shape[0]
    out = _scratch("projconv_out", (slab, Lc, H))
    for lo in range(0, B, slab):
        hi = min(lo + slab, B)
        S = hi - lo
        sout = out[:S]
        sout[:] = cb
        tok = token[lo:hi, :Lc]
        p1 = pos1[lo:hi, :Lc]
        p2 = pos2[lo:hi, :Lc]
        for k in range(K):
            off = k - (K - 1) // 2  # window t covers tokens t+off
            lo_t = max(0, -off)
            hi_t = Lc - max(0, off)
            dst = sout[:, lo_t:hi_t]
            sl = slice(lo_t + off, hi_t + off)
            dst += Pw[k][tok[:, sl]]
            dst += Pp1[k][p1[:, sl]]
            dst += Pp2[k][p2[:, sl]]
        yield lo, hi, sout


def _conv_slabs(token, pos1, pos2, weights, Lc: int, slab: int = _CONV_SLAB):
    """Dispatch: projection-table path for cache-resident vocabularies
    (measured 2.4x solo / 2.35x at 32 procs on the bench model), blocked
    im2col GEMM otherwise. Both yield identical (lo, hi, (S, Lc, H))
    slabs with bias included and no activation."""
    tables = _projected_tables(weights)
    if tables is not None:
        yield from _conv_slabs_projected(
            token, pos1, pos2, weights, Lc, tables, slab
        )
    else:
        yield from _conv_slabs_gemm(token, pos1, pos2, weights, Lc, slab)


def _conv_slabs_gemm(token, pos1, pos2, weights, Lc: int, slab: int = _CONV_SLAB):
    """Yield (lo, hi, conv_slab) where conv_slab is the (S, Lc, H) conv
    output (bias included, NO activation) for rows lo:hi — L2-resident,
    for the caller to pool/gate in place before the next slab evicts it.

    The im2col gathers embeddings per shift directly into the slab
    buffer (tables are small and cache-hot, so the triple gather is
    cheaper than materializing a padded copy and re-reading it)."""
    we, p1e, p2e = weights["word_emb"], weights["pos1_emb"], weights["pos2_emb"]
    cw, cb = weights["conv_w"], weights["conv_b"]
    H, C, K = cw.shape
    Wb = _stacked_conv_weights(cw, cb)
    B = token.shape[0]
    wsz = we.shape[1]
    psz = p1e.shape[1]
    X = _scratch("conv_X", (slab, Lc, K * C + 1))
    X[:, :, K * C] = 1.0  # bias column
    feat = _scratch("conv_feat", (slab, Lc, C))
    out = _scratch("conv_out", (slab, Lc, H))
    for lo in range(0, B, slab):
        hi = min(lo + slab, B)
        S = hi - lo
        sX = X[:S]
        # r7: gather the [word; pos1; pos2] features ONCE per slab into
        # a contiguous block, then assemble the K shifted im2col slices
        # as sequential copies — the per-shift fancy-index gathers (K x
        # 3 random-access table lookups) were ~half the non-GEMM kernel
        # time. Every shifted window only touches tokens 0..Lc-1 (edge
        # windows are zero-padded), so the single block covers all K
        # shifts. Identical float values land in X -> the fused GEMM
        # input, and therefore every score, is bitwise unchanged.
        sfeat = feat[:S]
        sfeat[:, :, :wsz] = we[token[lo:hi, :Lc]]
        sfeat[:, :, wsz : wsz + psz] = p1e[pos1[lo:hi, :Lc]]
        sfeat[:, :, wsz + psz :] = p2e[pos2[lo:hi, :Lc]]
        for k in range(K):
            off = k - (K - 1) // 2  # window t covers tokens t+off
            dst = sX[:, :, k * C : (k + 1) * C]
            lo_t = max(0, -off)
            hi_t = Lc - max(0, off)
            if off < 0:
                dst[:, :lo_t, :] = 0.0
            elif off > 0:
                dst[:, hi_t:, :] = 0.0
            dst[:, lo_t:hi_t] = sfeat[:, lo_t + off : hi_t + off]
        sout = out[:S]
        np.matmul(sX.reshape(S * Lc, K * C + 1), Wb, out=sout.reshape(S * Lc, H))
        yield lo, hi, sout


def conv1d_same(x: np.ndarray, w: np.ndarray, b: np.ndarray) -> np.ndarray:
    """1-D convolution over the length axis with symmetric zero padding.

    x: (B, L, C); w: (H, C, K); b: (H,). Returns (B, L_out, H) where
    L_out = L + 2*pad - K + 1 with pad = (K-1)//2 (K=3, pad=1 -> L).

    Decomposed as K shifted GEMMs accumulating into one output buffer:
    out[:, t, :] = sum_k xp[:, t+k, :] @ w[:, :, k].T. This avoids
    materializing the (B, L, C*K) im2col matrix — with 32 concurrent
    Python workers the im2col copy made the kernel memory-bandwidth-
    bound and capped multi-core scaling (measured ~1.7x at 4x cores).
    """
    B, L, C = x.shape
    H, _, K = w.shape
    pad = (K - 1) // 2
    Lp = L + 2 * pad
    xp = np.zeros((B, Lp, C), dtype=np.float32)
    xp[:, pad : pad + L, :] = x
    x2 = xp.reshape(B * Lp, C)
    out = np.broadcast_to(b.astype(np.float32), (B, L, H)).copy()
    y = np.empty((B * Lp, H), dtype=np.float32)
    for k in range(K):
        np.matmul(x2, w[:, :, k].T.astype(np.float32), out=y)  # one GEMM
        out += y.reshape(B, Lp, H)[:, k : k + L, :]
    return out


def cnn_forward(
    token: np.ndarray,
    pos1: np.ndarray,
    pos2: np.ndarray,
    weights: dict,
    n_real: np.ndarray | None = None,
) -> np.ndarray:
    """CNNEncoder.forward (cnn_encoder.py:46-65): (B, H) sentence reps.

    Exact length-truncation optimization: the reference pools over the
    FULL padded length (cnn_encoder.py:44 MaxPool1d(max_length)), but
    every window that contains only [PAD] inputs evaluates to the bias
    (word PAD row and position row 0 are zeros, base_encoder.py:62-69),
    so its pooled contribution is relu(bias) — a constant vector. With
    n_real given, the conv runs only over positions that can touch a
    real token (t <= max(n_real), window t covers tokens t-1..t+1) and
    relu(bias) joins the max explicitly when fully-pad windows exist.
    Bit-identical results; 2-3x less compute+bandwidth on short turns.
    """
    L = token.shape[1]
    # the truncation is exact ONLY while the PAD word row and position
    # row 0 are zero; a TRAINED checkpoint can carry a non-zero PAD row
    # (no padding_idx on the word embedding, base_encoder.py:56), so
    # every weight constructor computes `exact_trunc` and the kernel
    # falls back to the full padded length when the shortcut would
    # change results. A dict WITHOUT the flag defaults to the safe
    # full-length path — only flagged-sound weights take the shortcut.
    if n_real is not None and bool(weights.get("exact_trunc", False)):
        Lc = int(min(int(n_real.max()) + 1, L))
    else:
        Lc = L
    H = weights["conv_w"].shape[0]
    pooled = np.empty((token.shape[0], H), dtype=np.float32)
    for lo, hi, c in _conv_slabs(token, pos1, pos2, weights, Lc):
        np.maximum(c, 0.0, out=c)
        pooled[lo:hi] = c.max(axis=1)
    if Lc < L:
        pad_contrib = np.maximum(weights["conv_b"], 0.0)
        # rows with n_real < L have at least one fully-pad window beyond
        # Lc only when Lc < L; within [0, Lc) their own pad windows were
        # already computed identically (pad inputs are zeros for all rows)
        np.maximum(pooled, pad_contrib[None, :], out=pooled)
    return pooled


def pcnn_forward(
    token: np.ndarray,
    pos1: np.ndarray,
    pos2: np.ndarray,
    mask: np.ndarray,  # (B, L) in {0,1,2,3}
    weights: dict,
    n_real: np.ndarray | None = None,
) -> np.ndarray:
    """PCNNEncoder.forward (pcnn_encoder.py:54-80): (B, 3H) reps.

    Length truncation is exact here too: pad positions carry mask 0, so
    every segment adds -100 to them (pcnn_encoder.py:72-75) and their
    relu is 0 — the floor of a relu max — provided |bias| < 100 (the
    reference's fixed _minus=-100 contract, pcnn_encoder.py:50).
    """
    L = token.shape[1]
    Lc = int(min(int(n_real.max()) + 1, L)) if n_real is not None else L
    H = weights["conv_w"].shape[0]
    B = token.shape[0]
    pooled = np.empty((B, 3 * H), dtype=np.float32)
    minus = np.float32(-100.0)
    # segment one-hots from the fixed identity table (pcnn_encoder.py:47-49);
    # the gating consumes each conv slab while it is still cache-resident
    for lo, hi, c in _conv_slabs(token, pos1, pos2, weights, Lc):
        m = mask[lo:hi, :Lc]
        for seg in (1, 2, 3):
            gate = (m == seg).astype(np.float32)  # (S, Lc)
            shifted = c + minus * (1.0 - gate)[:, :, None]
            pooled[lo:hi, (seg - 1) * H : seg * H] = np.maximum(
                shifted, 0.0
            ).max(axis=1)
    return pooled


def linear(rep: np.ndarray, fc_w: np.ndarray, fc_b: np.ndarray) -> np.ndarray:
    """logits = rep @ W.T + b (softmax_nn.py:50)."""
    return rep @ fc_w.T + fc_b


def sentence_scores(batch: dict, weights: dict, pcnn: bool = False) -> tuple:
    """Full sentence path: encode -> fc -> softmax.

    Returns (rep (B,H|3H), probs (B,N)) — rep is kept because the bag
    aggregators (attention/average) consume representations, not scores
    (bag_attention.py:152-164, bag_average.py:117-128).
    """
    n_real = batch.get("n_real")
    if pcnn:
        rep = pcnn_forward(
            batch["token"], batch["pos1"], batch["pos2"], batch["mask"],
            weights, n_real=n_real,
        )
    else:
        rep = cnn_forward(
            batch["token"], batch["pos1"], batch["pos2"], weights, n_real=n_real
        )
    logits = linear(rep, weights["fc_w"], weights["fc_b"])
    return rep, softmax(logits, axis=-1)


# ---------------------------------------------------------------------------
# Bag-level aggregators (eval path, bag_size=0 "all sentences" variant).
# Each takes the (n, H) reps of one bag and returns the per-relation
# score vector (N,), matching the reference's *softmaxed* bag logits.
# ---------------------------------------------------------------------------

def bag_attention_eval(rep: np.ndarray, weights: dict) -> np.ndarray:
    """Selective attention, eval (bag_attention.py:136-164).

    att_mat = fc_w.T * diag[:, None]; att_score = rep @ att_mat (n, N);
    per-relation softmax over the bag -> (N, n); rep_for_rel = att.T @ rep
    (N, H); score_r = softmax(fc(rep_for_rel))[r, r] (diagonal).
    """
    fc_w, fc_b, diag = weights["fc_w"], weights["fc_b"], weights["att_diag"]
    att_mat = fc_w.T * diag[:, None]  # (H, N)
    att_score = rep @ att_mat  # (n, N)
    sm = softmax(att_score.T, axis=-1)  # (N, n): softmax over bag members
    rep_for_rel = sm @ rep  # (N, H)
    logits = linear(rep_for_rel, fc_w, fc_b)  # (N, N)
    return np.diagonal(softmax(logits, axis=-1)).copy()


def bag_average_eval(rep: np.ndarray, weights: dict) -> np.ndarray:
    """Mean of reps then fc+softmax (bag_average.py:117-131)."""
    bag_rep = rep.mean(axis=0, dtype=np.float32)
    logits = linear(bag_rep[None, :], weights["fc_w"], weights["fc_b"])
    return softmax(logits, axis=-1)[0]


def bag_one_eval(probs: np.ndarray) -> np.ndarray:
    """Per-relation max over per-sentence softmax scores
    (bag_one.py:140-148). Takes the (n, N) softmaxed sentence scores;
    runs inside the fused bag kernel (operators/bags.py).
    """
    return probs.max(axis=0)
