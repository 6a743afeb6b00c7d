"""Expected outputs, computed in the benchmark process from the generated
inputs, and the checks that compare an engine result against them.

The KG reference re-derives the pipeline's contract with plain Python
loops and numpy: gazetteer mention matching, directed candidate pairs
within the turn window, five-slice word tokenization, a float32 CNN
forward, float64 softmax, selective attention and the `one` max. It
shares only data with the engine: the gazetteer, the vocabulary, the
relation schema and the seed-frozen weights. The embedding reference is
a brute-force float64 cosine over every pair plus union-find.

Scores are compared within SCORE_TOL. Where rounding can legitimately
flip a decision (an argmax within SCORE_TOL of the runner-up, a bag
score within SCORE_TOL of the threshold), the check accepts either
outcome for the entity pair concerned and stays exact elsewhere.
"""

from __future__ import annotations

import re
from collections import defaultdict

import numpy as np

SCORE_TOL = 1e-5
PAIR_WINDOW_TURNS = 2


# --- model data shared with the engine --------------------------------

class Model:
    """Vocabulary, relation schema and the frozen CNN weights (float32
    and float64 copies) of the engine's default reduced-schema model."""

    def __init__(self):
        from opennre_spark import relations
        from opennre_spark.functions.weights import default_model

        vocab, w = default_model()
        self.vocab = vocab
        self.pad_id = vocab["[PAD]"]
        self.unk_id = vocab["[UNK]"]
        self.L = int(w["max_length"])
        names = (
            "word_emb", "pos1_emb", "pos2_emb", "conv_w", "conv_b",
            "fc_w", "fc_b", "att_diag",
        )
        self.w32 = {k: np.asarray(w[k], dtype=np.float32) for k in names}
        self.w = {k: np.asarray(w[k], dtype=np.float64) for k in names}
        if (
            self.w["word_emb"][self.pad_id].any()
            or self.w["pos1_emb"][0].any()
            or self.w["pos2_emb"][0].any()
        ):
            raise ValueError("the reference CNN assumes zero padding embeddings")
        self.rel2id = relations.rel2id_for("reduced")
        self.id2rel = {v: k for k, v in self.rel2id.items()}
        self.na_id = self.rel2id["NA"]
        self.gazetteer = relations.gazetteer()


# --- mentions and candidate pairs --------------------------------------

def _mention_regex(gazetteer):
    first = {}
    for eid, name, _ in gazetteer:
        first.setdefault(name, eid)
    names = sorted(first, key=len, reverse=True)
    alt = "|".join(re.escape(n) for n in names)
    return re.compile(r"(?<![A-Za-z0-9])(" + alt + r")(?![A-Za-z0-9])"), first


def instances_of(rows, gazetteer) -> tuple[int, list[tuple]]:
    """(mention count, directed instances) of transcript rows.

    An instance is (conv_id, turn_idx, pair_turn_idx, text, h_id,
    h_begin, h_end, t_id, t_begin, t_end): two mentions of different
    entities at most PAIR_WINDOW_TURNS turns apart. A same-turn pair uses
    the turn text; a cross-turn pair joins the earlier and the later
    text with one space and yields both directions."""
    pattern, eid_of = _mention_regex(gazetteer)
    by_conv = defaultdict(list)
    n_mentions = 0
    for conv_id, turn_idx, _role, text, _tool, _ts in rows:
        for m in pattern.finditer(text):
            by_conv[conv_id].append(
                (turn_idx, m.start(1), m.end(1), eid_of[m.group(1)], text)
            )
            n_mentions += 1
    out = []
    for conv_id, ms in by_conv.items():
        for ta, ba, ea, ida, xa in ms:
            for tb, bb, eb, idb, xb in ms:
                if not (0 <= tb - ta <= PAIR_WINDOW_TURNS) or ida == idb:
                    continue
                if ta == tb:
                    if ba != bb:
                        out.append((conv_id, ta, tb, xa, ida, ba, ea, idb, bb, eb))
                    continue
                off = len(xa) + 1
                text = xa + " " + xb
                out.append((conv_id, ta, tb, text, ida, ba, ea, idb, bb + off, eb + off))
                out.append((conv_id, ta, tb, text, idb, bb + off, eb + off, ida, ba, ea))
    return n_mentions, out


# --- encoding and scoring ----------------------------------------------

def _encode(text, h0, h1, t0, t1, model: Model):
    """(ids, head token start, tail token start, real length)."""
    if not (text.isascii() and text.isprintable()):
        raise ValueError("the reference tokenizer covers printable ASCII only")
    rev = h0 > t0
    (a0, a1), (b0, b1) = ((t0, t1), (h0, h1)) if rev else ((h0, h1), (t0, t1))
    pieces = [text[:a0], text[a0:a1], text[a1:b0], text[b0:b1], text[b1:]]
    toks = [p.split() for p in pieces]
    first = len(toks[0])
    second = first + len(toks[1]) + len(toks[2])
    words = [t for p in toks for t in p]
    ids = [model.vocab.get(t.lower(), model.unk_id) for t in words][: model.L]
    ids += [model.pad_id] * (model.L - len(ids))
    hs, ts = (second, first) if rev else (first, second)
    return ids, min(hs, model.L), min(ts, model.L), min(len(words), model.L)


def _cnn_reps(enc: list[tuple], model: Model, block: int = 2048) -> np.ndarray:
    """(n, H) float32 CNN sentence representations: embeddings of word,
    head position and tail position; conv of width 3 with zero padding
    1 over the padded length; ReLU; max over positions.

    Rows run in blocks of similar real length, each as one im2col GEMM
    over positions 0..(block's longest real length). Every later window
    sees only padding, whose embeddings are zero (Model checks this), so
    it contributes exactly relu(bias) to the max."""
    L, w = model.L, model.w32
    tok = np.array([e[0] for e in enc], dtype=np.int64)
    starts = np.array([(e[1], e[2]) for e in enc], dtype=np.int64)
    n_real = np.array([e[3] for e in enc], dtype=np.int64)
    cw = w["conv_w"]  # (H, C, K)
    h, c, k = cw.shape
    pad = (k - 1) // 2
    w_col = np.concatenate([cw[:, :, j].T for j in range(k)], axis=0)  # (K*C, H)
    pad_rep = np.maximum(w["conv_b"], 0.0)
    out = np.empty((len(enc), h), dtype=np.float32)
    order = np.argsort(n_real, kind="stable")
    for lo in range(0, len(enc), block):
        idx = order[lo : lo + block]
        lc = min(L, int(n_real[idx].max()) + 1)
        i = np.arange(lc)[None, :]
        real = i < n_real[idx, None]
        pos1 = np.where(real, np.minimum(i - starts[idx, :1] + L, 2 * L - 1), 0)
        pos2 = np.where(real, np.minimum(i - starts[idx, 1:] + L, 2 * L - 1), 0)
        xp = np.zeros((len(idx), lc + k - 1, c), dtype=np.float32)
        xp[:, pad : pad + lc] = np.concatenate(
            [w["word_emb"][tok[idx, :lc]], w["pos1_emb"][pos1], w["pos2_emb"][pos2]],
            axis=2,
        )
        cols = np.concatenate([xp[:, j : j + lc] for j in range(k)], axis=2)
        conv = (cols.reshape(-1, k * c) @ w_col).reshape(len(idx), lc, h)
        rep = np.maximum(conv + w["conv_b"], 0.0).max(axis=1)
        if lc < L:
            rep = np.maximum(rep, pad_rep)
        out[idx] = rep
    return out


def _softmax(x, axis=-1):
    e = np.exp(x - x.max(axis=axis, keepdims=True))
    return e / e.sum(axis=axis, keepdims=True)


class KGReference:
    """Per-instance reps and probabilities of one transcripts input."""

    def __init__(self, rows, model: Model):
        self.model = model
        self.n_mentions, self.instances = instances_of(rows, model.gazetteer)
        memo: dict[tuple, int] = {}
        enc = []
        self.enc_idx = np.empty(len(self.instances), dtype=np.int64)
        for j, (_c, _t, _p, text, _h, h0, h1, _tid, t0, t1) in enumerate(self.instances):
            key = (text, h0, h1, t0, t1)
            idx = memo.get(key)
            if idx is None:
                idx = memo[key] = len(enc)
                enc.append(_encode(text, h0, h1, t0, t1, model))
            self.enc_idx[j] = idx
        self.distinct_share = len(enc) / max(1, len(self.instances))
        w = model.w
        self.reps = _cnn_reps(enc, model).astype(np.float64)
        self.probs = _softmax(self.reps @ w["fc_w"].T + w["fc_b"])

    def bags(self) -> dict[tuple, list[int]]:
        """(h_id, t_id) -> instance indices in the stable member order:
        conv_id, turn_idx, pair_turn_idx, h_begin, t_begin."""
        out = defaultdict(list)
        order = sorted(
            range(len(self.instances)),
            key=lambda j: tuple(self.instances[j][i] for i in (0, 1, 2, 5, 8)),
        )
        for j in order:
            inst = self.instances[j]
            out[(inst[4], inst[7])].append(j)
        return out

    def sentence_expected(self) -> "Expected":
        """Argmax relation per instance, NA dropped, grouped by (subj,
        pred, obj): max score and instance count."""
        exp = Expected()
        for j, inst in enumerate(self.instances):
            p = self.probs[self.enc_idx[j]]
            top = int(p.argmax())
            near = {int(r) for r in np.flatnonzero(p[top] - p < SCORE_TOL)}
            pair = (inst[4], inst[7])
            if len(near) > 1:
                exp.loosen(pair, {self.model.id2rel[r] for r in near}, 1)
            elif top != self.model.na_id:
                exp.add(pair, self.model.id2rel[top], float(p[top]), 1)
        return exp

    def bag_expected(self, method: str, bag_cap: int, threshold: float) -> "Expected":
        """Bag-level triples: per (h_id, t_id) bag, the per-relation score
        of selective attention ('att', first bag_cap members in stable
        order when bag_cap > 0) or of the per-relation max ('one'), kept
        at score >= threshold; n_support is the number of bag members
        scored."""
        w = self.model.w
        exp = Expected()
        for pair, members in self.bags().items():
            if bag_cap > 0:
                members = members[:bag_cap]
            idx = self.enc_idx[members]
            if method == "att":
                rep = self.reps[idx]
                sm = _softmax((rep @ (w["fc_w"].T * w["att_diag"][:, None])).T)
                logits = (sm @ rep) @ w["fc_w"].T + w["fc_b"]
                scores = np.diagonal(_softmax(logits))
            elif method == "one":
                scores = self.probs[idx].max(axis=0)
            else:
                raise ValueError(method)
            for r, s in enumerate(scores):
                if r == self.model.na_id:
                    continue
                rel = self.model.id2rel[r]
                if abs(s - threshold) < SCORE_TOL:
                    exp.loosen(pair, {rel}, 0)
                elif s >= threshold:
                    exp.add(pair, rel, float(s), len(members))
        return exp


# --- triple comparison ---------------------------------------------------

class Expected:
    """Expected (subj, pred, obj) -> (score, n_support), plus the entity
    pairs whose outcome rounding may legitimately change."""

    def __init__(self):
        self.triples: dict[tuple, list] = {}
        self.loose: dict[tuple, tuple[set, int]] = {}

    def add(self, pair, rel, score, n):
        key = (pair[0], rel, pair[1])
        cur = self.triples.get(key)
        if cur is None:
            self.triples[key] = [score, n]
        else:
            cur[0] = max(cur[0], score)
            cur[1] += n

    def loosen(self, pair, rels: set, n: int):
        cur_rels, cur_n = self.loose.get(pair, (set(), 0))
        self.loose[pair] = (cur_rels | rels, cur_n + n)

    def __len__(self):
        return len(self.triples)


def check_triples(got: list[tuple], exp: Expected) -> list[str]:
    """Compare engine rows (subj, pred, obj, score, n_support) with the
    expected triples. Returns the mismatches (empty = correct).

    Exact per triple, except on a loose entity pair: there a loose
    relation may appear or not with any score, and the pair's total
    n_support may exceed the expected one by at most the number of
    undecided instances."""
    errors = []
    by_pair = defaultdict(dict)
    for subj, pred, obj, score, n in got:
        if pred in by_pair[(subj, obj)]:
            errors.append(f"duplicate triple {(subj, pred, obj)}")
        by_pair[(subj, obj)][pred] = (float(score), int(n))
    want_pair = defaultdict(dict)
    for (s, p, o), v in exp.triples.items():
        want_pair[(s, o)][p] = v
    for pair in set(by_pair) | set(want_pair):
        g, w = by_pair.get(pair, {}), want_pair.get(pair, {})
        rels, extra = exp.loose.get(pair, (set(), 0))
        if set(g) - set(w) - rels or set(w) - set(g) - rels:
            errors.append(f"pair {pair}: relations {sorted(g)}, expected {sorted(w)}")
            continue
        if extra:
            got_n = sum(v[1] for v in g.values())
            want_n = sum(v[1] for v in w.values())
            if not want_n <= got_n <= want_n + extra:
                errors.append(f"pair {pair}: n_support {got_n}, expected {want_n}+{extra}")
        for rel in set(g) & set(w) - rels:
            (score, n), (ws, wn) = g[rel], w[rel]
            if n != wn or abs(score - ws) > SCORE_TOL:
                errors.append(
                    f"triple {(pair[0], rel, pair[1])}: got ({score}, {n}), "
                    f"expected ({ws}, {wn})"
                )
    return errors


# --- embedding dedup -------------------------------------------------------

def cosine_clusters(vectors: np.ndarray, threshold: float, block: int = 2048):
    """Brute-force cosine over every pair (float64), then union-find.

    Returns (cluster id per vector = min member id, number of pairs at
    or above the threshold, smallest distance of any pair's cosine to
    the threshold)."""
    v = vectors.astype(np.float64)
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    n = len(v)
    parent = np.arange(n)

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    n_pairs = 0
    margin = np.inf
    for lo in range(0, n, block):
        sims = v[lo : lo + block] @ v.T
        rows = np.arange(lo, min(lo + block, n))
        sims[np.arange(len(rows)), rows] = -np.inf  # self pairs
        margin = min(margin, float(np.abs(sims - threshold).min()))
        ii, jj = np.nonzero(sims >= threshold)
        for a, b in zip(ii + lo, jj):
            if a < b:
                n_pairs += 1
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    roots = np.array([find(i) for i in range(n)])
    # union by min root keeps every root the minimum of its cluster
    return roots, n_pairs, margin


def check_clusters(got: list[tuple], roots: np.ndarray, planted: np.ndarray) -> list[str]:
    """Engine rows (vec_id, cluster_id) against the brute-force clusters;
    every planted (anchor, copy) pair must share a cluster."""
    errors = []
    cluster = np.full(len(roots), -1, dtype=np.int64)
    for vid, cid in got:
        if not 0 <= vid < len(roots) or cluster[vid] != -1:
            errors.append(f"unexpected or duplicate vec_id {vid}")
            continue
        cluster[vid] = cid
    bad = np.flatnonzero(cluster != roots)
    for vid in bad[:5]:
        errors.append(f"vec {vid}: cluster {cluster[vid]}, expected {roots[vid]}")
    if len(bad) > 5:
        errors.append(f"... {len(bad)} vectors in the wrong cluster")
    lost = planted[cluster[planted[:, 0]] != cluster[planted[:, 1]]]
    if len(lost):
        errors.append(f"{len(lost)} planted near-duplicate pairs not found")
    return errors
