"""Encoding + kernel parity vs the loop oracle (SURVEY.md §5: T13-T15,
M1-M7, A4-A6). Tolerance 1e-6 matches the reference's own golden test
(/root/reference/tests/test_inference.py:11).
"""

import numpy as np
import pytest

from opennre_spark import relations
from opennre_spark.functions import kernels
from opennre_spark.functions.encoding import encode_batch
from opennre_spark.functions.weights import build_vocab, default_model, make_weights
from tests.oracle import reference_math as om

L = 40

INSTANCES = [
    # standard forward order
    {"text": "Ada Moreno founded Helix Dynamics back in 1998.",
     "h": {"pos": [0, 10]}, "t": {"pos": [19, 33]}},
    # reversed span order (rev=True path, base_encoder.py:102-104)
    {"text": "Helix Dynamics was founded by Ada Moreno.",
     "h": {"pos": [30, 40]}, "t": {"pos": [0, 14]}},
    # adjacent entities, empty middle slice
    {"text": "Ada Moreno Helix Dynamics partnership.",
     "h": {"pos": [0, 10]}, "t": {"pos": [11, 25]}},
    # entity at the very end, empty sent2
    {"text": "The keynote was given by Ada Moreno",
     "h": {"pos": [25, 35]}, "t": {"pos": [4, 11]}},
    # long text: entity start beyond max_length -> clamp path
    {"text": ("word " * 60) + "Ada Moreno and Helix Dynamics.",
     "h": {"pos": [300, 310]}, "t": {"pos": [315, 329]}},
    # punctuation-heavy, unknown words
    {"text": "Zzyx-Qrf!! met Ada Moreno... (allegedly)",
     "h": {"pos": [15, 25]}, "t": {"pos": [0, 8]}},
]


@pytest.fixture(scope="module")
def model():
    return default_model()


def _encode_all(instances, vocab, with_mask):
    pad, unk = vocab["[PAD]"], vocab["[UNK]"]
    return encode_batch(
        [i["text"] for i in instances],
        [i["h"]["pos"][0] for i in instances],
        [i["h"]["pos"][1] for i in instances],
        [i["t"]["pos"][0] for i in instances],
        [i["t"]["pos"][1] for i in instances],
        vocab, L, pad, unk, with_mask=with_mask,
    )


def test_encoding_parity(model):
    vocab, _ = model
    pad, unk = vocab["[PAD]"], vocab["[UNK]"]
    enc = _encode_all(INSTANCES, vocab, with_mask=True)
    for i, item in enumerate(INSTANCES):
        o = om.oracle_encode(item, vocab, L, pad, unk, with_mask=True)
        np.testing.assert_array_equal(enc["token"][i], o["token"][0], err_msg=f"token {i}")
        np.testing.assert_array_equal(enc["pos1"][i], o["pos1"][0], err_msg=f"pos1 {i}")
        np.testing.assert_array_equal(enc["pos2"][i], o["pos2"][0], err_msg=f"pos2 {i}")
        np.testing.assert_array_equal(enc["mask"][i], o["mask"][0], err_msg=f"mask {i}")


def test_cnn_forward_parity(model):
    vocab, W = model
    enc = _encode_all(INSTANCES, vocab, with_mask=False)
    rep = kernels.cnn_forward(enc["token"], enc["pos1"], enc["pos2"], W)
    for i, item in enumerate(INSTANCES):
        o = om.oracle_encode(item, vocab, L, vocab["[PAD]"], vocab["[UNK]"])
        orep = om.oracle_cnn_rep(o, W)
        np.testing.assert_allclose(rep[i], orep[0], atol=1e-6, rtol=1e-5)


def test_sentence_infer_parity(model):
    vocab, W = model
    enc = _encode_all(INSTANCES, vocab, with_mask=False)
    _, probs = kernels.sentence_scores(enc, W)
    for i, item in enumerate(INSTANCES):
        rel, score = om.oracle_infer(item, vocab, W, relations.ID2REL, L)
        assert relations.ID2REL[int(probs[i].argmax())] == rel
        assert abs(float(probs[i].max()) - score) < 1e-6


def test_pcnn_forward_parity():
    vocab = build_vocab(relations.vocabulary_words())
    W = make_weights(len(relations.REL2ID), len(vocab), pcnn=True)
    enc = _encode_all(INSTANCES, vocab, with_mask=True)
    rep = kernels.pcnn_forward(enc["token"], enc["pos1"], enc["pos2"], enc["mask"], W)
    assert rep.shape == (len(INSTANCES), 3 * 230)
    for i, item in enumerate(INSTANCES):
        o = om.oracle_encode(item, vocab, L, vocab["[PAD]"], vocab["[UNK]"], with_mask=True)
        orep = om.oracle_pcnn_rep(o, W)
        np.testing.assert_allclose(rep[i], orep[0], atol=1e-6, rtol=1e-5)


def test_bag_aggregators_parity(model):
    vocab, W = model
    enc = _encode_all(INSTANCES, vocab, with_mask=False)
    rep, probs = kernels.sentence_scores(enc, W)
    for n in (1, 3, len(INSTANCES)):  # bag sizes incl. singleton
        bag_rep, bag_probs = rep[:n], probs[:n]
        np.testing.assert_allclose(
            kernels.bag_attention_eval(bag_rep, W), om.oracle_bag_att(bag_rep, W),
            atol=1e-6, rtol=1e-5,
        )
        np.testing.assert_allclose(
            kernels.bag_average_eval(bag_rep, W), om.oracle_bag_avg(bag_rep, W),
            atol=1e-6, rtol=1e-5,
        )
        np.testing.assert_allclose(
            kernels.bag_one_eval(bag_probs), om.oracle_bag_one(bag_probs),
            atol=0, rtol=0,
        )


def test_bag_order_sensitivity_documented(model):
    """avg/one are order-invariant; att is order-sensitive in float32 —
    this is WHY bag construction needs stable member ordering (A1,
    SURVEY.md §7 hard parts)."""
    vocab, W = model
    enc = _encode_all(INSTANCES, vocab, with_mask=False)
    rep, probs = kernels.sentence_scores(enc, W)
    perm = np.array([3, 1, 4, 0, 2, 5])
    np.testing.assert_allclose(
        kernels.bag_one_eval(probs), kernels.bag_one_eval(probs[perm]), atol=0
    )
    np.testing.assert_allclose(
        kernels.bag_average_eval(rep, W),
        kernels.bag_average_eval(rep[perm], W),
        atol=1e-6,
    )
    # att under permutation agrees only to float32 reduction noise;
    # assert it is *close* but do not require bit-equality
    np.testing.assert_allclose(
        kernels.bag_attention_eval(rep, W),
        kernels.bag_attention_eval(rep[perm], W),
        atol=1e-5,
    )


def _random_batch(W, n=512, seed=7):
    """Corpus-shaped random batch (short real lengths, pad tail)."""
    rng = np.random.default_rng(seed)
    Lm = int(W["max_length"])
    V = W["word_emb"].shape[0]
    n_real = np.clip(rng.normal(16, 4, n).astype(np.int64), 3, Lm)
    token = np.full((n, Lm), V - 1, dtype=np.int64)
    for i in range(n):
        token[i, : n_real[i]] = rng.integers(0, V - 3, n_real[i])
    from opennre_spark.functions.encoding import positions_from_starts

    h = rng.integers(0, 10, n).astype(np.int64)
    t = rng.integers(0, 10, n).astype(np.int64)
    pos = positions_from_starts(h, t, n_real, Lm, with_mask=True)
    return token, pos["pos1"], pos["pos2"], pos["mask"], n_real


def test_projected_conv_matches_gemm(model, monkeypatch):
    """r7 projection-table conv: same conv output as the blocked im2col
    GEMM within the documented reorder tolerance (measured max 4.2e-7;
    bar 1e-6 = the reference golden tolerance), for BOTH the CNN maxpool
    and the PCNN piecewise pool, across truncated and full-length
    paths."""
    _, W = model
    token, pos1, pos2, mask, n_real = _random_batch(W)
    assert kernels._projected_tables(W) is not None  # gate admits V=153
    proj_cnn = kernels.cnn_forward(token, pos1, pos2, W, n_real=n_real)
    proj_full = kernels.cnn_forward(token, pos1, pos2, W, n_real=None)
    Wp = make_weights(len(relations.REL2ID), W["word_emb"].shape[0], pcnn=True)
    proj_pcnn = kernels.pcnn_forward(token, pos1, pos2, mask, Wp, n_real=n_real)
    # force the GEMM path: gate at 0 bytes + fresh cache
    monkeypatch.setattr(kernels, "_PROJ_MAX_BYTES", 0)
    monkeypatch.setattr(kernels, "_PROJ_CACHE", {})
    assert kernels._projected_tables(W) is None
    gemm_cnn = kernels.cnn_forward(token, pos1, pos2, W, n_real=n_real)
    gemm_full = kernels.cnn_forward(token, pos1, pos2, W, n_real=None)
    gemm_pcnn = kernels.pcnn_forward(token, pos1, pos2, mask, Wp, n_real=n_real)
    np.testing.assert_allclose(proj_cnn, gemm_cnn, atol=1e-6, rtol=1e-5)
    np.testing.assert_allclose(proj_full, gemm_full, atol=1e-6, rtol=1e-5)
    np.testing.assert_allclose(proj_pcnn, gemm_pcnn, atol=1e-6, rtol=1e-5)


def test_projected_tables_pin_every_source_array(model):
    """The projection cache must rebuild when ANY source table changes
    identity — a caller may swap word_emb under the same conv_w (the
    trained-ckpt PAD-row tests do exactly that)."""
    _, W0 = model
    t0 = kernels._projected_tables(W0)
    assert t0 is kernels._projected_tables(W0)  # cache hit
    W = dict(W0)
    W["word_emb"] = W0["word_emb"].copy()
    W["word_emb"][-1] = 0.3
    t1 = kernels._projected_tables(W)
    assert t1 is not t0
    # tap-0 word rows must reflect the swapped embedding
    assert not np.allclose(t0[0][0, -1], t1[0][0, -1])


def test_projection_cache_bounded_by_bytes(model, monkeypatch):
    """A long-lived executor cycling weight sets must not pin more
    projected-table bytes than the gate admits (_PROJ_MAX_BYTES): 20
    distinct weight sets of the default model (0.82 MB of tables each)
    stay within the bound while the newest set still hits the cache."""
    _, W0 = model
    monkeypatch.setattr(kernels, "_PROJ_CACHE", {})

    def cached_bytes():
        return sum(
            t.nbytes
            for _, tables in kernels._PROJ_CACHE.values()
            if tables is not None
            for t in tables
        )

    for i in range(20):
        W = dict(W0)
        W["conv_w"] = W0["conv_w"] + np.float32(i)
        tables = kernels._projected_tables(W)
        assert tables is not None
        assert cached_bytes() <= kernels._PROJ_MAX_BYTES, f"weight set {i}"
    assert kernels._projected_tables(W) is tables
