"""Unit tests for the Arrow-native batch plumbing (operators/scoring.py,
operators/bags.py) introduced with the mapInArrow conversion.

The end-to-end guarantees live in test_pipeline
(test_encoded_scoring_bitwise_parity: exact float equality across the
pandas-era and Arrow paths). These tests pin the helper-level
invariants directly — in particular the Arrow buffer-layout subtleties
that end-to-end runs exercise only implicitly:

- ListArray/binary offsets are GLOBAL into the child/values buffer, so
  a SLICED array must decode from offsets[arr.offset], not 0;
- the zero-copy uniform-item fast path and its defensive fallback
  agree;
- resize_indices (the Arrow bag path's RNG half) selects exactly the
  rows resize_bag (the pandas half) keeps, for every n/bag_size shape;
- the bag walk scores only the rows the cap keeps, and assembles the
  same bags under every record-batch split.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from opennre_spark.functions import kernels
from opennre_spark.operators.bags import _bag_walk, resize_bag, resize_indices
from opennre_spark.operators.scoring import (
    _binary_from_block,
    _list_f32,
    _tokens_from_binary,
)


@pytest.mark.parametrize("n,d", [(1, 1), (3, 7), (256, 53), (5, 1)])
def test_list_f32_roundtrip(n, d):
    rng = np.random.default_rng(7)
    mat = rng.standard_normal((n, d)).astype(np.float32)
    arr = _list_f32(mat)
    assert arr.type == pa.list_(pa.float32())
    back = np.asarray(arr.to_pylist(), dtype=np.float32)
    np.testing.assert_array_equal(back, mat)


def test_list_f32_non_contiguous_input():
    rng = np.random.default_rng(11)
    big = rng.standard_normal((8, 10)).astype(np.float32)
    view = big[::2]  # stride-2 view: forces the ascontiguousarray copy
    assert not view.flags["C_CONTIGUOUS"]
    back = np.asarray(_list_f32(view).to_pylist(), dtype=np.float32)
    np.testing.assert_array_equal(back, view)


@pytest.mark.parametrize("n,L", [(1, 4), (7, 40), (300, 3)])
def test_binary_block_roundtrip(n, L):
    rng = np.random.default_rng(n * 31 + L)
    block = rng.integers(0, 2**31 - 1, size=(n, L), dtype=np.int32)
    arr = _binary_from_block(block)
    assert arr.type == pa.binary()
    assert len(arr) == n
    back = _tokens_from_binary(arr, L)
    np.testing.assert_array_equal(back, block)
    # and the per-item bytes are the raw little-endian rows
    assert arr[0].as_py() == block[0].astype("<i4").tobytes()


def test_tokens_from_binary_sliced_array():
    """Offsets are global: a sliced binary array must decode the slice's
    rows, not the buffer's first rows."""
    L = 5
    block = np.arange(8 * L, dtype=np.int32).reshape(8, L)
    arr = _binary_from_block(block)
    sl = arr.slice(3, 4)
    assert sl.offset == 3
    back = _tokens_from_binary(sl, L)
    np.testing.assert_array_equal(back, block[3:7])


def test_tokens_from_binary_foreign_uniform_array():
    """A uniform-item binary array built by pyarrow itself (not our
    builder) takes the zero-copy path and decodes identically."""
    L = 2
    rows = [np.array([i, i + 100], dtype="<i4").tobytes() for i in range(6)]
    arr = pa.array(rows, type=pa.binary())
    back = _tokens_from_binary(arr, L)
    expect = np.array([[i, i + 100] for i in range(6)], dtype=np.int32)
    np.testing.assert_array_equal(back, expect)


@pytest.mark.parametrize(
    "n,bag_size", [(1, 4), (3, 4), (4, 4), (9, 4), (250, 16)]
)
def test_resize_indices_matches_resize_bag(n, bag_size):
    """The Arrow bag path applies resize_indices to a sorted index
    vector; the pandas path applies resize_bag to the sorted frame.
    Same (h_id, t_id, seed) -> same selected rows, same order."""
    pdf = pd.DataFrame({"v": np.arange(n)})
    via_pdf = resize_bag(pdf, bag_size, "P001", "O042", seed=42)["v"].to_numpy()
    via_idx = np.arange(n)[resize_indices(n, bag_size, "P001", "O042", seed=42)]
    np.testing.assert_array_equal(via_pdf, via_idx)


def test_bag_walk_scores_only_kept_rows():
    """_bag_walk over (h_id, t_id)-sorted batches of every size equals a
    whole-bag loop for the cap and resize semantics, and hands the
    scorer each kept row exactly once: rows past bag_cap are never
    scored, the bag_size resize scores every member."""
    sizes = [1, 7, 3, 12, 2, 5, 9, 1]
    keys = [(f"h{i}", "t0") for i in range(len(sizes))]
    h = [k[0] for k, n in zip(keys, sizes) for _ in range(n)]
    n_rows = len(h)
    vals = np.random.default_rng(0).random((n_rows, 4)).astype(np.float32)

    def batches(bs):
        for lo in range(0, n_rows, bs):
            yield pa.RecordBatch.from_arrays(
                [pa.array(h[lo : lo + bs]), pa.array(["t0"] * len(h[lo : lo + bs])),
                 pa.array(np.arange(lo, min(lo + bs, n_rows)))],
                names=["h_id", "t_id", "rid"],
            )

    for bs in (1, 3, 4, 5, 100):
        for cap, size in ((0, 0), (1, 0), (5, 0), (5, 4)):
            scored = []

            def score(rb):
                ids = rb.column("rid").to_numpy()
                scored.extend(ids.tolist())
                return vals[ids]

            got = {}
            for rb in _bag_walk(batches(bs), score, "one", None, cap, size, 42):
                for k, n, s in zip(rb.column("h_id").to_pylist(),
                                   rb.column("n_sentences").to_pylist(),
                                   rb.column("scores").to_pylist()):
                    got[k] = (n, s)
            lo = 0
            for (k, _), n in zip(keys, sizes):
                mat = vals[lo : lo + n]
                lo += n
                if size:
                    mat = mat[resize_indices(n, size, k, "t0", 42)]
                elif cap:
                    mat = mat[:cap]
                assert got[k][0] == len(mat), (bs, cap, size, k)
                np.testing.assert_array_equal(got[k][1], kernels.bag_one_eval(mat))
            kept = sum(min(n, cap) if cap and not size else n for n in sizes)
            assert sorted(scored) == sorted(set(scored)), (bs, cap, size)
            assert len(scored) == kept, (bs, cap, size)
