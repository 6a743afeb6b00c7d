"""Seeded, single-process input generation.

Every input is a pure function of (workload size, seed). It is written to
parquet once per seed, outside every timed region, and the engine only
ever reads the written file. The fingerprint (rows, bytes, content hash)
goes out with each result, so a generator change shows up as a new input
rather than as a speed-up.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TRANSCRIPT_ARROW_SCHEMA = pa.schema([
    pa.field("conv_id", pa.string(), nullable=False),
    pa.field("turn_idx", pa.int32(), nullable=False),
    pa.field("role", pa.string(), nullable=False),
    pa.field("text", pa.string(), nullable=False),
    pa.field("tool", pa.string()),
    pa.field("ts", pa.timestamp("us"), nullable=False),
])

VECTOR_ARROW_SCHEMA = pa.schema([
    pa.field("vec_id", pa.int64(), nullable=False),
    pa.field("embedding", pa.list_(pa.float32()), nullable=False),
])


def transcript_rows(target_instances: int, seed: int, count_instances) -> list[tuple]:
    """(conv_id, turn_idx, role, text, tool, ts) rows of conversations
    0, 1, 2, ... from the engine's own deterministic generator, up to the
    turn at which the candidate instances reach `target_instances`.

    Fixing the input size in instances, the unit of scoring work, rather
    than in conversations keeps the work of a pass from moving with the
    seed (at a fixed conversation count it varied by 8 %).
    `count_instances(rows)` counts the instances of one conversation's
    rows; candidate pairs never cross conversations, so the total is the
    sum over conversations. The last conversation may end early, which
    leaves a valid, shorter conversation."""
    from opennre_spark.sources.transcripts import generate_conversation

    rows: list[tuple] = []
    total = 0
    conv_idx = 0
    while total < target_instances:
        conv_rows, _ = generate_conversation(conv_idx, seed)
        n = count_instances(conv_rows)
        if total + n > target_instances:
            for k in range(1, len(conv_rows) + 1):
                n = count_instances(conv_rows[:k])
                if total + n >= target_instances:
                    conv_rows = conv_rows[:k]
                    break
        rows.extend(conv_rows)
        total += n
        conv_idx += 1
    return rows


def transcripts_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows))
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, TRANSCRIPT_ARROW_SCHEMA)],
        schema=TRANSCRIPT_ARROW_SCHEMA,
    )


def planted_vectors(
    n: int, dim: int, dup_share: float, noise: float, seed: int
) -> tuple[np.ndarray, np.ndarray]:
    """Unit vectors (float32) with planted near-duplicates.

    A `dup_share` of the rows (never row 0) are copies of a random
    original "anchor" row plus Gaussian noise of scale `noise` per
    coordinate, re-normalized.
    Anchors are drawn with replacement, so some clusters have three or
    more members. Returns (vectors (n, dim) float32, planted (k, 2) int64
    pairs of (anchor, copy))."""
    rng = np.random.default_rng(seed)
    v = rng.standard_normal((n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    k = int(round(dup_share * n))
    copies = np.sort(rng.choice(np.arange(1, n), size=k, replace=False))
    is_copy = np.zeros(n, dtype=bool)
    is_copy[copies] = True
    originals = np.flatnonzero(~is_copy)
    anchors = rng.choice(originals, size=k, replace=True)
    x = v[anchors] + noise * rng.standard_normal((k, dim))
    v[copies] = x / np.linalg.norm(x, axis=1, keepdims=True)
    planted = np.stack([anchors, copies], axis=1).astype(np.int64)
    return v.astype(np.float32), planted


def vectors_table(vectors: np.ndarray) -> pa.Table:
    n, dim = vectors.shape
    flat = pa.array(np.ascontiguousarray(vectors).reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.Table.from_arrays(
        [
            pa.array(np.arange(n, dtype=np.int64)),
            pa.ListArray.from_arrays(offsets, flat),
        ],
        schema=VECTOR_ARROW_SCHEMA,
    )


def write_parquet(table: pa.Table, path: str) -> dict:
    """Write `table` to `path` (a single file, replaced atomically) and
    return its fingerprint."""
    tmp = path + ".tmp"
    pq.write_table(table, tmp, row_group_size=1 << 16)
    os.replace(tmp, path)
    return fingerprint(path, table.num_rows)


def fingerprint(path: str, rows: int) -> dict:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return {"rows": rows, "bytes": os.path.getsize(path), "sha256": h.hexdigest()}
