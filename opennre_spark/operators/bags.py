"""Bag-level aggregation over entity pairs (SURVEY.md §2.4 A1-A6).

A bag = all scored instances sharing (h_id, t_id) — eval-mode
`entpair_as_bag=True` keying (data_loader.py:160-168; bag_re.py:47,57).
Spark's shuffle replaces the reference's scope/collate bookkeeping
(data_loader.py:207-222): one hash exchange on (h_id, t_id), an
external sort by the stable member key, and one streaming mapInArrow
pass that scores each bag's members and runs the att/avg/one kernel
(bag_scores_fused — the package's only bag route).

Stable member ordering (A1): rows are sorted by (conv_id, turn_idx,
pair_turn_idx, h_begin, t_begin) inside each bag before the numpy
math. `att` is order-sensitive in its float32 sum reductions, so this
ordering is part of the determinism contract (SURVEY.md §7 hard parts).

Deterministic size cap (A2): the reference uses random.sample
(data_loader.py:183-190, nondeterministic); we take the first `bag_cap`
members of the stable order — documented delta, used as a skew guard for
hot entity pairs (north rule).

The per-group applyInPandas route, `bag_scores`, is the parity reference
in tests/oracle/bag_route.py.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import kernels
from .scoring import _score_parts


def resize_bag(pdf: pd.DataFrame, bag_size: int, h_id: str, t_id: str,
               seed: int = 42) -> pd.DataFrame:
    """A2 fixed-size bag resize, deterministic-seeded variant of
    data_loader.py:185-190: oversized bags are sampled WITHOUT
    replacement down to bag_size; undersized bags keep every member and
    pad by sampling WITH replacement. The reference uses process-global
    random.sample/np.random.choice (nondeterministic); here the RNG is
    seeded per bag key so any executor produces the same resize.
    Selection order: kept members stay in the stable sort order
    (the reference's random permutation order is part of its
    nondeterminism, excluded from the parity surface per SURVEY.md §7);
    pad copies append at the end exactly like the reference's
    `bag + list(np.random.choice(...))`."""
    return pdf.iloc[resize_indices(len(pdf), bag_size, h_id, t_id, seed)]


def resize_indices(n: int, bag_size: int, h_id: str, t_id: str,
                   seed: int = 42) -> np.ndarray:
    """The index-selection half of resize_bag, shared by the fused bag
    walk and the pandas bag assemblies (identical RNG -> identical
    rows)."""
    seed64 = int.from_bytes(
        hashlib.md5(f"{seed}|{h_id}|{t_id}".encode()).digest()[:8], "little"
    )
    rng = np.random.default_rng(seed64)
    if n >= bag_size:
        return np.sort(rng.choice(n, size=bag_size, replace=False))
    return np.concatenate(
        [np.arange(n), rng.choice(n, size=bag_size - n, replace=True)]
    )

BAG_SCHEMA = T.StructType([
    T.StructField("h_id", T.StringType(), False),
    T.StructField("t_id", T.StringType(), False),
    T.StructField("n_sentences", T.IntegerType(), False),
    T.StructField("scores", T.ArrayType(T.FloatType()), False),
])

_SORT_COLS = ["conv_id", "turn_idx", "pair_turn_idx", "h_begin", "t_begin"]


def bag_scores_fused(
    instances: DataFrame,
    method: str = "att",
    bag_cap: int = 0,
    bag_size: int = 0,
    bag_seed: int = 42,
    encoder: str = "cnn",
    schema: str = "reduced",
    ckpt: str | None = None,
    micro_batch: int | None = None,
) -> DataFrame:
    """Per-bag per-relation score vector, with the scoring FUSED INTO
    the bag kernel: (h_id, t_id, n_sentences, scores).

    method: 'att' (bag_attention.py:136-164), 'avg'
    (bag_average.py:117-131) or 'one' (bag_one.py:140-148). encoder:
    'cnn', 'pcnn', 'bert' or 'bert_entity'.

    The bag exchange carries the ~200 B/row scoring inputs instead of
    the (H,)-dim rep (guide §2.3 "shuffle keys and metadata instead of
    payloads"). Rows shuffle by (h_id, t_id) into one partition per
    task slot (scoring._score_parts; without the count AQE would
    coalesce the exchange into one task), external-sort by the stable
    member key, and ONE mapInArrow pass scores each record batch
    (operators.scoring._batch_scorer, the scorer every scoring path
    uses) and streams the rep rows (att/avg) or softmax scores (one)
    straight into the bag walk — neither exists outside Python.

    Input flavours (detected by column): an encode_instances() table
    (tok_bin/h_start/t_start/n_tok; CNN/PCNN only) or raw instance rows
    (text/h_begin/h_end/t_begin/t_end; every encoder).

    bag_cap > 0 keeps the first bag_cap members of the stable order and
    never scores the rest. bag_size > 0 enables the reference's
    fixed-size resize (data_loader.py:185-190): sample-down without
    replacement / pad-up with replacement, seeded per bag key (see
    resize_bag); it supersedes bag_cap.

    Bag scores may move ~1e-7 with Arrow batch composition (batch size,
    partitioning, the cap): fused-GEMM float32 results depend on which
    rows share a micro-batch. Member selection, stable ordering and
    n_sentences do not move. For parity debugging, compare against the
    per-group reference `bag_scores` in tests/oracle/bag_route.py.
    """
    if method not in ("att", "avg", "one"):
        raise ValueError(f"unknown bag method {method!r}")
    from .. import config

    encoded_input = "tok_bin" in instances.columns
    if encoded_input and encoder not in ("cnn", "pcnn"):
        raise ValueError("encoded bag input supports the cnn/pcnn encoders only")
    mb = micro_batch if micro_batch is not None else config.EVAL_MICRO_BATCH
    sort_cols = [c for c in _SORT_COLS if c in instances.columns]
    score_cols = (
        ["tok_bin", "h_start", "t_start", "n_tok"]
        if encoded_input
        else ["text", "h_begin", "h_end", "t_begin", "t_end"]
    )
    cols = ["h_id", "t_id"] + sort_cols + [
        c for c in score_cols if c not in sort_cols
    ]
    part = (
        instances.select(*cols)
        .repartition(_score_parts(instances.sparkSession), "h_id", "t_id")
        .sortWithinPartitions("h_id", "t_id", *sort_cols)
    )
    with_rep = method != "one"

    def bag_kernel(batches):
        from .scoring import _batch_scorer

        # one model: the scoring kernel and the bag kernel share it
        weights, score = _batch_scorer(
            encoder, schema, ckpt, with_rep, micro_batch=mb,
            encoded=encoded_input,
        )
        pick = 1 if with_rep else 0
        yield from _bag_walk(
            batches, lambda rb: score(rb)[pick], method, weights,
            bag_cap, bag_size, bag_seed,
        )

    return part.mapInArrow(bag_kernel, schema=BAG_SCHEMA)


def _bag_walk(batches, score, method, weights, bag_cap, bag_size, bag_seed):
    """Streaming walk over (h_id, t_id)-sorted record batches: find the
    bag boundaries, score the rows each bag keeps, assemble each bag's
    stable-ordered member matrix (carrying at most one open bag across
    batch boundaries), run the bag kernel, emit BAG_SCHEMA record
    batches. `score(rb)` returns the (n_rows, d) float32 member matrix
    of a batch.

    The cap acts before scoring: a member past the first bag_cap of its
    bag never reaches the encoder. The bag_size resize scores every
    member, because pad-with-replacement samples from all of them."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from .scoring import _list_f32

    capped = bag_cap > 0 and bag_size == 0
    # carry state for a bag spanning record-batch boundaries
    cur_key: tuple | None = None
    cur_parts: list[np.ndarray] = []
    cur_kept = 0  # member rows scored so far
    cur_n = 0  # true member count (the cap drops rows past bag_cap)

    def finish():
        nonlocal cur_key, cur_parts, cur_kept, cur_n
        h_id, t_id = cur_key
        mat = np.concatenate(cur_parts, 0) if len(cur_parts) != 1 else cur_parts[0]
        if bag_size > 0:
            mat = mat[resize_indices(cur_n, bag_size, h_id, t_id, bag_seed)]
        if method == "one":
            out = kernels.bag_one_eval(mat)
        elif method == "att":
            out = kernels.bag_attention_eval(mat, weights)
        else:
            out = kernels.bag_average_eval(mat, weights)
        row = (h_id, t_id, len(mat), out.astype(np.float32))
        cur_key, cur_parts, cur_kept, cur_n = None, [], 0, 0
        return row

    def emit(rows):
        return pa.RecordBatch.from_arrays(
            [
                pa.array([x[0] for x in rows], type=pa.string()),
                pa.array([x[1] for x in rows], type=pa.string()),
                pa.array(
                    np.asarray([x[2] for x in rows], dtype=np.int32),
                    type=pa.int32(),
                ),
                _list_f32(np.stack([x[3] for x in rows])),
            ],
            names=["h_id", "t_id", "n_sentences", "scores"],
        )

    for rb in batches:
        n = rb.num_rows
        if not n:
            continue
        ha, ta = rb.column("h_id"), rb.column("t_id")
        if n > 1:
            chg = pc.or_(
                pc.not_equal(ha.slice(1), ha.slice(0, n - 1)),
                pc.not_equal(ta.slice(1), ta.slice(0, n - 1)),
            )
            bounds = np.flatnonzero(chg.to_numpy(zero_copy_only=False)) + 1
        else:
            bounds = np.empty(0, dtype=np.int64)
        starts = np.concatenate(([0], bounds))
        sizes = np.diff(np.concatenate((starts, [n])))
        first = pa.array(starts, type=pa.int64())
        keys = list(zip(ha.take(first).to_pylist(), ta.take(first).to_pylist()))
        # rows each run keeps: every run but the first opens a new bag;
        # the first may continue the bag left open by the previous batch
        takes = sizes
        if capped:
            room = np.full(len(starts), bag_cap)
            if keys[0] == cur_key:
                room[0] = bag_cap - cur_kept
            takes = np.minimum(sizes, room)
        kept_at = np.cumsum(takes) - takes
        n_kept = int(takes.sum())
        if n_kept == n:
            mat = score(rb)
        elif n_kept:
            idx = np.arange(n_kept) + np.repeat(starts - kept_at, takes)
            mat = score(rb.take(pa.array(idx)))
        done: list[tuple] = []
        for i, key in enumerate(keys):
            if cur_key is not None and key != cur_key:
                done.append(finish())
            cur_key = key
            if takes[i]:
                cur_parts.append(mat[kept_at[i] : kept_at[i] + takes[i]])
                cur_kept += int(takes[i])
            cur_n += int(sizes[i])
        # a run only ENDS when the next key differs, so the final run
        # stays open until the next batch (or EOF)
        if done:
            yield emit(done)
    if cur_key is not None:
        yield emit([finish()])


def explode_bag_scores(bags: DataFrame, id2rel: dict[int, str]) -> DataFrame:
    """Bag score vectors -> (h_id, t_id, relation, score) rows for every
    non-NA relation — the reference's prediction-record emission
    (bag_re.py:172-179) incl. the NA filter (P3).
    """
    spark = bags.sparkSession
    rels = spark.createDataFrame(
        [(i, r) for i, r in sorted(id2rel.items())], "rel_id int, relation string"
    )
    per_rel = bags.select(
        "h_id", "t_id", "n_sentences",
        F.posexplode("scores").alias("rel_id", "score"),
    )
    return (
        per_rel.join(F.broadcast(rels), "rel_id")
        .filter(F.col("relation") != "NA")
        .select("h_id", "t_id", "relation", "score", "n_sentences")
    )
