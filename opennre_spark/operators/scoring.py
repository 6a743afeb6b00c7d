"""Batched relation scoring: the fused tokenize -> encode -> classify
kernel (SURVEY.md §2.10 `tokenize_encode_score`).

Replaces the reference's per-item `SoftmaxNN.infer` (softmax_nn.py:28-39)
and the bag eval's 256-row encoder micro-batching
(bag_attention.py:138-150) with one mapInArrow pass: Arrow delivers
columnar RecordBatches, tokenization is per-row string work inside the
batch, all dense math is one numpy GEMM per micro-batch. No per-row
Python UDF anywhere (north rule).

Arrow-boundary hygiene (measured: this is where composed-plan time
went): only the columns downstream actually consumes cross the
Python<->JVM boundary — `text` and span columns are consumed inside the
UDF and never emitted; the per-relation score vector and the (H,)-dim
rep are emitted only on request (bag modes need them, sentence argmax
does not).

Model weights: deterministic (seed-frozen) weight dicts are rebuilt once
per executor process via an lru_cache (cheaper than shipping arrays —
they are a pure function of the seed).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .. import config

# consumed inside the UDF, never re-emitted (h_begin/t_begin stay: they
# are part of the bag stable-ordering key, and they're cheap ints)
_CONSUMED = ("text", "h_end", "t_end", "h_name", "t_name")


def _score_parts(spark) -> int:
    """Partition count of a scoring stage: one task per task slot.

    Scoring is CPU-bound numpy (~40 us/row) over ~200 B rows, so AQE's
    byte-based coalescing would fold it into one or two tasks; an
    explicit count is never coalesced. More tasks than slots buy no
    parallelism, and each Python task has a fixed start-up cost, so the
    count is the slot count (DS2, OSDI'18: size parallelism from slots
    and rates, not a fixed floor)."""
    return spark.sparkContext.defaultParallelism


# --- Arrow-native batch plumbing (r6) ---------------------------------
# The scoring stages are mapInArrow, not mapInPandas: the pandas
# round-trip materialized a python object per cell for binary and
# array<float> columns (bytes for tok_bin, one numpy object per row for
# scores/rep), which measurably taxed the Python boundary. RecordBatch
# in / RecordBatch out keeps every fixed-width column zero-copy and
# builds variable-width outputs from ONE flat buffer + an offsets
# vector. The numpy arrays handed to the kernels are bit-identical to
# what the pandas path produced, so scoring parity is unaffected
# (test_encoded_scoring_bitwise_parity pins exact float equality).


def _list_f32(mat: np.ndarray):
    """(n, d) float32 -> Arrow list<float32> from one flat buffer."""
    import pyarrow as pa

    n, d = mat.shape
    flat = np.ascontiguousarray(mat, dtype=np.float32).reshape(-1)
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(flat, type=pa.float32()))


def _list_i32(mat: np.ndarray):
    """(n, d) ints -> Arrow list<int32> from one flat buffer."""
    import pyarrow as pa

    n, d = mat.shape
    flat = np.ascontiguousarray(mat.astype(np.int32, copy=False)).reshape(-1)
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(flat, type=pa.int32()))


def _binary_from_block(block: np.ndarray):
    """(n, L) little-endian int32 -> Arrow binary (n items, L*4 bytes
    each) via one data buffer + an arithmetic offsets vector."""
    import pyarrow as pa

    n, L = block.shape
    item = L * 4
    data = pa.py_buffer(np.ascontiguousarray(block.astype("<i4", copy=False)).tobytes())
    offsets = pa.py_buffer(
        np.arange(0, (n + 1) * item, item, dtype=np.int32).tobytes()
    )
    return pa.Array.from_buffers(pa.binary(), n, [None, offsets, data])


def _tokens_from_binary(arr, L: int) -> np.ndarray:
    """Arrow binary array of uniform L*4-byte items -> (n, L) int32,
    zero-copy off the values buffer (offsets in Arrow binary layout are
    monotone and adjacent, so uniform item length implies a contiguous
    block)."""
    n = len(arr)
    item = L * 4
    off = np.frombuffer(arr.buffers()[1], dtype=np.int32)[
        arr.offset : arr.offset + n + 1
    ]
    if n and np.all(np.diff(off) == item):
        flat = np.frombuffer(
            arr.buffers()[2], dtype="<i4", offset=int(off[0]), count=n * L
        )
        return flat.reshape(n, L)
    # non-uniform items cannot come from _binary_from_block; defensive
    return np.frombuffer(b"".join(arr.to_pylist()), dtype="<i4").reshape(n, L)


def _int_col(rb, name: str) -> np.ndarray:
    return rb.column(name).to_numpy(zero_copy_only=False)


def _score_token_block(
    token: np.ndarray,
    h_start: np.ndarray,
    t_start: np.ndarray,
    n_real: np.ndarray,
    weights: dict,
    pcnn: bool,
    classifier: str,
    micro_batch: int,
    with_rep: bool,
):
    """Length-sorted micro-batched CNN/PCNN scoring over encoded rows
    (r7, guide §1.2 per-task work): rows are processed in ascending
    n_real order, so each micro-batch's exact length truncation
    (kernels.cnn_forward Lc = batch max + 1) pays for its own lengths
    instead of the whole batch's max — one long row no longer forces
    every short row in its micro-batch through full-length conv GEMMs
    (measured: +19% kernel rows/s solo at the corpus length mix, more
    under 32-worker bandwidth contention). Outputs are scattered back
    to input order before emission.

    Exactness: a row's conv/pool output is a pure function of the row
    (the truncation shortcut is exact — see cnn_forward), so ordering
    only changes fused-GEMM micro-batch composition, the same
    documented ~1e-7 float32 variance the plan already exhibits across
    cluster sizes / the encoded-vs-fused split. score_instances and
    score_encoded share THIS function, so aligned-batch bitwise parity
    between the two paths is structural.

    Returns (pr (B, N) float32, rep (B, H) float32 | None).
    """
    from ..functions import kernels
    from ..functions.encoding import positions_from_starts

    n = len(n_real)
    L = token.shape[1]
    order = np.argsort(n_real, kind="stable")
    probs = []
    reps = []
    for lo in range(0, n, micro_batch):
        idx = order[lo : lo + micro_batch]
        batch = {
            "token": token[idx],
            "n_real": n_real[idx],
            **positions_from_starts(
                h_start[idx], t_start[idx], n_real[idx], L, with_mask=pcnn
            ),
        }
        rep, pr = kernels.sentence_scores(batch, weights, pcnn=pcnn)
        if classifier == "sigmoid":
            logits = kernels.linear(rep, weights["fc_w"], weights["fc_b"])
            pr = kernels.sigmoid(logits)
        probs.append(pr)
        if with_rep:
            reps.append(rep)
    pr_s = np.concatenate(probs, 0) if len(probs) > 1 else probs[0]
    pr = np.empty_like(pr_s)
    pr[order] = pr_s
    rep = None
    if with_rep:
        rep_s = np.concatenate(reps, 0) if len(reps) > 1 else reps[0]
        rep = np.empty_like(rep_s)
        rep[order] = rep_s
    return pr, rep


def _score_bert_block(
    token: np.ndarray,
    att_mask: np.ndarray,
    pos1: np.ndarray,
    pos2: np.ndarray,
    weights: dict,
    rep_fn,
    classifier: str,
    micro_batch: int,
    with_rep: bool,
):
    """Length-sorted, length-TRUNCATED micro-batched BERT scoring (r7,
    guide §1.2): the transformer previously ran every row at the full
    padded L=64 while the corpus's real lengths average ~24 (max ~34) —
    attention scores are O(L^2) and every projection O(L), so slicing
    each micro-batch to its own max real length (rounded up to a
    multiple of 8 to bound scratch-buffer shapes) cuts the kernel to
    0.39x measured. Sorting rows by real length first keeps each
    micro-batch's max tight.

    Exactness: a padded position's attention weight is exp(-10000 +
    s - max) which underflows to exactly 0.0 in float32, and x + 0.0
    == x in IEEE round-to-nearest, so dropping pad columns from the
    attention reduction leaves every content position's hidden state
    (and the CLS/entity gathers — both < real length by construction)
    unchanged; remaining deltas are BLAS layout-blocking noise inside
    the path's documented 2e-5 parity tolerance (see bert_forward).

    Returns (pr (B, N) float32, rep (B, H) float32 | None).
    """
    from ..functions import kernels

    n = token.shape[0]
    L = token.shape[1]
    avail = att_mask.sum(axis=1)
    order = np.argsort(avail, kind="stable")
    probs = []
    reps = []
    for lo in range(0, n, micro_batch):
        idx = order[lo : lo + micro_batch]
        Lb = int(min(L, -(-int(avail[idx].max()) // 8) * 8))
        rep = rep_fn(
            np.ascontiguousarray(token[idx][:, :Lb]),
            np.ascontiguousarray(att_mask[idx][:, :Lb]),
            pos1[idx],
            pos2[idx],
            weights,
        )
        logits = rep @ weights["fc_w"].T + weights["fc_b"]
        if classifier == "sigmoid":
            pr = kernels.sigmoid(logits)
        else:
            pr = kernels.softmax(logits, axis=-1)
        probs.append(pr)
        if with_rep:
            reps.append(rep)
    pr_s = np.concatenate(probs, 0) if len(probs) > 1 else probs[0]
    pr = np.empty_like(pr_s)
    pr[order] = pr_s
    rep = None
    if with_rep:
        rep_s = np.concatenate(reps, 0) if len(reps) > 1 else reps[0]
        rep = np.empty_like(rep_s)
        rep[order] = rep_s
    return pr, rep


def _batch_scorer(
    encoder: str,
    schema: str,
    ckpt: str | None,
    with_rep: bool,
    classifier: str = "softmax",
    micro_batch: int = config.EVAL_MICRO_BATCH,
    encoded: bool = False,
):
    """Executor-side scoring shared by score_instances, score_encoded
    and bags.bag_scores_fused. Loads the model once and returns
    (weights, score), where score(rb) -> (pr (n, N) float32,
    rep (n, H) float32 | None) for one non-empty record batch.

    encoded=True reads an encode_instances() batch (tok_bin, h_start,
    t_start, n_tok; CNN/PCNN only); otherwise the raw text + h_begin/
    h_end/t_begin/t_end spans for any of the four encoders. The BERT
    weights carry the att_diag of ones the bag attention kernel reads
    (bag_attention.py:29) when no checkpoint supplies one.
    """
    if encoder in ("bert", "bert_entity"):
        from ..functions import bert_kernels
        from ..functions.bert_encoding import bert_encode_batch

        vocab, weights = bert_kernels.default_bert_model(
            entity=(encoder == "bert_entity"), schema=schema, ckpt=ckpt
        )
        if "att_diag" not in weights:
            weights = dict(weights)
            weights["att_diag"] = np.ones(weights["fc_w"].shape[1], np.float32)
        rep_fn = (
            bert_kernels.bert_entity_rep
            if encoder == "bert_entity"
            else bert_kernels.bert_cls_rep
        )

        def score(rb):
            enc = bert_encode_batch(
                rb.column("text").to_pylist(),
                _int_col(rb, "h_begin"), _int_col(rb, "h_end"),
                _int_col(rb, "t_begin"), _int_col(rb, "t_end"),
                vocab, config.BERT_MAX_LENGTH,
            )
            return _score_bert_block(
                enc["token"], enc["att_mask"], enc["pos1"], enc["pos2"],
                weights, rep_fn, classifier, micro_batch, with_rep,
            )

        return weights, score

    from ..functions.encoding import encode_tokens_batch
    from ..functions.weights import default_model

    vocab, weights = default_model(
        pcnn=(encoder == "pcnn"), schema=schema, ckpt=ckpt
    )
    pcnn = encoder == "pcnn"
    L = int(weights["max_length"])

    def score(rb):
        if encoded:
            tok_col = rb.column("tok_bin")
            item = len(tok_col[0].as_py())
            if item != L * 4:
                # fail with the real cause instead of an opaque
                # frombuffer/reshape error deep in the decode
                raise ValueError(
                    f"encoded table was built at max_length L={item // 4}, "
                    f"but the checkpoint/schema expects L={L} — re-run "
                    "encode_instances against the same model configuration"
                )
            token = _tokens_from_binary(tok_col, L).astype(np.int64)
            h_start = _int_col(rb, "h_start").astype(np.int64)
            t_start = _int_col(rb, "t_start").astype(np.int64)
            n_real = _int_col(rb, "n_tok").astype(np.int64)
        else:
            # tokenize the WHOLE record batch once (per-row string work,
            # identical results under any batching), then the shared
            # length-sorted GEMM block — the same code path as the
            # encoded flavour, so aligned-batch parity is structural
            enc = encode_tokens_batch(
                rb.column("text").to_pylist(),
                _int_col(rb, "h_begin"), _int_col(rb, "h_end"),
                _int_col(rb, "t_begin"), _int_col(rb, "t_end"),
                vocab, L, vocab["[PAD]"], vocab["[UNK]"],
            )
            token, h_start, t_start, n_real = (
                enc["token"], enc["p1_start"], enc["p2_start"], enc["n_real"]
            )
        return _score_token_block(
            token, h_start, t_start, n_real, weights, pcnn, classifier,
            micro_batch, with_rep,
        )

    return weights, score


def _emit_scored(rb, keep_names, pr, rep, with_scores: bool, with_rep: bool):
    """Output RecordBatch: kept input columns by reference + the
    prediction columns from flat numpy."""
    import pyarrow as pa

    cols = [rb.column(nm) for nm in keep_names]
    names = list(keep_names)
    cols.append(pa.array(pr.argmax(axis=1).astype(np.int32), type=pa.int32()))
    names.append("pred_rel_id")
    cols.append(pa.array(pr.max(axis=1).astype(np.float32), type=pa.float32()))
    names.append("pred_score")
    if with_scores:
        cols.append(_list_f32(pr))
        names.append("scores")
    if with_rep:
        cols.append(_list_f32(rep))
        names.append("rep")
    return pa.RecordBatch.from_arrays(cols, names=names)


def _score_frame(
    df: DataFrame, consumed, encoder: str, schema: str, ckpt,
    with_rep: bool, with_scores: bool, classifier: str, micro_batch: int,
    encoded: bool,
) -> DataFrame:
    """The mapInArrow stage behind score_instances and score_encoded:
    the non-consumed input columns plus pred_rel_id, pred_score
    [, scores] [, rep]."""
    keep = [f for f in df.schema.fields if f.name not in consumed]
    out_fields = list(keep) + [
        T.StructField("pred_rel_id", T.IntegerType(), False),
        T.StructField("pred_score", T.FloatType(), False),
    ]
    if with_scores:
        out_fields.append(T.StructField("scores", T.ArrayType(T.FloatType()), False))
    if with_rep:
        out_fields.append(T.StructField("rep", T.ArrayType(T.FloatType()), False))
    keep_names = [f.name for f in keep]

    def score_kernel(batches: Iterator) -> Iterator:
        _, score = _batch_scorer(
            encoder, schema, ckpt, with_rep, classifier, micro_batch,
            encoded=encoded,
        )
        for rb in batches:
            if rb.num_rows:
                pr, rep = score(rb)
                yield _emit_scored(rb, keep_names, pr, rep, with_scores, with_rep)

    return df.mapInArrow(score_kernel, schema=T.StructType(out_fields))


def score_instances(
    instances: DataFrame,
    with_rep: bool = False,
    with_scores: bool = False,
    micro_batch: int = config.EVAL_MICRO_BATCH,
    consumed: tuple = _CONSUMED,
    schema: str = "reduced",
    encoder: str = "cnn",
    classifier: str = "softmax",
    ckpt: str | None = None,
) -> DataFrame:
    """Score instance rows; returns the non-consumed input columns plus
    pred_rel_id int, pred_score float [, scores array<float>]
    [, rep array<float>].

    Input needs: text, h_begin, h_end, t_begin, t_end.
    Narrow transformation — runs wherever the instances already live.

    encoder: 'cnn' (default), 'pcnn', 'bert' (CLS pooler,
    bert_encoder.py:7-103) or 'bert_entity' (entity-start gather,
    bert_encoder.py:106-215).
    classifier: 'softmax' (SoftmaxNN, softmax_nn.py:53-54) or 'sigmoid'
    (SigmoidNN multi-label scoring, sigmoid_nn.py:39-40).
    ckpt: optional exported .npz state dict (S4 checkpoint source) —
    weights.load_state_dict_npz for CNN/PCNN, bert_kernels.
    load_bert_state_dict_npz for the BERT encoders.
    """
    return _score_frame(
        instances, consumed, encoder, schema, ckpt, with_rep, with_scores,
        classifier, micro_batch, encoded=False,
    )


def encode_instances(
    instances: DataFrame,
    consumed: tuple = _CONSUMED,
    schema: str = "reduced",
) -> DataFrame:
    """Tokenize + vocab-encode instance rows ONCE, for reuse by several
    scoring consumers (reference behavior: one tokenize pass at data
    load feeds every consumer, data_loader.py:183-205).

    Emits the non-consumed input columns plus the minimal encoded state:
      tok_bin binary — the L token ids packed little-endian int32
                       (L*4 bytes; comparable Arrow weight to the raw
                       text it replaces),
      h_start, t_start, n_tok int — token-level entity starts + real
                       length, from which pos1/pos2/mask are pure
                       vectorized functions (positions_from_starts).

    score_encoded(encode_instances(df)) is bit-identical to
    score_instances(df) for the CNN/PCNN path on aligned Arrow batches:
    same per-row tokenize code, same positional reconstruction, same
    kernels (proven by test_encoded_scoring_bitwise_parity; differently
    composed batches move fused-GEMM float32 results ~1e-7, inside the
    1e-6 parity bar). Persist /
    localCheckpoint the result when several queries consume one corpus —
    each consumer then skips the mention scan, the candidate join
    shuffle, and the per-row string work.

    CNN/PCNN only: the word-level tokenizer is the shared front half of
    both; the BERT path has its own encoder (and its encode cost is
    negligible next to the transformer GEMMs, so sharing buys nothing).
    """
    keep = [f for f in instances.schema.fields if f.name not in consumed]
    out_fields = list(keep) + [
        T.StructField("tok_bin", T.BinaryType(), False),
        T.StructField("h_start", T.IntegerType(), False),
        T.StructField("t_start", T.IntegerType(), False),
        T.StructField("n_tok", T.IntegerType(), False),
    ]
    out_schema = T.StructType(out_fields)
    keep_names = [f.name for f in keep]

    def encode_kernel(batches: Iterator) -> Iterator:
        import pyarrow as pa

        from ..functions.encoding import encode_tokens_batch
        from ..functions.weights import default_model

        vocab, weights = default_model(schema=schema)
        pad_id = vocab["[PAD]"]
        unk_id = vocab["[UNK]"]
        L = int(weights["max_length"])
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            enc = encode_tokens_batch(
                rb.column("text").to_pylist(),
                _int_col(rb, "h_begin"),
                _int_col(rb, "h_end"),
                _int_col(rb, "t_begin"),
                _int_col(rb, "t_end"),
                vocab, L, pad_id, unk_id,
            )
            cols = [rb.column(nm) for nm in keep_names]
            names = list(keep_names)
            cols.append(_binary_from_block(enc["token"]))
            names.append("tok_bin")
            for out_name, key in (
                ("h_start", "p1_start"),
                ("t_start", "p2_start"),
                ("n_tok", "n_real"),
            ):
                cols.append(
                    pa.array(enc[key].astype(np.int32), type=pa.int32())
                )
                names.append(out_name)
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return instances.mapInArrow(encode_kernel, schema=out_schema)


def score_encoded(
    encoded: DataFrame,
    with_rep: bool = False,
    with_scores: bool = False,
    micro_batch: int = config.EVAL_MICRO_BATCH,
    schema: str = "reduced",
    encoder: str = "cnn",
    classifier: str = "softmax",
    ckpt: str | None = None,
) -> DataFrame:
    """The GEMM half of score_instances, over encode_instances output.

    Consumes tok_bin/h_start/t_start/n_tok (never re-emitted) and
    returns the remaining columns plus pred_rel_id, pred_score
    [, scores] [, rep] — bit-identical to score_instances on the same
    rows (shared tokenizer, shared positions_from_starts, shared
    kernels; asserted by tests/test_pipeline.py).
    """
    if encoder not in ("cnn", "pcnn"):
        raise ValueError(
            f"score_encoded supports cnn/pcnn, got {encoder!r} "
            "(the BERT path encodes inline — see encode_instances docstring)"
        )
    return _score_frame(
        encoded, ("tok_bin", "h_start", "t_start", "n_tok"), encoder, schema,
        ckpt, with_rep, with_scores, classifier, micro_batch, encoded=True,
    )
