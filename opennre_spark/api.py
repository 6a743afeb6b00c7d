"""The reference's "Easy Start" surface (README.md:97-109):

    >>> model = opennre.get_model('wiki80_cnn_softmax')
    >>> model.infer({'text': '...', 'h': {'pos': (18, 46)},
    ...              't': {'pos': (78, 91)}})
    ('father', 0.5108704566955566)

re-expressed for this engine: `get_model(name)` resolves the reference
model names (pretrain.py:126-180) to (schema, encoder) configs and
returns a driver-side Model whose `infer(item)` runs the SAME numpy
kernels the Spark pipeline broadcasts — one instance, no SparkSession
needed — mirroring `SoftmaxNN.infer` (softmax_nn.py:28-39: tokenize ->
forward -> softmax -> argmax -> id2rel). `extract_triples` remains the
distributed path; this facade exists so a reference user's interactive
snippets port one-to-one.

Deltas from the reference, by necessity: no downloads (pretrain.py
fetches checkpoints/GloVe from an OSS bucket — out of scope per
SURVEY.md §2.1 S5); weights are the engine's seed-frozen stand-ins
unless `ckpt=` supplies an exported .npz (tools/export_ckpt.py), so
scores are only reference-exact when a real exported checkpoint is
given. The reference SUPPORTS tacred_bert_softmax /
tacred_bertentity_softmax (pretrain.py:163-176, downloading the
tacred rel2id at runtime); here those names require `ckpt=` because
the label map must come from the exported checkpoint's embedded
`__rel2id__` (no tacred rel2id file exists in either tree) — with a
ckpt they resolve exactly like the reference's branch.
"""

from __future__ import annotations

import numpy as np

from . import relations

# reference get_model names (pretrain.py:129,149,163) -> (schema, encoder);
# plus engine-native names for the schemas/encoders the reference serves
# through other entry points
_NAME_MAP = {
    "wiki80_cnn_softmax": ("wiki80", "cnn"),
    "wiki80_bert_softmax": ("wiki80", "bert"),
    "wiki80_bertentity_softmax": ("wiki80", "bert_entity"),
    # engine extensions: the same constructors the reference builds in
    # its example scripts, addressable by the same naming convention
    "nyt10_cnn_softmax": ("nyt10", "cnn"),
    "nyt10_pcnn_softmax": ("nyt10", "pcnn"),
    "reduced_cnn_softmax": ("reduced", "cnn"),
}

# reference names whose rel2id the reference downloads at runtime
# (pretrain.py:163-171) — servable here only through an exported
# checkpoint's embedded __rel2id__ (relations.ckpt_rel2id)
_CKPT_SCHEMA_NAMES = {
    "tacred_bert_softmax": "bert",
    "tacred_bertentity_softmax": "bert_entity",
}


def _item_fields(item: dict):
    """Instance dict -> (text, h_begin, h_end, t_begin, t_end), both
    reference input conventions (base_encoder.py:84-98): 'text' with
    CHAR offsets, or 'token' (pre-split list) with TOKEN offsets
    [start, end) — the token form is joined with single spaces and the
    offsets mapped to chars, which round-trips exactly through the
    whitespace tokenizer for tokens free of internal whitespace."""
    h_pos = tuple(item["h"]["pos"])
    t_pos = tuple(item["t"]["pos"])
    if "text" in item:
        return item["text"], h_pos[0], h_pos[1], t_pos[0], t_pos[1]
    tokens = list(item["token"])
    starts = []
    off = 0
    for tok in tokens:
        starts.append(off)
        off += len(tok) + 1
    text = " ".join(tokens)

    def span(pos):
        begin = starts[pos[0]]
        end = starts[pos[1] - 1] + len(tokens[pos[1] - 1])
        return begin, end

    hb, he = span(h_pos)
    tb, te = span(t_pos)
    return text, hb, he, tb, te


class Model:
    """Driver-side sentence-level RE model (SoftmaxNN over the chosen
    encoder) sharing the exact kernels/weights the Spark pipeline
    broadcasts — `infer` here and `extract_triples` on a cluster give
    identical decisions for identical inputs (pytest-checked)."""

    def __init__(self, schema: str, encoder: str, ckpt: str | None = None):
        from .operators.scoring import _batch_scorer

        self.schema = schema
        self.encoder = encoder
        self.rel2id = relations.rel2id_for(schema)
        self.id2rel = {v: k for k, v in self.rel2id.items()}
        self._weights, self._score = _batch_scorer(
            encoder, schema, ckpt, with_rep=False
        )

    def infer(self, item: dict) -> tuple[str, float]:
        """One instance -> (relation name, softmax confidence), the
        SoftmaxNN.infer contract (softmax_nn.py:28-39)."""
        rel, score = self.infer_batch([item])[0]
        return rel, score

    def infer_batch(self, items: list[dict]) -> list[tuple[str, float]]:
        """Vectorized rendition (the reference loops infer one item at
        a time; the math is identical): the items become one Arrow
        record batch scored by the executors' own scorer
        (scoring._batch_scorer, the one score_instances runs)."""
        import pyarrow as pa

        if not items:
            return []
        cols = list(zip(*(_item_fields(it) for it in items)))
        rb = pa.RecordBatch.from_arrays(
            [pa.array(c) for c in cols],
            names=["text", "h_begin", "h_end", "t_begin", "t_end"],
        )
        probs, _ = self._score(rb)
        out = []
        for row in probs:
            pred = int(np.argmax(row))
            out.append((self.id2rel[pred], float(row[pred])))
        return out


def get_model(model_name: str, ckpt: str | None = None) -> Model:
    """pretrain.get_model (pretrain.py:126-180) without the downloads:
    resolve a reference model name to an engine Model. `ckpt` accepts
    an exported .npz state dict (S4) for reference-exact weights.

    tacred_* names ARE supported by the reference (pretrain.py:163-176
    fetches the tacred rel2id + checkpoint at runtime); with no
    download path, they resolve here only when `ckpt=` supplies an
    export whose embedded `__rel2id__` provides the label map."""
    if model_name in _CKPT_SCHEMA_NAMES:
        if ckpt is None:
            raise NotImplementedError(
                f"{model_name!r} needs ckpt=: the reference downloads "
                "this benchmark's rel2id at runtime "
                "(pretrain.py:163-171); supply an exported .npz with "
                "an embedded __rel2id__ (tools/export_ckpt.py)"
            )
        return Model(f"ckpt:{ckpt}", _CKPT_SCHEMA_NAMES[model_name],
                     ckpt=ckpt)
    if model_name not in _NAME_MAP:
        # genuinely unknown names hit the reference's trailing else
        # (pretrain.py:177-178 `raise NotImplementedError`)
        raise NotImplementedError(
            f"unknown or unsupported model name {model_name!r}; "
            f"supported: {sorted(_NAME_MAP) + sorted(_CKPT_SCHEMA_NAMES)}"
        )
    schema, encoder = _NAME_MAP[model_name]
    return Model(schema, encoder, ckpt=ckpt)
