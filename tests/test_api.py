"""The Easy-Start facade (opennre_spark.api): get_model + infer parity
with the distributed scoring path (README.md:97-109, pretrain.py:
126-180, softmax_nn.py:28-39)."""

from __future__ import annotations

import math
import os

import numpy as np
import pytest

from opennre_spark import api

ITEMS = [
    {
        "text": "alice runs the acme corp office in berlin",
        "h": {"pos": (0, 5)},
        "t": {"pos": (15, 24)},
    },
    {
        "text": "bob visited the museum with carol yesterday",
        "h": {"pos": (0, 3)},
        "t": {"pos": (28, 33)},
    },
]


def test_readme_shape_and_types():
    model = api.get_model("wiki80_cnn_softmax")
    rel, score = model.infer(ITEMS[0])
    assert rel in model.rel2id
    assert isinstance(score, float) and 0.0 <= score <= 1.0


@pytest.mark.parametrize(
    "name", ["reduced_cnn_softmax", "nyt10_pcnn_softmax",
             "wiki80_bert_softmax"]
)
def test_infer_matches_spark_scoring(spark, name):
    """Driver-side infer == the distributed score_instances decisions
    and scores, exactly, for every encoder family: both run the
    executors' scorer over the same record batch (one partition)."""
    from opennre_spark.operators.scoring import score_instances

    model = api.get_model(name)
    rows = [
        (
            it["text"], it["h"]["pos"][0], it["h"]["pos"][1],
            it["t"]["pos"][0], it["t"]["pos"][1],
            f"h{i}", f"t{i}", f"c{i}", i, i,
        )
        for i, it in enumerate(ITEMS)
    ]
    inst = spark.createDataFrame(
        rows,
        "text string, h_begin int, h_end int, t_begin int, t_end int, "
        "h_id string, t_id string, conv_id string, turn_idx int, "
        "pair_turn_idx int",
    )
    scored = {
        r["h_id"]: (r["pred_rel_id"], r["pred_score"])
        for r in score_instances(
            inst.coalesce(1), schema=model.schema, encoder=model.encoder
        ).collect()
    }
    got = model.infer_batch(ITEMS)
    for i, (rel, score) in enumerate(got):
        rid, sc = scored[f"h{i}"]
        assert model.rel2id[rel] == rid
        assert score == sc


def test_token_input_variant_matches_text():
    """The reference's second input convention — pre-split 'token' list
    with TOKEN-index spans (base_encoder.py:91-98) — must score like
    the equivalent text form."""
    model = api.get_model("reduced_cnn_softmax")
    text_item = ITEMS[0]
    tokens = text_item["text"].split()
    token_item = {
        "token": tokens,
        "h": {"pos": (0, 1)},   # 'alice'
        "t": {"pos": (3, 5)},   # 'acme corp'
    }
    rel_a, score_a = model.infer(text_item)
    rel_b, score_b = model.infer(token_item)
    assert rel_a == rel_b
    assert math.isclose(score_a, score_b, rel_tol=0, abs_tol=1e-6)


def test_unknown_name_raises():
    # the reference's trailing else (pretrain.py:177-178) — genuinely
    # unknown names only; tacred names are NOT in this category
    with pytest.raises(NotImplementedError):
        api.get_model("nonexistent_model_softmax")


# TACRED-shaped rel2id (Zhang et al. 2017's public inventory shape:
# no_relation at 0 + org:/per: predicates). The reference downloads
# tacred_rel2id.json at runtime (pretrain.py:163-171), so the exported
# checkpoint's embedded __rel2id__ is the authoritative label map here
# — these names exercise the shape, the route does not depend on them.
_TACRED_RELS = ["no_relation"] + [
    "org:alternate_names", "org:city_of_headquarters",
    "org:country_of_headquarters", "org:dissolved", "org:founded",
    "org:founded_by", "org:member_of", "org:members",
    "org:number_of_employees/members", "org:parents",
    "org:political/religious_affiliation", "org:shareholders",
    "org:stateorprovince_of_headquarters", "org:subsidiaries",
    "org:top_members/employees", "org:website", "per:age",
    "per:alternate_names", "per:cause_of_death", "per:charges",
    "per:children", "per:cities_of_residence", "per:city_of_birth",
    "per:city_of_death", "per:countries_of_residence",
    "per:country_of_birth", "per:country_of_death", "per:date_of_birth",
    "per:date_of_death", "per:employee_of", "per:origin",
    "per:other_family", "per:parents", "per:religion",
    "per:schools_attended", "per:siblings", "per:spouse",
    "per:stateorprovince_of_birth", "per:stateorprovince_of_death",
    "per:stateorprovinces_of_residence", "per:title",
]


def _make_tacred_ckpt(tmp_path, entity: bool) -> tuple[str, dict]:
    """A tacred-shaped exported BERT checkpoint: engine BERT weights
    with a 42-row classifier and the tacred rel2id embedded — the
    shape tools/export_ckpt.py produces from a real
    tacred_bert(entity)_softmax .pth.tar."""
    from opennre_spark.functions.bert_kernels import (
        default_bert_model,
        save_bert_state_dict_npz,
    )

    rel2id = {r: i for i, r in enumerate(_TACRED_RELS)}
    _, W = default_bert_model(entity=entity)
    W = dict(W)
    rep = W["fc_w"].shape[1]
    rng = np.random.default_rng(42)
    W["fc_w"] = rng.standard_normal((len(rel2id), rep)).astype(np.float32)
    W["fc_b"] = rng.standard_normal(len(rel2id)).astype(np.float32)
    path = str(tmp_path / f"tacred_{'entity' if entity else 'cls'}.npz")
    save_bert_state_dict_npz(W, path, rel2id=rel2id, keep_diag=False)
    return path, rel2id


@pytest.mark.parametrize("name,entity", [
    ("tacred_bert_softmax", False),
    ("tacred_bertentity_softmax", True),
])
def test_tacred_names_resolve_with_ckpt(tmp_path, name, entity):
    """The reference supports tacred names (pretrain.py:163-176); here
    they resolve when ckpt= supplies the label map via the embedded
    __rel2id__, and raise with a pointed message when it does not."""
    with pytest.raises(NotImplementedError, match="needs ckpt="):
        api.get_model(name)
    path, rel2id = _make_tacred_ckpt(tmp_path, entity)
    model = api.get_model(name, ckpt=path)
    assert model.rel2id == rel2id
    rel, score = model.infer(ITEMS[0])
    assert rel in rel2id and 0.0 < score <= 1.0
    # the 42-row classifier came from the checkpoint, not a fixture
    assert model._weights["fc_w"].shape[0] == len(rel2id)


def test_ckpt_route():
    """ckpt= loads an exported S4 .npz — same knob as every pipeline
    entry point."""
    fx = os.path.join(
        os.path.dirname(__file__), "..", "fixtures", "ckpt_reduced_cnn.npz"
    )
    base = api.get_model("reduced_cnn_softmax")
    model = api.get_model("reduced_cnn_softmax", ckpt=fx)
    rel, score = model.infer(ITEMS[0])
    assert rel in model.rel2id and 0.0 <= score <= 1.0
    # the checkpoint's weights differ from the seed-frozen defaults
    assert not np.array_equal(model._weights["fc_w"], base._weights["fc_w"])
