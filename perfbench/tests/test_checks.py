"""The output checks accept the expected output and reject perturbed ones."""

import json
import os

import numpy as np
import pytest

from perfbench import inputs, layers, reference, workloads


@pytest.fixture(scope="module")
def kg():
    model = reference.Model()
    rows = inputs.transcript_rows(
        2000, 5, lambda conv: len(reference.instances_of(conv, model.gazetteer)[1])
    )
    return reference.KGReference(rows, model)


def _rows(exp):
    return [(s, p, o, sc, n) for (s, p, o), (sc, n) in exp.triples.items()]


@pytest.mark.parametrize("mode", ["sentence", "att", "one"])
def test_expected_output_passes(kg, mode):
    exp = (
        kg.sentence_expected() if mode == "sentence"
        else kg.bag_expected(mode, 8, 0.2)
    )
    assert len(exp) > 10
    assert reference.check_triples(_rows(exp), exp) == []


@pytest.mark.parametrize("perturb", [
    "drop", "extra", "relation", "n_support", "score", "duplicate",
])
def test_perturbed_triples_are_rejected(kg, perturb):
    exp = kg.sentence_expected()
    rows = _rows(exp)
    pick = next(i for i, r in enumerate(rows) if (r[0], r[2]) not in exp.loose)
    s, p, o, sc, n = rows[pick]
    if perturb == "drop":
        del rows[pick]
    elif perturb == "extra":
        rows.append((s, "no_such_relation", o, sc, n))
    elif perturb == "relation":
        other = next(r for r in kg.model.rel2id if r not in ("NA", p))
        rows[pick] = (s, other, o, sc, n)
    elif perturb == "n_support":
        rows[pick] = (s, p, o, sc, n + 1)
    elif perturb == "score":
        rows[pick] = (s, p, o, sc + 1e-4, n)
    else:
        rows.append(rows[pick])
    assert reference.check_triples(rows, exp)


def test_traced_kg_check_covers_the_bag_tables(kg):
    wl = workloads.KGSentence("", 0)
    wl.ref, wl.expected, wl.expected_bags = kg, kg.sentence_expected(), None
    att = kg.bag_expected("att", workloads.BAG_CAP, workloads.BAG_THRESHOLD)
    one = kg.bag_expected("one", 0, workloads.BAG_THRESHOLD)
    out = (_rows(wl.expected), _rows(att), _rows(one))
    assert len(att) and len(one) and wl.check(out) == []
    errs = wl.check((out[0], out[1][1:], out[2]))
    assert errs and all(e.startswith("att ") for e in errs)


def test_scores_within_tolerance_pass(kg):
    exp = kg.sentence_expected()
    rows = [(s, p, o, sc + 0.5 * reference.SCORE_TOL, n) for s, p, o, sc, n in _rows(exp)]
    assert reference.check_triples(rows, exp) == []


def test_input_size_is_fixed_in_instances(kg):
    assert len(kg.instances) == pytest.approx(2000, abs=40)


def test_bag_cap_changes_the_expectation(kg):
    capped = kg.bag_expected("att", 2, 0.0)
    full = kg.bag_expected("att", 0, 0.0)
    assert max(n for _, n in capped.triples.values()) == 2
    assert reference.check_triples(_rows(capped), full)


def test_clusters_check():
    vecs, planted = inputs.planted_vectors(300, 16, 0.1, 1e-3, seed=3)
    roots, n_pairs, margin = reference.cosine_clusters(vecs, 0.9, block=64)
    assert n_pairs >= len(planted) and margin > 1e-6
    assert (roots <= np.arange(300)).all()
    assert (roots[planted[:, 0]] == roots[planted[:, 1]]).all()
    got = [(i, int(r)) for i, r in enumerate(roots)]
    assert reference.check_clusters(got, roots, planted) == []
    x = int(planted[0].max())  # not its cluster's minimum
    broken = [(i, i if i == x else r) for i, r in got]  # split one planted pair
    assert reference.check_clusters(broken, roots, planted)
    assert reference.check_clusters(got[:-1], roots, planted)


def test_lsh_candidate_count_matches_pair_enumeration():
    rng = np.random.default_rng(0)
    words = rng.integers(0, 1 << 8, size=200)
    want = sum(
        any(((words[i] ^ words[j]) >> (2 * b)) & 3 == 0 for b in range(4))
        for i in range(200) for j in range(i + 1, 200)
    )
    assert workloads.lsh_candidate_pairs(words, 8, 4) == want


def test_benchmark_json_names_the_reported_metrics():
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.metric_units()
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
