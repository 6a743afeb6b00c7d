"""Schema variants + pipeline options: wiki80 (80 labels, no NA),
deterministic bag cap and fixed-size resize (A2), and the fused bag
route against the per-group oracle route."""

import pytest

from opennre_spark import relations
from opennre_spark.operators.bags import bag_scores_fused
from opennre_spark.operators.candidates import candidate_pairs
from opennre_spark.operators.mentions import detect_mentions
from opennre_spark.operators.scoring import score_instances
from opennre_spark.pipeline import extract_triples
from opennre_spark.sources.transcripts import transcripts_df
from tests.oracle.bag_route import bag_scores


@pytest.fixture(scope="module")
def transcripts(spark):
    return transcripts_df(spark, 20).cache()


def test_wiki80_schema():
    rel2id = relations.wiki80_rel2id()
    assert len(rel2id) == 80
    assert "NA" not in rel2id  # supervised schema, no negative class
    assert rel2id["head of government"] == 0
    assert sorted(rel2id.values()) == list(range(80))


def test_wiki80_pipeline(spark, transcripts):
    triples = extract_triples(transcripts, mode="sentence", schema="wiki80")
    rows = triples.collect()
    assert rows
    names = set(relations.wiki80_rel2id())
    assert {r.pred for r in rows} <= names
    # no NA in the schema -> every instance contributes its argmax
    from opennre_spark.pipeline import na_rel_id

    assert na_rel_id(relations.wiki80_rel2id()) is None


def test_nyt10_schema():
    rel2id = relations.nyt10_rel2id()
    assert len(rel2id) == 53
    assert rel2id["NA"] == 0  # negative class at 0 (data_loader.py:295-301)
    assert sorted(rel2id.values()) == list(range(53))
    assert all(r == "NA" or r.startswith("/") for r in rel2id)
    # every template relation maps onto a schema predicate
    assert set(relations.TEMPLATE_REL_TO_NYT10.values()) <= set(rel2id)


def test_nyt10_bag_pipeline(spark, transcripts):
    """53-relation schema through the bag path: non-NA facts actually
    emit (the 8->53 softmax spread lowers per-class mass, hence the
    lower threshold) and every predicate is schema-legal."""
    triples = extract_triples(
        transcripts, mode="one", threshold=0.05, schema="nyt10"
    ).collect()
    assert triples
    names = set(relations.nyt10_rel2id())
    assert {r.pred for r in triples} <= names - {"NA"}


def _bags(df):
    return {(r.h_id, r.t_id): (r.n_sentences, r.scores) for r in df.collect()}


def _assert_bags_close(got, want, tol, ctx):
    """Same bag keys and member counts; scores within `tol`."""
    assert got.keys() == want.keys(), ctx
    for k, (n, s) in want.items():
        n2, s2 = got[k]
        assert n == n2, (ctx, k)
        assert len(s) == len(s2), (ctx, k)
        assert max(abs(a - b) for a, b in zip(s, s2)) < tol, (ctx, k)


def test_bag_cap_deterministic(spark, transcripts):
    """A2: the cap keeps the FIRST bag_cap members of the stable order —
    deterministic (reference random.sample replaced, SURVEY.md §7) and
    idempotent across runs."""
    mentions = detect_mentions(transcripts, relations.gazetteer())
    instances = candidate_pairs(mentions).cache()
    capped_a = _bags(bag_scores_fused(instances, method="one", bag_cap=3))
    capped_b = _bags(bag_scores_fused(instances, method="one", bag_cap=3))
    _assert_bags_close(capped_b, capped_a, 1e-6, "rerun")
    assert all(n <= 3 for n, _ in capped_a.values())
    full = _bags(bag_scores_fused(instances, method="one"))
    assert any(n > 3 for n, _ in full.values()), "fixture must have a big bag"
    instances.unpersist()


def test_bag_size_resize_parity(spark, transcripts):
    """A2 fixed-size path (data_loader.py:185-190): undersized bags pad
    WITH replacement, oversized bags sample WITHOUT replacement, seeded
    per bag key. The loop oracle below re-derives the selection
    independently from the documented seeding spec and applies the
    already-parity-tested `one` kernel."""
    import hashlib
    from collections import defaultdict

    import numpy as np

    from opennre_spark.functions import kernels

    mentions = detect_mentions(transcripts, relations.gazetteer())
    instances = candidate_pairs(mentions).cache()
    rows = score_instances(instances, with_scores=True).collect()
    groups = defaultdict(list)
    for r in rows:
        groups[(r.h_id, r.t_id)].append(r)
    K = 4
    sizes = [len(m) for m in groups.values()]
    assert any(n < K for n in sizes), "need an undersized bag (pad path)"
    assert any(n > K for n in sizes), "need an oversized bag (sample path)"
    want = {}
    for (h, t), mem in groups.items():
        mem.sort(
            key=lambda r: (r.conv_id, r.turn_idx, r.pair_turn_idx, r.h_begin, r.t_begin)
        )
        n = len(mem)
        seed64 = int.from_bytes(
            hashlib.md5(f"42|{h}|{t}".encode()).digest()[:8], "little"
        )
        rng = np.random.default_rng(seed64)
        if n >= K:
            idx = np.sort(rng.choice(n, size=K, replace=False))
        else:
            idx = np.concatenate(
                [np.arange(n), rng.choice(n, size=K - n, replace=True)]
            )
        mat = np.asarray([mem[i].scores for i in idx], dtype=np.float32)
        want[(h, t)] = (K, kernels.bag_one_eval(mat))
    got = _bags(bag_scores_fused(instances, method="one", bag_size=K))
    # every emitted bag is exactly bag_size after the resize
    _assert_bags_close(got, want, 1e-6, "bag_size")
    instances.unpersist()


def test_pcnn_pipeline_parity(spark, transcripts):
    """PCNN end-to-end: Spark triples == oracle decisions (M3/T14)."""
    from opennre_spark.functions.weights import build_vocab, make_weights
    from opennre_spark.pipeline import na_rel_id
    from tests.oracle import reference_math as om

    mentions = detect_mentions(transcripts, relations.gazetteer())
    instances = candidate_pairs(mentions).collect()
    vocab = build_vocab(relations.vocabulary_words())
    W = make_weights(len(relations.REL2ID), len(vocab), pcnn=True)
    neg = na_rel_id(relations.REL2ID)
    want = set()
    for r in instances:
        item = {"text": r.text, "h": {"pos": [r.h_begin, r.h_end]},
                "t": {"pos": [r.t_begin, r.t_end]}}
        rel, _ = om.oracle_infer(item, vocab, W, relations.ID2REL, 40, pcnn=True)
        if relations.REL2ID[rel] != neg:
            want.add((r.h_id, rel, r.t_id))
    got = {
        (r.subj, r.pred, r.obj)
        for r in extract_triples(transcripts, mode="sentence", pcnn=True).collect()
    }
    assert got == want


def test_bag_scores_fused_matches_two_pass(spark, transcripts):
    """The fused bag route (scoring inside the bag kernel, slim shuffle)
    vs the two-pass oracle route (score_instances, then the per-group
    applyInPandas bag_scores of tests/oracle): identical bag keys,
    member counts and selection; scores within the 1e-6 parity bar (the
    two plans compose Arrow micro-batches differently — the same
    documented float32 variance the encoded-vs-fused split shows), 2e-5
    for BERT. Covers raw-instance AND pre-encoded input flavours, every
    method, the cap and resize variants, PCNN, and a small BERT case."""
    from opennre_spark.operators.scoring import encode_instances

    mentions = detect_mentions(transcripts, relations.gazetteer())
    instances = candidate_pairs(mentions).cache()
    encoded = encode_instances(instances).cache()
    # a few dozen rows keep the transformer cheap
    few = spark.createDataFrame(
        instances.orderBy("h_id", "t_id", "conv_id", "turn_idx",
                          "pair_turn_idx", "h_begin", "t_begin")
        .limit(40).collect(),
        instances.schema,
    )
    try:
        for enc_name, kw, inputs, tol in (
            ("cnn", {"method": "att"}, (instances, encoded), 1e-6),
            ("cnn", {"method": "avg"}, (instances, encoded), 1e-6),
            ("cnn", {"method": "one"}, (instances, encoded), 1e-6),
            ("cnn", {"method": "att", "bag_cap": 3}, (instances, encoded), 1e-6),
            ("cnn", {"method": "att", "bag_size": 4}, (instances, encoded), 1e-6),
            ("pcnn", {"method": "att"}, (instances, encoded), 1e-6),
            ("bert", {"method": "att"}, (few,), 2e-5),
        ):
            scored = score_instances(
                inputs[0], with_rep=True, with_scores=True, encoder=enc_name
            )
            two_pass = _bags(bag_scores(scored, encoder=enc_name, **kw))
            for bag_in in inputs:
                fused = _bags(bag_scores_fused(bag_in, encoder=enc_name, **kw))
                _assert_bags_close(fused, two_pass, tol, (enc_name, kw))
    finally:
        instances.unpersist()
        encoded.unpersist()


def test_bag_plan_no_aggregation_buffer(spark, transcripts):
    """Bag members must never accumulate in a JVM aggregation buffer
    (VERDICT r2 #3 memory bound): a collect_list shape concentrates the
    member rows of a few thousand bags into ObjectHashAggregate state.
    The capped `one` bag plan is exactly ONE hash exchange on the bag
    key, a spill-safe external sort, and the streaming mapInArrow
    kernel: no Aggregate, no collect_list anywhere. Capped rows are
    dropped as they stream in Python."""
    import contextlib
    import io
    import re

    instances = candidate_pairs(detect_mentions(transcripts, relations.gazetteer()))
    # cut the upstream lineage so the plan under test is just the bag path
    instances = spark.createDataFrame(instances.limit(50).collect(), instances.schema)
    bags = bag_scores_fused(instances, method="one", bag_cap=2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        bags.explain("formatted")
    plan = buf.getvalue()
    # formatted output lists each node once in the tree and once in the
    # numbered details — count the numbered nodes
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "hashpartitioning(h_id" in plan, plan
    assert "collect_list" not in plan, plan
    assert "Aggregate" not in plan, plan


def test_fused_bag_plan_single_exchange(spark, transcripts):
    """The fused capped att path from a pre-encoded table is ONE hash
    exchange on the bag key + a spill-safe external sort + the streaming
    kernel, in that order: no rep column, and no Aggregate/Window/
    collect_list, so bag members never accumulate in a JVM aggregation
    buffer (VERDICT r2 #3 memory bound). The cap drops rows in Python as
    they stream, and the capped output honours the bound."""
    import contextlib
    import io
    import re

    from opennre_spark.operators.scoring import encode_instances

    mentions = detect_mentions(transcripts, relations.gazetteer())
    encoded = encode_instances(candidate_pairs(mentions))
    # cut the upstream lineage so the plan under test is just the bag path
    encoded = spark.createDataFrame(encoded.limit(50).collect(), encoded.schema)
    bags = bag_scores_fused(encoded, method="att", bag_cap=2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        bags.explain("formatted")
    plan = buf.getvalue()
    # formatted output lists each node once in the tree and once in the
    # numbered details — count the numbered nodes
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert plan.count("hashpartitioning(h_id") == 1, plan
    assert "collect_list" not in plan, plan
    assert "Aggregate" not in plan, plan
    assert "Window" not in plan, plan
    assert " rep#" not in plan, plan

    def node_num(pattern):
        m = re.search(r"\((\d+)\) " + pattern, plan)
        assert m, f"{pattern!r} not in plan:\n{plan}"
        return int(m.group(1))

    # leaf-first numbering: exchange -> sort -> python kernel
    assert node_num(r"Exchange\n") < node_num(r"Sort\n") < node_num(
        r"MapInArrow\n"
    ), plan
    out = bags.collect()
    assert out and all(r.n_sentences <= 2 for r in out)


def test_fused_bag_spanning_record_batches(spark, transcripts):
    """A bag larger than the Arrow batch size spans multiple record
    batches in the fused kernel: its members are scored in different
    batches and concatenated by the cross-batch carry. Counts and
    member selection must stay identical to the same route over whole
    bags (default batch size; checked against the oracle route by
    test_bag_scores_fused_matches_two_pass) — the cap enforced across
    the span too, with the rows past it never scored; scores within the
    1e-6 bar."""
    mentions = detect_mentions(transcripts, relations.gazetteer())
    instances = candidate_pairs(mentions).cache()
    cases = ({"method": "att"}, {"method": "att", "bag_cap": 5},
             {"method": "one", "bag_cap": 5})
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        want = [_bags(bag_scores_fused(instances, **kw)) for kw in cases]
        assert any(n > 4 for n, _ in want[0].values()), "need a bag > batch size"
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
        for kw, w in zip(cases, want):
            _assert_bags_close(_bags(bag_scores_fused(instances, **kw)), w, 1e-6, kw)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
        instances.unpersist()
