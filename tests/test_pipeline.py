"""End-to-end Spark pipeline tests: determinism, parity vs the oracle
(the P/R >= 0.95 gate — we assert exact decision parity, P/R = 1.0),
and bag aggregation correctness through the fused bag route.
"""

import numpy as np
import pytest

from opennre_spark import relations
from opennre_spark.operators.bags import bag_scores_fused
from opennre_spark.operators.candidates import candidate_pairs
from opennre_spark.operators.mentions import detect_mentions
from opennre_spark.operators.scoring import score_instances
from opennre_spark.pipeline import extract_triples
from opennre_spark.sources.transcripts import (
    gold_df,
    transcripts_df,
)
from tests.oracle import reference_math as om

N_CONVS = 30


@pytest.fixture(scope="module")
def transcripts(spark):
    return transcripts_df(spark, N_CONVS).cache()


def test_generator_partitioning_invariance(spark):
    a = transcripts_df(spark, 12, partitions=1).collect()
    b = transcripts_df(spark, 12, partitions=7).collect()
    key = lambda r: (r.conv_id, r.turn_idx)
    assert sorted(a, key=key) == sorted(b, key=key)
    assert len(a) > 12 * 4


def test_mentions_find_gold_pairs(spark, transcripts):
    """Every gold-annotated turn must yield both its mentions."""
    mentions = detect_mentions(transcripts, relations.gazetteer())
    got = {
        (r.conv_id, r.turn_idx, r.entity_id)
        for r in mentions.collect()
    }
    gold = gold_df(spark, N_CONVS).collect()
    assert len(gold) > 20
    for g in gold:
        assert (g.conv_id, g.turn_idx, g.h_id) in got, g
        assert (g.conv_id, g.turn_idx, g.t_id) in got, g


def test_sentence_scoring_parity(spark, transcripts):
    """Spark-scored decisions == oracle decisions on identical instances
    (exact-match parity => P/R = 1.0 >= 0.95 target). The scoring UDF
    does not re-emit text/spans, so instances are keyed by their unique
    (conv, turns, pair, spans) composite for the comparison."""
    KEY = ["conv_id", "turn_idx", "pair_turn_idx", "h_id", "t_id", "h_begin", "t_begin"]
    mentions = detect_mentions(transcripts, relations.gazetteer())
    instances = candidate_pairs(mentions)
    by_key = {
        tuple(getattr(r, k) for k in KEY): r for r in instances.collect()
    }
    rows = score_instances(instances).collect()
    assert len(rows) > 50
    assert len(by_key) == len(rows)  # composite key is unique
    vocab, W = __import__(
        "opennre_spark.functions.weights", fromlist=["default_model"]
    ).default_model()
    mismatch = 0
    for r in rows[:200]:
        inst = by_key[tuple(getattr(r, k) for k in KEY)]
        item = {
            "text": inst.text,
            "h": {"pos": [inst.h_begin, inst.h_end]},
            "t": {"pos": [inst.t_begin, inst.t_end]},
        }
        rel, score = om.oracle_infer(item, vocab, W, relations.ID2REL, 40)
        if relations.ID2REL[r.pred_rel_id] != rel or abs(r.pred_score - score) > 1e-6:
            mismatch += 1
    assert mismatch == 0


def test_extract_triples_sentence_mode(spark, transcripts):
    triples = extract_triples(transcripts, mode="sentence")
    rows = triples.collect()
    assert len(rows) > 0
    assert set(triples.columns) == {"subj", "pred", "obj", "score", "n_support"}
    assert all(r.pred != "NA" for r in rows)
    # dedup invariant: (subj, pred, obj) unique (facts-set semantics)
    keys = [(r.subj, r.pred, r.obj) for r in rows]
    assert len(keys) == len(set(keys))


def test_bag_att_parity_through_spark(spark, transcripts):
    """Fused bag attention == oracle on the same stable-ordered reps
    (A1 stable order + A4 math)."""
    mentions = detect_mentions(transcripts, relations.gazetteer())
    instances = candidate_pairs(mentions).cache()
    bag_rows = {
        (r.h_id, r.t_id): np.array(r.scores, dtype=np.float32)
        for r in bag_scores_fused(instances, method="att").collect()
    }
    # rebuild bags driver-side with the same stable ordering
    pdf = score_instances(instances, with_rep=True).select(
        "h_id", "t_id", "conv_id", "turn_idx", "pair_turn_idx",
        "h_begin", "t_begin", "rep",
    ).toPandas()
    vocab, W = __import__(
        "opennre_spark.functions.weights", fromlist=["default_model"]
    ).default_model()
    n_checked = 0
    for (h, t), grp in pdf.groupby(["h_id", "t_id"]):
        grp = grp.sort_values(
            ["conv_id", "turn_idx", "pair_turn_idx", "h_begin", "t_begin"],
            kind="mergesort",
        )
        rep = np.asarray(grp["rep"].tolist(), dtype=np.float32)
        want = om.oracle_bag_att(rep, W)
        np.testing.assert_allclose(bag_rows[(h, t)], want, atol=2e-6, rtol=1e-4)
        n_checked += 1
    assert n_checked > 10
    instances.unpersist()


def test_extract_triples_bag_modes(spark, transcripts):
    for mode in ("att", "avg", "one"):
        triples = extract_triples(transcripts, mode=mode, threshold=0.15)
        rows = triples.limit(5).collect()
        assert len(rows) > 0, mode


def test_encoded_scoring_bitwise_parity(spark, transcripts):
    """score_encoded(encode_instances(df)) == score_instances(df) BIT
    FOR BIT, CNN and PCNN — the encode-once lever (VERDICT r5 #1;
    reference: one tokenize pass feeds all consumers,
    data_loader.py:183-205) must not move a single float."""
    from opennre_spark.operators.scoring import encode_instances, score_encoded

    KEY = ["conv_id", "turn_idx", "pair_turn_idx", "h_id", "t_id",
           "h_begin", "t_begin"]
    cols = ["text", "h_begin", "h_end", "t_begin", "t_end", "h_id",
            "t_id", "conv_id", "turn_idx", "pair_turn_idx"]
    mentions = detect_mentions(transcripts, relations.gazetteer())
    instances = candidate_pairs(mentions).select(*cols).cache()
    encoded = encode_instances(instances).cache()
    try:
        for enc_name in ("cnn", "pcnn"):
            a = score_instances(
                instances, encoder=enc_name, with_scores=True, with_rep=True
            ).collect()
            b = score_encoded(
                encoded, encoder=enc_name, with_scores=True, with_rep=True
            ).collect()
            assert len(a) == len(b) > 50
            bk = {tuple(getattr(r, k) for k in KEY): r for r in b}
            for ra in a:
                rb = bk[tuple(getattr(ra, k) for k in KEY)]
                assert ra.pred_rel_id == rb.pred_rel_id
                assert ra.pred_score == rb.pred_score  # exact float equality
                assert ra.scores == rb.scores
                assert ra.rep == rb.rep
    finally:
        instances.unpersist()
        encoded.unpersist()


@pytest.mark.parametrize("route", ["score_encoded", "bag_scores_fused"])
def test_encoded_width_mismatch_raises(spark, route):
    """An encoded table built at another max_length fails with the real
    cause, on both consumers of tok_bin."""
    from opennre_spark.operators.scoring import score_encoded

    L = 10  # the reduced model expects 40 token ids per row
    row = ("h0", "t0", np.arange(L, dtype="<i4").tobytes(), 0, 2, 5)
    enc = spark.createDataFrame(
        [row],
        "h_id string, t_id string, tok_bin binary, h_start int, "
        "t_start int, n_tok int",
    )
    out = score_encoded(enc) if route == "score_encoded" else bag_scores_fused(enc)
    with pytest.raises(Exception, match="built at max_length L=10"):
        out.collect()


def test_extract_triples_encoded_equals_default(spark, transcripts):
    """extract_triples(encoded=persisted) == extract_triples() for all
    three eval modes AND the capped-bag path: identical triple keys and
    support counts, scores within the 1e-6 parity bar. Scores are not
    required bitwise-equal here because the two plans shape Arrow/
    micro-batches differently and fused-GEMM float32 results move
    ~1e-7 with batch composition (documented; the DEFAULT path already
    varies at that level across cluster sizes for the same reason —
    repartition() round-robin depends on parallelism). The aligned-batch
    case IS bitwise (test_encoded_scoring_bitwise_parity)."""
    from opennre_spark.pipeline import encode_candidates

    encoded = encode_candidates(transcripts).cache()
    try:
        for kw in (
            dict(mode="sentence"),
            dict(mode="one", threshold=0.15),
            dict(mode="att", threshold=0.15),
            dict(mode="avg", threshold=0.15),
            dict(mode="att", threshold=0.15, bag_cap=3),
        ):
            base = {
                (r.subj, r.pred, r.obj): (r.score, r.n_support)
                for r in extract_triples(transcripts, **kw).collect()
            }
            enc = {
                (r.subj, r.pred, r.obj): (r.score, r.n_support)
                for r in extract_triples(transcripts, encoded=encoded, **kw).collect()
            }
            assert base.keys() == enc.keys(), kw
            assert len(base) > 0, kw
            for k, (s, n) in base.items():
                s2, n2 = enc[k]
                assert n == n2, (kw, k)
                assert abs(s - s2) < 1e-6, (kw, k, s, s2)
    finally:
        encoded.unpersist()


def test_extract_triples_invariant_to_partition_counts(spark, transcripts, monkeypatch):
    """Sentence scoring and the bag exchange run one task per slot
    (defaultParallelism). Output must not depend on that count or on
    the shuffle partition count: identical (subj, pred, obj) sets and
    support, scores within 1e-6, at 1 and at 8 partitions. The bag
    exchange carries the explicit count, so AQE cannot fold it into
    one task."""
    import re

    from pyspark import SparkContext

    shuffle_parts = spark.conf.get("spark.sql.shuffle.partitions")
    runs = {}
    try:
        for n in (1, 8):
            monkeypatch.setattr(
                SparkContext, "defaultParallelism", property(lambda self, n=n: n)
            )
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            for kw in (
                dict(mode="sentence"), dict(mode="att", bag_cap=2, threshold=0.15)
            ):
                df = extract_triples(transcripts, **kw)
                runs[n, kw["mode"]] = {
                    (r.subj, r.pred, r.obj): (r.score, r.n_support)
                    for r in df.collect()
                }
                if kw["mode"] == "att" and n > 1:
                    plan = df._jdf.queryExecution().executedPlan().toString()
                    assert re.search(
                        rf"hashpartitioning\(h_id#\d+, t_id#\d+, {n}\), "
                        r"REPARTITION_BY_NUM", plan
                    ), plan
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", shuffle_parts)
    for mode in ("sentence", "att"):
        one, eight = runs[1, mode], runs[8, mode]
        assert one.keys() == eight.keys(), mode
        assert len(one) > 0, mode
        for k, (score, support) in one.items():
            assert support == eight[k][1], (mode, k)
            assert abs(score - eight[k][0]) < 1e-6, (mode, k, score, eight[k][0])
