"""End-to-end KG-construction pipeline (north rule): transcripts ->
mentions -> candidate pairs -> batched relation scoring -> triples.

Spark shape (SURVEY.md §3.1/3.2):
  sentence mode: one shuffle (candidate self-join) + one aggregation
  shuffle for triple dedup; everything else narrow.
  bag modes: the (h_id, t_id) bag exchange replaces the scoring
  repartition — the skew point, guarded by the deterministic bag cap
  (operators/bags.py) and AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import config, relations
from .operators.bags import bag_scores_fused, explode_bag_scores
from .operators.candidates import candidate_pairs
from .operators.mentions import detect_mentions
from .operators.scoring import encode_instances, score_encoded, score_instances


def na_rel_id(rel2id: dict[str, int]) -> int | None:
    """First negative-label name present in the schema (P4 semantics,
    data_loader.py:67-74)."""
    for name in config.NEG_LABEL_NAMES:
        if name in rel2id:
            return rel2id[name]
    return None


def _relation_dim(spark: SparkSession, id2rel: dict[int, str]) -> DataFrame:
    return spark.createDataFrame(
        [(i, r) for i, r in sorted(id2rel.items())], "pred_rel_id int, relation string"
    )


def encode_candidates(
    transcripts: DataFrame,
    window_turns: int = config.PAIR_WINDOW_TURNS,
    schema: str = "reduced",
) -> DataFrame:
    """Mentions -> candidate pairs -> tokenized/encoded instances, the
    shared front half of extract_triples for the CNN/PCNN encoders.

    Multi-query workloads (the bench's sentence + bag_one + bag_att over
    ONE corpus; any production run emitting several triple tables from
    the same transcripts) persist this result once and pass it to
    extract_triples(encoded=...): the mention scan, the candidate-join
    shuffle, the scoring repartition and the per-row tokenize then run
    once instead of once per query — the reference tokenizes once at
    data load for every consumer (data_loader.py:183-205). The encoded
    row is compact (L=40 ids packed int32 = 160 B + three ints), so the
    persisted footprint rivals the raw instance text it replaces.

    Columns kept cover the superset both sentence and bag consumers
    need; sentence mode re-prunes before scoring (column hygiene happens
    in extract_triples).
    """
    mentions = detect_mentions(transcripts, relations.gazetteer())
    spark = transcripts.sparkSession
    n_score_parts = max(spark.sparkContext.defaultParallelism * 2, 16)
    # r7: the scoring-parallelism repartition moved BEFORE the direction
    # explode (inside candidate_pairs) so a pair's two directed
    # instances stay adjacent for the encode kernel's tokenize memo —
    # see candidate_pairs(repartition=...)
    instances = candidate_pairs(
        mentions, window_turns=window_turns, repartition=n_score_parts
    )
    scoring_cols = [
        "text", "h_begin", "h_end", "t_begin", "t_end", "h_id", "t_id",
        "conv_id", "turn_idx", "pair_turn_idx",
    ]
    return encode_instances(instances.select(*scoring_cols), schema=schema)


def extract_triples(
    transcripts: DataFrame,
    mode: str = "sentence",
    window_turns: int = config.PAIR_WINDOW_TURNS,
    threshold: float = config.SCORE_THRESHOLD,
    bag_cap: int = 0,
    bag_size: int = 0,
    pcnn: bool = False,
    schema: str = "reduced",
    encoder: str | None = None,
    ckpt: str | None = None,
    encoded: DataFrame | None = None,
) -> DataFrame:
    """Emit the deduplicated (subj, pred, obj) triple table.

    mode: 'sentence' (argmax per instance, SoftmaxNN.infer semantics,
    softmax_nn.py:35-39) or 'att'/'avg'/'one' (bag-level distant
    supervision, BagRE.eval_model semantics, bag_re.py:154-181), which
    run through bags.bag_scores_fused for every encoder.
    bag_size > 0 switches bag modes to the reference's fixed-size
    resize path (A2, data_loader.py:185-190 — see bags.resize_bag);
    bag_cap is the bag_size=0 deterministic skew guard.

    Triples carry score + support lineage; uniqueness on (subj, pred,
    obj) mirrors the facts-dict idempotent insert
    (data_loader.py:156-164).

    encoded: a persisted encode_candidates() result for multi-query
    workloads over one corpus — skips the mention scan, candidate join
    and tokenize (CNN/PCNN only). Per-row math is bit-identical
    (score_encoded).

    Scores may move ~1e-7 with Arrow batch composition: fused-GEMM
    float32 results depend on which rows share a micro-batch, and the
    encoded/raw plans, cluster sizes and the bag cap all compose
    batches differently, so a threshold-adjacent triple can flip. For
    parity debugging of bag modes, compare bags.bag_scores_fused with
    the per-group reference `bag_scores` in tests/oracle/bag_route.py.
    """
    spark = transcripts.sparkSession
    if encoder is None:
        encoder = "pcnn" if pcnn else "cnn"
    rel2id = relations.rel2id_for(schema)
    id2rel = {v: k for k, v in rel2id.items()}

    if encoded is not None:
        if encoder not in ("cnn", "pcnn"):
            raise ValueError("encoded= supports the cnn/pcnn encoders only")
        if window_turns != config.PAIR_WINDOW_TURNS:
            # the candidate window was fixed when the encoded table was
            # built — a non-default window_turns here would be silently
            # ignored, yielding a wrong candidate set
            raise ValueError(
                "window_turns has no effect with encoded=: the candidate "
                "window was fixed at encode_candidates time — pass "
                "window_turns to encode_candidates instead"
            )
        # Column hygiene on the pre-encoded table: sentence mode needs
        # only the pair ids; bag modes add the stable-ordering key.
        cols = ["h_id", "t_id", "tok_bin", "h_start", "t_start", "n_tok"]
        if mode != "sentence":
            cols += ["conv_id", "turn_idx", "pair_turn_idx", "h_begin", "t_begin"]
        instances = encoded.select(*cols)
    else:
        mentions = detect_mentions(transcripts, relations.gazetteer())
        # Scoring is CPU-bound Python (numpy kernels), ~40us/row but only
        # ~200 bytes/row: AQE's byte-based partition coalescing would fuse
        # it into a handful of post-join partitions and starve the
        # executors (measured 2.2x slowdown at local[32]). A round-robin
        # repartition pins the sentence scoring stage's parallelism to
        # the cluster size; it sits BEFORE the direction explode
        # (candidate_pairs(repartition=...)) so direction twins stay
        # adjacent for the encode kernel's tokenize memo. Bag modes skip
        # it: the bag key exchange immediately follows and pins
        # parallelism itself — two back-to-back exchanges would shuffle
        # twice.
        n_score_parts = max(spark.sparkContext.defaultParallelism * 2, 16)
        instances = candidate_pairs(
            mentions, window_turns=window_turns,
            repartition=n_score_parts if mode == "sentence" else None,
        )
        # Column hygiene before the Python boundary: sentence mode only
        # needs the pair ids downstream; bag modes additionally need the
        # stable-ordering key (conv, turns, spans). Everything else
        # (names, end offsets) dies here instead of riding two Arrow
        # crossings.
        cols = ["text", "h_begin", "h_end", "t_begin", "t_end", "h_id", "t_id"]
        if mode != "sentence":
            cols += ["conv_id", "turn_idx", "pair_turn_idx"]
        instances = instances.select(*cols)

    if mode == "sentence":
        score = score_encoded if encoded is not None else score_instances
        preds = score(instances, schema=schema, encoder=encoder, ckpt=ckpt)
        neg_id = na_rel_id(rel2id)
        if neg_id is not None:
            preds = preds.filter(F.col("pred_rel_id") != F.lit(neg_id))
        rels = _relation_dim(spark, id2rel)
        named = preds.join(F.broadcast(rels), "pred_rel_id")
        return (
            named.groupBy(
                F.col("h_id").alias("subj"),
                F.col("relation").alias("pred"),
                F.col("t_id").alias("obj"),
            )
            .agg(
                F.max("pred_score").alias("score"),
                F.count(F.lit(1)).alias("n_support"),
            )
        )

    bags = bag_scores_fused(
        instances, method=mode, bag_cap=bag_cap, bag_size=bag_size,
        encoder=encoder, schema=schema, ckpt=ckpt,
    )
    return (
        explode_bag_scores(bags, id2rel)
        .filter(F.col("score") >= F.lit(threshold))
        .select(
            F.col("h_id").alias("subj"),
            F.col("relation").alias("pred"),
            F.col("t_id").alias("obj"),
            "score",
            F.col("n_sentences").alias("n_support"),
        )
    )


def canonical_triples(triples: DataFrame) -> DataFrame:
    """Rewrite triple endpoints to DISCOVERED canonical entities and
    re-dedup — the full north-star composition: extract_triples ->
    MinHash-LSH linking -> connected components -> canonical (subj,
    pred, obj) table.

    Endpoint entity ids map to surface names via the gazetteer dim
    (broadcast, J5-shaped), names cluster by link_entities (J4), and
    the canonical name keys the final facts-set dedup
    (data_loader.py:156-164 idempotent-insert semantics).
    """
    from .operators.linking import broadcast_hint_if_small, link_entities
    from .sources.transcripts import entities_df

    spark = triples.sparkSession
    ents = entities_df(spark).select("entity_id", "name")
    names = ents.select("name")
    mapping = link_entities(names)  # (name, canonical_name)
    ent2canon, hint = broadcast_hint_if_small(
        ents.join(mapping, "name").select("entity_id", "canonical_name")
    )
    m_subj = ent2canon.withColumnRenamed("entity_id", "subj").withColumnRenamed(
        "canonical_name", "subj_canon"
    )
    m_obj = ent2canon.withColumnRenamed("entity_id", "obj").withColumnRenamed(
        "canonical_name", "obj_canon"
    )
    # size-gated: the DISCOVERED entity mapping can exceed broadcast
    # limits at corpus scale; one probe of the materialized mapping
    # decides the hint for both join sides
    return (
        triples.join(hint(m_subj), "subj", "left")
        .join(hint(m_obj), "obj", "left")
        .select(
            F.coalesce("subj_canon", "subj").alias("subj"),
            F.col("pred"),
            F.coalesce("obj_canon", "obj").alias("obj"),
            "score",
            "n_support",
        )
        .groupBy("subj", "pred", "obj")
        .agg(F.max("score").alias("score"), F.sum("n_support").alias("n_support"))
    )
