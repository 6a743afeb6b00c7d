"""The two workloads: inputs, one untraced pass, its check, and the
traced pass that calls each layer's public function in turn.

Both are batch and closed-loop: one Spark driver runs passes one after
another. Why each one exists is in README.md.
"""

from __future__ import annotations

import os

import numpy as np

from . import inputs, reference

# kg_sentence: candidate instances per input (about 300 conversations)
SENTENCE_INSTANCES = 25_000
# the bag layer, probed in kg_sentence's traced pass: the cap lies below
# the largest bags, so the skew guard really drops rows
BAG_CAP = 32
# the seed-frozen weights score every bag below 0.3, so the default 0.5
# threshold would emit no bag triple at all
BAG_THRESHOLD = 0.2

# embed_dedup: unit vectors with planted near-duplicates (cosine about
# 0.99995, far above the 0.9 threshold; unrelated pairs of 64-d unit
# vectors stay below 0.8)
VECTORS = 1000
DIM = 64
DUP_SHARE = 0.05
DUP_NOISE = 0.00125
COSINE_THRESHOLD = 0.9
# hyperplane-LSH shape: the ann_self_join defaults embedding_dedup uses
LSH_PLANES = 16
LSH_BANDS = 4

# the columns and the scoring parallelism of pipeline.encode_candidates,
# whose three calls a traced pass makes one at a time
SCORE_COLS = [
    "text", "h_begin", "h_end", "t_begin", "t_end", "h_id", "t_id",
    "conv_id", "turn_idx", "pair_turn_idx",
]


def _score_parts(spark) -> int:
    return max(spark.sparkContext.defaultParallelism * 2, 16)


class Workload:
    name = ""
    # spans whose work the untraced pass does once, in order; the other
    # spans of a traced pass are probes that re-run a layer a composite
    # call also runs internally. A chain span persists its output for the
    # next call; a probe only counts its output, so that no later call
    # can reuse it from the cache
    chain: tuple = ()

    def __init__(self, work_dir: str, seed: int):
        self.work_dir = work_dir
        self.seed = seed
        self.df = None

    def register(self, spark) -> int:
        """Read the input parquet and count it (the end of set-up)."""
        self.df = spark.read.parquet(self.path)
        return self.df.count()


class KGSentence(Workload):
    name = "kg_sentence"
    chain = (
        "mentions.detect_mentions", "candidates.candidate_pairs",
        "scoring.encode_instances", "pipeline.extract_triples.sentence",
    )

    def prepare(self) -> dict:
        model = reference.Model()
        rows = inputs.transcript_rows(
            SENTENCE_INSTANCES, self.seed,
            lambda conv: len(reference.instances_of(conv, model.gazetteer)[1]),
        )
        self.path = os.path.join(self.work_dir, f"{self.name}-{self.seed}.parquet")
        fp = inputs.write_parquet(inputs.transcripts_table(rows), self.path)
        self.ref = reference.KGReference(rows, model)
        self.expected = self.ref.sentence_expected()
        self.expected_bags = None  # computed when a traced pass needs them
        sizes = np.array([len(m) for m in self.ref.bags().values()])
        self.rows = len(rows)
        return {
            **fp,
            "conversations": len({r[0] for r in rows}),
            "instances": len(self.ref.instances),
            "mentions": self.ref.n_mentions,
            "distinct_share": self.ref.distinct_share,
            "max_bag_rows": int(sizes.max()),
            "cap_drop_share": float(np.maximum(sizes - BAG_CAP, 0).sum() / sizes.sum()),
            "expected_triples": len(self.expected),
        }

    def run_pass(self, spark):
        from opennre_spark import pipeline

        return pipeline.extract_triples(self.df, mode="sentence").collect()

    def check(self, out) -> list[str]:
        """`out` is the sentence table of a pass, or the (sentence, att,
        one) tables of a traced pass."""
        if not isinstance(out, tuple):
            return reference.check_triples([tuple(r) for r in out], self.expected)
        if self.expected_bags is None:
            self.expected_bags = (
                self.ref.bag_expected("att", BAG_CAP, BAG_THRESHOLD),
                self.ref.bag_expected("one", 0, BAG_THRESHOLD),
            )
        errs = []
        for mode, rows, exp in zip(
            ("sentence", "att", "one"), out, (self.expected, *self.expected_bags)
        ):
            errs += [
                f"{mode} {e}"
                for e in reference.check_triples([tuple(r) for r in rows], exp)
            ]
        return errs

    def _front(self, spark, tracer):
        """mentions -> candidates -> encode, each persisted; the same
        calls pipeline.encode_candidates makes."""
        from opennre_spark import relations
        from opennre_spark.operators.candidates import candidate_pairs
        from opennre_spark.operators.mentions import detect_mentions
        from opennre_spark.operators.scoring import encode_instances

        keep = []
        with tracer.span("mentions.detect_mentions") as s:
            m = detect_mentions(self.df, relations.gazetteer()).persist()
            s.counts["rows_out"] = m.count()
        keep.append(m)
        s.counts["mentions_per_turn"] = s.counts["rows_out"] / self.rows
        n_m = s.counts["rows_out"]
        with tracer.span("candidates.candidate_pairs") as s:
            inst = candidate_pairs(m, repartition=_score_parts(spark)).persist()
            s.counts["rows_out"] = inst.count()
        keep.append(inst)
        s.counts["instances_per_mention"] = s.counts["rows_out"] / max(1, n_m)
        n_i = s.counts["rows_out"]
        with tracer.span("scoring.encode_instances") as s:
            enc = encode_instances(inst.select(*SCORE_COLS)).persist()
            s.counts["rows_out"] = enc.count()
        keep.append(enc)
        key = ["text", "h_begin", "h_end", "t_begin", "t_end"]
        s.counts["distinct_share"] = (
            inst.select(*key).distinct().count() / max(1, n_i)
        )
        return enc, n_i, keep

    def traced_pass(self, spark, tracer, bags: bool = True):
        """The sentence chain, then (with `bags`) the bag layer's probes
        on the same encoded table: the fused bag kernel, and an `att`
        and a `one` triple table."""
        from pyspark.sql import functions as F

        from opennre_spark import pipeline
        from opennre_spark.operators.bags import bag_scores_fused
        from opennre_spark.operators.scoring import score_encoded

        enc, n_i, keep = self._front(spark, tracer)
        with tracer.span("scoring.score_encoded") as s:
            cols = ["h_id", "t_id", "tok_bin", "h_start", "t_start", "n_tok"]
            is_na = (F.col("pred_rel_id") == self.ref.model.na_id).cast("int")
            n, n_na = score_encoded(enc.select(*cols)).agg(
                F.count(F.lit(1)), F.sum(is_na)
            ).first()
            s.counts["rows_out"] = n
        with tracer.span("pipeline.extract_triples.sentence") as s:
            out = pipeline.extract_triples(
                self.df, mode="sentence", encoded=enc
            ).collect()
            s.counts["rows_out"] = len(out)
        s.counts["na_share"] = (n_na or 0) / max(1, n_i)
        s.counts["triples_per_instance"] = len(out) / max(1, n_i)
        if not bags:
            for d in keep:
                d.unpersist()
            return out

        bag_cols = [
            "h_id", "t_id", "conv_id", "turn_idx", "pair_turn_idx", "h_begin",
            "t_begin", "tok_bin", "h_start", "t_start", "n_tok",
        ]
        with tracer.span("bags.bag_scores_fused") as s:
            s.counts["rows_out"] = bag_scores_fused(
                enc.select(*bag_cols), method="att", bag_cap=BAG_CAP
            ).count()
        sizes = enc.groupBy("h_id", "t_id").count().agg(
            F.max("count"), F.sum(F.greatest(F.col("count") - BAG_CAP, F.lit(0)))
        ).first()
        s.counts["max_bag_rows"] = sizes[0]
        s.counts["cap_drop_share"] = sizes[1] / max(1, n_i)
        tables = {}
        for mode, cap in (("att", BAG_CAP), ("one", 0)):
            df = pipeline.extract_triples(
                self.df, mode=mode, bag_cap=cap, threshold=BAG_THRESHOLD,
                encoded=enc,
            )
            with tracer.span(f"pipeline.extract_triples.{mode}") as s:
                tables[mode] = df.collect()
                s.counts["rows_out"] = len(tables[mode])
            s.counts["triples_per_instance"] = len(tables[mode]) / max(1, n_i)
        for d in keep:
            d.unpersist()
        return out, tables["att"], tables["one"]


class EmbedDedup(Workload):
    name = "embed_dedup"
    chain = ("similarity.ann_self_join", "linking.connected_components")

    def prepare(self) -> dict:
        vectors, self.planted = inputs.planted_vectors(
            VECTORS, DIM, DUP_SHARE, DUP_NOISE, self.seed
        )
        self.path = os.path.join(self.work_dir, f"{self.name}-{self.seed}.parquet")
        fp = inputs.write_parquet(inputs.vectors_table(vectors), self.path)
        self.roots, n_pairs, margin = reference.cosine_clusters(
            vectors, COSINE_THRESHOLD
        )
        if margin < 1e-6:
            raise ValueError("a pair's cosine lies within 1e-6 of the threshold")
        self.rows = VECTORS
        return {
            **fp,
            "planted_pair_share": len(self.planted) / VECTORS,
            "true_pairs": n_pairs,
            "clusters": int(len(np.unique(self.roots))),
        }

    def run_pass(self, spark):
        from opennre_spark.operators.dedup import embedding_dedup

        return embedding_dedup(self.df, DIM, COSINE_THRESHOLD).collect()

    def check(self, out) -> list[str]:
        return reference.check_clusters(
            [(int(r[0]), int(r[1])) for r in out], self.roots, self.planted
        )

    def traced_pass(self, spark, tracer):
        from opennre_spark.operators.dedup import embedding_dedup
        from opennre_spark.operators.linking import connected_components
        from opennre_spark.operators.similarity import (
            ann_self_join,
            hyperplane_signature,
        )

        with tracer.span("similarity.hyperplane_signature") as s:
            s.counts["rows_out"] = hyperplane_signature(self.df, DIM).count()
        n_cand = lsh_candidate_pairs(
            [
                r[0] for r in hyperplane_signature(self.df, DIM)
                .filter("band = 0").select("sig_word").collect()
            ],
            LSH_PLANES, LSH_BANDS,
        )
        with tracer.span("similarity.ann_self_join") as s:
            pairs = ann_self_join(self.df, DIM, COSINE_THRESHOLD).persist()
            s.counts["rows_out"] = pairs.count()
        s.counts["candidate_pairs"] = n_cand
        s.counts["verify_yield"] = s.counts["rows_out"] / max(1, n_cand)
        with tracer.span("linking.connected_components") as s:
            s.counts["rows_out"] = connected_components(
                pairs, src="id_a", dst="id_b"
            ).count()
        with tracer.span("dedup.embedding_dedup") as s:
            out = embedding_dedup(self.df, DIM, COSINE_THRESHOLD).collect()
            s.counts["rows_out"] = len(out)
        pairs.unpersist()
        return out


def lsh_candidate_pairs(sig_words: np.ndarray, num_planes: int, num_bands: int) -> int:
    """Number of distinct vector pairs that agree on all sign bits of at
    least one band: the candidates ann_self_join verifies. Computed by
    inclusion-exclusion over the sets of bands a pair agrees on.

    `sig_words` holds one packed signature per vector."""
    words = np.asarray(sig_words, dtype=np.int64)
    per_band = num_planes // num_bands
    band_mask = (1 << per_band) - 1
    total = 0
    for subset in range(1, 1 << num_bands):
        mask = 0
        for b in range(num_bands):
            if subset >> b & 1:
                mask |= band_mask << (b * per_band)
        _, counts = np.unique(words & mask, return_counts=True)
        sign = 1 if bin(subset).count("1") % 2 else -1
        total += sign * int((counts * (counts - 1) // 2).sum())
    return total


WORKLOADS = {w.name: w for w in (KGSentence, EmbedDedup)}
