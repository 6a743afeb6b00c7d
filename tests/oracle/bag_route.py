"""Per-group reference route for bag aggregation: groupBy(h_id, t_id) +
applyInPandas, one pandas call per bag (the SNIPPETS [2]/[3] `gapply`
pattern). It shares no walk, batching or scoring code with the
production route (opennre_spark.operators.bags.bag_scores_fused): it
aggregates the per-instance `rep`/`scores` columns of score_instances
output, sorting and capping each whole bag in pandas. Only the bag
kernels themselves (already oracle-tested) and resize_bag are common.

Use it to debug the parity of the fused route: with the same scored
input, bag keys, member selection and n_sentences must match exactly,
scores to the 1e-6 parity bar (2e-5 for the BERT encoders).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from opennre_spark.functions import kernels
from opennre_spark.operators.bags import _SORT_COLS, BAG_SCHEMA, resize_bag


def bag_scores(
    scored: DataFrame,
    method: str = "att",
    bag_cap: int = 0,
    bag_size: int = 0,
    bag_seed: int = 42,
    encoder: str = "cnn",
    schema: str = "reduced",
    ckpt: str | None = None,
) -> DataFrame:
    """Per-bag per-relation score vector (h_id, t_id, n_sentences,
    scores) from score_instances output.

    method: 'att' (bag_attention.py:136-164), 'avg'
    (bag_average.py:117-131), or 'one' (bag_one.py:140-148).
    'att'/'avg' need the `rep` column (score_instances(with_rep=True));
    'one' needs only `scores`.

    bag_size > 0 enables the reference's fixed-size resize path
    (data_loader.py:185-190) and supersedes bag_cap, as in the
    production route.
    """
    if method not in ("att", "avg", "one"):
        raise ValueError(f"unknown bag method {method!r}")
    value_col = "scores" if method == "one" else "rep"
    sort_cols = [c for c in _SORT_COLS if c in scored.columns]
    slim = scored.select("h_id", "t_id", value_col, *sort_cols)

    def agg(pdf: pd.DataFrame) -> pd.DataFrame:
        if sort_cols:
            pdf = pdf.sort_values(sort_cols, kind="mergesort")
        if bag_size > 0:
            pdf = resize_bag(
                pdf, bag_size, pdf["h_id"].iloc[0], pdf["t_id"].iloc[0], bag_seed
            )
        elif bag_cap > 0 and len(pdf) > bag_cap:
            pdf = pdf.iloc[:bag_cap]
        mat = np.asarray(pdf[value_col].tolist(), dtype=np.float32)
        if method == "one":
            out = kernels.bag_one_eval(mat)
        else:
            if encoder in ("bert", "bert_entity"):
                from opennre_spark.functions.bert_kernels import default_bert_model

                _, weights = default_bert_model(
                    entity=(encoder == "bert_entity"), schema=schema, ckpt=ckpt
                )
                # attention diag: ones (bag_attention.py:29), sized to rep
                if "att_diag" not in weights:
                    weights = dict(weights)
                    weights["att_diag"] = np.ones(
                        weights["fc_w"].shape[1], np.float32
                    )
            else:
                from opennre_spark.functions.weights import default_model

                _, weights = default_model(
                    pcnn=(encoder == "pcnn"), schema=schema, ckpt=ckpt
                )
            if method == "att":
                out = kernels.bag_attention_eval(mat, weights)
            else:
                out = kernels.bag_average_eval(mat, weights)
        return pd.DataFrame(
            {
                "h_id": [pdf["h_id"].iloc[0]],
                "t_id": [pdf["t_id"].iloc[0]],
                "n_sentences": [len(pdf)],
                "scores": [out.astype(np.float32)],
            }
        )

    return slim.groupBy("h_id", "t_id").applyInPandas(agg, schema=BAG_SCHEMA)
