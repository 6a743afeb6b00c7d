"""Text analysis for training-data pipelines: language-ID heuristic,
quality scoring, token counting, document fingerprinting. Pure Spark
SQL expressions — these run inside whole-stage codegen next to the
parquet scan (predicate pushdown + column pruning intact) — except the
winnowing rolling hash, which is a vectorized Arrow-batched numpy
kernel (r7: the per-character HOF pipeline was interpreted and 10x+
slower; see winnow_fingerprints).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "for", "on", "with"],
    "de": ["der", "die", "das", "und", "nicht", "ist", "ein", "zu", "mit", "von"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "con"],
    "fr": ["le", "la", "de", "et", "un", "est", "pour", "que", "dans", "avec"],
}


def _tokens(text_col: Column) -> Column:
    return F.split(F.lower(F.trim(text_col)), r"\s+")


def bpe_ish_token_count(text_col: Column) -> Column:
    """Sub-word-ish token estimate: splits on whitespace, punctuation
    boundaries and letter/digit transitions — a deterministic stand-in
    for a BPE tokenizer's piece count (regex, JVM-side).
    """
    pieces = F.split(
        F.trim(text_col),
        r"(\s+)|(?<=[a-zA-Z])(?=\d)|(?<=\d)(?=[a-zA-Z])|(?<=[^\sa-zA-Z0-9])|(?=[^\sa-zA-Z0-9])",
    )
    return F.size(F.filter(pieces, lambda p: F.length(p) > 0)).cast("long")


def alpha_ratio(text_col: Column) -> Column:
    return (
        F.length(F.regexp_replace(text_col, "[^a-zA-Z]", "")).cast("double")
        / F.length(text_col)
    )


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 4,
    window: int = 4,
    base: int = 257,
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS local-fingerprinting
    scheme: Schleimer/Wilkerson/Aiken, SIGMOD'03): polynomial rolling
    hashes over character k-grams of the normalized text, then the
    minimum hash of every sliding window of `window` consecutive grams,
    deduplicated — a content-overlap sketch that is robust to
    insertions/reordering where a whole-document hash is not.

    The normalization is a JVM regex; the rolling hash and the window
    minima run in one vectorized numpy pass per Arrow batch
    (mapInArrow) — narrow, no shuffle. The polynomial hash is exact
    64-bit integer arithmetic, so the identical expression is evaluable
    in DuckDB for the oracle; k/base combinations whose largest gram
    hash (every character the maximal code 122, 'z') would overflow
    int64 are rejected, as are k or window below 1.

    Normalization: lowercase, strip everything outside [a-z0-9 ],
    collapse runs of spaces, trim. Documents shorter than k characters
    produce no fingerprints; documents with fewer than `window` grams
    produce exactly one (the global minimum) — the standard winnowing
    boundary rules.

    Returns (id_col, fp long), one row per distinct fingerprint.
    """
    import numpy as np
    from pyspark.sql import types as T

    if k < 1 or window < 1:
        raise ValueError(
            f"winnow_fingerprints needs k >= 1 and window >= 1, got {k}, {window}"
        )
    if 122 * sum(base**j for j in range(k)) >= 2**63:
        raise ValueError(
            f"winnow_fingerprints: k={k} with base={base} overflows the int64 gram hash"
        )
    t = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )

    # r7 (guide §4.2): the per-character HOF pipeline (substr/ascii per
    # char, element_at per gram tap, slice+min per window) is
    # interpreted — CodegenFallback — and cost ~25s for 50k documents
    # at sf1.0, almost all per-element expression-eval overhead. The
    # normalization stays a JVM regex; the rolling hash + window-min
    # moves into ONE vectorized numpy pass per Arrow batch: byte codes
    # via frombuffer, the k-gram polynomial as k shifted int64
    # multiply-adds (Horner), window minima as the elementwise minimum
    # of `window` shifted gram arrays, distinct via np.unique. Exact
    # 64-bit integer arithmetic, identical fingerprint SETS per
    # document (np.unique sorts where array_distinct kept first-
    # occurrence order — row order is not part of the contract), so the
    # bit-exact DuckDB oracle is unchanged. Narrow (zero-exchange).
    staged = docs.select(F.col(id_col), t.alias("__t"))
    id_field = staged.schema[id_col]
    out_schema = T.StructType(
        [id_field, T.StructField("fp", T.LongType(), False)]
    )

    def winnow_kernel(batches):
        import pyarrow as pa

        for rb in batches:
            texts = rb.column("__t").to_pylist()
            idx: list[int] = []
            parts: list[np.ndarray] = []
            for i, s in enumerate(texts):
                bs = s.encode("utf-8")  # normalized to [a-z0-9 ]: 1 byte/char
                L = len(bs)
                if L < k:
                    continue
                c = np.frombuffer(bs, dtype=np.uint8).astype(np.int64)
                n = L - k + 1
                g = c[:n]
                for j in range(1, k):
                    g = g * base + c[j : j + n]
                if n >= window:
                    m = n - window + 1
                    fp = g[:m]
                    for j in range(1, window):
                        fp = np.minimum(fp, g[j : j + m])
                    fp = np.unique(fp)
                else:
                    fp = g.min(keepdims=True)
                idx.extend([i] * len(fp))
                parts.append(fp)
            if not parts:
                continue
            take = pa.array(np.asarray(idx, dtype=np.int64))
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(id_col).take(take),
                    pa.array(np.concatenate(parts), type=pa.int64()),
                ],
                names=[id_col, "fp"],
            )

    return staged.mapInArrow(winnow_kernel, schema=out_schema)


def _stats_struct(tv: Column, t: Column) -> Column:
    """All token-derived stats as ONE struct over the BOUND token array
    `tv` (the whitespace tokens of `t`): token count, English stopword
    ratio, the composite [0,1] quality heuristic (balanced length,
    alphabetic density, stopword presence, distinct-token ratio; fixed
    weights), the stopword-vote language guess ('und' on zero hits,
    ties by language-key order) and the normalized text.

    The per-language stopword filters use a closure factory, not a
    default-arg lambda: pyspark counts a lambda's parameters (defaults
    included) to pick the higher-order function's arity, so
    `lambda tok, stops=stops:` would bind the element index."""
    n = F.size(tv)
    stops_en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    sw_ratio = (
        F.size(F.filter(tv, lambda tok: F.array_contains(stops_en, tok))).cast(
            "double"
        )
        / n
    )
    len_score = F.least(n.cast("double") / 20.0, F.lit(1.0))
    distinct_ratio = F.size(F.array_distinct(tv)).cast("double") / n
    quality = F.round(
        0.3 * len_score
        + 0.3 * alpha_ratio(t)
        + 0.2 * sw_ratio
        + 0.2 * distinct_ratio,
        6,
    )
    hit_structs = F.array(
        *[
            F.struct(
                F.size(
                    F.filter(
                        tv,
                        (lambda stops: lambda tok: F.array_contains(stops, tok))(
                            F.array(*[F.lit(w) for w in STOPWORDS[lang]])
                        ),
                    )
                ).alias("hits"),
                F.lit(i).alias("ord"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(STOPWORDS)
        ]
    )
    best = F.array_max(
        F.transform(
            hit_structs,
            lambda s: F.struct(
                s["hits"].alias("hits"),
                (-s["ord"]).alias("nord"),
                s["lang"].alias("lang"),
            ),
        )
    )
    lang_pred = F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))
    return F.struct(
        n.cast("long").alias("n_tokens"),
        sw_ratio.alias("stopword_ratio"),
        quality.alias("quality"),
        lang_pred.alias("lang_pred"),
        F.concat_ws(" ", tv).alias("norm_text"),
    )


def document_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One-pass per-document stat table.

    r7 (guide §1.2): the token-derived columns share ONE evaluation of
    the token array — separate per-column expressions would each inline
    their own `_tokens` split into interpreted filter HOFs, so the split
    would run once per column. The bound stats struct is evaluated in a
    Generate node (`inline(array(struct))`), which projection collapse
    cannot duplicate; its fields land as real attributes."""
    from .hof import hof_let

    t = F.col(text_col)
    stats = hof_let(_tokens(t), lambda tv: _stats_struct(tv, t))
    expanded = docs.select(
        F.col(id_col),
        bpe_ish_token_count(t).alias("n_pieces"),
        F.length(t).cast("long").alias("n_chars"),
        alpha_ratio(t).alias("alpha_ratio"),
        F.inline(F.array(stats)),
    )
    return expanded.select(
        id_col,
        "n_tokens",
        "n_pieces",
        "n_chars",
        "alpha_ratio",
        "stopword_ratio",
        "quality",
        "lang_pred",
        F.xxhash64("norm_text").alias("fingerprint"),
    )
