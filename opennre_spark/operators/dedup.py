"""Document deduplication for large-scale training-data pipelines:
exact (hash groupBy), MinHash+LSH near-dup, SimHash near-dup, and
token-n-gram Jaccard verification. All hot paths are pure Spark SQL
expressions (JVM codegen) — no Python UDFs.

Scale shape (100 TB corpus):
  - exact: one shuffle on md5(text) — partial agg applies.
  - minhash/simhash: signatures are a narrow projection; the candidate
    join is an equi-join on (band, band_hash | band bits), linear in
    docs x bands; only blocked candidates pay the verification cost.
  - one MinHash-LSH pair finder (_minhash_pairs) serves both document
    dedup (token n-grams) and entity linking (character shingles).
  - clustering reuses the connected-components operator (linking.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .linking import broadcast_hint_if_small, connected_components


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the smallest id per identical text (deterministic
    representative). Returns (doc_id, n_members) of kept docs.
    One shuffle on the content hash; map-side partial aggregation.
    """
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("__h"))
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_members"),
        )
        .drop("__h")
    )


def _token_shingles(text_col: str, n: int = 3):
    """Distinct n-token shingles (lowercased, whitespace tokens).

    The token array is hof_let-bound (see operators/hof.py): referencing
    the split expression inside the transform lambda re-evaluates the
    regex split once PER SHINGLE POSITION under interpreted HOF
    evaluation — measured 33.4s -> 2.3s for the sf1.0 dup view (14x)
    with identical output."""
    from .hof import hof_let

    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    return hof_let(
        toks,
        lambda tv: F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size(tv) - n, F.lit(0))),
                lambda i: F.concat_ws(" ", F.slice(tv, i + 1, n)),
            )
        ),
    )


# Affine MinHash family over a 31-bit domain: keeping the base hash and
# the multipliers under 2^31 bounds a*h + b < 2^62 + 2^31, safely inside
# int64 (Spark 4 runs ANSI mode — long overflow is an error, not a wrap).
_P = 2147483647  # 2^31 - 1 (Mersenne prime)
_MAX = 2**31


def minhash_signatures(
    docs: DataFrame,
    id_col: str,
    shingles: Column,
    num_hashes: int,
    num_bands: int,
    seed: int,
) -> DataFrame:
    """(id, band, band_hash) — banded MinHash over a shingle-array
    column: h_i(S) = min_{s in S} (a_i * xxhash64(s) + b_i) mod P.

    Deliberately SLIM: the shingle arrays are consumed here to compute
    the signature and then dropped, so the band-explode exchange carries
    (id, band, hash) rows only. Verification payload joins back by id —
    see _minhash_pairs.
    """
    import random

    from .hof import hof_let

    rng = random.Random(seed)
    coeffs = [(rng.randrange(1, _P), rng.randrange(0, _P)) for _ in range(num_hashes)]
    rows_per_band = num_hashes // num_bands

    # r7 (guide §1.2 per-task work): the signature columns used to
    # reference a `__hv` withColumn — projection collapse inlined the
    # shingle+hash array into all num_hashes consumers, and HOFs are
    # CodegenFallback (no CSE), so the whole array was re-evaluated
    # num_hashes times per row (measured: 45s of the 77s
    # dedup_minhash_pairs wall at sf1.0). hof_let binds the hashed
    # shingle array ONCE, then the signature vector and every band hash
    # read the bound value. Identical arithmetic -> identical
    # signatures and band hashes (oracle rows unchanged).
    hv_expr = F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(_MAX)))

    def bands_of(hv):
        def sig_of(a: int, b: int):
            return F.array_min(
                F.transform(hv, lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(_P)))
            )

        return hof_let(
            F.array(*[sig_of(a, b) for a, b in coeffs]),
            lambda sig: F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.xxhash64(
                            *[
                                F.element_at(sig, bi * rows_per_band + r + 1)
                                for r in range(rows_per_band)
                            ]
                        ).alias("band_hash"),
                    )
                    for bi in range(num_bands)
                ]
            ),
        )

    df = docs.select(id_col, hof_let(hv_expr, bands_of).alias("__bands"))
    return df.select(id_col, F.explode("__bands").alias("b")).select(
        id_col, "b.band", "b.band_hash"
    )


def _minhash_pairs(
    df: DataFrame,
    id_col: str,
    shingles: Column,
    jaccard_threshold: float,
    materialize: bool,
    num_hashes: int = 20,
    num_bands: int = 5,
    seed: int = 101,
) -> DataFrame:
    """Verified similar pairs (id_a, id_b, jaccard) of a DataFrame keyed
    by `id_col`: LSH blocking on (band, band_hash), then exact Jaccard
    over the `shingles` arrays of the blocked candidates only. The one
    MinHash-LSH pair finder behind document dedup (token n-grams) and
    entity linking (character shingles of names).

    Exchange discipline (the 100 TB shape, VERDICT r2 #1 fix): the
    band self-join moves ONLY (id, band, band_hash) — a row's shingle
    set would otherwise be replicated num_bands x 2 times into the join
    shuffle. Candidates dedup to distinct ID pairs first; each side
    then joins back to one slim (id -> shingles) projection, so the
    payload crosses an exchange once per side, once total per row.

    materialize=True localCheckpoints the signature and shingle tables
    first: Catalyst plans a self-join's sides (and the two join-backs)
    as independent subtrees, so without it the upstream lineage would
    execute four times — recompute, not exchange volume.
    """
    sigs = minhash_signatures(df, id_col, shingles, num_hashes, num_bands, seed)
    sh_tbl = df.select(F.col(id_col), shingles.alias("__sh"))
    sh_hint = lambda d: d  # noqa: E731
    if materialize:
        sigs = sigs.localCheckpoint(eager=True)
        # r7 (guide §3.1): the verification join-back used to hash-
        # partition every candidate PAIR row by id to meet the shuffled
        # shingle table — at sf1.0 that shipped ~600B of shingle array
        # per pair side through two exchanges. The (id -> shingles)
        # table is tiny relative to the candidate set (one row per id),
        # so a size-gated broadcast removes both pair shuffles; past the
        # probe limit (real 100 TB corpora) it degrades to the shuffled
        # join unchanged.
        sh_tbl, sh_hint = broadcast_hint_if_small(sh_tbl, limit_rows=200_000)
    a, b = sigs.alias("a"), sigs.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    cand = cand.join(
        sh_hint(
            sh_tbl.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a"))
        ),
        "id_a",
    ).join(
        sh_hint(
            sh_tbl.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b"))
        ),
        "id_b",
    )
    jac = (
        F.size(F.array_intersect("sh_a", "sh_b"))
        / F.size(F.array_union("sh_a", "sh_b"))
    ).alias("jaccard")
    return cand.select("id_a", "id_b", jac).filter(
        F.col("jaccard") >= F.lit(jaccard_threshold)
    )


def minhash_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.7,
    shingle_n: int = 3,
    materialize: bool = True,
    **kwargs,
) -> DataFrame:
    """Near-duplicate pairs (id_a, id_b, jaccard): MinHash-LSH blocking
    then exact token-n-gram Jaccard verification on candidates only
    (_minhash_pairs). kwargs: num_hashes, num_bands, seed."""
    return _minhash_pairs(
        docs, id_col, _token_shingles(text_col, shingle_n), jaccard_threshold,
        materialize, **kwargs,
    )


def minhash_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.7,
    **kwargs,
) -> DataFrame:
    """(doc_id, cluster_id): cluster_id = min doc id of the near-dup
    cluster (connected components over dup pairs); singleton docs map to
    themselves. Filter `doc_id == cluster_id` to keep representatives.
    """
    pairs = minhash_dup_pairs(docs, id_col, text_col, jaccard_threshold, **kwargs)
    return _cluster_ids(docs, id_col, pairs)


def _cluster_ids(items: DataFrame, id_col: str, pairs: DataFrame) -> DataFrame:
    """(id, cluster_id) of every item: the connected component (min
    member id) of its (id_a, id_b) near-dup pairs, or its own id when it
    has none."""
    comp = connected_components(pairs, src="id_a", dst="id_b")
    return (
        items.select(id_col)
        .join(comp, items[id_col] == comp.node, "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("cluster_id"),
        )
    )


def df_annotated_shingles(
    sh_tbl: DataFrame, id_col: str = "doc_id",
    materialize_dfreq: bool = False,
) -> DataFrame:
    """The document-frequency annotation stage of the exact n-gram
    join: explode (id, shingle-array) to (id, size, shingle) rows and
    join each row with its shingle's global document frequency.

    This is the one shuffle in the exact-join pipeline that is keyed by
    SHINGLE, so boilerplate shingles (one phrase shared by 30% of a
    corpus) are textbook hot keys. The intended mitigation is AQE's
    skew-join split (spark.sql.adaptive.skewJoin) — but there is a
    PLAN-SHAPE trap, measured in this sandbox (docs/PLANS.md round 4):
    OptimizeSkewedJoin pattern-matches ONLY
    `SMJ(Sort(ShuffleQueryStage), Sort(ShuffleQueryStage))`, and when
    the dfreq aggregate feeds the join directly, the final
    HashAggregate sits between the shuffle read and the Sort, so the
    rule never fires — at ANY threshold. The r3 plan note assumed AQE
    covered this join; it did not.

    materialize_dfreq=True (what ngram_jaccard_pairs passes when its
    own materialize flag is set) localCheckpoints the tiny
    (shingle, count) table first, which (a) restores the splittable
    plan shape — tests/test_dataops.py shows SortMergeJoin(skew=true)
    + `AQEShuffleRead skewed` engaging on a boilerplate fixture and
    staying absent in the fused shape — and (b) costs little: the
    dfreq rows are two slim columns, already shrunk by the map-side
    partial count.

    Downstream, the per-document row_number window immediately
    re-partitions by doc id (bounded groups), so the split's extra
    partitions never constrain a later stage. Salting is deliberately
    NOT used: with the materialized shape AQE handles join-side skew
    natively, and a salt would force an extra de-salt shuffle."""
    tok = sh_tbl.select(
        F.col(id_col), F.size("__sh").alias("__sz"),
        F.explode("__sh").alias("__s"),
    )
    dfreq = tok.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    if materialize_dfreq:
        dfreq = dfreq.localCheckpoint(eager=True)
    return tok.join(dfreq, "__s")


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.6,
    shingle_n: int = 3,
    materialize: bool = True,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity join (id_a, id_b, jaccard >= t)
    via prefix filtering — the deterministic complement to the
    probabilistic MinHash path (no false negatives at any threshold).

    materialize=True localCheckpoints the slim prefix and shingle
    tables before the self-join: Catalyst plans the two sides of a
    self-join as independent subtrees, so without it the whole
    tokenize -> df-count -> rank lineage executes twice (2x compute,
    not 2x exchange volume — the checkpoint trades one slim disk
    materialization for that recompute; same results either way). It
    also materializes the (shingle, df) table before the df-annotation
    join, which is what makes that join's boilerplate-shingle skew
    AQE-splittable — see df_annotated_shingles for the measured
    plan-shape trap.

    Prefix-filter principle (SSJoin/PPJoin family): order every
    document's shingles by ascending global document frequency (rarest
    first, ties by shingle value); if J(A, B) >= t then A and B must
    share at least one shingle within the first |d| - ceil(t*|d|) + 1
    shingles of EACH side under that common order. So the candidate
    join runs only over the prefix inverted index — rare shingles —
    instead of every shingle, and common boilerplate shingles (the skew
    keys of a naive inverted-index join) never enter the pair join
    unless they land in some document's prefix.

    Exchange discipline matches _minhash_pairs: the prefix join
    carries only (id, shingle); candidates dedup to distinct ID pairs;
    the shingle arrays join back once per side for exact verification.

    Shapes at 100 TB: df(shingle) is one map-side-combined count agg;
    the per-document row_number window partitions by doc (bounded
    groups, no skew); prefix size shrinks as t grows (t=0.9 indexes
    ~10% of each doc).
    """
    from pyspark.sql import Window

    sh_tbl = docs.select(
        F.col(id_col), _token_shingles(text_col, shingle_n).alias("__sh")
    )
    w = Window.partitionBy(id_col).orderBy("__df", "__s")
    prefix = (
        df_annotated_shingles(sh_tbl, id_col, materialize_dfreq=materialize)
        .withColumn("__rnk", F.row_number().over(w))
        .filter(
            F.col("__rnk")
            <= F.col("__sz") - F.ceil(F.lit(jaccard_threshold) * F.col("__sz")) + 1
        )
        .select(id_col, "__s", "__sz", "__rnk")
    )
    sh_hint = lambda d: d  # noqa: E731
    if materialize:
        prefix = prefix.localCheckpoint(eager=True)
        # size-gated broadcast of the (id -> shingles) verification
        # payload — see _minhash_pairs; measured at sf1.0 this join
        # otherwise shuffles ~600 B of array per candidate-pair side
        # for 13.2M distinct candidates
        sh_tbl, sh_hint = broadcast_hint_if_small(sh_tbl, limit_rows=200_000)
    a, b = prefix.alias("a"), prefix.alias("b")
    # r7: PPJoin length + positional filters INSIDE the join condition
    # (guide §2.3 — shuffle/dedup fewer candidate rows). Both are exact
    # (no false negative): J >= t forces min(|A|,|B|) >= t*max(|A|,|B|),
    # and for the FIRST prefix shingle two docs share (positions rnk_a,
    # rnk_b under the common global order) every common shingle sits at
    # or after it in both docs, so |A ∩ B| <= min(|A|-rnk_a, |B|-rnk_b)
    # + 1, which J >= t requires to reach ceil(t/(1+t)*(|A|+|B|)). A
    # qualifying pair always survives via its first shared prefix
    # shingle; later shared shingles may be pruned, which only removes
    # duplicate candidate rows. The 1e-9 slack keeps double rounding at
    # exact-threshold boundaries from ever pruning a passer.
    sza = F.col("a.__sz").cast("double")
    szb = F.col("b.__sz").cast("double")
    size_ok = F.least(sza, szb) >= (
        F.lit(jaccard_threshold) * F.greatest(sza, szb) - F.lit(1e-9)
    )
    alpha = F.lit(jaccard_threshold / (1.0 + jaccard_threshold)) * (sza + szb)
    pos_ok = (
        F.least(sza - F.col("a.__rnk"), szb - F.col("b.__rnk")) + 1
        >= alpha - F.lit(1e-9)
    )
    cand = (
        a.join(
            b,
            (F.col("a.__s") == F.col("b.__s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & size_ok
            & pos_ok,
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    cand = cand.join(
        sh_hint(
            sh_tbl.select(F.col(id_col).alias("id_a"), F.col("__sh").alias("sh_a"))
        ),
        "id_a",
    ).join(
        sh_hint(
            sh_tbl.select(F.col(id_col).alias("id_b"), F.col("__sh").alias("sh_b"))
        ),
        "id_b",
    )
    jac = (
        F.size(F.array_intersect("sh_a", "sh_b"))
        / F.size(F.array_union("sh_a", "sh_b"))
    ).alias("jaccard")
    return cand.select("id_a", "id_b", jac).filter(
        F.col("jaccard") >= F.lit(jaccard_threshold)
    )


def simhash(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    token_hash: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash over whitespace tokens, entirely in Spark SQL
    higher-order functions: per-token hash -> per-bit +/-1 votes ->
    sign -> packed long. Returns (doc_id, simhash).

    token_hash: 'xxhash64' (default — one JVM hash call per token, the
    100 TB production configuration) or 'md5' (two 32-bit words parsed
    from the md5 hex digest: `conv(substring(md5(t), 1|9, 8), 16, 10)`,
    which DuckDB reproduces bit-for-bit as
    `CAST('0x' || substring(md5(t), ...) AS BIGINT)` — the
    oracle-checkable TEST-GATE configuration, same pattern as the
    single-bit-band LSH configs; heavier per token, identical
    semantics and identical banding/verification downstream)."""
    from .hof import hof_let

    # Per-bit masks as int64 literals (pyspark's shiftright/shiftleft
    # accept only Python-int shift amounts, not a lambda variable).
    # Bit 63's mask is the sign bit: -(2**63) in two's complement.
    # r7: the per-token hash is hof_let-bound — the vote transform used
    # to inline it, re-evaluating xxhash64 (or the md5+conv pair) once
    # PER MASK BIT under interpreted HOF evaluation: 64 hash calls per
    # token (measured: the dominant cost of dedup_simhash_pairs at
    # sf1.0). Identical votes, identical packed simhash.
    masks = [(1 << b) if b < 63 else -(1 << 63) for b in range(64)]
    mask_arr = F.array(*[F.lit(m).cast("long") for m in masks])

    if token_hash == "md5":
        # two 32-bit md5 words; vote bit b<32 from word A's bit b,
        # b>=32 from word B's bit b-32 (the DuckDB oracle evaluates
        # the same construction)
        m32 = F.array(*[F.lit(1 << b).cast("long") for b in range(32)])

        def bits_of(w):
            return F.transform(
                m32,
                lambda m: F.when(w.bitwiseAND(m) != 0, F.lit(1))
                .otherwise(F.lit(-1)),
            )

        def token_votes(t):
            return hof_let(
                F.md5(t),
                lambda hx: hof_let(
                    F.conv(F.substring(hx, 1, 8), 16, 10).cast("long"),
                    lambda wa: hof_let(
                        F.conv(F.substring(hx, 9, 8), 16, 10).cast("long"),
                        lambda wb: F.concat(bits_of(wa), bits_of(wb)),
                    ),
                ),
            )

    elif token_hash == "xxhash64":

        def token_votes(t):
            return hof_let(
                F.xxhash64(t),
                lambda h: F.transform(
                    mask_arr,
                    lambda m: F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(
                        F.lit(-1)
                    ),
                ),
            )

    else:
        raise ValueError(f"unknown token_hash {token_hash!r}")

    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    votes = F.aggregate(
        toks,
        F.array_repeat(F.lit(0).cast("int"), 64),
        lambda acc, t: F.zip_with(acc, token_votes(t), lambda x, y: x + y),
    )
    packed = F.aggregate(
        F.zip_with(
            votes,
            mask_arr,
            lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseXOR(x),
    )
    return docs.select(id_col, packed.alias("simhash"))


def embedding_dedup(
    embeddings: DataFrame,
    dim: int,
    cosine_threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **lsh_kwargs,
) -> DataFrame:
    """Embedding-cosine near-duplicate clustering: hyperplane-LSH
    blocked candidate pairs verified with exact cosine
    (similarity.ann_self_join), clustered by connected components.
    Returns (vec_id, cluster_id) where cluster_id = min member id;
    singletons map to themselves — same contract as minhash_dedup, the
    embedding-space rendition of near-dup detection for training
    corpora."""
    from .similarity import ann_self_join

    pairs = ann_self_join(
        embeddings, dim, cosine_threshold, id_col=id_col, vec_col=vec_col,
        **lsh_kwargs,
    )
    return _cluster_ids(embeddings, id_col, pairs)


def simhash_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    token_hash: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash: block on each of four 16-bit bands
    (pigeonhole: hamming <= 3 pairs share at least one exact band —
    EXACT blocking, so the banded output equals the brute-force
    all-pairs truth by construction), verify with bit_count(xor).
    Returns (id_a, id_b, hamming). token_hash: see simhash."""
    # r7: materialize the tiny (id, simhash) table — Catalyst plans the
    # band self-join's two sides as independent subtrees, so without
    # this the whole per-token vote pipeline (and the docs lineage
    # beneath it) executes twice (measured 2x the 21.6s signature wall
    # at sf1.0 for 16 bytes/doc of actual state)
    sh = simhash(docs, id_col, text_col, token_hash=token_hash).localCheckpoint(
        eager=True
    )
    bands = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("simhash", 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("band_bits"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select(id_col, "simhash", "b.band", "b.band_bits")
    a, b = bands.alias("a"), bands.alias("b")
    # r7 first-matching-band dedup (same rework as similarity.
    # ann_self_join): both sides carry the full simhash, so a matched
    # row survives only when every EARLIER band differs — each
    # colliding pair is emitted exactly once and the dropDuplicates
    # exchange over the candidate rows disappears. Identical pair set.
    from .similarity import _first_band_match

    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    first_match = F.expr(_first_band_match("a.simhash ^ b.simhash", "a.band", 16, 4))
    cand = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.band_bits") == F.col("b.band_bits"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        & first_match,
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.bit_count(xor).alias("hamming"),
    )
    return cand.filter(F.col("hamming") <= F.lit(max_hamming))
