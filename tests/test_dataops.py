"""Training-data pipeline operators: dedup (exact/minhash/simhash),
similarity search, text stats, multimodal plumbing. Oracles are
driver-side pure-Python recomputations on the same rows."""

import hashlib
import math
import random
import re
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from opennre_spark.operators import dedup, multimodal, similarity, textstats

WORDS = ("the fast key order sort table scan merge part window small hash "
         "join stream customer data group row value batch slow filter").split()


def _doc(rng, n=30):
    return " ".join(rng.choice(WORDS) for _ in range(n))


def py_winnow(text, k=4, w=4, B=257):
    """Loop reference for winnowing: normalize -> k-gram polynomial
    hash -> window min -> distinct."""
    t = re.sub(" +", " ", re.sub("[^a-z0-9 ]", "", text.lower())).strip()
    if len(t) < k:
        return set()
    grams = []
    for p in range(len(t) - k + 1):
        h = 0
        for ch in t[p : p + k]:
            h = h * B + ord(ch)
        grams.append(h)
    if len(grams) < w:
        return {min(grams)}
    return {min(grams[i : i + w]) for i in range(len(grams) - w + 1)}


@pytest.fixture(scope="module")
def docs(spark):
    rng = random.Random(3)
    rows = []
    for i in range(80):
        rows.append((i, _doc(rng)))
    # exact dups
    rows.append((100, rows[0][1]))
    rows.append((101, rows[0][1]))
    # near dup: one word changed
    base = rows[1][1].split()
    base[5] = "changed"
    rows.append((102, " ".join(base)))
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_dedup(spark, docs):
    kept = dedup.exact_dedup(docs).collect()
    total = docs.count()
    members = sum(r.n_members for r in kept)
    assert members == total
    by_id = {r.doc_id: r.n_members for r in kept}
    assert by_id[0] == 3  # doc 0 + copies 100, 101
    assert 100 not in by_id and 101 not in by_id


def test_minhash_dedup_clusters_near_dups(spark, docs):
    clusters = {r.doc_id: r.cluster_id for r in dedup.minhash_dedup(docs).collect()}
    assert clusters[100] == clusters[0] == 0
    assert clusters[101] == 0
    assert clusters[102] == clusters[1] == 1  # near dup joins doc 1
    # unrelated docs stay singletons
    singleton = [d for d, c in clusters.items() if d == c]
    assert len(singleton) >= 70


def test_minhash_pairs_jaccard_exact(spark, docs):
    """Verified jaccard must equal the pure-python 3-gram jaccard."""
    pairs = dedup.minhash_dup_pairs(docs, jaccard_threshold=0.5).collect()
    texts = {r.doc_id: r.text for r in docs.collect()}

    def shingles(t):
        toks = t.lower().split()
        return {" ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))}

    assert pairs, "expected at least the exact-dup pairs"
    for p in pairs:
        a, b = shingles(texts[p.id_a]), shingles(texts[p.id_b])
        want = len(a & b) / len(a | b)
        assert abs(p.jaccard - want) < 1e-9


def test_simhash_parity_and_pairs(spark, docs):
    rows = dedup.simhash(docs).collect()
    assert len(rows) == docs.count()
    # exact dups share the simhash
    sh = {r.doc_id: r.simhash for r in rows}
    assert sh[0] == sh[100] == sh[101]
    pairs = {(r.id_a, r.id_b): r.hamming for r in
             dedup.simhash_dup_pairs(docs, max_hamming=8).collect()}
    assert pairs[(0, 100)] == 0 and pairs[(0, 101)] == 0
    assert (1, 102) in pairs  # near dup within hamming 8


def test_cosine_topk_matches_numpy(spark):
    rng = np.random.default_rng(9)
    vecs = rng.normal(size=(50, 16)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    q = [float(x) for x in vecs[0]]
    got = similarity.cosine_topk(df.filter("vec_id != 0"), q, k=5).collect()
    qv = np.array(q)
    cos = vecs[1:] @ qv / (np.linalg.norm(vecs[1:], axis=1) * np.linalg.norm(qv))
    order = sorted(range(1, 50), key=lambda i: (-cos[i - 1], i))[:5]
    assert [r.vec_id for r in got] == order
    for r, i in zip(got, order):
        assert abs(r.cos_sim - float(cos[i - 1])) < 1e-6


def _fold_dot(a, b):
    """Left-to-right float64 dot from 0.0, the order of the SQL fold."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def test_ann_self_join_finds_planted_neighbors(spark):
    rng = np.random.default_rng(11)
    base = rng.normal(size=(30, 16)).astype(np.float32)
    rows = [(i, [float(x) for x in base[i]]) for i in range(30)]
    # planted near-duplicates of vec 0 and 7
    for j, src in ((100, 0), (107, 7)):
        v = base[src] + rng.normal(scale=0.01, size=16).astype(np.float32)
        rows.append((j, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r.id_a, r.id_b) for r in
           similarity.ann_self_join(df, dim=16, cosine_threshold=0.98).collect()}
    assert (0, 100) in got and (7, 107) in got
    # 16 one-bit bands miss a pair at cosine 0.5 with probability
    # (1/3)^16, so the blocked output must equal brute force exactly:
    # same pairs, and each cosine the same double (rows hold float32
    # values, so the reference sees what Spark stores)
    vecs = dict(rows)
    want = {}
    for i in vecs:
        for j in vecs:
            if i < j:
                c = _fold_dot(vecs[i], vecs[j]) / (
                    math.sqrt(_fold_dot(vecs[i], vecs[i]))
                    * math.sqrt(_fold_dot(vecs[j], vecs[j]))
                )
                if c >= 0.5:
                    want[(i, j)] = c
    got = {(r.id_a, r.id_b): r.cos_sim for r in similarity.ann_self_join(
        df, dim=16, cosine_threshold=0.5, num_planes=16, num_bands=16
    ).collect()}
    assert len(want) > 10
    assert got == want


def _signature_reference(vecs, dim, num_planes, num_bands, seed=7):
    """(id, band, band_bits, sig_word) rows from the same seeded planes
    and a left-to-right float64 dot."""
    rng = random.Random(seed)
    planes = [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)]
    per_band = num_planes // num_bands
    out = set()
    for vid, v in vecs.items():
        bits = [1 if _fold_dot(v, p) > 0 else 0 for p in planes]
        word = sum(b << i for i, b in enumerate(bits))
        for band in range(num_bands):
            chunk = bits[band * per_band:(band + 1) * per_band]
            out.add((vid, band, sum(b << r for r, b in enumerate(chunk)), word))
    return out


@pytest.mark.parametrize("num_planes,num_bands", [(16, 4), (16, 16), (63, 7)])
def test_hyperplane_signature_matches_reference(spark, num_planes, num_bands):
    rng = np.random.default_rng(5)
    raw = rng.normal(size=(40, 12)).astype(np.float32)
    vecs = {i: [float(x) for x in raw[i]] for i in range(len(raw))}
    df = spark.createDataFrame(list(vecs.items()), "vec_id long, embedding array<float>")
    sig = similarity.hyperplane_signature(df, 12, num_planes, num_bands)
    assert sig.columns == ["vec_id", "band", "band_bits", "sig_word"]
    got = {tuple(r) for r in sig.collect()}
    assert got == _signature_reference(vecs, 12, num_planes, num_bands)


def test_hyperplane_signature_rejects_bad_shape(spark):
    """A band shape that leaves planes out of every band, or bands of
    zero width (every pair a candidate), is an error, not a silent
    O(n^2) or lossy join."""
    df = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, embedding array<float>")
    for planes, bands in ((16, 0), (0, 4), (16, 5)):
        with pytest.raises(ValueError):
            similarity.hyperplane_signature(df, 2, num_planes=planes, num_bands=bands)
    with pytest.raises(ValueError):
        similarity.ann_self_join(df, 2, num_planes=16, num_bands=5)
    with pytest.raises(ValueError):
        dedup.embedding_dedup(df, 2, num_planes=32, num_bands=64)


def test_sql_double_roundtrips_exactly(spark):
    vals = [5e-324, 1e-300, 1e22, -0.0, 0.1, -1.5e-07, float("nan"),
            float("inf"), float("-inf")]
    df = spark.range(1).selectExpr(
        *[f"{similarity._sql_double(v)} AS c{i}" for i, v in enumerate(vals)]
    )
    assert {f.dataType.simpleString() for f in df.schema.fields} == {"double"}
    row = df.first()
    for v, g in zip(vals, row):
        if math.isnan(v):
            assert math.isnan(g)
        else:
            assert struct.pack("<d", g) == struct.pack("<d", v), (v, g)


def test_lsh_plan_build_is_dim_independent(spark):
    """Building the signature plan costs a fixed number of py4j round
    trips, whatever the dimension: the planes are SQL text, not one
    Column call per coefficient. py4j's releases of dead proxies are
    not counted: they fire whenever Python's collector frees objects
    made earlier."""
    from py4j import protocol

    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    df = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, embedding array<float>")
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def counting(command, *a, **k):
        calls[0] += not command.startswith(release)
        return send(command, *a, **k)

    similarity.hyperplane_signature(df, 8)  # warm-up
    counts = []
    for dim in (8, 512):
        calls[0] = 0
        client.send_command = counting
        try:
            similarity.hyperplane_signature(df, dim)
        finally:
            client.send_command = send
        counts.append(calls[0])
    assert counts[0] == counts[1] and counts[0] <= 100, counts


def test_document_stats(spark, docs):
    out = {r.doc_id: r for r in textstats.document_stats(docs).collect()}
    texts = {r.doc_id: r.text for r in docs.collect()}
    for did, text in list(texts.items())[:10]:
        r = out[did]
        toks = text.lower().split()
        assert r.n_tokens == len(toks)
        assert r.n_chars == len(text)
        stop = sum(1 for t in toks if t in textstats.STOPWORDS["en"])
        assert abs(r.stopword_ratio - stop / len(toks)) < 1e-9
        alpha = sum(1 for c in text if c.isascii() and c.isalpha())
        assert abs(r.alpha_ratio - alpha / len(text)) < 1e-9
        assert r.lang_pred in ("en", "und")
        assert 0.0 <= r.quality <= 1.0
    # fingerprint is whitespace-jitter stable
    jit = spark.createDataFrame(
        [(0, "  " + texts[0].replace(" ", "   ") + " ")], "doc_id long, text string"
    )
    assert (
        textstats.document_stats(jit).first().fingerprint == out[0].fingerprint
    )


def test_multimodal_features(spark):
    media = multimodal.synthetic_media(spark, 30)
    feats = multimodal.extract_features(media).collect()
    assert len(feats) == 30
    for r in feats:
        assert len(r.features) == multimodal.FEATURE_DIM
        assert all(0.0 <= v <= 1.0 for v in r.features)
    # determinism: same payload -> same features (stub is content-hash)
    payloads = {r.media_id: bytes(r.payload) for r in media.collect()}
    got = {r.media_id: list(r.features) for r in feats}
    for mid, p in list(payloads.items())[:5]:
        want = multimodal.decode_stub(p)
        assert np.allclose(got[mid], want, atol=1e-7)


def test_multimodal_frame_sample_and_resize(spark):
    media = multimodal.synthetic_media(spark, 30)
    frames = multimodal.frame_sample(media, every_k=5).collect()
    vids = {r.media_id: r["meta"]["n_frames"] for r in media.collect() if r.kind == "video"}
    per = {}
    for r in frames:
        per.setdefault(r.media_id, []).append(r.frame_idx)
    assert set(per) == set(vids)
    for mid, idxs in per.items():
        assert idxs == list(range(0, vids[mid], 5))
    rs = multimodal.resize_plan(media, max_side=64).collect()
    for r in rs:
        assert max(r.dst_width, r.dst_height) <= 64
        assert r.dst_width > 0 and r.dst_height > 0


def test_ivf_topk_recall(spark):
    """IVF (coarse k-means buckets + nprobe search) finds most of the
    exact top-k; nprobe = n_centroids degenerates to exact."""
    rng = np.random.default_rng(21)
    # clustered data so IVF buckets are meaningful
    centers = rng.normal(size=(6, 16)).astype(np.float32) * 3
    vecs = np.concatenate(
        [c + rng.normal(scale=0.4, size=(40, 16)).astype(np.float32) for c in centers]
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    ).cache()
    q = [float(x) for x in vecs[7]]
    exact = [r.vec_id for r in similarity.cosine_topk(df, q, k=10).collect()]

    cent = similarity.train_ivf_centroids(df, dim=16, n_centroids=6, sample_rows=240)
    assigned = similarity.ivf_assign(df, cent).cache()
    assert assigned.count() == len(vecs)
    approx = [r.vec_id for r in similarity.ivf_topk(assigned, cent, q, k=10, nprobe=2).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.7, recall
    # probing every bucket is exact
    full = [r.vec_id for r in similarity.ivf_topk(assigned, cent, q, k=10, nprobe=6).collect()]
    assert full == exact
    df.unpersist(); assigned.unpersist()


def test_ngram_jaccard_prefix_filter_is_exact(spark, docs):
    """The prefix-filtered join must return EXACTLY the brute-force
    all-pairs Jaccard result — no false negatives at any threshold
    (PPJoin prefix lemma), no false positives (exact verification)."""
    texts = {r.doc_id: r.text for r in docs.collect()}

    def shingles(t):
        toks = t.lower().split()
        return {" ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))}

    for thr in (0.5, 0.8):
        got = {
            (p.id_a, p.id_b): p.jaccard
            for p in dedup.ngram_jaccard_pairs(
                docs, jaccard_threshold=thr
            ).collect()
        }
        want = {}
        ids = sorted(texts)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                sa, sb = shingles(texts[a]), shingles(texts[b])
                j = len(sa & sb) / len(sa | sb)
                if j >= thr:
                    want[(a, b)] = j
        assert set(got) == set(want)
        for k in want:
            assert abs(got[k] - want[k]) < 1e-9


def test_winnow_fingerprints_python_parity(spark, docs):
    """Spark winnowing == a pure-python reimplementation (normalize ->
    k-gram polynomial hash -> window min -> distinct)."""
    out = textstats.winnow_fingerprints(docs).collect()
    got = {}
    for r in out:
        got.setdefault(r.doc_id, set()).add(r.fp)
    texts = {r.doc_id: r.text for r in docs.collect()}
    for did, text in texts.items():
        want = py_winnow(text)
        assert got.get(did, set()) == want, f"doc {did}"


def test_winnow_fingerprints_honour_k_and_window(spark):
    """Non-default gram lengths and windows match the loop reference
    (short texts exercise the fewer-than-window and shorter-than-k
    boundary rules); out-of-range k/window and a k whose gram hash
    overflows int64 are rejected."""
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "Winnowing: local fingerprints, 2003!",
        "abcde",
        "ab",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    for k, w in ((2, 6), (3, 2), (5, 5), (6, 3)):
        got = {}
        for r in textstats.winnow_fingerprints(df, k=k, window=w).collect():
            got.setdefault(r.doc_id, set()).add(r.fp)
        for i, t in enumerate(texts):
            assert got.get(i, set()) == py_winnow(t, k, w), (k, w, t)
    for kw in ({"k": 0}, {"window": 0}, {"k": 9}):
        with pytest.raises(ValueError):
            textstats.winnow_fingerprints(df, **kw)


def test_winnow_fingerprints_detect_overlap(spark):
    """A document sharing a long span with another shares fingerprints;
    an unrelated one does not — the property winnowing exists for."""
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    reordered = "completely different preamble text " + base
    other = "unrelated content with no common phrases at all whatsoever"
    df = spark.createDataFrame(
        [(1, base), (2, reordered), (3, other)], "doc_id long, text string"
    )
    rows = textstats.winnow_fingerprints(df).collect()
    fps = {}
    for r in rows:
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert len(fps[1] & fps[2]) > 0
    assert len(fps[1] & fps[3]) == 0


def test_ngram_df_join_aqe_skew_split_engages(spark):
    """Executed-plan evidence for the boilerplate-shingle skew story
    (VERDICT r3 watch item): on a corpus where one 3-token boilerplate
    phrase appears in half the documents, the df-annotation join's
    materialized shape lets AQE's OptimizeSkewedJoin split the hot
    shingle's partition (SortMergeJoin(skew=true) + `AQEShuffleRead
    skewed` in the final adaptive plan) — and the r3 assumption that
    AQE covers the UN-materialized shape is demonstrably false: with
    the dfreq aggregate fused under the join, the rule's strict
    SMJ(Sort(ShuffleRead), Sort(ShuffleRead)) pattern never matches,
    at any threshold. Same rows either way.

    Thresholds are scaled to the fixture (the 256 MB default exists
    for real clusters); the *shape* of the decision — hot partition >
    max(threshold, factor * median) — is what's under test."""
    conf_keys = {
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2k",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in conf_keys}
    try:
        for k, v in conf_keys.items():
            spark.conf.set(k, v)
        # 80% of docs are the bare boilerplate phrase (one shingle, one
        # key — LZ4 map-output compression flattens milder skews below
        # the detector's byte ratio at this scale; rows, not bytes, are
        # what the fixture controls)
        boiler = "as an ai"  # 3 tokens -> exactly one hot shingle
        docs = spark.range(60_000).select(
            F.col("id").alias("doc_id"),
            F.when(F.col("id") % 10 < 8, F.lit(boiler))
            .otherwise(
                F.concat_ws(" ", F.transform(
                    F.sequence(F.lit(0), F.lit(4)),
                    lambda i: F.concat(
                        F.lit("w"),
                        ((F.col("id") * 37 + i) % 50_000).cast("string"),
                    ),
                ))
            ).alias("text"),
        )
        sh = docs.select(
            "doc_id", dedup._token_shingles("text", 3).alias("__sh")
        )

        def run(materialize_dfreq):
            ann = dedup.df_annotated_shingles(
                sh, "doc_id", materialize_dfreq=materialize_dfreq
            )
            rows = ann.collect()
            plan = ann._jdf.queryExecution().executedPlan().toString()
            return rows, plan

        rows_fused, plan_fused = run(False)
        rows_mat, plan_mat = run(True)
        # the materialized shape splits the hot partition...
        assert len(re.findall(r"skew=true", plan_mat)) >= 1, plan_mat[:2000]
        assert "AQEShuffleRead skewed" in plan_mat
        # ...the fused shape is structurally ineligible (documented trap)
        assert "skew=true" not in plan_fused
        # and the split changes the plan only, never the rows
        key = lambda r: (r["doc_id"], r["__s"])
        assert sorted(map(key, rows_mat)) == sorted(map(key, rows_fused))
        hot = [r for r in rows_mat if r["__s"] == boiler]
        assert len(hot) == 48_000 and all(r["__df"] == 48_000 for r in hot)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_ngram_jaccard_hypothesis_vs_bruteforce(spark):
    """Property test of the prefix-filter lemma over adversarial small
    corpora: tiny docs, identical docs, near-identical docs, thresholds
    at and off lattice points — the filtered join must equal brute
    force every time."""
    from hypothesis import given, settings, strategies as st

    vocab = ["aa", "bb", "cc", "dd", "ee"]

    @st.composite
    def corpus(draw):
        n = draw(st.integers(2, 7))
        docs = []
        for i in range(n):
            ln = draw(st.integers(1, 8))
            docs.append(
                (i, " ".join(draw(st.sampled_from(vocab)) for _ in range(ln)))
            )
        # force at least one exact duplicate pair
        docs.append((n, docs[0][1]))
        return docs

    @settings(max_examples=12, deadline=None)
    @given(rows=corpus(), thr=st.sampled_from([0.3, 0.5, 2 / 3, 0.75, 1.0]))
    def run(rows, thr):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (p.id_a, p.id_b)
            for p in dedup.ngram_jaccard_pairs(
                df, jaccard_threshold=thr, shingle_n=2, materialize=False
            ).collect()
        }

        def sh(t):
            toks = t.lower().split()
            return {
                " ".join(toks[i : i + 2]) for i in range(max(len(toks) - 1, 1))
            }

        want = set()
        for i, (ai, at) in enumerate(rows):
            for bi, bt in rows[i + 1 :]:
                sa, sb = sh(at), sh(bt)
                if len(sa & sb) / len(sa | sb) >= thr:
                    want.add((min(ai, bi), max(ai, bi)))
        assert got == want

    run()


def test_winnow_hypothesis_vs_python(spark):
    """Random unicode-ish text through Spark winnowing == the python
    reference (normalization edge cases: punctuation, digits, unicode,
    runs of spaces, short strings)."""
    from hypothesis import given, settings, strategies as st

    texts_strategy = st.lists(
        st.text(
            alphabet=st.sampled_from(list("abcXYZ019 .,!?-Ü日")), max_size=40
        ),
        min_size=1,
        max_size=8,
    )

    @settings(max_examples=10, deadline=None)
    @given(texts=texts_strategy)
    def run(texts):
        rows = [(i, t) for i, t in enumerate(texts)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {}
        for r in textstats.winnow_fingerprints(df).collect():
            got.setdefault(r.doc_id, set()).add(r.fp)
        for i, t in rows:
            assert got.get(i, set()) == py_winnow(t), repr(t)

    run()


def test_simhash_md5_variant_semantics(spark, docs):
    """token_hash='md5' (the oracle-gate configuration — both hash
    words parse from the md5 hex digest identically in Spark and
    DuckDB) preserves the simhash semantics: exact duplicates collide,
    and the banded pair finder sees them at hamming 0."""
    from pyspark.sql import functions as F

    dup = docs.unionByName(
        docs.limit(5).select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
    )
    sh = {r.doc_id: r.simhash for r in
          dedup.simhash(dup, token_hash="md5").collect()}
    src_ids = sorted(k for k in sh if k < 10_000)[:5]
    for sid in src_ids:
        if sid + 10_000 in sh:
            assert sh[sid] == sh[sid + 10_000]
    pairs = dedup.simhash_dup_pairs(
        dup, max_hamming=0, token_hash="md5"
    ).collect()
    exact = {(r.id_a, r.id_b) for r in pairs}
    for sid in src_ids:
        if sid + 10_000 in sh:
            assert (sid, sid + 10_000) in exact
