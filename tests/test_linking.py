"""Entity linking: MinHash-LSH blocking + connected components (J4).

Gold clustering comes from the gazetteer's canonical_id (FIXTURES.md
F2: surface variants like 'Ada Moreno' / 'A. Moreno' / 'ada moreno'
share a canonical id).
"""

import pytest

from opennre_spark import relations
from opennre_spark.operators import dedup, linking
from opennre_spark.operators.linking import connected_components, link_entities

# driver bounds: the default (driver finish only), 0 (star rounds to the
# fixed point, labels read in Spark), 5 (star rounds, then the driver
# finish once the edge list has shrunk to 5 rows, or the fixed point on
# a component with more than 5 non-root nodes)
_BOUNDS = (linking._DRIVER_ROWS, 0, 5)


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (30, 31), (31, 32), (32, 30)],
        "src long, dst long",
    )
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert comp[1] == comp[2] == comp[3] == comp[4] == 1
    assert comp[10] == comp[11] == 10
    assert comp[30] == comp[31] == comp[32] == 30


def test_connected_components_long_chain(spark):
    """A path graph exercises multiple large/small-star rounds."""
    n = 40
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert set(comp.values()) == {0}
    assert len(comp) == n + 1


def test_connected_components_raises_when_max_iter_runs_out(spark, monkeypatch):
    """Unconverged labels are an error, not a result. The 41-node path
    fits the driver, so the bound is lowered to 0 to make it take the
    star rounds that max_iter bounds."""
    monkeypatch.setattr(linking, "_DRIVER_ROWS", 0)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="max_iter=1"):
        connected_components(edges, max_iter=1)


def test_connected_components_star_rounds_then_driver_finish(spark, monkeypatch):
    """Above the bound the star rounds run first, then the driver
    finishes the labelling once the edge list fits. The 41-node path is
    listed in both directions (80 rows above a bound of 45); the star
    forest of a connected 41-node graph keeps 40 edges, so no bound
    below 40 can ever take the driver finish on it."""
    edges = [(i, i + 1) for i in range(40)] + [(i + 1, i) for i in range(40)]
    df = spark.createDataFrame(edges, "src long, dst long")
    finished = []
    real = linking._label_on_driver

    def finish(spark, tbl):
        finished.append(tbl.num_rows)
        return real(spark, tbl)

    monkeypatch.setattr(linking, "_DRIVER_ROWS", 45)
    monkeypatch.setattr(linking, "_label_on_driver", finish)
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == _uf_oracle(edges)
    assert len(finished) == 1 and 40 <= finished[0] <= 45


def _uf_oracle(edges):
    """Union-find reference: node -> min member id of its component,
    over nodes incident to at least one non-self-loop edge (the
    operator's contract: pure self-loop nodes don't appear)."""
    nodes = {u for u, v in edges if u != v} | {v for u, v in edges if u != v}
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        if u == v:
            continue
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    comp_min: dict = {}
    for n in nodes:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    return {n: comp_min[find(n)] for n in nodes}


@pytest.mark.parametrize(
    "edges",
    [
        [],                                    # empty graph
        [(5, 5)],                              # pure self-loop
        [(0, i) for i in range(1, 12)],        # star
        [(i, i + 1) for i in range(12)],       # chain
        # two cliques bridged by nothing + a reversed-order chain
        [(a, b) for a in range(4) for b in range(a + 1, 4)]
        + [(a, b) for a in range(20, 24) for b in range(a + 1, 24)]
        + [(9, 8), (8, 7), (7, 9)],
        # pure self-loops, isolated edges given both ways and twice, a
        # long path whose ids run against its order, and a cycle
        [(3, 3), (4, 4), (50, 51), (51, 50), (50, 51), (60, 61)]
        + [(100 - i, 100 - i - 1) for i in range(30)]
        + [(200, 203), (203, 201), (201, 202), (202, 200)],
        # a 5-clique listed in both directions with self-loops: 20 rows
        # but 4 non-root nodes, so bound 5 finishes on the driver after
        # the first star round
        [(a, b) for a in range(10, 15) for b in range(10, 15)],
    ],
)
def test_connected_components_structured_vs_union_find(spark, monkeypatch, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    for bound in _BOUNDS:
        monkeypatch.setattr(linking, "_DRIVER_ROWS", bound)
        out = connected_components(df)
        assert [(f.name, f.dataType.simpleString()) for f in out.schema] == [
            ("node", "bigint"), ("component", "bigint")
        ], bound
        got = {r.node: r.component for r in out.collect()}
        assert got == _uf_oracle(edges), f"bound {bound}"


def test_connected_components_property_vs_union_find(spark, monkeypatch):
    """CC underpins three oracle-checked operators (linking, minhash
    clusters, embedding clusters); property-check it against union-find
    on seeded random graphs — mixes of stars, chains, cliques, duplicate
    and reversed edges, self-loops (VERDICT r2 item 7) — at every
    driver bound: the driver finish alone, the star rounds alone, and
    star rounds followed by the driver finish."""
    import random

    for seed in range(6):
        rng = random.Random(1000 + seed)
        n = rng.randrange(2, 30)
        m = rng.randrange(0, 60)
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        # sprinkle structure: a clique and a chain over random nodes
        clique = rng.sample(range(n), min(4, n))
        edges += [(a, b) for ai, a in enumerate(clique) for b in clique[ai + 1:]]
        chain = rng.sample(range(n), min(5, n))
        edges += list(zip(chain, chain[1:]))
        df = spark.createDataFrame(edges, "src long, dst long")
        want = _uf_oracle(edges)
        for bound in _BOUNDS:
            monkeypatch.setattr(linking, "_DRIVER_ROWS", bound)
            got = {r.node: r.component for r in connected_components(df).collect()}
            assert got == want, f"seed {seed}, bound {bound}: CC != union-find"


class _PairFinderCalled(Exception):
    pass


def test_link_pair_finder_finds_variants(spark, monkeypatch):
    """link_entities' call of the shared MinHash-LSH pair finder (its
    arguments captured, linking stopped before clustering) blocks and
    verifies surface variants."""
    calls = []

    def capture(*args, **kwargs):
        calls.append((args, kwargs))
        raise _PairFinderCalled

    names = spark.createDataFrame(
        [(n,) for _, n, _ in relations.gazetteer()], "name string"
    )
    with monkeypatch.context() as m:
        m.setattr(dedup, "_minhash_pairs", capture)
        with pytest.raises(_PairFinderCalled):
            link_entities(names)
    args, kwargs = calls[0]
    edges = dedup._minhash_pairs(*args, **kwargs)
    got = {(r.id_a, r.id_b) for r in edges.collect()}
    # abbreviated person variants must be blocked + verified
    assert ("A. Moreno", "Ada Moreno") in got or ("Ada Moreno", "A. Moreno") in got


def test_link_entities_matches_gold_clusters(spark):
    gaz = relations.gazetteer()
    mentions = spark.createDataFrame([(n,) for _, n, _ in gaz], "name string")
    mapping = {r.name: r.canonical_name for r in link_entities(mentions).collect()}
    # group gold by canonical id
    gold: dict[str, set] = {}
    for _, name, canon in gaz:
        gold.setdefault(canon, set()).add(name)
    merged_wrong = []
    split_wrong = []
    for canon, names in gold.items():
        mapped = {mapping[n] for n in names}
        if len(mapped) != 1:
            split_wrong.append((canon, names, mapped))
    # no two distinct gold clusters may share a canonical name
    seen: dict[str, str] = {}
    for canon, names in gold.items():
        rep = mapping[next(iter(names))]
        if rep in seen and seen[rep] != canon:
            merged_wrong.append((rep, seen[rep], canon))
        seen[rep] = canon
    assert not split_wrong, f"split clusters: {split_wrong[:3]}"
    assert not merged_wrong, f"merged clusters: {merged_wrong[:3]}"


def test_canonical_triples_merges_variants(spark):
    """Full composition: triples on variant entity ids collapse onto the
    discovered canonical surface form."""
    from opennre_spark.pipeline import canonical_triples

    triples = spark.createDataFrame(
        [
            ("P000a", "founder_of", "O000a", 0.9, 2),  # Ada Moreno / Helix Dynamics
            ("P000b", "founder_of", "O000b", 0.8, 1),  # A. Moreno / HELIX DYNAMICS
            ("P001a", "spouse_of", "P002a", 0.7, 1),   # distinct pair stays
        ],
        "subj string, pred string, obj string, score double, n_support long",
    )
    got = {
        (r.subj, r.pred, r.obj): (round(r.score, 6), r.n_support)
        for r in canonical_triples(triples).collect()
    }
    # the two variant triples merged into one canonical fact
    assert len(got) == 2
    merged = [(k, v) for k, v in got.items() if k[1] == "founder_of"]
    assert len(merged) == 1
    (subj, _, obj), (score, support) = merged[0]
    assert subj == "A. Moreno"  # lexicographically smallest cluster member
    assert obj in ("HELIX DYNAMICS", "Helix Dynamics")
    assert score == 0.9 and support == 3


def test_connected_components_driver_finish_large_shuffled_graph(spark):
    """The driver finish on thousands of nodes: long paths with shuffled
    ids (the worst case for min-label propagation), random extra edges
    and isolated pairs, against union-find."""
    import random

    rng = random.Random(7)
    ids = rng.sample(range(10**9), 6000)
    edges = list(zip(ids[:3000], ids[1:3001]))
    edges += [(ids[3001 + i], ids[3002 + i]) for i in range(0, 2000, 2)]
    edges += [
        (rng.choice(ids[3100:]), rng.choice(ids[3100:])) for _ in range(1500)
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == _uf_oracle(edges)
