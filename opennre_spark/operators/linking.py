"""Entity linking & canonicalization (SURVEY.md §2.3 J4, north_star):
mention surface forms -> candidate duplicate edges via MinHash-LSH
blocking -> connected components -> canonical entity ids.

The reference has NO entity linking — instance ids come pre-assigned
in its datasets (data_loader.py:162 reads item['h']['id']); this is the
KG-construction capability the north rule adds on top.

Scale design:
  - blocking + verification: the package's one MinHash-LSH pair finder
    (dedup._minhash_pairs) over the *distinct names* (tiny vs corpus),
    keyed by name, with character-3-shingle sets: equal band-hash ->
    candidate pair via an equi-join on (band, band_hash) — no O(n^2)
    pair enumeration — then exact shingle Jaccard on the blocked
    candidates only.
  - clustering: connected components. An edge list of at most
    _DRIVER_ROWS (500,000) rows, about 8 MB of int64 pairs, is
    collected once with toArrow() and labelled exactly in driver numpy
    (min-id hooking with pointer jumping); no Python worker starts.
    Larger graphs first run alternating large-star / small-star
    DataFrame joins (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SOCC'14), localCheckpoint()ed each round to truncate
    lineage, until the edge list fits the driver or reaches its fixed
    point. No GraphFrames dependency.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Edge lists (and broadcast-hinted mappings) of at most this many rows
# are small enough to hold on the driver: about 8 MB of int64 pairs.
_DRIVER_ROWS = 500_000


def _char_shingles(name_col: str, k: int = 3):
    """Distinct k-character shingles of the ^-$-padded lowercased name."""
    padded = F.concat(F.lit("^"), F.lower(F.col(name_col)), F.lit("$"))
    n = F.length(padded)
    starts = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(starts, lambda i: padded.substr(i, F.lit(k)))
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components of an undirected edge list. Returns
    (node, component) with the input id type, where component = min
    node id of the cluster; nodes that only have self-loops do not
    appear.

    The edge list fits the driver when it has at most _DRIVER_ROWS
    (500,000) rows, about 8 MB of int64 pairs. That is checked at entry
    by a bounded probe that is also the collect
    (limit(_DRIVER_ROWS + 1).toArrow(); a graph that does not fit
    wastes that one collect), and after every star round from the edge
    count its convergence screen computes anyway. A fitting edge list
    is labelled exactly on the driver (_label_on_driver): no
    convergence test, no Python worker.

    Only a larger graph runs alternating large-star/small-star rounds:
    each is two self-join+agg passes, localCheckpoint()ed so the plan
    doesn't grow exponentially (SURVEY.md §4 'needs custom work' #1).
    The star fixed point keeps one edge per non-root node, so a graph
    with more than _DRIVER_ROWS non-root nodes never shrinks to the
    bound: its rounds stop at the edge set's fixed point (a hash
    signature screens, exceptAll confirms) and the labels are read off
    the star forest in Spark. max_iter bounds the star rounds only:
    RuntimeError when neither happened within max_iter rounds (the
    labels would not be final).
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .localCheckpoint()
    )
    head = e.limit(_DRIVER_ROWS + 1).toArrow()
    if head.num_rows <= _DRIVER_ROWS:
        return _label_on_driver(e.sparkSession, head)
    e = e.distinct().localCheckpoint()

    def edge_sig(df: DataFrame) -> tuple:
        """Order-insensitive set signature (count, sum of per-edge
        64-bit hashes, summed in decimal so ANSI mode can't overflow):
        ONE action per round instead of two exceptAll passes — the
        convergence check itself stays O(|E|) map-side work."""
        r = df.agg(
            F.count(F.lit(1)),
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
        ).first()
        return (r[0], r[1])

    sig = edge_sig(e)
    for _ in range(max_iter):
        # symmetrize: star operations need the full undirected adjacency.
        # Checkpointed: each round's plan references nbrs four times
        # (two self-joins + two aggregates) — truncating here keeps the
        # optimizer's working set flat (and dodges a Spark 4 analyzer
        # attribute-rebind failure on deeply self-referential plans).
        nbrs = (
            e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .distinct()
            .localCheckpoint()
        )
        # large-star: for each node u, connect every neighbor v > u to
        # m = min(neighbors(u) ∪ {u})
        mins = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.withColumn("mn", F.least("mn", F.col("u")))
        large = (
            nbrs.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        )
        # small-star: for each node u, connect all neighbors <= u (and u)
        # to the overall min
        small_n = nbrs.filter(F.col("v") < F.col("u"))
        smins = small_n.groupBy("u").agg(F.min("v").alias("mn"))
        small = (
            small_n.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .unionByName(smins.select(F.col("u"), F.col("mn").alias("v")))
        )
        new_e = large.unionByName(small).filter(F.col("u") != F.col("v")).distinct()
        new_e = new_e.localCheckpoint()
        # converged when the edge set reached a fixed point. The cheap
        # signature (one action/round, previous round's carried forward)
        # SCREENS for candidate convergence; an exact exceptAll equality
        # check then CONFIRMS it — the expensive two-action comparison
        # runs only at the (single) candidate round, and a 64-bit
        # hash-sum collision can never silently truncate the iteration.
        new_sig = edge_sig(new_e)
        # the screen's edge count also says when the edges fit the driver
        if new_sig[0] <= _DRIVER_ROWS:
            return _label_on_driver(new_e.sparkSession, new_e.toArrow())
        if new_sig == sig and new_e.exceptAll(e).isEmpty() and e.exceptAll(
            new_e
        ).isEmpty():
            e = new_e
            break
        sig = new_sig
        e = new_e
    else:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds; raise max_iter"
        )

    comp = e.groupBy("u").agg(F.min("v").alias("mn"))
    comp = comp.select(
        F.col("u").alias("node"), F.least("mn", F.col("u")).alias("component")
    )
    # nodes that appear only as a component root of others
    roots = comp.select(F.col("component").alias("node")).distinct().join(
        comp, "node", "left_anti"
    ).withColumn("component", F.col("node"))
    return comp.unionByName(roots)


def _label_on_driver(spark, tbl) -> DataFrame:
    """Exact (node, component) of a small Arrow (u, v) edge list without
    self-loops (duplicate and reversed edges allowed), in driver numpy:
    ids compressed with np.unique (so index order is id order), then
    every edge hooks the larger of its two roots under the smaller and
    pointer jumping flattens the forest, until both ends of every edge
    share a root — the component's min index. No per-edge Python loop;
    the result goes back with createDataFrame, in the input id type."""
    import numpy as np
    import pyarrow as pa

    id_type = tbl.schema.field("u").type
    u = tbl.column("u").to_numpy()
    nodes, idx = np.unique(
        np.concatenate([u, tbl.column("v").to_numpy()]), return_inverse=True
    )
    a, b = idx[: len(u)], idx[len(u):]
    root = np.arange(len(nodes))
    while True:
        ra, rb = root[a], root[b]
        if np.array_equal(ra, rb):
            break
        lo = np.minimum(ra, rb)
        np.minimum.at(root, ra, lo)
        np.minimum.at(root, rb, lo)
        while True:
            jumped = root[root]
            if np.array_equal(jumped, root):
                break
            root = jumped
    return spark.createDataFrame(
        pa.table(
            {
                "node": pa.array(nodes, id_type),
                "component": pa.array(nodes[root], id_type),
            }
        )
    )


def link_entities(
    mentions: DataFrame,
    name_col: str = "name",
    jaccard_threshold: float = 0.27,
) -> DataFrame:
    """Full linking pass: distinct mention names -> similarity edges ->
    components -> (name, canonical_name) mapping, where canonical_name
    is the lexicographically smallest member of each cluster (stable,
    deterministic). Names with no near-duplicate map to themselves.
    """
    from .dedup import _minhash_pairs

    names = mentions.select(name_col).distinct().cache()
    try:
        ids = names.withColumn("nid", F.xxhash64(F.lower(F.col(name_col))))
        edges = _minhash_pairs(
            names, name_col, _char_shingles(name_col, 3), jaccard_threshold,
            materialize=True, num_hashes=16, num_bands=16, seed=13,
        )
        eids = (
            edges.join(ids.withColumnRenamed(name_col, "id_a"), "id_a")
            .withColumnRenamed("nid", "src")
            .join(ids.withColumnRenamed(name_col, "id_b"), "id_b")
            .withColumnRenamed("nid", "dst")
            .select("src", "dst")
        )
        comp = connected_components(eids)
        mapped = (
            ids.join(comp, ids.nid == comp.node, "left")
            .withColumn("component", F.coalesce("component", "nid"))
            .select(name_col, "component")
        )
        canon = mapped.groupBy("component").agg(
            F.min(name_col).alias("canonical_name")
        )
        return mapped.join(canon, "component").select(name_col, "canonical_name")
    finally:
        names.unpersist()


def broadcast_hint_if_small(df: DataFrame, limit_rows: int = _DRIVER_ROWS):
    """(materialized df, hint fn): broadcast-hint a mapping only when a
    bounded probe proves it small. An unconditional F.broadcast on the
    discovered-entity mapping is fine for a gazetteer but OOMs the
    driver when a 100 TB corpus discovers more entities than the
    broadcast limit. The df is localCheckpoint'ed first so the probe and
    every downstream join read the materialized rows instead of
    re-executing the linking lineage (review finding: probing two
    renamed views of the same uncached mapping ran the MinHash+CC
    pipeline four times). One probe decides for all consumers."""
    materialized = df.localCheckpoint()
    small = materialized.limit(limit_rows + 1).count() <= limit_rows
    hint = F.broadcast if small else (lambda d: d)
    return materialized, hint
