"""Connected components over an edge list — driver union-find for small
graphs, large-star / small-star for the rest.

Callers: ``operators/training.neardup_clusters`` (transitive near-duplicate
clusters over LSH candidate pairs), the perfbench layer probe and the
tests, where it is the reference the entity layer's closed form is checked
against. The KG build does not call it: ``same_as_edges`` only draws
stars inside one block, so ``entity.block_canon`` computes the same labels
with one window over the block key.

Both branches label every node with the lexicographically-smallest member
of its component (the W2 canonical tie-break of SURVEY.md §2), so no global
id-assignment step is needed, and both return the same ``(id, component)``
frame: one row per distinct endpoint, including nodes whose only edge is a
self-loop (own label) and a null endpoint (null label).

Which branch runs is decided by the input size. ``connected_components``
first collects at most ``_LOCAL_MAX_EDGES + 1`` edges:

- **Driver branch** (the graph fits): union-find on the collected edges,
  then one DataFrame over an Arrow table. A distributed round costs a
  handful of Spark jobs whatever the graph size, and the loop below needs
  O(log^2 n) rounds plus a convergence check, so on a ~10-edge graph it
  costs ~24 jobs for work the driver does in microseconds. This is the
  small-side argument of Blanas et al., "A Comparison of Join Algorithms
  for Log Processing in MapReduce" (SIGMOD'10): when one side is small,
  process it on one node.
  Python ``str`` ordering is code-point order, which equals the UTF-8 byte
  order Spark's string ``min`` uses, so the labels are identical.
- **Distributed branch** (larger graphs): the alternating
  large-star/small-star algorithm of Kiveris et al., "Connected Components
  in MapReduce and Beyond" (SoCC'14) — the same scheme GraphFrames uses —
  as pure DataFrame joins/aggregations so Catalyst/AQE handle skew and
  physical strategy (SURVEY.md §2 J2). It runs directly on string ids:
  Spark's ``min`` on strings is lexicographic. Each iteration is join +
  groupBy().min(); lineage is cut with ``localCheckpoint`` every iteration
  so the plan does not grow unboundedly and AQE re-plans each round
  (SURVEY.md §4.2). Convergence takes O(log^2 n) rounds; a loop that has
  not converged after ``_MAX_ITERATIONS`` rounds raises instead of
  returning partial labels.

The bound: 10^5 edges are at most 2×10^5 distinct ids. The collected rows
plus the union-find dict then take on the order of 100 MB of Python heap
on the driver in the worst case of long IRIs (a few hundred bytes per row
and per entry), well inside the default driver memory, and union-find over
them takes well under a second — less than the fixed cost of the
distributed loop's first round. It is a module constant, not an option:
it depends on driver memory, not on the caller.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

_LOCAL_MAX_EDGES = 100_000
_MAX_ITERATIONS = 25


def connected_components(edges: DataFrame) -> DataFrame:
    """Return (id: string, component: string) for ``(src, dst)`` edges;
    ``component`` is the lexicographically-smallest member of the node's
    component.

    ``edges`` is treated as undirected; self-loops connect nothing. The
    distributed loop raises ``RuntimeError`` if it has not converged after
    ``_MAX_ITERATIONS`` rounds.
    """
    pairs = edges.select("src", "dst")
    head = pairs.limit(_LOCAL_MAX_EDGES + 1).collect()
    if len(head) <= _LOCAL_MAX_EDGES:
        return _driver_components(pairs.sparkSession, head)
    return _distributed_components(pairs, _MAX_ITERATIONS)


def _driver_components(spark: SparkSession, edges: list[Row]) -> DataFrame:
    """Union-find over collected ``(src, dst)`` rows. The root of every set
    is kept at its smallest member, so a root is its component's label."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        for v in (a, b):
            parent.setdefault(v, v)
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    ids = list(parent)
    labels = [find(v) for v in ids]  # a null id is its own (null) root
    # an Arrow table, not a list of rows: a DataFrame over Python rows is
    # re-read through Python worker tasks by every consumer, Arrow batches
    # are decoded in the JVM
    table = pa.table({
        "id": pa.array(ids, pa.string()),
        "component": pa.array(labels, pa.string()),
    })
    return spark.createDataFrame(table, "id string, component string")


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect strictly-larger neighbors to min(N(u) ∪ u)."""
    nbr = _symmetrize(edges)
    with_min = nbr.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )
    return (
        nbr.join(with_min, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect smaller-or-equal neighbors to min(N≤(u) ∪ u)."""
    nbr = _symmetrize(edges).where(F.col("dst") < F.col("src"))
    with_min = nbr.groupBy("src").agg(F.min("dst").alias("m"))
    return (
        nbr.join(with_min, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .union(with_min.select("src", F.col("m").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _fingerprint(df: DataFrame):
    """(count, xor-of-row-hashes) — one cheap aggregate job."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("src", "dst")).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


def _distributed_components(edges: DataFrame, max_iterations: int) -> DataFrame:
    """Large-star/small-star over ``(src, dst)`` edges; same output as
    :func:`_driver_components`."""
    # read once, by the final join — no checkpoint needed
    ids = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    e = edges.where(F.col("src") != F.col("dst")).distinct().localCheckpoint()
    fp = _fingerprint(e)
    for _ in range(max_iterations):
        e2 = _small_star(_large_star(e)).localCheckpoint()
        fp2 = _fingerprint(e2)
        # cheap O(1)-row gate every iteration; the exact symmetric-difference
        # check runs only when the fingerprints agree (i.e. once, at
        # convergence) instead of 2 full exceptAll jobs per iteration
        if fp2 == fp and e2.exceptAll(e).isEmpty() and e.exceptAll(e2).isEmpty():
            e = e2
            break
        e, fp = e2, fp2
    else:
        raise RuntimeError(
            f"connected components did not converge within "
            f"{max_iterations} iterations"
        )
    # at convergence the graph is a union of stars rooted at component minima
    membership = (
        _symmetrize(e)
        .groupBy("src")
        .agg(F.min("dst").alias("root"))
        .select(F.col("src").alias("id"), F.least("src", "root").alias("component"))
    )
    return (
        ids.join(membership, "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
    )
