"""Connected components over a pair list — duplicate-cluster assignment.

The dedup operators (``operators/dedup.py``) emit near-duplicate PAIRS.
Keep-first dedup on raw pairs is one-hop: with pairs (B,C) and (A,B) it
drops B and C but never links A–C, so "which rows are the same document"
is answered per-edge, not per-cluster. This module closes the pairs into
components so every row gets a cluster id (the component's minimum id) and
canonical-row selection is transitive.

Engine extra (no counterpart in the reference — its pipeline stops at
exact row dedup, ``data_processing/batch_processing/batch_process_Bronze_to_Silver.py``
drop-duplicates semantics); the algorithm is standard iterative min-label
propagation as published for MapReduce-style systems (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14 — our variant is
their hash-to-min specialization on DataFrames).

Scale notes:
- Each iteration is one shuffle of (|E|+|V|) small (id, lbl) rows — the
  document text never enters the graph. Iteration count = component
  diameter; near-dup clusters are shallow (mutant fan-outs, re-posts), so
  2-4 iterations is typical even at corpus scale.
- ``localCheckpoint`` after every round truncates the lineage (otherwise
  plan depth grows linearly and the driver re-optimizes an ever-growing
  tree).
- Convergence is detected WITHOUT a labels↔labels join when ids are
  numeric: labels only ever decrease, so the (count, sum) pair is a
  fixpoint witness — one scalar action per round. Non-numeric ids fall
  back to a change-count join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType
from pyspark.storagelevel import StorageLevel

from ..resources import free, own


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Label every node that appears in ``edges`` with the minimum node id
    reachable from it. Returns ``(id, component)`` — one row per distinct
    node; callers re-attach isolated nodes (see ``duplicate_clusters``).

    The result is MATERIALIZED (the loop runs actions); treat the call as
    the job boundary it is, not a lazy plan.
    """
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    # Symmetrize once; every iteration joins against this, so pin it.
    # The explicit repartition both pre-clusters the per-iteration join key
    # AND holds the edge list at cluster parallelism: edge rows are two
    # ids, so AQE would coalesce the distinct()'s shuffle by bytes and
    # every iteration's join+aggregate would inherit near-serial
    # partitioning from the cache.
    parallelism = edges.sparkSession.sparkContext.defaultParallelism
    # registered AND freed below: the registry is the safety net for
    # exception paths; the in-function free stays the fast path
    sym = own(
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(parallelism, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    numeric = isinstance(e.schema["src"].dataType, NumericType)

    labels = own(
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("lbl", F.col("id"))
        .localCheckpoint()
    )

    prev_witness = None
    for _ in range(max_iterations):
        # Push each node's current label to its neighbors, keep the min of
        # (own label ∪ neighbor labels). groupBy gets map-side partial
        # aggregation, so the shuffled volume is bounded by distinct ids
        # per partition, not |E|.
        msgs = sym.join(labels.withColumnRenamed("id", "src"), "src").select(
            F.col("dst").alias("id"), "lbl"
        )
        new_labels = own(
            msgs.unionByName(labels)
            .groupBy("id")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint()
        )

        if numeric:
            row = new_labels.agg(
                F.count("*").alias("n"),
                F.sum(F.col("lbl").cast("decimal(38,0)")).alias("s"),
            ).collect()[0]
            witness = (row["n"], row["s"])
            changed = witness != prev_witness
            prev_witness = witness
        else:
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.lbl") != F.col("o.lbl"))
                .limit(1)
                .count()
                > 0
            )
        free(labels)  # superseded by the materialized new_labels
        labels = new_labels
        if not changed:
            break
    else:
        free(sym)
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations — component diameter exceeds the cap; raise "
            "max_iterations"
        )

    free(sym)
    return labels.select("id", F.col("lbl").alias("component"))


def duplicate_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Assign every row of ``df`` a ``cluster_id``: the minimum id of its
    near-duplicate component, or its own id when it duplicates nothing.

    The component table is |nodes-in-pairs| rows — tiny next to the corpus
    — so the re-attach join broadcasts when small; the corpus itself never
    shuffles."""
    comp = connected_components(pairs, src_col, dst_col).withColumnRenamed(
        "id", id_col
    )
    return df.join(comp, id_col, "left").withColumn(
        "cluster_id", F.coalesce(F.col("component"), F.col(id_col))
    ).drop("component")


def dedup_keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Cluster-aware keep-first dedup: keep exactly one row (the minimum
    id) per duplicate component — transitive, unlike dropping pair
    losers, which can keep zero or several rows of a chained cluster."""
    clustered = duplicate_clusters(df, pairs, id_col, src_col, dst_col)
    return clustered.filter(F.col(id_col) == F.col("cluster_id")).drop("cluster_id")


def pagerank_fixedpoint(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 5,
    damping_pct: int = 85,
    scale: int = 10**12,
) -> DataFrame:
    """PageRank with an EXACT integer-arithmetic recurrence — an
    iterative graph algorithm whose every iteration is reproducible
    bit-for-bit by any engine, unlike float PageRank (whose per-node
    contribution sums depend on addition order).

    Ranks live in fixed-point units of ``1/scale``:

        r_0(v)   = scale div N
        r_{k+1}(v) = (15·scale div 100) div N
                     + (85 · Σ_{u→v} (r_k(u) div outdeg(u))) div 100

    (integer ``div`` throughout, damping 0.85 as the 85/100 pair).
    Integer division truncates identically everywhere and integer
    addition is associative, so a DuckDB replay of the same unrolled
    recurrence matches exactly — the iterative extension of the
    decimal/integer-exact techniques in SCALING.md round-3 notes.
    Mass lost to truncation and dangling nodes is NOT redistributed
    (deliberate, mirrored in the oracle); ranks are therefore a
    deterministic fixed-point approximation of standard PageRank,
    adequate for authority-weighting corpora at scale.

    Plan shape per iteration: one join of the (|V|-row) rank table onto
    edges + one integer-sum aggregation — ranks and degrees are tiny
    relative to |E|; with edges bucketed on ``src`` the join is
    exchange-free. N and the teleport base stay IN-PLAN via a 1-row
    broadcast (no driver collect).

    Returns (node, rank) with rank in fixed-point units (bigint).
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct()
    nodes = own(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    nn = nodes.agg(F.count("*").alias("__scalar_n"))
    teleport = scale - damping_pct * scale // 100  # 15·scale div 100

    rank = nodes.crossJoin(F.broadcast(nn)).select(
        "node", F.expr(f"CAST({scale} div __scalar_n AS BIGINT)").alias("rank")
    )
    for _ in range(iterations):
        contrib = (
            e.join(outdeg, "src")
            .join(rank.select(F.col("node").alias("src"), "rank"), "src")
            .select("dst", F.expr("rank div outdeg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        rank = (
            nodes.join(contrib.select(F.col("dst").alias("node"), "s"), "node", "left")
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                F.expr(
                    f"CAST(({teleport} div __scalar_n)"
                    f" + ({damping_pct} * COALESCE(s, CAST(0 AS BIGINT))) div 100"
                    " AS BIGINT)"
                ).alias("rank"),
            )
        )
        # 25-iteration-deep plans over tiny tables still re-optimize the
        # whole tree each round; truncate lineage like connected_components
        rank = own(rank.localCheckpoint(eager=False))
    return rank


def bfs_min_hops(
    edges: DataFrame,
    source,
    max_hops: int = 6,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Minimum-hop distances from ``source`` by frontier expansion —
    the iterative-BFS sibling of ``connected_components``: each round
    joins the current FRONTIER (nodes first reached last round, never
    the full visited set) against the edges and anti-joins out already-
    visited nodes, so per-round cost is |frontier ⋈ edges|, and the loop
    stops early when a frontier comes back empty. All integers — hop
    counts are exact on any engine, so a bounded recursive-CTE replay
    matches bit-for-bit. Returns ``node, hops`` (source included at 0;
    unreachable nodes absent), localCheckpointed per round to keep the
    plan from growing linearly with the hop bound.
    """
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")).distinct()
    spark = edges.sparkSession
    visited = own(spark.createDataFrame([(source, 0)], "node long, hops int").localCheckpoint())
    frontier = visited
    for hop in range(1, max_hops + 1):
        nxt = own(
            frontier.join(e, frontier.node == e.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .select("node", F.lit(hop).cast("int").alias("hops"))
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        merged = own(visited.unionByName(nxt).localCheckpoint())
        free(visited)  # both superseded by the materialized nxt and merge
        free(frontier)
        visited, frontier = merged, nxt
    return visited


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle count with degree-ordered edge orientation — the
    node-iterator++ algorithm on DataFrames. Returns ONE row:
    ``(n_nodes, n_edges, n_triangles)``.

    Undirected edges are canonicalized and deduped, then ORIENTED from
    the endpoint with the smaller (degree, id) to the larger. Wedge
    enumeration joins oriented out-edges on their source, so per-node
    fanout is out-degree² — and under degree orientation every node's
    out-degree is O(√|E|) (a node of degree d only keeps out-edges to
    HIGHER-degree neighbors, of which there are at most ~√|E|). The
    naive a<b<c self-join puts a hub's full degree² wedge set on one
    key; orientation is what makes the count survive power-law graphs
    at 100 TB. Each triangle has exactly one source under an acyclic
    orientation, so the closing semi-equi-join counts it once."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ranked = (
        e.join(deg.withColumnRenamed("n", "a").withColumnRenamed("deg", "deg_a"), "a")
        .join(deg.withColumnRenamed("n", "b").withColumnRenamed("deg", "deg_b"), "b")
    )
    a_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    wedges = (
        oriented.alias("x")
        .join(oriented.alias("y"), F.col("x.u") == F.col("y.u"))
        .where(F.col("x.v") < F.col("y.v"))
        .select(
            F.least(F.col("x.v"), F.col("y.v")).alias("a"),
            F.greatest(F.col("x.v"), F.col("y.v")).alias("b"),
        )
    )
    tri = wedges.join(e, ["a", "b"], "inner").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
    stats = e.agg(
        F.count(F.lit(1)).alias("__scalar_n_edges"),
    ).crossJoin(deg.agg(F.count(F.lit(1)).alias("__scalar_n_nodes")))
    return stats.crossJoin(tri).select(
        F.col("__scalar_n_nodes").alias("n_nodes"),
        F.col("__scalar_n_edges").alias("n_edges"),
        "n_triangles",
    )
