"""Stage 5 — transitive clustering: hash-min connected components.

Reference analogue: the linkback stage assembles a consistent solution
from accepted candidates (GreedyLinkback.java:49-87 iterates argmax +
overlap removal). In the ER recast this is transitive closure of
accepted match pairs: iterative hash-min label propagation via
DataFrame self-joins (SURVEY §4 item 2), with ``localCheckpoint`` every
``CC_CHECKPOINT_EVERY`` iterations to truncate lineage, convergence
detected when no label changes. Cluster id = min record_id of the
component (deterministic).

Scale notes (round-6 optimization): the distributed path is hash-min +
one pointer-jump per round **with edge contraction** — after each
round the edge set is rewritten onto the surviving labels
((lab(u), lab(v)), self-loops and duplicates dropped), so dense
near-clique components collapse after ONE pass and every later round
runs over a geometrically smaller graph. The previous implementation
kept the FULL edge table through every iteration: at the sf1.0 gate
corpus (913k token-band edges, 101 components) that cost 8-10
iterations x ~12.5 task-seconds each (measured; see
OPTIMIZATION_r06.md) where the contracted loop pays ~1.3x the first
round. Iteration count stays O(log component diameter) on chains
(pointer jumping), bounded by ``CC_MAX_ITERATIONS`` with a warning.
When the contracted edge set falls under ``cc_local_threshold`` the
round finishes with the driver union-find over the (tiny) supernode
graph — the same documented bound as the all-local fast path, never
the raw input. AQE handles skewed high-degree nodes; the blocking cap
bounds max degree upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smaph_spark.config import ERConfig

#: hash-min CC round bound (~log cluster diameter with pointer jumping)
CC_MAX_ITERATIONS = 20
#: truncate the label lineage every k rounds
CC_CHECKPOINT_EVERY = 3


def history_pseudo_edges(history_clusters: DataFrame) -> DataFrame:
    """history_clusters(record_id, cluster_id) -> canonicalized
    (left_id, right_id) pseudo-edges that re-encode an already-resolved
    clustering for a later CC run. Each member links to its cluster's
    canonical id, so the transitive closure of the pseudo-edges equals
    the original components — THE incremental fold: union these with
    the delta-touching match edges and re-run CC, and a new record
    bridging two old clusters merges them exactly as a full-batch run
    would. Shared by ERPipeline.run_incremental and the er04 gate query
    (round-4 review: the fold must live once)."""
    return history_clusters.filter(
        F.col("record_id") != F.col("cluster_id")
    ).select(
        F.least("record_id", "cluster_id").alias("left_id"),
        F.greatest("record_id", "cluster_id").alias("right_id"),
    )


def connected_components(
    matches: DataFrame, cfg: ERConfig, all_records: DataFrame | None = None
) -> tuple[DataFrame, list[dict]]:
    """matches(left_id, right_id) -> clusters(record_id, cluster_id).

    If ``all_records`` (DataFrame with record_id) is given, unmatched
    records appear as singleton clusters (cluster_id = record_id).
    Returns (clusters, per-iteration metrics list).
    """
    # ONE materialization of the (often expensive) upstream pair plan:
    # previously the size probe, the edge canonicalization checkpoint
    # and the local-path collect each re-ran the whole candidate join
    # (er06/er07 recomputed the sf1.0 banded self-join 2-3x per query)
    matches = matches.select("left_id", "right_id").localCheckpoint(eager=True)
    n_edges = matches.count()
    if n_edges <= cfg.cc_local_threshold:
        # tiny match graph: the iterative machinery (eager checkpoints +
        # per-iteration join/agg jobs) costs ~10 fixed stages — union-find
        # over a driver-local edge list (bounded at cc_local_threshold
        # rows, a few MB) produces the identical min-id labeling
        return _local_connected_components(matches, all_records, n_edges)
    # canonical undirected edge list over SUPERNODES (initially the raw
    # nodes); rewritten (contracted) every round
    E = (
        matches.select(
            F.least("left_id", "right_id").alias("src"),
            F.greatest("left_id", "right_id").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # full node -> component-label mapping, refined each round by
    # composing with the round's supernode relabeling
    labels = (
        E.select(F.col("src").alias("record_id"))
        .union(E.select(F.col("dst").alias("record_id")))
        .distinct()
        .withColumn("cluster_id", F.col("record_id"))
        .localCheckpoint(eager=True)
    )

    history: list[dict] = []
    e_count = E.count()
    labels_checkpointed = True
    for it in range(CC_MAX_ITERATIONS):
        if e_count == 0:
            break
        if 0 < e_count <= cfg.cc_local_threshold:
            # the contracted supernode graph fits the documented local
            # bound: finish with the driver union-find (identical min-id
            # labels) instead of more distributed rounds. This is never
            # the raw input — only a graph already shrunk below
            # cc_local_threshold edges.
            sub, _ = _local_connected_components(
                E.select(
                    F.col("src").alias("left_id"),
                    F.col("dst").alias("right_id"),
                ),
                None,
                e_count,
            )
            comp = F.broadcast(
                sub.select(
                    F.col("record_id").alias("_n"),
                    F.col("cluster_id").alias("_c"),
                )
            )
            labels = (
                labels.join(comp, labels.cluster_id == F.col("_n"), "left")
                .select(
                    "record_id",
                    F.coalesce("_c", "cluster_id").alias("cluster_id"),
                )
            )
            labels_checkpointed = False
            history.append(
                {"iteration": it, "local_finish_edges": int(e_count)}
            )
            e_count = 0
            break
        # hash-min step: each supernode takes min(self, neighbours).
        # The result is a pointer FOREST (every chain strictly
        # decreases to a local-minimum root).
        lab = (
            E.select(F.col("src").alias("node"), F.col("dst").alias("nb"))
            .union(E.select(F.col("dst").alias("node"), F.col("src").alias("nb")))
            .groupBy("node")
            .agg(F.min("nb").alias("mn"))
            .select("node", F.least("node", "mn").alias("lab"))
            .localCheckpoint(eager=True)
        )
        # pointer-jump TO CLOSURE (lab <- lab[lab] until fixpoint): the
        # lab table is one row per supernode — tiny next to E — and
        # each jump halves the remaining pointer depth, so this loop is
        # O(log diameter) joins over a small table. Collapsing every
        # hash-min tree to its root before contracting is what keeps
        # the OUTER round count low on chain-shaped graphs (er03's
        # token-band runs): a 300-hop chain closes in one outer round.
        for _ in range(64):  # 2^64 depth bound — never binding
            ptr = lab.select(
                F.col("node").alias("pj_node"), F.col("lab").alias("pj_lab")
            )
            stepped = (
                lab.join(ptr, lab.lab == ptr.pj_node, "left")
                .select(
                    "node",
                    F.least(
                        F.col("lab"), F.coalesce("pj_lab", F.col("lab"))
                    ).alias("lab"),
                    F.col("lab").alias("_old"),
                )
                .localCheckpoint(eager=True)
            )
            moved = stepped.filter(F.col("lab") != F.col("_old")).count()
            lab = stepped.select("node", "lab")
            if moved == 0:
                break
        # compose the global mapping with this round's relabeling
        # (labels' cluster_id values are exactly the previous round's
        # supernode ids, so a left join + coalesce covers supernodes
        # that had no remaining edges)
        labels = (
            labels.join(
                lab.select(
                    F.col("node").alias("_n"), F.col("lab").alias("_l")
                ),
                labels.cluster_id == F.col("_n"),
                "left",
            )
            .select(
                "record_id", F.coalesce("_l", "cluster_id").alias("cluster_id")
            )
        )
        labels_checkpointed = False
        if (it + 1) % CC_CHECKPOINT_EVERY == 0:
            labels = labels.localCheckpoint(eager=True)
            labels_checkpointed = True
        # contract: rewrite edges onto the new labels, drop self-loops
        # and duplicates — the graph shrinks geometrically, so round
        # r+1 is much cheaper than round r (the old loop re-joined the
        # FULL edge table every iteration)
        sl = lab.select(F.col("node").alias("src"), F.col("lab").alias("_sl"))
        dl = lab.select(F.col("node").alias("dst"), F.col("lab").alias("_dl"))
        E = (
            E.join(sl, "src")
            .join(dl, "dst")
            .select(
                F.least("_sl", "_dl").alias("src"),
                F.greatest("_sl", "_dl").alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        e_count = E.count()
        history.append(
            {"iteration": it, "edges_after_contraction": int(e_count)}
        )
    if not labels_checkpointed:
        labels = labels.localCheckpoint(eager=True)
    if e_count != 0:
        # a component needing more contraction rounds than
        # CC_MAX_ITERATIONS would be silently split — surface it
        # (ADVICE round 1)
        import warnings

        warnings.warn(
            f"hash-min CC did not converge in {CC_MAX_ITERATIONS} "
            f"iterations ({e_count} contracted edges remain); clusters "
            "may be split",
            RuntimeWarning,
            stacklevel=2,
        )
    history.append({"converged": e_count == 0})

    if all_records is not None:
        labels = (
            all_records.select("record_id")
            .join(labels, "record_id", "left")
            .withColumn(
                "cluster_id", F.coalesce(F.col("cluster_id"), F.col("record_id"))
            )
        )
    return labels, history


def _local_connected_components(
    matches: DataFrame, all_records: DataFrame | None, n_edges: int
) -> tuple[DataFrame, list[dict]]:
    """Driver-side union-find for small match graphs (see
    cc_local_threshold). Produces the same (record_id, cluster_id =
    min record_id of component) labeling as the distributed hash-min
    path; singletons handled identically via all_records."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    rows = matches.select("left_id", "right_id").collect()
    for r in rows:
        a, b = r["left_id"], r["right_id"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict[int, int] = {}
    for node in parent:
        root = find(node)
        prev = comp_min.get(root)
        if prev is None or node < prev:
            comp_min[root] = node
    labels_rows = [(node, comp_min[find(node)]) for node in parent]
    spark = matches.sparkSession
    if labels_rows:
        # Arrow upload (one columnar batch) instead of pickling a row
        # list: the label relation is re-serialized to executors on
        # every downstream action, and the row path measured ~1 s per
        # action at 50k labels
        import pandas as pd

        labels = spark.createDataFrame(
            pd.DataFrame(labels_rows, columns=["record_id", "cluster_id"]),
            "record_id long, cluster_id long",
        )
    else:
        labels = spark.createDataFrame(
            [], "record_id long, cluster_id long"
        )
    if all_records is not None:
        labels = (
            all_records.select("record_id")
            .join(F.broadcast(labels), "record_id", "left")
            .withColumn(
                "cluster_id", F.coalesce(F.col("cluster_id"), F.col("record_id"))
            )
        )
    history = [{"local_union_find": True, "edges": int(n_edges)},
               {"converged": True}]
    return labels, history
