"""Distributed connected components — the cluster-resolution step
between near-duplicate PAIRS (simhash_neardup / image_neardup /
minhash_lsh, operators/dedupe.py & multimodal.py) and an actual
keep-set: transitively connected documents form one duplicate
cluster, and the pipeline keeps one representative (the minimum id)
per cluster.

Algorithm: min-label propagation with pointer-doubling shortcuts —
each round runs (1) a neighbor-min step (every node takes the
smallest label in its closed neighborhood; one edge join + groupBy
min) and (2) a shortcut step (``label(x) <- label(label(x))``, one
self-join), the combination the published parallel-CC family
(Shiloach-Vishkin; Kiveris et al.'s large-star/small-star) uses to
converge in O(log n) rounds rather than O(diameter).  Rounds are
driven from the driver; convergence is a per-row ``__chg`` flag fused
into the round's own plan (previous label threaded through the
neighbor-min aggregation), so the per-round driver work is ONE
checkpoint action plus a limit-1 ``isEmpty`` scan of the checkpointed
partitions — no extra new-vs-old join, no full count.  The one
deliberately iterative operator in the engine (CC has no one-shot
DataFrame form), with per-round cost of two shuffles on (id, label)
pairs and a hard ``max_rounds`` backstop.

At 100 TB the labels relation is one long/long pair per node and each
round is a pair of hash joins Catalyst plans normally — checkpointing
(``spark.sparkContext.setCheckpointDir`` + per-round localCheckpoint)
keeps the lineage bounded; here AQE handles the small test graphs and
the loop truncates lineage via localCheckpoint every round.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from riko_spark.operators import register


@register("connected_components", kind="operator", sub_kind="aggregator")
def connected_components_op(
    df: DataFrame,
    conf: dict | None = None,
    left_col: str = "left_id",
    right_col: str = "right_id",
    nodes: DataFrame | None = None,
    id_col: str = "id",
    max_rounds: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Resolve an edge list into components: returns ``(id,
    component)`` where ``component`` is the smallest node id reachable
    from ``id``.  ``df`` holds the pairs; ``nodes`` (optional) adds
    isolated nodes that must appear in the output as their own
    singleton components (pass the corpus id column so unmatched
    documents keep themselves).

    ``stats`` (optional out-param) records ``{"rounds": k}`` after
    convergence and tags each round's Spark jobs with job group
    ``cc-round-<k>``, so a caller can attribute per-round wall and
    shuffle cost to its Spark jobs."""
    conf = conf or {}
    left_col = conf.get("left_col", left_col)
    right_col = conf.get("right_col", right_col)
    max_rounds = int(conf.get("max_rounds", max_rounds))

    edges = (
        df.select(F.col(left_col).alias("a"), F.col(right_col).alias("b"))
        .union(df.select(F.col(right_col).alias("a"),
                         F.col(left_col).alias("b")))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
        # materialize once: the rounds below re-reference edges every
        # iteration, and the upstream pairs frame (an LSH/band join in
        # the neardup pipelines) must not re-execute per round
        .localCheckpoint(eager=True)
    )
    ids = edges.select(F.col("a").alias("id"))
    if nodes is not None:
        ids = ids.union(nodes.select(F.col(id_col).alias("id")))
    labels = ids.distinct().select("id", F.col("id").alias("label"))

    label_type = dict(labels.dtypes)["label"]
    sc = df.sparkSession.sparkContext if stats is not None else None
    rounds = 0
    for _ in range(max_rounds):
        if sc is not None:
            sc.setJobGroup(f"cc-round-{rounds}", "connected_components round")
        rounds += 1
        # neighbor-min: smallest label in the closed neighborhood.
        # The PREVIOUS label is threaded through the aggregation (the
        # edges branch contributes NULL; max() recovers the one
        # non-null per id from the labels branch), so the convergence
        # test below needs no extra new-vs-old join — the change flag
        # rides the round's own plan and the check is a limit-1 scan
        # of the already-checkpointed partitions instead of a full
        # join + count action per round.
        nbr = (
            edges.join(labels, edges.b == labels.id)
            .select(F.col("a").alias("id"), "label",
                    F.lit(None).cast(label_type).alias("__old"))
            .union(labels.select("id", "label",
                                 F.col("label").alias("__old")))
            .groupBy("id").agg(F.min("label").alias("label"),
                               F.max("__old").alias("__old"))
        )
        # shortcut (pointer doubling): label(x) <- label(label(x))
        lab2 = nbr.select(F.col("id").alias("lid"),
                          F.col("label").alias("llabel"))
        final = F.coalesce("llabel", "label")
        new = (
            nbr.join(lab2, nbr.label == lab2.lid, "left")
            .select("id", final.alias("label"),
                    (final != F.col("__old")).alias("__chg"))
        ).localCheckpoint(eager=True)
        labels = new.select("id", "label")
        if new.where("__chg").isEmpty():
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds")
    if sc is not None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        stats["rounds"] = rounds
    return labels.select("id", F.col("label").alias("component"))


@register("neardup_resolve", kind="operator", sub_kind="aggregator")
def neardup_resolve_op(
    df: DataFrame,
    conf: dict | None = None,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    left_col: str = "left_id",
    right_col: str = "right_id",
) -> DataFrame:
    """Near-dup pairs -> keep-set: every document labeled with its
    duplicate cluster (transitive closure of the pair relation) and
    ``keep`` true only for the cluster minimum — the row a dedupe
    pipeline retains.  ``df`` is the corpus (supplies isolated docs),
    ``pairs`` the output of any *_neardup operator."""
    conf = conf or {}
    if pairs is None:
        raise ValueError("neardup_resolve requires the near-dup pairs frame")
    id_col = conf.get("id_col", id_col)
    # NULL ids have no deterministic cluster identity — dropped, like
    # pack_sequences does, rather than emitting a NULL keep that both
    # filter(keep) and filter(NOT keep) lose
    # materialized: referenced by the CC label init AND both branches
    # of the labeled/rep join below — the upstream corpus (gates,
    # extraction) must not re-execute per reference
    docs = df.select(F.col(id_col)).filter(
        F.col(id_col).isNotNull()).distinct().localCheckpoint(eager=True)
    comp = connected_components_op(
        pairs, conf, left_col=conf.get("left_col", left_col),
        right_col=conf.get("right_col", right_col),
        nodes=docs, id_col=id_col)
    # qualified refs: comp also carries a column literally named 'id',
    # so id_col='id' must not become an ambiguous reference
    labeled = (
        docs.join(comp, docs[id_col] == comp["id"], "left")
        .select(docs[id_col].alias(id_col),
                F.coalesce(comp["component"], docs[id_col])
                .alias("component"))
    )
    # the kept representative is the smallest id PRESENT IN df — a
    # pair endpoint that upstream gates already removed must not be a
    # phantom minimum that leaves its cluster with zero kept rows
    rep = labeled.groupBy("component").agg(F.min(id_col).alias("__rep"))
    return (
        labeled.join(rep, on="component")
        .select(F.col(id_col), "component",
                (F.col(id_col) == F.col("__rep")).alias("keep"))
    )
