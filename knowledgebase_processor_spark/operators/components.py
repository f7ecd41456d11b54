"""Connected-components canonicalization (north rule; SURVEY.md §2.3 J9).

The reference gets entity merging "for free" from deterministic IDs
(utils/id_generator.py — equal surface forms collide into one node).  At
web scale the KG also needs explicit canonicalization: cluster the
entity-coreference edge set (wikilink resolutions, alias matches, mention
links) and elect one canonical id per cluster.

Algorithm: large-/small-star label propagation — each node repeatedly
adopts the minimum label in its neighborhood until fixpoint.  Plain
DataFrame ops only:

* edges are symmetrized once, then each iteration is one shuffle
  (groupBy min) + one join;
* ``localCheckpoint`` truncates the exponentially growing plan per
  iteration (mandatory for iterative DataFrame jobs); each superseded
  checkpoint is released, so a call leaves only its result's blocks;
* head-entity skew (one node linked by millions) is bounded because
  min-label aggregation is a partial-aggregatable ``min`` — the map-side
  combine absorbs the skew before the shuffle; AQE skew-join handles the
  join side.

Converges in O(log n) iterations on real graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _release(df: DataFrame) -> None:
    """Drop the blocks of a ``localCheckpoint``ed frame.  They belong to
    the checkpoint's RDD, which ``DataFrame.unpersist`` does not reach; a
    frame that is not a checkpoint is left alone."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(False)


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iterations: int = 20) -> DataFrame:
    """edges(src, dst) -> (node, component) with component = min node id
    (lexicographic for strings) reachable in the undirected graph."""
    sym = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
           .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
           .distinct()
           .localCheckpoint())

    # label(node) = min(node, min neighbor label)
    labels = (sym.groupBy("a").agg(F.min("b").alias("lbl"))
              .select(F.col("a").alias("node"),
                      F.least(F.col("a"), F.col("lbl")).alias("component")))

    converged = False
    for _ in range(max_iterations):
        # 1-hop propagation: min over neighbors' current labels.
        prop = (sym.join(labels.withColumnRenamed("node", "b")
                               .withColumnRenamed("component", "nbr_lbl"), "b")
                .groupBy("a").agg(F.min("nbr_lbl").alias("cand")))
        hop = (labels.join(prop.withColumnRenamed("a", "node"), "node", "left")
               .select("node",
                       F.least(F.col("component"),
                               F.coalesce(F.col("cand"), F.col("component")))
                       .alias("component")))
        # pointer jumping (label-of-label shortcut): component <-
        # component's own component.  Combined with the 1-hop step this
        # halves the remaining path length every round, so convergence is
        # O(log diameter) instead of O(diameter) — a 31-node chain
        # converges in 5 rounds, not 30.
        lbl2 = hop.select(F.col("node").alias("c_node"),
                          F.col("component").alias("c_comp"))
        new_labels = (hop.join(lbl2, hop.component == lbl2.c_node, "left")
                      .select("node",
                              F.least(F.col("component"),
                                      F.coalesce(F.col("c_comp"), F.col("component")))
                              .alias("component"))
                      .localCheckpoint())
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "node")
                   .filter(F.col("n.component") != F.col("o.component"))
                   .limit(1).count())
        _release(labels)
        labels = new_labels
        if changed == 0:
            converged = True
            break
    _release(sym)
    if not converged:
        _release(labels)
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations — raise max_iterations (graph diameter > 2^iters)")
    return labels


def canonical_entities(entities: DataFrame, labels: DataFrame) -> DataFrame:
    """Attach a canonical_id column: the component label when the entity
    participates in a coreference cluster, else its own kb_id."""
    return (entities.join(labels.withColumnRenamed("node", "kb_id")
                          .withColumnRenamed("component", "canonical_id"),
                          "kb_id", "left")
            .withColumn("canonical_id",
                        F.coalesce(F.col("canonical_id"), F.col("kb_id"))))


def coreference_edges(entities: DataFrame, salt: int | None = None) -> DataFrame:
    """Edge set for canonicalization from the entity table itself:

    * wikilink -> resolved document (kb:resolvedDocument)
    * same-label mention entities of the same kind (alias collision)

    ``salt`` wires the north rule's explicit "salted keys for head-entity
    skew" into the member->representative join: the reps dimension is
    replicated ``salt`` ways and each mention row carries a deterministic
    row-level salt, so a head alias's millions of members spread over
    ``salt`` reducers regardless of AQE.  Output is provably independent
    of ``salt`` (test_salted_coreference_edges_equal_unsalted); leave it
    ``None`` when AQE skew-join splitting is available and trusted —
    replication costs ``salt``x the dimension's shuffle volume.
    """
    wl = (entities.filter((F.col("kind") == "wikilink")
                          & F.col("resolved_document_uri").isNotNull())
          .select(F.col("kb_id").alias("src"),
                  F.col("resolved_document_uri").alias("dst")))
    # Null/blank labels are EXCLUDED deliberately: two unnamed person
    # mentions share no evidence of coreference, so clustering them all
    # into one blob (which a groupBy over null keys would do) is wrong.
    # The explicit filter also documents that the equi-join below never
    # matching null keys is intended, not an accident.
    mentions = (entities
                .filter(F.col("kind").isin("person", "organization", "location"))
                .filter(F.col("label").isNotNull() & (F.trim(F.col("label")) != ""))
                .select(F.col("kind"), F.lower(F.col("label")).alias("l"),
                        F.col("kb_id")))
    # Head-entity skew: a popular alias ("john smith") can carry millions
    # of mention ids.  No collect_set — it would buffer a hot key's whole
    # member list in one reducer.  Instead: representative per alias via
    # min() (partial-aggregatable, so the hot key collapses map-side),
    # then a join back to emit (rep -> member) star edges; AQE skew-join
    # splits the hot aliases at runtime (enabled in pipeline.session).
    reps = mentions.groupBy("kind", "l").agg(F.min("kb_id").alias("rep"))
    if salt:
        from .skew import replicated_join
        joined = replicated_join(mentions, reps, ["kind", "l"], salt=salt)
    else:
        joined = mentions.join(reps, on=["kind", "l"])
    alias_edges = (joined
                   .filter(F.col("kb_id") != F.col("rep"))
                   .select(F.col("rep").alias("src"),
                           F.col("kb_id").alias("dst")))
    return wl.unionByName(alias_edges)


def incremental_components(assignment: DataFrame, old_edges: DataFrame,
                           new_edges: DataFrame) -> DataFrame:
    """Delta-maintain a connected-components ASSIGNMENT when a crawl
    update adds edges (north-rule 'resumable': yesterday's
    canonicalization labels are an asset, not a rebuild input).

    Only components TOUCHED by a new edge are re-solved: new-edge
    endpoints pull in their old component ids, the induced old
    subgraph (old edges whose endpoints sit in touched components)
    unions with the delta, CC runs on that small graph, and untouched
    assignments pass through verbatim — work scales with the delta's
    component footprint, not the corpus.  Endpoints never seen before
    are handled by the CC itself.  Label contract matches
    :func:`connected_components` (min member id), so a full re-run and
    the incremental path agree bit-for-bit (tested).  The result is
    checkpointed, so the call's own checkpoints are released before it
    returns.

    All joins are hash joins on node/component keys; the touched
    component set is typically tiny and broadcasts.
    """
    new_e = new_edges.select(F.col("src"), F.col("dst")) \
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull()) \
        .dropDuplicates(["src", "dst"]).localCheckpoint()
    ends = (new_e.select(F.col("src").alias("node"))
            .unionByName(new_e.select(F.col("dst").alias("node")))
            .distinct())
    touched = (assignment.join(ends, "node", "left_semi")
               .select("component").distinct())
    touched_nodes = assignment.join(
        F.broadcast(touched), "component", "left_semi").select("node")
    old_sub = (old_edges
               .join(touched_nodes.withColumnRenamed("node", "src"),
                     "src", "left_semi")
               .join(touched_nodes.withColumnRenamed("node", "dst"),
                     "dst", "left_semi"))
    merged = old_sub.select("src", "dst").unionByName(new_e)
    resolved = connected_components(merged)
    untouched = assignment.join(F.broadcast(touched), "component",
                                "left_anti")
    # nodes in touched components but absent from the merged subgraph
    # (isolated after the delta) keep their singleton label
    lonely = (assignment.join(F.broadcast(touched), "component",
                              "left_semi")
              .join(resolved.select("node"), "node", "left_anti")
              .select("node", F.col("node").alias("component")))
    out = (untouched.select("node", "component")
           .unionByName(resolved.select("node", "component"))
           .unionByName(lonely)
           .localCheckpoint())
    _release(new_e)
    _release(resolved)
    return out
