"""Connected-components canonicalization over the alias graph.

No GraphFrames jar in this environment (SURVEY.md §7), so CC is a pure
DataFrame iteration: min-label propagation with pointer jumping
(comp <- min(comp(neighbors), comp(comp))), which converges in
O(log diameter) rounds — alias graphs are near-star-shaped, so 2-4 rounds
in practice. Each round ends in localCheckpoint() to truncate lineage
(iterative joins otherwise grow the plan exponentially).

Canonical id = min(member) per component — stable across runs because node
ids are content-derived.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, functions as F

from .session import local_frame

# Telemetry of the most recent connected_components call (VERDICT r4 #4:
# the dedup_clusters 1x->2x scaling point needed per-round evidence to
# separate CC convergence cost from host noise). Overwritten per call;
# read by bench.py right after a timed run. Not thread-safe by design —
# it is bench/debug telemetry, not a result channel.
CC_LAST_STATS: dict = {}


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iter: int = 25,
                         driver_threshold: int = 200_000) -> DataFrame:
    """edges(src, dst) [any orderable type] -> (id, component).

    Small graphs (< driver_threshold edges) take a driver-side union-find
    fast path: the alias graph is usually tiny relative to the corpus,
    and each distributed iteration costs several scheduler round-trips —
    the standard hybrid in production CC (collect when it fits, iterate
    when it doesn't)."""
    t_start = time.monotonic()
    # materialize the edge table ONCE before the size probe: without
    # this, the probe count and the path taken after it each re-run the
    # full upstream lineage (for dedup_clusters that is the whole
    # MinHash banding pass — measured as the superlinear 1x->2x point
    # in BENCH_r04, VERDICT r4 #4). Edge tables are O(n·bands) rows by
    # construction, so the checkpoint is bounded.
    edges = edges.localCheckpoint(eager=True)
    mat_sec = round(time.monotonic() - t_start, 3)
    n_edges = edges.limit(driver_threshold).count()
    if n_edges < driver_threshold:
        pairs = [(r[0], r[1]) for r in
                 edges.selectExpr(f"{src} as a", f"{dst} as b").collect()]
        CC_LAST_STATS.clear()
        CC_LAST_STATS.update(
            path="driver", n_edges=len(pairs), rounds=0, round_secs=[],
            edges_materialize_sec=mat_sec,
            collect_sec=round(time.monotonic() - t_start - mat_sec, 3))
        parent: dict = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]  # path halving
                x = parent[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by value: smaller label wins -> canonical = min
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        rows = [(x, find(x)) for x in parent]
        schema = edges.select(F.col(src).alias("id"),
                              F.col(src).alias("component")).schema
        return local_frame(edges.sparkSession, rows, schema)

    sym = (edges.selectExpr(f"{src} as a", f"{dst} as b")
           .unionByName(edges.selectExpr(f"{dst} as a", f"{src} as b"))
           .distinct())
    sym = sym.localCheckpoint(eager=True)
    comp = (sym.select(F.col("a").alias("id"))
            .distinct()
            .withColumn("component", F.col("id")))
    comp = comp.localCheckpoint(eager=True)

    CC_LAST_STATS.clear()
    CC_LAST_STATS.update(path="distributed", n_edges=n_edges, rounds=0,
                         round_secs=[], edges_materialize_sec=mat_sec,
                         setup_sec=round(time.monotonic() - t_start, 3))
    for _ in range(max_iter):
        t_round = time.monotonic()
        # neighbor minimum
        nbr_min = (sym.join(comp.withColumnRenamed("id", "b"), "b")
                   .groupBy("a").agg(F.min("component").alias("nbr_component"))
                   .withColumnRenamed("a", "id"))
        # pointer jumping: comp(comp(id))
        parent = comp.select(F.col("id").alias("component"),
                             F.col("component").alias("grand"))
        stepped = (comp.join(nbr_min, "id", "left")
                   .join(parent, "component", "left")
                   .select(
                       "id",
                       F.least(
                           F.col("component"),
                           F.coalesce(F.col("nbr_component"), F.col("component")),
                           F.coalesce(F.col("grand"), F.col("component")),
                       ).alias("new_component"),
                       F.col("component").alias("old_component")))
        # convergence check rides the checkpoint job as an Observation —
        # a separate filter+count would recompute the round's joins (r5;
        # same single-job-per-round shape as ops/graph.py)
        from pyspark.sql import Observation
        obs = Observation(f"canon_cc_round_{CC_LAST_STATS['rounds']}")
        observed = stepped.observe(
            obs, F.sum((F.col("new_component") != F.col("old_component"))
                       .cast("long")).alias("n_changed"))
        comp = (observed
                .select("id", F.col("new_component").alias("component"))
                .localCheckpoint(eager=True))
        changed = obs.get["n_changed"] or 0
        CC_LAST_STATS["rounds"] += 1
        CC_LAST_STATS["round_secs"].append(
            round(time.monotonic() - t_round, 3))
        if changed == 0:
            break
    return comp


def canonicalize_entities(linked: DataFrame) -> DataFrame:
    """Merge aliased symbols: two fqns are aliases when they share a linked
    simple name (mention). Returns (fqn, canonical_id) with canonical_id =
    lexicographic min fqn of the component."""
    pairs = (linked.select("mention", "fqn").distinct()
             .groupBy("mention")
             .agg(F.min("fqn").alias("rep"), F.collect_set("fqn").alias("all")))
    edges = pairs.select(F.explode("all").alias("src"), F.col("rep").alias("dst")) \
                 .filter(F.col("src") != F.col("dst"))
    if edges.isEmpty():
        return linked.select(F.col("fqn")).distinct() \
            .withColumn("canonical_id", F.col("fqn"))
    comp = connected_components(edges)
    all_fqns = linked.select("fqn").distinct()
    return (all_fqns.join(comp.withColumnRenamed("id", "fqn"), "fqn", "left")
            .select("fqn",
                    F.coalesce("component", "fqn").alias("canonical_id")))
