"""Graph analytics as unrolled declarative rounds — PageRank.

The reference has no graph operators; this is the extension family for
link-style analyses over pipeline-derived graphs (event-transition
graphs, dup-pair graphs from llm.dedup, citation/url graphs at corpus
scale). Same execution philosophy as the Lloyd rounds in llm.clustering
(``_lloyd_rounds_long``): a FIXED number of rounds unrolled into one
lazy Catalyst plan — no driver-side loop state, no actions during plan
construction, resumable and oracle-reproducible because every PageRank
round is pure DataFrame algebra.

Determinism discipline (what makes a full value oracle possible):
- edge weights and out-degrees are exact integers;
- each node's incoming contributions are folded LEFT-TO-RIGHT in
  source-node order (sorted struct fold), not hash-aggregated — double
  addition is order-sensitive, so the fold order is pinned;
- the damping update ``(1-d)/N + d * s`` applies the identical IEEE
  operation sequence in any engine.

Scale: each round is one equi-join (ranks × edges on src) plus one
grouped fold on dst — shuffle ∝ |edges|, the same cost profile as the
Pregel supersteps in distributed PageRank. The sorted-fold per dst
bounds memory by in-degree; for web-scale in-degrees (millions) you'd
swap the pinned fold for a plain SUM and accept ulp drift — the fold
is the price of bit-exact cross-engine verification, not a scaling
requirement. Rank state between rounds stays columnar; N (node count)
is a 1-row broadcast, never a driver action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank_fixed(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    rounds: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Weighted PageRank, ``rounds`` unrolled iterations, uniform init.

    ``edges`` must carry integer weights (e.g. transition counts).
    Nodes are the union of sources and destinations. Returns
    ``(node, pr)`` with ``pr`` the rank after the final round.

    Dangling nodes (no out-edges) leak their mass — standard
    simplification; document it where the invariant matters. Nodes with
    no in-edges receive the teleport term only.
    """
    # endpoints via a row-local explode, NOT a two-branch union: the
    # union's branches each re-evaluate the whole ``edges`` subtree
    # (for the transition-graph queries that is a window pass plus an
    # aggregate per branch), while the explode reads it once — same
    # multiset, and the trailing distinct is unchanged (r09, the q66
    # ``_bidir`` lesson)
    nodes = (
        edges.select(F.explode(F.array(F.col(src), F.col(dst))).alias("node"))
        .distinct()
    )
    n1 = nodes.agg(F.count(F.lit(1)).alias("__n"))
    # rank state: node, pr, plus the broadcast N every round reuses
    ranks = nodes.crossJoin(F.broadcast(n1)).select(
        "node",
        "__n",
        (F.lit(1.0) / F.col("__n").cast("double")).alias("pr"),
    )

    outw = edges.groupBy(src).agg(F.sum(weight).alias("__outw"))
    e = edges.join(outw, src).select(
        F.col(src).alias("__src"),
        F.col(dst).alias("__dst"),
        # exact ints → one correctly-rounded double division
        (F.col(weight).cast("double") / F.col("__outw").cast("double")).alias("__p"),
    )

    teleport = F.lit(1.0 - damping) / F.col("__n").cast("double")
    for _ in range(rounds):
        contrib = (
            ranks.join(e, ranks.node == e.__src)
            .select(
                F.col("__dst").alias("node"),
                F.col("__src").alias("__from"),
                (F.col("pr") * F.col("__p")).alias("__c"),
            )
            .groupBy("node")
            .agg(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("__from", "__c"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["__c"],
                ).alias("__s")
            )
        )
        ranks = (
            ranks.join(contrib, "node", "left")
            .select(
                "node",
                "__n",
                (teleport + F.lit(damping) * F.coalesce("__s", F.lit(0.0))).alias("pr"),
            )
        )
    return ranks.select("node", "pr")


def hits_fixed(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    rounds: int = 2,
) -> DataFrame:
    """HITS hubs-and-authorities, ``rounds`` unrolled iterations.

    Kleinberg's mutual-reinforcement pair on a weighted directed graph:
    authority(j) = Σ_i w_ij·hub(i), hub(i) = Σ_j w_ij·authority(j),
    each half-step L1-normalized. Init hub = 1/N. Returns
    ``(node, hub, authority)`` after the final round.

    Same determinism discipline as :func:`pagerank_fixed`: integer
    weights, per-node contribution folds pinned in neighbor order, and
    the L1 normalizer folded over nodes in node order (one array of
    |node-type| elements — bounded by the vocabulary of the graph's
    node domain, not by |edges|). Nodes with no in-edges get authority
    0; no out-edges, hub 0 — surfaced, not dropped.
    """
    if rounds < 1:
        raise ValueError("hits_fixed needs rounds >= 1 (authorities are "
                         "undefined before the first half-step)")
    # single-pass endpoint explode — see pagerank_fixed's nodes note
    nodes = (
        edges.select(F.explode(F.array(F.col(src), F.col(dst))).alias("node"))
        .distinct()
    )
    n1 = nodes.agg(F.count(F.lit(1)).alias("__n"))
    hubs = nodes.crossJoin(F.broadcast(n1)).select(
        "node", (F.lit(1.0) / F.col("__n").cast("double")).alias("h")
    )
    e = edges.select(
        F.col(src).alias("__src"),
        F.col(dst).alias("__dst"),
        F.col(weight).cast("double").alias("__w"),
    )

    def _pinned(order_col: str, term: F.Column) -> F.Column:
        return F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col(order_col).alias("o"),
                                                 term.alias("t")))),
            F.lit(0.0),
            lambda acc, x: acc + x["t"],
        )

    def _l1(df: DataFrame, col: str) -> DataFrame:
        # fold |nodes| positive doubles in node order — the pinned
        # normalizer (values are non-negative, so L1 = plain sum)
        tot = df.agg(_pinned("node", F.col(col)).alias("__t"))
        return df.crossJoin(F.broadcast(tot)).select(
            "node", (F.col(col) / F.col("__t")).alias(col)
        )

    auths = None
    for _ in range(rounds):
        a_raw = (
            hubs.join(e, hubs.node == e.__src)
            .select(F.col("__dst").alias("node"), F.col("__src").alias("__o"),
                    (F.col("h") * F.col("__w")).alias("__c"))
            .groupBy("node")
            .agg(_pinned("__o", F.col("__c")).alias("a"))
        )
        auths = _l1(
            nodes.join(a_raw, "node", "left")
            .select("node", F.coalesce("a", F.lit(0.0)).alias("a")),
            "a",
        )
        h_raw = (
            auths.join(e, auths.node == e.__dst)
            .select(F.col("__src").alias("node"), F.col("__dst").alias("__o"),
                    (F.col("a") * F.col("__w")).alias("__c"))
            .groupBy("node")
            .agg(_pinned("__o", F.col("__c")).alias("h"))
        )
        hubs = _l1(
            nodes.join(h_raw, "node", "left")
            .select("node", F.coalesce("h", F.lit(0.0)).alias("h")),
            "h",
        )
    return (
        hubs.join(auths, "node")
        .select("node", F.col("h").alias("hub"), F.col("a").alias("authority"))
    )
