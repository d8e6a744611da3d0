"""Link-graph centrality: integer fixed-point PageRank.

The curation use case is Common-Crawl-style URL/domain authority
(harmonic or PageRank centrality as a document-quality prior — the
signal behind CC's own crawl ranking). The repo's third iterative
distributed algorithm, after connected components (dedup.py) and BPE
merge learning (functions/text.py), and the one whose per-iteration
shape is the canonical join-groupBy PageRank:

    contrib(u) = rank(u) DIV out_deg(u)                (integer floor)
    rank'(v)   = 150_000 + (85 * SUM contrib(u->v)) DIV 100

Ranks are micro-scaled integers (r0 = 1_000_000 = 1.0), damping 0.85
applied as 85/100 in integer arithmetic — every engine reproduces the
sequence EXACTLY, so an unrolled SQL CTE chain can oracle-check the
distributed run bit-for-bit. (Float PageRank is the production norm;
the fixed-point ladder exists so correctness is checkable. Swap the
two constants for a different damping.)

Scale shape per iteration: ranks join edges on src (the only wide
shuffle, partitioned by src), map-side DIV, groupBy dst with a
map-side-combined SUM, left join back to the node list so sink-only
nodes keep the teleport term. Edges and degrees are computed once and
reused; AQE handles the skew a power-law in-degree distribution
produces. At 100 TB the edge table is the bucketed asset: bucket BOTH
ranks and edges by src and the per-iteration join is shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

TELEPORT_SCALED = 150_000  # (1 - d) * 1e6 for d = 0.85
DAMP_NUM, DAMP_DEN = 85, 100


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    n_iter: int = 3,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
) -> DataFrame:
    """Integer fixed-point PageRank over an edge list. ``nodes`` must
    carry every vertex (including sink-only vertices, which receive
    the teleport term each round). Returns (id, rank_scaled) with
    rank_scaled in micro-units. Dangling mass is DROPPED (the
    simple-sink convention, documented; redistributing it adds one
    scalar agg per round)."""
    from ..util import own

    deg = edges.groupBy(src).agg(F.count(F.lit(1)).alias("__deg"))
    # cache the degree-joined edge table and the node list: every
    # iteration re-reads both, and without this the final plan embeds
    # n_iter copies of the edges scan + degree shuffle (the docstring's
    # "computed once and reused" would be a lie). For large n_iter add
    # a periodic localCheckpoint on ranks to cut lineage growth.
    ed = own(edges.join(deg, src).cache())
    node_ids = own(nodes.select(F.col(id_col).alias("id")).cache())
    ranks = node_ids.select(
        "id", F.lit(1_000_000).cast("long").alias("rank_scaled")
    )
    for _ in range(n_iter):
        contrib = (
            ed.join(ranks, ed[src] == ranks["id"])
            .select(
                F.col(dst).alias("__to"),
                F.expr("rank_scaled div __deg").alias("__c"),
            )
            .groupBy("__to")
            .agg(F.sum("__c").alias("__in"))
        )
        ranks = (
            node_ids
            .join(contrib, F.col("id") == F.col("__to"), "left")
            .select(
                "id",
                (
                    F.lit(TELEPORT_SCALED)
                    + F.expr(
                        f"({DAMP_NUM} * coalesce(__in, 0)) div {DAMP_DEN}"
                    )
                ).cast("long").alias("rank_scaled"),
            )
        )
    return ranks


def synthetic_link_edges(nodes: DataFrame, id_col: str, n_nodes) -> DataFrame:
    """Deterministic test link graph over contiguous ids 0..n-1: node
    u links to (u*31 + k) mod n for k in 1..(u % 3 + 1), self-loops
    dropped. The VARIABLE out-degree is the point: with a constant
    k-range each (u*31+k) mod n map is a bijection, in-degree equals
    out-degree everywhere, and PageRank converges to the uniform
    vector — a constant output no differential can distinguish from a
    constant-output bug. Degree diversity gives every node a distinct
    rank trajectory. A node whose single candidate edge is a
    self-loop goes DANGLING, exercising pagerank()'s sink convention.
    ``n_nodes`` may be a literal or a 1-row-broadcast column; the
    modulus keeps every target a real node."""
    u = F.col(id_col).cast("long")
    targets = F.array(
        *[((u * 31 + k) % n_nodes).cast("long") for k in (1, 2, 3)]
    )
    out = nodes.select(
        u.alias("src"),
        F.explode(F.slice(targets, 1, (u % 3 + 1).cast("int"))).alias("dst"),
    )
    return out.filter(F.col("src") != F.col("dst"))
