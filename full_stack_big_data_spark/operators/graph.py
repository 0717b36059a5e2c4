"""Iterative graph analytics: fixed-point PageRank over the event graph.

``dedup_clusters`` (operators/dedup.py) already proves the engine runs
iterative label propagation; this module adds the other canonical
iterative workload — PageRank — with the loop UNROLLED into the logical
plan (3 iterations), so even an "iterative algorithm" stays inside the
declarative DataFrame surface and gets a full differential oracle
(3 chained CTE blocks in DuckDB) instead of the weaker rows-only check.

Determinism discipline: PageRank over doubles is NOT portable — float
addition is order-dependent, and a 1000-executor shuffle sums in a
different order every run. All rank arithmetic here is fixed-point
BIGINT (scale 1e12) with explicit floor division at the two division
sites; integer SUM is exactly associative, so the result is bit-identical
on any partitioning, any engine. That is the same order-independence
rule the money aggregates follow (DECIMAL there, fixed-point here
because PageRank also needs division by degree).

Scale posture: the edge list is built with one window shuffle and
persisted with its out-degree pre-joined (reused by every iteration);
each iteration is one partial-aggregated shuffle of edge contributions
keyed by dst plus a broadcast of the 1-row dangling-mass aggregate. Node
count enters as a driver-side scalar — catalog metadata, the one scalar
every PageRank needs — not a data collect. For deep iteration counts,
persist-per-iteration truncates plan growth (done here); at real cluster
scale you would also checkpoint every ~10 rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..engine.catalog import Catalog
from .registry import register

PR_SCALE = 1_000_000_000_000  # fixed-point scale (1e12)
PR_ITERS = 3
PR_D_NUM, PR_D_DEN = 85, 100  # damping 0.85 as an exact rational


def _oracle_sql() -> str:
    """Unrolled 3-iteration fixed-point PageRank in DuckDB SQL."""
    head = f"""
WITH edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT user_id AS src,
           lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
    FROM events)
  WHERE dst IS NOT NULL AND dst <> src
), deg AS (
  SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
), nodes AS (
  SELECT DISTINCT u FROM (SELECT src AS u FROM edges UNION ALL SELECT dst FROM edges)
), n AS (
  SELECT COUNT(*) AS nn FROM nodes
), r0 AS (
  SELECT u, CAST({PR_SCALE} // nn AS BIGINT) AS r FROM nodes CROSS JOIN n
)"""
    blocks = []
    for k in range(PR_ITERS):
        prev, cur = f"r{k}", f"r{k + 1}"
        blocks.append(f""", c{k} AS (
  SELECT e.dst AS u,
         CAST(SUM(({PR_D_NUM} * p.r) // ({PR_D_DEN} * d.deg)) AS BIGINT) AS inc
  FROM edges e JOIN {prev} p ON e.src = p.u JOIN deg d ON e.src = d.src
  GROUP BY e.dst
), m{k} AS (
  SELECT CAST(COALESCE(SUM(p.r), 0) AS BIGINT) AS m
  FROM {prev} p LEFT JOIN deg ON p.u = deg.src WHERE deg.src IS NULL
), {cur} AS (
  SELECT nodes.u,
         CAST(({PR_D_DEN - PR_D_NUM} * {PR_SCALE}) // ({PR_D_DEN} * nn)
              + COALESCE(inc, 0)
              + ({PR_D_NUM} * m) // ({PR_D_DEN} * nn) AS BIGINT) AS r
  FROM nodes CROSS JOIN n CROSS JOIN m{k} LEFT JOIN c{k} ON nodes.u = c{k}.u
)""")
    return (head + "".join(blocks)
            + f"\nSELECT u AS user_id, r AS rank_fp FROM r{PR_ITERS}")


@register(
    "q_pagerank",
    oracle=_oracle_sql(),
    description=f"fixed-point PageRank, {PR_ITERS} unrolled iterations over the event succession graph",
    tags=("graph", "iterative", "custom"),
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the event-succession graph (edge u→v when v's event
    directly follows u's within an event_type stream).

    The loop below unrolls into one DAG; each round is
    ``edges ⋈ ranks → partial-agg by dst`` plus a broadcast 1-row
    dangling-mass aggregate, i.e. exactly one rank-sized shuffle per
    iteration. ``edges_deg`` is persisted once and reused by all
    iterations — at scale this is the difference between scanning the
    fact table once vs. per-round.

    The edge-derivation ``lead`` window partitions by event_type (few
    values) because succession IS a per-type total order — the one
    window in the engine whose group count cannot be salted without
    changing semantics. At 100 TB you bucket the stream by time and
    stitch bucket boundaries (carry each bucket's last row into the
    next); the fixture's single-window form keeps the oracle exact.

    Exchange budget (top row of PLANAUDIT.md): ~7 exchanges per
    iteration is inherent to iterative joins in the DataFrame API —
    each round re-shuffles RANKS against the persisted edges. The
    at-scale refinement is bucketed storage: write ``edges_deg`` once
    bucketed+sorted on ``src`` (the ``q_bucketed_join`` pattern) so
    every iteration's join consumes the bucketed scan with zero
    edge-side exchange and only the node-cardinality rank table moves
    per round. Plan shape demonstrated by ``q_bucketed_join``; not
    duplicated here because the fixture's graph is user-cardinality
    (tiny) and the oracle pins this form.
    """
    ev = Catalog(spark, sf_dir).events
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    edges = (
        ev.select(F.col("user_id").alias("src"),
                  F.lead("user_id").over(w).alias("dst"))
        .where(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # Persist the loop invariants PRE-PARTITIONED on their join keys
    # (explicit count: an AQE-coalesced keyed repartition would cache a
    # partitioning the per-round shuffles no longer match). The cached
    # hash layout satisfies every iteration's join/anti-join required
    # distribution, so EnsureRequirements drops the per-round Sort +
    # Exchange on the cached side — the in-memory form of the bucketed
    # edges_deg refinement described below (guide §2.4/§3.4): only the
    # rank table moves per round.
    part = spark.sparkContext.defaultParallelism
    edges_deg = edges.join(deg, "src").repartition(part, "src").persist()
    # Dangling-ness (no out-degree) is a LOOP INVARIANT, so it is
    # computed ONCE here as a boolean column of the persisted node
    # table instead of re-deriving nodes⟕deg anti-join + rank join
    # inside every iteration's mass aggregate: each round's dangling
    # mass becomes filter(dang) + SUM over the cached rank frame —
    # zero joins feeding the 1-row funnel (guide §2.4; paired
    # order-alternating A/B won all 4 rounds, ~1.3×,
    # OPTIMIZATION_r14.md § 8 — results bit-identical).
    nodes = (edges_deg.select(F.col("src").alias("u"))
             .union(edges_deg.select(F.col("dst").alias("u")))
             .distinct()
             .join(deg.select(F.col("src").alias("u"),
                              F.lit(True).alias("hasdeg")), "u", "left")
             .withColumn("dang", F.col("hasdeg").isNull())
             .drop("hasdeg")
             .repartition(part, "u").persist())
    nn = nodes.count()  # catalog scalar: |V|, needed in the rank constants
    if nn == 0:  # empty graph: no nodes, no ranks (guards the // nn below)
        return nodes.select(F.col("u").alias("user_id"),
                            F.lit(0).cast("bigint").alias("rank_fp"))

    base = (PR_D_DEN - PR_D_NUM) * PR_SCALE // (PR_D_DEN * nn)
    r = nodes.withColumn("r", F.lit(PR_SCALE // nn).cast("bigint"))
    for _ in range(PR_ITERS):
        contrib = (
            edges_deg.join(r, edges_deg.src == r.u)
            .select(F.col("dst").alias("u"),
                    F.expr(f"({PR_D_NUM} * r) div ({PR_D_DEN} * deg)").alias("c"))
            .groupBy("u").agg(F.sum("c").cast("bigint").alias("inc"))
        )
        m = (r.where("dang")
             .agg(F.coalesce(F.sum("r"), F.lit(0)).cast("bigint").alias("m")))
        r = (
            nodes.join(contrib, "u", "left").crossJoin(F.broadcast(m))
            .select("u", "dang",
                    (F.lit(base) + F.coalesce(F.col("inc"), F.lit(0))
                     + F.expr(f"({PR_D_NUM} * m) div ({PR_D_DEN} * {nn})"))
                    .cast("bigint").alias("r"))
        ).persist()
    return r.select(F.col("u").alias("user_id"), F.col("r").alias("rank_fp"))


# ---------------------------------------------------------------------------
# Triangle counting (degree-oriented — the MPC-scalable orientation).
# ---------------------------------------------------------------------------

_UND_SQL = """
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM (
    SELECT user_id AS src,
           lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
    FROM events)
  WHERE dst IS NOT NULL AND dst <> src
"""


@register(
    "q_triangle_count",
    oracle=f"""
WITH und AS ({_UND_SQL}),
deg AS (
  SELECT u, COUNT(*) AS deg
  FROM (SELECT a AS u FROM und UNION ALL SELECT b FROM und) GROUP BY u
),
tri AS (
  SELECT COUNT(*) AS t
  FROM und e1
  JOIN und e2 ON e2.a = e1.a AND e2.b > e1.b
  JOIN und e3 ON e3.a = e1.b AND e3.b = e2.b
),
wed AS (SELECT CAST(SUM((deg * (deg - 1)) // 2) AS BIGINT) AS w FROM deg)
SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       (SELECT COUNT(*) FROM und) AS n_edges,
       CAST(t AS BIGINT) AS n_triangles,
       w AS n_wedges,
       ROUND(CAST(3 * t AS DOUBLE) / greatest(w, 1), 6) AS clustering
FROM tri CROSS JOIN wed
""",
    description="degree-oriented triangle count + global clustering "
                "coefficient over the event succession graph",
    tags=("graph", "join"),
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count and global clustering coefficient of the
    (undirected) event-succession graph.

    Scale: the naive three-way edge self-join explodes on hot nodes — a
    degree-d vertex contributes C(d,2) wedge rows, quadratic on the
    celebrity nodes every real graph has. The classic fix (compact-
    forward / MPC triangle counting) is DEGREE ORIENTATION: point every
    edge from its (deg, id)-smaller endpoint to the larger, making the
    graph a DAG where each triangle has exactly one apex and every
    vertex's OUT-degree is bounded by O(√m) (arboricity) — the wedge
    join then fans out quadratically only in out-degree, never in raw
    degree. The oracle stays the brute a<b<c three-way join, so the
    orientation's exactness (not just its speed) is what's checked.
    Exchanges: degree agg, orientation join, wedge self-join keyed by
    apex, and one wedge↔edge semi-join — all hash-partitioned,
    map-side combinable where aggregating, no cartesian anywhere.
    """
    ev = Catalog(spark, sf_dir).events
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    dir_edges = (
        ev.select(F.col("user_id").alias("src"),
                  F.lead("user_id").over(w).alias("dst"))
        .where(F.col("dst").isNotNull() & (F.col("dst") != F.col("src")))
    )
    und = (dir_edges
           .select(F.least("src", "dst").alias("a"),
                   F.greatest("src", "dst").alias("b"))
           .distinct().persist())
    deg = (und.select(F.col("a").alias("u"))
           .unionAll(und.select(F.col("b").alias("u")))
           .groupBy("u").agg(F.count("*").alias("deg")))
    # orient: (deg, id)-smaller endpoint -> larger; carry head's key for
    # the wedge ordering below
    ed = (und
          .join(deg.select(F.col("u").alias("a"), F.col("deg").alias("da")), "a")
          .join(deg.select(F.col("u").alias("b"), F.col("deg").alias("db")), "b"))
    a_first = (F.col("da") < F.col("db")) | \
              ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    o = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ).persist()
    o1 = o.select("u", F.col("v").alias("v1"), F.col("dv").alias("d1"))
    o2 = o.select("u", F.col("v").alias("v2"), F.col("dv").alias("d2"))
    wedge_lt = (F.col("d1") < F.col("d2")) | \
               ((F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2")))
    wedges = o1.join(o2, "u").where(wedge_lt).select("v1", "v2")
    closing = o.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    tri = (wedges.join(closing, ["v1", "v2"], "left_semi")
           .agg(F.count("*").cast("bigint").alias("n_triangles")))
    n_nodes = deg.agg(F.count("*").cast("bigint").alias("n_nodes"))
    n_edges = und.agg(F.count("*").cast("bigint").alias("n_edges"))
    wed = deg.agg(F.sum(F.expr("(deg * (deg - 1)) div 2"))
                  .cast("bigint").alias("n_wedges"))
    return (n_nodes.crossJoin(F.broadcast(n_edges))
            .crossJoin(F.broadcast(tri))
            .crossJoin(F.broadcast(wed))
            .select("n_nodes", "n_edges", "n_triangles", "n_wedges",
                    F.round((3 * F.col("n_triangles")).cast("double")
                            / F.greatest(F.col("n_wedges"), F.lit(1)), 6)
                     .alias("clustering")))
