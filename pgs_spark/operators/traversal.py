"""BFS single-source hop distances — iterative frontier expansion.

Graft of PGS_Contour.distanceTree (PGS_Contour.java:718-740: BFSShortestPath
over the mesh graph from a snapped source vertex) and the frontier loop of
SpiralIterator (commons/SpiralIterator.java:16-64: gather unvisited neighbors
of the frontier, emit ring by ring).

Plan per hop: frontier ⋈ edges → candidate next frontier → anti-join against
visited. State (visited set) is |V| rows max and runs on
``state.run_supersteps`` (off-heap parquet snapshots; localCheckpoint pinned
every hop's visited set on-heap): the frontier is re-derived from the state
as ``dist == hop - 1``, and the reached count observed on the hop's snapshot
write stops the loop once a hop reaches nothing new — one action per hop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgs_spark.operators.edges import symmetrize
from pgs_spark.operators.state import run_supersteps
from pgs_spark.streaming.checkpoint import fingerprint_edges


def bfs_distances(
    spark: SparkSession,
    undirected_edges: DataFrame,
    source: int,
    max_hops: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(id, dist) for every vertex reachable from `source` within max_hops.

    `checkpoint_dir` makes the run DURABLE (the PageRank/CC treatment):
    each hop's visited set is checkpointed with a fingerprinted manifest
    (keyed on source + max_hops) and a restarted call resumes mid-traversal;
    the visited count rides the checkpoint write via observe()."""
    sym = symmetrize(undirected_edges).persist()

    def step(visited: DataFrame, hop: int) -> DataFrame:
        frontier = visited.filter(F.col("dist") == hop - 1).select("id")
        nxt = (
            frontier.join(sym, frontier.id == sym.src)
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(visited, "id", "left_anti")
            .select("id", F.lit(hop).cast("int").alias("dist"))
        )
        return visited.union(nxt)

    return run_supersteps(
        spark,
        spark.createDataFrame([(int(source), 0)], "id long, dist int"),
        step,
        max_hops,
        # a hop that reaches nothing new leaves the visited count unchanged
        observe=[F.count(F.lit(1)).alias("n")],
        done=lambda obs, prev: prev is not None and obs["n"] == prev.get("n"),
        checkpoint_dir=checkpoint_dir,
        fingerprint=lambda: (
            f"{fingerprint_edges(undirected_edges)}|src={source}|hops={max_hops}"
        ),
        persisted=[sym],
    ).state


def spiral_order(
    spark: SparkSession,
    undirected_edges: DataFrame,
    positions: DataFrame,
    source: int,
    max_hops: int = 20,
) -> DataFrame:
    """Spiral emission order — the composed spiralSortFaces operator
    (PGS_Optimisation.java:1098; commons/SpiralIterator.java:16-64: BFS rings
    from a seed + per-ring angular sweep): ring = BFS distance from `source`,
    within-ring order = polar angle about the RING's centroid, global rank =
    (ring, angle, id) lexicographic.

    → (id, ring, angle_r, spiral_rank) for every vertex reachable within
    `max_hops`; positions is (id, x, y).

    Scale: the within-ring sort is a window PARTITIONED BY ring (distributed
    across rings; one giant ring degrades to that ring's single sort task —
    the same total-order the reference's iterator implies); the cross-ring
    offset table is |rings| rows, joined back broadcast-size. No global
    single-partition window.
    """
    from pyspark.sql import Window

    rings = bfs_distances(spark, undirected_edges, source, max_hops=max_hops)
    pts = rings.join(positions, "id")
    cent = pts.groupBy("dist").agg(F.avg("x").alias("cx"), F.avg("y").alias("cy"))
    ang = pts.join(cent, "dist").select(
        "id",
        F.col("dist").alias("ring"),
        F.atan2(F.col("y") - F.col("cy"), F.col("x") - F.col("cx")).alias("angle"),
    )
    w_ring = Window.partitionBy("ring").orderBy("angle", "id")
    within = ang.withColumn("pos_in_ring", F.row_number().over(w_ring))
    w_off = Window.orderBy("ring").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        within.groupBy("ring")
        .agg(F.count("*").alias("sz"))
        .select("ring", F.coalesce(F.sum("sz").over(w_off), F.lit(0)).alias("off"))
    )
    return within.join(offsets, "ring").select(
        "id",
        "ring",
        F.round("angle", 6).alias("angle_r"),
        (F.col("off") + F.col("pos_in_ring")).cast("long").alias("spiral_rank"),
    )


def spiral_order_sql(points_sql: str, radius: float, max_hops: int = 20) -> str:
    """DuckDB oracle for `spiral_order` over the distance-threshold graph of
    `points_sql` (id, x, y), source = MIN(id) — the identical fixed program:
    same strict d² < r² edge predicate, BFS cap, centroid, atan2, ranks."""
    r2 = repr(float(radius) * float(radius))
    return f"""
WITH RECURSIVE pts AS MATERIALIZED ({points_sql}),
e AS MATERIALIZED (
    SELECT a.id AS u, b.id AS v FROM pts a JOIN pts b ON a.id <> b.id
    AND (a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y) < {r2}
),
walk(id, dist) AS (
    SELECT (SELECT MIN(id) FROM pts), 0
    UNION
    SELECT e.v, w.dist + 1 FROM e JOIN walk w ON e.u = w.id WHERE w.dist < {max_hops}
),
rings AS MATERIALIZED (SELECT id, CAST(MIN(dist) AS INT) AS ring FROM walk GROUP BY id),
pr AS MATERIALIZED (
    SELECT r.id, r.ring, p.x, p.y FROM rings r JOIN pts p ON r.id = p.id
),
cent AS (SELECT ring, AVG(x) AS cx, AVG(y) AS cy FROM pr GROUP BY ring),
ang AS (
    SELECT pr.id, pr.ring, atan2(pr.y - c.cy, pr.x - c.cx) AS angle
    FROM pr JOIN cent c ON pr.ring = c.ring
),
rk AS (
    SELECT id, ring, angle,
           ROW_NUMBER() OVER (PARTITION BY ring ORDER BY angle, id) AS pos_in_ring
    FROM ang
),
off AS (
    SELECT ring,
           COALESCE(SUM(CAST(sz AS BIGINT)) OVER (ORDER BY ring
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
    FROM (SELECT ring, COUNT(*) AS sz FROM rk GROUP BY ring)
)
SELECT r.id, r.ring, ROUND(r.angle, 6) AS angle_r,
       CAST(f.o + r.pos_in_ring AS BIGINT) AS spiral_rank
FROM rk r JOIN off f ON r.ring = f.ring
"""


def double_sweep_diameter(
    spark: SparkSession,
    undirected_edges: DataFrame,
    max_hops: int = 8,
) -> DataFrame:
    """One-row (src0, far0, ecc0, far1, diam_lb): the classic double-sweep
    diameter lower bound (Magnien–Latapy–Habib 2009) — BFS from the minimum
    vertex id, then BFS again from the farthest vertex found; the second
    eccentricity lower-bounds the true diameter (exact on trees).

    Fully integer and deterministic: argmax ties break on minimum id, both
    sweeps reuse bfs_distances (distanceTree graft, PGS_Contour.java:718-740).
    The two scalar extractions pull ONE row each to the driver — the same
    cost as reading an aggregate, not a data-sized collect.
    """
    far_first = [F.col("dist").desc(), F.col("id").asc()]
    src0 = int(
        undirected_edges.agg(F.min(F.least("src", "dst"))).first()[0]
    )
    d1 = bfs_distances(spark, undirected_edges, src0, max_hops=max_hops)
    r1 = d1.orderBy(*far_first).first()
    d2 = bfs_distances(spark, undirected_edges, int(r1["id"]), max_hops=max_hops)
    r2 = d2.orderBy(*far_first).first()
    return spark.createDataFrame(
        [
            (
                src0,
                int(r1["id"]),
                int(r1["dist"]),
                int(r2["id"]),
                int(r2["dist"]),
            )
        ],
        "src0 long, far0 long, ecc0 int, far1 long, diam_lb int",
    )


def sssp_distances(
    spark: SparkSession,
    weighted_edges: DataFrame,
    source: int,
    rounds: int = 6,
    weight_col: str = "weight",
    directed: bool = False,
) -> DataFrame:
    """Weighted single-source shortest paths — fixed-round Bellman-Ford.

    The WEIGHTED distance tree: PGS_Contour.distanceTree's Euclidean-weight
    mode (PGS_Contour.java:702-745 runs DijkstraShortestPath when the mesh
    graph carries edge weights) grafted as superstep relaxation. Round r
    holds dist_r(v) = min cost of any path from `source` using <= r edges:

        dist_r(v) = min(dist_{r-1}(v), min over (u,v,w): dist_{r-1}(u) + w)

    so a FIXED round count is a well-defined, engine-independent object the
    DuckDB oracle (plans/oracle_sql.sssp_sql) replays exactly — all-integer
    weights, no floating point. dist is monotonically non-increasing and
    the reached set non-decreasing, so an unchanged (count, SUM(dist))
    signature IS the fix point; early exit then returns exactly the
    rounds-unrolled result (further rounds are identity), keeping the
    replayed oracle valid.

    Plan per round: ONE equi-join (state x edges on src) feeding a codegen
    groupBy(min) over state ∪ candidates — the PageRank gather shape with
    min instead of sum; hub skew absorbed by map-side partial min. State is
    (id, dist) for reached vertices only, snapshotted to parquet by
    ``state.run_supersteps`` (off-heap, lineage truncated, two snapshots
    kept) with the signature observed on the write. Negative weights are
    rejected: fixed-round relaxation is still well-defined but the
    fix-point early exit and the "shortest" reading are not.
    """
    e = weighted_edges.select(
        "src", "dst", F.col(weight_col).cast("long").alias("w")
    )
    sym = (
        e
        if directed
        else e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
        )
    ).persist()
    if (sym.agg(F.min("w")).first()[0] or 0) < 0:
        sym.unpersist()
        raise ValueError("sssp_distances requires non-negative weights")

    def step(state: DataFrame, _: int) -> DataFrame:
        cand = state.join(sym, state["id"] == sym["src"]).select(
            sym["dst"].alias("id"), (state["dist"] + sym["w"]).alias("dist")
        )
        return state.unionByName(cand).groupBy("id").agg(F.min("dist").alias("dist"))

    return run_supersteps(
        spark,
        spark.createDataFrame([(int(source), 0)], "id long, dist long"),
        step,
        rounds,
        observe=[F.count(F.lit(1)).alias("n"), F.sum("dist").alias("s")],
        done=lambda obs, prev: prev is not None
        and (obs["n"], obs["s"]) == (prev["n"], prev["s"]),
        persisted=[sym],
    ).state
