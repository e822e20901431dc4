"""Triangle counting via degree-ordered wedge join.

Fills the role of the reference's triangle enumeration
(TriangleCollector.visitSimpleTriangles, used at PGS_Meshing.java:118-129 and
PGS_Triangulation.java:626-634 — each triangle visited exactly once). A mesh
library gets "each triangle once" from planarity; a general graph gets it from
*degree orientation*: orient every undirected edge from the endpoint with the
smaller (degree, id) to the larger. Every triangle then has exactly one vertex
with two out-edges, so counting closed wedges counts each triangle once — and
the orientation bounds out-degree by O(√|E|), which is what keeps the wedge
join tractable on power-law graphs (hubs become sinks, not wedge centers).

Plan: edges ⋈ degrees (twice) → orient → self-join on the wedge center →
semi-join closure against the oriented edge set. Three shuffles total, no
iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgs_spark.operators.edges import canonicalize, degrees, symmetrize


def _oriented(und: DataFrame) -> DataFrame:
    """Canonical undirected edges → degree-oriented directed edges
    (a, b, db) with (deg(a), a) < (deg(b), b); db = deg(b) carried for the
    wedge-order comparison."""
    deg = degrees(und)
    e = (
        und.join(deg.withColumnRenamed("id", "src").withColumnRenamed("degree", "ds"), "src")
        .join(deg.withColumnRenamed("id", "dst").withColumnRenamed("degree", "dd"), "dst")
    )
    fwd = (F.col("ds") < F.col("dd")) | (
        (F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst"))
    )
    return e.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("a"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("b"),
        F.when(fwd, F.col("dd")).otherwise(F.col("ds")).alias("db"),
    )


def triangles(
    spark: SparkSession, edges: DataFrame, ori_out: list | None = None
) -> DataFrame:
    """All triangles of an edge table (any orientation) → (x, y, z) rows,
    each triangle exactly once (x = wedge center).

    The oriented edge table is persisted (it feeds both wedge sides and the
    closing semi-join). Callers that materialize the result (`triangle_count`
    after its count, operators/truss.py once per peel round) pass `ori_out`
    to receive the persisted DataFrame and unpersist it afterwards —
    otherwise every call leaks a cached relation.

    SCALE-ADAPTIVE WEDGE WIDTH (guide §2.2/§5): the wedge self-join emits
    Σ out-deg² rows — 10× the input at a FIXED partition count guarantees
    the wedge shuffle crosses the spill threshold (the measured sf1
    triangle_count superlinearity). Above PGS_TRI_ADAPT_MIN oriented edges
    (default 4M; sf0.1-scale graphs keep the exact round-5 plan, zero extra
    jobs) the oriented table is counted, Σ out-deg² is estimated with one
    aggregate over the persisted relation, and both wedge-join inputs and
    the wedge→closing semi-join are explicitly hash-partitioned so each
    task holds ~PGS_TRI_ROWS_PER_PART wedge rows (default 2M ≈ 50 MB)
    instead of |wedges|/session-width. The repartitions do not add
    exchanges — they widen the exchanges those joins already require."""
    import os

    und = canonicalize(edges)
    ori = _oriented(und).persist()
    if ori_out is not None:
        ori_out.append(ori)
    e1 = ori.select(F.col("a"), F.col("b").alias("v"), F.col("db").alias("dv"))
    e2 = ori.select(F.col("a"), F.col("b").alias("w"), F.col("db").alias("dw"))
    adapt_min = int(os.environ.get("PGS_TRI_ADAPT_MIN", "4000000"))
    rows_per_part = int(os.environ.get("PGS_TRI_ROWS_PER_PART", "2000000"))
    wedge_parts = None
    # Cheap small-graph fast path: when the optimizer can already bound the
    # input below the adaptive threshold (cached/scanned inputs have real
    # stats), skip the sizing jobs entirely — the round-5 plan is unchanged
    # and no extra action runs. Unknown stats (Long.Max default) fall
    # through to the exact count, which materializes the persisted `ori`
    # that every consumer needs anyway.
    try:
        est_bytes = int(
            und._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        est_bytes = None
    m_ori = adapt_min if est_bytes is None or est_bytes > 16 * adapt_min else 0
    if m_ori >= adapt_min:
        m_ori = ori.count()
    if m_ori >= adapt_min:
        default_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
        est_wedges = int(
            ori.groupBy("a").agg(F.count("*").alias("od"))
            .agg(F.sum(F.col("od") * F.col("od")))
            .first()[0]
            or 0
        )
        wedge_parts = min(4096, max(default_p, est_wedges // rows_per_part))
        # BOTH inputs of each join are repartitioned explicitly: with only
        # one side widened, EnsureRequirements inserts its own
        # session-width exchange on top (measured: the semi join re-shuffled
        # 3.5 GB of wedges back to 32 partitions and spilled 12 GB anyway).
        e1 = e1.repartition(wedge_parts, "a")
        e2 = e2.repartition(wedge_parts, "a")
    wedges = e1.join(e2, "a").filter(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    closing = ori.select(F.col("a").alias("v"), F.col("b").alias("w"))
    if wedge_parts is not None:
        wedges = wedges.repartition(wedge_parts, "v", "w")
        closing = closing.repartition(wedge_parts, "v", "w")
    tri = wedges.join(closing, ["v", "w"], "left_semi").select(
        F.col("a").alias("x"), F.col("v").alias("y"), F.col("w").alias("z")
    )
    return tri


def triangle_count(spark: SparkSession, edges: DataFrame) -> int:
    """Total number of triangles."""
    ori: list = []
    try:
        return triangles(spark, edges, ori_out=ori).count()
    finally:
        for df in ori:
            df.unpersist()


def triangle_counts_per_vertex(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """(id, n_triangles) — every corner of every triangle credited once.

    Corners come from ONE explode pass over the triangle stream; a 3-way
    union of selects over `tri` would inline the wedge-join pipeline three
    times (ReuseExchange dedupes only the exchanges, not the join work)."""
    tri = triangles(spark, edges)
    corners = tri.select(
        F.explode(F.array(F.col("x"), F.col("y"), F.col("z"))).alias("id")
    )
    return corners.groupBy("id").agg(F.count("*").alias("n_triangles"))


def rectangle_count(
    spark: SparkSession, edges: DataFrame, max_center_degree: int | None = None
) -> DataFrame:
    """Global 4-cycle (rectangle) count — the quadrilateral sibling of
    triangle_count.

    Role: the reference's quad-mesh family (PGS_Meshing's quadrangulation
    consumers) counts quadrilateral faces from planarity; a general graph
    gets the count from the WEDGE-PAIR identity: for each unordered
    non-center pair {u, w}, let p = |N(u) ∩ N(w)| (the number of wedges
    u–z–w). Every 4-cycle u–z1–w–z2 contributes C(2,2)=1 to C(p,2) at its
    diagonal pair {u, w} and once more at the other diagonal {z1, z2}, so
    n_rectangles = Σ_{u<w} C(p,2) / 2 — pure integers end to end (the sum
    is provably even), no enumeration of the cycles themselves.

    Plan: one self-join of the symmetrized edge table on the wedge center
    (the same Σ deg² fan-out as the triangle wedge join) collapsed
    immediately by a map-side-combinable COUNT per (u, w) — the cycle count
    never materializes quadruples. ``max_center_degree`` optionally drops
    wedges centered on hubs (the standard power-law cap — DISCLOSED via the
    argument, never silent; None = exact, and the gate runs exact).

    Returns one row: (n_rectangles, n_closed_pairs) where n_closed_pairs is
    the number of distance-≤2 pairs with ≥2 common neighbors (the pairs that
    close at least one rectangle).
    """
    und = canonicalize(edges)
    sym = symmetrize(und)
    if max_center_degree is not None:
        deg = degrees(und)
        ok = deg.filter(F.col("degree") <= max_center_degree).select(
            F.col("id").alias("src")
        )
        sym = sym.join(ok, "src", "left_semi")
    s1 = sym.select(F.col("src").alias("z"), F.col("dst").alias("u"))
    s2 = sym.select(F.col("src").alias("z"), F.col("dst").alias("w"))
    pairs = (
        s1.join(s2, "z")
        .filter(F.col("u") < F.col("w"))
        .groupBy("u", "w")
        .agg(F.count("*").alias("p"))
    )
    agg = pairs.agg(
        F.coalesce(F.sum(F.expr("(p * (p - 1)) DIV 2")), F.lit(0)).alias("cp2"),
        F.coalesce(
            F.sum(F.when(F.col("p") >= 2, F.lit(1)).otherwise(F.lit(0))), F.lit(0)
        ).alias("n_closed_pairs"),
    )
    return agg.select(
        F.expr("cp2 DIV 2").cast("long").alias("n_rectangles"),
        F.col("n_closed_pairs").cast("long"),
    )


def sampled_triangle_estimate(
    spark: SparkSession,
    edges: DataFrame,
    keep_hex: int = 4,
    seed_tag: str = "t42",
) -> DataFrame:
    """DOULION (Tsourakakis et al., KDD 2009) triangle-count ESTIMATOR:
    sparsify the edge set by an independent coin of probability
    p = keep_hex/16 per edge, count triangles exactly on the sample, and
    scale by 1/p³. The cheap companion to the exact wedge join — at 100 TB
    the sample's Σ deg² wedge fan-out shrinks by ~p² and the expected
    relative error is O(1/sqrt(p³·T)), the standard estimate-first /
    verify-where-it-matters pattern (neighborhood_est's HyperBall sibling
    for triangles).

    DETERMINISM: the coin is the repo's seeded-sampler idiom (hash-order,
    not rand() — q_hash_sample / PGS_PointSet.java:227-264): keep a
    canonical edge iff the first hex char of md5("src|dst|seed_tag") falls
    in the first ``keep_hex`` hex digits. md5 is bit-identical
    Spark↔DuckDB, so the sample — and therefore the estimate — replays
    exactly cross-engine, no epsilon.

    Scale shape: the filter is one codegen projection pushed at the edge
    scan; the triangle count on the sample is the same id-ordered two-join
    plan as the exact operator, just p³ smaller.

    Returns one row (n_sampled_triangles, est_triangles) with
    est = n · 16³ // keep_hex³ (floor — integers end to end).
    """
    if not 1 <= keep_hex <= 16:
        raise ValueError("keep_hex must be in [1, 16]")
    digits = "0123456789abcdef"[:keep_hex]
    und = canonicalize(edges)
    coin = F.substring(
        F.md5(
            F.concat_ws(
                "|",
                F.col("src").cast("string"),
                F.col("dst").cast("string"),
                F.lit(seed_tag),
            )
        ),
        1,
        1,
    )
    sample = und.filter(coin.isin(list(digits)))
    n = triangles(spark, sample).count()
    est = n * 16**3 // keep_hex**3
    return spark.createDataFrame(
        [(n, est)], "n_sampled_triangles long, est_triangles long"
    )
