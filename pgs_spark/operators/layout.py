"""Force-directed graph layout — Fruchterman-Reingold, grid variant.

Graft of the reference's ``fromGraph`` layout (PGS_Conversion.java:977-1004:
``IndexedFRLayoutAlgorithm2D<>(50, 0.7, new Random(1337))`` — FR layout, 50
fixed iterations, seeded RNG, positions scaled into a box). JGraphT's
"Indexed" variant prunes far-field repulsion with a spatial index; the
distributed analog here is the GRID VARIANT from the original paper
(Fruchterman & Reingold, "Graph Drawing by Force-directed Placement", 1991,
§"grid variant"): bucket vertices into cells of side R = 2k, compute
repulsion only for pairs in the same or adjacent cells within distance < R —
a 3×3 equi-join on cell ids (never an all-pairs crossJoin), the exact plan
shape of `geometric.neighbor_pairs`.

Determinism (the PGS_Conversion.java:1088 discipline): initial positions are
md5-hash units of (id, seed) — cross-engine exact, so a DuckDB oracle can
unroll the identical fixed program and must agree position-for-position to
the rounding precision. Every per-iteration expression (repulsion Δ·k²/d²,
attraction Δ·d/k, temperature cap, box clamp) is a plain column expression;
the only cross-engine hazard is float-sum ORDER inside the two groupBy
aggregations, which is ~1e-16 relative per iteration — far below the 6dp
output rounding at gate iteration counts.

Scale: per iteration = one 3×3 self-equi-join (shuffle on cell ids; cells
re-derived each iteration from moving positions) + one edge join + two
groupBy aggregations. State is (id, x, y) only; each iteration is one
``state.run_supersteps`` step, an off-heap parquet snapshot, so the plan
stays flat (a ~20-deep localCheckpoint chain under this self-join degraded
geometrically: ×2.5/iteration past iteration ~18 on Spark 4.1.2). No
driver-side collect of positions. At 100 TB the repulsion join is the same
bucketed-neighbor plan the dedup/ANN operators already run at that shape.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgs_spark.operators.edges import symmetrize
from pgs_spark.operators.state import run_supersteps
from pgs_spark.streaming.checkpoint import fingerprint_edges

#: guard for coincident points in the repulsion denominator (both engines)
_EPS_D2 = 1e-12


def _loop_conf(spark: SparkSession, rows: int) -> tuple[int, dict]:
    """(round_p, the loop's session settings): the shuffle width sized to
    the DATA (8 partitions on a small graph, the session default at cluster
    scale), and AQE off — its per-exchange re-planning adds jobs to every
    superstep, overhead on a fixed-shape tiny-state loop; the static planner
    already broadcasts the position side under the 64MB threshold."""
    default_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    round_p = max(8, min(default_p, rows // 250_000 + 8))
    return round_p, {
        "spark.sql.shuffle.partitions": str(round_p),
        "spark.sql.adaptive.enabled": "false",
    }


def _hash_unit(id_col, axis: str, seed: int):
    """md5-derived uniform in [0, 1) — bit-exact in Spark and DuckDB
    (``('0x' || substr(md5(...), 1, 6))::BIGINT`` over there)."""
    h = F.md5(F.concat(id_col.cast("string"), F.lit(f"|{axis}|{seed}")))
    return F.conv(F.substring(h, 1, 6), 16, 10).cast("double") / F.lit(16777216.0)


@dataclass
class LayoutResult:
    positions: DataFrame  # (id: long, x: double, y: double) in [0, width]²
    iterations: int
    history: list = field(default_factory=list)


def fr_layout(
    spark: SparkSession,
    undirected_edges: DataFrame,
    iterations: int = 50,
    seed: int = 1337,
    width: float = 1.0,
    checkpoint_dir: str | None = None,
    run_budget: int | None = None,
    init_positions: DataFrame | None = None,
) -> LayoutResult:
    """Canonical undirected edge table (src, dst) → (id, x, y) positions.

    Fixed-program FR: k = width/√n; repulsion k²/d within R = 2k via the
    3×3 grid join; attraction d²/k along edges; displacement capped by a
    linearly cooling temperature t_i = (width/10)·(1 − (i−1)/iterations);
    positions clamped to [0, width]. Deterministic for a given (graph, seed).

    `checkpoint_dir` enables DURABLE resume (``state.run_supersteps``): a
    restarted run with the same (graph, iterations, seed, width) fingerprint
    resumes at the newest manifest and — the whole recurrence being a fixed
    deterministic program — finishes with the same positions as an
    uninterrupted run to float-summation noise (~1e-12; the shuffle
    merge-order caveat that applies between ANY two runs), i.e. identical
    at the gate's 6dp rounding (the reference's seeded 50-iteration
    contract, PGS_Conversion.java:977-1004). `history` holds one record per
    iteration (`iteration`, `seconds`, shuffle bytes); a resumed run's
    first record is the iteration it resumed from.

    `run_budget` caps the supersteps executed by THIS invocation (the
    time-budgeted-chunk pattern for hours-long layouts at cluster scale);
    the checkpoint carries the remainder — call again to continue. The
    TOTAL iteration count stays part of the program (it parameterizes the
    cooling schedule) and of the resume fingerprint.

    `init_positions` overrides the seeded-hash initial placement with a
    caller-supplied (id, x, y) table — used by the adversarial-clump bench
    (all vertices seeded into ONE grid cell, the degenerate start where the
    3×3 cell join briefly sees a quadratic pair set) and by warm-started
    layouts. A custom init is stamped into the resume fingerprint so a
    checkpointed run never silently resumes across different starts."""
    sym0 = symmetrize(undirected_edges)
    verts = sym0.select(F.col("src").alias("id")).distinct().persist()
    n = verts.count()
    if n == 0:
        verts.unpersist()
        return LayoutResult(
            spark.createDataFrame([], "id long, x double, y double"), 0
        )
    # math.sqrt (correctly rounded per IEEE-754) rather than **0.5 (libm
    # pow(), not guaranteed correctly rounded everywhere): the DuckDB oracle
    # derives k as width / sqrt(COUNT(*)), and a 1-ulp divergence in k moves
    # r_cut enough to flip grid-cell membership — same discipline as
    # spanner.py's 1/sqrt(n) threshold.
    k = width / math.sqrt(float(n))
    r_cut = 2.0 * k
    round_p, conf = _loop_conf(spark, sym0.count())
    # width the persisted dart table like the round shuffles: the attraction
    # scan touches it every superstep, and 64 near-empty partitions are pure
    # task-launch overhead on a small graph (the coloring lesson)
    sym = sym0.repartition(round_p).persist()
    init = (
        init_positions.select("id", "x", "y")
        if init_positions is not None
        else verts.select(
            "id",
            (_hash_unit(F.col("id"), "x", seed) * width).alias("x"),
            (_hash_unit(F.col("id"), "y", seed) * width).alias("y"),
        )
    )

    def step(pos: DataFrame, it: int) -> DataFrame:
        t = (width / 10.0) * (1.0 - (it - 1) / float(iterations))
        return _fr_iteration(sym, pos, k, r_cut, t, width).coalesce(round_p)

    run = run_supersteps(
        spark,
        init.coalesce(round_p),
        step,
        iterations,
        checkpoint_dir=checkpoint_dir,
        fingerprint=lambda: f"{fingerprint_edges(sym0)}|it={iterations}|seed={seed}|w={width!r}"
        + ("|init=custom" if init_positions is not None else ""),
        save_init=True,
        persisted=[sym, verts],
        conf=conf,
        budget=run_budget,
    )
    return LayoutResult(run.state, run.steps, run.history)


def _fr_iteration_sql(k: float, r_cut: float, t: float, width: float) -> str:
    """One FR superstep as a single SQL text over the DataFrame parameters
    ``{pos}`` / ``{sym}`` (bound by ``spark.sql``).

    Why SQL text instead of the DataFrame API: building this plan through
    py4j Column calls cost a measured 0.35–0.45s of DRIVER time per
    superstep (hundreds of JVM round-trips) — more than the plan takes to
    EXECUTE on the gate/bench graphs; one spark.sql() call parses the same
    tree JVM-side in ~0.1s. Literals ride in as CAST('repr' AS DOUBLE)
    (constant-folded, exact repr round-trip) so the resolved expression tree
    is bit-identical to the old Column build — verified exact on the bench
    graph (Σx equal at DECIMAL(30,18)) and green vs the DuckDB oracle.

    Repulsion pair enumeration is split to halve the join work without
    touching the hot-cell worst case:
      * same-cell pairs: a direct cells⋈cells self-join (no probe explode,
        no credit explode) enumerated BOTH directions exactly as round 5 —
        an adversarial clump (all points in one cell) pays the identical
        per-pair cost it already paid;
      * cross-cell pairs: probe only the 4 HALF-PLANE neighbor offsets
        (each unordered pair found once instead of twice) and credit both
        endpoints via a 2-row explode. Contribution values are bit-identical
        to two-sided enumeration (IEEE sub/neg are exact: (b−a)=−(a−b), d²
        equal, −(Δ·k²/d²)=(−Δ)·k²/d²), so the per-id sum multiset — and the
        6dp-rounded output — is unchanged while the probe side shrinks from
        9 to 5 cell lookups per point.
    Repulsion + attraction still UNION into one groupBy (one shuffle per
    superstep); the oracle mirrors the same summation tree.
    """
    K = f"CAST('{k!r}' AS DOUBLE)"
    K2 = f"CAST('{(k * k)!r}' AS DOUBLE)"
    RC = f"CAST('{r_cut!r}' AS DOUBLE)"
    RC2 = f"CAST('{(r_cut * r_cut)!r}' AS DOUBLE)"
    T = f"CAST('{t!r}' AS DOUBLE)"
    W = f"CAST('{width!r}' AS DOUBLE)"
    d2 = (
        "greatest((a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y), "
        f"CAST('{_EPS_D2!r}' AS DOUBLE))"
    )
    ad = "sqrt((a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y))"
    dlen = "sqrt(dx*dx + dy*dy)"
    return f"""
WITH cells AS (SELECT id, x, y, floor(x / {RC}) AS cx, floor(y / {RC}) AS cy
  FROM {{pos}}),
rep_same AS (
  SELECT a.id,
         (a.x - b.x) * {K2} / {d2} AS fx,
         (a.y - b.y) * {K2} / {d2} AS fy
  FROM cells a JOIN cells b
    ON a.cx = b.cx AND a.cy = b.cy AND a.id <> b.id
  WHERE {d2} < {RC2}),
probe4 AS (
  SELECT id, x, y, c.cx, c.cy FROM cells
  LATERAL VIEW explode(array(
    struct(cx + 1L AS cx, cy + 0L AS cy),
    struct(cx - 1L AS cx, cy + 1L AS cy),
    struct(cx + 0L AS cx, cy + 1L AS cy),
    struct(cx + 1L AS cx, cy + 1L AS cy))) pc AS c),
cross_pairs AS (
  SELECT a.id, b.id AS oid,
         (a.x - b.x) * {K2} / {d2} AS fx,
         (a.y - b.y) * {K2} / {d2} AS fy
  FROM probe4 a JOIN cells b ON a.cx = b.cx AND a.cy = b.cy
  WHERE {d2} < {RC2}),
rep_cross AS (
  SELECT s.id, s.fx, s.fy FROM cross_pairs
  LATERAL VIEW explode(array(
    struct(id AS id, fx AS fx, fy AS fy),
    struct(oid AS id, -fx AS fx, -fy AS fy))) rc AS s),
att AS (
  SELECT s.src AS id,
         -(a.x - b.x) * {ad} / {K} AS fx,
         -(a.y - b.y) * {ad} / {K} AS fy
  FROM {{sym}} s
  JOIN {{pos}} a ON s.src = a.id
  JOIN {{pos}} b ON s.dst = b.id),
disp AS (
  SELECT id, SUM(fx) AS dx, SUM(fy) AS dy FROM
    (SELECT * FROM rep_same UNION ALL SELECT * FROM rep_cross
     UNION ALL SELECT * FROM att)
  GROUP BY id),
moved AS (
  SELECT p.id, p.x, p.y,
         COALESCE(d.dx, CAST(0.0 AS DOUBLE)) AS dx,
         COALESCE(d.dy, CAST(0.0 AS DOUBLE)) AS dy
  FROM {{pos}} p LEFT JOIN disp d ON p.id = d.id)
SELECT id,
  least(greatest(x + dx * (CASE WHEN {dlen} > {T} THEN {T} / {dlen}
    ELSE CAST(1.0 AS DOUBLE) END), CAST(0.0 AS DOUBLE)), {W}) AS x,
  least(greatest(y + dy * (CASE WHEN {dlen} > {T} THEN {T} / {dlen}
    ELSE CAST(1.0 AS DOUBLE) END), CAST(0.0 AS DOUBLE)), {W}) AS y
FROM moved
"""


def _fr_iteration(
    sym: DataFrame, pos: DataFrame, k: float, r_cut: float, t: float, width: float
) -> DataFrame:
    """One FR superstep (pure plan — exposed so tests can assert the
    repulsion joins never degrade to a CartesianProduct). Parses the SQL
    program (see `_fr_iteration_sql` for why SQL text) with ``pos`` and
    ``sym`` as DataFrame parameters, so no view outlives the call."""
    return pos.sparkSession.sql(_fr_iteration_sql(k, r_cut, t, width), pos=pos, sym=sym)


def fr_layout_sql(
    edges_sql: str, iterations: int, seed: int = 1337, width: float = 1.0
) -> str:
    """Unrolled DuckDB oracle: the identical fixed-program FR recurrence
    (same grid cells, same cutoff, same cap/clamp; 6dp output rounding)."""

    def unit(axis: str) -> str:
        return (
            f"(('0x' || substr(md5(CAST(id AS VARCHAR) || '|{axis}|{seed}'), 1, 6))::BIGINT"
            f" / 16777216.0) * {width!r}"
        )

    parts = [
        f"e AS MATERIALIZED ({edges_sql})",
        "sym AS MATERIALIZED (SELECT src AS u, dst AS v FROM e "
        "UNION ALL SELECT dst, src FROM e)",
        "verts AS MATERIALIZED (SELECT DISTINCT u AS id FROM sym)",
        "cst AS MATERIALIZED (SELECT "
        f"{width!r} / sqrt(COUNT(*)) AS k, "
        f"2.0 * {width!r} / sqrt(COUNT(*)) AS rc "
        "FROM verts)",
        f"p0 AS MATERIALIZED (SELECT id, {unit('x')} AS x, {unit('y')} AS y FROM verts)",
    ]
    prev = "p0"
    for i in range(1, iterations + 1):
        t = repr((width / 10.0) * (1.0 - (i - 1) / float(iterations)))
        parts += [
            f"cell{i} AS MATERIALIZED (SELECT p.id, p.x, p.y, "
            f"floor(p.x / c.rc) AS cx, floor(p.y / c.rc) AS cy "
            f"FROM {prev} p CROSS JOIN cst c)",
            # one UNION of repulsion + attraction contributions, one SUM —
            # the same summation tree as the engine's fused groupBy
            f"contrib{i} AS (SELECT id, SUM(fx) AS dx, SUM(fy) AS dy FROM ("
            "SELECT a.id, "
            "(a.x - b.x) * c.k * c.k / greatest((a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y), 1e-12) AS fx, "
            "(a.y - b.y) * c.k * c.k / greatest((a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y), 1e-12) AS fy "
            f"FROM cell{i} a JOIN cell{i} b ON b.cx BETWEEN a.cx - 1 AND a.cx + 1 "
            "AND b.cy BETWEEN a.cy - 1 AND a.cy + 1 AND a.id <> b.id "
            "CROSS JOIN cst c "
            "WHERE greatest((a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y), 1e-12) < c.rc * c.rc "
            "UNION ALL "
            "SELECT a.id, "
            "-(a.x - b.x) * sqrt((a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y)) / c.k AS fx, "
            "-(a.y - b.y) * sqrt((a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y)) / c.k AS fy "
            f"FROM sym s JOIN {prev} a ON s.u = a.id JOIN {prev} b ON s.v = b.id "
            "CROSS JOIN cst c"
            ") GROUP BY id)",
            f"d{i} AS (SELECT p.id, p.x, p.y, "
            f"COALESCE(s.dx, 0.0) AS dx, COALESCE(s.dy, 0.0) AS dy "
            f"FROM {prev} p LEFT JOIN contrib{i} s ON p.id = s.id)",
            f"p{i} AS MATERIALIZED (SELECT id, "
            f"least(greatest(x + dx * (CASE WHEN sqrt(dx*dx + dy*dy) > {t} "
            f"THEN {t} / sqrt(dx*dx + dy*dy) ELSE 1.0 END), 0.0), {width!r}) AS x, "
            f"least(greatest(y + dy * (CASE WHEN sqrt(dx*dx + dy*dy) > {t} "
            f"THEN {t} / sqrt(dx*dx + dy*dy) ELSE 1.0 END), 0.0), {width!r}) AS y "
            f"FROM d{i})",
        ]
        prev = f"p{i}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT id, ROUND(x, 6) AS x_r, ROUND(y, 6) AS y_r FROM {prev}"
    )


def repulsion_circle_pack(
    spark: SparkSession,
    circles: DataFrame,
    iterations: int = 20,
    checkpoint_dir: str | None = None,
    run_budget: int | None = None,
) -> LayoutResult:
    """Overlap-removal circle packing — RepulsionCirclePack graft
    (commons/RepulsionCirclePack.java:33-97: iterate: for every overlapping
    pair, push each circle half the overlap apart along the separation
    direction, until no overlaps / iteration cap).

    circles (id, x, y, r) → (id, x, y) after `iterations` fixed repulsion
    supersteps. Overlap candidates come from the SAME 3×3 grid equi-join as
    `fr_layout` with cell side 2·max(r) — two circles can only overlap if
    their centers are within r_i + r_j ≤ 2·r_max, i.e. adjacent cells; never
    an all-pairs crossJoin. Coincident centers (d² ≤ 1e-12) get no
    displacement (the deterministic stand-in for the reference's random
    nudge — documented divergence, cross-engine exact).

    Fixed-program + deterministic → DuckDB-oracle-checkable
    (`circle_pack_sql` unrolls the identical recurrence).

    `checkpoint_dir` and `run_budget` enable durable, chunked runs exactly
    as in `fr_layout`, keyed on a content fingerprint of the circle set +
    iteration count; a resumed run matches an uninterrupted one to
    float-summation noise (identical at the gate's 6dp rounding).
    """
    pts = circles.select(
        "id",
        F.col("x").cast("double"),
        F.col("y").cast("double"),
        F.col("r").cast("double"),
    )
    stats = pts.agg(F.count("*").alias("n"), F.max("r").alias("rmax")).first()
    if not stats["n"]:
        return LayoutResult(
            spark.createDataFrame([], "id long, x double, y double"), 0
        )
    cell = 2.0 * float(stats["rmax"])
    round_p, conf = _loop_conf(spark, int(stats["n"]))
    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]

    def step(pos: DataFrame, _: int) -> DataFrame:
        cells = pos.select(
            "id", "x", "y", "r",
            F.floor(F.col("x") / cell).alias("cx"),
            F.floor(F.col("y") / cell).alias("cy"),
        )
        probe = cells.select(
            "id", "x", "y", "r",
            F.explode(
                F.array(*[
                    F.struct(
                        (F.col("cx") + dx).alias("cx"),
                        (F.col("cy") + dy).alias("cy"),
                    )
                    for dx, dy in offsets
                ])
            ).alias("c"),
        ).select("id", "x", "y", "r", "c.cx", "c.cy")
        other = cells.select(
            F.col("id").alias("oid"), F.col("x").alias("ox"),
            F.col("y").alias("oy"), F.col("r").alias("orr"), "cx", "cy",
        )
        dx_ = F.col("x") - F.col("ox")
        dy_ = F.col("y") - F.col("oy")
        d2 = dx_ * dx_ + dy_ * dy_
        rsum = F.col("r") + F.col("orr")
        d = F.sqrt(d2)
        push = (rsum - d) * F.lit(0.5) / d  # per-axis factor on Δ
        disp = (
            probe.join(other, ["cx", "cy"])
            .filter(F.col("id") != F.col("oid"))
            .filter((d2 < rsum * rsum) & (d2 > F.lit(_EPS_D2)))
            .groupBy("id")
            .agg(
                F.sum(dx_ * push).alias("dx"),
                F.sum(dy_ * push).alias("dy"),
            )
        )
        return pos.join(disp, "id", "left").select(
            "id",
            (F.col("x") + F.coalesce("dx", F.lit(0.0))).alias("x"),
            (F.col("y") + F.coalesce("dy", F.lit(0.0))).alias("y"),
            "r",
        ).coalesce(round_p)

    def fingerprint() -> str:
        row = pts.select(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("id", "x", "y", "r")).alias("h"),
        ).first()
        return f"{row['n']}:{row['h']}|it={iterations}"

    run = run_supersteps(
        spark,
        pts.coalesce(round_p),
        step,
        iterations,
        checkpoint_dir=checkpoint_dir,
        fingerprint=fingerprint,
        save_init=True,
        conf=conf,
        budget=run_budget,
    )
    return LayoutResult(run.state.select("id", "x", "y"), run.steps, run.history)


def circle_pack_sql(circles_sql: str, iterations: int) -> str:
    """Unrolled DuckDB oracle for `repulsion_circle_pack` — identical fixed
    program over (id, x, y, r); cell side 2·max(r), 6dp output rounding."""
    parts = [
        f"c0 AS MATERIALIZED (SELECT id, CAST(x AS DOUBLE) AS x, "
        f"CAST(y AS DOUBLE) AS y, CAST(r AS DOUBLE) AS r FROM ({circles_sql}))",
        "cst AS MATERIALIZED (SELECT 2.0 * MAX(r) AS cell FROM c0)",
    ]
    prev = "c0"
    for i in range(1, iterations + 1):
        parts += [
            f"cell{i} AS MATERIALIZED (SELECT p.id, p.x, p.y, p.r, "
            f"floor(p.x / c.cell) AS cx, floor(p.y / c.cell) AS cy "
            f"FROM {prev} p CROSS JOIN cst c)",
            # parenthesize the push factor exactly as the engine computes
            # it ((rsum − d)·0.5/d, THEN ×Δ) — multiplication order changes
            # double rounding and would break 6dp equality
            f"disp{i} AS (SELECT a.id, "
            "SUM((a.x - b.x) * ((((a.r + b.r) - sqrt((a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y))) * 0.5) "
            "/ sqrt((a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y)))) AS dx, "
            "SUM((a.y - b.y) * ((((a.r + b.r) - sqrt((a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y))) * 0.5) "
            "/ sqrt((a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y)))) AS dy "
            f"FROM cell{i} a JOIN cell{i} b ON b.cx BETWEEN a.cx - 1 AND a.cx + 1 "
            "AND b.cy BETWEEN a.cy - 1 AND a.cy + 1 AND a.id <> b.id "
            "WHERE (a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y) < (a.r + b.r)*(a.r + b.r) "
            "AND (a.x - b.x)*(a.x - b.x) + (a.y - b.y)*(a.y - b.y) > 1e-12 "
            "GROUP BY a.id)",
            f"c{i} AS MATERIALIZED (SELECT p.id, p.x + COALESCE(d.dx, 0.0) AS x, "
            f"p.y + COALESCE(d.dy, 0.0) AS y, p.r "
            f"FROM {prev} p LEFT JOIN disp{i} d ON p.id = d.id)",
        ]
        prev = f"c{i}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT id, ROUND(x, 6) AS x_r, ROUND(y, 6) AS y_r FROM {prev}"
    )
