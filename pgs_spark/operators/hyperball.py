"""HyperBall neighborhood function — per-vertex ball-cardinality estimates.

The web-scale companion to BFS (operators/traversal.py): where distanceTree
(PGS_Contour.java:718-740) returns exact hop distances from ONE source,
HyperBall (Boldi–Vigna 2013, built on Flajolet et al.'s HyperLogLog) runs the
frontier expansion from EVERY vertex at once, replacing each vertex's
visited-set with an m-register HLL sketch. After t supersteps, vertex v's
sketch estimates |ball(v, t)| — the t-hop neighborhood size — and the sum
over vertices is the graph's neighborhood function N(t), the standard
effective-diameter / centrality-sweep primitive on 10^12-edge link graphs
where per-vertex exact BFS is unthinkable.

Layout choice (100-TB rationale): the textbook HyperBall keeps one packed
register ARRAY per vertex and merges arrays elementwise. Spark has no
elementwise-max aggregate over array columns, so the array form needs either
``collect_list`` per group (hub-degree memory blowup) or an interpreted
higher-order fold (no codegen — the measured ~15× HOF penalty,
operators/dedup.py). Instead the sketch lives RELATIONALLY as one row per
OBSERVED (vertex, register): ``(id, j, rho)`` with the running max in
``rho``. The superstep is then exactly the engine's gather-scatter shape —
one equi-join with the edge table plus one codegen groupBy(id, j).agg(max) —
map-side partial aggregation absorbs dst-side hubs, AQE/salting handles the
rest, and state is bounded by m·|V| rows of three small ints. The m-fold
row blowup vs packed arrays is the price of staying in whole-stage codegen
with skew-safe shuffles; at m=16 it is a constant the scan rate dominates.

Determinism: registers derive from md5(vertex id) — register index j = the
first hex nibble, rho = leading-zero count of the next 16 bits + 1 (computed
as 17 − bitlength via ``bin()``, identical in Spark and DuckDB — no libm).
The estimate divides exact dyadic sums: every 2^−rho term lies on the 2^−17
grid and the register sum stays < 2^5, so double addition is EXACT in any
order (≤ 22 mantissa bits used) — the 6dp-rounded estimates are bit-equal
across engines, giving the unrolled DuckDB oracle
(plans/oracle_sql.hyperball_sql) an exact match despite floating point.

The raw HLL estimator alpha_m·m²/Σ2^−rho is used WITHOUT the small-range
linear-counting correction: the correction needs ln(), whose cross-engine
last-ulp behavior is not contractual, and small balls are exactly where the
gate's BFS twin already provides exact truth. Documented accuracy at m=16 is
~26% relative standard error per vertex; averages over vertices concentrate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgs_spark.operators.edges import symmetrize
from pgs_spark.operators.state import make_work_dir, run_supersteps, snapshot

#: registers per sketch (m = 2^4); alpha_16 is the standard HLL bias constant
M_REGISTERS = 16
ALPHA_16 = 0.673


def _init_registers(verts: DataFrame) -> DataFrame:
    """(id, j, rho): each vertex seeds its own register. j = first md5
    nibble; rho = 17 − bitlength(next 16 md5 bits), i.e. leading zeros + 1,
    with the all-zero word mapping to rho = 17."""
    h = F.md5(F.col("id").cast("string"))
    w = F.conv(F.substring(h, 2, 4), 16, 10).cast("int")
    return verts.select(
        "id",
        F.conv(F.substring(h, 1, 1), 16, 10).cast("int").alias("j"),
        F.when(w == 0, F.lit(17))
        .otherwise(F.lit(17) - F.length(F.bin(w.cast("long"))))
        .cast("int")
        .alias("rho"),
    )


def _superstep(sym: DataFrame, state: DataFrame) -> DataFrame:
    """One HyperBall superstep: every vertex takes the register-wise max of
    its own and its neighbors' sketches."""
    gathered = sym.join(state, sym.v == state.id).select(
        F.col("u").alias("id"), "j", "rho"
    )
    return state.union(gathered).groupBy("id", "j").agg(F.max("rho").alias("rho"))


def hyperball(
    spark: SparkSession,
    undirected_edges: DataFrame,
    supersteps: int = 3,
) -> DataFrame:
    """(id, est): HLL estimate of |ball(id, supersteps)| on the undirected
    graph, 6dp-rounded (cross-engine exact — see module docstring).

    Per superstep: state ⋈ edges (gather neighbor registers) ∪ state →
    groupBy(id, j).max(rho), snapshotted to parquet by
    ``state.run_supersteps`` (flat lineage, off-heap)."""
    sym = (
        symmetrize(undirected_edges)
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .persist()
    )
    verts = sym.select(F.col("u").alias("id")).distinct()
    state = run_supersteps(
        spark,
        _init_registers(verts),
        lambda state, _: _superstep(sym, state),
        supersteps,
        save_init=True,
        persisted=[sym],
    ).state
    return _raw_estimate(state).select("id", F.round("est", 6).alias("est"))


def neighborhood_function(
    spark: SparkSession, undirected_edges: DataFrame, supersteps: int = 3
) -> DataFrame:
    """(t, n_est) is intentionally NOT returned per-step here — the gate
    query exposes per-vertex estimates (richer check); this helper sums them
    into the scalar neighborhood function N(t) for the final t only."""
    return hyperball(spark, undirected_edges, supersteps).agg(
        F.round(F.sum("est"), 6).alias("n_est")
    )


def _raw_estimate(state: DataFrame) -> DataFrame:
    """(id, est) UNROUNDED raw-HLL estimate from a register relation —
    exact dyadic arithmetic (module docstring), so the value is bit-equal
    across engines before any rounding."""
    # S = (m − observed) · 2^0 + Σ 2^−rho — exact dyadic arithmetic; the
    # 1/(1<<rho) form avoids libm pow() (exact IEEE divide by a power of two)
    est = (
        F.lit(ALPHA_16 * M_REGISTERS * M_REGISTERS)
        / (
            (F.lit(M_REGISTERS) - F.count("*")).cast("double")
            + F.sum(F.lit(1.0) / F.expr("shiftleft(1, rho)").cast("double"))
        )
    )
    return state.groupBy("id").agg(est.alias("est"))


def harmonic_centrality(
    spark: SparkSession,
    undirected_edges: DataFrame,
    supersteps: int = 3,
) -> DataFrame:
    """(id, harm): truncated harmonic centrality — Boldi–Vigna 2013's
    headline application of HyperBall:

        H_t(v) = Σ_{r=1..t} (|B(v,r)| − |B(v,r−1)|) / r

    with every |B(v,r)| the raw-HLL estimate of the SAME sketch the
    neighborhood function uses, read out after each superstep. At radius t
    this is the centrality sweep a 10^12-edge graph runs instead of
    all-pairs BFS.

    Cross-engine exactness extends the dyadic argument: each estimate is
    one correctly-rounded divide of exact dyadic operands, the telescoping
    differences subtract correctly-rounded doubles in a FIXED expression
    tree (no aggregation order), and /r (r ≤ t) is one more correctly
    rounded divide — so the DuckDB oracle (plans/oracle_sql.harmonic_sql),
    which mirrors the expression structure term for term, matches the 6dp
    round bit-for-bit. Estimates are monotone in r (register maxima only
    grow), so terms are nonnegative.
    """
    sym = (
        symmetrize(undirected_edges)
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .persist()
    )
    verts = sym.select(F.col("u").alias("id")).distinct()
    work_dir = make_work_dir("pgs_harm_")
    state = snapshot(_init_registers(verts), work_dir, "st_0")
    ests = [snapshot(_raw_estimate(state), work_dir, "est_0")]
    for t in range(1, supersteps + 1):
        state = snapshot(_superstep(sym, state), work_dir, f"st_{t % 2}")
        ests.append(snapshot(_raw_estimate(state), work_dir, f"est_{t}"))
    out = ests[0].select("id", F.col("est").alias("e0"))
    for t in range(1, supersteps + 1):
        out = out.join(
            ests[t].select("id", F.col("est").alias(f"e{t}")), "id"
        )
    harm = None
    for t in range(1, supersteps + 1):
        term = (F.col(f"e{t}") - F.col(f"e{t - 1}")) / F.lit(float(t))
        harm = term if harm is None else harm + term
    res = out.select("id", F.round(harm, 6).alias("harm"))
    sym.unpersist()
    return res


def effective_diameter(
    spark: SparkSession,
    undirected_edges: DataFrame,
    supersteps: int = 3,
    q: float = 0.9,
) -> DataFrame:
    """One-row (n0_r..nT_r, deff_r): the neighborhood function N(r) per
    radius and the interpolated q-effective diameter — Boldi–Vigna's other
    headline HyperBall application (the "four degrees of separation"
    measurement shape).

    N(r) = Σ_v |B(v,r)| from the same register relation as harmonic
    centrality; d_eff = the interpolated radius where N first reaches
    q·N(T): r−1 + (q·N(T) − N(r−1)) / (N(r) − N(r−1)).

    Cross-engine: each N(r) is a SUM of per-vertex dyadic-exact estimates,
    rounded to 6dp; d_eff is then a FIXED CASE tree over those ROUNDED
    values (both engines interpolate from identical inputs), rounded again.
    The only float slack is the usual sum-order last-ulp under the 6dp
    round — the hits/lm_score precedent.
    """
    sym = (
        symmetrize(undirected_edges)
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .persist()
    )
    verts = sym.select(F.col("u").alias("id")).distinct()
    work_dir = make_work_dir("pgs_deff_")
    state = snapshot(_init_registers(verts), work_dir, "st_0")
    # per-radius estimates snapshot under UNIQUE names (est_t): the sums are
    # aggregated lazily at the final action, and the alternating st_{t%2}
    # state files are already overwritten by then (the harmonic_centrality
    # discipline — est relations are |V| rows, cheap to keep)
    ests = [snapshot(_raw_estimate(state), work_dir, "est_0")]
    for t in range(1, supersteps + 1):
        state = snapshot(_superstep(sym, state), work_dir, f"st_{t % 2}")
        ests.append(snapshot(_raw_estimate(state), work_dir, f"est_{t}"))
    sums = [
        ests[t].agg(F.round(F.sum("est"), 6).alias(f"n{t}_r"))
        for t in range(supersteps + 1)
    ]
    row = sums[0]
    for t in range(1, supersteps + 1):
        row = row.crossJoin(sums[t])  # 1-row scalars
    target = F.lit(q) * F.col(f"n{supersteps}_r")
    deff = F.when(F.col("n0_r") >= target, F.lit(0.0))
    for r in range(1, supersteps + 1):
        lo, hi = F.col(f"n{r - 1}_r"), F.col(f"n{r}_r")
        deff = deff.when(
            hi >= target, F.lit(float(r - 1)) + (target - lo) / (hi - lo)
        )
    out = row.select(
        *[f"n{t}_r" for t in range(supersteps + 1)],
        F.round(deff.otherwise(F.lit(float(supersteps))), 6).alias("deff_r"),
    )
    sym.unpersist()
    return out
