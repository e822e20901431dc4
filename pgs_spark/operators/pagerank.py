"""PageRank: power iteration with teleport, dangling-mass redistribution,
per-superstep convergence metrics, and resumable checkpoints.

The iteration template is the reference's convergence loop
(PGS_Meshing.smoothMesh, PGS_Meshing.java:803-814: ``do { delta = smooth(...) }
while (delta > cutoff && iter < max)``) and its two-phase superstep barrier
(commons/PMesh.java:237-270 computes all new positions, then flips). The
per-superstep convergence/error bookkeeping mirrors TangencyPack's superstep
solver (commons/TangencyPack.java:248-296: iterate, measure residual, stop on
tolerance with a max-pass guard).

Build (once; six Spark jobs on the unsalted path):
  w_edges  = edges hash-partitioned on src → (src, dst, w), w = weight / Σ
             weight over the src block (a window over that partitioning, no
             join); persisted, so only the |V|-row side shuffles per step
  vtab     = each weighted edge exploded into its src and dst end, grouped
             by id: out- and in-edge counts, the dangling flag; persisted
  stats    = ONE aggregate row over vtab: n, dangling count, |E|, degree
             max/avg per side, the personalization seed count

Spark plan per superstep (THREE jobs: two exchanges and the snapshot write):
  contribs = w_edges ⋈ state on src               (shuffle-hash join)
  ranks'   = (contribs ∪ state).groupBy(id)       (one aggregate exchange:
             the per-edge contributions are summed, each vertex's own state
             row carries its old rank and its dangling flag through)
             → (1-α)/N + α·(Σcontrib + dangling_mass/N)
  write    = (id, rank, dangling) → the step's checkpoint, with delta and
             the next superstep's dangling mass collected by
             DataFrame.observe() on the write job itself.

State per superstep is |V| rows — tiny relative to |E| — so checkpointing every
iteration is cheap and keeps the lineage flat. A durable run
(``checkpoint_dir``) writes each step as a parquet snapshot with a manifest,
so it resumes mid-convergence. An ephemeral run never resumes: up to
``LOCAL_MAX_ROWS`` vertices its steps are DISK_ONLY local checkpoints
(``CheckpointManager.save(local=True)``: no parquet write, commit or re-read
per superstep), of which the two newest are held, and only its result goes
to parquet — the last step of a ``fixed_iterations``/``max_iter`` run
directly, a converged state in one write after the loop. Larger ephemeral
states are parquet snapshots, which read back columnar and faster. The state
join is hinted ``shuffle_hash``, so the local checkpoint's plan-derived size
estimate never picks a join strategy.

Opt-in λ-extrapolation (``extrapolate=True``) grafts TangencyPack's
accelerated superstep solver (commons/TangencyPack.java:248-296: snapshot two
successive iterates, extrapolate along their difference): power-iteration
error contracts geometrically with ratio λ ≈ delta_t/delta_{t-1}, so
r* ≈ r_t + (r_t − r_{t-1})·λ/(1−λ). Every 3rd superstep the engine applies
that jump (dangling mass of the jumped vector re-measured exactly via
observe), and disables itself if the following real superstep's delta does
not improve on the pre-jump delta. Convergence is still certified by a REAL
superstep's residual < tol, so converged ranks agree with the plain path
within the tolerance (allclose-tested).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from pgs_spark.operators.state import make_work_dir
from pgs_spark.streaming.checkpoint import (
    LOCAL_MAX_ROWS,
    CheckpointManager,
    fingerprint_edges,
)


@dataclass
class PageRankResult:
    ranks: DataFrame          # (id: long, rank: double)
    iterations: int
    converged: bool
    history: list = field(default_factory=list)  # per-superstep metric dicts


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    checkpoint_dir: str | None = None,
    num_partitions: int | None = None,
    fixed_iterations: int | None = None,
    weight_col: str | None = None,
    extrapolate: bool = False,
    personalize_mod: int | None = None,
) -> PageRankResult:
    """Power-iteration PageRank over a directed edge table (src, dst).

    Matches networkx.pagerank semantics: teleport (1-alpha)/N, dangling mass
    redistributed uniformly, L1 convergence test. `fixed_iterations` runs an
    exact number of supersteps with no convergence test (for oracles).

    ``weight_col`` switches to weighted PageRank: a vertex splits its rank
    over out-edges proportionally to edge weight (contribution =
    rank·w/Σw_src) — the reference's weighted graphs
    (PGS_Conversion.setEdgeWeight, PGS_Conversion.java:933; weighted dual
    graph PGS_Triangulation.java:636-650).

    ``personalize_mod`` switches to PERSONALIZED PageRank (random walk with
    restart): the restart distribution is uniform over the seed slice
    S = {v : v.id % personalize_mod == 0} and zero elsewhere — teleport
    becomes (1−α)·p_i and dangling mass redistributes as α·dm·p_i, matching
    networkx.pagerank(personalization=...) semantics. A mod-slice seed set
    keeps the plan join-free (the p_i column is a row-local expression, no
    |S|-row broadcast), which is the right shape for topic-restricted
    centrality over a 100-TB link graph; arbitrary seed tables can be
    re-keyed into a slice upstream.

    Heavy-hitter skew splitting engages only where it is detected, on the
    GATHER JOIN. The persisted edge table is hash-partitioned on src, so a
    hub *out*-degree (one vertex fanning its rank to millions of edges)
    lands that vertex's entire edge block in ONE task: a per-superstep
    straggler nothing downstream can rebalance. When the build finds
    out-degree crossing both an absolute floor (PGS_SALT_MIN_DEGREE, default
    100k) and a relative ratio (PGS_SALT_RATIO × mean, default 16), hot src
    keys get a dst-derived salt baked into the persisted partitioning
    (src, _salt) and the per-superstep rank vector is exploded ×buckets for
    just those keys — the literal "salted hash join … heavy-hitter skew
    splitting" of the north rule. Results match the plain path up to the
    float summation order of the partial sums (last-ulp drift).
    PGS_SALT_DISABLE=1 forces the plain join.

    Hub *in*-degree (many edges pointing AT one vertex) is measured and
    recorded in every manifest (`skew_ratio_dst`) but needs no splitting:
    map-side partial aggregation compresses a hub dst to ≤1 partial row per
    task (BENCH/BASELINE.md measured a salted two-stage sum at 0.81× plain).
    """
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    from pgs_spark.session import shuffle_bytes

    durable = checkpoint_dir is not None
    cp = CheckpointManager(
        spark,
        checkpoint_dir if durable else make_work_dir("pgs_pr_"),
        fingerprint_edges(edges) if durable else "",
    )
    resumed = cp.resume_point() if durable else None
    if resumed is None:
        cp.clear()  # stale state from a different input — never mix
    elif resumed[2].get("delta", 1.0) < tol and fixed_iterations is None:
        return PageRankResult(resumed[1].select("id", "rank"), resumed[0], True, [])

    # ---- one-time build: the weighted edge table, one vertex aggregate ------
    # per-edge contribution weight: 1/outdeg (unweighted) or w/Σw (weighted),
    # summed over each src block of the edge table hash-partitioned on src —
    # the partitioning the per-superstep join reuses, so only the |V|-row
    # side shuffles per superstep.
    mass = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    w_edges = (
        edges.repartition(num_partitions, "src")
        .select("src", "dst", (mass / F.sum(mass).over(Window.partitionBy("src"))).alias("w"))
        .persist()
    )
    # per vertex, ONE explode(src|dst) aggregate: out- and in-edge counts, and
    # whether it dangles (no out-edge carries a weight: none, or null weights)
    end = lambda v, w, o: F.struct(  # noqa: E731
        F.col(v).alias("id"), w.alias("w"), F.lit(o).alias("o"), F.lit(1 - o).alias("i")
    )
    ends = F.array(end("src", F.col("w"), 1), end("dst", F.lit(None).cast("double"), 0))
    vtab = (
        w_edges.select(F.explode(ends).alias("e"))
        .groupBy("e.id")
        .agg(
            F.sum("e.o").alias("out_n"),
            F.sum("e.i").alias("in_n"),
            (F.count("e.w") == 0).alias("dangling"),
        )
        .persist()
    )
    cached = [w_edges, vtab]
    try:
        avg_pos = lambda c: F.avg(F.when(F.col(c) > 0, F.col(c)))  # noqa: E731
        seed = F.col("id") % personalize_mod == 0 if personalize_mod is not None else F.lit(False)
        st = vtab.agg(
            F.count("*").alias("n"),
            F.count(F.when(F.col("dangling"), 1)).alias("nd"),
            F.sum("out_n").alias("m"),
            F.max("out_n").alias("max_out"),
            avg_pos("out_n").alias("avg_out"),
            F.max("in_n").alias("max_in"),
            avg_pos("in_n").alias("avg_in"),
            F.count(F.when(seed, 1)).alias("ns"),
        ).collect()[0]
        n = int(st["n"])
        if n == 0:
            return PageRankResult(vtab.select("id", F.lit(0.0).alias("rank")), 0, True)
        max_out, avg_out = int(st["max_out"]), float(st["avg_out"])
        skew_ratio_src = round(max_out / avg_out, 2)
        skew_ratio_dst = round(int(st["max_in"]) / float(st["avg_in"]), 2)
        if personalize_mod is not None and st["ns"] == 0:
            raise ValueError(f"personalize_mod={personalize_mod}: empty seed slice")

        # A hub block is a straggler only when it clearly exceeds one
        # partition's worth of join work (measured 1.4-2.4x wins once the
        # hub's partition is ~3x the average in the one-wave regime; a wash
        # when extra scheduling waves absorb it — BENCH/BASELINE.md series).
        hot_thresh = max(
            float(os.environ.get("PGS_SALT_MIN_DEGREE", "100000")),
            float(os.environ.get("PGS_SALT_RATIO", "16")) * avg_out,
        )
        salted = (
            not os.environ.get("PGS_SALT_DISABLE")
            and max_out >= hot_thresh
            and max_out >= 1.5 * int(st["m"]) / max(num_partitions, 1)
        )
        buckets = min(num_partitions, 32)
        n_hot_src = 0
        if salted:
            heavy_src = vtab.filter(F.col("out_n") >= hot_thresh).select("id")
            n_hot_src = heavy_src.count()
            hot_flag = F.broadcast(
                heavy_src.select(F.col("id").alias("src"), F.lit(True).alias("hs"))
            )
            # dst-derived salt spreads a hub's edge block across `buckets`
            # tasks; deterministic (content-derived, never rand()).
            salted_edges = (
                w_edges.join(hot_flag, "src", "left")
                .select(
                    "src",
                    "dst",
                    "w",
                    F.when(F.col("hs"), F.pmod(F.xxhash64("dst"), F.lit(buckets)))
                    .otherwise(F.lit(0)).cast("int").alias("_salt"),
                )
                .repartition(num_partitions, "src", "_salt")
                .persist()
            )
            cached.append(salted_edges)
            # materialize from the cached plain table, then release that one
            salted_edges.write.format("noop").mode("overwrite").save()
            w_edges.unpersist()
            w_edges = salted_edges

        # Superstep state is a parquet snapshot per step in a durable run or
        # above LOCAL_MAX_ROWS vertices, and a DISK_ONLY local checkpoint
        # otherwise — both off-heap, both with flat lineage — whose last
        # possible step (or converged state, after the loop) is the run's one
        # parquet result.
        local_steps = not durable and n <= LOCAL_MAX_ROWS
        start_iter = 0
        state = vtab.select("id", F.lit(1.0 / n).alias("rank"), "dangling")
        d_mass = float(st["nd"]) / n  # all ranks equal at iter 0 → analytic
        if resumed is not None:
            start_iter, state, m = resumed
            d_mass = m.get("dangling_mass", d_mass)
            if "dangling" not in state.columns:
                # a snapshot written before the flag was stored: rebuild it
                state = state.select("id", "rank").join(vtab.select("id", "dangling"), "id")

        p_of = None
        if personalize_mod is not None:
            p_of = F.when(seed, F.lit(1.0 / float(st["ns"]))).otherwise(F.lit(0.0))

        def rank_of(dm):
            """rank' from the gathered contributions and the dangling mass dm"""
            c = F.col("contrib")
            if p_of is None:
                return F.lit((1.0 - alpha) / n) + F.lit(alpha) * (c + F.lit(dm / n))
            return F.lit(1.0 - alpha) * p_of + F.lit(alpha) * (c + F.lit(dm) * p_of)

        # static parts of the superstep plan, built once (each Column is a JVM
        # round trip, and plan building is a fixed cost of every superstep)
        contrib_cols = [F.col("dst").alias("id"), (F.col("rank") * F.col("w")).alias("contrib")]
        own_cols = ["id", F.lit(0.0).alias("contrib"), F.col("rank").alias("old"), "dangling"]
        gather_aggs = [
            F.sum("contrib").alias("contrib"),
            F.max("old").alias("old"),
            F.max("dangling").alias("dangling"),
        ]
        limit = fixed_iterations if fixed_iterations is not None else max_iter
        converged = False
        history: list[dict] = []

        # λ-extrapolation state (opt-in; never in fixed-iteration/oracle mode)
        prev_delta: float | None = None
        ext_enabled = extrapolate and fixed_iterations is None
        ext_pending_delta: float | None = None  # pre-jump delta, for the fallback

        for it in range(start_iter, limit):
            t0 = time.time()
            sb0 = shuffle_bytes(spark)
            # Gather join: edges are already hash-partitioned on src (built
            # once); SHUFFLE_HASH on the vertex side means only |V| rows
            # shuffle per superstep, the hash build parallelizes across tasks,
            # and the edge side streams with no sort. (Letting Catalyst pick
            # gives either a broadcast of the full rank vector — a *serial*
            # build that caps scaling, Amdahl — or a sort-merge join that
            # re-sorts the edges every superstep.)
            ranks = state
            if salted:
                # SALTED HASH JOIN: hub src keys need their rank at every salt
                # in [0, buckets); cold keys only at salt 0. The replicated
                # side is |hot| × buckets rows — tiny (hot sets are hubs).
                hot_ranks = state.join(heavy_src, "id", "left_semi").select(
                    "id",
                    "rank",
                    F.explode(F.sequence(F.lit(1), F.lit(buckets - 1))).alias("_salt"),
                )
                ranks = state.select("id", "rank", F.lit(0).alias("_salt")).unionByName(hot_ranks)
                on = (w_edges.src == ranks.id) & (w_edges._salt == ranks._salt)
            else:
                on = w_edges.src == ranks.id
            contribs = w_edges.join(ranks.hint("shuffle_hash"), on).select(*contrib_cols)
            # ONE aggregate exchange: each vertex's own state row joins its
            # contributions in the groupBy, carrying the old rank (for delta)
            # and the dangling flag (for the next superstep's mass).
            gathered = (
                contribs.unionByName(state.select(*own_cols), allowMissingColumns=True)
                .groupBy("id")
                .agg(*gather_aggs)
            )
            rank = rank_of(d_mass)
            obs = Observation()
            observed = gathered.observe(
                obs,
                F.sum(F.abs(rank - F.col("old"))).alias("delta"),
                F.sum(F.when(F.col("dangling"), rank).otherwise(0.0)).alias("d_mass"),
            ).select("id", rank.alias("rank"), "dangling")
            metrics = {"iteration": it + 1}

            def _metrics():
                # runs right after the snapshot write (the action that yields
                # the observed stats), so the superstep's one manifest carries
                # the dangling mass a resume needs
                stats = obs.get
                sb1 = shuffle_bytes(spark)
                metrics.update(
                    delta=float(stats["delta"]),
                    dangling_mass=float(stats["d_mass"] or 0.0),
                    seconds=time.time() - t0,
                    shuffle_write_bytes=sb1[0] - sb0[0],
                    shuffle_read_bytes=sb1[1] - sb0[1],
                    skew_ratio_dst=skew_ratio_dst,
                    skew_ratio_src=skew_ratio_src,
                    salted=salted,
                    salted_join=salted,
                    n_hot_keys=0,
                    n_hot_src=n_hot_src,
                    extrapolated=False,
                )
                return metrics

            local = local_steps and it + 1 < limit
            new_state = cp.save(
                observed, it + 1, lineage=False, metrics_fn=_metrics, local=local
            )
            delta, d_mass = metrics["delta"], metrics["dangling_mass"]
            history.append(metrics)

            # λ-extrapolation fallback: if the real superstep after a jump did
            # not beat the pre-jump delta, the error is not yet in its
            # geometric regime — stop jumping (plain power iteration always
            # converges).
            if ext_pending_delta is not None:
                if delta >= ext_pending_delta:
                    ext_enabled = False
                ext_pending_delta = None
            elif (
                ext_enabled
                and prev_delta is not None
                and prev_delta > 0.0
                and delta > tol
                and (it + 1 - start_iter) % 3 == 0
            ):
                lam = delta / prev_delta
                # jump only inside the geometric regime; λ→1 would divide by ~0
                if 0.05 < lam < 0.98:
                    factor = lam / (1.0 - lam)
                    ext_obs = Observation()
                    ext_observed = (
                        new_state.join(state.select("id", F.col("rank").alias("r1")), "id")
                        .select(
                            "id",
                            (F.col("rank") + (F.col("rank") - F.col("r1")) * F.lit(factor))
                            .alias("rank"),
                            "dangling",
                        )
                        .observe(
                            ext_obs,
                            F.sum(F.when(F.col("dangling"), F.col("rank")).otherwise(0.0))
                            .alias("d_mass"),
                        )
                    )

                    def _jumped():
                        # resume must see the jumped vector's dangling mass
                        metrics.update(
                            extrapolated=True,
                            dangling_mass=float(ext_obs.get["d_mass"] or 0.0),
                        )
                        return metrics

                    plain = new_state
                    new_state = cp.save(
                        ext_observed, it + 1, lineage=False, suffix="x",
                        metrics_fn=_jumped, local=local,
                    )
                    d_mass = metrics["dangling_mass"]
                    # the plain step fed the jump and is superseded by it (a
                    # snapshot's manifest too) — free it so prune() keeps the
                    # pre-jump state and the jump
                    cp.drop(plain)
                    ext_pending_delta = delta

            cp.prune(keep_last=2)
            prev_delta = delta
            state = new_state
            iterations = it + 1
            if fixed_iterations is None and delta < tol:
                converged = True
                break
        else:
            iterations = start_iter if limit <= start_iter else limit
        if local_steps and iterations < limit:
            # converged on a local checkpoint: the run's one parquet result
            state = cp.save(state, iterations, history[-1], lineage=False)
    finally:
        cp.release()
        for df in cached:
            df.unpersist()
    if fixed_iterations is not None:
        converged = True
    # NOTE: with an ephemeral temp dir the returned DataFrame reads from that
    # dir's one result snapshot, left on disk (removing it would invalidate
    # the returned DataFrame) and reclaimed at interpreter exit.
    return PageRankResult(state.select("id", "rank"), iterations, converged, history)
