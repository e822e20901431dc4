"""PageRank: power iteration with teleport, dangling-mass redistribution,
per-superstep convergence metrics, and resumable checkpoints.

The iteration template is the reference's convergence loop
(PGS_Meshing.smoothMesh, PGS_Meshing.java:803-814: ``do { delta = smooth(...) }
while (delta > cutoff && iter < max)``) and its two-phase superstep barrier
(commons/PMesh.java:237-270 computes all new positions, then flips). The
per-superstep convergence/error bookkeeping mirrors TangencyPack's superstep
solver (commons/TangencyPack.java:248-296: iterate, measure residual, stop on
tolerance with a max-pass guard).

Spark plan per superstep (sparse gather-scatter — ONE job):
  contribs = weighted_edges ⋈ ranks on src        (hash join; edges side is
             pre-hash-partitioned on src once, so only the small ranks side
             shuffles each superstep; AQE skew-join splits hub partitions)
  gathered = contribs.groupBy(dst).sum            (map-side partial agg; an
             optional salted two-stage agg splits hub dst keys explicitly)
  ranks'   = (1-α)/N + α·(gathered + dangling_mass/N)
  write    = ranks' (id, rank only) → parquet snapshot, with delta and the
             next superstep's dangling mass collected by DataFrame.observe()
             ON THE WRITE JOB itself — no second stats job, no snapshot
             re-read, no redundant outdeg column in the snapshot.

State per superstep is |V| rows — tiny relative to |E| — so checkpointing every
iteration is cheap and gives both flat lineage and mid-convergence resume.

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
import shutil
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pgs_spark.operators import skew
from pgs_spark.streaming.checkpoint import CheckpointManager, fingerprint_edges


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
    salt_buckets: int | None = None,
    num_partitions: int | None = None,
    collect_skew_metrics: bool = False,
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

    Heavy-hitter skew splitting AUTO-ENGAGES on the side where skew actually
    hurts — the GATHER JOIN. The persisted edge table is hash-partitioned on
    src, so a hub *out*-degree (one vertex fanning its rank to millions of
    edges) lands that vertex's entire edge block in ONE task: a per-superstep
    straggler nothing downstream can rebalance. When the build pass finds
    out-degree crossing both an absolute floor (PGS_SALT_MIN_DEGREE, default
    100k) and a relative ratio (PGS_SALT_RATIO × mean, default 16), hot src
    keys get a dst-derived salt baked into the persisted partitioning
    (src, _salt) and the per-superstep rank vector is exploded ×buckets for
    just those keys — the literal "salted hash join … heavy-hitter skew
    splitting" of the north rule, splitting each hub block across `buckets`
    tasks. Results are numerically equivalent to the plain path: same
    contribution rows, same aggregation — only the float summation ORDER of
    the dst partial sums can differ (at most last-ulp drift; the equality
    test asserts atol=1e-12, not bit equality).

    Hub *in*-degree (many edges pointing AT one vertex) is measured and
    recorded in every manifest (`skew_ratio_dst`) but does NOT trigger agg
    salting by default: Spark's map-side partial aggregation already
    compresses a hub dst to ≤1 partial row per task, and BENCH/BASELINE.md
    records the measurement — a flagged two-stage salted sum on a Zipf graph
    with in-degree skew 594543× ran at 0.81× plain throughput (the extra
    |V|-row exchange is pure overhead). PGS_SALT_AGG=1 opts it in for
    aggregations where partial agg can't combine. Explicit ``salt_buckets``
    forces the legacy all-keys salted sum; PGS_SALT_DISABLE=1 forces plain
    everywhere.
    """
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # ---- one-time build (persisted across supersteps) -----------------------
    verts = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    out_mass = F.sum(F.col(weight_col)) if weight_col else F.count("*")
    outdeg = edges.groupBy("src").agg(out_mass.cast("double").alias("outdeg"))
    # vstate: (id, outdeg|null). Dangling vertices have null outdeg.
    vstate = (
        verts.join(outdeg, verts.id == outdeg.src, "left")
        .select("id", "outdeg")
        .persist()
    )
    # one setup job instead of two: count and dangling-count share a pass
    nrow = vstate.agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("outdeg").isNull(), F.lit(1))).alias("nd"),
    ).first()
    n = int(nrow["n"])
    n_dangling = int(nrow["nd"] or 0)
    if n == 0:
        return PageRankResult(verts.select("id", F.lit(0.0).alias("rank")), 0, True)

    # In/out-degree skew stats in ONE aggregation pass (was two setup jobs):
    # explode each edge into a (side, key) row and aggregate per side. The
    # in-degree ratio is exactly the per-superstep gather skew (contribs is
    # keyed by dst, one row per edge); the out-degree ratio is the hub-block
    # straggler signal the side salting fixes — outdeg counts EDGES per src
    # even in weighted mode (block size, not mass, skews a task). `indeg` is
    # kept as a definition for the opt-in salted-agg branch below.
    indeg = edges.groupBy("dst").agg(F.count("*").alias("indeg"))
    srows = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.lit("s").alias("side"), F.col("src").alias("k")),
                    F.struct(F.lit("d").alias("side"), F.col("dst").alias("k")),
                )
            ).alias("e")
        )
        .groupBy("e.side", "e.k")
        .agg(F.count("*").alias("c"))
        .groupBy("side")
        .agg(F.max("c").alias("mx"), F.avg("c").alias("avg"), F.sum("c").alias("tot"))
        .collect()
    )
    stats_by_side = {r["side"]: r for r in srows}
    istats = stats_by_side.get("d")
    ostats = stats_by_side.get("s")
    max_indeg = int(istats["mx"] or 0) if istats else 0
    avg_indeg = float(istats["avg"] or 1.0) if istats else 1.0
    skew_ratio_dst = round(max_indeg / avg_indeg, 2) if avg_indeg else 1.0
    max_outdeg = int(ostats["mx"] or 0) if ostats else 0
    avg_outdeg = float(ostats["avg"] or 1.0) if ostats else 1.0
    n_edges_total = int(ostats["tot"] or 0) if ostats else 0
    skew_ratio_src = round(max_outdeg / avg_outdeg, 2) if avg_outdeg else 1.0

    salt_min_degree = int(os.environ.get("PGS_SALT_MIN_DEGREE", "100000"))
    salt_ratio = float(os.environ.get("PGS_SALT_RATIO", "16"))
    disable = bool(os.environ.get("PGS_SALT_DISABLE"))
    # A hub block is a straggler only when it clearly exceeds one partition's
    # worth of join work (measured 1.4-2.4x wins once the hub's partition is
    # ~3x the average in the one-wave regime; a wash when extra scheduling
    # waves absorb it — BENCH/BASELINE.md series); below 1.5 shares salting
    # is pure overhead.
    partition_share = n_edges_total / max(num_partitions, 1)
    auto_salt_join = (
        salt_buckets is None
        and not disable
        and max_outdeg >= salt_min_degree
        and max_outdeg >= salt_ratio * avg_outdeg
        and max_outdeg >= 1.5 * partition_share
    )
    auto_salt_agg = (
        salt_buckets is None
        and not disable
        and bool(os.environ.get("PGS_SALT_AGG"))
        and max_indeg >= salt_min_degree
        and max_indeg >= salt_ratio * avg_indeg
    )
    n_hot_keys = 0
    n_hot_src = 0
    auto_buckets = min(num_partitions, 32)

    # per-edge contribution weight: 1/outdeg (unweighted) or w/Σw (weighted);
    # hash-partitioned on the join key ONCE so the per-superstep join only
    # shuffles the ranks side.
    contrib_w = (
        (F.col(weight_col).cast("double") / F.col("outdeg"))
        if weight_col
        else (F.lit(1.0) / F.col("outdeg"))
    )
    w_edges = edges.join(outdeg, "src").select("src", "dst", contrib_w.alias("w"))
    heavy_src = None
    if auto_salt_join:
        hot_thresh = max(float(salt_min_degree), salt_ratio * avg_outdeg)
        heavy_src = (
            edges.groupBy("src").agg(F.count("*").alias("od"))
            .filter(F.col("od") >= hot_thresh)
            .select(F.col("src").alias("id"))
            .persist()
        )
        n_hot_src = heavy_src.count()
        hot_flag = F.broadcast(heavy_src.select(F.col("id").alias("src"), F.lit(True).alias("hs")))
        # dst-derived salt spreads a hub's edge block across `buckets` tasks;
        # deterministic (content-derived, never rand()).
        w_edges = w_edges.join(hot_flag, "src", "left").select(
            "src",
            "dst",
            "w",
            F.when(
                F.col("hs"), F.pmod(F.xxhash64("dst"), F.lit(auto_buckets))
            ).otherwise(F.lit(0)).cast("int").alias("_salt"),
        )
        w_edges = w_edges.repartition(num_partitions, "src", "_salt").persist()
    else:
        if auto_salt_agg:
            # flag hub dst keys for the opt-in two-stage salted aggregation
            hot_thresh = max(float(salt_min_degree), salt_ratio * avg_indeg)
            heavy = indeg.filter(F.col("indeg") >= hot_thresh).select("dst")
            n_hot_keys = heavy.count()
            w_edges = w_edges.join(
                F.broadcast(heavy.withColumn("hot", F.lit(True))), "dst", "left"
            ).select("src", "dst", "w", F.coalesce("hot", F.lit(False)).alias("hot"))
        w_edges = w_edges.repartition(num_partitions, "src").persist()
    w_edges.count()  # materialize before the loop

    # Superstep state ALWAYS snapshots to parquet: |V| rows is cheap, lineage
    # stays flat, and — critically — the state lives off-heap (OS page cache).
    # localCheckpoint keeps every superstep's rows as deserialized on-heap RDD
    # blocks that unpersist() cannot free; at 20M vertices that produced
    # multi-second Full GC pauses every superstep.
    start_iter = 0
    ranks = None
    d_mass = float(n_dangling) / n  # all ranks equal at iter 0 → analytic
    history: list[dict] = []
    durable = checkpoint_dir is not None
    if not durable:
        from pgs_spark.operators.state import make_work_dir

        checkpoint_dir = make_work_dir("pgs_pr_")
    cp = CheckpointManager(
        spark, checkpoint_dir, fingerprint_edges(edges) if durable else ""
    )
    if durable:
        resumed = cp.resume_point()
        if resumed is None:
            cp.clear()  # stale state from a different input — never mix
        else:
            start_iter, ranks, m = resumed
            d_mass = m.get("dangling_mass", d_mass)
            if m.get("delta", 1.0) < tol and fixed_iterations is None:
                vstate.unpersist()  # early return must not leak cached state
                w_edges.unpersist()
                if heavy_src is not None:
                    heavy_src.unpersist()
                return PageRankResult(ranks.select("id", "rank"), start_iter, True, history)
    if ranks is None:
        ranks = vstate.select("id", F.lit(1.0 / n).alias("rank"))

    teleport = (1.0 - alpha) / n
    p_of = None
    if personalize_mod is not None:
        ns = vstate.filter(F.col("id") % personalize_mod == 0).count()
        if ns == 0:
            raise ValueError(
                f"personalize_mod={personalize_mod}: empty seed slice"
            )
        p_of = F.when(
            F.col("id") % personalize_mod == 0, F.lit(1.0) / F.lit(float(ns))
        ).otherwise(F.lit(0.0))
    limit = fixed_iterations if fixed_iterations is not None else max_iter
    converged = False

    from pgs_spark.session import shuffle_bytes

    # λ-extrapolation state (opt-in; never in fixed-iteration/oracle mode)
    prev_delta: float | None = None
    ext_enabled = extrapolate and fixed_iterations is None
    ext_pending_delta: float | None = None  # pre-jump delta, for the fallback

    for it in range(start_iter, limit):
        t0 = time.time()
        sb0 = shuffle_bytes(spark)
        # Gather join: edges are already hash-partitioned on src (built once);
        # SHUFFLE_HASH on the vertex side means only |V| rows shuffle per
        # superstep, the hash build parallelizes across tasks, and the 50M-row
        # edge side streams with no sort. (Letting Catalyst pick gives either
        # a broadcast of the full rank vector — a *serial* build that caps
        # scaling, Amdahl — or a sort-merge join that re-sorts the edges every
        # superstep.)
        out_cols = ["dst", (F.col("rank") * F.col("w")).alias("contrib")] + (
            ["hot"] if auto_salt_agg else []
        )
        if auto_salt_join:
            # SALTED HASH JOIN: hub src keys need their rank at every salt in
            # [0, buckets); cold keys only at salt 0. The replicated side is
            # |hot| × buckets rows — tiny (hot sets are hubs by definition).
            base = ranks.select("id", "rank")
            hot_ranks = base.join(heavy_src, "id", "left_semi").select(
                "id",
                "rank",
                F.explode(
                    F.sequence(F.lit(1).cast("int"), F.lit(auto_buckets - 1).cast("int"))
                ).alias("_salt"),
            )
            ranks_side = base.select(
                "id", "rank", F.lit(0).cast("int").alias("_salt")
            ).unionByName(hot_ranks)
            contribs = w_edges.join(
                ranks_side.hint("shuffle_hash"),
                (w_edges.src == ranks_side.id) & (w_edges._salt == ranks_side._salt),
            ).select(*out_cols)
        else:
            contribs = w_edges.join(
                ranks.select("id", "rank").hint("shuffle_hash"),
                w_edges.src == F.col("id"),
            ).select(*out_cols)
        if salt_buckets:
            gathered = skew.salted_sum(contribs, "dst", "contrib", salt_buckets)
        elif auto_salt_agg:
            gathered = skew.salted_sum_flagged(
                contribs, "dst", "contrib", auto_buckets, "hot"
            )
        else:
            gathered = contribs.groupBy("dst").agg(F.sum("contrib").alias("contrib"))
        # ONE job per superstep: pre-join the old ranks (co-hashed |V|-row
        # join), attach delta + next-superstep dangling mass as observed
        # metrics, and let the snapshot WRITE be the action that yields them.
        # The snapshot itself carries only (id, rank) — outdeg lives in the
        # persisted vstate, re-writing it every superstep was 1/3 wasted bytes.
        pre = (
            vstate.join(gathered, vstate.id == gathered.dst, "left")
            .join(ranks.select("id", F.col("rank").alias("old_rank")), "id")
            .select(
                "id",
                "outdeg",
                "old_rank",
                (
                    (
                        F.lit(1.0 - alpha) * p_of
                        + F.lit(alpha)
                        * (
                            F.coalesce(F.col("contrib"), F.lit(0.0))
                            + F.lit(d_mass) * p_of
                        )
                    )
                    if p_of is not None
                    else (
                        F.lit(teleport)
                        + F.lit(alpha)
                        * (F.coalesce(F.col("contrib"), F.lit(0.0)) + F.lit(d_mass / n))
                    )
                ).alias("rank"),
            )
        )
        obs = Observation()
        observed = pre.observe(
            obs,
            F.sum(F.abs(F.col("rank") - F.col("old_rank"))).alias("delta"),
            F.sum(
                F.when(F.col("outdeg").isNull(), F.col("rank")).otherwise(0.0)
            ).alias("d_mass"),
        ).select("id", "rank")
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
                salted=bool(salt_buckets or auto_salt_agg or auto_salt_join),
                salted_join=auto_salt_join,
                n_hot_keys=n_hot_keys,
                n_hot_src=n_hot_src,
                extrapolated=False,
            )
            if collect_skew_metrics:
                metrics["skew_ratio_dst_live"] = skew.skew_ratio(contribs, "dst")
            return metrics

        new_ranks = cp.save(observed, it + 1, lineage=False, metrics_fn=_metrics)
        delta, d_mass = metrics["delta"], metrics["dangling_mass"]
        history.append(metrics)

        # λ-extrapolation fallback: if the real superstep after a jump did not
        # beat the pre-jump delta, the error is not yet in its geometric
        # regime — stop jumping (plain power iteration always converges).
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
                ext_pre = (
                    new_ranks.select("id", F.col("rank").alias("r2"))
                    .join(ranks.select("id", F.col("rank").alias("r1")), "id")
                    .join(vstate, "id")
                    .select(
                        "id",
                        "outdeg",
                        (
                            F.col("r2") + (F.col("r2") - F.col("r1")) * F.lit(factor)
                        ).alias("rank"),
                    )
                )
                ext_obs = Observation()
                ext_observed = ext_pre.observe(
                    ext_obs,
                    F.sum(
                        F.when(F.col("outdeg").isNull(), F.col("rank")).otherwise(0.0)
                    ).alias("d_mass"),
                ).select("id", "rank")

                def _jumped():
                    # resume must see the jumped vector's dangling mass
                    metrics.update(
                        extrapolated=True,
                        dangling_mass=float(ext_obs.get["d_mass"] or 0.0),
                    )
                    return metrics

                plain_path = getattr(new_ranks, "_pgs_snapshot_path", None)
                new_ranks = cp.save(
                    ext_observed, it + 1, lineage=False, suffix="x", metrics_fn=_jumped
                )
                d_mass = metrics["dangling_mass"]
                if plain_path:
                    # the plain snapshot fed the jump and its manifest was
                    # superseded — drop it so prune() bookkeeping stays exact
                    shutil.rmtree(plain_path, ignore_errors=True)
                ext_pending_delta = delta

        cp.prune(keep_last=2)
        prev_delta = delta
        ranks = new_ranks
        iterations = it + 1
        if fixed_iterations is None and delta < tol:
            converged = True
            break
    else:
        iterations = start_iter if limit <= start_iter else limit

    vstate.unpersist()
    w_edges.unpersist()
    if heavy_src is not None:
        heavy_src.unpersist()
    if fixed_iterations is not None:
        converged = True
    # NOTE: with an ephemeral temp dir the returned DataFrame reads from that
    # dir's final snapshot — it is pruned to the last two snapshots and left
    # on disk (removing it would invalidate the returned DataFrame).
    return PageRankResult(ranks.select("id", "rank"), iterations, converged, history)
