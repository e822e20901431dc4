"""Distributed proper graph coloring — Jones-Plassmann with hash priorities.

Graft of the reference's flagship coloring family (PGS_Coloring.java:58-105:
eight algorithms producing *proper* colorings — the invariant its tests assert
is adjacent-faces-get-distinct-classes, PGS_ColoringTests.java:57-63
``assertNotSame`` on adjacent faces). A sequential greedy ordering is
inherently serial; the distributed classic is Jones-Plassmann (Jones &
Plassmann, "A parallel graph coloring heuristic", 1993): give every vertex a
random priority, and each round color every vertex whose *uncolored* neighbors
all have lower priority, using the smallest color absent among its
higher-priority (hence already colored) neighbors.

With a STATIC priority the result is deterministic and equals the sequential
greedy coloring in decreasing-priority order: a lower-priority neighbor can
never be colored before you (you block it), so the colored-neighbor set at
your turn is exactly your higher-priority neighbors. Priority here is
(md5(id|seed), id) — cross-engine exact, so a DuckDB oracle can unroll the
same fixed-round recurrence and must agree color-for-color.

Plan per round (all joins/aggs, no UDFs — ONE pass over the edge table):
  hi      = sym_p edges where the neighbor outranks, src uncolored, LEFT
            JOINED to the colored set (neighbor color, null = uncolored)
  blocked = hi rows with null color (both endpoints uncolored)   ← same pass
  ready   = uncolored ∖ blocked
  used    = hi rows with a color                                 ← same pass
  color   = mex(used) via sequence-explode + anti-join (integer-exact)
(used covers blocked vertices too — harmless: the mex candidate set is built
from ready ids only, so extra rows never join; this is what lets blocked and
used share one scan instead of three.)

Round state (colored set, ≤|V| rows) goes through one ``CheckpointManager``:
an ephemeral run up to ``LOCAL_STATE_MAX_VERTICES`` (2M) holds each round as
a DISK_ONLY local checkpoint (the two newest held, the rest released) and
writes its result once to parquet; larger and durable runs write a parquet
snapshot per round. This loop keeps local rounds instead of running on
``state.run_supersteps``' parquet snapshots because on small graphs the
driver-loop latency dominates: on the ``bench.py`` ``coloring_jp`` leaf (sf0.1,
58,384 edges, 22 rounds, 4-core host) localCheckpoint state took 18.1–19.5 s
warm and 27.1–28.7 s cold, parquet state 22.7–23.4 s warm and 33.8–34.8 s
cold, and keeping the broadcast hints under parquet state did not close the
gap (24.0–28.5 s warm).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pgs_spark.operators.edges import symmetrize
from pgs_spark.operators.state import make_work_dir
from pgs_spark.streaming.checkpoint import CheckpointManager, fingerprint_edges

#: up to this many vertices the round's state joins are hinted broadcast and
#: an ephemeral run holds its rounds as local checkpoints; above it every
#: round is a parquet snapshot
LOCAL_STATE_MAX_VERTICES = 2_000_000


def _prio(id_col: Column, seed: int) -> Column:
    return F.md5(F.concat(id_col.cast("string"), F.lit(f"|{seed}")))


def _outranks(p_other: Column, id_other: Column, p_self: Column, id_self: Column) -> Column:
    """(md5, id)-lexicographic priority comparison — total order, no ties."""
    return (p_other > p_self) | ((p_other == p_self) & (id_other > id_self))


@dataclass
class ColoringResult:
    colors: DataFrame  # (id: long, color: long); -1 = unresolved (fixed_rounds)
    rounds: int
    converged: bool
    history: list = field(default_factory=list)


def jones_plassmann(
    spark: SparkSession,
    undirected_edges: DataFrame,
    max_rounds: int = 50,
    fixed_rounds: int | None = None,
    seed: int = 42,
    checkpoint_dir: str | None = None,
) -> ColoringResult:
    """Proper coloring of a canonical undirected edge table → (id, color).

    `fixed_rounds` runs exactly that many rounds and returns color = -1 for
    vertices not yet resolved (both the engine and the unrolled oracle execute
    the identical fixed program, so they agree even if the graph needs more
    rounds). Without it, runs to full convergence (every vertex colored).

    `checkpoint_dir` makes the run DURABLE (the PageRank/LPA treatment): each
    round's colored set is checkpointed with a manifest keyed on the input
    fingerprint + seed, and a restarted call resumes mid-coloring — safe
    because JP with a static (md5, id) priority is a fixed program: the
    remaining rounds depend only on the colored-set state. In every mode the
    colored count rides the round's checkpoint write via observe().
    """
    verts = (
        symmetrize(undirected_edges)
        .select(F.col("src").alias("id"))
        .distinct()
        .select("id", _prio(F.col("id"), seed).alias("p"))
        .persist()
    )
    sym_p = (
        symmetrize(undirected_edges)
        .join(verts.select(F.col("id").alias("src"), F.col("p").alias("ps")), "src")
        .join(verts.select(F.col("id").alias("dst"), F.col("p").alias("pd")), "dst")
        .persist()
    )
    hi = cp = None
    durable = checkpoint_dir is not None
    default_p = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        n = verts.count()
        m = sym_p.count()

        # Size the round shuffles to the DATA, not the session default: JP wall
        # clock is rounds × per-round stage latency, and on a small graph 32-64
        # near-empty tasks per stage are pure scheduler overhead (measured 33.6s
        # → 28.8s at 58k edges with 8 partitions). Grows back to the session
        # default at ~250k edges/partition — the cluster-scale setting.
        round_p = max(8, min(int(default_p), m // 250_000 + 8))

        use_local = n <= LOCAL_STATE_MAX_VERTICES
        local = use_local and not durable  # rounds as local checkpoints
        limit = fixed_rounds if fixed_rounds is not None else max_rounds
        cp = CheckpointManager(
            spark,
            checkpoint_dir if durable else make_work_dir("pgs_color_"),
            f"{fingerprint_edges(undirected_edges)}|seed={seed}" if durable else "",
        )
        start_round = n_colored = 0
        resumed_converged = False
        rp = cp.resume_point() if durable else None
        if rp is None:
            cp.clear()  # stale state from a different input/seed — never mix
            colored = spark.createDataFrame([], "id long, color long")
        else:
            start_round, colored, meta = rp
            n_colored = int(meta.get("n_colored", 0))
            resumed_converged = bool(meta.get("converged", False))
        history: list[dict] = []
        rounds = start_round
        # NOTE: this mutates the SESSION-global shuffle width for the duration of
        # the loop (restored in finally). The iterative operators assume exclusive
        # use of the SparkSession while they run — a concurrent query on the same
        # session would be re-planned at round_p. Round state handed onward is
        # materialized (checkpoint/snapshot) before the restore, so no lazy plan
        # escapes with the narrow width.
        spark.conf.set("spark.sql.shuffle.partitions", str(round_p))
        for r in range(start_round + 1, limit + 1):
            if resumed_converged:
                break
            # A localCheckpointed colored set keeps its plan's size estimate,
            # not the data's — the planner sees a join-sized relation and
            # plans every state join as SortMergeJoin (Exchange + Sort over
            # the edge relation EVERY round, measured in the round plan).
            # Under the same small-graph threshold that picks local state,
            # hint the ≤|V|-row sides broadcast; at cluster scale (parquet
            # state) the joins keep their shuffle plans.
            _b = F.broadcast if use_local else (lambda df: df)
            unc_ids = verts.select("id").join(_b(colored), "id", "left_anti")
            # ONE pass over sym_p: higher-priority-neighbor edges of uncolored
            # vertices, each tagged with the neighbor's color (null = uncolored).
            # blocked and used are two filters of this shared relation.
            hi = (
                sym_p.filter(_outranks(F.col("pd"), F.col("dst"), F.col("ps"), F.col("src")))
                .join(unc_ids.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(_b(colored.select(F.col("id").alias("dst"), "color")), "dst", "left")
                .select(F.col("src").alias("id"), "color")
                .persist()
            )
            # no distinct: blocked only ever feeds an anti-join, dupes are free
            blocked = hi.filter(F.col("color").isNull()).select("id")
            ready = unc_ids.join(_b(blocked), "id", "left_anti")
            # colors already taken among higher-priority neighbors (for ready
            # vertices all such neighbors are colored, by induction; rows for
            # blocked vertices are carried but never join ready below).
            # mex in ONE aggregate: collect the distinct used colors per
            # vertex, sort, and walk the sorted array with an aggregate HOF —
            # the length of the [0,1,2,…] prefix IS the smallest absent
            # color. Replaces the round-5 candidate-explode + anti-join +
            # second groupBy (two more shuffles + a join per round) with one
            # shuffle; identical colors (same mex), array size bounded by
            # vertex degree exactly like the old candidate set.
            used = hi.filter(F.col("color").isNotNull())
            used_sets = used.groupBy("id").agg(
                F.array_sort(F.collect_set("color")).alias("us")
            )
            mex = F.aggregate(
                F.coalesce(F.col("us"), F.array().cast("array<long>")),
                F.lit(0).cast("long"),
                lambda acc, x: F.when(x == acc, acc + F.lit(1).cast("long")).otherwise(acc),
            )
            new = ready.join(_b(used_sets), "id", "left").select(
                "id", mex.alias("color")
            )
            nxt = colored.union(new)
            if local:
                # coalesce first: union(prev_checkpoint, new) concatenates
                # partition lists, so uncoalesced round state grows by ~|parts|
                # partitions per round — O(rounds²) tasks by convergence
                nxt = nxt.coalesce(round_p)
            # the colored count rides the round's own materialization
            obs = Observation()
            counted = lambda: int(obs.get["n"] or 0)  # noqa: E731
            colored = cp.save(
                nxt.observe(obs, F.count(F.lit(1)).alias("n")), r, lineage=False,
                metrics_fn=lambda: {"n_colored": counted(), "converged": counted() >= n},
                local=local and r < limit,
            )
            cp.prune(keep_last=2)
            hi.unpersist()
            rounds, n_colored = r, counted()
            history.append({"round": r, "colored": n_colored})
            # in fixed-round (oracle) mode the round count is the program
            if fixed_rounds is None and n_colored >= n:
                break
        converged = n_colored >= n
        if local and 0 < rounds < limit:
            # the last round is a local checkpoint: the run's one parquet result
            colored = cp.save(
                colored, rounds, {"n_colored": n_colored, "converged": converged},
                lineage=False,
            )
        out = colored
        if not converged:
            out = verts.select("id").join(colored, "id", "left").select(
                "id", F.coalesce("color", F.lit(-1)).alias("color")
            )
        return ColoringResult(out, rounds, converged, history)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", default_p)
        if cp is not None:
            cp.release()
        for df in (verts, sym_p, hi):
            if df is not None:
                df.unpersist()


def conflict_count(undirected_edges: DataFrame, colors: DataFrame) -> int:
    """Number of edges whose (resolved) endpoints share a color — the
    PGS_ColoringTests invariant; must be 0."""
    c = colors.filter(F.col("color") >= 0)
    return (
        undirected_edges.join(
            c.select(F.col("id").alias("src"), F.col("color").alias("cs")), "src"
        )
        .join(c.select(F.col("id").alias("dst"), F.col("color").alias("cd")), "dst")
        .filter(F.col("cs") == F.col("cd"))
        .count()
    )


def coloring_sql(edges_sql: str, rounds: int, seed: int = 42) -> str:
    """Unrolled DuckDB oracle: the identical fixed-round JP recurrence.
    Unresolved vertices after `rounds` get color -1 (same as the engine)."""
    prio = f"md5(CAST(id AS VARCHAR) || '|{seed}')"
    parts = [
        f"e AS MATERIALIZED ({edges_sql})",
        "sym AS MATERIALIZED (SELECT src AS u, dst AS v FROM e UNION ALL SELECT dst, src FROM e)",
        f"verts AS MATERIALIZED (SELECT id, {prio} AS p FROM (SELECT DISTINCT u AS id FROM sym) t)",
        "symp AS MATERIALIZED (SELECT s.u, s.v, a.p AS pu, b.p AS pv FROM sym s "
        "JOIN verts a ON s.u = a.id JOIN verts b ON s.v = b.id)",
        "c0 AS MATERIALIZED (SELECT id, CAST(NULL AS BIGINT) AS color FROM verts WHERE FALSE)",
    ]
    prev = "c0"
    outranks = "(s.pv > s.pu OR (s.pv = s.pu AND s.v > s.u))"
    for r in range(1, rounds + 1):
        parts += [
            f"unc{r} AS MATERIALIZED (SELECT v.id, v.p FROM verts v "
            f"WHERE v.id NOT IN (SELECT id FROM {prev}))",
            f"blk{r} AS (SELECT DISTINCT s.u AS id FROM symp s "
            f"JOIN unc{r} a ON s.u = a.id JOIN unc{r} b ON s.v = b.id WHERE {outranks})",
            f"rdy{r} AS MATERIALIZED (SELECT id FROM unc{r} "
            f"WHERE id NOT IN (SELECT id FROM blk{r}))",
            f"use{r} AS MATERIALIZED (SELECT DISTINCT s.u AS id, c.color FROM symp s "
            f"JOIN rdy{r} rd ON s.u = rd.id JOIN {prev} c ON s.v = c.id WHERE {outranks})",
            f"ucnt{r} AS (SELECT id, COUNT(*) AS nu FROM use{r} GROUP BY id)",
            f"cand{r} AS (SELECT rd.id, unnest(range(0, COALESCE(u.nu, 0) + 1)) AS c "
            f"FROM rdy{r} rd LEFT JOIN ucnt{r} u ON rd.id = u.id)",
            f"new{r} AS (SELECT cd.id, CAST(MIN(cd.c) AS BIGINT) AS color FROM cand{r} cd "
            f"LEFT JOIN use{r} x ON x.id = cd.id AND x.color = cd.c "
            f"WHERE x.id IS NULL GROUP BY cd.id)",
            f"c{r} AS MATERIALIZED (SELECT id, color FROM {prev} "
            f"UNION ALL SELECT id, color FROM new{r})",
        ]
        prev = f"c{r}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT v.id, COALESCE(c.color, -1) AS color FROM verts v "
        f"LEFT JOIN {prev} c ON v.id = c.id"
    )
