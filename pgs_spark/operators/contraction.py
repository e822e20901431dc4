"""merge_to_k — iterative contraction toward a target group count.

Graft of the reference's AreaMerge (commons/AreaMerge.java:48-106: repeatedly
merge the smallest face-group into its smallest neighboring group until
``targetFaceCount`` remains). The sequential rule is one merge per step; the
distributed analog merges ALL non-surviving groups per round, each into its
smallest strictly-larger neighbor:

  round:  keep      = the k largest groups by (size, id)         (top-k, not a
                      global sort — k is the small target count)
          candidate = every other group
          target(g) = argmin_(size,id) { h ∈ N(g) : (size_h,h) > (size_g,g) }
          merge g → target(g); chains resolve by fixed pointer jumping
                      (direction is strictly increasing in (size, id), so the
                      merge mapping is acyclic — jumps terminate)

Monotone: a round never grows the group count and can never drop it below k
(every candidate folds into some root that survives); a round that merges
nothing leaves the state unchanged, a fixed point. Candidates with no
strictly-larger neighbor (component maxima) survive — the AreaMerge behavior
for isolated islands. Deterministic: every choice is (size, id)-lexicographic,
so a fixed (rounds, jumps) program is oracle-unrollable — see
``merge_to_k_sql``.

All relational: top-k, group-graph join, per-group struct-min, J self-joins
for pointer jumping. A round's state is ONE relation ``(t, a, b)`` holding
three parts told apart by `t`: the vertex → group rows, the contracted
group-edge table and each group's size. Each round is one
``state.run_supersteps`` step — one parquet snapshot, one manifest — and the
group count is observed on that write.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgs_spark.operators.state import run_supersteps
from pgs_spark.streaming.checkpoint import fingerprint_edges

# the parts of a round's state relation (t, a, b)
GROUP, GEDGE, SIZE = 0, 1, 2  # (id, g), (ga, gb) with ga < gb, (g, sz)


def _part(state: DataFrame, t: int, a: str, b: str) -> DataFrame:
    return state.filter(F.col("t") == t).select(F.col("a").alias(a), F.col("b").alias(b))


def _state(groups: DataFrame, gedges: DataFrame, sizes: DataFrame) -> DataFrame:
    return (
        groups.select(F.lit(GROUP).alias("t"), F.col("id").alias("a"), F.col("g").alias("b"))
        .union(gedges.select(F.lit(GEDGE), "ga", "gb"))
        .union(sizes.select(F.lit(SIZE), "g", "sz"))
    )


def _round(state: DataFrame, k: int, jumps: int) -> DataFrame:
    """One merge round over the (t, a, b) state → the next state."""
    groups = _part(state, GROUP, "id", "g")
    gedges = _part(state, GEDGE, "ga", "gb")
    sizes = _part(state, SIZE, "g", "sz")
    keep = sizes.orderBy(F.col("sz").desc(), F.col("g").desc()).limit(k)
    cand = sizes.join(keep.select("g"), "g", "left_anti")
    # group-level adjacency, both directions, with sizes on both sides
    # (gedges is canonical loop-free — maintained below; no distinct: the
    # per-group struct-MIN below is dup-insensitive)
    gsym = gedges.union(gedges.select(F.col("gb").alias("ga"), F.col("ga").alias("gb")))
    adj = gsym.join(
        sizes.select(F.col("g").alias("ga"), F.col("sz").alias("sza")), "ga"
    ).join(sizes.select(F.col("g").alias("gb"), F.col("sz").alias("szb")), "gb")
    targets = (
        adj.join(cand.select(F.col("g").alias("ga")), "ga", "left_semi")
        .filter(
            (F.col("szb") > F.col("sza"))
            | ((F.col("szb") == F.col("sza")) & (F.col("gb") > F.col("ga")))
        )
        .groupBy("ga")
        .agg(F.min(F.struct(F.col("szb"), F.col("gb"))).alias("t"))
        .select(F.col("ga").alias("g"), F.col("t.gb").alias("tgt"))
    )
    # total mapping with identity default, then J pointer jumps
    mapping = sizes.select("g").join(targets, "g", "left").select(
        "g", F.coalesce("tgt", F.col("g")).alias("tgt")
    )
    for _ in range(jumps):
        nxt = mapping.select(F.col("g").alias("tgt"), F.col("tgt").alias("tgt2"))
        mapping = mapping.join(nxt, "tgt").select("g", F.col("tgt2").alias("tgt"))
    # explicit rename, not `groups.g == mapping.g`: both sides read the same
    # snapshot, so their `g` attributes can share an exprId and a qualified
    # condition would degenerate to a trivially-true predicate (cross join)
    new_groups = groups.join(
        mapping.select(F.col("g").alias("mg"), "tgt"), F.col("g") == F.col("mg")
    ).select("id", F.col("tgt").alias("g"))
    # Group-level edges are CONTRACTED each round: round r's group adjacency
    # is the image of round r-1's group edges under the merge mapping
    # (transitivity of contraction), so later rounds join a monotonically
    # SHRINKING relation instead of the full vertex-level edge table.
    ma = mapping.select(F.col("g").alias("ga"), F.col("tgt").alias("ta"))
    mb = mapping.select(F.col("g").alias("gb"), F.col("tgt").alias("tb"))
    new_gedges = (
        gedges.join(ma, "ga")
        .join(mb, "gb")
        .select(F.least("ta", "tb").alias("ga"), F.greatest("ta", "tb").alias("gb"))
        .filter(F.col("ga") != F.col("gb"))
        .distinct()
    )
    new_sizes = (
        sizes.join(mapping, "g").groupBy(F.col("tgt").alias("g")).agg(F.sum("sz").alias("sz"))
    )
    return _state(new_groups, new_gedges, new_sizes)


@dataclass
class MergeToKResult:
    groups: DataFrame  # (id: long, group: long)
    rounds: int
    n_groups: int
    history: list = field(default_factory=list)


def merge_to_k(
    spark: SparkSession,
    undirected_edges: DataFrame,
    k: int,
    max_rounds: int = 10,
    fixed_rounds: int | None = None,
    jumps: int = 3,
    checkpoint_dir: str | None = None,
) -> MergeToKResult:
    """Contract a canonical undirected edge table to ~k vertex groups.

    Starts from singleton groups (every vertex its own group — the
    faces-as-initial-groups start of AreaMerge). `fixed_rounds` runs exactly
    that many rounds (oracle mode); otherwise rounds run until the group
    count reaches k or stops shrinking (no group merged: a fixed point, so
    the result is exact).

    `checkpoint_dir` makes the run DURABLE (``state.run_supersteps``): a
    restarted call with the same dir, input, k and jumps resumes from the
    newest round. `history` holds one record per round (`round`,
    `n_groups`, `seconds`, shuffle bytes); a resumed run's first record is
    the round it resumed from.
    """
    ends = undirected_edges.select(F.explode(F.array("src", "dst")).alias("id"))
    st = ends.agg(F.count("*").alias("ends"), F.countDistinct("id").alias("n")).first()
    n = st["n"]
    verts = ends.distinct()
    if fixed_rounds is None and n <= k:
        return MergeToKResult(verts.select("id", F.col("id").alias("group")), 0, n)
    init = _state(
        verts.select("id", F.col("id").alias("g")),
        undirected_edges.select(F.col("src").alias("ga"), F.col("dst").alias("gb")),
        verts.select(F.col("id").alias("g"), F.lit(1).cast("long").alias("sz")),
    )

    def done(vals, prev):
        # an unchanged count means no group merged: a fixed point
        now = vals["n_groups"]
        return now <= k or now == (prev["n_groups"] if prev else n)

    # Shuffle width sized to the DATA (8 partitions at small |E|, the
    # session default at cluster scale): per-round wall clock on a small
    # graph is stages × scheduler latency.
    default_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    round_p = max(8, min(default_p, st["ends"] // 500_000 + 8))
    run = run_supersteps(
        spark,
        init,
        lambda s, _: _round(s, k, jumps),
        fixed_rounds if fixed_rounds is not None else max_rounds,
        observe=[F.count(F.when(F.col("t") == SIZE, 1)).alias("n_groups")],
        done=done if fixed_rounds is None else None,
        key="round",
        checkpoint_dir=checkpoint_dir,
        # `state=tagged`: a directory written in the older paired-snapshot
        # layout never matches, so it is cleared instead of misread
        fingerprint=lambda: (
            f"{fingerprint_edges(undirected_edges)}|k={k}|jumps={jumps}|state=tagged"
        ),
        save_init=True,
        conf={"spark.sql.shuffle.partitions": str(round_p)},
    )
    groups = _part(run.state, GROUP, "id", "group")
    n_groups = run.history[-1]["n_groups"] if run.history else n
    return MergeToKResult(groups, run.steps, n_groups, run.history)


def merge_to_k_sql(edges_sql: str, k: int, rounds: int, jumps: int = 3) -> str:
    """Unrolled DuckDB oracle: the identical fixed-round, fixed-jump program.
    Emits per-group sizes (group, n_vertices)."""
    parts = [
        f"e AS MATERIALIZED ({edges_sql})",
        "verts AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM e UNION ALL SELECT dst FROM e) t)",
        "g0 AS MATERIALIZED (SELECT id, id AS g FROM verts)",
    ]
    prev = "g0"
    for r in range(1, rounds + 1):
        parts += [
            f"sz{r} AS MATERIALIZED (SELECT g, COUNT(*) AS sz FROM {prev} GROUP BY g)",
            f"keep{r} AS (SELECT g FROM sz{r} ORDER BY sz DESC, g DESC LIMIT {k})",
            f"cand{r} AS (SELECT g FROM sz{r} WHERE g NOT IN (SELECT g FROM keep{r}))",
            f"gp{r} AS (SELECT DISTINCT a.g AS ga, b.g AS gb FROM e "
            f"JOIN {prev} a ON e.src = a.id JOIN {prev} b ON e.dst = b.id "
            f"WHERE a.g <> b.g)",
            f"gs{r} AS MATERIALIZED (SELECT ga, gb FROM gp{r} "
            f"UNION SELECT gb, ga FROM gp{r})",
            f"adj{r} AS (SELECT s.ga, s.gb, x.sz AS sza, y.sz AS szb FROM gs{r} s "
            f"JOIN sz{r} x ON s.ga = x.g JOIN sz{r} y ON s.gb = y.g)",
            f"tg{r} AS MATERIALIZED (SELECT ga AS g, gb AS tgt FROM ("
            f"SELECT ga, gb, ROW_NUMBER() OVER (PARTITION BY ga ORDER BY szb, gb) AS rn "
            f"FROM adj{r} WHERE ga IN (SELECT g FROM cand{r}) "
            f"AND (szb > sza OR (szb = sza AND gb > ga))) t WHERE rn = 1)",
            f"m{r}_0 AS MATERIALIZED (SELECT s.g, COALESCE(t.tgt, s.g) AS tgt "
            f"FROM sz{r} s LEFT JOIN tg{r} t ON s.g = t.g)",
        ]
        # squaring composition (map^(2^j)) — identical to the engine's loop
        for j in range(1, jumps + 1):
            parts.append(
                f"m{r}_{j} AS MATERIALIZED (SELECT a.g, b.tgt FROM m{r}_{j-1} a "
                f"JOIN m{r}_{j-1} b ON a.tgt = b.g)"
            )
        parts.append(
            f"g{r} AS MATERIALIZED (SELECT p.id, m.tgt AS g FROM {prev} p "
            f"JOIN m{r}_{jumps} m ON p.g = m.g)"
        )
        prev = f"g{r}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT g AS \"group\", COUNT(*) AS n_vertices FROM {prev} GROUP BY g"
    )
