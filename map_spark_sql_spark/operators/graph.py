"""Connected components over a pair/edge table — dedup cluster assignment.

The near-dup operators (``operators/dedup.py``) emit *pairs* ``(a_id, b_id)``;
turning pairs into clusters (every doc -> canonical representative) requires a
transitive closure, which no single SQL pass expresses. This module implements
iterative **min-label propagation**: every vertex starts labeled with its own
id; each round every vertex takes the min of its own label and its neighbors'
labels; fixpoint = each component uniformly labeled with its smallest member
id (the canonical document).

Scale notes (the 100 TB story):
- Each round is one shuffle: an equi-join of the (vertex, label) table with
  the symmetrized edge table on vertex id, followed by a min-aggregate keyed
  on the neighbor — both hash-partitioned on well-distributed ids.
- Rounds needed = component diameter (+1 confirming probe). Near-dup and
  entity-resolution match graphs are small dense clusters: every registry
  caller converges in <= 2 rounds at sf0.01 and sf0.1. A ``max_iter``
  bound plus an explicit convergence check (the label sum, a bounded
  scalar per round) terminates early; a graph whose diameter outruns
  ``max_iter`` (a long chain) raises ``RuntimeError`` instead of
  returning partial labels.
- Both monotone loops, min-label CC and the k-core peel, run on one
  driver, :func:`_fixpoint`. It owns the per-round lazy ``localCheckpoint``
  (without it the plan doubles per round and planning, not the data,
  becomes the bottleneck), the one-aggregate probe that materialises the
  cut and stops the loop at the fixpoint, and the round bound. PageRank
  has no probe and cuts every 8th round, so it stays a plain loop.

Reference parity: the reference has no graph operator (SURVEY.md §2.3 — no
JOIN at all); this is a north-star training-pipeline extension (SURVEY §2.8):
MinHash/Jaccard pairs -> components -> keep one doc per cluster.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    settled: Callable[[DataFrame], bool],
    rounds: int,
    unsettled: str | None = None,
) -> DataFrame:
    """Cut, probe, step: the loop of a monotone graph operator.

    Each round cuts ``state`` with a lazy ``localCheckpoint`` and asks
    ``settled(state)``, one aggregate over the cut that materialises it;
    the first settled state is returned, else ``state = step(state)``, at
    most ``rounds`` times. Still unsettled after that, the loop raises
    ``RuntimeError(unsettled)``, or returns the state when that is None.
    """
    for i in range(rounds + 1):
        state = state.localCheckpoint(eager=False)
        if settled(state):
            return state
        if i < rounds:
            state = step(state)
    if unsettled is not None:
        raise RuntimeError(unsettled)
    return state


def connected_components(
    edges: DataFrame,
    src: str = "a_id",
    dst: str = "b_id",
    vertices: DataFrame | None = None,
    id_col: str = "id",
    max_iter: int = 25,
) -> DataFrame:
    """Label every vertex with the min vertex id reachable from it.

    ``edges``: undirected pair table (one row per pair, either orientation).
    ``vertices``: optional (id) table; vertices absent from ``edges`` become
    singleton clusters. Raises ``RuntimeError`` if the labels still change
    in round ``max_iter``. Returns (id, cluster_id).
    """
    # r11 optimization: cut the edge-builder lineage BEFORE symmetrizing —
    # both union legs otherwise re-run the caller's whole edge pipeline
    # (in the curation funnel that is the full MinHash/LSH pair build,
    # measured ~2.3 s, computed twice inside one job).
    base = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).localCheckpoint(
        eager=False
    )
    sym = base.union(base.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym = sym.distinct().localCheckpoint(eager=False)

    if vertices is not None:
        verts = vertices.select(F.col(id_col).alias("u")).distinct()
    else:
        verts = sym.select("u").distinct()

    # lazy checkpoint: round 1's probe job materializes the seed labels,
    # so later legs scan the stored blocks instead of recomputing the
    # vertex derivation
    seed = verts.select("u", F.col("u").alias("label")).localCheckpoint(eager=False)

    # one round = one join + ONE aggregation: the vertex's own label rides
    # along as a union self-row, so min(label) over (self-row ∪ neighbor
    # rows) IS the update, and a vertex without neighbors keeps its label
    # (map-side partial min; guide §2.3 "aggregate before you shuffle").
    def step(labels: DataFrame) -> DataFrame:
        nbr = sym.join(labels.withColumnRenamed("u", "v"), "v").select("u", "label")
        return labels.unionByName(nbr).groupBy("u").agg(F.min("label").alias("label"))

    # every label is non-increasing round over round, so the label sum
    # stays equal exactly when NO label changed: one aggregate instead of
    # a new-vs-old join. The seed's sum is the vertex-id sum, which every
    # label table also carries, so no separate seed probe runs.
    # DECIMAL(38,0) keeps the sums exact for any int64 id multiset.
    sums = []

    def unchanged(labels: DataFrame) -> bool:
        row = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s"),
            F.sum(F.col("u").cast("decimal(38,0)")).alias("su"),
        ).first()
        sums.append(row["s"])
        return row["s"] == (sums[-2] if len(sums) > 1 else row["su"])

    # the seed is never the fixpoint: round 1's labels are the first probed
    labels = _fixpoint(
        step(seed),
        step,
        unchanged,
        max_iter - 1,
        unsettled=f"connected_components did not converge: labels still "
        f"changed after {max_iter} rounds (max_iter={max_iter}); the graph's "
        f"diameter exceeds the round bound",
    )
    return labels.select(F.col("u").alias(id_col), F.col("label").alias("cluster_id"))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
    scale: int = 10**12,
    id_col: str = "id",
    rank_col: str = "rank_pp12",
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Integer-exact PageRank power iteration over a directed edge table.

    PageRank (Page et al., 1999) as a fixed number of Pregel-style rounds,
    with the classic float recurrence replaced by an exact integer one so
    the result is bit-identical across engines and partitionings (the
    text_lm_score micro-nat lesson applied to an iterative algorithm):

        r0(v)     = scale div N
        c(u)      = r(u) div outdeg(u)          (per-edge contribution)
        r'(v)     = (15 * (scale div N)) div 100
                    + (85 * sum of c(u) over in-edges u->v) div 100

    i.e. damping 0.85 with every division an integer floor. Floors make
    each round lose a few units of mass (bounded by N + in-degree count),
    which is irrelevant for the ranking use and buys full determinism:
    the per-edge contributions are exact int64, their sum is
    order-independent, and no float ever crosses the engine hash.
    ``85 * sum(c)`` is bounded by ``85 * scale`` ~ 8.5e13, far inside
    int64.

    Scale shape (the 100 TB story): outdegrees are computed once and
    joined onto the edge table once (both hash-partitioned on ``src``);
    each round is then ONE shuffle — join ranks to the pre-degreed edges
    on ``src``, partial-aggregate contributions map-side, final aggregate
    keyed on ``dst`` — plus a left join back onto the vertex table to
    keep rank-sink vertices (no in-edges) at the base value.
    A round references ``ranks`` once, so the plan nests linearly; a lazy
    lineage cut every 8th round only bounds the plan of deep runs (the
    loop's comment has the measurement). Vertices with no out-edges leak
    their mass (no dangling redistribution) — fine for centrality
    ranking, and kNN-graph inputs give every vertex out-degree k anyway.

    **Personalized PageRank**: pass ``seeds`` (a one-column DataFrame of
    vertex ids) and the teleport mass goes ONLY to seed vertices —
    ``r0(v) = scale div |S|`` for seeds (0 otherwise), and the per-round
    base term ``(15 * (scale div |S|)) div 100`` likewise lands on seeds
    only. Ranks then measure proximity to the seed set — the "expand this
    trusted seed corpus" curation primitive (Haveliwala, WWW'02), with
    the identical integer recurrence and scale shape (the seed flag is
    one extra broadcast-or-hash left join on the vertex table).

    Returns ``(id_col, rank_col)`` with the rank in parts-per-scale.
    """
    # checkpoint the edge projection itself: it feeds BOTH the vertex
    # derivation and the degree join, and an expensive upstream edge
    # builder (a kNN construction, an LSH pair join) would otherwise be
    # evaluated once per consumer
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("t")).localCheckpoint(
        eager=False
    )
    verts = (
        e.select(F.col("s").alias("v"))
        .union(e.select(F.col("t").alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    if seeds is not None:
        seed_v = (
            seeds.select(F.col(seeds.columns[0]).alias("v"))
            .distinct()
            .join(verts, "v", "left_semi")
            .localCheckpoint(eager=False)
        )
        n = seed_v.count()
        verts = verts.join(
            seed_v.select("v", F.lit(True).alias("is_seed")), "v", "left"
        ).select("v", F.coalesce("is_seed", F.lit(False)).alias("is_seed"))
    else:
        n = verts.count()
        verts = verts.select("v", F.lit(True).alias("is_seed"))
    verts = verts.localCheckpoint(eager=False)
    base0 = scale // n
    base = (15 * base0) // 100
    deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("outdeg"))
    ed = e.join(deg, "s").localCheckpoint(eager=False)

    ranks = verts.select(
        "v",
        F.when(F.col("is_seed"), F.lit(base0).cast("bigint"))
        .otherwise(F.lit(0).cast("bigint"))
        .alias("r"),
    )
    # r11 optimization: one round = one join + ONE aggregation. The old
    # form summed contributions per target and then LEFT-JOINED the result
    # back onto the vertex table to add the teleport base and keep
    # rank-sinks — a second shuffle of the rank table every round. Here the
    # constant per-vertex base rides along as union rows (c=0, b=base), so
    # groupBy(v) computes `(85*sum(c)) div 100 + sum(b)` in one pass:
    # exactly one base row per vertex reproduces the old
    # `base + (85*coalesce(m,0)) div 100` bit-for-bit (sum(c)=0 for
    # sinks), with map-side partial sums (guide §2.3/§2.4).
    base_rows = verts.select(
        "v",
        F.lit(0).cast("bigint").alias("c"),
        F.when(F.col("is_seed"), F.lit(base).cast("bigint"))
        .otherwise(F.lit(0).cast("bigint"))
        .alias("b"),
    ).localCheckpoint(eager=False)
    for i in range(iters):
        contrib = ed.join(ranks.withColumnRenamed("v", "s"), "s").select(
            F.col("t").alias("v"),
            F.expr("r div outdeg").alias("c"),
            F.lit(0).cast("bigint").alias("b"),
        )
        ranks = (
            base_rows.unionByName(contrib)
            .groupBy("v")
            .agg(
                (F.expr("(85 * sum(c)) div 100") + F.sum("b"))
                .cast("bigint")
                .alias("r")
            )
        )
        # r11 (2nd pass): `ranks` is referenced exactly ONCE per round (the
        # contrib join), so the un-checkpointed plan nests LINEARLY and a
        # per-round barrier buys nothing — but costs a full Catalyst
        # compile per round, because even a lazy localCheckpoint plans the
        # accumulated query eagerly on the driver (Dataset.checkpoint
        # builds the RDD at call time). Measured at sf0.1: 7.5 s -> 5.5 s
        # for the 5-round central query, bit-identical ranks. A barrier
        # every 8th round keeps very deep iteration counts from compiling
        # O(depth^2) plan text while still letting the common shallow runs
        # (5 rounds here) compile exactly once at the caller's action.
        if (i + 1) % 8 == 0:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select(F.col("v").alias(id_col), F.col("r").alias(rank_col))


def pagerank_oracle(
    edges_sql: str,
    iters: int = 5,
    scale: int = 10**12,
    id_col: str = "id",
    rank_col: str = "rank_pp12",
    seeds_sql: str | None = None,
) -> str:
    """DuckDB twin of :func:`pagerank`: the power iteration unrolled into
    one CTE chain per round (fixed ``iters``, so no recursion needed).
    ``edges_sql`` must yield ``(src, dst)``; ``seeds_sql``, if given, must
    yield one column of seed vertex ids (personalized teleport). Every
    arithmetic step mirrors the Spark side's integer recurrence exactly
    (`//` floors like Spark's ``div`` on the non-negative operands used
    here)."""
    parts = [
        f"WITH edges AS (SELECT src, dst FROM ({edges_sql}) e0)",
        "deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)",
        "av AS (SELECT DISTINCT v FROM (SELECT src AS v FROM edges "
        "UNION ALL SELECT dst FROM edges) uv)",
    ]
    if seeds_sql is None:
        parts.append("verts AS (SELECT v, TRUE AS is_seed FROM av)")
        parts.append(
            f"nn AS (SELECT {scale} // count(*) AS base0, "
            f"(15 * ({scale} // count(*))) // 100 AS base FROM av)"
        )
    else:
        parts.append(
            f"sv AS (SELECT DISTINCT c AS v FROM ({seeds_sql}) s0(c) "
            "WHERE c IN (SELECT v FROM av))"
        )
        parts.append(
            "verts AS (SELECT av.v, av.v IN (SELECT v FROM sv) AS is_seed FROM av)"
        )
        parts.append(
            f"nn AS (SELECT {scale} // count(*) AS base0, "
            f"(15 * ({scale} // count(*))) // 100 AS base FROM sv)"
        )
    parts.append(
        "r0 AS (SELECT v, CAST(CASE WHEN is_seed THEN base0 ELSE 0 END AS BIGINT) AS r "
        "FROM verts CROSS JOIN nn)"
    )
    for i in range(1, iters + 1):
        parts.append(
            f"s{i} AS (SELECT e.dst AS v, sum(r.r // g.outdeg) AS m "
            f"FROM edges e JOIN r{i - 1} r ON e.src = r.v "
            "JOIN deg g ON e.src = g.src GROUP BY e.dst)"
        )
        parts.append(
            f"r{i} AS (SELECT verts.v, CAST("
            "CASE WHEN verts.is_seed THEN nn.base ELSE 0 END + "
            f"(85 * COALESCE(s{i}.m, 0)) // 100 AS BIGINT) AS r "
            f"FROM verts CROSS JOIN nn LEFT JOIN s{i} ON verts.v = s{i}.v)"
        )
    body = ",\n".join(parts)
    return f"{body}\nSELECT v AS {id_col}, r AS {rank_col} FROM r{iters}"


def triangle_counts(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
) -> DataFrame:
    """Per-vertex triangle counts via the degree-oriented node-iterator
    (Schank & Wagner 2005; the MapReduce formulation of Suri & Vassilvitskii,
    WWW'11). Triangles measure neighborhood density — on a near-dup or kNN
    graph they separate tight duplicate cliques from chance collisions
    (a band-LSH false positive rarely closes a triangle).

    The naive 3-way edge self-join explodes on hub vertices (a degree-d
    hub contributes d^2 wedge rows). Orienting every undirected edge from
    the (degree, id)-SMALLER endpoint to the larger makes each vertex's
    out-degree O(sqrt(|E|)) — the classic bound — so the wedge join
    ``e(a,b) x e(a,c)`` fans out quadratically only in the SMALL per-hub
    out-degrees, and each triangle appears exactly once (its unique
    order-minimal vertex is the wedge center). Three hash shuffles total:
    degree count, wedge build keyed on the center, wedge-closure join
    keyed on the (b, c) edge. Returns ``(id_col, triangles)`` for
    vertices in at least one triangle.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        und.select(F.col("u").alias("x"))
        .union(und.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient by (degree, id): edge goes from the smaller (d, id) endpoint
    ordered = (
        und.join(deg.select(F.col("x").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("x").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
            )
            .otherwise(F.struct(F.col("v").alias("a"), F.col("u").alias("b")))
            .alias("e")
        )
        .select("e.a", "e.b")
        .localCheckpoint(eager=False)
    )
    wedges = (
        ordered.select(F.col("a"), F.col("b").alias("w1"))
        .join(ordered.select(F.col("a"), F.col("b").alias("w2")), "a")
        .filter(F.col("w1") < F.col("w2"))
    )
    tris = wedges.join(
        und.select(F.col("u").alias("w1"), F.col("v").alias("w2")),
        ["w1", "w2"],
    )
    return (
        tris.select(
            F.explode(F.array(F.col("a"), F.col("w1"), F.col("w2"))).alias(id_col)
        )
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("triangles"))
    )


def triangle_counts_oracle(edges_sql: str, id_col: str = "id") -> str:
    """DuckDB twin of :func:`triangle_counts` — the same oriented wedge
    join, so hub behavior and output agree structurally."""
    return f"""
WITH e0 AS (SELECT src, dst FROM ({edges_sql}) q),
und AS (
  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
  FROM e0 WHERE src <> dst
),
deg AS (
  SELECT x, count(*) AS d FROM (
    SELECT u AS x FROM und UNION ALL SELECT v FROM und
  ) t GROUP BY x
),
ordered AS (
  SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND und.u < und.v)
              THEN und.u ELSE und.v END AS a,
         CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND und.u < und.v)
              THEN und.v ELSE und.u END AS b
  FROM und JOIN deg du ON und.u = du.x JOIN deg dv ON und.v = dv.x
),
tris AS (
  SELECT w.a, w.w1, w.w2
  FROM (SELECT x.a, x.b AS w1, y.b AS w2
        FROM ordered x JOIN ordered y ON x.a = y.a AND x.b < y.b) w
  JOIN und ON und.u = w.w1 AND und.v = w.w2
)
SELECT {id_col}, CAST(count(*) AS BIGINT) AS triangles
FROM (
  SELECT a AS {id_col} FROM tris
  UNION ALL SELECT w1 FROM tris
  UNION ALL SELECT w2 FROM tris
) x GROUP BY {id_col}
"""


def connected_components_oracle(pairs_sql: str, vertices_sql: str, id_col: str = "id") -> str:
    """DuckDB twin: transitive closure via WITH RECURSIVE reachability, then
    min reachable id per vertex. ``pairs_sql`` must yield (a_id, b_id);
    ``vertices_sql`` must yield (<id_col>). Exponential-state-free because
    UNION (not UNION ALL) dedups the frontier."""
    return f"""
WITH RECURSIVE pairs AS (SELECT * FROM ({pairs_sql}) p),
edges AS (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION
  SELECT b_id AS u, a_id AS v FROM pairs
),
verts AS (SELECT DISTINCT {id_col} AS u FROM ({vertices_sql}) vv),
walk(u, reach) AS (
  SELECT u, u FROM verts
  UNION
  SELECT w.u, e.v FROM walk w JOIN edges e ON w.reach = e.u
)
SELECT u AS {id_col}, min(reach) AS cluster_id FROM walk GROUP BY u
"""


def kcore(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
) -> DataFrame:
    """k-core decomposition by iterative peeling (Batagelj & Zaveršnik
    2003; the distributed round-synchronous form): repeatedly drop every
    vertex whose degree in the SURVIVING graph is < k, until stable. On a
    near-dup or kNN graph the k-core isolates the dense duplicate families
    — vertices kept only by chains of weak links peel away, cores of
    mutually-similar documents survive.

    ``rounds`` is an upper bound with an exit at the fixpoint: the loop
    (:func:`_fixpoint`) probes each round's failing set (``deg < k``) and
    stops once it is empty. A peel with an empty failing set changes
    nothing, so the rows equal those of exactly ``rounds`` passes, the
    oracle's unrolled chain, converged or not (pytest pins a long chain,
    where each pass removes only the endpoints: the adversarial case). A
    k-NN graph with at least k distinct neighbours per vertex is its own
    k-core, so it runs no pass at all.

    The edge set is SYMMETRIZED once, so a vertex's degree is one
    partial-aggregable ``groupBy(s).count()`` (no sort anywhere), and the
    probe is that aggregate read through ``isEmpty``, which materialises
    the round's lazy cut. A pass drops every edge with a failing endpoint
    by two left-ANTI joins against the failing set, which on a peeling
    graph is small enough to broadcast; both endpoints are judged against
    the same round-start snapshot, the exact Batagelj-Zaveršnik round
    peel. A pass references the surviving table twice (degree + join), so
    the per-round cut keeps the plan from re-running it 2^rounds times.

    Returns ``(id_col, core_degree)`` — vertices of the ``rounds``-peeled
    graph with degree >= k, and that degree.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    s = e.select(F.col("u").alias("s"), F.col("v").alias("d")).union(
        e.select(F.col("v").alias("s"), F.col("u").alias("d"))
    )

    def degrees(s: DataFrame) -> DataFrame:
        return s.groupBy("s").agg(F.count(F.lit(1)).alias("dg"))

    def failing(s: DataFrame) -> DataFrame:
        return degrees(s).filter(F.col("dg") < k).select("s")

    def peel(s: DataFrame) -> DataFrame:
        bad = failing(s)
        return (
            s.join(bad, "s", "left_anti")
            .join(bad.withColumnRenamed("s", "d"), "d", "left_anti")
            .select("s", "d")
        )

    s = _fixpoint(s, peel, lambda s: failing(s).isEmpty(), rounds)
    return degrees(s).filter(F.col("dg") >= k).select(
        F.col("s").alias(id_col), F.col("dg").cast("bigint").alias("core_degree")
    )


def kcore_oracle(
    edges_sql: str, k: int = 3, rounds: int = 6, id_col: str = "id"
) -> str:
    """DuckDB twin of :func:`kcore`: all ``rounds`` peel passes unrolled
    into a CTE chain (degree -> survivors -> filtered edges per pass).
    :func:`kcore` stops early only at its fixpoint, where further passes
    change nothing, so the engines agree with no convergence assumption."""
    # every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and each peel
    # round references the previous one ~5x (FROM + two IN-subqueries via
    # the degree CTE), so an inlined chain expands 5^rounds copies of the
    # base scan and dies on file handles before it dies on CPU
    parts = [
        f"WITH e0raw AS MATERIALIZED (SELECT src, dst FROM ({edges_sql}) q)",
        "e0 AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u, "
        "greatest(src, dst) AS v FROM e0raw WHERE src <> dst)",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT x, count(*) AS d FROM "
            f"(SELECT u AS x FROM e{i-1} UNION ALL SELECT v FROM e{i-1}) t GROUP BY x)"
        )
        parts.append(f"s{i} AS MATERIALIZED (SELECT x FROM d{i} WHERE d >= {k})")
        parts.append(
            f"e{i} AS MATERIALIZED (SELECT u, v FROM e{i-1} "
            f"WHERE u IN (SELECT x FROM s{i}) AND v IN (SELECT x FROM s{i}))"
        )
    parts.append(
        f"dfin AS (SELECT x, count(*) AS d FROM "
        f"(SELECT u AS x FROM e{rounds} UNION ALL SELECT v FROM e{rounds}) t GROUP BY x)"
    )
    body = ",\n".join(parts)
    return (
        f"{body}\nSELECT x AS {id_col}, CAST(d AS BIGINT) AS core_degree "
        f"FROM dfin WHERE d >= {k}"
    )
