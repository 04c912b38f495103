"""Similarity search over embedding columns (SURVEY.md §2.8).

Brute-force cosine top-k as the correctness baseline, and an LSH-bucketed
variant (random-hyperplane signs) as the scale path: at 100 TB you never
all-pairs-join embeddings — you bucket by an r-bit hyperplane signature so
the candidate join touches ~N/2^r of the corpus per probe, then re-rank
exactly within candidates.

All arithmetic is done in float64 with explicit casts on both engines; the
driver-facing queries round similarities to 6 decimals, which the parity
probe showed is stable across Spark and DuckDB at this scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from map_spark_sql_spark.functions.keys import stable_hash, stable_hash_sql


def _vec_lit(vec: list[float], d: str) -> str:
    body = ",".join(f"CAST({float(x)!r} AS DOUBLE)" for x in vec)
    return f"array({body})" if d == "spark" else f"[{body}]"


def dot_sql(col: str, vec: list[float], d: str) -> str:
    lit = _vec_lit(vec, d)
    if d == "spark":
        return (
            f"aggregate(zip_with({col}, {lit}, (a, b) -> CAST(a AS DOUBLE) * b), "
            f"CAST(0 AS DOUBLE), (s, x) -> s + x)"
        )
    return (
        f"list_sum(list_transform(list_zip({col}, {lit}), "
        f"t -> CAST(t[1] AS DOUBLE) * t[2]))"
    )


def norm_sql(col: str, d: str) -> str:
    if d == "spark":
        return (
            f"sqrt(aggregate(transform({col}, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE)), "
            f"CAST(0 AS DOUBLE), (s, x) -> s + x))"
        )
    return f"sqrt(list_sum(list_transform({col}, a -> CAST(a AS DOUBLE) * CAST(a AS DOUBLE))))"


def cosine_sql(col: str, vec: list[float], d: str, ndigits: int = 6) -> str:
    qn = sum(float(x) * float(x) for x in vec) ** 0.5
    return f"round({dot_sql(col, vec, d)} / ({norm_sql(col, d)} * {qn!r}), {ndigits})"


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k: one scan, no shuffle until the final top-k
    (Spark runs TakeOrderedAndProject — per-partition heaps, driver merge).
    Ties break on id for determinism."""
    sim = F.expr(cosine_sql(vec_col, query_vec, "spark"))
    return (
        df.select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.desc("sim"), F.col(id_col))
        .limit(k)
    )


def dot_cols_sql(a: str, b: str, d: str) -> str:
    """Dot product between two array *columns* (vs :func:`dot_sql`'s
    column x literal)."""
    if d == "spark":
        return (
            f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            f"CAST(0 AS DOUBLE), (s, x) -> s + x)"
        )
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))"
    )


def cosine_cols_sql(a: str, b: str, d: str) -> str:
    return f"({dot_cols_sql(a, b, d)} / ({norm_sql(a, d)} * {norm_sql(b, d)}))"


# --- k-means coarse quantizer (Lloyd's algorithm as DataFrame ops) -----------


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> DataFrame:
    """Cosine k-means: seed with the first ``k`` vectors by id, then
    ``n_iter`` Lloyd rounds of (assign to nearest centroid, recompute
    element-wise means). Fully deterministic: fixed seed, all tie-breaks on
    the lower centroid id, and centroids QUANTIZED to ``round_digits``
    decimals after every mean step — that last part is what makes the fit
    reproducible across engines (mean summation order differs between
    executors/engines by ~1e-15; rounding collapses the drift so a DuckDB
    twin computes bit-identical centroids).

    Scale shape per round: the assignment is a broadcast cross join against
    ``k`` rows followed by a ``min_by`` hash aggregate — the argmax is a
    partial-aggregable groupBy (map-side combine collapses the N x k rows to
    N before the exchange), NOT a row_number window, which would sort-shuffle
    all N x k rows per Lloyd round. The mean recomputation explodes to
    (rows x dim) and aggregates on (cid, pos) — a single wide shuffle keyed
    well below skew territory. ``n_iter`` is a small constant; each round's
    centroid table (k x dim doubles) passes through the driver like any
    broadcast dimension.
    """
    cent = df.filter(F.col(id_col) < k).select(
        F.col(id_col).alias("cid"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("cvec"),
    )
    ccos = F.expr(cosine_cols_sql(vec_col, "cvec", "spark"))
    for _ in range(n_iter):
        # min over struct(-ccos, cid) == (max cosine, ties -> lower cid):
        # exactly the row_number()-over-(ccos DESC, cid) pick, as a hash agg.
        # The vector rides along via first(): identical in every group row.
        assign = (
            df.crossJoin(F.broadcast(cent))
            .withColumn("ccos", ccos)
            .groupBy(id_col)
            .agg(
                F.expr("min_by(cid, struct(-ccos, cid))").alias("cid"),
                F.first(vec_col).alias(vec_col),
            )
        )
        means = (
            assign.select("cid", F.posexplode(vec_col).alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.round(F.avg(F.col("val").cast("double")), round_digits).alias("val"))
            .groupBy("cid")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(pos, val))), s -> s.val)"
                ).alias("nvec")
            )
        )
        # a centroid that lost every member keeps its previous position
        cent = (
            cent.join(means, "cid", "left")
            .select("cid", F.coalesce("nvec", "cvec").alias("cvec"))
            # under AQE this lazy cut still runs the round's shuffle
            # stages at build time (12 build jobs for
            # similarity_topk_ivf_trained). It stays: a round references
            # `cent` twice, and that query is ~1.5x slower without it
            # (sf0.1, 4 cores: 1.50-1.82 s -> 2.38-2.68 s, same rows)
            .localCheckpoint(eager=False)
        )
    return cent


def kmeans_cent_sql(
    table: str,
    k: int = 8,
    n_iter: int = 2,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_digits: int = 6,
) -> str:
    """DuckDB twin of :func:`kmeans_fit`: the Lloyd rounds unrolled as a CTE
    chain, producing relation ``(cid, cvec)``. Iterative algorithms aren't
    generally SQL-expressible, but a FIXED iteration count is — which is
    exactly what the quantized fit needs for oracle parity."""
    d = "duckdb"
    ccos = cosine_cols_sql(f"e.{vec_col}", "c.cvec", d)
    ctes = [
        f"positions AS (SELECT unnest(generate_series(1, {dim})) AS pos)",
        f"cent0 AS (SELECT {id_col} AS cid, "
        f"list_transform({vec_col}, x -> CAST(x AS DOUBLE)) AS cvec "
        f"FROM {table} WHERE {id_col} < {k})",
    ]
    for i in range(n_iter):
        ctes.append(
            f"a{i} AS (SELECT e.{id_col}, c.cid, row_number() OVER ("
            f"PARTITION BY e.{id_col} ORDER BY {ccos} DESC, c.cid) AS rn "
            f"FROM {table} e CROSS JOIN cent{i} c)"
        )
        ctes.append(f"asg{i} AS (SELECT {id_col}, cid FROM a{i} WHERE rn = 1)")
        ctes.append(
            f"m{i} AS (SELECT a.cid, p.pos, "
            f"round(avg(CAST(e.{vec_col}[p.pos] AS DOUBLE)), {round_digits}) AS val "
            f"FROM asg{i} a JOIN {table} e USING ({id_col}) CROSS JOIN positions p "
            f"GROUP BY a.cid, p.pos)"
        )
        ctes.append(
            f"n{i} AS (SELECT cid, list(val ORDER BY pos) AS nvec FROM m{i} GROUP BY cid)"
        )
        ctes.append(
            f"cent{i + 1} AS (SELECT c.cid, coalesce(n.nvec, c.cvec) AS cvec "
            f"FROM cent{i} c LEFT JOIN n{i} n USING (cid))"
        )
    return "WITH " + ",\n".join(ctes) + f"\nSELECT cid, cvec FROM cent{n_iter}"


# --- IVF (inverted-file index with coarse quantizer) -------------------------


def cosine_topk_ivf(
    df: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    query_id: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: assign every vector to its nearest coarse
    centroid, probe only the ``nprobe`` centroids closest to the query, and
    re-rank candidates exactly.

    The coarse quantizer is deterministic — the first ``n_centroids`` vectors
    by id, or a caller-supplied ``centroids`` relation ``(cid, cvec)`` such
    as a :func:`kmeans_fit` result.
    Scale shape: assignment is a broadcast cross join against ``n_centroids``
    rows followed by a ``min_by`` hash aggregate (map-side combine collapses
    the N x n_centroids rows to N before the exchange — no row_number sort
    shuffle); the probe filter keeps ~nprobe/n_centroids of the corpus
    before the exact re-rank, which is the whole point of IVF at 100 TB. All
    tie-breaks (equal cosine) resolve to the lower centroid/vector id so the
    result is reproducible and oracle-checkable.

    r12 shape: the vector RIDES the assignment aggregate (``first`` over
    the n_centroids identical copies in each id group) instead of being
    re-joined afterwards — the r11 plan re-READ the whole corpus for the
    re-rank and joined it against the candidate ids (a broadcast join at
    bench scale, but the candidate set is ~nprobe/n_centroids of the
    CORPUS, so past the broadcast bound that join becomes a full SMJ
    shuffle+sort of the embedding table keyed on ids — exactly the
    re-attach trap of guide §8.4). Now one corpus scan feeds everything;
    the aggregate's exchange carries the embedding once and the probe
    membership is a semi-join on its output (plan: 6 -> 5 scans, the
    remaining ones centroid/query-pruned; identical rows, oracle
    hash-match at both SFs).
    """
    if centroids is not None:
        cent = centroids.select("cid", "cvec")
    else:
        cent = df.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
        )
    ccos = F.expr(cosine_cols_sql(vec_col, "cvec", "spark"))
    # min struct(-ccos, cid) == (max cosine, ties -> lower cid); matches the
    # oracle's row_number() OVER (ORDER BY ccos DESC, cid) = 1 pick exactly.
    # first(vec) is deterministic here: every row in an id group carries the
    # SAME embedding (the group is that vector x n_centroids centroid rows).
    assign = (
        df.crossJoin(F.broadcast(cent))
        .withColumn("ccos", ccos)
        .groupBy(id_col)
        .agg(
            F.expr("min_by(cid, struct(-ccos, cid))").alias("cid"),
            F.first(vec_col).alias(vec_col),
        )
    )
    q = df.filter(F.col(id_col) == query_id).select(F.col(vec_col).alias("qe"))
    qcos_c = F.expr(cosine_cols_sql("cvec", "qe", "spark"))
    probes = (
        cent.crossJoin(F.broadcast(q))
        .withColumn("qcos", qcos_c)
        .orderBy(F.desc("qcos"), F.col("cid"))
        .limit(nprobe)
        .select("cid")
    )
    sim = F.round(F.expr(cosine_cols_sql(vec_col, "qe", "spark")), 6)
    return (
        assign.join(F.broadcast(probes), "cid")
        .filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.desc("sim"), F.col(id_col))
        .limit(k)
    )


def cosine_topk_ivf_oracle(
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    query_id: int = 0,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cent_sql: str | None = None,
) -> str:
    """DuckDB twin of :func:`cosine_topk_ivf` — identical assignment, probe,
    and tie-break logic as chained CTEs. ``cent_sql`` overrides the
    first-k-by-id quantizer with any (cid, cvec) query, e.g.
    :func:`kmeans_cent_sql`."""
    d = "duckdb"
    ccos = cosine_cols_sql(vec_col, "cvec", d)
    qcos_c = cosine_cols_sql("cvec", "qe", d)
    sim = cosine_cols_sql(vec_col, "qe", d)
    cent_body = (
        cent_sql
        if cent_sql is not None
        else f"SELECT {id_col} AS cid, {vec_col} AS cvec FROM {table} WHERE {id_col} < {n_centroids}"
    )
    return f"""
WITH cent AS (SELECT * FROM ({cent_body}) cb),
assign0 AS (
  SELECT e.{id_col}, c.cid,
         row_number() OVER (PARTITION BY e.{id_col} ORDER BY {ccos} DESC, c.cid) AS rn
  FROM {table} e CROSS JOIN cent c),
assign AS (SELECT {id_col}, cid FROM assign0 WHERE rn = 1),
q AS (SELECT {vec_col} AS qe FROM {table} WHERE {id_col} = {query_id}),
probes AS (
  SELECT cid FROM cent CROSS JOIN q ORDER BY {qcos_c} DESC, cid LIMIT {nprobe}),
cands AS (SELECT {id_col} FROM assign JOIN probes USING (cid))
SELECT e.{id_col}, round({sim}, 6) AS sim
FROM {table} e JOIN cands USING ({id_col}) CROSS JOIN q
WHERE e.{id_col} <> {query_id}
ORDER BY sim DESC, e.{id_col} LIMIT {k}
"""


# --- two-stage (matryoshka-style) prefix re-rank ------------------------------


def _prefix_sql(col: str, p: int, d: str) -> str:
    """First ``p`` dimensions of an array column (1-based in both dialects)."""
    return f"slice({col}, 1, {p})" if d == "spark" else f"{col}[1:{p}]"


def cosine_topk_two_stage(
    df: DataFrame,
    k: int = 10,
    prefix_dims: int = 8,
    shortlist: int = 50,
    query_id: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage ANN: rank the corpus by a CHEAP coarse score — the raw dot
    product of the first ``prefix_dims`` dimensions (the matryoshka /
    truncated-embedding trick) — keep a ``shortlist``, then re-rank only the
    shortlist with the exact full-dimension cosine. With prefix-truncation-
    trained embeddings the prefix preserves most of the ordering, so
    recall@k stays high while stage 1 reads and multiplies
    ``dim / prefix_dims`` fewer floats per row.

    Scale shape: stage 1 is a zero-shuffle TakeOrderedAndProject over the
    scan (per-partition ``shortlist``-row heaps, driver merge of
    #partitions heaps); stage 2 touches ``shortlist`` rows total. The
    coarse dot is a per-row left-to-right fold of ``prefix_dims`` IEEE
    products, so its value — and therefore the shortlist boundary — is
    bit-identical across engines; all ties break on id.
    """
    q = df.filter(F.col(id_col) == query_id).select(F.col(vec_col).alias("qe"))
    coarse = F.expr(
        dot_cols_sql(
            _prefix_sql(vec_col, prefix_dims, "spark"),
            _prefix_sql("qe", prefix_dims, "spark"),
            "spark",
        )
    )
    short = (
        df.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .withColumn("coarse", coarse)
        .orderBy(F.desc("coarse"), F.col(id_col))
        .limit(shortlist)
    )
    sim = F.round(F.expr(cosine_cols_sql(vec_col, "qe", "spark")), 6)
    return (
        short.select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.desc("sim"), F.col(id_col))
        .limit(k)
    )


def cosine_topk_two_stage_oracle(
    k: int = 10,
    prefix_dims: int = 8,
    shortlist: int = 50,
    query_id: int = 0,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin of :func:`cosine_topk_two_stage` — identical coarse
    ordering (same fold order over the same prefix), shortlist, and exact
    re-rank."""
    d = "duckdb"
    coarse = dot_cols_sql(
        _prefix_sql(f"e.{vec_col}", prefix_dims, d), _prefix_sql("q.qe", prefix_dims, d), d
    )
    sim = cosine_cols_sql(f"s.{vec_col}", "s.qe", d)
    return f"""
WITH q AS (SELECT {vec_col} AS qe FROM {table} WHERE {id_col} = {query_id}),
short AS (
  SELECT e.{id_col}, e.{vec_col}, q.qe
  FROM {table} e CROSS JOIN q
  WHERE e.{id_col} <> {query_id}
  ORDER BY {coarse} DESC, e.{id_col}
  LIMIT {shortlist})
SELECT s.{id_col} AS {id_col}, round({sim}, 6) AS sim
FROM short s
ORDER BY sim DESC, s.{id_col} LIMIT {k}
"""


# --- LSH (random hyperplane) ------------------------------------------------


def _hyperplane(dim: int, seed: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from the md5-based
    hash (no RNG dependency, reproducible across engines and sessions)."""
    import hashlib

    out = []
    for i in range(dim):
        h = hashlib.md5(f"hp:{seed}:{i}".encode()).digest()
        v = int.from_bytes(h[:4], "big")
        out.append((v / 2**31) - 1.0)  # [-1, 1)
    return out


def lsh_signature_sql(col: str, dim: int, bits: int, d: str, seed_offset: int = 0) -> str:
    """``seed_offset`` selects a disjoint hyperplane family, giving
    independent hash TABLES (multi-table LSH) from the same deterministic
    generator; the default 0 preserves every existing signature."""
    terms = []
    for b in range(bits):
        hp = _hyperplane(dim, seed_offset + b)
        terms.append(f"CASE WHEN {dot_sql(col, hp, d)} >= 0 THEN {1 << b} ELSE 0 END")
    return "CAST((" + " + ".join(terms) + ") AS BIGINT)"


def cosine_pairs_lsh(
    df: DataFrame,
    dim: int = 64,
    bits: int = 8,
    threshold: float = 0.8,
    max_bucket: int = 1000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Near-neighbor pairs: bucket by hyperplane signature, pair ONLY within
    buckets, then exact cosine re-rank. The bucketing caps candidate pairs
    at sum(bucket^2) instead of N^2, and ``max_bucket`` drops degenerate
    buckets (a signature holding >max_bucket vectors means the hyperplane
    family is under-parameterized for the data's density — re-hash with more
    ``bits`` rather than letting one bucket go quadratic; the 10x-scale
    sweep measured 8.9M pairs / 9 minutes from 10 cluster-collapsed buckets
    before this guard existed). The cap is NOT silent: run
    :func:`lsh_bucket_stats` with the same (dim, bits, max_bucket) to get
    the per-bucket membership counts, which buckets were dropped, and how
    many candidate pairs the cap skipped — the no-silent-caps companion
    every bounded stage owes its callers. Same shape as
    ``dedup.ngram_jaccard_pairs``:
    join-free in-bucket fan-out from a sorted member list, and its fan-out
    rule (the bucket key is repartitioned before the groupBy).
    """
    # r11: the L2 norm is a per-MEMBER quantity, but the old plan evaluated
    # it per PAIR (norm_sql over a_vec and b_vec inside the exploded
    # candidate row) — two interpreted 64-element HOF reductions per
    # candidate where one suffices per vector. Computing it once in ``sig``
    # and carrying it through the member struct leaves only the dot product
    # as per-pair work (guide §1.2 step 2). Bit-identical: the norm is the
    # same expression over the same values, and the sim formula
    # ``round(dot / (na * nb), 6)`` is unchanged.
    sig = df.select(
        F.col(id_col),
        F.col(vec_col),
        F.expr(norm_sql(vec_col, "spark")).alias("nrm"),
        F.expr(lsh_signature_sql(vec_col, dim, bits, "spark")).alias("bucket"),
    )
    # Same fan-out rule as dedup.ngram_jaccard_pairs.
    par = df.sparkSession.sparkContext.defaultParallelism
    buckets = (
        sig.repartition(par, "bucket")
        .groupBy("bucket")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col(id_col).alias("id"),
                        F.col(vec_col).alias("vec"),
                        F.col("nrm").alias("nrm"),
                    )
                )
            ).alias("ms")
        )
        .filter((F.size("ms") > 1) & (F.size("ms") <= max_bucket))
    )
    pairs = F.expr(
        "flatten(transform(ms, (a, i) -> "
        "transform(slice(ms, i + 2, size(ms) - i - 1), "
        "b -> struct(a.id AS a_id, a.vec AS a_vec, a.nrm AS a_nrm, "
        "b.id AS b_id, b.vec AS b_vec, b.nrm AS b_nrm))))"
    )
    dot = F.expr(
        "aggregate(zip_with(a_vec, b_vec, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (s, x) -> s + x)"
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.a_id", "p.b_id", "p.a_vec", "p.b_vec", "p.a_nrm", "p.b_nrm")
        .withColumn("sim", F.round(dot / (F.col("a_nrm") * F.col("b_nrm")), 6))
        .filter(F.col("sim") >= threshold)
        .select("a_id", "b_id", "sim")
    )


def cosine_pairs_lsh_oracle(
    dim: int = 64,
    bits: int = 8,
    threshold: float = 0.8,
    max_bucket: int = 1000,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """Mirrors :func:`cosine_pairs_lsh` INCLUDING the ``max_bucket``
    degenerate-bucket guard (SCALE.md: every bounded-stage guard must appear
    in both engines or the gate diverges exactly when a bucket fills).

    The guard applies to ``sig`` BEFORE the bucket self-join (``kept`` CTE)
    rather than as a ``bucket IN (...)`` predicate on the join output: the
    100x rung showed DuckDB evaluating that form as a mark join AFTER
    materializing the quadratic candidate set — ~40 min computing 300M
    cosines the guard then discarded. Structurally pre-filtered, the same
    query is seconds. Identical result set."""
    sig = lsh_signature_sql(vec_col, dim, bits, "duckdb")
    dot = (
        "list_sum(list_transform(list_zip(a_vec, b_vec), "
        "t -> CAST(t[1] AS DOUBLE) * CAST(t[2] AS DOUBLE)))"
    )
    na = norm_sql("a_vec", "duckdb")
    nb = norm_sql("b_vec", "duckdb")
    return f"""
WITH sig AS (SELECT {id_col}, {vec_col}, {sig} AS bucket FROM {table}),
ok AS (SELECT bucket FROM sig GROUP BY bucket
       HAVING count(*) > 1 AND count(*) <= {max_bucket}),
kept AS (SELECT s.* FROM sig s JOIN ok USING (bucket)),
cand AS (SELECT a.{id_col} AS a_id, b.{id_col} AS b_id,
                a.{vec_col} AS a_vec, b.{vec_col} AS b_vec
         FROM kept a JOIN kept b USING (bucket)
         WHERE a.{id_col} < b.{id_col})
SELECT a_id, b_id, round({dot} / ({na} * {nb}), 6) AS sim
FROM cand WHERE round({dot} / ({na} * {nb}), 6) >= {threshold}
"""


def lsh_bucket_stats(
    df: DataFrame,
    dim: int = 64,
    bits: int = 8,
    max_bucket: int = 1000,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Coverage diagnostic for :func:`cosine_pairs_lsh`'s ``max_bucket``
    guard: one row per non-trivial signature bucket with its membership
    count, whether the guard drops it, and the number of in-bucket candidate
    pairs that drop with it (``n*(n-1)/2``). A caller that sees
    ``sum(pairs_skipped) > 0`` knows the pair result under-covers and by how
    much — the guard never fails silently. Costs one hash aggregate over the
    signature pass (tiny next to the pair join it diagnoses)."""
    sig = df.select(
        F.expr(lsh_signature_sql(vec_col, dim, bits, "spark")).alias("bucket")
    )
    n = F.col("n_vectors")
    return (
        sig.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .filter(n > 1)
        .select(
            "bucket",
            "n_vectors",
            (n > max_bucket).alias("dropped"),
            F.when(n > max_bucket, (n * (n - 1) / 2).cast("long"))
            .otherwise(F.lit(0))
            .alias("pairs_skipped"),
        )
    )


def lsh_bucket_stats_oracle(
    dim: int = 64,
    bits: int = 8,
    max_bucket: int = 1000,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    sig = lsh_signature_sql(vec_col, dim, bits, "duckdb")
    return f"""
WITH sig AS (SELECT {sig} AS bucket FROM {table}),
g AS (SELECT bucket, count(*) AS n_vectors FROM sig GROUP BY bucket HAVING count(*) > 1)
SELECT bucket, n_vectors,
       n_vectors > {max_bucket} AS dropped,
       CAST(CASE WHEN n_vectors > {max_bucket}
                 THEN n_vectors * (n_vectors - 1) / 2 ELSE 0 END AS BIGINT) AS pairs_skipped
FROM g
"""


# --- embedding centroids / nearest-centroid labeling -------------------------


def embedding_centroids(
    df: DataFrame,
    by: str = "label",
    dim: int = 64,
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Element-wise mean embedding per group (class prototype / mean
    pooling): posexplode -> per-(group, pos) average -> rebuild, the same
    one-wide-shuffle shape as the k-means mean step. Components are rounded
    for cross-engine reproducibility (see kmeans_fit). Returns
    ``(by, cvec)``."""
    return (
        df.select(F.col(by), F.posexplode(vec_col).alias("pos", "val"))
        .groupBy(by, "pos")
        .agg(F.round(F.avg(F.col("val").cast("double")), round_digits).alias("val"))
        .groupBy(by)
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(pos, val))), s -> s.val)"
            ).alias("cvec")
        )
    )


def embedding_centroids_sql(
    by: str = "label",
    dim: int = 64,
    table: str = "embeddings",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> str:
    """DuckDB twin of :func:`embedding_centroids` (relation: (by, cvec))."""
    return f"""
WITH positions AS (SELECT unnest(generate_series(1, {dim})) AS pos),
m AS (
  SELECT e.{by}, p.pos,
         round(avg(CAST(e.{vec_col}[p.pos] AS DOUBLE)), {round_digits}) AS val
  FROM {table} e CROSS JOIN positions p GROUP BY e.{by}, p.pos
)
SELECT {by}, list(val ORDER BY pos) AS cvec FROM m GROUP BY {by}
"""


def nearest_centroid_confusion(
    df: DataFrame,
    by: str = "label",
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Embedding-quality eval: assign every vector to its nearest class
    centroid by cosine and cross-tabulate true vs assigned label. A sharp
    diagonal means the embedding space separates the classes. Broadcast
    centroid table; ties on the lower label. The per-vector argmax is a
    ``min_by`` hash aggregate (partial-aggregable; no row_number sort
    shuffle of N x n_labels rows): min struct(-ccos, assigned) picks max
    cosine with ties to the lexicographically-lower label, matching the
    oracle's window pick."""
    cent = embedding_centroids(df, by, dim, vec_col).select(
        F.col(by).alias("assigned"), "cvec"
    )
    ccos = F.expr(cosine_cols_sql(vec_col, "cvec", "spark"))
    best = (
        df.crossJoin(F.broadcast(cent))
        .withColumn("ccos", ccos)
        .groupBy(id_col)
        .agg(
            F.expr("min_by(assigned, struct(-ccos, assigned))").alias("assigned"),
            F.first(by).alias("true_label"),
        )
    )
    return best.groupBy("true_label", "assigned").agg(F.count(F.lit(1)).alias("n"))


def nearest_centroid_confusion_oracle(
    by: str = "label",
    dim: int = 64,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    cent = embedding_centroids_sql(by, dim, table, vec_col)
    ccos = cosine_cols_sql(f"e.{vec_col}", "c.cvec", "duckdb")
    return f"""
WITH cent AS (SELECT {by} AS assigned, cvec FROM ({cent}) cc),
best0 AS (
  SELECT e.{id_col}, e.{by} AS true_label, c.assigned,
         row_number() OVER (PARTITION BY e.{id_col} ORDER BY {ccos} DESC, c.assigned) AS rn
  FROM {table} e CROSS JOIN cent c
)
SELECT true_label, assigned, count(*) AS n
FROM best0 WHERE rn = 1 GROUP BY true_label, assigned
"""


def knn_graph(
    df: DataFrame,
    k: int = 5,
    dim: int = 64,
    bits: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate kNN graph: LSH-bucketed candidate pairs (both
    directions), then per-vector top-k by exact cosine — the input graph
    for graph-based dedup/clustering. A vector only sees candidates sharing
    its hyperplane bucket, so recall follows the LSH contract; the per-
    vector top-k is one window shuffle over the candidate set (far smaller
    than N^2). Ties on (sim, neighbor id) for determinism."""
    from pyspark.sql import Window

    # r11 optimization: lineage cut before symmetrizing — the union's two
    # legs otherwise each re-run the whole LSH bucket pipeline (the r11
    # plan scanned the embedding table twice, once per leg); the lazy
    # checkpoint computes the pair table once and both legs scan the stored
    # blocks (guide §2.4: share one computation between same-keyed consumers).
    pairs = cosine_pairs_lsh(
        df, dim=dim, bits=bits, threshold=-1.0, vec_col=vec_col, id_col=id_col
    ).localCheckpoint(eager=False)
    sym = pairs.select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst"), "sim"
    ).unionByName(
        pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst"), "sim")
    )
    w = Window.partitionBy("src").orderBy(F.desc("sim"), F.col("dst"))
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src", "dst", "sim", "rank")
    )


def knn_graph_oracle(
    k: int = 5,
    dim: int = 64,
    bits: int = 6,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    pairs = cosine_pairs_lsh_oracle(
        dim=dim, bits=bits, threshold=-1.0, table=table, vec_col=vec_col, id_col=id_col
    )
    return f"""
WITH pairs AS (SELECT * FROM ({pairs}) p),
sym AS (
  SELECT a_id AS src, b_id AS dst, sim FROM pairs
  UNION ALL
  SELECT b_id AS src, a_id AS dst, sim FROM pairs
),
ranked AS (
  SELECT src, dst, sim,
         row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS rank
  FROM sym
)
SELECT src, dst, sim, CAST(rank AS INTEGER) AS rank FROM ranked WHERE rank <= {k}
"""


# --- int8 scalar quantization (SQ8) ------------------------------------------


def _sq8_sql(col: str, d: str) -> tuple[str, str]:
    """(quantized int array, quantized L2 norm) for an embedding column.

    Symmetric per-vector scalar quantization: scale = 127 / max|v_i|,
    q_i = round(v_i * scale). Both expressions are built from IEEE ops on
    identical inputs, so the integer codes are bit-identical across
    engines. The norm is sqrt of an exact integer sum.
    """
    if d == "spark":
        mx = f"greatest(array_max(transform({col}, a -> abs(CAST(a AS DOUBLE)))), CAST(1e-12 AS DOUBLE))"
        q = f"transform({col}, a -> CAST(round(CAST(a AS DOUBLE) * 127.0 / {mx}) AS BIGINT))"
        ss = f"aggregate({q}, CAST(0 AS BIGINT), (s, x) -> s + x * x)"
    else:
        mx = f"greatest(list_max(list_transform({col}, a -> abs(CAST(a AS DOUBLE)))), CAST(1e-12 AS DOUBLE))"
        q = f"list_transform({col}, a -> CAST(round(CAST(a AS DOUBLE) * 127.0 / {mx}) AS BIGINT))"
        ss = f"CAST(list_sum(list_transform({q}, x -> x * x)) AS BIGINT)"
    return q, f"sqrt(CAST({ss} AS DOUBLE))"


def _sq8_dot_sql(qa: str, qb: str, d: str) -> str:
    if d == "spark":
        return (
            f"aggregate(zip_with({qa}, {qb}, (x, y) -> x * y), "
            f"CAST(0 AS BIGINT), (s, x) -> s + x)"
        )
    return (
        f"CAST(list_sum(list_transform(list_zip({qa}, {qb}), "
        f"t -> t[1] * t[2])) AS BIGINT)"
    )


# --- PQ (product quantization + asymmetric distance) -------------------------


def _pq_codes_lut(
    df: DataFrame,
    m: int,
    n_codes: int,
    dim: int,
    query_id: int,
    vec_col: str,
    id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Shared PQ machinery: the per-(vector, subspace) code assignment and
    the query's ADC lookup table. Deterministic codebook = sub-slices of
    the first ``n_codes`` vectors by id (the IVF seeding convention)."""
    sub = dim // m
    spark_sess = df.sparkSession

    # (m, code, codeword-slice): sub-slices of the first n_codes vectors
    cb = (
        df.filter(F.col(id_col) < n_codes)
        .select(F.col(id_col).alias("code"), vec_col)
        .crossJoin(spark_sess.range(m).select(F.col("id").alias("msub")))
        .select(
            "msub",
            "code",
            F.expr(
                f"transform(slice({vec_col}, msub * {sub} + 1, {sub}), x -> CAST(x AS DOUBLE))"
            ).alias("cw"),
        )
    )

    # assign: per (vector, subspace) the L2-nearest codeword
    l2 = F.expr(
        "aggregate(zip_with(sv, cw, (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "CAST(0 AS DOUBLE), (s, x) -> s + x)"
    )
    sliced = df.select(
        F.col(id_col), F.col(vec_col)
    ).crossJoin(spark_sess.range(m).select(F.col("id").alias("msub"))).select(
        id_col,
        "msub",
        F.expr(f"slice({vec_col}, msub * {sub} + 1, {sub})").alias("sv"),
    )
    codes = (
        sliced.join(F.broadcast(cb), "msub")
        .withColumn("l2", l2)
        .groupBy(id_col, "msub")
        .agg(F.expr("min_by(code, struct(l2, code))").alias("code"))
    )

    # ADC lookup table: query subvector . codeword, per (subspace, code)
    q = df.filter(F.col(id_col) == query_id).select(F.col(vec_col).alias("qe"))
    lut = (
        cb.crossJoin(F.broadcast(q))
        .select(
            "msub",
            "code",
            F.expr(
                f"aggregate(zip_with(cw, slice(qe, msub * {sub} + 1, {sub}), "
                "(x, y) -> x * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (s, x) -> s + x)"
            ).alias("pdot"),
        )
    )
    return codes, lut


def pq_topk(
    df: DataFrame,
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    query_id: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Product-quantization top-k with asymmetric distance computation —
    the last rung of the ANN ladder (brute force -> IVF -> trained IVF ->
    SQ8 -> PQ). The vector splits into ``m`` subspaces of ``dim/m``
    components; each subvector is replaced by the id of its nearest
    codeword (deterministic codebook: the sub-slices of the first
    ``n_codes`` vectors by id — the same seeding convention as the IVF
    coarse quantizer); a query scores a database vector as the SUM of its
    per-subspace dot products with the vector's codewords (ADC: the query
    stays exact, only the database side is quantized).

    Why it matters at 100 TB: codes are ``m * log2(n_codes)`` bits per
    vector (here 8 x 4 = 4 bytes vs 256 bytes of float32 — 64x smaller),
    and scoring is ``m`` lookups into a broadcast table of
    ``m * n_codes`` precomputed dots instead of a ``dim``-wide float dot.

    Plan shape: codebook and lookup table are tiny broadcasts (m*n_codes
    rows); code assignment is one broadcast join + min_by hash aggregate
    per subspace batch (the N x (m*n_codes) fan-out collapses map-side);
    scoring is a broadcast lookup join + per-vector sum; the final top-k is
    TakeOrderedAndProject. No shuffle ever carries the full vectors except
    the one hash agg keyed on (id, subspace). All tie-breaks on the lower
    code/vector id. Output: ``(vec_id, approx_score, rank)``.
    """
    codes, lut = _pq_codes_lut(df, m, n_codes, dim, query_id, vec_col, id_col)

    from pyspark.sql import Window

    scored = (
        codes.join(F.broadcast(lut), ["msub", "code"])
        .groupBy(id_col)
        .agg(F.round(F.sum("pdot"), 6).alias("approx_score"))
        .filter(F.col(id_col) != query_id)
    )
    w = Window.orderBy(F.desc("approx_score"), F.asc(id_col))
    return (
        scored.orderBy(F.desc("approx_score"), F.asc(id_col))
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
    )


def pq_topk_oracle(
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    query_id: int = 0,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin of :func:`pq_topk`: identical codebook, assignment,
    lookup table, and tie-breaks as chained CTEs. L2 distances and partial
    dots are sums of products of identical doubles in both engines, so the
    integer code assignments are bit-reproducible."""
    sub = dim // m
    return f"""
WITH subs AS (SELECT unnest(generate_series(0, {m - 1})) AS msub),
cb AS (
  SELECT s.msub, e.{id_col} AS code,
         list_transform(list_slice(e.{vec_col}, s.msub * {sub} + 1, s.msub * {sub} + {sub}),
                        x -> CAST(x AS DOUBLE)) AS cw
  FROM {table} e CROSS JOIN subs s WHERE e.{id_col} < {n_codes}),
sliced AS (
  SELECT e.{id_col}, s.msub,
         list_slice(e.{vec_col}, s.msub * {sub} + 1, s.msub * {sub} + {sub}) AS sv
  FROM {table} e CROSS JOIN subs s),
cand AS (
  SELECT {id_col}, msub, code,
         list_sum(list_transform(list_zip(sv, cw),
             t -> (CAST(t[1] AS DOUBLE) - t[2]) * (CAST(t[1] AS DOUBLE) - t[2]))) AS l2
  FROM sliced JOIN cb USING (msub)),
assign AS (
  SELECT {id_col}, msub, code FROM (
    SELECT {id_col}, msub, code,
           row_number() OVER (PARTITION BY {id_col}, msub ORDER BY l2, code) AS rn
    FROM cand) r
  WHERE rn = 1),
q AS (SELECT {vec_col} AS qe FROM {table} WHERE {id_col} = {query_id}),
lut AS (
  SELECT cb.msub, cb.code,
         list_sum(list_transform(list_zip(cb.cw,
             list_slice(q.qe, cb.msub * {sub} + 1, cb.msub * {sub} + {sub})),
             t -> t[1] * CAST(t[2] AS DOUBLE))) AS pdot
  FROM cb CROSS JOIN q),
scored AS (
  SELECT a.{id_col}, round(sum(l.pdot), 6) AS approx_score
  FROM assign a JOIN lut l ON a.msub = l.msub AND a.code = l.code
  WHERE a.{id_col} <> {query_id}
  GROUP BY a.{id_col}),
topk AS (SELECT * FROM scored ORDER BY approx_score DESC, {id_col} LIMIT {k})
SELECT {id_col}, approx_score,
       CAST(row_number() OVER (ORDER BY approx_score DESC, {id_col}) AS INTEGER) AS rank
FROM topk
"""


def ivfpq_topk(
    df: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    query_id: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-PQ — the combination production ANN indexes actually deploy
    (FAISS IVFPQ): the IVF coarse quantizer prunes the corpus to the
    ``nprobe`` probed partitions, and PQ's asymmetric distance computation
    scores only the survivors from 4-byte codes. At 100 TB this is the
    only shape that wins on BOTH axes: the probe keeps
    ~nprobe/n_centroids of the rows, PQ keeps 1/64th of the bytes per
    scored row, and neither stage ever materializes a full-precision
    distance matrix.

    The codebook here quantizes raw vectors (not residuals against the
    coarse centroid, which real IVF-PQ uses for tighter error bounds) so
    the code table is shared verbatim with :func:`pq_topk` — the residual
    refinement is a constant change inside ``_pq_codes_lut``; the
    plumbing, plan shape, and oracle contract are the operator.

    Plan shape: both quantizers assign via broadcast cross join +
    ``min_by`` hash aggregate (map-side combined, no window); the probe
    set and ADC lookup table are tiny broadcasts; the candidate
    restriction is a hash join on id BEFORE the scoring join so pruned
    rows never touch the LUT; top-k is TakeOrderedAndProject. Ties break
    on the lower centroid/code/vector id everywhere.
    Output: ``(vec_id, approx_score, rank)``.
    """
    cent = df.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
    )
    ccos = F.expr(cosine_cols_sql(vec_col, "cvec", "spark"))
    assign = (
        df.crossJoin(F.broadcast(cent))
        .withColumn("ccos", ccos)
        .groupBy(id_col)
        .agg(F.expr("min_by(cid, struct(-ccos, cid))").alias("cid"))
    )
    q = df.filter(F.col(id_col) == query_id).select(F.col(vec_col).alias("qe"))
    qcos_c = F.expr(cosine_cols_sql("cvec", "qe", "spark"))
    probes = (
        cent.crossJoin(F.broadcast(q))
        .withColumn("qcos", qcos_c)
        .orderBy(F.desc("qcos"), F.col("cid"))
        .limit(nprobe)
        .select("cid")
    )
    cand_ids = assign.join(F.broadcast(probes), "cid").select(id_col)

    codes, lut = _pq_codes_lut(df, m, n_codes, dim, query_id, vec_col, id_col)

    from pyspark.sql import Window

    scored = (
        codes.join(cand_ids, id_col)
        .join(F.broadcast(lut), ["msub", "code"])
        .groupBy(id_col)
        .agg(F.round(F.sum("pdot"), 6).alias("approx_score"))
        .filter(F.col(id_col) != query_id)
    )
    w = Window.orderBy(F.desc("approx_score"), F.asc(id_col))
    return (
        scored.orderBy(F.desc("approx_score"), F.asc(id_col))
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
    )


def ivfpq_topk_oracle(
    k: int = 10,
    n_centroids: int = 8,
    nprobe: int = 2,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    query_id: int = 0,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin of :func:`ivfpq_topk`: the IVF oracle's assignment/probe
    CTEs chained with the PQ oracle's codebook/assignment/LUT CTEs, the
    candidate restriction applied before scoring, identical tie-breaks."""
    sub = dim // m
    d = "duckdb"
    ccos = cosine_cols_sql(vec_col, "cvec", d)
    qcos_c = cosine_cols_sql("cvec", "qe", d)
    return f"""
WITH cent AS (SELECT {id_col} AS cid, {vec_col} AS cvec FROM {table}
              WHERE {id_col} < {n_centroids}),
q AS (SELECT {vec_col} AS qe FROM {table} WHERE {id_col} = {query_id}),
iassign0 AS (
  SELECT e.{id_col}, c.cid,
         row_number() OVER (PARTITION BY e.{id_col} ORDER BY {ccos} DESC, c.cid) AS rn
  FROM {table} e CROSS JOIN cent c),
iassign AS (SELECT {id_col}, cid FROM iassign0 WHERE rn = 1),
probes AS (
  SELECT cid FROM cent CROSS JOIN q ORDER BY {qcos_c} DESC, cid LIMIT {nprobe}),
cands AS (SELECT {id_col} FROM iassign JOIN probes USING (cid)),
subs AS (SELECT unnest(generate_series(0, {m - 1})) AS msub),
cb AS (
  SELECT s.msub, e.{id_col} AS code,
         list_transform(list_slice(e.{vec_col}, s.msub * {sub} + 1, s.msub * {sub} + {sub}),
                        x -> CAST(x AS DOUBLE)) AS cw
  FROM {table} e CROSS JOIN subs s WHERE e.{id_col} < {n_codes}),
sliced AS (
  SELECT e.{id_col}, s.msub,
         list_slice(e.{vec_col}, s.msub * {sub} + 1, s.msub * {sub} + {sub}) AS sv
  FROM {table} e CROSS JOIN subs s),
pcand AS (
  SELECT {id_col}, msub, code,
         list_sum(list_transform(list_zip(sv, cw),
             t -> (CAST(t[1] AS DOUBLE) - t[2]) * (CAST(t[1] AS DOUBLE) - t[2]))) AS l2
  FROM sliced JOIN cb USING (msub)),
passign AS (
  SELECT {id_col}, msub, code FROM (
    SELECT {id_col}, msub, code,
           row_number() OVER (PARTITION BY {id_col}, msub ORDER BY l2, code) AS rn
    FROM pcand) r
  WHERE rn = 1),
lut AS (
  SELECT cb.msub, cb.code,
         list_sum(list_transform(list_zip(cb.cw,
             list_slice(q.qe, cb.msub * {sub} + 1, cb.msub * {sub} + {sub})),
             t -> t[1] * CAST(t[2] AS DOUBLE))) AS pdot
  FROM cb CROSS JOIN q),
scored AS (
  SELECT a.{id_col}, round(sum(l.pdot), 6) AS approx_score
  FROM passign a JOIN cands USING ({id_col}) JOIN lut l
    ON a.msub = l.msub AND a.code = l.code
  WHERE a.{id_col} <> {query_id}
  GROUP BY a.{id_col}),
topk AS (SELECT * FROM scored ORDER BY approx_score DESC, {id_col} LIMIT {k})
SELECT {id_col}, approx_score,
       CAST(row_number() OVER (ORDER BY approx_score DESC, {id_col}) AS INTEGER) AS rank
FROM topk
"""


def quantized_knn_edges_sql(d: str, k: int = 3) -> str:
    """Dialect-shared SQL: directed exact-kNN edge table ``(src, dst)`` —
    each vector points at its ``k`` nearest neighbors by SQ8-quantized dot
    product (exact integer arithmetic, so the edge SET is bit-identical
    across engines; ties break on neighbor id).

    This is the deterministic edge builder for graph-centrality operators
    (:func:`map_spark_sql_spark.operators.graph.pagerank`). It is written
    as the brute-force self-join, which is exactly right up to ~10^5
    vectors per executor-group; at 100 TB swap the pair generation for the
    LSH-bucketed candidates of :func:`knn_graph` (same output shape) —
    the consumer is agnostic to how the edges were found. The per-source
    top-k runs as a window partitioned by ``src`` (parallel across
    sources, never a global sort)."""
    q, _ = _sq8_sql("embedding", d)
    dot = _sq8_dot_sql("a.q", "b.q", d)
    return f"""
WITH qv AS (SELECT vec_id, {q} AS q FROM embeddings),
cand AS (
  SELECT a.vec_id AS src, b.vec_id AS dst, {dot} AS dot
  FROM qv a JOIN qv b ON a.vec_id <> b.vec_id
),
rk AS (
  SELECT src, dst,
         row_number() OVER (PARTITION BY src ORDER BY dot DESC, dst) AS rn
  FROM cand
)
SELECT src, dst FROM rk WHERE rn <= {k}
"""


def quantized_knn_edges(emb: DataFrame, k: int = 3) -> DataFrame:
    """Engine-side twin of :func:`quantized_knn_edges_sql` — the IDENTICAL
    edge set (same quantization, same exact integer dot, same (dot desc,
    dst) tie-break), shaped for actual execution. Running the SQL string
    through Spark had two pathologies: the ``<>`` self-join planned as a
    BroadcastNestedLoopJoin whose parallelism is the STREAMED side's
    partitioning (one parquet file in → ONE task doing all N² dots), and
    the quantization CTE inlined into both join inputs (re-quantizing per
    PAIR). Worse, the per-pair ``zip_with``/``aggregate`` dot is
    interpreted element-at-a-time — even perfectly parallelized it walls
    at ~10^4 vectors. This builder quantizes JVM-side once (oracle-exact
    codes), broadcasts the int64 code matrix, and runs one numpy GEMM +
    top-k argpartition per Arrow batch via ``mapInPandas`` — the shape a
    broadcast-side brute-force ANN stage actually runs. Still the
    documented sub-10^5-vector rung (the broadcast is dimension-table
    sized there); swap :func:`knn_graph`'s LSH candidates beyond that.
    """
    import numpy as np

    q_expr, _ = _sq8_sql("embedding", "spark")
    spark = emb.sparkSession
    par = spark.sparkContext.defaultParallelism
    qv = (
        emb.select("vec_id", F.expr(q_expr).alias("q"))
        .repartition(par)
        # lazy: the toPandas collect below materializes it, so the eager
        # checkpoint's extra job is folded into the collect; mapInPandas
        # then reuses the stored blocks. r12 isolated A/B (sf0.1, same
        # session, min-of-5): lazy 1.18 s ~= eager 1.19 s, NO checkpoint
        # 2.05 s (the quantize+repartition subtree re-executes for the
        # mapInPandas scan) — the checkpoint is the win, eager-vs-lazy is
        # a wash locally and lazy is one fewer driver job.
        .localCheckpoint(eager=False)
    )
    # Quantization happens JVM-side above (Spark round() is HALF_UP; numpy
    # rounds half-even — codes must come from the SAME expression as the
    # oracle). The code matrix is then broadcast for a vectorized int64
    # matmul: the interpreted zip_with/aggregate dot costs ~1 µs/pair-dim,
    # a dead end past ~10^4 vectors, while one numpy GEMM per Arrow batch
    # is the shape every broadcast-side brute-force ANN stage (faiss-on-
    # Spark et al.) actually runs. The driver collect is bounded by the
    # operator's own applicability bound (~10^5 vectors × 64 dims × 8 B =
    # 51 MB — dimension-table sized); beyond that the docstring already
    # prescribes swapping in knn_graph's LSH candidates.
    pdf_all = qv.toPandas()
    ids = pdf_all["vec_id"].to_numpy(dtype=np.int64)
    mat = np.stack(pdf_all["q"].to_numpy()).astype(np.int64)
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)
    dim = mat.shape[1] if mat.size else 1
    # composite sort key (dot DESC, dst ASC) in one int64: dots are bounded
    # by dim * 127^2, so (maxdot - dot) << 32 | dst_rank never overflows
    maxdot = dim * 127 * 127 + 1

    def topk_batches(batches):
        import pandas as pd

        all_ids = b_ids.value
        all_mat = b_mat.value
        n = all_ids.shape[0]
        id_order = np.argsort(all_ids, kind="stable")
        for pdf in batches:
            if not len(pdf):
                continue
            src_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            q = np.stack(pdf["q"].to_numpy()).astype(np.int64)
            dots = q @ all_mat.T  # exact int64, |q| <= 127
            # key = (maxdot - dot) * 2^32 + rank(dst id): orders by dot
            # DESC then dst id ASC, matching the oracle's row_number
            rank_of = np.empty(n, dtype=np.int64)
            rank_of[id_order] = np.arange(n, dtype=np.int64)
            key = (maxdot - dots) * (np.int64(1) << 32) + rank_of[None, :]
            self_mask = all_ids[None, :] == src_ids[:, None]
            key[self_mask] = np.iinfo(np.int64).max
            kk = min(k, n - 1)
            if kk <= 0:
                continue
            part = np.argpartition(key, kk - 1, axis=1)[:, :kk]
            rows_src = np.repeat(src_ids, kk)
            rows_dst = all_ids[part].reshape(-1)
            yield pd.DataFrame({"src": rows_src, "dst": rows_dst})

    return qv.mapInPandas(topk_batches, schema="src long, dst long")


def quantized_knn_edges_lsh(
    emb: DataFrame,
    k: int = 3,
    dim: int = 64,
    bits: int = 6,
    n_tables: int = 3,
    max_bucket: int = 4000,
) -> DataFrame:
    """kNN edge table ``(src, dst)`` for corpora PAST the ~10^5-vector
    broadcast bound of :func:`quantized_knn_edges` (r5 verdict ask #7):
    multi-table hyperplane-LSH candidate buckets -> per-bucket exact SQ8
    GEMM top-k -> global per-source top-k. Nothing is broadcast or
    collected; the parallel unit is the (table, bucket, salt) group.

    - **Candidates**: ``n_tables`` independent hyperplane families (seed
      offsets ``t * bits`` into the deterministic md5 generator) bucket
      every vector; a pair is a candidate iff it shares a bucket in ANY
      table. More tables = higher recall at linear cost.
    - **Degenerate buckets** are SPLIT, not dropped: a bucket holding
      ``n > max_bucket`` vectors (a tight cluster no origin-crossing
      hyperplane separates) is salted by ``stable_hash(vec_id) %
      ceil(n/max_bucket)`` — a HASH of the id, not the raw residue, so
      arithmetically structured id sets (strided shards whose members
      share residues) still spread across salt groups instead of
      collapsing into one unbounded group (r6 advice) —
      bounding every group while keeping intra-cluster candidates —
      dropping the bucket (the pair-operator guard) would zero the
      recall of exactly the densest neighborhoods a kNN graph cares
      about. The split costs recall only on near-ties it cannot see,
      which :func:`knn_edges_lsh_recall` measures against the exact
      builder (10x rung, 20k vectors / 2k-member tight clusters:
      identity-recall 0.55 at max_bucket=1000 where splits separate
      equal-dot cluster members, 0.82 at the default 4000 where
      clusters stay whole — the residual loss is tie-breaking among
      near-identical dots, not missed neighborhoods).
    - **Verification** is the same oracle-exact SQ8 integer dot and
      (dot DESC, dst ASC) tie-break as the exact builder, computed as
      one numpy GEMM per bucket group (``applyInPandas``; group size
      <= max_bucket so the task-side matrix is ~max_bucket * dim * 8 B).
      Per-bucket top-k then global top-k is exactly global top-k over
      the union of in-bucket candidates (a pair in the global top-k is
      in its own bucket's top-k), which is what the SQL twin computes.

    The 100 TB shape: two shuffles (bucket group-by, final per-src
    window), group state bounded by ``max_bucket``, output N * k rows.
    """
    from pyspark.sql import Window

    import numpy as np

    q_expr, _ = _sq8_sql("embedding", "spark")
    spark = emb.sparkSession
    par = spark.sparkContext.defaultParallelism
    base = (
        emb.select(
            "vec_id",
            F.expr(q_expr).alias("q"),
            *[
                F.expr(
                    lsh_signature_sql("embedding", dim, bits, "spark", seed_offset=t * bits)
                ).alias(f"b{t}")
                for t in range(n_tables)
            ],
        )
        .repartition(par)
        .localCheckpoint(eager=False)
    )
    sig = base.select(
        "vec_id",
        "q",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("t"), F.col(f"b{t}").alias("b"))
                    for t in range(n_tables)
                ]
            )
        ).alias("tb"),
    ).select("vec_id", "q", F.col("tb.t").alias("t"), F.col("tb.b").alias("b"))
    counts = sig.groupBy("t", "b").agg(F.count(F.lit(1)).alias("n"))
    kept = (
        sig.join(counts.filter(F.col("n") > 1), ["t", "b"])
        .withColumn(
            "salt",
            # hash the id before the modulus: raw vec_id residues collapse
            # strided/sharded id sets into one salt group (r6 advice); the
            # md5-based stable_hash is dialect-shared with the SQL twin
            (
                stable_hash(F.col("vec_id").cast("string"))
                % F.expr(f"CAST(ceil(n / {max_bucket}.0) AS BIGINT)")
            ),
        )
    )
    maxdot = dim * 127 * 127 + 1

    def bucket_topk(pdf):
        import pandas as pd

        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        n = ids.shape[0]
        if n < 2:
            return pd.DataFrame({"src": [], "dst": [], "dot": []}).astype(
                {"src": np.int64, "dst": np.int64, "dot": np.int64}
            )
        mat = np.stack(pdf["q"].to_numpy()).astype(np.int64)
        dots = mat @ mat.T
        rank_of = np.empty(n, dtype=np.int64)
        rank_of[np.argsort(ids, kind="stable")] = np.arange(n, dtype=np.int64)
        key = (maxdot - dots) * (np.int64(1) << 32) + rank_of[None, :]
        np.fill_diagonal(key, np.iinfo(np.int64).max)
        kk = min(k, n - 1)
        part = np.argpartition(key, kk - 1, axis=1)[:, :kk]
        src = np.repeat(ids, kk)
        dst = ids[part.reshape(-1)]
        dot = np.take_along_axis(dots, part, axis=1).reshape(-1)
        return pd.DataFrame({"src": src, "dst": dst, "dot": dot})

    # Same fan-out rule as dedup.ngram_jaccard_pairs: without it the
    # per-bucket GEMM ran on one task (applyInPandas stage (0+1)/1 at sf0.1).
    per_bucket = (
        kept.select("t", "b", "salt", "vec_id", "q")
        .repartition(par, "t", "b", "salt")
        .groupBy("t", "b", "salt")
        .applyInPandas(bucket_topk, schema="src long, dst long, dot long")
    )
    dedup = per_bucket.groupBy("src", "dst").agg(F.max("dot").alias("dot"))
    w = Window.partitionBy("src").orderBy(F.desc("dot"), F.asc("dst"))
    return (
        dedup.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("src", "dst")
    )


def quantized_knn_edges_lsh_sql(
    d: str,
    k: int = 3,
    dim: int = 64,
    bits: int = 6,
    n_tables: int = 3,
    max_bucket: int = 4000,
) -> str:
    """Dialect-shared twin of :func:`quantized_knn_edges_lsh`: identical
    bucket construction (same md5 hyperplane families), identical
    salt-split, and the global top-k over the DISTINCT union of in-bucket
    candidate pairs — provably the same set the engine's two-stage
    (per-bucket then global) selection returns."""
    q, _ = _sq8_sql("embedding", d)
    dot = _sq8_dot_sql("a.q", "b.q", d)
    intdiv = "//" if d == "duckdb" else "div"
    tables = "\nUNION ALL\n".join(
        f"SELECT vec_id, q, {t} AS t, "
        + lsh_signature_sql("embedding", dim, bits, d, seed_offset=t * bits)
        + " AS b FROM qv"
        for t in range(n_tables)
    )
    return f"""
WITH qv AS (SELECT vec_id, embedding, {q} AS q FROM embeddings),
sig AS ({tables}),
cnt AS (SELECT t, b, count(*) AS n FROM sig GROUP BY t, b HAVING count(*) > 1),
kept AS (
  SELECT s.vec_id, s.q, s.t, s.b,
         {stable_hash_sql(f"CAST(s.vec_id AS {'STRING' if d == 'spark' else 'VARCHAR'})", d)}
           % ((c.n + {max_bucket} - 1) {intdiv} {max_bucket}) AS salt
  FROM sig s JOIN cnt c ON s.t = c.t AND s.b = c.b
),
cand AS (
  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst, {dot} AS dot
  FROM kept a JOIN kept b
    ON a.t = b.t AND a.b = b.b AND a.salt = b.salt AND a.vec_id <> b.vec_id
),
rk AS (
  SELECT src, dst,
         row_number() OVER (PARTITION BY src ORDER BY dot DESC, dst) AS rn
  FROM cand
)
SELECT src, dst FROM rk WHERE rn <= {k}
"""


def knn_edges_lsh_recall(
    emb: DataFrame,
    k: int = 3,
    dim: int = 64,
    bits: int = 6,
    n_tables: int = 3,
    max_bucket: int = 4000,
) -> DataFrame:
    """Recall gate for the LSH edge path vs the exact (broadcast-GEMM)
    builder on the SAME corpus: one row ``(n_exact, n_lsh, n_hit,
    recall_ppm)`` with exact-integer ppm. Run this at a rung where the
    exact builder is still feasible (<= ~10^5 vectors); past that rung the
    LSH path is the only one that runs, and this gate is the evidence it
    earned the swap."""
    # One lazy 1-row plan, no driver count() jobs: the counts come from a
    # single full outer join of the two edge tables, so each edge build
    # runs once. (Cross-joining three separate counts would not: column
    # pruning makes each branch a different subtree, so no exchange is
    # reused and both builds run twice.) Both builders emit each
    # (src, dst) pair at most once, so the join matches pair to pair.
    exact = quantized_knn_edges(emb, k=k).withColumn("in_exact", F.lit(True))
    lsh = quantized_knn_edges_lsh(
        emb, k=k, dim=dim, bits=bits, n_tables=n_tables, max_bucket=max_bucket
    ).withColumn("in_lsh", F.lit(True))
    return (
        exact.join(lsh, ["src", "dst"], "full_outer")
        .agg(
            F.count("in_exact").alias("n_exact"),
            F.count("in_lsh").alias("n_lsh"),
            F.count_if(F.col("in_exact") & F.col("in_lsh")).alias("n_hit"),
        )
        .withColumn("recall_ppm", F.expr("(1000000 * n_hit) div greatest(n_exact, 1)"))
    )


def knn_edges_lsh_recall_oracle(
    k: int = 3,
    dim: int = 64,
    bits: int = 6,
    n_tables: int = 3,
    max_bucket: int = 4000,
) -> str:
    exact = quantized_knn_edges_sql("duckdb", k=k)
    lsh = quantized_knn_edges_lsh_sql(
        "duckdb", k=k, dim=dim, bits=bits, n_tables=n_tables, max_bucket=max_bucket
    )
    return f"""
WITH exact_e AS ({exact}),
lsh_e AS ({lsh}),
hit AS (SELECT 1 FROM exact_e e JOIN lsh_e l ON e.src = l.src AND e.dst = l.dst)
SELECT CAST((SELECT count(*) FROM exact_e) AS BIGINT) AS n_exact,
       CAST((SELECT count(*) FROM lsh_e) AS BIGINT) AS n_lsh,
       CAST((SELECT count(*) FROM hit) AS BIGINT) AS n_hit,
       CAST(1000000 * (SELECT count(*) FROM hit)
            // greatest((SELECT count(*) FROM exact_e), 1) AS BIGINT) AS recall_ppm
"""


def topk_quantized_sql(d: str, k: int = 10, query_id: int = 0) -> str:
    """Dialect-shared SQL: int8-quantized cosine top-k vs the exact top-k.

    At 100 TB the point of SQ8 is storage/bandwidth — int8 codes are 4x
    smaller than float32, scan 4x faster, and the dot product is exact
    integer arithmetic (SIMD-friendly, no float accumulation order to
    worry about). Here the codes are derived on the fly from the float
    column to keep the operator self-contained; a production pipeline
    would materialize ``q``/``qnorm`` once.

    The query emits the quantized top-k (TakeOrderedAndProject on Spark —
    per-partition heaps, no global sort) LEFT-joined against the exact
    top-k, so the hash gate certifies both the approximate ranking and its
    recall against the exact baseline in one result.
    """
    eq, enorm = _sq8_sql("embedding", d)
    qq, qnorm = _sq8_sql("embedding", d)
    qdot = _sq8_dot_sql("e.q", "q.qq", d)
    exact_dot = dot_cols_sql("e.embedding", "q.qe", d)
    exact_ne = norm_sql("e.embedding", d)
    exact_nq = norm_sql("q.qe", d)
    return f"""
WITH q AS (
  SELECT embedding AS qe, {qq} AS qq, {qnorm} AS qnorm
  FROM embeddings WHERE vec_id = {query_id}
),
e AS (
  SELECT vec_id, embedding, {eq} AS q, {enorm} AS qnorm
  FROM embeddings WHERE vec_id <> {query_id}
),
quant_top AS (
  SELECT e.vec_id, round({qdot} / (e.qnorm * q.qnorm), 6) AS approx_sim
  FROM e CROSS JOIN q
  ORDER BY approx_sim DESC, e.vec_id LIMIT {k}
),
exact_top AS (
  SELECT e.vec_id, round({exact_dot} / ({exact_ne} * {exact_nq}), 6) AS sim
  FROM e CROSS JOIN q
  ORDER BY sim DESC, e.vec_id LIMIT {k}
)
SELECT t.vec_id, t.approx_sim,
       CAST(x.vec_id IS NOT NULL AS BOOLEAN) AS in_exact_topk
FROM quant_top t LEFT JOIN exact_top x ON t.vec_id = x.vec_id
"""


def topk_quantized(df: DataFrame, k: int = 10, query_id: int = 0) -> DataFrame:
    """Engine-side twin of :func:`topk_quantized_sql` — IDENTICAL output
    (same quantization expression, same integer dot, same rounding and
    tie-breaks), shaped for actual execution. Running the SQL string
    through ``spark.sql`` had the two quantized_knn_edges pathologies at
    once: Catalyst collapses the quantization CTE into the consumers, so
    (a) the ``array_max`` scale factor inlines INTO the per-element
    transform lambda (64 ops become ~64^2 per row — Catalyst does not CSE
    inside lambdas), and (b) the un-materialized ``e`` CTE re-evaluates
    for BOTH the quantized and the exact top-k scans. Measured at the
    1000x rung (2M vectors): 1046.7s for the SQL route. This builder
    stages mx -> q -> qnorm as columns with a lazy localCheckpoint (both
    cuts the projection collapse and makes the encode pass run once),
    broadcasts the 1-row query (its code comes from the SAME staged JVM
    expressions, so codes are oracle-exact), and leaves both top-ks as
    TakeOrderedAndProject."""
    from map_spark_sql_spark.sources.readers import widen

    q_lambda = "transform(embedding, a -> CAST(round(CAST(a AS DOUBLE) * 127.0 / _mx) AS BIGINT))"
    staged = (
        widen(df)
        .select("vec_id", "embedding")
        .withColumn(
            "_mx",
            F.expr(
                "greatest(array_max(transform(embedding, a -> abs(CAST(a AS DOUBLE)))), "
                "CAST(1e-12 AS DOUBLE))"
            ),
        )
        .withColumn("q", F.expr(q_lambda))
        .withColumn(
            "qnorm",
            F.expr(
                "sqrt(CAST(aggregate(q, CAST(0 AS BIGINT), (s, x) -> s + x * x) AS DOUBLE))"
            ),
        )
        .drop("_mx")
        .localCheckpoint(eager=False)
    )
    qv = F.broadcast(
        staged.filter(F.col("vec_id") == query_id).select(
            F.col("embedding").alias("qe"),
            F.col("q").alias("qq"),
            F.col("qnorm").alias("qqnorm"),
        )
    )
    e = staged.filter(F.col("vec_id") != query_id).crossJoin(qv)
    qdot = (
        "aggregate(zip_with(q, qq, (x, y) -> x * y), CAST(0 AS BIGINT), (s, x) -> s + x)"
    )
    edot = (
        "aggregate(zip_with(embedding, qe, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (s, x) -> s + x)"
    )
    ne = norm_sql("embedding", "spark")
    nq = norm_sql("qe", "spark")
    quant_top = (
        e.select(
            "vec_id",
            F.expr(f"round({qdot} / (qnorm * qqnorm), 6)").alias("approx_sim"),
        )
        .orderBy(F.desc("approx_sim"), F.asc("vec_id"))
        .limit(k)
    )
    exact_top = (
        e.select(
            "vec_id", F.expr(f"round({edot} / ({ne} * {nq}), 6)").alias("sim")
        )
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(k)
    )
    return (
        quant_top.join(
            exact_top.select(F.col("vec_id").alias("x_id")),
            quant_top.vec_id == F.col("x_id"),
            "left",
        )
        .select(
            "vec_id",
            "approx_sim",
            F.col("x_id").isNotNull().alias("in_exact_topk"),
        )
    )


# --- hybrid retrieval: reciprocal-rank fusion --------------------------------


def rrf_fuse(
    lexical: DataFrame,
    dense: DataFrame,
    k: int = 10,
    c: int = 60,
    lex_id: str = "doc_id",
    dense_id: str = "vec_id",
) -> DataFrame:
    """Reciprocal-Rank Fusion (Cormack et al., SIGIR'09) of a lexical and a
    dense retrieval ranking: ``score(d) = sum over lists of 1/(c + rank)``,
    items missing from a list contribute 0 from it. RRF is the standard
    hybrid-retrieval combiner because it needs no score calibration between
    BM25's unbounded sums and cosine's [-1, 1] — only ranks.

    Inputs are the retrievers' top-k outputs (``text.bm25_topk``,
    ``similarity.cosine_topk`` + a rank column) — a few dozen rows each, so
    the fusion itself is a broadcast-size full-outer join; ALL the scale
    weight stays in the upstream retrievers, which are independently
    scale-shaped. Cross-engine float determinism: each contribution is one
    exact-integer-operand IEEE division and the sum has a fixed two-term
    order, so no rounding step is needed (the text_lm_score lesson: the
    round would be the only nondeterminism).

    Output: ``(item_id, lex_rank, dense_rank, rrf_score, rank)``; final
    ties break on item id.
    """
    from pyspark.sql import Window

    lx = lexical.select(
        F.col(lex_id).cast("long").alias("item_id"), F.col("rank").alias("lex_rank")
    )
    dn = dense.select(
        F.col(dense_id).cast("long").alias("item_id"), F.col("rank").alias("dense_rank")
    )
    fused = (
        lx.join(dn, "item_id", "full_outer")
        .withColumn(
            "rrf_score",
            F.coalesce(1.0 / (F.lit(c) + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(c) + F.col("dense_rank")), F.lit(0.0)),
        )
    )
    w = Window.orderBy(F.desc("rrf_score"), F.asc("item_id"))
    return (
        fused.orderBy(F.desc("rrf_score"), F.asc("item_id"))
        .limit(k)
        .select(
            "item_id", "lex_rank", "dense_rank", "rrf_score",
            F.row_number().over(w).alias("rank"),
        )
    )


def hybrid_rrf_oracle(
    bm25_sql: str,
    cosine_sql_text: str,
    k: int = 10,
    c: int = 60,
) -> str:
    """Fusion twin: wraps the two retriever oracles as CTEs (the dense side
    gets its rank via row_number, matching ``cosine_topk`` + rank)."""
    return f"""
WITH lex AS ({bm25_sql}),
dense0 AS ({cosine_sql_text}),
dense AS (
  SELECT vec_id, CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS INTEGER) AS rank
  FROM dense0),
fused AS (
  SELECT coalesce(l.doc_id, d.vec_id) AS item_id, l.rank AS lex_rank, d.rank AS dense_rank,
         coalesce(1.0 / ({c} + l.rank), 0.0) + coalesce(1.0 / ({c} + d.rank), 0.0) AS rrf_score
  FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.vec_id),
topk AS (SELECT * FROM fused ORDER BY rrf_score DESC, item_id LIMIT {k})
SELECT item_id, lex_rank, dense_rank, rrf_score,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, item_id) AS INTEGER) AS rank
FROM topk
"""


# --- IVF recall sweep (measure, don't guess) ----------------------------------


def ivf_recall(
    df: DataFrame,
    k: int = 10,
    n_centroids: int = 8,
    nprobes: tuple[int, ...] = (1, 2, 4),
    n_queries: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k sweep for the IVF family: for a panel of ``n_queries``
    query vectors and each ``nprobe`` setting, how many of the TRUE
    (brute-force) top-k neighbors does the probe-pruned search return?
    nprobe is THE accuracy/cost dial of every deployed IVF index, and the
    recall curve is how it gets set — the ANN twin of
    ``dedup.minhash_recall`` (the no-silent-caps principle applied to the
    pruning itself).

    One pass each, shared across the whole sweep: centroid assignment is
    the usual broadcast-cross-join + ``min_by`` hash agg; the exact scores
    are ONE corpus scan against the broadcast query panel (corpus x
    n_queries rows, never corpus x corpus); the probe ranking is a
    window over the tiny (n_queries x n_centroids) relation; each nprobe
    tier then filters the SAME scored-candidate relation — no per-tier
    rescan. Rankings use round(cos, 6) with id tie-break (the ivfpq_topk
    convention) so window order is engine-exact.

    Output: ``(query_id, nprobe, n_exact, n_matched, recall_ppm)`` —
    n_queries x len(nprobes) rows, exact integers.
    """
    from pyspark.sql import Window

    cent = df.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
    )
    qs = df.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qe")
    )

    # corpus -> nearest centroid (shared by every tier)
    ccos = F.expr(cosine_cols_sql(vec_col, "cvec", "spark"))
    assign = (
        df.crossJoin(F.broadcast(cent))
        .withColumn("ccos", ccos)
        .groupBy(id_col)
        .agg(F.expr("min_by(cid, struct(-ccos, cid))").alias("cid"))
    )

    # query -> centroid probe ranks (tiny relation, partitioned window)
    qcos_c = F.expr(cosine_cols_sql("cvec", "qe", "spark"))
    wprobe = Window.partitionBy("query_id").orderBy(
        F.desc("qcos"), F.asc("cid")
    )
    probes = (
        qs.crossJoin(F.broadcast(cent))
        .withColumn("qcos", F.round(qcos_c, 6))
        .withColumn("crank", F.row_number().over(wprobe))
        .select("query_id", "cid", "crank")
    )

    # ONE exact scoring pass: corpus x query panel
    qcos = F.expr(cosine_cols_sql(vec_col, "qe", "spark"))
    scored = (
        df.crossJoin(F.broadcast(qs))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(F.col(id_col), F.col("query_id"), F.round(qcos, 6).alias("cos"))
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc(id_col))
    exact_topk = (
        scored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= k)
        .select("query_id", id_col)
    )

    # IVF candidates: scored rows whose vector sits in a probed partition;
    # each nprobe tier re-ranks the same relation (crank filter), no rescan
    max_np = max(nprobes)
    cands = (
        scored.join(assign, id_col)
        .join(F.broadcast(probes), ["query_id", "cid"])
        .filter(F.col("crank") <= max_np)
    )
    np_lit = F.array(*[F.lit(int(p)) for p in sorted(nprobes)])
    tiers = cands.select(
        "query_id", id_col, "cos", "crank",
        F.explode(np_lit).alias("nprobe"),
    ).filter(F.col("crank") <= F.col("nprobe"))
    wt = Window.partitionBy("query_id", "nprobe").orderBy(
        F.desc("cos"), F.asc(id_col)
    )
    ivf_topk = (
        tiers.withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") <= k)
        .select("query_id", "nprobe", id_col)
    )

    grid = qs.select("query_id").crossJoin(
        F.broadcast(
            df.sparkSession.range(1).select(F.explode(np_lit).alias("nprobe"))
        )
    )
    n_exact = exact_topk.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    n_match = (
        ivf_topk.join(exact_topk, ["query_id", id_col])
        .groupBy("query_id", "nprobe")
        .agg(F.count(F.lit(1)).cast("long").alias("n_matched"))
    )
    return (
        grid.join(n_exact, "query_id", "left")
        .join(n_match, ["query_id", "nprobe"], "left")
        .select(
            "query_id",
            F.col("nprobe").cast("int").alias("nprobe"),
            F.coalesce("n_exact", F.lit(0)).cast("long").alias("n_exact"),
            F.coalesce("n_matched", F.lit(0)).cast("long").alias("n_matched"),
        )
        .withColumn(
            "recall_ppm",
            F.expr(
                "CAST(CASE WHEN n_exact = 0 THEN 1000000 "
                "ELSE (1000000 * n_matched) DIV n_exact END AS BIGINT)"
            ),
        )
    )


def ivf_recall_oracle(
    k: int = 10,
    n_centroids: int = 8,
    nprobes: tuple[int, ...] = (1, 2, 4),
    n_queries: int = 4,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin of :func:`ivf_recall` — identical round(cos, 6) ranking,
    identical tie-breaks, same shared-candidate tier construction."""
    d = "duckdb"
    ccos = cosine_cols_sql(vec_col, "cvec", d)
    qcos_c = cosine_cols_sql("cvec", "qe", d)
    qcos = cosine_cols_sql(vec_col, "qe", d)
    np_list = ", ".join(str(int(p)) for p in sorted(nprobes))
    max_np = max(nprobes)
    return f"""
WITH cent AS (SELECT {id_col} AS cid, {vec_col} AS cvec FROM {table}
              WHERE {id_col} < {n_centroids}),
qs AS (SELECT {id_col} AS query_id, {vec_col} AS qe FROM {table}
       WHERE {id_col} < {n_queries}),
assign0 AS (
  SELECT e.{id_col}, c.cid,
         row_number() OVER (PARTITION BY e.{id_col} ORDER BY {ccos} DESC, c.cid) AS rn
  FROM {table} e CROSS JOIN cent c),
assign AS (SELECT {id_col}, cid FROM assign0 WHERE rn = 1),
probes AS (
  SELECT query_id, cid,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round({qcos_c}, 6) DESC, cid) AS crank
  FROM qs CROSS JOIN cent),
scored AS (
  SELECT e.{id_col}, q.query_id, round({qcos}, 6) AS cos
  FROM {table} e CROSS JOIN qs q WHERE e.{id_col} <> q.query_id),
exact_topk AS (
  SELECT query_id, {id_col} FROM (
    SELECT query_id, {id_col},
           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, {id_col}) AS rn
    FROM scored) r WHERE rn <= {k}),
cands AS (
  SELECT s.query_id, s.{id_col}, s.cos, p.crank
  FROM scored s JOIN assign a USING ({id_col})
       JOIN probes p ON p.query_id = s.query_id AND p.cid = a.cid
  WHERE p.crank <= {max_np}),
tiers AS (
  SELECT c.query_id, c.{id_col}, c.cos, np.nprobe
  FROM cands c CROSS JOIN (SELECT unnest([{np_list}]) AS nprobe) np
  WHERE c.crank <= np.nprobe),
ivf_topk AS (
  SELECT query_id, nprobe, {id_col} FROM (
    SELECT query_id, nprobe, {id_col},
           row_number() OVER (PARTITION BY query_id, nprobe
                              ORDER BY cos DESC, {id_col}) AS rn
    FROM tiers) r WHERE rn <= {k}),
grid AS (SELECT query_id, nprobe FROM qs
         CROSS JOIN (SELECT unnest([{np_list}]) AS nprobe) np),
ne AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
       FROM exact_topk GROUP BY query_id),
nm AS (SELECT i.query_id, i.nprobe, CAST(count(*) AS BIGINT) AS n_matched
       FROM ivf_topk i JOIN exact_topk x
         ON i.query_id = x.query_id AND i.{id_col} = x.{id_col}
       GROUP BY i.query_id, i.nprobe)
SELECT g.query_id, CAST(g.nprobe AS INTEGER) AS nprobe,
       CAST(coalesce(ne.n_exact, 0) AS BIGINT) AS n_exact,
       CAST(coalesce(nm.n_matched, 0) AS BIGINT) AS n_matched,
       CAST(CASE WHEN coalesce(ne.n_exact, 0) = 0 THEN 1000000
            ELSE (1000000 * coalesce(nm.n_matched, 0)) // ne.n_exact END
            AS BIGINT) AS recall_ppm
FROM grid g LEFT JOIN ne USING (query_id)
            LEFT JOIN nm ON nm.query_id = g.query_id AND nm.nprobe = g.nprobe
"""


# --- MMR diversified re-rank ---------------------------------------------------


def mmr_rerank(
    df: DataFrame,
    k: int = 5,
    pool_size: int = 16,
    lam: float = 0.7,
    query_id: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    greedily pick ``k`` results from the top-``pool_size`` relevance pool,
    each step maximizing ``lam * rel - (1 - lam) * max_sim_to_selected`` —
    the standard diversity pass RAG retrieval stacks run after ANN, so near
    -duplicate hits don't crowd the context window.

    One lazy plan: the ONLY corpus-sized pass is the relevance pool's
    top-``pool_size`` scan; the pool collects into one row and the ``k``
    picks run as one SQL ``aggregate`` fold over it, which never depends
    on the collected order. Determinism: rel and pairwise sims rounded to
    6 decimals before any comparison, ties on the lower id; the first pick
    has no selected set, so its penalty term is exactly 0.

    Output: ``(rank, vec_id, relevance, mmr_score)``, one row per pick in
    selection order.
    """
    q = df.filter(F.col(id_col) == query_id).select(F.col(vec_col).alias("qe"))
    rel = F.round(F.expr(cosine_cols_sql(vec_col, "qe", "spark")), 6)
    pool = (
        df.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != query_id)
        .select(F.col(id_col), F.col(vec_col).alias("v"), rel.alias("rel"))
        .orderBy(F.desc("rel"), F.asc(id_col))
        .limit(pool_size)
    )
    # Fold step i scores every unpicked candidate c against the picks so
    # far and appends the best: step 1 ranks on rel alone, later steps on
    # mmr_score, ties on the lower id. Lambda names stay clear of the
    # a/s/x/y that cosine_cols_sql binds.
    cid = f"`{id_col}`"
    w_rel, w_sim = f"CAST({float(lam)!r} AS DOUBLE)", f"CAST({1.0 - lam!r} AS DOUBLE)"
    sim = f"round({cosine_cols_sql('c.v', 'p.v', 'spark')}, 6)"
    score = (
        f"IF(i = 1, {w_rel} * c.rel, "
        f"{w_rel} * c.rel - {w_sim} * array_max(transform(acc, p -> {sim})))"
    )

    def pick(rank: str, mmr: str) -> str:
        return (
            f"c -> named_struct('rank', {rank}, '{id_col}', c.{cid}, 'v', c.v, "
            f"'rel', c.rel, 'mmr_score', {mmr})"
        )

    key = "IF(i = 1, {0}.rel, {0}.mmr_score)".format
    best_first = (
        f"(l, r) -> CASE WHEN {key('l')} > {key('r')} THEN -1 "
        f"WHEN {key('l')} < {key('r')} THEN 1 "
        f"WHEN l.{cid} < r.{cid} THEN -1 WHEN l.{cid} > r.{cid} THEN 1 ELSE 0 END"
    )
    unpicked = f"filter(pool, c -> NOT exists(acc, p -> p.{cid} = c.{cid}))"
    step = (
        f"concat(acc, slice(array_sort(transform({unpicked}, {pick('i', score)}), "
        f"{best_first}), 1, 1))"
    )
    no_picks = f"filter(transform(pool, {pick('0', 'c.rel')}), c -> false)"
    fold = f"aggregate(sequence(1, {int(k)}), {no_picks}, (acc, i) -> {step})"
    return (
        pool.agg(F.collect_list(F.struct(id_col, "v", "rel")).alias("pool"))
        .select(F.inline(F.expr(fold)))
        .select("rank", id_col, F.col("rel").alias("relevance"), "mmr_score")
    )


def mmr_rerank_oracle(
    k: int = 5,
    pool_size: int = 16,
    lam: float = 0.7,
    query_id: int = 0,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """DuckDB twin of :func:`mmr_rerank`: the greedy loop unrolled into one
    CTE chain per pick (the kmeans_cent_sql convention — a bounded, known-k
    iteration is expressible as SQL by unrolling)."""
    d = "duckdb"
    qcos = cosine_cols_sql(vec_col, "qe", d)
    pcos = cosine_cols_sql("p.v", "s.v", d)
    one_minus = 1.0 - lam
    ctes = [
        f"""q AS (SELECT {vec_col} AS qe FROM {table} WHERE {id_col} = {query_id}),
pool AS (
  SELECT {id_col}, {vec_col} AS v, round({qcos}, 6) AS rel
  FROM {table} CROSS JOIN q
  WHERE {id_col} <> {query_id}
  ORDER BY rel DESC, {id_col} LIMIT {pool_size}),
s1 AS (SELECT 1 AS rank, {id_col}, v, rel,
              CAST({lam!r} AS DOUBLE) * rel AS mmr_score
       FROM pool ORDER BY rel DESC, {id_col} LIMIT 1),
sel1 AS (SELECT * FROM s1)"""
    ]
    for i in range(2, k + 1):
        prev = i - 1
        ctes.append(f"""c{i} AS (
  SELECT p.{id_col}, p.v, p.rel, max(round({pcos}, 6)) AS max_sim
  FROM pool p CROSS JOIN sel{prev} s
  WHERE p.{id_col} NOT IN (SELECT {id_col} FROM sel{prev})
  GROUP BY p.{id_col}, p.v, p.rel),
s{i} AS (SELECT {i} AS rank, {id_col}, v, rel,
                CAST({lam!r} AS DOUBLE) * rel
                - CAST({one_minus!r} AS DOUBLE) * max_sim AS mmr_score
         FROM c{i} ORDER BY mmr_score DESC, {id_col} LIMIT 1),
sel{i} AS (SELECT * FROM sel{prev} UNION ALL SELECT * FROM s{i})""")
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT rank, {id_col}, rel AS relevance, mmr_score FROM sel{k}"
    )


# --- metadata-filtered vector search --------------------------------------------


def topk_filtered(
    emb: DataFrame,
    docs: DataFrame,
    k: int = 10,
    query_id: int = 0,
    lang: str = "en",
    min_chars: int = 120,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Metadata-filtered vector search: cosine top-k restricted to vectors
    whose document satisfies a predicate (here ``lang = X AND n_chars >= Y``)
    — the "filtered ANN" query every retrieval stack needs the moment vectors
    carry metadata (tenant, language, license, date).

    This is the PRE-filtering strategy: the predicate is applied to the
    metadata table first and survivors join the vector table, versus
    post-filtering (top-k first, filter after), which silently returns
    fewer than k rows whenever the filter is selective. Scale shape:

    - the predicate reaches the ``documents`` parquet scan as PushedFilters,
      and only (doc_id, lang, n_chars) are read — never ``text``;
    - the survivor-id join is a plain equi-join AQE sizes at runtime
      (broadcast when the filter is selective, shuffled-hash when not) —
      exactly the situation AQE's runtime statistics exist for, so we do
      NOT pin a strategy;
    - top-k stays TakeOrderedAndProject (per-partition heaps, no global
      sort), identical to :func:`cosine_topk`.
    """
    q = emb.filter(F.col(id_col) == query_id).select(F.col(vec_col).alias("qe"))
    keep = docs.filter(
        (F.col("lang") == lang) & (F.col("n_chars") >= min_chars)
    ).select(F.col("doc_id").alias(id_col))
    sim = F.round(F.expr(cosine_cols_sql(vec_col, "qe", "spark")), 6)
    return (
        emb.filter(F.col(id_col) != query_id)
        .join(keep, id_col)
        .crossJoin(F.broadcast(q))
        .select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.desc("sim"), F.col(id_col))
        .limit(k)
    )


def topk_filtered_oracle(
    k: int = 10,
    query_id: int = 0,
    lang: str = "en",
    min_chars: int = 120,
    table: str = "embeddings",
    meta_table: str = "documents",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    cos = cosine_cols_sql(f"e.{vec_col}", "q.qe", "duckdb")
    return f"""
SELECT e.{id_col}, round({cos}, 6) AS sim
FROM {table} e
JOIN {meta_table} d ON d.doc_id = e.{id_col}
CROSS JOIN (SELECT {vec_col} AS qe FROM {table} WHERE {id_col} = {query_id}) q
WHERE d.lang = '{lang}' AND d.n_chars >= {min_chars} AND e.{id_col} <> {query_id}
ORDER BY sim DESC, e.{id_col}
LIMIT {k}
"""


# --- batched multi-query top-k ---------------------------------------------------


def topk_batch(
    emb: DataFrame,
    query_ids: tuple = (0, 7, 21),
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    buckets: int = 8,
) -> DataFrame:
    """Multi-query ANN in ONE corpus pass: retrieval serving never asks one
    query at a time — a batch of Q queries amortizes the scan. The query
    batch broadcasts (Q rows), every corpus vector computes its Q cosines
    map-side (broadcast nested loop, no shuffle), and the per-query top-k
    runs as :func:`~map_spark_sql_spark.operators.skew.salted_topk`'s
    two-phase sharded rank — essential here because EVERY query key is a
    whale by construction (each holds the full corpus), so the plain
    ``row_number() OVER (PARTITION BY query)`` would funnel the corpus
    through Q reducers; the salt shards each query's sort ``buckets`` ways
    and phase 2 re-ranks <= buckets*k survivors. Size ``buckets`` with the
    cluster (corpus_rows / executor_sort_budget), not with Q.

    Output: ``(query_id, vec_id, sim, rank)``, k rows per query.
    """
    from map_spark_sql_spark.operators.skew import salted_topk

    q = emb.filter(F.col(id_col).isin(list(query_ids))).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qe")
    )
    sim = F.round(F.expr(cosine_cols_sql(vec_col, "qe", "spark")), 6)
    sims = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col), sim.alias("sim"))
    )
    return salted_topk(sims, ["query_id"], "sim", id_col, k=k, buckets=buckets)


def topk_batch_oracle(
    query_ids: tuple = (0, 7, 21),
    k: int = 5,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    cos = cosine_cols_sql(f"e.{vec_col}", "q.qe", "duckdb")
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
WITH q AS (SELECT {id_col} AS query_id, {vec_col} AS qe
           FROM {table} WHERE {id_col} IN ({ids})),
s AS (SELECT q.query_id, e.{id_col}, round({cos}, 6) AS sim
      FROM {table} e CROSS JOIN q WHERE e.{id_col} <> q.query_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, {id_col}) AS rank FROM s)
SELECT query_id, {id_col}, sim, CAST(rank AS INT) AS rank FROM r WHERE rank <= {k}
"""


# --- single-pass corpus diversity ------------------------------------------------


def diversity_stats(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Per-group mean pairwise cosine similarity WITHOUT materializing any
    pair — the corpus-diversity health metric curation tracks (a group
    whose embeddings all point the same way is redundant; near-0 means
    diverse). Uses the sum-vector identity: for unit vectors u_i,

        sum_{i != j} u_i . u_j  =  ||sum_i u_i||^2 - n

    so mean pairwise cosine = (||s||^2 - n) / (n * (n - 1)) — ONE
    aggregation pass (a posexplode + hash agg to sum per dimension), O(N)
    instead of the O(N^2) self-join every naive implementation reaches
    for. The DuckDB oracle deliberately computes the BRUTE-FORCE pairwise
    mean, so the hash gate cross-proves the algebraic identity, not just
    the plumbing. Groups of one emit NULL (no pairs).

    Output: ``(label, n_vectors, mean_pairwise_cos)`` rounded to 6.
    """
    nrm = F.expr(norm_sql(vec_col, "spark"))
    unit = F.expr(
        f"transform({vec_col}, x -> CAST(x AS DOUBLE) / {norm_sql(vec_col, 'spark')})"
    )
    per_dim = (
        emb.select(F.col(label_col), F.posexplode(unit).alias("dim", "u"))
        .groupBy(label_col, "dim")
        .agg(F.sum("u").alias("s_d"), F.count(F.lit(1)).alias("n"))
    )
    return (
        per_dim.groupBy(label_col)
        .agg(
            F.first("n").alias("n_vectors"),
            F.sum(F.col("s_d") * F.col("s_d")).alias("s2"),
        )
        .select(
            F.col(label_col),
            F.col("n_vectors").cast("long").alias("n_vectors"),
            F.when(
                F.col("n_vectors") > 1,
                F.round(
                    (F.col("s2") - F.col("n_vectors"))
                    / (F.col("n_vectors") * (F.col("n_vectors") - 1)),
                    6,
                ),
            ).alias("mean_pairwise_cos"),
        )
    )


def diversity_stats_oracle(
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
) -> str:
    """Brute-force O(N^2) twin: average cosine over all unordered pairs per
    label — an INDEPENDENT formulation whose agreement proves the
    sum-vector identity the engine relies on."""
    cos = cosine_cols_sql(f"a.{vec_col}", f"b.{vec_col}", "duckdb")
    return f"""
WITH pairs AS (
  SELECT a.{label_col} AS label, {cos} AS c
  FROM {table} a JOIN {table} b
    ON a.{label_col} = b.{label_col} AND a.{id_col} < b.{id_col}),
counts AS (SELECT {label_col} AS label, count(*) AS n_vectors FROM {table} GROUP BY 1)
SELECT c.label, c.n_vectors,
       round((SELECT avg(p.c) FROM pairs p WHERE p.label = c.label), 6)
         AS mean_pairwise_cos
FROM counts c
"""
