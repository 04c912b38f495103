"""Data-mixture sampling and document chunking for training-corpus prep.

``mixture_sample``: hit a per-source token budget (the "data mixture" step
of pretraining — 30% web, 20% code, ... of an N-token run) by computing
each source's deterministic acceptance ratio from its actual token mass and
keeping documents via the md5-bucket rule. Everything is declarative: the
per-source totals are a tiny aggregate joined back broadcast-style, and the
accept/reject decision is row-local — no RNG, no driver loop, stable under
re-runs and corpus growth (the same properties as ``sampling.hash_split``).

``chunk_documents``: sliding-window chunking with overlap (RAG/context-
window prep): each document fans out row-locally into word-slice windows —
``substr``-free (token-aligned), one explode, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from map_spark_sql_spark.operators.text import token_counts_sql


def _bucket_ppm_sql(id_expr: str, d: str) -> str:
    """Per-MILLION md5 bucket: the per-mille rule rounds to a 0 acceptance
    ratio once a source's token mass exceeds 1000x the budget (the 10x-scale
    sweep measured 0 kept rows corpus-wide) — ppm resolution keeps the
    smallest expressible ratio at budget/actual = 1e-6."""
    if d == "spark":
        return (
            f"CAST(conv(substring(md5(CAST({id_expr} AS STRING)), 1, 8), 16, 10) "
            f"AS BIGINT) % 1000000"
        )
    return (
        f"CAST(('0x' || substr(md5(CAST({id_expr} AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000"
    )


def _weights_rel_sql(weights: dict[str, float], d: str) -> str:
    rows = ", ".join(f"('{s}', CAST({float(w)!r} AS DOUBLE))" for s, w in sorted(weights.items()))
    return f"SELECT * FROM (VALUES {rows}) AS w(source, weight)"


def mixture_sample(
    docs: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Keep a deterministic per-source document sample sized to
    ``floor(token_budget * weight)`` tokens per source.

    accept-ratio ppm = min(1e6, (1e6 * target) DIV actual_tokens); a
    document survives iff its md5 per-million bucket falls under its
    source's ratio. Per-MILLION, not per-mille: the 100x rung measured the
    per-mille rule flooring to 0 acceptance (0 kept rows corpus-wide) once
    a source's token mass passed 1000x its target — the same underflow
    :func:`temperature_mixture` hit at 10x. The ``1e6 * target`` product is
    computed in DECIMAL(38,0)/HUGEINT so it cannot wrap int64 at real
    pretraining budgets (~1e13 tokens), matching the temperature path.
    Sources absent from ``weights`` are dropped (weight 0). The expected
    kept token mass per source is target (subject to ppm rounding and
    doc-size granularity — exact budgets need the packing operator
    downstream). Output: ``(doc_id, source, n_tokens)`` kept rows.
    """
    n_tok = F.expr(token_counts_sql(text_col, "spark")["n_ws_tokens"]).cast("long")
    counted = docs.select(
        F.col(id_col), F.col(source_col).alias("source"), n_tok.alias("n_tokens")
    )
    w_rows = [(s, float(w)) for s, w in sorted(weights.items())]
    w_df = docs.sparkSession.createDataFrame(w_rows, "source string, weight double")
    ratios = (
        counted.groupBy("source")
        .agg(F.sum("n_tokens").cast("long").alias("actual"))
        .join(w_df, "source")
        .select(
            "source",
            F.least(
                F.lit(1000000).cast("long"),
                F.expr(
                    f"(CAST(1000000 AS DECIMAL(38,0)) * "
                    f"CAST(floor({int(token_budget)} * weight) AS DECIMAL(38,0))) "
                    f"DIV CAST(actual AS DECIMAL(38,0))"
                ),
            ).alias("ratio_ppm"),
        )
    )
    bucket = F.expr(_bucket_ppm_sql(id_col, "spark"))
    return (
        counted.join(F.broadcast(ratios), "source")
        .filter(bucket < F.col("ratio_ppm"))
        .select(id_col, "source", "n_tokens")
    )


def mixture_sample_oracle(
    weights: dict[str, float],
    token_budget: int,
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> str:
    n = token_counts_sql(text, "duckdb")["n_ws_tokens"]
    return f"""
WITH counted AS (
  SELECT {id_col}, {source_col} AS source, CAST({n} AS BIGINT) AS n_tokens FROM {table}
),
w AS ({_weights_rel_sql(weights, "duckdb")}),
ratios AS (
  SELECT c.source,
         CAST(least(CAST(1000000 AS HUGEINT),
               (CAST(1000000 AS HUGEINT) *
                CAST(floor({int(token_budget)} * w.weight) AS HUGEINT))
               // CAST(sum(c.n_tokens) AS HUGEINT)) AS BIGINT) AS ratio_ppm
  FROM counted c JOIN w ON c.source = w.source GROUP BY c.source, w.weight
)
SELECT c.{id_col}, c.source, c.n_tokens
FROM counted c JOIN ratios r ON c.source = r.source
WHERE {_bucket_ppm_sql(f"c.{id_col}", "duckdb")} < r.ratio_ppm
"""


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window chunking: window starts every ``chunk_tokens -
    overlap`` tokens; each window re-joins its word slice. Row-local 1->N
    explode, no shuffle; short docs yield exactly one chunk. Output:
    ``(doc_id, chunk_idx, chunk_text, n_chunk_tokens)``."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    words = f"split({text_col}, ' ')"
    n = f"size({words})"
    # number of windows: ceil(max(n - overlap, 1) / stride)
    n_chunks = f"greatest(1, CAST(ceil((CAST({n} AS DOUBLE) - {overlap}) / {stride}) AS INT))"
    return (
        docs.select(
            F.col(id_col),
            F.expr(words).alias("_w"),
            F.explode(F.expr(f"sequence(0, {n_chunks} - 1)")).alias("chunk_idx"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.expr(
                f"array_join(slice(_w, chunk_idx * {stride} + 1, {chunk_tokens}), ' ')"
            ).alias("chunk_text"),
            F.expr(f"size(slice(_w, chunk_idx * {stride} + 1, {chunk_tokens}))").alias(
                "n_chunk_tokens"
            ),
        )
    )


def chunk_documents_oracle(
    chunk_tokens: int = 64,
    overlap: int = 16,
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
) -> str:
    stride = chunk_tokens - overlap
    words = f"string_split({text}, ' ')"
    return f"""
WITH w AS (SELECT {id_col}, {words} AS _w FROM {table}),
n AS (
  SELECT {id_col}, _w,
         greatest(1, CAST(ceil((CAST(len(_w) AS DOUBLE) - {overlap}) / {stride}) AS INT)) AS n_chunks
  FROM w
),
e AS (
  SELECT {id_col}, _w, unnest(generate_series(0, n_chunks - 1)) AS chunk_idx FROM n
)
SELECT {id_col}, CAST(chunk_idx AS INTEGER) AS chunk_idx,
       array_to_string(list_slice(_w, chunk_idx * {stride} + 1, chunk_idx * {stride} + {chunk_tokens}), ' ') AS chunk_text,
       CAST(len(list_slice(_w, chunk_idx * {stride} + 1, chunk_idx * {stride} + {chunk_tokens})) AS INTEGER) AS n_chunk_tokens
FROM e
"""


def temperature_mixture(
    docs: DataFrame,
    token_budget: int,
    tau: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    tokens_col: str | None = None,
) -> DataFrame:
    """Temperature-based source rebalancing: instead of hand-picked weights
    (:func:`mixture_sample`), each source's share of the token budget is
    ``actual_s**tau / sum(actual**tau)`` — the exponential-smoothing rule
    used by multilingual pretraining recipes to upweight low-resource
    sources (tau < 1 flattens the natural distribution; tau = 1 reproduces
    it; tau = 0 is uniform).

    Cross-engine determinism: the smoothed score is quantized to an integer
    (``floor(power(actual, tau) + 1e-9)`` — the epsilon absorbs the 1-ulp
    gap between Java ``Math.pow`` and libm ``pow`` at exact-integer
    boundaries, e.g. tau=0.5 on a perfect square, which would otherwise
    flip ``floor``) and every downstream step — the score denominator, the
    per-source token target, the per-million acceptance ratio — is exact
    integer arithmetic, so no float summation or division can drift between
    engines. The two products that can exceed int64 at real pretraining
    scale (``budget * score`` and ``1000000 * target`` both pass 2^63 once
    budgets reach ~1e13 tokens) are computed in DECIMAL(38,0) on Spark and
    HUGEINT on DuckDB; the integral quotients (``DIV`` / ``//``) are back
    under int64 by construction (target <= budget, ratio <= 1e6), and both
    engines produce identical BIGINT results (pinned by
    ``test_trillion_token_budget_no_overflow``). The accept/reject rule is
    an md5 per-MILLION bucket (see ``_bucket_ppm_sql`` — per-mille
    resolution zeroes out once actual/budget > 1000).

    Scale shape: one per-source aggregate (tiny), a 1-row denominator
    broadcast, and a row-local filter — the corpus is scanned once and
    never shuffled.

    Output: ``(doc_id, source, n_tokens)`` kept rows. Pass ``tokens_col``
    to reuse a pre-tallied token count column instead of re-counting from
    ``text_col`` (also how the trillion-token scale test injects synthetic
    masses without materializing terabytes of text).
    """
    if tokens_col is not None:
        counted = docs.select(
            F.col(id_col),
            F.col(source_col).alias("source"),
            F.col(tokens_col).cast("long").alias("n_tokens"),
        )
    else:
        n_tok = F.expr(token_counts_sql(text_col, "spark")["n_ws_tokens"]).cast("long")
        counted = docs.select(
            F.col(id_col), F.col(source_col).alias("source"), n_tok.alias("n_tokens")
        )
    stats = (
        counted.groupBy("source")
        .agg(F.sum("n_tokens").cast("long").alias("actual"))
        .withColumn(
            "score",
            F.expr(f"CAST(floor(power(actual, CAST({tau!r} AS DOUBLE)) + 1e-9) AS BIGINT)"),
        )
    )
    denom = stats.agg(F.sum("score").cast("long").alias("denom"))
    # DECIMAL(38,0) products: budget*score and 1000000*target overflow int64
    # once budget ~ 1e13 tokens (10T+ pretraining mixes); DIV on decimals
    # returns the exact integral quotient as BIGINT.
    ratios = (
        stats.crossJoin(F.broadcast(denom))
        .withColumn(
            "target",
            F.expr(
                f"(CAST({int(token_budget)} AS DECIMAL(38,0)) * CAST(score AS DECIMAL(38,0)))"
                " DIV CAST(denom AS DECIMAL(38,0))"
            ),
        )
        .withColumn(
            "ratio_ppm",
            F.expr(
                "least(CAST(1000000 AS BIGINT),"
                " (CAST(1000000 AS DECIMAL(38,0)) * CAST(target AS DECIMAL(38,0)))"
                " DIV CAST(actual AS DECIMAL(38,0)))"
            ),
        )
        .select("source", "ratio_ppm")
    )
    bucket = F.expr(_bucket_ppm_sql(id_col, "spark"))
    return (
        counted.join(F.broadcast(ratios), "source")
        .filter(bucket < F.col("ratio_ppm"))
        .select(id_col, "source", "n_tokens")
    )


def temperature_mixture_oracle(
    token_budget: int,
    tau: float = 0.5,
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> str:
    n = token_counts_sql(text, "duckdb")["n_ws_tokens"]
    return f"""
WITH counted AS (
  SELECT {id_col}, {source_col} AS source, CAST({n} AS BIGINT) AS n_tokens FROM {table}
),
stats AS (
  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS actual,
         CAST(floor(power(CAST(sum(n_tokens) AS BIGINT), CAST({tau!r} AS DOUBLE)) + 1e-9) AS BIGINT) AS score
  FROM counted GROUP BY source
),
denom AS (SELECT CAST(sum(score) AS BIGINT) AS denom FROM stats),
ratios AS (
  SELECT s.source,
         CAST(least(CAST(1000000 AS HUGEINT),
               (CAST(1000000 AS HUGEINT) *
                ((CAST({int(token_budget)} AS HUGEINT) * CAST(s.score AS HUGEINT)) // CAST(d.denom AS HUGEINT)))
               // CAST(s.actual AS HUGEINT)) AS BIGINT) AS ratio_ppm
  FROM stats s CROSS JOIN denom d
)
SELECT c.{id_col}, c.source, c.n_tokens
FROM counted c JOIN ratios r ON c.source = r.source
WHERE {_bucket_ppm_sql(f"c.{id_col}", "duckdb")} < r.ratio_ppm
"""
