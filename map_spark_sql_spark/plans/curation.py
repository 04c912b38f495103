"""End-to-end corpus curation: the flagship training-data pipeline.

Composes the LLM-data operators (SURVEY §2.8) into the standard curation
funnel a pretraining corpus goes through, as ONE declarative DataFrame plan
plus a driver-side connected-components loop:

    quality gate -> exact dedup -> MinHash/LSH near-dup candidate pairs
    -> connected-components clustering -> cluster-representative keepers
    -> deterministic train/val/test split

Mirrors the reference's pipeline-of-stages architecture
(``MapBuilder.java:55-127`` runs ingest -> stats -> route -> points/tiles
as one composed job) rather than exposing only the individual operators.

Every stage is the already-scale-shaped operator from ``operators/``:
the quality gate is a scan-local predicate (pushes down), exact dedup is
one hash shuffle, near-dup candidates come from banded LSH (never
all-pairs), clustering is the per-round single-shuffle label propagation
with lineage cuts, and the split is a row-local md5 bucket. The funnel
ORDER is itself the 100 TB design: each stage shrinks the row set the next
(more expensive) stage sees — the quality predicate costs a scan, exact
dedup collapses byte-identical copies before any shingling, and only the
survivors pay the MinHash signature pass.

The whole funnel is SQL-expressible, so the driver gets a full value-hash
oracle (:func:`curate_corpus_oracle` — the DuckDB twin composes the same
per-stage oracle SQL, with the recursive-CTE closure standing in for the
label-propagation loop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from map_spark_sql_spark.operators import dedup as DD
from map_spark_sql_spark.operators import text as TX
from map_spark_sql_spark.operators.graph import (
    connected_components,
    connected_components_oracle,
)
from map_spark_sql_spark.operators.sampling import split_label_sql

DEFAULT_MIN_TOKENS = 5
DEFAULT_JACCARD = 0.5
DEFAULT_BOUNDS = (80, 90)  # md5 buckets: <80 train, <90 val, else test


def _quality_predicate(text_col: str, d: str, min_tokens: int) -> str:
    """Scan-local keep predicate: token floor + resolvable language."""
    n_tokens = TX.quality_stats_sql(text_col, d)["n_tokens"]
    lang = TX.language_guess_sql(text_col, d)
    return f"({n_tokens} >= {min_tokens} AND {lang} <> 'und')"


def curate_corpus(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = DEFAULT_MIN_TOKENS,
    jaccard_threshold: float = DEFAULT_JACCARD,
    bounds: tuple[int, int] = DEFAULT_BOUNDS,
) -> DataFrame:
    """Run the curation funnel; one row per KEPT document:

    ``(doc_id, exact_copies, cluster_size, split)``

    - ``exact_copies``: byte-identical duplicates this keeper absorbed
      (1 = unique content).
    - ``cluster_size``: near-dup cluster population this keeper represents
      (1 = no near-dups above the Jaccard threshold).
    - ``split``: deterministic md5-bucket train/val/test label — stable
      under re-runs and corpus growth, unlike a random split.

    Keeper selection is min-id twice (exact stage, then cluster stage), so
    the output is fully deterministic.
    """
    # 1. quality gate — stays a single scan-local predicate
    kept0 = docs.filter(F.expr(_quality_predicate(text_col, "spark", min_tokens)))

    # 2. exact dedup: one hash shuffle; keeper = min id per content digest.
    # A window over the digest keeps each keeper's row in that one shuffle;
    # aggregating the digests (DD.exact_dedup) and joining the keepers back
    # onto kept0 needs a second exchange or broadcast, and at sf0.001 three
    # more build jobs under the cut below (19 against 16).
    by_content = Window.partitionBy(DD.content_hash(text_col))
    kept1 = kept0.select(
        id_col,
        text_col,
        F.count(F.lit(1)).over(by_content).alias("exact_copies"),
        F.min(id_col).over(by_content).alias("_keeper"),
    ).filter(F.col(id_col) == F.col("_keeper"))
    # Stage cut: kept1 is consumed THREE times downstream (the MinHash
    # signature pass, the CC vertex set, and the final keeper join). Without
    # a cut, each consumer re-runs the lambda-heavy quality gate + exact-dedup
    # shuffle from the raw scan. A lazy localCheckpoint computes it once, on
    # first use, and registers nothing session-wide: persist() put it in the
    # session's cache, where a later build of the same plan found it, so a
    # build's job count depended on what had run before it in the session.
    # It is also faster than no cut (CHANGES.md has the sf0.1 A/B).
    kept1 = kept1.select(id_col, text_col, "exact_copies").localCheckpoint(eager=False)

    # 3. near-dup candidates on the shrunken survivor set (banded LSH)
    pairs = DD.minhash_pairs(kept1, text_col, id_col, threshold=jaccard_threshold)

    # 4. min-id label propagation; vertices = all survivors so isolated docs
    #    become singleton clusters
    cc = connected_components(pairs, vertices=kept1.select(id_col), id_col=id_col)

    # 5. representative = the doc whose id IS the cluster label (min id)
    sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    keepers = (
        cc.filter(F.col(id_col) == F.col("cluster_id"))
        .join(sizes, "cluster_id")
        .select(id_col, "cluster_size")
    )

    # 6. deterministic split over the final keeper set
    return (
        kept1.select(id_col, "exact_copies")
        .join(keepers, id_col)
        .withColumn("split", F.expr(split_label_sql(id_col, "spark", bounds)))
        .select(id_col, "exact_copies", "cluster_size", "split")
    )


def curation_report(docs: DataFrame, curated: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Corpus-health rollup of the funnel output: keeper counts, content
    mass, and absorbed-duplicate totals per (source, split) with ROLLUP
    subtotals — the dashboard query a curation run ships with. The keeper
    side is O(corpus) rows (most documents are unique), so no broadcast
    hint: AQE picks the join strategy from the actual post-funnel size."""
    joined = docs.join(curated, id_col)
    return joined.rollup("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
        F.sum("exact_copies").alias("n_absorbed"),
        F.sum("cluster_size").alias("n_clustered"),
    )


def curation_report_oracle(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    **funnel_kwargs,
) -> str:
    inner = curate_corpus_oracle(table=table, text=text, id_col=id_col, **funnel_kwargs)
    return f"""
WITH curated AS (SELECT * FROM ({inner}) c),
joined AS (
  SELECT d.source, curated.split, d.n_chars, curated.exact_copies, curated.cluster_size
  FROM {table} d JOIN curated ON d.{id_col} = curated.{id_col}
)
SELECT source, split, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       CAST(sum(exact_copies) AS BIGINT) AS n_absorbed,
       CAST(sum(cluster_size) AS BIGINT) AS n_clustered
FROM joined GROUP BY ROLLUP (source, split)
"""


def export_curated(
    docs: DataFrame,
    curated: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "overwrite",
) -> None:
    """Materialize the funnel output as the training-ready corpus: keeper
    rows re-joined to their text, written as parquet partitioned by
    ``split`` (so a trainer's ``split=train`` read is partition-pruned and
    never touches val/test files — the same list-a-directory contract as
    the reference's S2/S3 table materializations, ``MapBuilder.java:171-173``).

    The join keys on {id}; the keeper side is corpus-sized (most documents
    survive), so the join strategy is left to AQE rather than a broadcast
    hint. The only other wide operation is the write itself.
    """
    keep = curated.select(id_col, "exact_copies", "cluster_size", "split")
    out = docs.join(keep, id_col).select(
        id_col, text_col, "exact_copies", "cluster_size", "split"
    )
    out.write.mode(mode).partitionBy("split").parquet(path)


def curate_corpus_oracle(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = DEFAULT_MIN_TOKENS,
    jaccard_threshold: float = DEFAULT_JACCARD,
    bounds: tuple[int, int] = DEFAULT_BOUNDS,
) -> str:
    """DuckDB twin of :func:`curate_corpus`, composed from the same
    per-stage oracle generators over a shared CTE chain."""
    quality = _quality_predicate(text, "duckdb", min_tokens)
    exact = DD.exact_dedup_oracle("kept0", text, id_col)
    pairs = DD.minhash_pairs_oracle("kept1", text, id_col, threshold=jaccard_threshold)
    cc = connected_components_oracle(
        pairs_sql=pairs,
        vertices_sql=f"SELECT {id_col} FROM kept1",
        id_col=id_col,
    )
    split = split_label_sql(f"k.{id_col}", "duckdb", bounds)
    return f"""
WITH kept0 AS (SELECT * FROM {table} WHERE {quality}),
ex AS ({exact}),
kept1 AS (
  SELECT k.*, ex.copies AS exact_copies
  FROM kept0 k JOIN ex ON k.{id_col} = ex.keeper
),
cc AS (SELECT * FROM ({cc}) c),
sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY cluster_id)
SELECT k.{id_col}, k.exact_copies, s.cluster_size, {split} AS split
FROM kept1 k
JOIN cc ON k.{id_col} = cc.{id_col} AND cc.{id_col} = cc.cluster_id
JOIN sizes s ON cc.cluster_id = s.cluster_id
"""
