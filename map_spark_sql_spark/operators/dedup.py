"""Deduplication operators: exact, MinHash/LSH, SimHash.

Greenfield (no reference citations — SURVEY.md §2.8): the dedup surface an
LLM-data pipeline needs, built as native expressions so Catalyst codegen and
AQE apply. Every fragment is emitted per-dialect ('spark'/'duckdb') from one
builder, so the correctness oracle evaluates the same formula.

Scale notes (100 TB):

- exact dedup is a single hash-shuffle on the content digest; with
  ``row_number`` semantics it keeps a deterministic representative.
- MinHash signatures are computed per row with no shuffle; the LSH band join
  shuffles only (band_id, band_hash) pairs — O(docs x bands) rows, not
  O(docs^2). The candidate self-join is the one place skew matters: a
  degenerate band (e.g. empty docs all hashing equal) makes a quadratic
  bucket. Guard by salting or dropping buckets above a size cap before the
  join (``max_bucket`` below).
- SimHash is per-row too; identical-signature grouping is a plain groupBy.
  The per-bit array pass is fine for document-sized token lists; for very
  long docs explode+groupBy instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from map_spark_sql_spark.functions.keys import stable_hash_sql

# ---------------------------------------------------------------------------
# dialect-shared fragment builders
# ---------------------------------------------------------------------------


def words_sql(text: str, d: str) -> str:
    fn = "split" if d == "spark" else "string_split"
    return f"{fn}({text}, ' ')"


def shingles_from_words_sql(w: str, n: int, d: str) -> str:
    """n-word shingles from a *words array* expression; 1-based element
    access in both dialects; documents shorter than n words yield an empty
    shingle list (Spark ``sequence(1, 0)`` would count *down*, so it needs an
    explicit empty-guard; DuckDB ``range(1, 1)`` is already empty).

    IMPORTANT (hot-path): pass a staged *column* as ``w``, not an inline
    ``split(...)`` — Catalyst does not common-subexpression-eliminate inside
    higher-order-function lambdas, so an inlined split re-evaluates once per
    ``element_at`` (≈ 3 × shingle-count times per document)."""
    if n == 1:
        return w
    if d == "spark":
        parts = ", ".join(f"element_at({w}, CAST(i AS INT) + {j})" for j in range(n))
        return (
            f"CASE WHEN size({w}) >= {n} THEN "
            f"transform(sequence(1, size({w}) - {n - 1}), i -> concat_ws(' ', {parts})) "
            f"ELSE array() END"
        )
    parts = " || ' ' || ".join(f"({w})[CAST(i AS INT) + {j}]" for j in range(n))
    return f"list_transform(range(1, greatest(len({w}) - {n - 2}, 1)), i -> {parts})"


def shingles_sql(text: str, n: int, d: str) -> str:
    """One-shot shingles from a text expression (inlines the words split —
    fine for single-pass oracles, not for the Spark hot path; see
    :func:`shingles_from_words_sql`)."""
    return shingles_from_words_sql(words_sql(text, d), n, d)


# MinHash permutation family: m_k = min over shingles of (a_k*h + b_k) mod P,
# over ONE base hash per shingle (md5) instead of K md5 passes — the classic
# affine-permutation scheme. P = 2^31-1 keeps a*h within int64 in both engines
# after reducing h mod P first.
MINHASH_P = 2_147_483_647


def _perm_coeffs(k: int) -> tuple[int, int]:
    """Deterministic odd multiplier / offset per permutation (no RNG)."""
    import hashlib

    ha = int.from_bytes(hashlib.md5(f"mh-a:{k}".encode()).digest()[:4], "big")
    hb = int.from_bytes(hashlib.md5(f"mh-b:{k}".encode()).digest()[:4], "big")
    return (ha % (MINHASH_P - 1)) | 1, hb % MINHASH_P


def base_hashes_from_words_sql(w: str, n: int, d: str) -> str:
    """One stable hash per shingle (from a staged words column), mod P."""
    sh = shingles_from_words_sql(w, n, d)
    h = stable_hash_sql("s", d)
    if d == "spark":
        return f"transform({sh}, s -> {h} % {MINHASH_P})"
    return f"list_transform({sh}, s -> {h} % {MINHASH_P})"


def base_hashes_sql(text: str, n: int, d: str) -> str:
    """One stable hash per shingle, pre-reduced mod P (single-expression
    form for oracles)."""
    return base_hashes_from_words_sql(words_sql(text, d), n, d)


def perm_minhash_sql(hashes_col: str, k: int, d: str) -> str:
    """k-th MinHash from the base-hash array column."""
    a, b = _perm_coeffs(k)
    if d == "spark":
        return f"array_min(transform({hashes_col}, h -> ({a} * h + {b}) % {MINHASH_P}))"
    return f"list_min(list_transform({hashes_col}, h -> ({a} * h + {b}) % {MINHASH_P}))"


def token_hashes_sql(text: str, d: str) -> str:
    """Stable hash per token — the ONE expensive (md5) pass; every simhash
    bit is then a cheap arithmetic fold over this array."""
    w = words_sql(text, d)
    h = stable_hash_sql("t", d)
    fn = "transform" if d == "spark" else "list_transform"
    return f"{fn}({w}, t -> {h})"


def simhash_from_hashes_sql(hashes: str, bits: int, d: str) -> str:
    """SimHash from a token-hash array column: bit j of the signature is the
    sign of sum over tokens of (+1/-1 per bit j of the token hash)."""
    terms = []
    for j in range(bits):
        p = 1 << j
        bit = f"(CAST(floor(h / {p}.0) AS BIGINT) % 2)"
        term = f"CASE WHEN {bit} = 1 THEN 1 ELSE -1 END"
        if d == "spark":
            total = f"aggregate(transform({hashes}, h -> {term}), 0, (s, x) -> s + x)"
        else:
            total = f"list_sum(list_transform({hashes}, h -> {term}))"
        terms.append(f"CASE WHEN {total} >= 0 THEN {p} ELSE 0 END")
    return "CAST((" + " + ".join(terms) + ") AS BIGINT)"


def content_hash_sql(text: str, d: str) -> str:
    """Normalized content digest: md5 of lowercased whitespace-collapsed text."""
    flags = "" if d == "spark" else ", 'g'"
    norm = f"lower(regexp_replace({text}, '\\\\s+', ' '{flags}))"
    return f"md5({norm})"


# ---------------------------------------------------------------------------
# Spark Column / DataFrame operators
# ---------------------------------------------------------------------------


from map_spark_sql_spark.sources.readers import widen as _widen


def content_hash(text: Column | str) -> Column:
    name = text if isinstance(text, str) else None
    if name is None:
        raise TypeError("pass the text column name (fragment-shared path)")
    return F.expr(content_hash_sql(name, "spark"))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact near-identity dedup on the normalized content digest.

    Returns one row per distinct content: ``(content_md5, keeper, copies)``
    where keeper = min id (deterministic representative). The
    ``row_number() over (partition by hash)`` formulation is equivalent; the
    min-aggregation shape avoids a sort within each hash group.
    """
    return (
        df.groupBy(content_hash(text_col).alias("content_md5"))
        .agg(
            F.min(id_col).alias("keeper"),
            F.count(F.lit(1)).alias("copies"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle: int = 2,
) -> DataFrame:
    """Per-document MinHash signature columns m0..m{k-1}; one md5 pass over
    the shingles, K cheap affine permutations, no shuffle.

    The hash pass is CPU-bound per row, so it must not be narrower than the
    cluster: a small file count (one parquet file = one task) would serialize
    it. ``_widen`` round-robins up to default parallelism only when the scan
    is narrower — at real scale (thousands of input files) it's a no-op.
    """
    base = (
        _widen(df)
        .withColumn("_w", F.expr(words_sql(text_col, "spark")))
        .withColumn("_h", F.expr(base_hashes_from_words_sql("_w", shingle, "spark")))
    )
    cols = [F.col(id_col)]
    for k in range(num_hashes):
        cols.append(F.expr(perm_minhash_sql("_h", k, "spark")).alias(f"m{k}"))
    return base.select(*cols)


def minhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle: int = 2,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> DataFrame:
    """LSH candidate pairs with estimated Jaccard >= threshold.

    Bands of ``num_hashes/bands`` rows each; documents sharing any band
    bucket become candidates; the estimate is the fraction of equal minhash
    components. Buckets larger than ``max_bucket`` are dropped before the
    self-join (degenerate-bucket / skew guard).
    """
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle)
    return banded_pairs_from_signatures(
        sig, id_col=id_col, num_hashes=num_hashes, bands=bands,
        threshold=threshold, max_bucket=max_bucket,
    )


def banded_pairs_from_signatures(
    sig: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> DataFrame:
    """The band-bucket self-join half of :func:`minhash_pairs`, decoupled
    from the signature computation so it can run off a PERSISTED signature
    table (:func:`persist_minhash_signatures`). On a real cluster the md5
    shingle pass is the expensive scan; materializing ``(doc_id, m0..m{k-1})``
    once and re-banding from it turns every subsequent dedup run (new
    thresholds, different band counts, incremental batches) into a read of a
    narrow table instead of a full text re-hash."""
    from pyspark.sql import Window

    rows_per = num_hashes // bands

    # Carry the whole signature array through the band fan-out so the one
    # bucket self-join yields both signatures — no re-join back to the
    # signature table (two shuffles saved vs the naive candidates->lookup
    # plan; at 100 TB the signature table is the big one, so not re-joining
    # it matters more, not less).
    sig_arr = F.array(*[F.col(f"m{k}") for k in range(num_hashes)])
    band_structs = []
    for b in range(bands):
        members = [F.col(f"m{b * rows_per + r}").cast("string") for r in range(rows_per)]
        band_structs.append(
            F.struct(F.lit(b).alias("band_id"), F.md5(F.concat_ws(":", *members)).alias("band_hash"))
        )
    bands_df = (
        sig.select(F.col(id_col), sig_arr.alias("sig"), F.explode(F.array(*band_structs)).alias("bd"))
        .select(id_col, "sig", "bd.band_id", "bd.band_hash")
    )

    # Degenerate-bucket guard as a window count over the band shuffle — one
    # shuffle, versus groupBy + join which needs two.
    w = Window.partitionBy("band_id", "band_hash")
    bands_df = (
        bands_df.withColumn("bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("bsz") <= max_bucket)
        .drop("bsz")
    )

    # Force a shuffle join: the window above already exchanged on
    # (band_id, band_hash), and both sides are the identical subplan, so the
    # shuffled-hash join runs off ONE ReusedExchange — the signature pass is
    # computed once. The planner's default (broadcasting the whole band
    # table) recomputes it per side and wouldn't survive 100 TB anyway.
    a = bands_df.alias("a")
    b = bands_df.hint("shuffle_hash").alias("b")
    est = F.expr(
        "aggregate(zip_with(a.sig, b.sig, (x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), "
        f"0, (s, x) -> s + x) / CAST({num_hashes} AS DOUBLE)"
    )
    return (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("a_id"),
            F.col(f"b.{id_col}").alias("b_id"),
            F.round(est, 4).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .distinct()
    )


def minhash_band_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle: int = 2,
    bands: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """Coverage diagnostic for :func:`minhash_pairs`' ``max_bucket`` guard
    (the band-LSH twin of ``similarity.lsh_bucket_stats``): one row per
    non-trivial band bucket with its membership count, whether the guard
    drops it, and the candidate pairs skipped — bounded-stage caps must be
    observable, never silent. One hash aggregate over the band fan-out."""
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle)
    rows_per = num_hashes // bands
    band_structs = []
    for b in range(bands):
        members = [F.col(f"m{b * rows_per + r}").cast("string") for r in range(rows_per)]
        band_structs.append(
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(F.concat_ws(":", *members)).alias("band_hash"),
            )
        )
    n = F.col("n_docs")
    return (
        sig.select(F.explode(F.array(*band_structs)).alias("bd"))
        .select("bd.band_id", "bd.band_hash")
        .groupBy("band_id", "band_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(n > 1)
        .select(
            "band_id",
            "band_hash",
            "n_docs",
            (n > max_bucket).alias("dropped"),
            F.when(n > max_bucket, (n * (n - 1) / 2).cast("long"))
            .otherwise(F.lit(0))
            .alias("pairs_skipped"),
        )
    )


def minhash_band_stats_oracle(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle: int = 2,
    bands: int = 4,
    max_bucket: int = 1000,
) -> str:
    rows_per = num_hashes // bands
    sig_cols = ", ".join(
        f"{perm_minhash_sql('_h', k, 'duckdb')} AS m{k}" for k in range(num_hashes)
    )
    band_selects = []
    for b in range(bands):
        # concat_ws, NOT '||': the Spark side's concat_ws SKIPS the all-NULL
        # signatures of NULL-text documents (band hash = md5('')), so those
        # docs form one real — and guard-dropped — bucket per band. '||'
        # would NULL the whole hash and hide that bucket from the oracle;
        # the 100x rung (0.5% NULL texts) caught exactly that divergence.
        members = ", ".join(
            f"CAST(m{b * rows_per + r} AS STRING)" for r in range(rows_per)
        )
        band_selects.append(
            f"SELECT {id_col}, {b} AS band_id, md5(concat_ws(':', {members})) AS band_hash FROM sig"
        )
    bands_sql = " UNION ALL ".join(band_selects)
    return f"""
WITH hashed AS (SELECT {id_col}, {base_hashes_sql(text, shingle, 'duckdb')} AS _h FROM {table}),
sig AS (SELECT {id_col}, {sig_cols} FROM hashed),
bands_all AS ({bands_sql}),
g AS (SELECT band_id, band_hash, count(*) AS n_docs FROM bands_all
      GROUP BY band_id, band_hash HAVING count(*) > 1)
SELECT band_id, band_hash, n_docs,
       n_docs > {max_bucket} AS dropped,
       CAST(CASE WHEN n_docs > {max_bucket}
                 THEN n_docs * (n_docs - 1) / 2 ELSE 0 END AS BIGINT) AS pairs_skipped
FROM g
"""


def persist_minhash_signatures(
    df: DataFrame,
    table_name: str,
    buckets: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle: int = 2,
) -> DataFrame:
    """Materialize the MinHash signature table, bucketed + sorted by
    ``id_col`` (the SCALE.md production materialization barrier).

    Two scale effects: (1) the md5 shingle pass — the most expensive scan in
    the dedup family — runs ONCE per corpus version instead of once per
    dedup run; (2) ``bucketBy(id_col)`` pre-partitions the table on the
    document key, so every downstream per-document join (keeper anti-joins,
    pair re-ranks, joining band verdicts back to text) plans with NO
    Exchange on this side — pinned by
    ``test_signature_table_reuse_joins_without_shuffle``. The band-bucket
    join itself still shuffles on (band_id, band_hash) — a different key by
    construction — via :func:`banded_pairs_from_signatures`.

    Returns the re-read table (the reuse handle).
    """
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle)
    (
        sig.write.bucketBy(buckets, id_col)
        .sortBy(id_col)
        .mode("overwrite")
        .saveAsTable(table_name)
    )
    return df.sparkSession.table(table_name)


def repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 12,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated token spans — the signal behind exact
    SUBSTRING deduplication (Lee et al., "Deduplicating Training Data Makes
    Language Models Better": verbatim multi-token spans repeated across
    documents are memorization fuel even when whole-document dedup passes).
    The suffix-array construction of the paper is replaced by the
    shuffle-friendly approximation production Spark pipelines use: hash
    every ``window``-token sliding span (stride 1), count distinct
    documents per span hash, report spans appearing in >= ``min_docs``
    docs.

    Scale shape: the span fan-out is row-local (one md5 per span off a
    staged words column — the no-CSE-in-lambda lesson) and linear in corpus
    tokens; the single wide shuffle is a partial-aggregable count keyed by
    span hash. Span hashes are uniform by construction, so no skew guard is
    needed on the key — the whale case (one span in half the corpus) is
    exactly what the partial aggregation absorbs map-side.

    Output: ``(span_hash, n_docs, n_occurrences, example_doc)`` — the
    example is the min doc id, the anchor a removal pass would keep.
    """
    spans = (
        _widen(df)
        .withColumn("_w", F.expr(words_sql(text_col, "spark")))
        .filter(F.size("_w") >= window)
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(_w) - {window} + 1), "
                    f"i -> md5(concat_ws(' ', slice(_w, i, {window}))))"
                )
            ).alias("span_hash"),
        )
    )
    return (
        spans.groupBy("span_hash")
        .agg(
            F.countDistinct(F.col(id_col)).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(F.col(id_col)).alias("example_doc"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def repeated_spans_oracle(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    window: int = 12,
    min_docs: int = 2,
) -> str:
    w = words_sql(text, "duckdb")
    return f"""
WITH docs AS (SELECT {id_col}, {w} AS w FROM {table} WHERE len({w}) >= {window}),
spans AS (
  SELECT {id_col},
         md5(array_to_string(list_slice(w, i, i + {window} - 1), ' ')) AS span_hash
  FROM docs, unnest(range(1, len(w) - {window} + 2)) AS t(i))
SELECT span_hash,
       count(DISTINCT {id_col}) AS n_docs,
       count(*) AS n_occurrences,
       min({id_col}) AS example_doc
FROM spans GROUP BY span_hash HAVING count(DISTINCT {id_col}) >= {min_docs}
"""


def incremental_near_dedup(
    batch: DataFrame,
    standing_sig: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle: int = 2,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> DataFrame:
    """NEAR-dup gate for an incoming batch against the standing corpus —
    the MinHash/LSH twin of :func:`incremental_dedup` (which is exact):
    each batch document is checked for band collisions against the
    persisted signature table (:func:`persist_minhash_signatures`), the
    candidates verified by estimated Jaccard, and the batch comes back
    flagged ``(doc_id, is_near_dup, near_dup_of)`` with the smallest
    matching standing id as the canonical duplicate target. Batch ids are
    assumed disjoint from standing ids (an id in both is the UPDATE case —
    MERGE territory, not dedup).

    100 TB shape — the standing table is scanned but NEVER shuffled:

    * the batch is a micro-batch by contract, so its band fan-out is
      BROADCAST into the standing scan (collision join runs map-side);
    * the ``max_bucket`` degenerate-bucket guard on the standing side is a
      broadcast ANTI-join against the (tiny, partial-aggregable) over-cap
      bucket list — not the window-count shape of
      :func:`banded_pairs_from_signatures`, which would exchange the full
      standing fan-out by band key;
    * the only wide shuffle is the final per-batch-doc min aggregation,
      keyed on batch ids (bounded by the batch size).

    The estimated-Jaccard verify carries both signature arrays through the
    collision join (same reasoning as banded_pairs_from_signatures: no
    lookup re-join against the big table).
    """
    rows_per = num_hashes // bands
    sig_arr = F.array(*[F.col(f"m{k}") for k in range(num_hashes)])

    def _bands(sig: DataFrame, label: str) -> DataFrame:
        structs = []
        for b in range(bands):
            members = [
                F.col(f"m{b * rows_per + r}").cast("string") for r in range(rows_per)
            ]
            structs.append(
                F.struct(
                    F.lit(b).alias("band_id"),
                    F.md5(F.concat_ws(":", *members)).alias("band_hash"),
                )
            )
        return sig.select(
            F.col(id_col).alias(f"{label}_id"),
            sig_arr.alias(f"{label}_sig"),
            F.explode(F.array(*structs)).alias("bd"),
        ).select(f"{label}_id", f"{label}_sig", "bd.band_id", "bd.band_hash")

    sbands = _bands(standing_sig, "s")
    over_cap = (
        sbands.groupBy("band_id", "band_hash")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > max_bucket)
        .select("band_id", "band_hash")
    )
    sbands = sbands.join(
        F.broadcast(over_cap), ["band_id", "band_hash"], "left_anti"
    )

    bsig = minhash_signatures(batch, text_col, id_col, num_hashes, shingle)
    bbands = _bands(bsig, "b")

    eq = F.expr(
        f"round(aggregate(zip_with(b_sig, s_sig, "
        f"(x, y) -> CASE WHEN x = y THEN 1 ELSE 0 END), 0, (s, x) -> s + x) "
        f"/ {float(num_hashes)}, 4)"
    )
    matches = (
        sbands.join(F.broadcast(bbands), ["band_id", "band_hash"])
        .select("b_id", "s_id", eq.alias("est"))
        .filter(F.col("est") >= threshold)
        .groupBy("b_id")
        .agg(F.min("s_id").alias("near_dup_of"))
    )
    return (
        batch.select(F.col(id_col))
        .join(matches, F.col(id_col) == F.col("b_id"), "left")
        .select(
            id_col,
            F.col("near_dup_of").isNotNull().alias("is_near_dup"),
            "near_dup_of",
        )
    )


def incremental_near_dedup_oracle(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    batch_pred: str = "doc_id % 5 = 0",
    num_hashes: int = 16,
    shingle: int = 2,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> str:
    """DuckDB twin: standing = NOT(batch_pred) rows, batch = batch_pred
    rows, same band construction (concat_ws NULL-skip), standing-side
    bucket cap, est-Jaccard verify, min standing id per batch doc."""
    rows_per = num_hashes // bands
    sig_cols = ", ".join(
        f"{perm_minhash_sql('_h', k, 'duckdb')} AS m{k}" for k in range(num_hashes)
    )

    def _bands_sql(src: str) -> str:
        selects = []
        for b in range(bands):
            members = ", ".join(
                f"CAST(m{b * rows_per + r} AS STRING)" for r in range(rows_per)
            )
            selects.append(
                f"SELECT {id_col}, {b} AS band_id, md5(concat_ws(':', {members})) AS band_hash FROM {src}"
            )
        return " UNION ALL ".join(selects)

    eq_sum = " + ".join(
        f"CASE WHEN bs.m{k} = ss.m{k} THEN 1 ELSE 0 END" for k in range(num_hashes)
    )
    return f"""
WITH hashed AS (SELECT {id_col}, {base_hashes_sql(text, shingle, 'duckdb')} AS _h FROM {table}),
sig AS (SELECT {id_col}, {sig_cols} FROM hashed),
ssig AS (SELECT * FROM sig WHERE NOT ({batch_pred})),
bsig AS (SELECT * FROM sig WHERE {batch_pred}),
sbands_all AS ({_bands_sql('ssig')}),
over_cap AS (SELECT band_id, band_hash FROM sbands_all
             GROUP BY band_id, band_hash HAVING count(*) > {max_bucket}),
sbands AS (SELECT s.* FROM sbands_all s ANTI JOIN over_cap o
           ON s.band_id = o.band_id AND s.band_hash = o.band_hash),
bbands AS ({_bands_sql('bsig')}),
cand AS (SELECT DISTINCT b.{id_col} AS b_id, s.{id_col} AS s_id
         FROM bbands b JOIN sbands s USING (band_id, band_hash)),
est AS (SELECT c.b_id, c.s_id, round(({eq_sum}) / {float(num_hashes)}, 4) AS est
        FROM cand c JOIN bsig bs ON c.b_id = bs.{id_col}
                    JOIN ssig ss ON c.s_id = ss.{id_col}),
matches AS (SELECT b_id, min(s_id) AS near_dup_of FROM est
            WHERE est >= {threshold} GROUP BY b_id)
SELECT b.{id_col}, m.near_dup_of IS NOT NULL AS is_near_dup, m.near_dup_of
FROM bsig b LEFT JOIN matches m ON b.{id_col} = m.b_id
"""


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 24) -> DataFrame:
    return (
        _widen(df)
        .withColumn("_th", F.expr(token_hashes_sql(text_col, "spark")))
        .select(
            F.col(id_col),
            F.expr(simhash_from_hashes_sql("_th", bits, "spark")).alias("simhash"),
        )
    )


def _simhash_band_bounds(bits: int, n_bands: int) -> list[tuple[int, int]]:
    """(low_bit, width) per band, distributing ``bits`` as evenly as possible
    (no zero-width band, which would degenerate into an all-pairs bucket)."""
    if n_bands > bits:
        raise ValueError(f"need n_bands <= bits, got {n_bands} bands over {bits} bits")
    base, extra = divmod(bits, n_bands)
    out, lo = [], 0
    for j in range(n_bands):
        width = base + (1 if j < extra else 0)
        out.append((lo, width))
        lo += width
    return out


def simhash_banded_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 24,
    max_hamming: int = 3,
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-duplicate pairs with SimHash hamming distance <= ``max_hamming``.

    Pigeonhole banding: split the ``bits``-bit signature into
    ``max_hamming + 1`` bands — any pair within the hamming budget agrees
    EXACTLY on at least one band, so banding loses no true pairs (unlike
    probabilistic MinHash banding, this is a complete candidate generator).
    Candidates come from a single explode keyed by (band_id, band_value) and
    an in-bucket pair fan-out (the join-free one-shuffle shape of
    :func:`simhash_pairs`); the exact hamming distance is then verified
    in-expression with ``bit_count(a_sig ^ b_sig)`` and pairs found via
    multiple bands are de-duplicated.

    100 TB shape: the signature pass (the md5-heavy part) runs once; the
    wide shuffle keys on (band_id, band_value) — ``max_bucket`` caps the
    quadratic in-bucket fan-out where a band value degenerates (near-empty
    docs all hash to similar signatures), trading recall on pathological
    buckets for a bounded stage, same contract as MinHash's guard.
    """
    s = simhash(df, text_col, id_col, bits)
    n_bands = max_hamming + 1
    band_structs = [
        f"struct({j} AS band_id, "
        f"CAST(floor(simhash / {1 << lo}) AS BIGINT) % {1 << width} AS band_val)"
        for j, (lo, width) in enumerate(_simhash_band_bounds(bits, n_bands))
    ]
    bands = s.select(
        id_col,
        "simhash",
        F.explode(F.expr("array(" + ", ".join(band_structs) + ")")).alias("bd"),
    ).select(id_col, "simhash", "bd.band_id", "bd.band_val")
    buckets = (
        bands.groupBy("band_id", "band_val")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("simhash").alias("sig")))
            ).alias("ms")
        )
        .filter((F.size("ms") > 1) & (F.size("ms") <= max_bucket))
    )
    # r11 optimization: the hamming test runs INSIDE the pair lambda, so
    # only surviving pairs are materialized as structs and exploded (sf0.1:
    # 2.71M candidate pairs -> 0.80M exploded rows; before, all 2.71M
    # four-field structs crossed the Generate and were filtered after).
    # bit_count evaluates twice per survivor (filter + struct), which is
    # far cheaper than allocating 2M dropped structs. Output multiset is
    # unchanged — predicate-through-explode commutes.
    pairs = F.expr(
        "flatten(transform(ms, (a, i) -> "
        f"transform(filter(slice(ms, i + 2, size(ms) - i - 1), "
        f"b -> bit_count(a.sig ^ b.sig) <= {max_hamming}), "
        "b -> struct(a.id AS a_id, b.id AS b_id, "
        "bit_count(a.sig ^ b.sig) AS hamming))))"
    )
    # r11 optimization: same fan-out rule as ngram_jaccard_pairs — the
    # bucket table is tiny by BYTES, so AQE coalesces it to ~1 partition
    # and the quadratic in-bucket pair lambda + the distinct's partial agg
    # would serialize; an explicit repartition-by-num (exempt from
    # coalescing) spreads the explosion across the cores (guide §2.5).
    par = df.sparkSession.sparkContext.defaultParallelism
    return (
        buckets.repartition(par, "band_id", "band_val")
        .select(F.explode(pairs).alias("p"))
        .select("p.a_id", "p.b_id", "p.hamming")
        .distinct()
    )


def simhash_banded_pairs_oracle(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    bits: int = 24,
    max_hamming: int = 3,
    max_bucket: int = 1000,
) -> str:
    """Mirrors :func:`simhash_banded_pairs` including the ``max_bucket``
    degenerate-bucket guard (same HAVING shape as the MinHash oracle) —
    without it the two sides diverge as soon as a band value concentrates
    more than ``max_bucket`` docs (observed at sf0.1)."""
    sh = simhash_from_hashes_sql("_th", bits, "duckdb")
    bands = " UNION ALL ".join(
        f"SELECT {id_col}, simhash, {j} AS band_id, "
        f"CAST(floor(simhash / {1 << lo}) AS BIGINT) % {1 << width} AS band_val FROM s"
        for j, (lo, width) in enumerate(_simhash_band_bounds(bits, max_hamming + 1))
    )
    return (
        f"WITH th AS (SELECT {id_col}, {token_hashes_sql(text, 'duckdb')} AS _th FROM {table}), "
        f"s AS (SELECT {id_col}, {sh} AS simhash FROM th), "
        f"bands_all AS ({bands}), "
        f"keep AS (SELECT band_id, band_val FROM bands_all GROUP BY band_id, band_val "
        f"HAVING count(*) <= {max_bucket}), "
        f"bands AS (SELECT b.* FROM bands_all b JOIN keep k USING (band_id, band_val)) "
        f"SELECT DISTINCT a.{id_col} AS a_id, b.{id_col} AS b_id, "
        f"CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming "
        f"FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.band_val = b.band_val "
        f"AND a.{id_col} < b.{id_col} "
        f"WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}"
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 24,
    max_bucket: int | None = None,
) -> DataFrame:
    """Documents with identical SimHash signatures (hamming distance 0);
    for hamming <= k near-matching see :func:`simhash_banded_pairs`.

    Shaped as groupBy(simhash) -> in-bucket pair fan-out rather than a
    self-join: the signature pass (the md5-heavy part) runs once, there is
    ONE shuffle keyed by signature, and pair generation is a local explode.
    A self-join would recompute the signatures on both sides and shuffle
    twice.

    ``max_bucket`` (default None = emit everything, the exact semantics)
    drops signature buckets holding more than that many documents. A
    colliding bucket of n docs materializes C(n, 2) pairs inside ONE
    collected array row — the 100x rung's 5 000 NULL-text documents all
    share signature 0 and would fan a single 12.5M-struct array out of one
    task, which is an executor-killer at corpus scale; such a bucket means
    the signature has degenerated (NULL/empty/boilerplate text), not that
    12.5M near-dup pairs exist. The cap is mirrored into
    :func:`simhash_pairs_oracle`, and the loss is observable (never
    silent): :func:`simhash_bucket_stats` with the same (bits, max_bucket)
    reports every dropped bucket and its skipped-pair count.
    """
    s = simhash(df, text_col, id_col, bits)
    buckets = (
        s.groupBy("simhash")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket)
    pairs = F.expr(
        "flatten(transform(ids, (a, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), b -> struct(a, b))))"
    )
    return (
        buckets.select("simhash", F.explode(pairs).alias("p"))
        .select(F.col("p.a").alias("a_id"), F.col("p.b").alias("b_id"), "simhash")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle: int = 3,
    threshold: float = 0.2,
    max_df: int = 200,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via an inverted index (no doc self-join).

    Explode each document's DISTINCT shingle-hash set, drop shingles whose
    document frequency exceeds ``max_df`` (standard frequent-feature pruning
    — a stopword shingle shared by half the corpus creates a quadratic
    posting list and adds no discriminative signal), then fan out in-posting
    pairs and count shared shingles per pair:

        J(a, b) = shared / (|a| + |b| - shared)

    over the pruned shingle space. Scale shape: rows after explode =
    sum(|doc| posting entries); the only wide shuffle keys on shingle hash,
    and the pair count aggregation keys on (a, b) — both well-distributed by
    construction (max_df bounds the per-key fan-out).
    """
    sh = (
        _widen(df)
        .withColumn("_w", F.expr(words_sql(text_col, "spark")))
        .select(
            F.col(id_col),
            F.array_distinct(
                F.expr(base_hashes_from_words_sql("_w", shingle, "spark"))
            ).alias("hs"),
        )
        .withColumn("sz", F.size("hs"))
        # explode_outer + post-filter, NOT plain explode: for explode, the
        # InferFiltersFromGenerate rule synthesizes `size(hs) > 0` below the
        # Generate and predicate-pushdown drags it through the repartition
        # into the parquet scan as a DataFilter — whose expression is the
        # whole shingle-hash pipeline, evaluated a second time and
        # single-threaded in the (one-file) scan task. explode_outer gets no
        # inferred filter; empty shingle sets surface as one h=NULL row each
        # and are dropped right here.
        .select(id_col, "sz", F.explode_outer("hs").alias("h"))
        .filter(F.col("h").isNotNull())
    )
    # posting list -> in-bucket ordered pair fan-out (same join-free shape as
    # simhash_pairs); members sorted by (id, sz) struct so a < b holds. The
    # max_df cap is the collected posting-list length — one groupBy carries
    # both the cap and the fan-out (a separate document-frequency window pass
    # would re-sort the whole posting table for the same information).
    buckets = (
        sh.groupBy("h")
        .agg(F.sort_array(F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("sz").alias("sz")))).alias("ms"))
        .filter((F.size("ms") > 1) & (F.size("ms") <= max_df))
    )
    pairs = F.expr(
        "flatten(transform(ms, (a, i) -> "
        "transform(slice(ms, i + 2, size(ms) - i - 1), b -> struct(a.id AS a_id, a.sz AS a_sz, b.id AS b_id, b.sz AS b_sz))))"
    )
    # The pair fan-out multiplies rows ~(bucket-1)/2-fold, so the stage must
    # not inherit the *input's* AQE-coalesced partitioning (the bucket table
    # is tiny by bytes — AQE would collapse it to one task and serialize the
    # explosion). An explicit repartition-by-num is exempt from coalescing.
    par = df.sparkSession.sparkContext.defaultParallelism
    shared = (
        buckets.repartition(par, "h")
        .select(F.explode(pairs).alias("p"))
        .groupBy("p.a_id", "p.a_sz", "p.b_id", "p.b_sz")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    jac = F.col("shared") / (F.col("a_sz") + F.col("b_sz") - F.col("shared"))
    return (
        shared.withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle: int = 3,
    threshold: float = 0.8,
    max_df: int = 200,
) -> DataFrame:
    """Asymmetric near-dup: containment of the smaller shingle set in the
    larger, C = shared / min(|a|, |b|). Catches what Jaccard structurally
    misses — a short document quoted inside a long one scores C ~= 1 while
    J ~= |short|/|long| ~= 0. Same inverted-index shape (and the same
    ``max_df`` bounded-stage guard, mirrored in the oracle) as
    :func:`ngram_jaccard_pairs`; only the final metric differs."""
    sh = (
        _widen(df)
        .withColumn("_w", F.expr(words_sql(text_col, "spark")))
        .select(
            F.col(id_col),
            F.array_distinct(
                F.expr(base_hashes_from_words_sql("_w", shingle, "spark"))
            ).alias("hs"),
        )
        .withColumn("sz", F.size("hs"))
        .select(id_col, "sz", F.explode_outer("hs").alias("h"))
        .filter(F.col("h").isNotNull())
    )
    buckets = (
        sh.groupBy("h")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(id_col).alias("id"), F.col("sz").alias("sz")))
            ).alias("ms")
        )
        .filter((F.size("ms") > 1) & (F.size("ms") <= max_df))
    )
    pairs = F.expr(
        "flatten(transform(ms, (a, i) -> "
        "transform(slice(ms, i + 2, size(ms) - i - 1), b -> struct(a.id AS a_id, a.sz AS a_sz, b.id AS b_id, b.sz AS b_sz))))"
    )
    par = df.sparkSession.sparkContext.defaultParallelism
    shared = (
        buckets.repartition(par, "h")
        .select(F.explode(pairs).alias("p"))
        .groupBy("p.a_id", "p.a_sz", "p.b_id", "p.b_sz")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    cont = F.col("shared") / F.least(F.col("a_sz"), F.col("b_sz"))
    return (
        shared.withColumn("containment", F.round(cont, 4))
        .filter(F.col("containment") >= threshold)
        .select("a_id", "b_id", "containment")
    )


def ngram_containment_pairs_oracle(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    shingle: int = 3,
    threshold: float = 0.8,
    max_df: int = 200,
) -> str:
    hashes = base_hashes_sql(text, shingle, "duckdb")
    metric = "round(CAST(shared AS DOUBLE) / least(a_sz, b_sz), 4)"
    return f"""
WITH docs AS (SELECT {id_col}, list_distinct({hashes}) AS hs FROM {table}),
sized AS (SELECT {id_col}, len(hs) AS sz, hs FROM docs WHERE len(hs) > 0),
sh0 AS (SELECT {id_col}, sz, unnest(hs) AS h FROM sized),
sh AS (SELECT * FROM (SELECT {id_col}, sz, h, count(*) OVER (PARTITION BY h) AS dfreq FROM sh0) WHERE dfreq <= {max_df}),
shared AS (
  SELECT a.{id_col} AS a_id, a.sz AS a_sz, b.{id_col} AS b_id, b.sz AS b_sz,
         count(*) AS shared
  FROM sh a JOIN sh b ON a.h = b.h AND a.{id_col} < b.{id_col}
  GROUP BY a_id, a_sz, b_id, b_sz)
SELECT a_id, b_id, {metric} AS containment
FROM shared WHERE {metric} >= {threshold}
"""


def prefix_filter_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: tuple[int, int] = (7, 10),
    positional: bool = False,
) -> DataFrame:
    """LOSSLESS threshold-Jaccard set-similarity self-join via prefix
    filtering (Bayardo et al. "Scaling Up All Pairs Similarity Search",
    WWW'07; the candidate-generation core of PPJoin, Xiao et al. WWW'08),
    emitted at FAMILY-REPRESENTATIVE granularity.

    **Representative collapse (the r5 verdict's quadratic-output fix).**
    Jaccard is a function of the token SET alone, so documents with an
    identical distinct-token-hash set are interchangeable for every pair
    decision this operator makes. Collapsing each such family to one
    representative (min ``id_col``) + a multiplicity BEFORE the prefix
    index removes the m² within-family pair mass that dominated the old
    contract (sf0.1: 5 000 docs → 5.1 M pairs, because the corpus's
    duplicate families are exact copies). The output is lossless by
    composition: the full doc-level pair set is exactly

    - for every row with ``a_id != b_id``: the ``a_family * b_family``
      cross products of the two families' members, and
    - for every self row (``a_id == b_id``, ``jac_ppm = 1000000``):
      the ``C(family, 2)`` within-family pairs

    where family membership is recoverable from a token-set (or exact
    content) group-by. A 10 M-copy family at 100 TB now costs ONE family
    row, not 5×10¹³ output rows.

    **Prefix filter.** The inverted-index family above
    (:func:`ngram_jaccard_pairs`) caps whale posting lists with
    ``max_df`` — a LOSSY guard whose coverage loss needs a companion
    diagnostic. Prefix filtering removes the whale postings *provably
    losslessly* for a threshold query: order every family's token-hash
    set by ascending corpus document frequency (rarest first, ties on
    hash), and index ONLY the first ``p(x) = |x| - ceil(t*|x|) + 1``
    tokens. Any pair with ``J >= t`` shares at least
    ``ceil(t * max(|a|, |b|))`` tokens, so two sets whose p-prefixes are
    disjoint under a common total order cannot reach the threshold.
    Candidates are verified with the exact integer test
    ``den * shared >= num * (|a| + |b| - shared)``; with ``t = num/den``
    rational, ``ceil(t*|x|) = (num*|x| + den - 1) div den`` — no float
    touches the filter or the emitted ``jac_ppm``.

    Scale shape: the collapse is one group-by on the token-set key whose
    payload (the array) had to move anyway to build postings; document
    frequency is one token-keyed count over UNIQUE sets; the per-family
    rank is a window partitioned by representative (millions of tiny
    local sorts, never global); candidate generation joins only prefix
    postings; verification intersects JVM-side (``array_intersect``).
    Nothing in the plan is proportional to family size squared.

    Returns ``(a_id, b_id, a_family, b_family, shared, jac_ppm)`` —
    representative ids, family multiplicities, shared distinct-token
    count (= set size on self rows), exact-integer Jaccard ppm.
    """
    from pyspark.sql import Window

    num, den = threshold
    # `fams` is consumed three times (posting explode + both verify-join
    # sides), and the verify threshold filter infers `isnotnull(a_sz)`,
    # which predicate pushdown would drag into the parquet scan as a
    # DataFilter carrying the whole token-hash HOF pipeline (the
    # ngram_jaccard_pairs lesson, via a different inference path). The
    # lazy localCheckpoint cuts that lineage AND makes the md5 token pass
    # run once instead of three times. No `sz > 0` filter: token-less
    # families produce no postings, so they can never become candidates,
    # and self rows exclude them explicitly.
    fams = (
        _widen(df)
        .withColumn(
            "hs",
            F.array_sort(
                F.array_distinct(F.expr(token_hashes_sql(text_col, "spark")))
            ),
        )
        .groupBy("hs")
        .agg(F.min(id_col).alias("rep"), F.count(F.lit(1)).alias("family"))
        .withColumn("sz", F.size("hs"))
        .localCheckpoint(eager=False)
    )
    post = (
        fams.select("rep", "sz", F.explode_outer("hs").alias("h"))
        .filter(F.col("h").isNotNull())
    )
    dfreq = post.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("rep").orderBy("df", "h")
    # r11 optimization: the prefix table feeds BOTH sides of the posting
    # self-join below. Without its own lineage cut, Catalyst plans the
    # whole explode -> dfreq -> join -> window chain TWICE (one copy per
    # join input — the r11 plan held two identical 20-operator subtrees,
    # one under each side of the self-join); the non-eager
    # localCheckpoint computes it once and both sides scan the result
    # (guide §2.4: share one exchange between same-keyed consumers).
    # r11 optimization — spread the fan-out (guide §2.5 input skew): the
    # prefix table is SMALL relative to what the posting self-join below
    # generates from it (sf0.1: 28k prefix rows -> 17.9M candidate rows, a
    # ~650x fan-out). Left to AQE, the window's output coalesces to ~1
    # post-shuffle partition, so the join fan-out AND the candidate
    # distinct's partial aggregate ran near single-threaded (measured:
    # 10.9s for the distinct alone). The explicit round-robin repartition
    # to default parallelism costs one shuffle of the tiny prefix table
    # and spreads the generation + map-side dedup across every core
    # (measured: join+distinct 12.9s -> 3.9s). At cluster scale the same
    # logic holds: AQE sizes partitions by the ~MB prefix bytes, not the
    # GB candidate stream they generate.
    par = df.sparkSession.sparkContext.defaultParallelism
    pref = (
        post.join(dfreq, "h")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.expr(f"rn <= sz - (({num} * sz + {den - 1}) div {den}) + 1"))
        .select("rep", "sz", "rn", "h")
        .repartition(par)
        .localCheckpoint(eager=False)
    )
    # AllPairs length filter (lossless): J >= t forces
    # num * max(|a|,|b|) <= den * min(|a|,|b|), pruned inside the posting
    # join BEFORE the distinct so incompatible-size candidates never reach
    # the candidate shuffle (sf0.1: 7.6M -> 5.0M candidates).
    #
    # Positional filter (PPJoin, Xiao et al. WWW'08 §3.2, lossless; OPT-IN):
    # both prefixes are ranked by the SAME total token order (df, h), so
    # when a token matches at 1-based ranks (i, j), the overlap from tokens
    # that precede it is at most min(i-1, j-1) and from the token onward at
    # most min(|a|-i+1, |b|-j+1). J >= num/den needs overlap
    # O = ceil(num*(|a|+|b|)/(num+den)); the bound holds at EVERY matching
    # token, so any posting row that fails it is safely dropped before the
    # candidate shuffle — a pair survives iff some matching row passes.
    # MEASURED default-off (sf0.1 bench corpus, same box A/B): pruning
    # removed only ~1% of candidates (near-identical sets match at early
    # ranks) while carrying the two rank columns through the ~27M-row
    # posting join cost +15% wall on the operator. Enable on corpora with
    # heavy shared-vocabulary overlap SHORT of the threshold, where
    # late-rank matches dominate the candidate stream.
    # r11 optimization — self-join INDEX-prefix reduction (Bayardo et al.
    # WWW'07 §3.1, lossless): take any qualifying pair and label its
    # smaller set `a` (|a| <= |b|). Overlap O >= alpha where
    # alpha = ceil(num*(|a|+|b|) / (num+den)); the SMALLEST shared token
    # under the global (df, h) order sits at position <= |x| - O + 1 in
    # BOTH sets, hence within the first |a| - ceil(2*num*|a|/(num+den)) + 1
    # tokens of a (using |b| >= |a|) and within b's probe prefix (using the
    # length filter den*|a| >= num*|b|, without which J < t anyway). So
    # the a-side only needs the SHORTER index prefix (t=0.7: 0.18*sz vs
    # 0.3*sz), and each pair is generated once per token of
    # idx(a) ∩ probe(b) instead of probe(a) ∩ probe(b) — measured sf0.1:
    # the raw candidate stream drops 26.9M -> 17.9M rows and the
    # dedup aggregate that dominated the query shrinks with it, while the
    # tighter keep condition also removes ~41k false candidates before
    # verify (distinct pairs 5.00M -> 4.96M, same verified output). Ties in
    # size break by id, so every unordered pair is generated under exactly
    # one labeling; output ids are re-normalized to (min, max) to keep the
    # contract byte-identical.
    a_post = pref.filter(
        F.expr(f"rn <= sz - ((2 * {num} * sz + {num + den - 1}) div {num + den}) + 1")
    ).select(
        F.col("rep").alias("a_id"), F.col("sz").alias("a_psz"),
        *[F.col("rn").alias("a_rn")] if positional else [], "h",
    )
    b_post = pref.select(
        F.col("rep").alias("b_id"), F.col("sz").alias("b_psz"),
        *[F.col("rn").alias("b_rn")] if positional else [], "h",
    )
    keep = (
        (
            (F.col("a_psz") < F.col("b_psz"))
            | ((F.col("a_psz") == F.col("b_psz")) & (F.col("a_id") < F.col("b_id")))
        )
        & (F.expr(f"{num} * b_psz <= {den} * a_psz"))
    )
    if positional:
        keep = keep & (
            F.expr("least(a_rn - 1, b_rn - 1)")
            + F.expr("least(a_psz - a_rn + 1, b_psz - b_rn + 1)")
            >= F.expr(
                f"({num} * (a_psz + b_psz) + {num + den - 1}) div {num + den}"
            )
        )
    cand = (
        a_post.join(b_post, "h")
        .filter(keep)
        .select(
            F.least("a_id", "b_id").alias("a_id"),
            F.greatest("a_id", "b_id").alias("b_id"),
        )
        .distinct()
    )
    joined = cand.join(
        fams.select(
            F.col("rep").alias("a_id"),
            F.col("hs").alias("a_hs"),
            F.col("sz").alias("a_sz"),
            F.col("family").alias("a_family"),
        ),
        "a_id",
    ).join(
        fams.select(
            F.col("rep").alias("b_id"),
            F.col("hs").alias("b_hs"),
            F.col("sz").alias("b_sz"),
            F.col("family").alias("b_family"),
        ),
        "b_id",
    )
    # r11 optimization: computing `shared` as a plain withColumn lets the
    # optimizer inline it into the threshold filter and push BOTH into the
    # second join's condition — array_intersect then runs 2-3x per
    # candidate row (twice inside the join condition, again in the output
    # projection: the r11 plan's BroadcastHashJoin condition called
    # array_intersect twice and the Project above it a third time).
    # The single-element explode(array(struct(...))) is a Generate barrier:
    # a predicate on a generated field cannot be pushed below the Generate,
    # so the intersect is evaluated exactly once per candidate and the
    # threshold filter stays a cheap integer comparison above it.
    ver = joined.select(
        F.explode(
            F.array(
                F.struct(
                    "a_id",
                    "b_id",
                    "a_family",
                    "b_family",
                    "a_sz",
                    "b_sz",
                    F.size(F.array_intersect("a_hs", "b_hs")).alias("shared"),
                )
            )
        ).alias("s")
    ).select("s.*")
    cross = (
        ver.filter(F.expr(f"{den} * shared >= {num} * (a_sz + b_sz - shared)"))
        .select(
            "a_id",
            "b_id",
            F.col("a_family").cast("bigint").alias("a_family"),
            F.col("b_family").cast("bigint").alias("b_family"),
            F.col("shared").cast("bigint").alias("shared"),
            F.expr(
                "CAST((1000000 * shared) div (a_sz + b_sz - shared) AS BIGINT)"
            ).alias("jac_ppm"),
        )
    )
    self_rows = (
        fams.filter((F.col("family") > 1) & (F.col("sz") > 0))
        .select(
            F.col("rep").alias("a_id"),
            F.col("rep").alias("b_id"),
            F.col("family").cast("bigint").alias("a_family"),
            F.col("family").cast("bigint").alias("b_family"),
            F.col("sz").cast("bigint").alias("shared"),
            F.lit(1000000).cast("bigint").alias("jac_ppm"),
        )
    )
    return cross.unionByName(self_rows)


def prefix_filter_pairs_oracle(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    threshold: tuple[int, int] = (7, 10),
) -> str:
    """DuckDB twin of :func:`prefix_filter_pairs` — the same family
    collapse, prefix-index candidate generation, and exact integer verify
    (NOT a brute-force reference: running the identical lossless algorithm
    on both engines is the cross-engine check; losslessness itself is
    pinned by the pytest brute-force cross-check on a small corpus)."""
    num, den = threshold
    hashes = token_hashes_sql(text, "duckdb")
    return f"""
WITH docs AS (SELECT {id_col}, list_sort(list_distinct({hashes})) AS hs FROM {table}),
fams AS (
  SELECT hs, min({id_col}) AS rep, count(*) AS family, len(hs) AS sz
  FROM docs GROUP BY hs
),
post AS (SELECT rep, sz, unnest(hs) AS h FROM fams),
dfreq AS (SELECT h, count(*) AS df FROM post GROUP BY h),
pref AS (
  SELECT rep, sz, h FROM (
    SELECT p.rep, p.sz, p.h,
           row_number() OVER (PARTITION BY p.rep ORDER BY d.df, p.h) AS rn
    FROM post p JOIN dfreq d ON p.h = d.h
  ) r WHERE rn <= sz - (({num} * sz + {den - 1}) // {den}) + 1
),
cand AS (
  SELECT DISTINCT a.rep AS a_id, b.rep AS b_id
  FROM pref a JOIN pref b ON a.h = b.h AND a.rep < b.rep
   AND {num} * a.sz <= {den} * b.sz AND {num} * b.sz <= {den} * a.sz
),
ver AS (
  SELECT c.a_id, c.b_id, x.family AS a_family, y.family AS b_family,
         len(list_intersect(x.hs, y.hs)) AS shared,
         x.sz AS a_sz, y.sz AS b_sz
  FROM cand c
  JOIN fams x ON c.a_id = x.rep
  JOIN fams y ON c.b_id = y.rep
)
SELECT a_id, b_id, CAST(a_family AS BIGINT) AS a_family,
       CAST(b_family AS BIGINT) AS b_family, CAST(shared AS BIGINT) AS shared,
       CAST((1000000 * shared) // (a_sz + b_sz - shared) AS BIGINT) AS jac_ppm
FROM ver WHERE {den} * shared >= {num} * (a_sz + b_sz - shared)
UNION ALL
SELECT rep AS a_id, rep AS b_id, CAST(family AS BIGINT) AS a_family,
       CAST(family AS BIGINT) AS b_family, CAST(sz AS BIGINT) AS shared,
       CAST(1000000 AS BIGINT) AS jac_ppm
FROM fams WHERE family > 1 AND sz > 0
"""


# ---------------------------------------------------------------------------
# oracle generators (duckdb dialect)
# ---------------------------------------------------------------------------


def incremental_dedup(
    new_docs: DataFrame,
    known: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_col: str = "content_md5",
) -> DataFrame:
    """Batch-over-batch dedup: keep only NEW content — rows of ``new_docs``
    whose digest appears neither in the ``known`` digest set (anti join) nor
    earlier within the batch itself (min-id per digest).

    This is the steady-state ingestion shape: the corpus's digest set is a
    compact table (one md5 per distinct content, not the corpus itself) that
    each incoming batch anti-joins against. At 100 TB the digest table is
    ~3% the corpus bytes; the anti join shuffles only the BATCH unless the
    digest side is small enough for AQE to broadcast it. Returns the
    surviving rows with their digest attached (the rows to append to both
    the corpus and the digest set).
    """
    hashed = new_docs.withColumn(hash_col, content_hash(text_col))
    fresh = hashed.join(known.select(hash_col), hash_col, "left_anti")
    in_batch_first = fresh.groupBy(hash_col).agg(F.min(id_col).alias(id_col))
    return fresh.join(in_batch_first, [hash_col, id_col]).select(
        id_col, hash_col, *[c for c in new_docs.columns if c != id_col]
    )


def incremental_dedup_oracle(
    new_sql: str,
    known_sql: str,
    text: str = "text",
    id_col: str = "doc_id",
    hash_col: str = "content_md5",
) -> str:
    """DuckDB twin; ``new_sql`` yields the batch, ``known_sql`` yields a
    relation with a ``{hash_col}`` column."""
    h = content_hash_sql(text, "duckdb")
    return f"""
WITH hashed AS (SELECT *, {h} AS {hash_col} FROM ({new_sql}) nb),
fresh AS (
  -- NOT EXISTS, not NOT IN: a single NULL digest in the known set would
  -- tri-value NOT IN to empty, while Spark's left_anti keeps NULL-keyed rows.
  SELECT * FROM hashed h
  WHERE NOT EXISTS (
    SELECT 1 FROM ({known_sql}) kn WHERE kn.{hash_col} = h.{hash_col}
  )
),
first_in_batch AS (
  SELECT {hash_col}, min({id_col}) AS {id_col} FROM fresh GROUP BY {hash_col}
)
SELECT f.* FROM fresh f JOIN first_in_batch fb
  ON f.{hash_col} = fb.{hash_col} AND f.{id_col} = fb.{id_col}
"""


def contamination(
    train: DataFrame,
    eval_docs: DataFrame,
    shingle: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing at least
    one distinct ``shingle``-gram with any document of an evaluation set.

    Returns one row per CONTAMINATED train doc:
    ``(doc_id, n_shared_shingles, n_eval_docs)`` — distinct overlapping
    shingle hashes, and how many eval docs they touch.

    100 TB shape: both sides reduce to (id, distinct shingle hash) posting
    rows; the eval side is a benchmark suite (thousands of docs, not TB), so
    it broadcasts and the train side never shuffles its corpus — the only
    wide exchange is the per-doc aggregation of matches, whose input is just
    the contaminated rows. Set ``broadcast_eval=False`` when decontaminating
    against something big enough to need a shuffle join on the shingle hash.
    """

    def explode_shingles(df: DataFrame, out_id: str) -> DataFrame:
        return (
            _widen(df)
            .withColumn("_w", F.expr(words_sql(text_col, "spark")))
            .select(
                F.col(id_col).alias(out_id),
                F.explode(
                    F.array_distinct(
                        F.expr(base_hashes_from_words_sql("_w", shingle, "spark"))
                    )
                ).alias("h"),
            )
        )

    tr = explode_shingles(train, "doc_id")
    ev = explode_shingles(eval_docs, "eval_id")
    if broadcast_eval:
        ev = F.broadcast(ev)
    return (
        tr.join(ev, "h")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("h").alias("n_shared_shingles"),
            F.countDistinct("eval_id").alias("n_eval_docs"),
        )
    )


def contamination_oracle(
    train_sql: str,
    eval_sql: str,
    shingle: int = 5,
    text: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin over two relation-producing SQL strings (each must yield
    ``({id_col}, {text})``)."""
    hashes = base_hashes_sql(text, shingle, "duckdb")
    return f"""
WITH tr AS (
  SELECT {id_col} AS doc_id, unnest(list_distinct({hashes})) AS h
  FROM ({train_sql}) t),
ev AS (
  SELECT {id_col} AS eval_id, unnest(list_distinct({hashes})) AS h
  FROM ({eval_sql}) e)
SELECT doc_id, count(DISTINCT h) AS n_shared_shingles,
       count(DISTINCT eval_id) AS n_eval_docs
FROM tr JOIN ev USING (h) GROUP BY doc_id
"""


def ngram_jaccard_pairs_oracle(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    shingle: int = 3,
    threshold: float = 0.2,
    max_df: int = 200,
) -> str:
    """DuckDB twin of :func:`ngram_jaccard_pairs` (plain self-join on the
    posting table — equivalent pair set, simpler in a single-node oracle)."""
    hashes = base_hashes_sql(text, shingle, "duckdb")
    return f"""
WITH docs AS (SELECT {id_col}, list_distinct({hashes}) AS hs FROM {table}),
sized AS (SELECT {id_col}, len(hs) AS sz, hs FROM docs WHERE len(hs) > 0),
sh0 AS (SELECT {id_col}, sz, unnest(hs) AS h FROM sized),
sh AS (SELECT * FROM (SELECT {id_col}, sz, h, count(*) OVER (PARTITION BY h) AS dfreq FROM sh0) WHERE dfreq <= {max_df}),
shared AS (
  SELECT a.{id_col} AS a_id, a.sz AS a_sz, b.{id_col} AS b_id, b.sz AS b_sz,
         count(*) AS shared
  FROM sh a JOIN sh b ON a.h = b.h AND a.{id_col} < b.{id_col}
  GROUP BY a_id, a_sz, b_id, b_sz)
SELECT a_id, b_id, round(CAST(shared AS DOUBLE) / (a_sz + b_sz - shared), 4) AS jaccard
FROM shared WHERE round(CAST(shared AS DOUBLE) / (a_sz + b_sz - shared), 4) >= {threshold}
"""


def ngram_prune_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle: int = 3,
    max_df: int = 200,
) -> DataFrame:
    """Coverage diagnostic for the ``max_df`` frequent-shingle pruning in
    :func:`ngram_jaccard_pairs` / :func:`ngram_containment_pairs`: per
    document, how many of its distinct shingles exist, how many the df cap
    prunes, and whether the document is FULLY pruned (every shingle over
    the cap — the doc is invisible to the inverted index and can never
    appear in a pair).

    Why it matters at scale: the 100x rung's dup-heavy corpus drove every
    shingle of every large duplicate family over ``max_df``, and the
    containment query returned 0 rows — correct under the documented
    pruning semantics (exact dedup, which runs FIRST in the curation
    funnel, owns those families), but a coverage collapse that must be
    observable, never silent. ``sum(fully_pruned)`` is the headline number.

    Scale shape: ``n_shingles`` is scan-local (no fan-out); the high-df
    shingle set is tiny by construction (shingles shared by >max_df docs —
    boilerplate) and is BROADCAST against the posting fan-out, so the only
    wide shuffles are two partial-aggregable hash counts (by shingle, then
    by doc).
    """
    base = _widen(df).select(
        F.col(id_col),
        F.array_distinct(
            F.expr(base_hashes_from_words_sql(words_sql(text_col, "spark"), shingle, "spark"))
        ).alias("hs"),
    )
    sized = base.select(
        id_col, F.coalesce(F.size("hs"), F.lit(0)).cast("long").alias("n_shingles")
    )
    sh = (
        base.select(id_col, F.explode_outer("hs").alias("h"))
        .filter(F.col("h").isNotNull())
    )
    high_df = (
        sh.groupBy("h")
        .agg(F.count(F.lit(1)).alias("dfreq"))
        .filter(F.col("dfreq") > max_df)
        .select("h")
    )
    pruned = (
        sh.join(F.broadcast(high_df), "h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_pruned"))
    )
    n_sh, n_pr = F.col("n_shingles"), F.col("n_pruned")
    return (
        sized.join(pruned, id_col, "left")
        .select(
            id_col,
            "n_shingles",
            F.coalesce(n_pr, F.lit(0)).cast("long").alias("n_pruned"),
            ((n_sh > 0) & (F.coalesce(n_pr, F.lit(0)) == n_sh)).alias("fully_pruned"),
        )
    )


def ngram_prune_stats_oracle(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    shingle: int = 3,
    max_df: int = 200,
) -> str:
    hashes = base_hashes_sql(text, shingle, "duckdb")
    return f"""
WITH docs AS (SELECT {id_col}, list_distinct({hashes}) AS hs FROM {table}),
sized AS (SELECT {id_col}, CAST(coalesce(len(hs), 0) AS BIGINT) AS n_shingles FROM docs),
sh AS (SELECT {id_col}, unnest(hs) AS h FROM docs),
dfr AS (SELECT h, count(*) AS dfreq FROM sh GROUP BY h),
pruned AS (
  SELECT s.{id_col}, count(*) AS n_pruned
  FROM sh s JOIN dfr USING (h) WHERE dfr.dfreq > {max_df} GROUP BY s.{id_col})
SELECT d.{id_col}, d.n_shingles,
       CAST(coalesce(p.n_pruned, 0) AS BIGINT) AS n_pruned,
       d.n_shingles > 0 AND coalesce(p.n_pruned, 0) = d.n_shingles AS fully_pruned
FROM sized d LEFT JOIN pruned p USING ({id_col})
"""


def exact_dedup_oracle(table: str = "documents", text: str = "text", id_col: str = "doc_id") -> str:
    return (
        f"SELECT {content_hash_sql(text, 'duckdb')} AS content_md5, "
        f"min({id_col}) AS keeper, count(*) AS copies FROM {table} GROUP BY content_md5"
    )


def minhash_pairs_oracle(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle: int = 2,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> str:
    rows_per = num_hashes // bands
    sig_cols = ", ".join(
        f"{perm_minhash_sql('_h', k, 'duckdb')} AS m{k}" for k in range(num_hashes)
    )
    band_selects = []
    for b in range(bands):
        # concat_ws mirrors Spark's NULL-skip for all-NULL signatures (see
        # minhash_band_stats_oracle) — with '||' the NULL-text bucket would
        # be invisible to the oracle's max_bucket guard
        members = ", ".join(
            f"CAST(m{b * rows_per + r} AS STRING)" for r in range(rows_per)
        )
        band_selects.append(
            f"SELECT {id_col}, {b} AS band_id, md5(concat_ws(':', {members})) AS band_hash FROM sig"
        )
    bands_sql = " UNION ALL ".join(band_selects)
    eq_sum = " + ".join(
        f"CASE WHEN sa.m{k} = sb.m{k} THEN 1 ELSE 0 END" for k in range(num_hashes)
    )
    return f"""
WITH hashed AS (SELECT {id_col}, {base_hashes_sql(text, shingle, 'duckdb')} AS _h FROM {table}),
sig AS (SELECT {id_col}, {sig_cols} FROM hashed),
bands_all AS ({bands_sql}),
keep AS (SELECT band_id, band_hash FROM bands_all GROUP BY band_id, band_hash
         HAVING count(*) <= {max_bucket}),
bands AS (SELECT b.* FROM bands_all b JOIN keep k USING (band_id, band_hash)),
cand AS (SELECT DISTINCT a.{id_col} AS a_id, b.{id_col} AS b_id
         FROM bands a JOIN bands b USING (band_id, band_hash)
         WHERE a.{id_col} < b.{id_col})
SELECT a_id, b_id, round(({eq_sum}) / {float(num_hashes)}, 4) AS est_jaccard
FROM cand JOIN sig sa ON cand.a_id = sa.{id_col}
          JOIN sig sb ON cand.b_id = sb.{id_col}
WHERE round(({eq_sum}) / {float(num_hashes)}, 4) >= {threshold}
"""


def simhash_pairs_oracle(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    bits: int = 24,
    max_bucket: int | None = None,
) -> str:
    """Mirrors :func:`simhash_pairs` INCLUDING the ``max_bucket`` guard when
    set: kept buckets are computed FIRST and joined back before the pair
    self-join (pre-filtering, not post-filtering — the same planner lesson
    as the LSH pairs oracle: a post-join membership predicate can be
    evaluated after the quadratic bucket blow-up it exists to prevent)."""
    sh = simhash_from_hashes_sql("_th", bits, "duckdb")
    cap = f"AND count(*) <= {max_bucket}" if max_bucket is not None else ""
    return (
        f"WITH th AS (SELECT {id_col}, {token_hashes_sql(text, 'duckdb')} AS _th FROM {table}), "
        f"s AS (SELECT {id_col}, {sh} AS simhash FROM th), "
        f"keep AS (SELECT simhash FROM s GROUP BY simhash HAVING count(*) > 1 {cap}), "
        f"k AS (SELECT s.* FROM s JOIN keep USING (simhash)) "
        f"SELECT a.{id_col} AS a_id, b.{id_col} AS b_id, a.simhash AS simhash "
        f"FROM k a JOIN k b ON a.simhash = b.simhash AND a.{id_col} < b.{id_col}"
    )


def simhash_bucket_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 24,
    max_bucket: int = 1000,
) -> DataFrame:
    """Coverage diagnostic for :func:`simhash_pairs`' ``max_bucket`` guard
    (completing the family with ``similarity.lsh_bucket_stats`` and
    :func:`minhash_band_stats`): one row per colliding signature with its
    membership count, whether the guard drops it, and the candidate pairs
    skipped. One hash aggregate over the signature pass — no pair fan-out,
    so it is safe to run even on the degenerate corpus whose blow-up the
    guard exists to prevent."""
    s = simhash(df, text_col, id_col, bits)
    n = F.col("n_docs")
    return (
        s.groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(n > 1)
        .select(
            "simhash",
            "n_docs",
            (n > max_bucket).alias("dropped"),
            F.when(n > max_bucket, (n * (n - 1) / 2).cast("long"))
            .otherwise(F.lit(0))
            .alias("pairs_skipped"),
        )
    )


def simhash_bucket_stats_oracle(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    bits: int = 24,
    max_bucket: int = 1000,
) -> str:
    sh = simhash_from_hashes_sql("_th", bits, "duckdb")
    return f"""
WITH th AS (SELECT {id_col}, {token_hashes_sql(text, 'duckdb')} AS _th FROM {table}),
s AS (SELECT {id_col}, {sh} AS simhash FROM th),
g AS (SELECT simhash, count(*) AS n_docs FROM s GROUP BY simhash HAVING count(*) > 1)
SELECT simhash, n_docs,
       n_docs > {max_bucket} AS dropped,
       CAST(CASE WHEN n_docs > {max_bucket}
                 THEN n_docs * (n_docs - 1) / 2 ELSE 0 END AS BIGINT) AS pairs_skipped
FROM g
"""


# ---------------------------------------------------------------------------
# corpus-hygiene reports over the exact digest (round-4 additions)
# ---------------------------------------------------------------------------


def _cluster_key_sql(text: str, d: str, key: str, prefix_k: int) -> str:
    """Digest used as the dedup-cluster identity: the full normalized
    content ('content'), or the first ``prefix_k`` tokens ('prefix' —
    catches templated docs that diverge after a shared header; the driver
    corpus has prefix-sharing near-dups but zero exact dups at sf0.01, so
    the prefix key is the informative default for the report queries)."""
    if key == "content":
        return content_hash_sql(text, d)
    if d == "spark":
        return f"md5(concat_ws(' ', slice({words_sql(text, d)}, 1, {prefix_k})))"
    return f"md5(array_to_string(list_slice({words_sql(text, d)}, 1, {prefix_k}), ' '))"


def cross_source_overlap(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    key: str = "prefix",
    prefix_k: int = 12,
) -> DataFrame:
    """Cross-source contamination matrix: for each (source_a < source_b)
    pair, how many distinct contents appear in BOTH sources.

    100 TB shape: first collapse to DISTINCT (digest, source) — one hash
    shuffle that shrinks the relation to at most docs x 1 rows — then
    self-join on digest. Per-digest fan-out is bounded by the source count
    (pairs per digest <= C(n_sources, 2), a few hundred at most), so the
    join cannot go quadratic in the corpus the way a raw text self-join
    would. The final pair-count aggregation is over n_sources^2 rows.
    """
    ds = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.expr(_cluster_key_sql(text_col, "spark", key, prefix_k)).alias(
                "content_md5"
            ),
            F.col(source_col),
        )
        .distinct()
    )
    a, b = ds.alias("a"), ds.alias("b")
    return (
        a.join(b, "content_md5")
        .where(F.col(f"a.{source_col}") < F.col(f"b.{source_col}"))
        .groupBy(
            F.col(f"a.{source_col}").alias("source_a"),
            F.col(f"b.{source_col}").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_contents"))
    )


def cross_source_overlap_oracle(
    table: str = "documents",
    text: str = "text",
    source: str = "source",
    key: str = "prefix",
    prefix_k: int = 12,
) -> str:
    h = _cluster_key_sql(text, "duckdb", key, prefix_k)
    return f"""
WITH ds AS (SELECT DISTINCT {h} AS content_md5, {source} AS src FROM {table}
            WHERE {text} IS NOT NULL)
SELECT a.src AS source_a, b.src AS source_b, count(*) AS shared_contents
FROM ds a JOIN ds b ON a.content_md5 = b.content_md5 AND a.src < b.src
GROUP BY source_a, source_b
"""


def prefix_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 12,
    min_cluster: int = 2,
) -> DataFrame:
    """Templated-prefix detection: cluster documents equal on their first
    ``k`` tokens, and report how many DISTINCT full contents share that
    prefix. Prefix clusters that are larger than their full-content cluster
    (distinct_contents > 1) are boilerplate templates exact dedup misses.

    One shuffle on the prefix digest; the per-group distinct-digest count is
    a partial_agg-able COUNT(DISTINCT) over an already-hashed value.
    """
    w = words_sql(text_col, "spark")
    prefix = f"md5(concat_ws(' ', slice({w}, 1, {k})))"
    return (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.expr(prefix).alias("prefix_md5"),
            content_hash(text_col).alias("content_md5"),
            F.col(id_col),
        )
        .groupBy("prefix_md5")
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.countDistinct("content_md5").alias("distinct_contents"),
            F.min(id_col).alias("keeper"),
        )
        .where(F.col("cluster_size") >= min_cluster)
    )


def prefix_clusters_oracle(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 12,
    min_cluster: int = 2,
) -> str:
    w = words_sql(text, "duckdb")
    h = content_hash_sql(text, "duckdb")
    return f"""
SELECT md5(array_to_string(list_slice({w}, 1, {k}), ' ')) AS prefix_md5,
       count(*) AS cluster_size,
       count(DISTINCT {h}) AS distinct_contents,
       min({id_col}) AS keeper
FROM {table} WHERE {text} IS NOT NULL
GROUP BY prefix_md5 HAVING count(*) >= {min_cluster}
"""


def cluster_size_histogram(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    key: str = "prefix",
    prefix_k: int = 12,
) -> DataFrame:
    """Duplication-profile histogram: for each dup-cluster size, the
    number of clusters and total docs at that size. The #1 report for
    judging how much a corpus shrinks under dedup before running it.

    Two shuffles, the second over at most |distinct sizes| rows (tiny).
    """
    sizes = (
        df.where(F.col(text_col).isNotNull())
        .groupBy(
            F.expr(_cluster_key_sql(text_col, "spark", key, prefix_k)).alias(
                "content_md5"
            )
        )
        .agg(F.count(F.lit(1)).alias("copies"))
    )
    return (
        sizes.groupBy("copies")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("copies").alias("n_docs"),
        )
    )


def cluster_size_histogram_oracle(
    table: str = "documents",
    text: str = "text",
    key: str = "prefix",
    prefix_k: int = 12,
) -> str:
    h = _cluster_key_sql(text, "duckdb", key, prefix_k)
    return f"""
WITH sizes AS (SELECT {h} AS content_md5, count(*) AS copies FROM {table}
               WHERE {text} IS NOT NULL GROUP BY content_md5)
SELECT copies, count(*) AS n_clusters, CAST(sum(copies) AS BIGINT) AS n_docs
FROM sizes GROUP BY copies
"""


# ---------------------------------------------------------------------------
# quality-aware cluster representative selection
# ---------------------------------------------------------------------------


def cluster_keepers(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Pick the KEEPER of every near-dup cluster by quality, not by id: label
    the corpus with :func:`~map_spark_sql_spark.operators.graph.connected_components`
    over the n-gram Jaccard pair graph, score every document with the
    integer-exact linear quality classifier, and keep the highest-scoring
    document per cluster (ties -> lower doc_id). This upgrades the curation
    funnel's min-id keeper policy to the keep-the-best-copy policy real
    pipelines want — the near-dup cluster often contains one clean original
    and N mangled scrapes.

    100 TB shape: the pair graph and components are the existing guarded
    shapes; scoring is scan-local integer arithmetic; the rollup is a single
    hash aggregate on cluster_id using ``max_by`` with a (score, -id) struct
    key — partial-aggregable, no window, no sort shuffle. Singletons are
    their own keepers (components include all vertices).

    Output: ``(cluster_id, cluster_size, keeper_id, keeper_score)`` — all
    exact integers. NULL-text documents are excluded up front: they have no
    shingles (never cluster) and a NULL classifier score, and NULL-inside-
    struct ordering is exactly the kind of engine-specific edge this package
    refuses to depend on.
    """
    from map_spark_sql_spark.operators import graph as G
    from map_spark_sql_spark.operators.text import quality_classifier_sql

    base = df.where(F.col(text_col).isNotNull())
    pairs = ngram_jaccard_pairs(base, text_col=text_col, id_col=id_col).select(
        "a_id", "b_id"
    )
    labels = G.connected_components(
        pairs, vertices=base.select(id_col), id_col=id_col
    )
    scored = base.select(
        F.col(id_col),
        F.expr(quality_classifier_sql(text_col, "spark")).alias("score"),
    )
    return (
        labels.join(scored, id_col)
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cluster_size"),
            F.expr(f"max_by({id_col}, struct(score, -{id_col}))").alias("keeper_id"),
            F.max("score").alias("keeper_score"),
        )
    )


def cluster_keepers_oracle(
    table: str = "documents", text: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB twin of :func:`cluster_keepers`: the recursive-CTE component
    closure, the same integer classifier, and the argmax as a
    row_number() window with the identical (score DESC, id ASC) order."""
    from map_spark_sql_spark.operators.graph import connected_components_oracle
    from map_spark_sql_spark.operators.text import quality_classifier_sql

    cc = connected_components_oracle(
        pairs_sql=f"SELECT a_id, b_id FROM ({ngram_jaccard_pairs_oracle()}) jp",
        vertices_sql=f"SELECT {id_col} FROM {table} WHERE {text} IS NOT NULL",
        id_col=id_col,
    )
    z = quality_classifier_sql(text, "duckdb")
    return f"""
WITH labels AS ({cc}),
scored AS (SELECT {id_col}, {z} AS score FROM {table} WHERE {text} IS NOT NULL),
joined AS (SELECT l.cluster_id, l.{id_col}, s.score
           FROM labels l JOIN scored s USING ({id_col})),
agg AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size,
               max(score) AS keeper_score
        FROM joined GROUP BY cluster_id),
ranked AS (SELECT cluster_id, {id_col},
                  row_number() OVER (PARTITION BY cluster_id
                                     ORDER BY score DESC, {id_col}) AS rn
           FROM joined)
SELECT a.cluster_id, a.cluster_size, r.{id_col} AS keeper_id, a.keeper_score
FROM agg a JOIN ranked r ON a.cluster_id = r.cluster_id AND r.rn = 1
"""


# --- corpus-wide keep-first segment dedup (CCNet-style) -----------------------


def global_segment_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> DataFrame:
    """CCNet-style corpus-wide EXACT segment dedup with keep-first
    semantics: every duplicated ``n``-word segment survives only at its
    first occurrence in corpus order (lowest ``(doc_id, pos)``) and is
    dropped everywhere else — including later repeats inside the same
    document. This is the complement of ``text.strip_boilerplate``: the
    boilerplate pass removes high-document-frequency segments *everywhere*,
    this pass keeps exactly one copy of *every* repeated segment (CCNet
    dedups paragraphs corpus-wide this way before any quality scoring).

    100 TB shape: ONE explode shuffle keyed on segment content, with
    keep-first computed as ``min(okey) over (partition by seg)`` on that
    exchange — the groupBy+join formulation would evaluate the segment
    explode (the expensive string pass) once per join side, since column
    pruning defeats exchange reuse between the two branches. Then one
    groupBy(doc) reassembly bounded by a single document's length.
    Nothing broadcasts a corpus-sized set.

    Cross-engine determinism: the occurrence key packs ``(doc_id, pos)``
    into one BIGINT (``doc_id * 2^31 + pos``), so "first occurrence" is a
    plain integer ``min`` in both engines — no struct-ordering or
    NULL-inside-struct semantics anywhere. Safe while doc_id < 2^32 and
    pos < 2^31 (pos is bounded by words-per-document / n).

    Output: ``(doc_id, n_segments, n_kept, dedup_text)`` — exact integers
    and a deterministic string. NULL-text documents are excluded (nothing
    to deduplicate), matching the segment-family convention.
    """
    from map_spark_sql_spark.operators.text import _segments_sql

    base = df.where(F.col(text_col).isNotNull()).withColumn(
        "_w", F.expr(words_sql(text_col, "spark"))
    )
    segs = (
        base.select(
            F.col(id_col),
            F.explode(F.expr(_segments_sql("_w", n, "spark"))).alias("s"),
        )
        .select(F.col(id_col), F.col("s.pos").alias("pos"), F.col("s.seg").alias("seg"))
        .withColumn(
            "okey", F.col(id_col) * F.lit(2147483648).cast("long") + F.col("pos")
        )
    )
    # Keep-first as min-over-window on the one seg exchange, NOT
    # groupBy + self-join: the join formulation evaluates the segment
    # explode — the expensive string pass over the whole corpus — once per
    # side (column pruning gives the two exchange subplans different
    # schemas, so neither static nor AQE exchange reuse fires; verified on
    # the executed plan). Same single-shuffle-over-two-shuffles reasoning
    # as banded_pairs_from_signatures' bucket guard.
    from pyspark.sql import Window

    kept = segs.withColumn(
        "_keep",
        F.col("okey") == F.min("okey").over(Window.partitionBy("seg")),
    )
    return kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum(F.when(F.col("_keep"), 1).otherwise(0)).cast("long").alias("n_kept"),
        F.concat_ws(
            " ",
            F.expr(
                "transform(array_sort(collect_list("
                "CASE WHEN _keep THEN struct(pos, seg) END)), s -> s.seg)"
            ),
        ).alias("dedup_text"),
    )


def global_segment_dedup_oracle(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
) -> str:
    """DuckDB twin of :func:`global_segment_dedup`: identical segmentation,
    the same packed-BIGINT occurrence key, ordered reassembly via
    ``string_agg(.. ORDER BY pos) FILTER``."""
    from map_spark_sql_spark.operators.text import _segments_sql

    w = words_sql(text, "duckdb")
    seg_list = _segments_sql("w", n, "duckdb")
    return f"""
WITH base AS (SELECT {id_col}, {w} AS w FROM {table} WHERE {text} IS NOT NULL),
segs0 AS (SELECT {id_col}, unnest({seg_list}) AS s FROM base),
segs AS (SELECT {id_col}, s.pos AS pos, s.seg AS seg,
                {id_col} * 2147483648 + s.pos AS okey
         FROM segs0),
first AS (SELECT seg, min(okey) AS first_okey FROM segs GROUP BY seg)
SELECT s.{id_col} AS {id_col},
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(count(*) FILTER (WHERE s.okey = f.first_okey) AS BIGINT) AS n_kept,
       coalesce(string_agg(s.seg, ' ' ORDER BY s.pos)
                FILTER (WHERE s.okey = f.first_okey), '') AS dedup_text
FROM segs s JOIN first f USING (seg)
GROUP BY s.{id_col}
"""


# --- LSH recall diagnostic ----------------------------------------------------


def minhash_recall(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle: int = 2,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int = 1000,
    max_df: int = 200,
) -> DataFrame:
    """Candidate-recall audit for the MinHash/LSH pipeline: how many of the
    TRUE near-duplicate pairs (exact n-gram Jaccard >= ``threshold`` over
    the same shingle space, as :func:`ngram_jaccard_pairs` computes them)
    does the banding stage actually surface as candidates? LSH is a
    probabilistic filter — deploying it without measuring recall against
    exact Jaccard on a sample is how silent coverage loss ships. This is
    the no-silent-caps principle applied to the algorithm itself, not just
    the ``max_bucket`` guard (:func:`minhash_band_stats` covers that one).

    The candidate set is the banding stage at estimate-threshold 0 — i.e.
    every pair that shares any band bucket, before the signature-similarity
    filter — so the measured quantity is the recall of the *candidate
    generation*, the only stage that can lose a pair irrecoverably.

    Scale shape: both pair relations are the existing scale-shaped
    operators; the intersection is one hash join on (a_id, b_id); the three
    counts are 1-row aggregates cross-joined (broadcast). Recall is exact
    integer ppm (``1000000 * matched DIV exact``; an empty exact set reads
    as perfect recall in both engines).

    Output: one row ``(n_exact, n_candidates, n_matched, recall_ppm)``.
    """
    exact = ngram_jaccard_pairs(
        df, text_col=text_col, id_col=id_col, shingle=shingle,
        threshold=threshold, max_df=max_df,
    ).select("a_id", "b_id")
    cand = minhash_pairs(
        df, text_col=text_col, id_col=id_col, num_hashes=num_hashes,
        shingle=shingle, bands=bands, threshold=0.0, max_bucket=max_bucket,
    ).select("a_id", "b_id")
    n_exact = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    n_match = (
        exact.join(cand, ["a_id", "b_id"])
        .agg(F.count(F.lit(1)).cast("long").alias("n_matched"))
    )
    return (
        n_exact.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_match))
        .withColumn(
            "recall_ppm",
            F.expr(
                "CAST(CASE WHEN n_exact = 0 THEN 1000000 "
                "ELSE (1000000 * n_matched) DIV n_exact END AS BIGINT)"
            ),
        )
    )


def minhash_recall_oracle(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle: int = 2,
    bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int = 1000,
    max_df: int = 200,
) -> str:
    """DuckDB twin of :func:`minhash_recall`: the two existing pair oracles
    composed, intersection on (a_id, b_id), integer-ppm recall."""
    exact_sql = ngram_jaccard_pairs_oracle(
        table=table, text=text, id_col=id_col, shingle=shingle,
        threshold=threshold, max_df=max_df,
    )
    cand_sql = minhash_pairs_oracle(
        table=table, text=text, id_col=id_col, num_hashes=num_hashes,
        shingle=shingle, bands=bands, threshold=0.0, max_bucket=max_bucket,
    )
    return f"""
WITH exact_p AS (SELECT a_id, b_id FROM ({exact_sql}) e),
cand_p AS (SELECT a_id, b_id FROM ({cand_sql}) c),
ne AS (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM exact_p),
nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand_p),
nm AS (SELECT CAST(count(*) AS BIGINT) AS n_matched
       FROM exact_p JOIN cand_p USING (a_id, b_id))
SELECT n_exact, n_candidates, n_matched,
       CAST(CASE WHEN n_exact = 0 THEN 1000000
            ELSE (1000000 * n_matched) // n_exact END AS BIGINT) AS recall_ppm
FROM ne CROSS JOIN nc CROSS JOIN nm
"""


# --- dedup-method agreement matrix ----------------------------------------------


def method_agreement(
    docs: DataFrame,
    emb: DataFrame,
    cosine_threshold: float = 0.8,
    max_bucket: int = 1000,
) -> DataFrame:
    """Agreement matrix between the three near-dup detectors: MinHash/LSH
    (lexical, set-of-shingles), SimHash (lexical, weighted-token), and
    embedding-cosine LSH (semantic). One row per region of the 3-way Venn
    diagram — ``(in_minhash, in_simhash, in_embedding, n_pairs)`` — the
    corpus-hygiene diagnostic that tells you whether your cheap lexical
    passes are already catching what the expensive semantic pass would,
    and which method finds pairs the others are blind to (the standard
    question before paying for embedding inference over a whole crawl).

    Scale shape: the three pair sets are each individually guarded
    (band/bucket caps, ``max_bucket``); the agreement overlay is two
    full-outer joins on (a_id, b_id) — well-distributed keys by
    construction — and a 7-row-max final aggregate. Nothing here adds a
    corpus-sized stage beyond the detectors themselves, so the diagnostic
    costs what one extra run of each detector costs.

    Measured and REJECTED in r12 (guide §1.1 "a fresh implementation of
    the ideal plan is usually slower"): replacing the per-detector
    ``distinct`` + two full-outer joins with one tagged-union
    ``groupBy(a_id, b_id).agg(max(flag))`` — nominally 5 exchanges+2
    sorts down to 1 exchange — measured SLOWER on the same box (min-of-5
    2.68 s vs 1.91 s, identical rows): the per-detector distincts
    collapse each raw candidate stream inside exchanges the detectors
    already paid for, the outer joins then ride that (a, b) partitioning
    over a few thousand surviving rows, while the union form re-shuffles
    all three RAW streams through one new exchange. The full-outer form
    stays.
    """
    from map_spark_sql_spark.operators.similarity import cosine_pairs_lsh

    m = minhash_pairs(docs, max_bucket=max_bucket).select("a_id", "b_id").distinct()
    s = (
        simhash_pairs(docs, max_bucket=max_bucket)
        .select("a_id", "b_id")
        .distinct()
    )
    e = (
        cosine_pairs_lsh(emb, threshold=cosine_threshold, max_bucket=max_bucket)
        .select("a_id", "b_id")
        .distinct()
    )
    j = (
        m.withColumn("mf", F.lit(1))
        .join(s.withColumn("sf", F.lit(1)), ["a_id", "b_id"], "full_outer")
        .join(e.withColumn("ef", F.lit(1)), ["a_id", "b_id"], "full_outer")
    )
    return (
        j.groupBy(
            F.coalesce("mf", F.lit(0)).alias("in_minhash"),
            F.coalesce("sf", F.lit(0)).alias("in_simhash"),
            F.coalesce("ef", F.lit(0)).alias("in_embedding"),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def method_agreement_oracle(
    cosine_threshold: float = 0.8,
    max_bucket: int = 1000,
) -> str:
    """Composes the three existing pair oracles (each already mirroring its
    engine-side guard) with the same full-outer overlay."""
    from map_spark_sql_spark.operators.similarity import cosine_pairs_lsh_oracle

    return f"""
WITH m AS (SELECT DISTINCT a_id, b_id FROM ({minhash_pairs_oracle(max_bucket=max_bucket)}) mp),
s AS (SELECT DISTINCT a_id, b_id FROM ({simhash_pairs_oracle(max_bucket=max_bucket)}) sp),
e AS (SELECT DISTINCT a_id, b_id FROM ({cosine_pairs_lsh_oracle(threshold=cosine_threshold, max_bucket=max_bucket)}) ep),
j AS (
  SELECT coalesce(m2.a_id, s2.a_id, e2.a_id) AS a_id,
         coalesce(m2.b_id, s2.b_id, e2.b_id) AS b_id,
         CASE WHEN m2.a_id IS NOT NULL THEN 1 ELSE 0 END AS in_minhash,
         CASE WHEN s2.a_id IS NOT NULL THEN 1 ELSE 0 END AS in_simhash,
         CASE WHEN e2.a_id IS NOT NULL THEN 1 ELSE 0 END AS in_embedding
  FROM m m2
  FULL OUTER JOIN s s2 ON m2.a_id = s2.a_id AND m2.b_id = s2.b_id
  FULL OUTER JOIN e e2 ON coalesce(m2.a_id, s2.a_id) = e2.a_id
                      AND coalesce(m2.b_id, s2.b_id) = e2.b_id
)
SELECT in_minhash, in_simhash, in_embedding, count(*) AS n_pairs
FROM j GROUP BY in_minhash, in_simhash, in_embedding
"""
