"""Text analysis operators (SURVEY.md §2.8): quality stats, language
heuristic, token counting, document fingerprinting.

All native expressions over the ``documents`` table; the regex-flag
difference (DuckDB's ``regexp_replace`` is single-match unless passed 'g')
is the only dialect split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "la", "los", "y", "es"),
}


def _words(text: str, d: str) -> str:
    return f"split({text}, ' ')" if d == "spark" else f"string_split({text}, ' ')"


def _strip_non(text: str, keep_class: str, d: str) -> str:
    """Remove every char NOT in the class -> length counts class members."""
    flags = "" if d == "spark" else ", 'g'"
    return f"regexp_replace({text}, '[^{keep_class}]', ''{flags})"


def _contains_count(words: str, vocab: tuple[str, ...], d: str) -> str:
    lits = ", ".join(f"'{w}'" for w in vocab)
    if d == "spark":
        return f"size(filter({words}, t -> array_contains(array({lits}), t)))"
    return f"len(list_filter({words}, t -> list_contains([{lits}], t)))"


def quality_stats_sql(text: str, d: str) -> dict[str, str]:
    """Column -> expression map for the quality-scoring query."""
    w = _words(text, d)
    n_tokens = f"size({w})" if d == "spark" else f"len({w})"
    stop = _contains_count(w, STOPWORDS["en"], d)
    return {
        "n_tokens": f"CAST({n_tokens} AS INTEGER)",
        "n_chars_m": f"CAST(length({text}) AS INTEGER)",
        "n_punct": f"CAST(length({_strip_non(text, '.,!?;:', d)}) AS INTEGER)",
        "n_digits": f"CAST(length({_strip_non(text, '0-9', d)}) AS INTEGER)",
        # ratios scaled to int per-mille: avoids float-division repr drift
        "stopword_pm": (
            f"CAST(floor(1000.0 * {stop} / greatest({n_tokens}, 1)) AS INTEGER)"
        ),
        "mean_token_len_x10": (
            f"CAST(floor(10.0 * length(replace({text}, ' ', '')) / greatest({n_tokens}, 1)) AS INTEGER)"
        ),
    }


def quality_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    exprs = quality_stats_sql(text_col, "spark")
    return df.select(F.col(id_col), *[F.expr(e).alias(n) for n, e in exprs.items()])


def language_guess_sql(text: str, d: str) -> str:
    """Stopword-vote language ID: pick the language whose marker set scores
    highest; ties resolve in fixed (en, de, fr, es) order; no hits -> 'und'."""
    w = _words(text, d)
    scores = {lang: _contains_count(w, vocab, d) for lang, vocab in STOPWORDS.items()}
    order = ["en", "de", "fr", "es"]
    # greatest-score argmax via chained CASE
    conds = []
    for i, lang in enumerate(order):
        others = [scores[o] for o in order if o != lang]
        cond = " AND ".join(f"{scores[lang]} >= {o}" for o in others)
        conds.append(f"WHEN {scores[lang]} > 0 AND {cond} THEN '{lang}'")
    return "CASE " + " ".join(conds) + " ELSE 'und' END"


def token_fingerprint_sql(text: str, d: str) -> str:
    """Canonical-form fingerprint: md5 of the sorted distinct token set
    (case-folded) — the classic key-collision fingerprint for clustering
    near-identical documents."""
    w = _words(f"lower({text})", d)
    if d == "spark":
        return f"md5(array_join(array_sort(array_distinct({w})), ' '))"
    return f"md5(array_to_string(list_sort(list_distinct({w})), ' '))"


def token_fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return df.select(
        F.col(id_col), F.expr(token_fingerprint_sql(text_col, "spark")).alias("fingerprint")
    )


# --- rolling-hash fingerprint ------------------------------------------------

ROLL_B = 1_000_003  # polynomial base (prime)
ROLL_P = 2_147_483_647  # modulus 2^31-1; B*P + h stays well inside int64


def rolling_fingerprint_sql(text: str, d: str) -> str:
    """Order-sensitive document fingerprint: Rabin-Karp polynomial rolling
    hash folded over the token-hash sequence, ``h_i = (h_{i-1}*B + t_i) mod P``.
    Unlike :func:`token_fingerprint_sql` (set semantics) this distinguishes
    permutations — the pair of them separates "same words" from "same text".
    """
    from map_spark_sql_spark.operators.dedup import token_hashes_sql

    th = token_hashes_sql(text, d)
    if d == "spark":
        return (
            f"aggregate({th}, CAST(0 AS BIGINT), "
            f"(s, x) -> (s * {ROLL_B} + x) % {ROLL_P})"
        )
    # list_reduce seeds from the first element, so prepend the 0 seed.
    # NULL text: Spark's aggregate() returns NULL for a NULL array, but
    # list_reduce([0] || NULL-ish) collapses to the 0 seed — make the NULL
    # semantics explicit so both engines emit NULL (caught by the 10x-scale
    # sweep: the driver testdata has no NULL texts, the scale corpus does)
    return (
        f"CASE WHEN {text} IS NULL THEN NULL ELSE "
        f"list_reduce([CAST(0 AS BIGINT)] || {th}, (s, x) -> (s * {ROLL_B} + x) % {ROLL_P}) END"
    )


def rolling_fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return df.select(
        F.col(id_col), F.expr(rolling_fingerprint_sql(text_col, "spark")).alias("roll_fp")
    )


# --- token counting (whitespace + BPE-ish regex) ------------------------------

# A BPE-ish pre-tokenizer: letter runs, digit runs, and single non-alnum
# marks — the word/number/punct split every byte-pair vocabulary starts from.
BPE_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def token_counts_sql(text: str, d: str) -> dict[str, str]:
    low = f"lower({text})"
    ws = _words(low, d)
    if d == "spark":
        toks = f"regexp_extract_all({low}, '{BPE_PATTERN}', 0)"
        n_ws, n_re = f"size({ws})", f"size({toks})"
        n_uniq = f"size(array_distinct({toks}))"
    else:
        toks = f"regexp_extract_all({low}, '{BPE_PATTERN}')"
        n_ws, n_re = f"len({ws})", f"len({toks})"
        n_uniq = f"len(list_distinct({toks}))"
    return {
        "n_ws_tokens": f"CAST({n_ws} AS INTEGER)",
        "n_bpe_tokens": f"CAST({n_re} AS INTEGER)",
        "n_uniq_bpe": f"CAST({n_uniq} AS INTEGER)",
    }


def token_counts(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    exprs = token_counts_sql(text_col, "spark")
    return df.select(F.col(id_col), *[F.expr(e).alias(n) for n, e in exprs.items()])


def tfidf_top_terms(
    df: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Top-k terms per document by TF-IDF (smoothed idf = ln((N+1)/(df+1))).

    Scale shape: one shuffle on (doc, term) for tf; the term document
    frequency re-aggregates the *tf output* (no second corpus scan) on term;
    N is a 1-row broadcast; the final per-doc top-k is a single window
    shuffle on doc. Ties break on the term string so results are
    deterministic for the oracle hash.
    """
    from pyspark.sql import Window

    # measured (sf0.1, local[32]): widening the scan before tokenizing is a
    # net LOSS here — the round-robin exchange of the text column costs more
    # than the parallel explode saves; the (doc, term) shuffle dominates
    toks = df.select(
        F.col(id_col),
        F.explode(F.expr(f"filter({_words(f'lower({text_col})', 'spark')}, t -> t <> '')")).alias(
            "term"
        ),
    )
    # r11 optimization: tf feeds BOTH the document-frequency aggregate and
    # the scored join; without a lineage cut the whole tokenize + (doc,
    # term) shuffle was planned twice (the r11 plan scanned the corpus 3
    # times; tests/plan_invariants.json pins today's scan count). The lazy
    # checkpoint materializes tf once — the reference's CTAS-between-stages
    # shape.
    tf = (
        toks.groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.countDistinct(id_col).alias("n_docs"))
    scored = (
        tf.join(docfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log((F.col("n_docs") + 1) / (F.col("df") + 1)), 6),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(id_col, "term", "tf", "df", "tfidf", "rnk")
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 50,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 document ranking for a literal query-term set (the lexical
    retrieval twin of :func:`tfidf_top_terms`; Lucene-style idf
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``).

    Scale shape: ONE tokenize pass over the corpus — the r11 rrf plan
    tokenized it three times (tf, docfreq re-deriving tf, and the
    n_docs/avgdl stats scan each re-planned the Generate subtree; that
    plan had 5 parquet scans, and tests/plan_invariants.json pins
    today's count). The pass
    emits a SLIM row per document — ``(doc_id, dl, query-term matches)``,
    a few dozen bytes — behind a lazy ``localCheckpoint``, and both the
    corpus stats and the postings read the stored blocks. Document length
    stays a ROW-LOCAL expression (no tokenize shuffle for |d|); the
    (doc, term) aggregation is filtered to the query terms BEFORE the
    shuffle, so its volume is O(matching postings), not O(corpus tokens);
    the postings table is itself checkpointed (its groupBy feeds both the
    document-frequency aggregate and the scored join — the tfidf rule);
    N/avgdl is a 1-row broadcast, and docfreq stays a broadcast join (a
    window over the postings would sort one hot partition per query term);
    the final top-k is TakeOrderedAndProject (per-partition heaps). Ties
    break on doc id. Output: ``(doc_id, score, rank)``.
    """
    from pyspark.sql import Window

    # the terms are literals, never SQL text: a quote in a term is data
    terms = F.array(*[F.lit(t) for t in query_terms])
    words = F.expr(f"filter({_words(f'lower({text_col})', 'spark')}, t -> t <> '')")
    base = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.size(words).cast("long").alias("dl"),
            F.filter(words, lambda t: F.array_contains(terms, t)).alias("_qw"),
        )
        .localCheckpoint(eager=False)
    )
    stats = base.select(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        base.select(F.col(id_col), "dl", F.explode("_qw").alias("term"))
        .groupBy(id_col, "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(docfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "contrib",
            F.expr(
                f"ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) * tf * ({k1} + 1.0) / "
                f"(tf + {k1} * (1.0 - {b} + {b} * dl / avgdl))"
            ),
        )
        .groupBy(id_col)
        .agg(F.round(F.sum("contrib"), 6).alias("score"))
    )
    w = Window.orderBy(F.desc("score"), F.asc(id_col))
    return (
        scored.orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
    )


def bm25_topk_oracle(
    query_terms: list[str],
    k: int = 50,
    k1: float = 1.2,
    b: float = 0.75,
    table: str = "documents",
) -> str:
    terms_lit = ", ".join("'" + t.replace("'", "''") + "'" for t in query_terms)
    words = f"list_filter({_words('lower(text)', 'duckdb')}, t -> t <> '')"
    return f"""
WITH base AS (
  SELECT doc_id, CAST(len({words}) AS BIGINT) AS dl, {words} AS w
  FROM {table} WHERE text IS NOT NULL
),
stats AS (SELECT count(*) AS n_docs, sum(dl) / count(*) AS avgdl FROM base),
tf AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM (
    SELECT doc_id, dl, unnest(w) AS term FROM base
  ) t WHERE term IN ({terms_lit}) GROUP BY doc_id, dl, term
),
docfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (
  SELECT tf.doc_id,
         round(sum(ln(1.0 + (s.n_docs - docfreq.df + 0.5) / (docfreq.df + 0.5)) * tf.tf * ({k1} + 1.0) /
                   (tf.tf + {k1} * (1.0 - {b} + {b} * tf.dl / s.avgdl))), 6) AS score
  FROM tf JOIN docfreq USING (term) CROSS JOIN stats s GROUP BY tf.doc_id
),
topk AS (SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT {k})
SELECT doc_id, score,
       CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rank
FROM topk
"""


def tfidf_top_terms_oracle(k: int = 3, table: str = "documents") -> str:
    words = _words("lower(text)", "duckdb")
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter({words}, t -> t <> '')) AS term FROM {table}
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
docfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM {table}),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, docfreq.df,
         round(tf.tf * ln((n.n_docs + 1.0) / (docfreq.df + 1.0)), 6) AS tfidf
  FROM tf JOIN docfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rnk
  FROM scored
)
SELECT doc_id, term, tf, df, tfidf, rnk FROM ranked WHERE rnk <= {k}
"""


# --- linear quality classifier ------------------------------------------------


def quality_classifier_sql(text: str, d: str) -> str:
    """Integer-exact linear quality classifier over the
    :func:`quality_stats_sql` features — the shape of the fasttext-style
    quality filters production corpora use (a trained linear model over
    cheap surface features), with fixed hand-set weights so both engines
    compute the IDENTICAL logit.

    Every term is integer arithmetic on integer-scaled features (the
    text_lm_score discipline: no float op anywhere, so no cross-engine ulp
    drift and nothing to round). Weights favor mid-length prose — tokens
    up to a cap, stopword density, light punctuation — and penalize digit
    soup and degenerate mean token length. Swapping in trained weights is
    a constant change; the plumbing is the operator.
    """
    q = quality_stats_sql(text, d)
    return (
        f"CAST(150 * least({q['n_tokens']}, 400) + 900 * {q['stopword_pm']} "
        f"- 80 * {q['n_digits']} + 40 * {q['n_punct']} "
        f"- 120 * abs({q['mean_token_len_x10']} - 55) - 60000 AS BIGINT)"
    )


def quality_classify(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Score + decide: ``(doc_id, quality_logit, accepted)``; scan-local,
    no shuffle — the filter stage composes with everything downstream.
    NULL text propagates NULL logit/verdict (both engines)."""
    z = F.expr(quality_classifier_sql(text_col, "spark"))
    return df.select(
        F.col(id_col),
        z.alias("quality_logit"),
        (z >= 0).alias("accepted"),
    )


def quality_classify_oracle(table: str = "documents") -> str:
    z = quality_classifier_sql("text", "duckdb")
    return (
        f"SELECT doc_id, {z} AS quality_logit, {z} >= 0 AS accepted FROM {table}"
    )


# --- PII redaction -----------------------------------------------------------

# Dialect-shared patterns (Java regex and RE2 agree on this subset). Ordered:
# emails first so their digits can't be half-eaten by the phone pattern.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+[0-9][0-9 \-]{6,}[0-9]", "<PHONE>"),
)


def redact_pii_sql(text: str, d: str) -> dict[str, str]:
    """Column -> expression map: per-kind match counts + the fully redacted
    text. Counting runs on the PRE-redaction text per kind-order semantics;
    replacement applies the patterns in the same order."""
    out: dict[str, str] = {}
    redacted = text
    for kind, raw_pat, repl in PII_PATTERNS:
        # Spark SQL string literals consume backslash escapes ('\b' ->
        # backspace); DuckDB literals don't. Double them for Spark only.
        pat = raw_pat.replace("\\", "\\\\") if d == "spark" else raw_pat
        if d == "spark":
            out[f"n_{kind}"] = f"CAST(regexp_count({redacted}, '{pat}') AS INTEGER)"
            redacted = f"regexp_replace({redacted}, '{pat}', '{repl}')"
        else:
            out[f"n_{kind}"] = f"CAST(len(regexp_extract_all({redacted}, '{pat}')) AS INTEGER)"
            redacted = f"regexp_replace({redacted}, '{pat}', '{repl}', 'g')"
    out["redacted"] = redacted
    return out


def redact_pii(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Scrub emails / IPv4 addresses / international phone numbers from a
    text column — the standard pre-training privacy pass. Row-local (no
    shuffle); patterns are the conservative dialect-shared subset, a real
    deployment would extend PII_PATTERNS per policy."""
    exprs = redact_pii_sql(text_col, "spark")
    return df.select(F.col(id_col), *[F.expr(e).alias(n) for n, e in exprs.items()])


# --- vocabulary building -----------------------------------------------------


def build_vocab(
    df: DataFrame,
    min_count: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Corpus vocabulary: one row per surviving term with its corpus
    frequency and a dense contiguous id assigned by (count DESC, term) —
    the deterministic ordering every tokenizer build needs (ties on count
    MUST break on the term string or two builds of the same corpus disagree).

    Scale shape: one (term) shuffle for the counts; the id assignment is
    the same two-phase distributed rank as ``pack_sequences``
    (operators/packing.py) instead of a single-partition global window —
    range-repartition on the rank order so partition p holds a contiguous
    rank slice, row_number WITHIN partitions (parallel windows), then add
    exclusive per-partition offsets from a bounded (|partitions|-row)
    collect. A web-scale vocabulary (10^8 terms) ranks in parallel; no
    unpartitioned WindowExec appears in the plan.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.explode(
            F.expr(f"filter({_words(f'lower({text_col})', 'spark')}, t -> t <> '')")
        ).alias("term")
    )
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("n")).filter(
        F.col("n") >= min_count
    )
    # (n DESC, term) is a total order (term is unique post-groupBy), so range
    # partitions carry disjoint contiguous rank slices. localCheckpoint pins
    # one physical layout for both the size-collect job and the output job.
    ranked = (
        counts.repartitionByRange(F.desc("n"), F.col("term"))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("_pid").orderBy(F.desc("n"), F.col("term"))
    sizes = {
        r["_pid"]: r["_cnt"]
        for r in ranked.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    offset_col = (
        F.coalesce(
            *[F.when(F.col("_pid") == pid, F.lit(off)) for pid, off in sorted(offsets.items())],
            F.lit(0),
        )
        if offsets
        else F.lit(0)
    )
    return ranked.withColumn(
        "term_id", (F.row_number().over(w) - 1 + offset_col).cast("int")
    ).select("term_id", "term", "n")


def build_vocab_oracle(min_count: int = 2, table: str = "documents", text: str = "text") -> str:
    words = _words(f"lower({text})", "duckdb")
    return f"""
WITH toks AS (
  SELECT unnest(list_filter({words}, t -> t <> '')) AS term FROM {table}
),
counts AS (
  SELECT term, count(*) AS n FROM toks GROUP BY term HAVING count(*) >= {min_count}
)
SELECT CAST(row_number() OVER (ORDER BY n DESC, term) - 1 AS INTEGER) AS term_id,
       term, n
FROM counts
"""


# --- intra-document repetition ----------------------------------------------


def repetition_stats_sql(text: str, d: str, n: int = 3) -> dict[str, str]:
    """Repeated-n-gram stats: how much of a document is internal duplication
    (boilerplate, decoding loops). rep_pm = per-mille of shingle positions
    occupied by a shingle already seen in the document."""
    from map_spark_sql_spark.operators.dedup import shingles_sql

    sh = shingles_sql(text, n, d)
    if d == "spark":
        total, uniq = f"size({sh})", f"size(array_distinct({sh}))"
    else:
        total, uniq = f"len({sh})", f"len(list_distinct({sh}))"
    return {
        "n_shingles": f"CAST({total} AS INTEGER)",
        "n_distinct": f"CAST({uniq} AS INTEGER)",
        "rep_pm": (
            f"CAST(floor(1000.0 * ({total} - {uniq}) / greatest({total}, 1)) AS INTEGER)"
        ),
    }


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Row-local (no shuffle) repetition scoring; a quality gate commonly
    thresholds rep_pm before anything expensive runs.

    The shingle array is STAGED through intermediate columns rather than
    inlined via :func:`repetition_stats_sql`: the three output columns
    reference the shingles five times, and Catalyst neither CSEs inside
    higher-order-function lambdas nor collapses projections when that
    would duplicate non-cheap expressions — inlining measured 5.6x slower
    than DuckDB on the same 50k-doc scan; staging computes the split and
    the shingle transform once per row (same fix as minhash_signatures).
    """
    from map_spark_sql_spark.operators.dedup import (
        shingles_from_words_sql,
        words_sql,
    )

    staged = (
        df.withColumn("_w", F.expr(words_sql(text_col, "spark")))
        .withColumn("_sh", F.expr(shingles_from_words_sql("_w", n, "spark")))
        .withColumn("_tot", F.expr("size(_sh)"))
        .withColumn("_uq", F.expr("size(array_distinct(_sh))"))
    )
    return staged.select(
        F.col(id_col),
        F.expr("CAST(_tot AS INTEGER)").alias("n_shingles"),
        F.expr("CAST(_uq AS INTEGER)").alias("n_distinct"),
        F.expr(
            "CAST(floor(1000.0 * (_tot - _uq) / greatest(_tot, 1)) AS INTEGER)"
        ).alias("rep_pm"),
    )


# ---------------------------------------------------------------------------
# boilerplate n-gram detection (round-4 addition)
# ---------------------------------------------------------------------------
# CCNet-style boilerplate removal works line-by-line; this corpus has no
# line structure, so the unit is the n-gram: an n-gram present in a large
# fraction of documents is boilerplate (cookie banners, license headers,
# nav text in the web analogue). Two surfaces: the boilerplate set itself,
# and a per-document contamination ratio against that set.


def _doc_ngrams_sql(text: str, n: int, d: str) -> str:
    from map_spark_sql_spark.operators.dedup import shingles_sql

    return shingles_sql(text, n, d)



def _exploded_doc_ngrams(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """DISTINCT (doc, ngram) relation with the words array STAGED before the
    shingle transform — an inlined split re-evaluates once per element_at
    inside the higher-order lambda (see shingles_from_words_sql)."""
    from map_spark_sql_spark.operators.dedup import (
        shingles_from_words_sql,
        words_sql,
    )

    return (
        df.where(F.col(text_col).isNotNull())
        .withColumn("_w", F.expr(words_sql(text_col, "spark")))
        .select(
            F.col(id_col),
            F.explode(F.expr(shingles_from_words_sql("_w", n, "spark"))).alias(
                "ngram"
            ),
        )
        .distinct()
    )


def boilerplate_ngrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_doc_frac: float = 0.01,
) -> DataFrame:
    """The boilerplate set: n-grams whose document frequency is at least
    ``min_doc_frac`` of the shingled corpus. Emits (ngram, doc_freq).

    100 TB shape: explode to DISTINCT (doc, ngram) — the one big shuffle,
    same volume as the tf-idf df pass — then count per ngram. The scalar
    total-doc count joins in as a broadcast (1 row), so the threshold is a
    post-aggregation filter, never a driver round-trip.
    """
    ex = _exploded_doc_ngrams(df, text_col, id_col, n)
    freq = ex.groupBy("ngram").agg(F.count(F.lit(1)).alias("doc_freq"))
    total = ex.agg(F.countDistinct(id_col).alias("_n_docs"))
    return (
        freq.crossJoin(F.broadcast(total))
        .where(F.col("doc_freq") >= F.ceil(F.lit(min_doc_frac) * F.col("_n_docs")))
        .select("ngram", "doc_freq")
    )


def _boiler_cte(table: str, text: str, id_col: str, n: int, min_doc_frac: float) -> str:
    sh = _doc_ngrams_sql(text, n, "duckdb")
    return f"""
ex AS (SELECT DISTINCT {id_col}, unnest({sh}) AS ngram
       FROM {table} WHERE {text} IS NOT NULL),
tot AS (SELECT count(DISTINCT {id_col}) AS n_docs FROM ex),
boiler AS (SELECT ngram, count(*) AS doc_freq FROM ex GROUP BY ngram
           HAVING count(*) >= (SELECT ceil({min_doc_frac} * n_docs) FROM tot))
"""


def boilerplate_ngrams_oracle(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_doc_frac: float = 0.01,
) -> str:
    return (
        "WITH "
        + _boiler_cte(table, text, id_col, n, min_doc_frac)
        + "SELECT ngram, doc_freq FROM boiler"
    )


def boilerplate_doc_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_doc_frac: float = 0.01,
) -> DataFrame:
    """Per-document boilerplate contamination: of the document's distinct
    n-grams, how many are in the corpus boilerplate set, as a permille
    ratio. Downstream gates drop documents above a boiler_pm threshold.

    The boilerplate set is small by construction (high-df n-grams), so the
    per-doc membership join is a broadcast hash join against the exploded
    distinct (doc, ngram) relation — no second corpus-wide shuffle beyond
    the groupBy(doc).
    """
    ex = _exploded_doc_ngrams(df, text_col, id_col, n)
    boiler = boilerplate_ngrams(df, text_col, id_col, n, min_doc_frac).select("ngram")
    flagged = ex.join(
        F.broadcast(boiler.withColumn("_is_boiler", F.lit(1))), "ngram", "left"
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(F.coalesce(F.col("_is_boiler"), F.lit(0))).alias("n_boiler"),
        )
        .select(
            id_col,
            "n_ngrams",
            "n_boiler",
            F.floor(1000.0 * F.col("n_boiler") / F.col("n_ngrams"))
            .cast("int")
            .alias("boiler_pm"),
        )
    )


def boilerplate_doc_stats_oracle(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_doc_frac: float = 0.01,
) -> str:
    return (
        "WITH "
        + _boiler_cte(table, text, id_col, n, min_doc_frac)
        + f"""
SELECT e.{id_col} AS {id_col}, count(*) AS n_ngrams,
       count(b.ngram) AS n_boiler,
       CAST(floor(1000.0 * count(b.ngram) / count(*)) AS INTEGER) AS boiler_pm
FROM ex e LEFT JOIN boiler b ON e.ngram = b.ngram
GROUP BY e.{id_col}
"""
    )


# --- boilerplate stripping (corpus-frequent segment removal) ------------------


def _segments_sql(w: str, n: int, d: str) -> str:
    """0-based NON-overlapping ``n``-word segments as (pos, seg) structs from
    a staged words-array column (the HOF-staging rule: never inline the
    split). The trailing short segment is kept (clamped slice); segments
    that render to '' (only possible from empty/degenerate word arrays) are
    filtered here in BOTH dialects so the two engines see the same relation.
    """
    if d == "spark":
        nseg = f"(size({w}) + {n - 1}) DIV {n}"
        return (
            f"filter(transform(sequence(0, CAST(greatest({nseg}, 1) AS INT) - 1), "
            f"i -> struct(CAST(i AS INT) AS pos, "
            f"concat_ws(' ', slice({w}, i*{n}+1, {n})) AS seg)), "
            f"s -> s.seg <> '')"
        )
    nseg = f"(len({w}) + {n - 1}) // {n}"
    return (
        f"list_filter(list_transform(range(CAST({nseg} AS INT)), "
        f"i -> {{'pos': CAST(i AS INT), "
        f"'seg': array_to_string({w}[(i*{n}+1):(i*{n}+{n})], ' ')}}), "
        f"s -> s.seg <> '')"
    )


def strip_boilerplate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_doc_frac: float = 0.01,
) -> DataFrame:
    """Gopher/MassiveText-style boilerplate REMOVAL — the transformation the
    :func:`boilerplate_ngrams` / :func:`boilerplate_doc_stats` diagnostics
    gate on. Documents are cut into non-overlapping ``n``-word segments,
    segments whose document frequency reaches ``min_doc_frac`` of the corpus
    (nav bars, cookie banners, licence footers) are dropped, and the
    survivors are reassembled in original order into ``clean_text``.

    100 TB shape: one explode shuffle for the DISTINCT (doc, segment)
    relation, the (small, high-df by construction) boilerplate set broadcast
    back onto the exploded segments, one groupBy(doc) rollup. Reassembly is
    array_sort(collect_list(struct(pos, seg))) — bounded by a single
    document's length, never corpus-wide. The scalar doc count joins as a
    1-row broadcast, so the threshold never round-trips the driver.

    Output ``(doc_id, n_segments, n_kept, clean_text)`` — exact integers and
    deterministic strings only, so the row set is engine-portable without
    rounding. NULL-text documents are excluded (nothing to strip), matching
    the rest of the boilerplate family.
    """
    from map_spark_sql_spark.operators.dedup import words_sql

    base = df.where(F.col(text_col).isNotNull()).withColumn(
        "_w", F.expr(words_sql(text_col, "spark"))
    )
    segs = base.select(
        F.col(id_col), F.explode(F.expr(_segments_sql("_w", n, "spark"))).alias("s")
    ).select(F.col(id_col), F.col("s.pos").alias("pos"), F.col("s.seg").alias("seg"))
    ex = segs.select(id_col, "seg").distinct()
    freq = ex.groupBy("seg").agg(F.count(F.lit(1)).alias("doc_freq"))
    total = ex.agg(F.countDistinct(id_col).alias("_n_docs"))
    # floor the threshold at 2 docs: a segment seen in ONE document is never
    # boilerplate, and without the floor a tiny corpus (ceil(frac*n) = 1)
    # would strip every segment — destructive transforms get no degenerate
    # regime (same guard, same ceil product, in the oracle).
    boiler = (
        freq.crossJoin(F.broadcast(total))
        .where(
            F.col("doc_freq")
            >= F.greatest(F.lit(2), F.ceil(F.lit(min_doc_frac) * F.col("_n_docs")))
        )
        .select("seg", F.lit(1).alias("_b"))
    )
    kept = segs.join(F.broadcast(boiler), "seg", "left")
    return kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum(F.when(F.col("_b").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.concat_ws(
            " ",
            F.expr(
                "transform(array_sort(collect_list("
                "CASE WHEN _b IS NULL THEN struct(pos, seg) END)), s -> s.seg)"
            ),
        ).alias("clean_text"),
    )


def strip_boilerplate_oracle(
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_doc_frac: float = 0.01,
) -> str:
    """DuckDB twin of :func:`strip_boilerplate`: identical segmentation,
    threshold (same IEEE ``ceil(frac * n_docs)`` product), and ordered
    reassembly via ``string_agg(.. ORDER BY pos) FILTER``."""
    from map_spark_sql_spark.operators.dedup import words_sql

    w = words_sql(text, "duckdb")
    seg_list = _segments_sql("w", n, "duckdb")
    return f"""
WITH base AS (SELECT {id_col}, {w} AS w FROM {table} WHERE {text} IS NOT NULL),
segs0 AS (SELECT {id_col}, unnest({seg_list}) AS s FROM base),
segs AS (SELECT {id_col}, s.pos AS pos, s.seg AS seg FROM segs0),
ex AS (SELECT DISTINCT {id_col}, seg FROM segs),
tot AS (SELECT count(DISTINCT {id_col}) AS n_docs FROM ex),
boiler AS (SELECT seg FROM ex GROUP BY seg
           HAVING count(*) >= (SELECT greatest(2, ceil({min_doc_frac} * n_docs)) FROM tot))
SELECT s.{id_col} AS {id_col},
       CAST(count(*) AS BIGINT) AS n_segments,
       CAST(count(*) FILTER (WHERE b.seg IS NULL) AS BIGINT) AS n_kept,
       coalesce(string_agg(s.seg, ' ' ORDER BY s.pos)
                FILTER (WHERE b.seg IS NULL), '') AS clean_text
FROM segs s LEFT JOIN boiler b ON s.seg = b.seg
GROUP BY s.{id_col}
"""


# --- character-entropy quality signal -----------------------------------------


def char_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document character-distribution Shannon entropy — the cheap
    compressibility proxy (Gopher's compression-ratio filter family):
    near-zero entropy flags degenerate repetition ('aaaa...'), unusually
    high entropy flags binary-ish/encoded junk; prose sits in a stable band.

    Zero-shuffle: the char histogram is built per row with staged
    higher-order functions (split -> array_distinct -> per-char counts; each
    HOF result staged as a column because Catalyst does not CSE inside
    lambdas), so the whole operator is a projection over the scan — no
    explode, no exchange, embarrassingly scan-local at any corpus size.

    Cross-engine determinism (the text_lm_score discipline): each distinct
    char contributes ``round(-ln(cnt/n) * 1e6) * cnt`` — an exact BIGINT —
    and the per-document sum of integers is order-independent, so the two
    engines may build the histogram DIFFERENTLY as long as the (char ->
    count) multiset is the same. The Spark side exploits that freedom: the
    naive ``transform(distinct, c -> size(filter(chars, x -> x = c)))``
    histogram is O(len x distinct) interpreted lambda work with one array
    allocation per distinct char (measured 552.9s for 4.95M docs at the
    1000x rung, 5.7x behind DuckDB's vectorized HOFs on the identical
    shape); sorting the char array once and folding RUN LENGTHS in a
    single ``aggregate`` pass is O(len log len) + O(len) with no per-char
    allocation — identical counts, identical integers, same zero-shuffle
    scan-local plan. The DuckDB oracle keeps the naive shape (its HOFs are
    vectorized; parity there is not the bottleneck).
    ``mean_entropy_nats`` is the raw division of identical integers.
    Output: ``(doc_id, n_chars_split, n_distinct_chars, sum_ent_micro,
    mean_entropy_nats)``; NULL and empty texts are excluded (no
    distribution to measure).
    """
    # run contribution: round(-ln(r/n) * 1e6) * r as exact BIGINT
    fr = (
        "CAST(round(-ln(CAST({r} AS DOUBLE) / _n) * 1000000) AS BIGINT) * {r}"
    )
    # fold sorted chars into (prev, run_len, ent_sum, n_runs); finish
    # flushes the trailing run. The state never holds more than one run.
    fold = (
        "aggregate(_cs, "
        "named_struct('p', CAST(NULL AS STRING), 'r', CAST(0 AS BIGINT), "
        "'s', CAST(0 AS BIGINT), 'd', CAST(0 AS BIGINT)), "
        "(st, x) -> IF(st.p IS NULL, "
        "  named_struct('p', x, 'r', CAST(1 AS BIGINT), 's', st.s, 'd', CAST(1 AS BIGINT)), "
        "  IF(x = st.p, "
        "    named_struct('p', st.p, 'r', st.r + 1, 's', st.s, 'd', st.d), "
        f"    named_struct('p', x, 'r', CAST(1 AS BIGINT), 's', st.s + {fr.format(r='st.r')}, 'd', st.d + 1))), "
        f"st -> named_struct('s', st.s + IF(st.p IS NULL, CAST(0 AS BIGINT), {fr.format(r='st.r')}), 'd', st.d))"
    )
    return (
        df.where(F.col(text_col).isNotNull() & (F.length(text_col) > 0))
        .withColumn("_cs", F.expr(f"array_sort(split({text_col}, ''))"))
        .withColumn("_n", F.expr("size(_cs)"))
        .withColumn("_f", F.expr(fold))
        .select(
            F.col(id_col),
            F.col("_n").cast("long").alias("n_chars_split"),
            F.expr("_f.d").cast("long").alias("n_distinct_chars"),
            F.expr("_f.s").alias("sum_ent_micro"),
        )
        .withColumn(
            "mean_entropy_nats",
            F.col("sum_ent_micro") / 1000000.0 / F.col("n_chars_split"),
        )
    )


def char_entropy_oracle(
    table: str = "documents", text: str = "text", id_col: str = "doc_id"
) -> str:
    return f"""
WITH s AS (SELECT {id_col}, string_split({text}, '') AS ch
           FROM {table} WHERE {text} IS NOT NULL AND length({text}) > 0),
d AS (SELECT {id_col}, ch, list_distinct(ch) AS dc FROM s),
c AS (SELECT {id_col}, ch, dc,
             list_transform(dc, cc -> len(list_filter(ch, x -> x = cc))) AS cnt
      FROM d)
SELECT {id_col},
       CAST(len(ch) AS BIGINT) AS n_chars_split,
       CAST(len(dc) AS BIGINT) AS n_distinct_chars,
       CAST(list_sum(list_transform(cnt, k ->
            CAST(round(-ln(CAST(k AS DOUBLE) / len(ch)) * 1000000) AS BIGINT) * k))
            AS BIGINT) AS sum_ent_micro,
       CAST(list_sum(list_transform(cnt, k ->
            CAST(round(-ln(CAST(k AS DOUBLE) / len(ch)) * 1000000) AS BIGINT) * k))
            AS BIGINT) / 1000000.0 / len(ch) AS mean_entropy_nats
FROM c
"""


# --- unigram LM quality scoring ----------------------------------------------


def lm_score(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Unigram language-model quality score: train p(t) = count(t)/total on
    the corpus itself, then score each document by its mean negative
    log-likelihood (high mean NLL = surprising/low-quality text under the
    corpus distribution — the classic perplexity filter of pretraining
    pipelines, with the corpus as its own LM).

    Cross-engine determinism: per-token NLL is quantized to integer
    micro-nats (``round(-ln(p) * 1e6)``) BEFORE the per-document sum, so the
    accumulated value is an exact integer — no float-summation-order drift
    between engines or between executor layouts. Only ~vocab-many distinct
    ``ln`` evaluations exist, and each is rounded at micro-nat resolution.

    Scale shape: one (term) shuffle for the frequency table, one shuffle to
    join tokens back to it, one (doc) shuffle for the document rollup; the
    corpus-total is a 1-row broadcast. No Python, no windows, no driver
    state beyond the 1-row total.

    Output: ``(doc_id, n_lm_tokens, sum_nll_micro, mean_nll)``.
    """
    words = f"filter({_words(f'lower({text_col})', 'spark')}, t -> t <> '')"
    toks = df.select(F.col(id_col), F.explode(F.expr(words)).alias("term"))
    # r11 optimization: freq feeds both the corpus total and the token
    # join; the lazy checkpoint (vocab-bounded table) stops Catalyst from
    # planning the tokenize + term shuffle twice more (3 corpus scans -> 2
    # in the plan; the token stream itself is deliberately NOT
    # materialized — re-tokenizing is a scan-local HOF, cheaper at scale
    # than storing the exploded stream).
    freq = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    total = freq.agg(F.sum("cnt").cast("long").alias("total"))
    nll_u = F.expr(
        "CAST(round(-ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)) * 1000000) AS BIGINT)"
    )
    return (
        toks.join(freq, "term")
        .crossJoin(F.broadcast(total))
        .select(F.col(id_col), nll_u.alias("nll_u"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lm_tokens"),
            F.sum("nll_u").cast("long").alias("sum_nll_micro"),
        )
        .withColumn(
            # no final round(): both engines divide the SAME exact integers
            # with IEEE ops, so the raw double is bit-identical — a round(.., 6)
            # here flipped at an exact .5 boundary in the 10x sweep (Spark
            # HALF_UP vs C-double rounding of 3405066.5 micro-nats / 60)
            "mean_nll",
            F.col("sum_nll_micro") / 1000000.0 / F.col("n_lm_tokens"),
        )
    )


def lm_score_oracle(table: str = "documents", text: str = "text", id_col: str = "doc_id") -> str:
    words = _words(f"lower({text})", "duckdb")
    return f"""
WITH toks AS (
  SELECT {id_col}, unnest(list_filter({words}, t -> t <> '')) AS term FROM {table}
),
freq AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
total AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM freq),
scored AS (
  SELECT t.{id_col},
         CAST(round(-ln(CAST(f.cnt AS DOUBLE) / CAST(tt.total AS DOUBLE)) * 1000000) AS BIGINT) AS nll_u
  FROM toks t JOIN freq f USING (term) CROSS JOIN total tt
)
SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_lm_tokens,
       CAST(sum(nll_u) AS BIGINT) AS sum_nll_micro,
       CAST(sum(nll_u) AS BIGINT) / 1000000.0 / count(*) AS mean_nll
FROM scored GROUP BY {id_col}
"""


# --- vocabulary application (text -> token-id sequences) ----------------------


def tokenize_docs(
    df: DataFrame,
    min_count: int = 2,
    unk_id: int = -1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply the :func:`build_vocab` vocabulary back to the corpus: each
    document becomes its ordered token-id sequence (OOV terms — pruned by
    ``min_count`` — map to ``unk_id``). This is the step between vocabulary
    construction and :func:`~map_spark_sql_spark.operators.packing.pack_sequences`:
    text in, model-ready id streams out.

    Scale shape: tokens carry their position through a (term)-keyed join
    against the vocabulary (plain shuffle join — a web-scale vocab is
    corpus-derived, never broadcast), then one (doc) shuffle rebuilds the
    ordered sequence via sort-by-position inside the aggregated struct list.
    The id sequence is emitted as a space-joined string: both engines
    serialize int strings identically (the registry's list-column
    convention), and downstream packing re-splits for free.

    Output: ``(doc_id, n_tokens, n_oov, ids)``.
    """
    vocab = build_vocab(df, min_count=min_count, text_col=text_col)
    toks = df.select(
        F.col(id_col),
        F.posexplode(
            F.expr(f"filter({_words(f'lower({text_col})', 'spark')}, t -> t <> '')")
        ).alias("pos", "term"),
    )
    joined = toks.join(vocab.select("term", "term_id"), "term", "left").select(
        id_col,
        "pos",
        F.coalesce(F.col("term_id"), F.lit(unk_id)).alias("tid"),
    )
    return (
        joined.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum((F.col("tid") == unk_id).cast("long")).alias("n_oov"),
            F.expr(
                "concat_ws(' ', transform(array_sort(collect_list(struct(pos, tid))), "
                "s -> CAST(s.tid AS STRING)))"
            ).alias("ids"),
        )
        .select(id_col, "n_tokens", "n_oov", "ids")
    )


def tokenize_docs_oracle(
    min_count: int = 2,
    unk_id: int = -1,
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
    shard: tuple[int, int] | None = None,
    vocab_table: str | None = None,
) -> str:
    """Dialect-shared tokenization oracle.

    ``shard=(k, n)`` restricts the EXPLODED portion to ``{id_col} % n = k``
    while the vocabulary stays corpus-global — the sharded-oracle escape
    hatch for rungs where DuckDB's list explode over the whole corpus dies
    in its allocator (the 1000x `docs_tokenize` ceiling; the
    union-find-mirror precedent: shard the harness, not the semantics).
    ``vocab_table`` points the join at a precomputed temp table so an
    n-shard sweep builds the vocab once, not n times
    (tools/check_tokenize_at_scale.py).
    """
    words = _words(f"lower({text})", "duckdb")
    shard_pred = f" AND {id_col} % {shard[1]} = {shard[0]}" if shard else ""
    if vocab_table:
        vocab_cte = f"vocab AS (SELECT * FROM {vocab_table})"
    else:
        vocab = build_vocab_oracle(min_count=min_count, table=table, text=text)
        vocab_cte = f"vocab AS ({vocab})"
    return f"""
WITH {vocab_cte},
w AS (
  SELECT {id_col}, list_filter({words}, t -> t <> '') AS _w FROM {table}
  WHERE {text} IS NOT NULL{shard_pred}
),
toks AS (
  SELECT {id_col}, unnest(generate_series(1, len(_w))) AS pos, _w FROM w
),
pt AS (SELECT {id_col}, pos, _w[pos] AS term FROM toks),
joined AS (
  SELECT pt.{id_col}, pt.pos,
         coalesce(v.term_id, {unk_id}) AS tid
  FROM pt LEFT JOIN vocab v ON pt.term = v.term
)
SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN tid = {unk_id} THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY pos) AS ids
FROM joined GROUP BY {id_col}
"""


# --- DSIR-style importance weights ---------------------------------------------


def dsir_weights(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023), the
    unigram instantiation: weight every document by how much more likely
    its tokens are under the TARGET distribution (here: the corpus's own
    quality-classifier accepts — the stand-in for "looks like Wikipedia")
    than under the RAW distribution (the whole corpus). Documents with
    positive weight look target-like; resampling by these weights shifts
    the mixture toward the target domain without a learned model.

    Per token t (add-1 smoothing over the JOINT vocabulary V):

        lam(t) = ln((n_target(t)+1) / (N_target+V))
               - ln((n_raw(t)+1)    / (N_raw+V))

    quantized to integer micro-nats per distinct token BEFORE the
    per-document sum (the text_lm_score discipline: only ~|V| distinct
    ``ln`` evaluations exist; the accumulated per-doc value is an exact
    integer, immune to float summation order).

    Scale shape: ONE token explode feeds both distributions — the target
    count is a conditional sum over the same exploded relation, not a
    second scan; the feature table shuffles on token, joins back to the
    token stream co-partitioned, and the three scalars (N_t, N_r, V) ride
    a 1-row broadcast. Per-doc rollup is the usual (doc) shuffle. No
    Python, no windows, no driver state.

    Output: ``(doc_id, n_tokens, dsir_micro, mean_dsir)`` — NULL-text
    documents excluded (no tokens to weigh).
    """
    words = f"filter({_words(f'lower({text_col})', 'spark')}, t -> t <> '')"
    accept = F.expr(quality_classifier_sql(text_col, "spark")) >= 0
    toks = (
        df.where(F.col(text_col).isNotNull())
        .withColumn("_acc", accept)
        .select(F.col(id_col), F.col("_acc"), F.explode(F.expr(words)).alias("term"))
    )
    # r11 optimization: the feature table feeds both the scalar totals and
    # the token join — the lazy checkpoint (vocab-bounded) keeps the
    # tokenize + classifier + term shuffle from being planned twice more
    # (the lm_score rule). r12 isolated A/B (sf0.1, same session, min-of-6):
    # the checkpoint costs ~0.2 s locally (1.35 vs 1.17 without — the
    # materialization barrier) but the plan diff shows 6 parquet scans of
    # the corpus without it vs 2 with it, identical rows — at rung scale
    # four extra corpus passes dwarf one vocab-sized checkpoint, so it
    # stays (the r11 driver-board 0.50->1.15 s move was box contention on
    # top of that barrier cost; same-box receipts in OPTIMIZATION_r12.md).
    feat = (
        toks.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_raw"),
            F.sum(F.when(F.col("_acc"), 1).otherwise(0)).cast("long").alias("n_tgt"),
        )
        .localCheckpoint(eager=False)
    )
    # scalar names must not collide case-insensitively with the per-term
    # columns (Spark resolution is case-insensitive: N_tgt would be
    # ambiguous against n_tgt after the join)
    totals = feat.agg(
        F.sum("n_raw").cast("long").alias("tot_raw"),
        F.sum("n_tgt").cast("long").alias("tot_tgt"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
    )
    lam = F.expr(
        "CAST(round((ln(CAST(n_tgt + 1 AS DOUBLE) / CAST(tot_tgt + vocab AS DOUBLE)) - "
        "ln(CAST(n_raw + 1 AS DOUBLE) / CAST(tot_raw + vocab AS DOUBLE))) * 1000000) AS BIGINT)"
    )
    return (
        toks.join(feat, "term")
        .crossJoin(F.broadcast(totals))
        .select(F.col(id_col), lam.alias("lam_u"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("lam_u").cast("long").alias("dsir_micro"),
        )
        .withColumn(
            # raw division of identical exact integers — bit-identical in
            # both engines (the lm_score rule: no final round())
            "mean_dsir",
            F.col("dsir_micro") / 1000000.0 / F.col("n_tokens"),
        )
    )


def dsir_weights_oracle(
    table: str = "documents", text: str = "text", id_col: str = "doc_id"
) -> str:
    """DuckDB twin of :func:`dsir_weights`: same joint-vocabulary add-1
    smoothing, same per-token integer micro-nat quantization."""
    words = _words(f"lower({text})", "duckdb")
    z = quality_classifier_sql(text, "duckdb")
    return f"""
WITH toks AS (
  SELECT {id_col}, ({z}) >= 0 AS _acc,
         unnest(list_filter({words}, t -> t <> '')) AS term
  FROM {table} WHERE {text} IS NOT NULL
),
feat AS (SELECT term, CAST(count(*) AS BIGINT) AS n_raw,
                CAST(count(*) FILTER (WHERE _acc) AS BIGINT) AS n_tgt
         FROM toks GROUP BY term),
totals AS (SELECT CAST(sum(n_raw) AS BIGINT) AS tot_raw,
                  CAST(sum(n_tgt) AS BIGINT) AS tot_tgt,
                  CAST(count(*) AS BIGINT) AS vocab FROM feat),
scored AS (
  SELECT t.{id_col},
         CAST(round((ln(CAST(f.n_tgt + 1 AS DOUBLE) / CAST(tt.tot_tgt + tt.vocab AS DOUBLE)) -
                     ln(CAST(f.n_raw + 1 AS DOUBLE) / CAST(tt.tot_raw + tt.vocab AS DOUBLE))) * 1000000)
              AS BIGINT) AS lam_u
  FROM toks t JOIN feat f USING (term) CROSS JOIN totals tt
)
SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(lam_u) AS BIGINT) AS dsir_micro,
       CAST(sum(lam_u) AS BIGINT) / 1000000.0 / count(*) AS mean_dsir
FROM scored GROUP BY {id_col}
"""


# --- bigram LM quality scoring ----------------------------------------------


def _bigrams_sql(text: str, d: str) -> str:
    """Consecutive word pairs as 'w1 w2' strings (empty tokens dropped)."""
    w = f"filter({_words(f'lower({text})', 'spark')}, t -> t <> '')"
    if d == "spark":
        # greatest(.., 0): slice() raises on negative length for 0-token docs
        n1 = f"greatest(size({w}) - 1, 0)"
        return (
            f"zip_with(slice({w}, 1, {n1}), "
            f"slice({w}, 2, {n1}), (a, b) -> concat(a, ' ', b))"
        )
    w = f"list_filter({_words(f'lower({text})', 'duckdb')}, t -> t <> '')"
    return (
        f"list_transform(list_zip({w}[1:len({w})-1], {w}[2:len({w})]), "
        f"t -> t[1] || ' ' || t[2])"
    )


def lm_score_bigram(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Bigram language-model quality score with add-1 smoothing: train
    p(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V) on the corpus itself, score
    each document by mean NLL over its bigrams — one step up the n-gram
    ladder from :func:`lm_score`, and the form that actually catches
    scrambled-word junk (every unigram can be common while every bigram is
    surprising).

    Same determinism discipline as :func:`lm_score`: per-bigram NLL is
    quantized to integer micro-nats before summation, so accumulation
    order cannot drift between engines. Scale shape: a (bigram) shuffle
    for the pair table, a (context word) shuffle for the denominators,
    two shuffle joins back (neither table is broadcastable at web scale),
    a (doc) rollup; V is a 1-row broadcast. Documents with < 2 tokens
    produce no bigrams and are absent from the output (both engines).

    Output: ``(doc_id, n_bigrams, sum_nll_micro, mean_nll)``.
    """
    bg = df.select(
        F.col(id_col), F.explode(F.expr(_bigrams_sql(text_col, "spark"))).alias("bg")
    )
    bg_freq = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    ctx = bg.select(F.expr("split(bg, ' ')[0]").alias("w1"))
    ctx_freq = ctx.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    words = f"filter({_words(f'lower({text_col})', 'spark')}, t -> t <> '')"
    vocab = (
        df.select(F.explode(F.expr(words)).alias("term"))
        .agg(F.countDistinct("term").cast("long").alias("v"))
    )
    nll_u = F.expr(
        "CAST(round(-ln((CAST(c12 AS DOUBLE) + 1.0) / (CAST(c1 AS DOUBLE) + CAST(v AS DOUBLE))) "
        "* 1000000) AS BIGINT)"
    )
    return (
        bg.join(bg_freq, "bg")
        .withColumn("w1", F.expr("split(bg, ' ')[0]"))
        .join(ctx_freq, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(F.col(id_col), nll_u.alias("nll_u"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("nll_u").cast("long").alias("sum_nll_micro"),
        )
        .withColumn(
            # same exact-integer division note as lm_score: no final round
            "mean_nll",
            F.col("sum_nll_micro") / 1000000.0 / F.col("n_bigrams"),
        )
    )


def lm_score_bigram_oracle(
    table: str = "documents", text: str = "text", id_col: str = "doc_id"
) -> str:
    bgs = _bigrams_sql(text, "duckdb")
    words = f"list_filter({_words(f'lower({text})', 'duckdb')}, t -> t <> '')"
    return f"""
WITH bg AS (SELECT {id_col}, unnest({bgs}) AS bg FROM {table}),
bg_freq AS (SELECT bg, count(*) AS c12 FROM bg GROUP BY bg),
ctx_freq AS (SELECT string_split(bg, ' ')[1] AS w1, count(*) AS c1 FROM bg GROUP BY 1),
vocab AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v
          FROM (SELECT unnest({words}) AS term FROM {table}) u),
scored AS (
  SELECT b.{id_col},
         CAST(round(-ln((CAST(f.c12 AS DOUBLE) + 1.0)
                        / (CAST(c.c1 AS DOUBLE) + CAST(vv.v AS DOUBLE)))
                    * 1000000) AS BIGINT) AS nll_u
  FROM bg b
  JOIN bg_freq f USING (bg)
  JOIN ctx_freq c ON string_split(b.bg, ' ')[1] = c.w1
  CROSS JOIN vocab vv
)
SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(nll_u) AS BIGINT) AS sum_nll_micro,
       CAST(sum(nll_u) AS BIGINT) / 1000000.0 / count(*) AS mean_nll
FROM scored GROUP BY {id_col}
"""


# --- winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003) ---------------


def winnowing_select_sql(hs_col: str, w: int, d: str) -> str:
    """DISTINCT winnowing fingerprints from a STAGED shingle-hash array
    column: slide a window of ``w`` consecutive hashes, select each
    window's minimum. ``hs_col`` must be a bound column, not an inline
    expression — Catalyst does not CSE inside higher-order-function
    lambdas, so an inlined hash array would be recomputed once per window
    (measured: 44s -> 1.4s at sf0.01 after staging). Selecting the VALUE
    set makes the classic rightmost-tie rule irrelevant (ties select the
    same value), so both engines agree without positional bookkeeping.
    Documents with fewer than w shingles get ONE window covering what
    exists; 0-shingle and NULL docs yield an empty list.
    """
    if d == "spark":
        m = f"size({hs_col})"
        # sequence(1, 0) counts DOWN in Spark — explicit empty-guard
        return (
            f"CASE WHEN {m} >= 1 THEN array_distinct(transform("
            f"sequence(1, greatest({m} - {w} + 1, 1)), "
            f"j -> array_min(slice({hs_col}, CAST(j AS INT), {w})))) "
            f"ELSE array() END"
        )
    m = f"len({hs_col})"
    return (
        f"CASE WHEN {m} >= 1 THEN list_distinct(list_transform("
        f"range(1, greatest({m} - {w} + 1, 1) + 1), "
        f"j -> list_min({hs_col}[CAST(j AS BIGINT):CAST(j + {w} - 1 AS BIGINT)]))) "
        f"ELSE [] END"
    )


def winnowing_fingerprints(
    df: DataFrame,
    k: int = 3,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document winnowing fingerprint set (Schleimer, Wilkerson &
    Aiken 2003 / MOSS), exploded to ``(doc_id, fp)`` rows. Guarantee: any
    two documents sharing a run of >= w + k - 1 identical words share at
    least one fingerprint — the local substring-match property whole-doc
    hashes (rolling_fingerprint) and bag-of-shingle sketches (minhash)
    both lack. Feed the output into the same inverted-index + max_df
    machinery as the n-gram family to get pairs. Entirely row-local HOFs
    over a staged hash column: no shuffle until a consumer aggregates.
    """
    from map_spark_sql_spark.operators.dedup import base_hashes_from_words_sql

    words = f"filter({_words(f'lower({text_col})', 'spark')}, t -> t <> '')"
    staged = df.withColumn("_w", F.expr(words)).withColumn(
        "_hs", F.expr(base_hashes_from_words_sql("_w", k, "spark"))
    )
    return staged.select(
        F.col(id_col),
        F.explode(F.expr(winnowing_select_sql("_hs", w, "spark"))).alias("fp"),
    )


def winnowing_fingerprints_oracle(
    k: int = 3,
    w: int = 4,
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
) -> str:
    from map_spark_sql_spark.operators.dedup import base_hashes_from_words_sql

    words = f"list_filter({_words(f'lower({text})', 'duckdb')}, t -> t <> '')"
    hs = base_hashes_from_words_sql("_w", k, "duckdb")
    return f"""
SELECT {id_col}, unnest({winnowing_select_sql('_hs', w, 'duckdb')}) AS fp
FROM (SELECT {id_col}, {hs} AS _hs
      FROM (SELECT {id_col}, {words} AS _w FROM {table}) staged_w) staged
"""


def winnowing_pairs(
    df: DataFrame,
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 200,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Local-overlap candidate pairs from winnowing fingerprints: documents
    sharing >= ``min_shared`` selected fingerprints — the MOSS-style
    plagiarism/near-dup detector that catches a COPIED PASSAGE inside
    otherwise-different documents (minhash/simhash score whole-document
    similarity and dilute a short shared run to nothing).

    Same inverted-index discipline as the n-gram family: fingerprints in
    more than ``max_df`` documents are pruned before any fan-out (a
    boilerplate fingerprint shared by half the corpus is a quadratic
    posting list with no signal), in-posting pairs fan out join-free from
    the sorted member list, and the only wide shuffles key on fp then
    (a, b). Output: ``(a_id, b_id, shared_fps)``.
    """
    fps = winnowing_fingerprints(df, k, w, text_col, id_col)
    # Same fan-out rule as dedup.ngram_jaccard_pairs.
    par = df.sparkSession.sparkContext.defaultParallelism
    posting = (
        fps.repartition(par, "fp")
        .groupBy("fp")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_df))
    )
    pairs = F.expr(
        "flatten(transform(ids, (a, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), b -> struct(a, b))))"
    )
    return (
        posting.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("a_id"), F.col("p.b").alias("b_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def winnowing_pairs_oracle(
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
    max_df: int = 200,
    table: str = "documents",
    text: str = "text",
    id_col: str = "doc_id",
) -> str:
    """Mirrors :func:`winnowing_pairs` INCLUDING the ``max_df`` prune, kept
    pre-join (the mark-join planner lesson from the LSH oracles)."""
    fps = winnowing_fingerprints_oracle(k, w, table, text, id_col)
    return f"""
WITH fps AS ({fps}),
keep AS (SELECT fp FROM fps GROUP BY fp
         HAVING count(*) > 1 AND count(*) <= {max_df}),
kept AS (SELECT f.* FROM fps f JOIN keep USING (fp))
SELECT a.{id_col} AS a_id, b.{id_col} AS b_id,
       CAST(count(*) AS BIGINT) AS shared_fps
FROM kept a JOIN kept b ON a.fp = b.fp AND a.{id_col} < b.{id_col}
GROUP BY a_id, b_id
HAVING count(*) >= {min_shared}
"""


# --- BPE tokenizer training (driver-looped merge rounds) ----------------------


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rounds: int = 3,
) -> DataFrame:
    """Byte-pair-encoding tokenizer training (Sennrich et al., ACL 2016):
    the actual merge LOOP, not just the first merge decision
    (:mod:`queries` ``text_bpe_pair_merges``). Each round counts adjacent
    symbol pairs over the corpus-weighted DISTINCT word vocabulary, picks
    the argmax pair (ties: lexicographic), and applies the merge greedily
    left-to-right to every word; the chosen ``(t1, t2, count)`` per round
    is the training output — exactly the merges file a BPE tokenizer
    ships.

    Two structural tricks make this corpus-scale:

    - **All per-round work is over the vocab, not the corpus** — the word
      table is Zipf-bounded (the ``text_vocab_build`` shuffle), and each
      round is one scan of it plus a 1-row argmax; corpus size only enters
      through the initial word count.
    - **The merge is a string ``replace`` over a bracket-delimited symbol
      string** (``<a><b><c>``): built-in ``replace`` is greedy
      left-to-right non-overlapping — BPE's exact application rule — so
      the merge step is a codegen'd map with no per-symbol loop, and the
      identical builtin exists in DuckDB (probed: ``<a><a><a>`` with merge
      ``(a, a)`` gives ``<aa><a>`` in both engines). Words are restricted
      to ``^[a-z]+$`` so the delimiters can never collide with content
      and merged tokens can be inlined into the next round's pattern.

    The per-round argmax is a bounded driver collect (one row — the Lloyd
    centroid convention from similarity.kmeans_fit); ``localCheckpoint``
    after each applied merge cuts the replace-chain lineage. Returns
    ``(merge_round, t1, t2, n)``, one row per executed round.
    """
    spark = df.sparkSession
    words = (
        df.select(F.explode(F.split(F.lower(text_col), " ")).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ws = words.select(
        F.concat(
            F.lit("<"), F.array_join(F.split("w", ""), "><"), F.lit(">")
        ).alias("ws"),
        "cnt",
    ).localCheckpoint(eager=False)

    merges = []
    for r in range(1, rounds + 1):
        toks = ws.select(
            F.expr("split(substring(ws, 2, length(ws) - 2), '><')").alias("toks"),
            "cnt",
        )
        pairs = toks.filter(F.size("toks") >= 2).select(
            "cnt",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), "
                    "i -> struct(toks[i - 1] AS t1, toks[i] AS t2))"
                )
            ).alias("p"),
        )
        counts = (
            pairs.groupBy("p.t1", "p.t2")
            .agg(F.sum("cnt").cast("bigint").alias("n"))
        )
        best = counts.orderBy(F.desc("n"), "t1", "t2").first()
        if best is None:
            break
        t1, t2, n = best["t1"], best["t2"], best["n"]
        merges.append((r, t1, t2, int(n)))
        ws = ws.withColumn(
            "ws",
            F.replace(F.col("ws"), F.lit(f"<{t1}><{t2}>"), F.lit(f"<{t1}{t2}>")),
        ).localCheckpoint()
    return spark.createDataFrame(
        merges, "merge_round int, t1 string, t2 string, n bigint"
    )


def bpe_train_oracle(
    table: str = "documents",
    text: str = "text",
    rounds: int = 3,
) -> str:
    """DuckDB twin of :func:`bpe_train`: the merge loop unrolled into one
    CTE chain per round (pair count -> 1-row argmax -> greedy replace),
    over the same ``^[a-z]+$`` vocabulary."""
    parts = [
        f"""WITH words AS (
  SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(string_split(lower({text}), ' ')) AS w
    FROM {table} WHERE {text} IS NOT NULL
  ) t WHERE regexp_full_match(w, '[a-z]+') GROUP BY w
)""",
        "w0 AS (SELECT '<' || array_to_string(string_split(w, ''), '><') || '>' AS ws, cnt FROM words)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""c{r} AS (
  SELECT toks[i] AS t1, toks[i + 1] AS t2, sum(cnt) AS n
  FROM (SELECT string_split(substr(ws, 2, len(ws) - 2), '><') AS toks, cnt
        FROM w{r - 1}) tk,
       unnest(range(1, len(toks))) AS u(i)
  GROUP BY t1, t2
)"""
        )
        parts.append(
            f"b{r} AS (SELECT t1, t2, CAST(n AS BIGINT) AS n FROM c{r} "
            "ORDER BY n DESC, t1, t2 LIMIT 1)"
        )
        parts.append(
            f"w{r} AS (SELECT replace(ws, '<' || b.t1 || '><' || b.t2 || '>', "
            f"'<' || b.t1 || b.t2 || '>') AS ws, cnt FROM w{r - 1} CROSS JOIN b{r} b)"
        )
    body = ",\n".join(parts)
    sel = "\nUNION ALL ".join(
        f"SELECT {r} AS merge_round, t1, t2, n FROM b{r}" for r in range(1, rounds + 1)
    )
    return f"{body}\n{sel}"
