"""Exact verification of the clustering queries at scale rungs where the
recursive-CTE closure oracle is intractable.

SCALE.md's round-4 note: the DuckDB ``WITH RECURSIVE`` transitive-closure
oracle costs 500+ s per curation query at the 10x rung and is unusable at
100x — the HARNESS, not the engine, was the scale ceiling for clustering
queries. The closure is the only non-SQL-expressible step in those
pipelines, so this tool splits the oracle at exactly that seam:

1. compute the EDGE SET with the plain-SQL pair oracles in DuckDB
   (n-gram Jaccard pairs / kNN-graph edges / MinHash band pairs — all
   non-recursive and cheap);
2. run an exact union-find over the edges in-process (linear, label =
   component min id — the same contract as ``connected_components``);
3. compare labels (and, for the curation funnel, the downstream
   keeper/size/split/report output computed from the union-find labels)
   with the Spark side ROW FOR ROW.

This is stronger than invariant checking — every label is pinned — but the
verdict-suggested invariants are also asserted explicitly (labels form a
partition of the vertex set, per-cluster min id equals the label, every
edge's endpoints share a label) so a failure localizes to a stage.

Usage: python tools/check_clusters_at_scale.py [sf_dir] [query ...]
Queries covered: dedup_connected_components, dedup_cluster_keepers,
similarity_semantic_clusters, corpus_curation, corpus_curation_report
(default: all five).
"""

from __future__ import annotations

import functools
import math
import sys
import time

sys.path.insert(0, ".")

print = functools.partial(print, flush=True)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def normalize(rows, ndigits: int = 9):
    out = []
    for row in rows:
        vals = []
        for v in row:
            if isinstance(v, float):
                vals.append("NaN" if math.isnan(v) else round(v, ndigits))
            else:
                vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


def union_find_labels(edges: list[tuple], vertices: list) -> dict:
    """Exact connected components; every vertex labeled with its
    component's min member id."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    labels = {}
    for v in vertices:
        labels[v] = find(v)
    # roots carry the min id by construction (we always parent onto min)
    return labels


def assert_invariants(labels: dict, edges: list[tuple], vertices: list) -> None:
    assert set(labels) == set(vertices), "labels must partition the vertex set"
    by_cluster: dict = {}
    for v, c in labels.items():
        by_cluster.setdefault(c, []).append(v)
    for c, members in by_cluster.items():
        assert min(members) == c, f"cluster {c}: min member {min(members)} != label"
    for a, b in edges:
        assert labels[a] == labels[b], f"edge ({a},{b}) spans clusters"


def compare(name: str, spark_rows, duck_rows, t_spark, t_duck) -> bool:
    if normalize(spark_rows) == normalize(duck_rows):
        print(
            f"PASS {name}: {len(spark_rows)} rows exact-match "
            f"(spark {t_spark:.1f}s, oracle {t_duck:.1f}s)"
        )
        return True
    print(
        f"FAIL {name}: spark {len(spark_rows)} rows vs oracle {len(duck_rows)} rows; "
        f"first diffs spark={normalize(spark_rows)[:2]} oracle={normalize(duck_rows)[:2]}"
    )
    return False


def main() -> int:
    import duckdb

    from map_spark_sql_spark.operators import dedup as DD
    from map_spark_sql_spark.operators import similarity as SIM
    from map_spark_sql_spark.plans.curation import (
        DEFAULT_BOUNDS,
        DEFAULT_JACCARD,
        DEFAULT_MIN_TOKENS,
        _quality_predicate,
        split_label_sql,
    )
    from map_spark_sql_spark.queries import QUERIES
    from map_spark_sql_spark.session import get_session

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else ".scratch/sf100x"
    only = set(sys.argv[2:]) or {
        "dedup_connected_components",
        "dedup_cluster_keepers",
        "similarity_semantic_clusters",
        "corpus_curation",
        "corpus_curation_report",
    }

    spark = get_session(app_name="clusters-at-scale")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    ok = True

    def run_spark(name):
        t0 = time.time()
        rows = [tuple(r) for r in QUERIES[name](spark, sf_dir).collect()]
        return rows, time.time() - t0

    if "dedup_connected_components" in only:
        t0 = time.time()
        edges = con.execute(
            f"SELECT a_id, b_id FROM ({DD.ngram_jaccard_pairs_oracle()}) jp"
        ).fetchall()
        verts = [r[0] for r in con.execute("SELECT doc_id FROM documents").fetchall()]
        labels = union_find_labels(edges, verts)
        assert_invariants(labels, edges, verts)
        t_duck = time.time() - t0
        got, t_spark = run_spark("dedup_connected_components")
        ok &= compare(
            "dedup_connected_components", got, list(labels.items()), t_spark, t_duck
        )

    if "dedup_cluster_keepers" in only:
        from map_spark_sql_spark.operators.text import quality_classifier_sql

        t0 = time.time()
        edges = con.execute(
            f"SELECT a_id, b_id FROM ({DD.ngram_jaccard_pairs_oracle()}) jp"
        ).fetchall()
        verts = [
            r[0]
            for r in con.execute(
                "SELECT doc_id FROM documents WHERE text IS NOT NULL"
            ).fetchall()
        ]
        labels = union_find_labels(edges, verts)
        assert_invariants(labels, edges, verts)
        z = quality_classifier_sql("text", "duckdb")
        scores = dict(
            con.execute(
                f"SELECT doc_id, {z} FROM documents WHERE text IS NOT NULL"
            ).fetchall()
        )
        # mirror max_by(doc, struct(score, -doc_id)): max score, ties -> min id
        agg: dict = {}
        for v, c in labels.items():
            size, best = agg.get(c, (0, None))
            cand = (scores[v], -v)
            agg[c] = (size + 1, cand if best is None else max(best, cand))
        want = [(c, size, -best[1], best[0]) for c, (size, best) in agg.items()]
        t_duck = time.time() - t0
        got, t_spark = run_spark("dedup_cluster_keepers")
        ok &= compare("dedup_cluster_keepers", got, want, t_spark, t_duck)

    if "similarity_semantic_clusters" in only:
        t0 = time.time()
        edges = con.execute(
            f"SELECT src, dst FROM ({SIM.knn_graph_oracle(k=5, bits=6)}) kg "
            f"WHERE sim >= 0.9"
        ).fetchall()
        verts = [r[0] for r in con.execute("SELECT vec_id FROM embeddings").fetchall()]
        labels = union_find_labels(edges, verts)
        assert_invariants(labels, edges, verts)
        t_duck = time.time() - t0
        got, t_spark = run_spark("similarity_semantic_clusters")
        ok &= compare(
            "similarity_semantic_clusters", got, list(labels.items()), t_spark, t_duck
        )

    if only & {"corpus_curation", "corpus_curation_report"}:
        # the funnel's oracle chain, split at the closure seam: every stage
        # except cc is the SAME SQL the sf0.01 oracle uses
        t0 = time.time()
        quality = _quality_predicate("text", "duckdb", DEFAULT_MIN_TOKENS)
        exact = DD.exact_dedup_oracle("kept0", "text", "doc_id")
        pairs = DD.minhash_pairs_oracle(
            "kept1", "text", "doc_id", threshold=DEFAULT_JACCARD
        )
        con.execute(f"CREATE TEMP TABLE kept0 AS SELECT * FROM documents WHERE {quality}")
        con.execute(f"CREATE TEMP TABLE ex AS {exact}")
        con.execute(
            "CREATE TEMP TABLE kept1 AS SELECT k.*, ex.copies AS exact_copies "
            "FROM kept0 k JOIN ex ON k.doc_id = ex.keeper"
        )
        edges = con.execute(f"SELECT a_id, b_id FROM ({pairs}) p").fetchall()
        verts = [r[0] for r in con.execute("SELECT doc_id FROM kept1").fetchall()]
        labels = union_find_labels(edges, verts)
        assert_invariants(labels, edges, verts)
        con.execute("CREATE TEMP TABLE cc (doc_id BIGINT, cluster_id BIGINT)")
        con.executemany("INSERT INTO cc VALUES (?, ?)", list(labels.items()))
        split = split_label_sql("k.doc_id", "duckdb", DEFAULT_BOUNDS)
        con.execute(
            f"""
CREATE TEMP TABLE curated AS
WITH sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY cluster_id)
SELECT k.doc_id, k.exact_copies, s.cluster_size, {split} AS split
FROM kept1 k
JOIN cc ON k.doc_id = cc.doc_id AND cc.doc_id = cc.cluster_id
JOIN sizes s ON cc.cluster_id = s.cluster_id
"""
        )
        t_duck = time.time() - t0

        if "corpus_curation" in only:
            want = con.execute("SELECT * FROM curated").fetchall()
            got, t_spark = run_spark("corpus_curation")
            ok &= compare("corpus_curation", got, want, t_spark, t_duck)
        if "corpus_curation_report" in only:
            want = con.execute(
                """
SELECT d.source, c.split, count(*) AS n_docs,
       CAST(sum(d.n_chars) AS BIGINT) AS n_chars,
       CAST(sum(c.exact_copies) AS BIGINT) AS n_absorbed,
       CAST(sum(c.cluster_size) AS BIGINT) AS n_clustered
FROM documents d JOIN curated c ON d.doc_id = c.doc_id
GROUP BY ROLLUP (d.source, c.split)
"""
            ).fetchall()
            got, t_spark = run_spark("corpus_curation_report")
            ok &= compare("corpus_curation_report", got, want, t_spark, t_duck)

    spark.stop()
    print("== clusters-at-scale:", "ALL PASS" if ok else "FAILURES", "==")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
