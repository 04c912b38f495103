"""Unit tests for the north-star operator modules (dedup, similarity, text,
temporal) on small hand-built frames — behavior specs independent of the
driver's oracle harness."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from map_spark_sql_spark.operators import dedup as DD
from map_spark_sql_spark.operators import similarity as SIM
from map_spark_sql_spark.operators import temporal as TP
from map_spark_sql_spark.operators import text as TX


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox leaps over the lazy dog"),  # near dup of 1
        (4, "dog lazy the over jumps fox brown quick the"),  # permutation of 1
        (5, "completely different content about spark engines"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestDedup:
    def test_exact_dedup_groups_identical(self, docs):
        out = {r["keeper"]: r["copies"] for r in DD.exact_dedup(docs).collect()}
        assert out[1] == 2  # docs 1 and 2 collapse
        assert sum(out.values()) == 5

    def test_incremental_dedup_anti_joins_known_and_batch(self, spark):
        new = spark.createDataFrame(
            [
                (10, "already known content"),
                (11, "genuinely new content"),
                (12, "repeated inside the batch"),
                (13, "repeated inside the batch"),
            ],
            "doc_id long, text string",
        )
        known = DD.exact_dedup(
            spark.createDataFrame([(1, "already known content")], "doc_id long, text string")
        ).select("content_md5")
        got = {r.doc_id for r in DD.incremental_dedup(new, known).collect()}
        assert got == {11, 12}  # 10 known, 13 loses the in-batch tie

    def test_minhash_identical_docs_estimate_1(self, docs):
        pairs = {
            (r["a_id"], r["b_id"]): r["est_jaccard"]
            for r in DD.minhash_pairs(docs, threshold=0.0, shingle=2).collect()
        }
        assert pairs[(1, 2)] == 1.0
        # near-dup scores below the exact dup but is found
        assert (1, 3) in pairs and pairs[(1, 3)] < 1.0

    def test_ngram_jaccard_exact_values(self, docs):
        # unigram shingles: doc1 tokens {the,quick,brown,fox,jumps,over,lazy,dog} (8 distinct)
        # doc3 swaps jumps->leaps: |A∩B|=7, |A∪B|=9 -> 7/9
        pairs = {
            (r["a_id"], r["b_id"]): r["jaccard"]
            for r in DD.ngram_jaccard_pairs(docs, shingle=1, threshold=0.0).collect()
        }
        assert pairs[(1, 2)] == 1.0
        assert pairs[(1, 4)] == 1.0  # permutation: same token SET
        assert pairs[(1, 3)] == round(7 / 9, 4)
        assert (1, 5) not in pairs  # disjoint vocab

    def test_containment_catches_quote_inclusion(self, spark):
        # short doc fully quoted inside a long one: J small, C = 1.0
        short = "alpha beta gamma delta"
        long = short + " " + " ".join(f"filler{i}" for i in range(30))
        docs = spark.createDataFrame(
            [(1, short), (2, long), (3, "nothing in common here at all")],
            "doc_id long, text string",
        )
        cont = {
            (r.a_id, r.b_id): r.containment
            for r in DD.ngram_containment_pairs(docs, shingle=2, threshold=0.9).collect()
        }
        assert cont == {(1, 2): 1.0}
        jac = {
            (r.a_id, r.b_id): r.jaccard
            for r in DD.ngram_jaccard_pairs(docs, shingle=2, threshold=0.0).collect()
        }
        assert jac[(1, 2)] < 0.15  # jaccard structurally misses the pair

    def test_simhash_pairs_find_identical(self, docs):
        ids = {(r["a_id"], r["b_id"]) for r in DD.simhash_pairs(docs).collect()}
        assert (1, 2) in ids

    def test_simhash_pairs_max_bucket_guard(self, spark):
        """The degenerate-bucket guard drops oversized signature buckets
        (the 100x NULL-text bucket of 5 000 docs would fan 12.5M structs out
        of one array row) and the companion diagnostic reports exactly what
        was skipped — caps are observable, never silent."""
        rows = [(i, "identical degenerate text") for i in range(1, 6)]
        rows += [(10, "another shared doc"), (11, "another shared doc")]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        uncapped = DD.simhash_pairs(docs)
        assert uncapped.count() == 10 + 1  # C(5,2) + the pair
        capped = DD.simhash_pairs(docs, max_bucket=4)
        assert {(r.a_id, r.b_id) for r in capped.collect()} == {(10, 11)}
        stats = {r.n_docs: r for r in DD.simhash_bucket_stats(docs, max_bucket=4).collect()}
        assert stats[5].dropped and stats[5].pairs_skipped == 10
        assert not stats[2].dropped and stats[2].pairs_skipped == 0

    def test_incremental_near_dedup(self, spark):
        """Batch near-dups against the standing signature table: a batch doc
        whose signature collides with a standing doc (re-posted boilerplate
        — identical text, the guaranteed-collision case; word-level edits
        collide probabilistically by LSH design) is flagged with the
        standing id; a novel doc passes."""
        standing = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog at dawn"),
             (2, "completely unrelated standing content about spark plans")],
            "doc_id long, text string",
        )
        batch = spark.createDataFrame(
            [(100, "the quick brown fox jumps over the lazy dog at dawn"),
             (101, "entirely novel text with no standing counterpart words")],
            "doc_id long, text string",
        )
        sig = DD.minhash_signatures(standing)
        out = {r.doc_id: r for r in DD.incremental_near_dedup(batch, sig).collect()}
        assert out[100].is_near_dup and out[100].near_dup_of == 1
        assert not out[101].is_near_dup and out[101].near_dup_of is None

    def test_repeated_spans(self, spark):
        """A 12-token span shared verbatim by two docs is reported with
        n_docs=2 and the min doc id as anchor; unique text yields nothing."""
        shared = " ".join(f"w{i}" for i in range(12))
        docs = spark.createDataFrame(
            [(1, shared + " tail one here"), (2, "lead in text " + shared),
             (3, " ".join(f"u{i}" for i in range(20)))],
            "doc_id long, text string",
        )
        out = DD.repeated_spans(docs, window=12).collect()
        assert len(out) == 1
        r = out[0]
        assert r.n_docs == 2 and r.n_occurrences == 2 and r.example_doc == 1

    def test_rrf_fuse(self, spark):
        """RRF: an item ranked in both lists outranks single-list items even
        when it tops neither; missing-list contribution is 0."""
        from map_spark_sql_spark.operators.similarity import rrf_fuse

        lex = spark.createDataFrame(
            [(1, 1), (3, 2), (5, 3)], "doc_id long, rank int"
        )
        dense = spark.createDataFrame(
            [(2, 1), (3, 2), (7, 3)], "vec_id long, rank int"
        )
        out = rrf_fuse(lex, dense, k=5, c=60)
        rows = out.collect()
        assert rows[0].item_id == 3 and rows[0].rank == 1  # in both lists
        assert abs(rows[0].rrf_score - 2 / 62) < 1e-12
        by_id = {r.item_id: r for r in rows}
        assert by_id[1].dense_rank is None and abs(by_id[1].rrf_score - 1 / 61) < 1e-12

    def test_ngram_prune_stats(self, spark):
        """Per-doc df-pruning coverage: a shingle shared by > max_df docs is
        pruned; docs whose EVERY shingle is pruned are flagged fully_pruned
        (invisible to the inverted index)."""
        boiler = "the quick brown fox"       # 2 distinct 3-gram shingles
        rows = [(i, boiler) for i in range(1, 5)]      # df=4 > max_df=3
        rows.append((10, "a completely different sentence here"))
        rows.append((11, None))                        # no shingles at all
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r for r in DD.ngram_prune_stats(docs, max_df=3).collect()}
        assert out[1].n_shingles == 2 and out[1].n_pruned == 2 and out[1].fully_pruned
        assert out[10].n_pruned == 0 and not out[10].fully_pruned
        assert out[11].n_shingles == 0 and not out[11].fully_pruned

    def test_simhash_banded_complete_vs_bruteforce(self, spark):
        """Pigeonhole banding must find EVERY pair within the hamming budget
        (it is a complete candidate generator, not probabilistic) and report
        exact bit_count distances."""
        from map_spark_sql_spark.sources.readers import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(120)
        k = 3
        got = {
            (r["a_id"], r["b_id"]): r["hamming"]
            for r in DD.simhash_banded_pairs(docs, max_hamming=k).collect()
        }
        sigs = {r["doc_id"]: r["simhash"] for r in DD.simhash(docs).collect()}
        ids = sorted(sigs)
        expected = {
            (a, b): (sigs[a] ^ sigs[b]).bit_count()
            for i, a in enumerate(ids)
            for b in ids[i + 1 :]
            if (sigs[a] ^ sigs[b]).bit_count() <= k
        }
        assert got == expected
        assert all(h <= k for h in got.values())

    def test_simhash_banded_k0_matches_exact_pairs(self, docs):
        banded = {
            (r["a_id"], r["b_id"]) for r in DD.simhash_banded_pairs(docs, max_hamming=0).collect()
        }
        exact = {(r["a_id"], r["b_id"]) for r in DD.simhash_pairs(docs).collect()}
        assert banded == exact

    def test_dedup_embedding_cosine_semantic_pairs(self, spark):
        # Semantic dedup: LSH buckets candidate pairs, exact cosine re-rank.
        # Vectors 10/11 are near-parallel (cos ~0.995); 12 is orthogonal.
        vecs = spark.createDataFrame(
            [(10, [1.0, 0.0]), (11, [1.0, 0.1]), (12, [0.0, 1.0])],
            "vec_id long, embedding array<double>",
        )
        pairs = {
            (r["a_id"], r["b_id"]): r["sim"]
            for r in SIM.cosine_pairs_lsh(vecs, dim=2, bits=2, threshold=0.9).collect()
        }
        assert (10, 11) in pairs and pairs[(10, 11)] > 0.99
        assert all(12 not in p for p in pairs)


class TestPlanHygiene:
    def test_no_hof_in_scan_filters_and_no_python_udf(self, docs):
        """Regression guard for the InferFiltersFromGenerate pushdown
        pathology (SCALE.md pitfalls): no scan DataFilter may contain a
        higher-order function, and dedup plans stay JVM-only."""
        import re

        for build in (
            lambda: DD.minhash_pairs(docs),
            lambda: DD.ngram_jaccard_pairs(docs),
            lambda: DD.simhash_pairs(docs),
        ):
            plan = build()._jdf.queryExecution().executedPlan().toString()
            assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
            for flt in re.findall(r"DataFilters: \[([^\]]*)\]", plan):
                assert "transform(" not in flt and "aggregate(" not in flt, flt


class TestText:
    def test_rolling_fingerprint_order_sensitive(self, docs):
        fp = {r["doc_id"]: r["roll_fp"] for r in TX.rolling_fingerprint(docs).collect()}
        assert fp[1] == fp[2]  # identical text
        assert fp[1] != fp[4]  # permutation differs (unlike the set fingerprint)

    def test_token_set_fingerprint_permutation_invariant(self, docs):
        fp = {r["doc_id"]: r["fingerprint"] for r in TX.token_fingerprint(docs).collect()}
        assert fp[1] == fp[4]

    def test_tfidf_top_terms_values(self, spark):
        import math

        df = spark.createDataFrame(
            [(1, "apple banana apple"), (2, "banana cherry"), (3, "cherry cherry date")],
            "doc_id long, text string",
        )
        rows = {(r["doc_id"], r["term"]): r for r in TX.tfidf_top_terms(df, k=2).collect()}
        # 'apple' appears in 1 doc, tf=2 in doc 1 -> 2 * ln(4/2)
        r = rows[(1, "apple")]
        assert r["tf"] == 2 and r["df"] == 1
        assert r["tfidf"] == round(2 * math.log(4 / 2), 6)
        assert r["rnk"] == 1
        # 'banana' is in 2 docs -> ln(4/3), ranked below apple in doc 1
        assert rows[(1, "banana")]["rnk"] == 2
        assert all(r["rnk"] <= 2 for r in rows.values())

    def test_bm25_quoted_term_is_data(self, spark, docs):
        """A query term is a literal, not SQL text: a term holding a quote
        neither breaks the plan nor moves the other terms' ranking, and
        the DuckDB twin escapes it to the same ranking."""
        import duckdb
        import pandas as pd

        terms = ["fox", "dog", "spark"]

        def ranked(df, ts):
            return [
                (r["doc_id"], r["score"], r["rank"])
                for r in TX.bm25_topk(df, ts, k=10).collect()
            ]

        assert ranked(docs, terms + ["o'brien"]) == ranked(docs, terms)

        rows = [
            (1, "o'brien saw the fox"),
            (2, "the lazy dog slept"),
            (3, "o'brien and o'brien again"),
            (4, "nothing to see here"),
        ]
        got = ranked(spark.createDataFrame(rows, "doc_id long, text string"),
                     terms + ["o'brien"])
        con = duckdb.connect()
        con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
        want = con.execute(TX.bm25_topk_oracle(terms + ["o'brien"], k=10)).fetchall()
        con.close()
        assert [(d, k) for d, _, k in got] == [(d, k) for d, _, k in want]
        assert [s for _, s, _ in got] == pytest.approx([s for _, s, _ in want])
        assert 3 in [d for d, _, _ in got]  # its only query term is o'brien

    def test_hash_split_deterministic_and_row_local(self, spark):
        from map_spark_sql_spark.operators import sampling as SP

        df = spark.createDataFrame([(i,) for i in range(200)], "doc_id long")
        a = {r["doc_id"]: (r["bucket"], r["split"]) for r in SP.hash_split(df).collect()}
        # stable across runs and partitioning
        b = {
            r["doc_id"]: (r["bucket"], r["split"])
            for r in SP.hash_split(df.repartition(7)).collect()
        }
        assert a == b
        assert all(0 <= v[0] < 100 for v in a.values())
        assert {v[1] for v in a.values()} == {"train", "val", "test"}
        n_train = sum(1 for v in a.values() if v[1] == "train")
        assert 120 < n_train < 200  # ~80% of 200, loose bound

    def test_token_counts(self, spark):
        df = spark.createDataFrame([(1, "Hello, world 42!")], "doc_id long, text string")
        row = TX.token_counts(df).first()
        # ws tokens: [hello,, world, 42!] = 3; bpe: hello , world 42 ! = 5
        assert row["n_ws_tokens"] == 3
        assert row["n_bpe_tokens"] == 5
        assert row["n_uniq_bpe"] == 5


class TestSimilarity:
    @pytest.fixture(scope="class")
    def vecs(self, spark):
        rows = [
            (0, [1.0, 0.0]),
            (1, [1.0, 0.1]),   # close to query
            (2, [0.0, 1.0]),   # orthogonal
            (3, [-1.0, 0.0]),  # opposite
            (4, [2.0, 0.0]),   # same direction as query (cos=1)
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_bruteforce_ranking(self, vecs):
        got = [r["vec_id"] for r in SIM.cosine_topk(vecs, [1.0, 0.0], k=3).collect()]
        assert got == [0, 4, 1]

    def test_ivf_probes_prune_but_find_near(self, vecs):
        # centroids = ids < 2; query = id 0; near vector 4 assigns to centroid 0
        got = SIM.cosine_topk_ivf(vecs, k=2, n_centroids=2, nprobe=1, query_id=0).collect()
        assert got[0]["vec_id"] == 4 and got[0]["sim"] == 1.0

    def test_centroid_confusion_separates_clean_labels(self, spark):
        # two tight direction-classes -> perfect diagonal
        rows = [(i, [1.0, 0.001 * i], "x") for i in range(4)] + [
            (i, [0.001 * i, 1.0], "y") for i in range(4, 8)
        ]
        vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
        got = {
            (r.true_label, r.assigned): r.n
            for r in SIM.nearest_centroid_confusion(vecs, dim=2).collect()
        }
        assert got == {("x", "x"): 4, ("y", "y"): 4}

    def test_knn_graph_degree_and_symmetric_candidates(self, spark):
        from map_spark_sql_spark.sources.readers import load_table

        vecs = load_table(spark, "/root/testdata/sf0.001", "embeddings").limit(60)
        out = SIM.knn_graph(vecs, k=3).collect()
        assert out
        by_src = {}
        for r in out:
            by_src.setdefault(r.src, []).append(r)
            assert r.src != r.dst
        for src, rows in by_src.items():
            assert len(rows) <= 3
            ranks = sorted(r.rank for r in rows)
            assert ranks == list(range(1, len(rows) + 1))
            sims = [r.sim for r in sorted(rows, key=lambda x: x.rank)]
            assert sims == sorted(sims, reverse=True)

    def test_lsh_knn_edges_match_exact_on_clustered_corpus(self, spark):
        """The LSH edge path must recover (nearly) the exact kNN edges on
        the driver embeddings: the exact builder is the ground truth, and
        with generous tables/bits the bucketed path should find almost all
        of it. Determinism of the hash gate is pinned separately
        (similarity_knn_edges_lsh's DuckDB twin); this pins QUALITY."""
        from map_spark_sql_spark.sources.readers import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        row = SIM.knn_edges_lsh_recall(
            emb, k=3, bits=4, n_tables=8, max_bucket=1000
        ).collect()[0]
        assert row.n_exact == emb.count() * 3
        assert row.recall_ppm >= 600000, row.asDict()

    def test_lsh_knn_edges_salt_split_keeps_tight_clusters(self, spark):
        """A tight cluster larger than max_bucket must be salt-SPLIT, not
        dropped: every member still gets k in-cluster edges (a dropped
        bucket would emit nothing for the densest neighborhood)."""
        rows = [(i, [1.0, 0.001 * (i % 7)]) for i in range(30)] + [
            (100 + i, [0.001 * (i % 5), 1.0]) for i in range(30)
        ]
        vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = SIM.quantized_knn_edges_lsh(
            vecs, k=2, dim=2, bits=2, n_tables=2, max_bucket=10
        ).collect()
        by_src = {}
        for r in out:
            assert r.src != r.dst
            by_src.setdefault(r.src, set()).add(r.dst)
        # every vector found neighbors despite its bucket exceeding max_bucket
        assert len(by_src) == 60
        # and neighbors stay within the direction-cluster (orthogonal
        # cluster would need dot ~0 vs in-cluster ~127^2*2)
        for src, dsts in by_src.items():
            same = all((d < 100) == (src < 100) for d in dsts)
            assert same, (src, dsts)

    def test_kmeans_converges_on_separated_clusters(self, spark):
        # two tight direction-clusters; after 2 rounds each centroid must
        # point into its own cluster (cosine >= 0.99 to every member)
        rows = [(i, [1.0, 0.01 * i]) for i in range(3)] + [
            (i, [0.01 * (i - 3), 1.0]) for i in range(3, 6)
        ]
        vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cent = {r["cid"]: r["cvec"] for r in SIM.kmeans_fit(vecs, k=2, n_iter=2, dim=2).collect()}
        assert set(cent) == {0, 1}

        def cos(a, b):
            dot = sum(x * y for x, y in zip(a, b))
            na = sum(x * x for x in a) ** 0.5
            nb = sum(x * x for x in b) ** 0.5
            return dot / (na * nb)

        # centroid 0 ~ x-direction cluster, centroid 1 ~ y-direction cluster
        assert cos(cent[0], [1.0, 0.0]) > 0.99
        assert cos(cent[1], [0.0, 1.0]) > 0.99

    def test_kmeans_empty_cluster_keeps_previous_centroid(self, spark):
        # seeds 0 and 1 are identical directions -> every vector prefers the
        # lower cid on ties, so centroid 1 loses all members and must keep
        # its seed position instead of vanishing or going NULL
        rows = [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [2.0, 0.0]), (3, [3.0, 0.0])]
        vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        cent = {r["cid"]: r["cvec"] for r in SIM.kmeans_fit(vecs, k=2, n_iter=2, dim=2).collect()}
        assert set(cent) == {0, 1}
        assert cent[1] == [1.0, 0.0]  # untouched seed
        assert all(v is not None for v in cent[0])


class TestMultimodal:
    @pytest.fixture(scope="class")
    def media(self, spark):
        from map_spark_sql_spark.operators.multimodal import media_from_documents
        from map_spark_sql_spark.sources.readers import load_table

        return media_from_documents(load_table(spark, "/root/testdata/sf0.001", "documents"))

    def test_payload_roundtrip_decodes(self, media):
        """SPM1 containers built with native Spark expressions decode (and
        CRC-validate) in Python, and the decoded header matches the metadata
        columns; the body is exactly the source utf-8 text."""
        from map_spark_sql_spark.operators.multimodal import HEADER_LEN, decode_media

        rows = media.limit(100).collect()
        assert rows
        for r in rows:
            m = decode_media(r.payload)
            assert m["kind"] == r.kind
            assert m["width"] == r.width and m["height"] == r.height
            assert len(m["body"]) == r.n_bytes == len(r.payload) - HEADER_LEN

    def test_decode_rejects_corruption(self, media):
        import pytest as _pytest

        from map_spark_sql_spark.operators.multimodal import decode_media

        payload = bytes(media.limit(1).collect()[0].payload)
        with _pytest.raises(ValueError):
            decode_media(b"XXXX" + payload[4:])  # bad magic
        with _pytest.raises(ValueError):
            decode_media(payload[:-1])  # truncated body -> length mismatch
        corrupt = payload[:-1] + bytes([payload[-1] ^ 0xFF])
        with _pytest.raises(ValueError):
            decode_media(corrupt)  # flipped byte -> CRC mismatch

    def test_featurize_decodes_all(self, media):
        from map_spark_sql_spark.operators.multimodal import featurize_media

        out = featurize_media(media)
        rows = out.collect()
        assert len(rows) == media.count()
        by_id = {r.media_id: r for r in media.collect()}
        for r in rows[:100]:
            src = by_id[r.media_id]
            assert (r.kind, r.width, r.height, r.n_bytes) == (
                src.kind,
                src.width,
                src.height,
                src.n_bytes,
            )

    def test_resize_fits_and_scales(self, media):
        from map_spark_sql_spark.operators.multimodal import (
            HEADER_LEN,
            decode_media,
            resize_media,
        )

        out = resize_media(media, max_dim=64)
        rows = out.collect()
        assert len(rows) == media.count()
        for r in rows[:50]:
            assert 1 <= r.width <= 64 and 1 <= r.height <= 64
            assert r.n_bytes == len(r.payload) - HEADER_LEN
            # resized payloads are themselves valid SPM1 containers
            m = decode_media(r.payload)
            assert (m["width"], m["height"]) == (r.width, r.height)

    def test_sample_frames_fanout_and_determinism(self, media):
        from map_spark_sql_spark.operators.multimodal import sample_frames

        out = sample_frames(media, frame_size=64, every_nth=2)
        rows = out.limit(500).collect()
        assert rows, "frame fan-out produced no rows"
        for r in rows:
            assert r.frame_idx % 2 == 0
            assert r.frame_bytes == len(r.frame) and r.frame_bytes <= 64
        # deterministic: same plan, same output
        a = sorted((r.media_id, r.frame_idx, bytes(r.frame)) for r in out.collect())
        b = sorted((r.media_id, r.frame_idx, bytes(r.frame)) for r in out.collect())
        assert a == b


class TestSketches:
    def test_count_min_never_undercounts(self, spark):
        """CM property: est >= exact for every key; the whale key ranks
        first; a deliberately tiny width forces visible collisions while
        the estimate stays an upper bound."""
        from map_spark_sql_spark.operators import sketches as SK

        rows = [(i % 7,) for i in range(400)] + [(999,)] * 300  # whale key
        df = spark.createDataFrame(rows, "user_id long")
        out = SK.count_min_heavy_hitters(df, depth=4, width=8, k=10).collect()
        assert out[0].user_id == 999 and out[0].exact_n == 300
        assert all(r.overcount >= 0 for r in out)
        counters = SK.count_min_counters(df, depth=4, width=8)
        assert counters.count() <= 4 * 8  # fixed-size state
        # each row of the sketch holds ALL n events
        sums = {r.j: r.s for r in counters.groupBy("j").agg(
            F.sum("cnt").alias("s")).collect()}
        assert set(sums.values()) == {700}

    def test_sketch_error_bounds(self, spark):
        from map_spark_sql_spark.operators import sketches as SK
        from map_spark_sql_spark.sources.readers import load_table

        ev = load_table(spark, "/root/testdata/sf0.001", "events")
        rows = SK.sketch_stats(ev, rsd=0.05).collect()
        assert len(rows) > 0
        for r in rows:
            exact = r["n_distinct_exact"]
            # HLL++ rsd=0.05 -> 3-sigma bound
            assert abs(r["n_distinct_approx"] - exact) <= max(3, 0.15 * exact)
            q50, q90, q99 = r["value_quantiles"]
            assert q50 <= q90 <= q99

    def test_quantile_sketch_near_exact(self, spark):
        df = spark.range(10_001).select((F.col("id") / 1.0).alias("v"), F.lit("g").alias("g"))
        row = df.groupBy("g").agg(
            F.percentile_approx("v", [0.5], 10_000).alias("q"),
            F.percentile("v", [0.5]).alias("q_exact"),
        ).first()
        assert abs(row["q"][0] - row["q_exact"][0]) <= 2.0  # accuracy=10k on 10k rows


class TestTemporal:
    def test_asof_join_semantics(self, spark):
        trades = spark.createDataFrame(
            [("A", 10, 1), ("A", 25, 2), ("B", 5, 3)], "sym string, ts long, tid long"
        )
        quotes = spark.createDataFrame(
            [("A", 5, 100.0), ("A", 10, 101.0), ("A", 20, 102.0), ("B", 9, 50.0)],
            "sym string, ts long, px double",
        )
        out = {
            r["tid"]: (r["q_ts"], r["q_px"])
            for r in TP.asof_join(
                trades, quotes, on="sym", right_payload=("px",), prefix="q_"
            ).collect()
        }
        assert out[1] == (10, 101.0)  # equal ts is inclusive
        assert out[2] == (20, 102.0)  # latest at-or-before
        assert out[3] == (None, None)  # no quote at-or-before ts=5

    def test_interval_band_join(self, spark):
        df = spark.createDataFrame([(1, 5.0), (2, 15.0), (3, 150.0)], "id long, v double")
        out = TP.interval_band_join(
            df, [("lo", 0, 10), ("hi", 10, 100)], value_col="v"
        )
        got = {r["id"]: r["band"] for r in out.collect()}
        assert got == {1: "lo", 2: "hi"}  # 150 falls outside every band


class TestMerge:
    """Clause semantics of the MERGE INTO emulation (operators/merge.py)."""

    @pytest.fixture(scope="class")
    def tgt(self, spark):
        return spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "k long, name string, bal double",
        )

    @pytest.fixture(scope="class")
    def src(self, spark):
        # k=1 matched (update), k=3 matched (delete via flag), k=9 unmatched
        return spark.createDataFrame(
            [(1, 5.0, False), (3, 0.0, True), (9, 7.0, False)],
            "k long, delta double, purge boolean",
        )

    def test_full_upsert(self, spark, tgt, src):
        from map_spark_sql_spark.operators.merge import merge_into

        out = merge_into(
            tgt,
            src,
            on=["k"],
            update_set={"bal": F.col("t.bal") + F.col("s.delta")},
            delete_condition=F.col("s.purge"),
            insert_values={
                "k": F.col("s.k"),
                "name": F.lit("new"),
                "bal": F.col("s.delta"),
            },
        )
        got = {r["k"]: (r["name"], r["bal"]) for r in out.collect()}
        assert got == {
            1: ("a", 15.0),  # matched -> updated
            2: ("b", 20.0),  # target-only -> untouched
            9: ("new", 7.0),  # source-only -> inserted
        }  # 3 deleted

    def test_no_insert_clause_drops_source_only(self, spark, tgt, src):
        from map_spark_sql_spark.operators.merge import merge_into

        out = merge_into(
            tgt, src, on=["k"], update_set={"bal": F.col("s.delta")}
        )
        assert sorted(r["k"] for r in out.collect()) == [1, 2, 3]

    def test_update_condition_gates_update(self, spark, tgt, src):
        from map_spark_sql_spark.operators.merge import merge_into

        out = merge_into(
            tgt,
            src,
            on=["k"],
            update_set={"bal": F.lit(0.0)},
            update_condition=F.col("s.delta") > 6.0,  # no matched row passes
        )
        got = {r["k"]: r["bal"] for r in out.collect()}
        assert got == {1: 10.0, 2: 20.0, 3: 30.0}

    def test_prune_to_touched_partition_equivalence(self, spark):
        from map_spark_sql_spark.operators.merge import merge_into, prune_to_touched

        tgt = spark.createDataFrame(
            [(i, ["en", "de", "fr", "ja"][i % 4], float(i)) for i in range(20)],
            "k long, lang string, v double",
        )
        src = spark.createDataFrame(
            [(0, "en", 100.0), (1, "de", 200.0)], "k long, lang string, nv double"
        )
        touched, untouched = prune_to_touched(tgt, src, ["lang"])
        assert touched.count() + untouched.count() == 20
        assert set(r["lang"] for r in untouched.select("lang").distinct().collect()) == {
            "fr", "ja"
        }
        pruned = merge_into(
            touched, src, on=["k", "lang"], update_set={"v": F.col("s.nv")}
        ).unionByName(untouched)
        full = merge_into(
            tgt, src, on=["k", "lang"], update_set={"v": F.col("s.nv")}
        )
        assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, full.collect()))


class TestConnectedComponents:
    def test_chain_and_triangle(self, spark):
        from map_spark_sql_spark.operators.graph import connected_components

        # chain 1-2-3-4 (diameter 3) + triangle 10-11-12 + singleton 99
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)],
            "a_id long, b_id long",
        )
        verts = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 12, 99]], "id long")
        got = {
            r["id"]: r["cluster_id"]
            for r in connected_components(edges, vertices=verts).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 99: 99}

    def test_edge_orientation_irrelevant(self, spark):
        from map_spark_sql_spark.operators.graph import connected_components

        edges = spark.createDataFrame([(5, 2), (2, 9)], "a_id long, b_id long")
        got = {
            r["id"]: r["cluster_id"] for r in connected_components(edges).collect()
        }
        assert got == {2: 2, 5: 2, 9: 2}

    def test_star_matches_label_on_mixed_graph(self, spark):
        """A chain, a triangle, the path 7-20-5 and an isolated vertex:
        every label is pinned to its component's min id."""
        from map_spark_sql_spark.operators.graph import connected_components

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (7, 20), (20, 5)],
            "a_id long, b_id long",
        )
        verts = spark.createDataFrame(
            [(i,) for i in [1, 2, 3, 4, 5, 7, 10, 11, 12, 20, 99]], "id long"
        )
        got = {
            r["id"]: r["cluster_id"]
            for r in connected_components(edges, vertices=verts).collect()
        }
        assert got == {
            1: 1, 2: 1, 3: 1, 4: 1,
            5: 5, 7: 5, 20: 5,
            10: 10, 11: 10, 12: 10,
            99: 99,
        }

    def test_star_converges_log_rounds_on_chain(self, spark):
        """The adversarial case for min-label propagation: a path graph of
        n vertices has diameter n-1, so the min label moves one hop per
        round and needs n-1 rounds plus a confirming probe. A chain longer
        than ``max_iter`` allows must raise rather than return partial
        labels; a chain that fits the default bound collapses to its min."""
        from map_spark_sql_spark.operators.graph import connected_components

        def path(n):
            return spark.createDataFrame(
                [(i, i + 1) for i in range(n - 1)], "a_id long, b_id long"
            )

        with pytest.raises(RuntimeError, match="max_iter=4"):
            connected_components(path(256), max_iter=4).collect()

        got = connected_components(path(12)).collect()
        assert {r["cluster_id"] for r in got} == {0}
        assert len(got) == 12


class TestCuration:
    def test_funnel_semantics(self, spark):
        """Micro-corpus with one of each funnel case: quality-dropped rows
        (too short / no resolvable language), an exact-dup pair, a near-dup
        pair, and an independent survivor."""
        from map_spark_sql_spark.plans.curation import curate_corpus

        rows = [
            (1, "the quick brown fox jumps over the lazy dog and it was very good"),
            (2, "the quick brown fox jumps over the lazy dog and it was very good"),  # exact dup
            (3, "the quick brown fox leaps over the lazy dog and it was very good"),  # near dup
            (4, "short"),  # dropped: under token floor
            (5, "zzz qqq xxx vvv kkk mmm ppp rrr ttt www"),  # dropped: lang 'und'
            (6, "it is a completely different document and the content is about engines"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in curate_corpus(docs, jaccard_threshold=0.3).collect()}

        # keepers: 1 (absorbing 2 exactly and 3 as near-dup) and 6
        assert set(out) == {1, 6}
        assert out[1]["exact_copies"] == 2
        assert out[1]["cluster_size"] == 2  # {1, 3} post-exact-dedup
        assert out[6]["exact_copies"] == 1 and out[6]["cluster_size"] == 1
        assert all(r["split"] in ("train", "val", "test") for r in out.values())

    def test_export_partitioned_by_split(self, spark, tmp_path):
        """Exported corpus is parquet partitioned by split; a split=train
        read is partition-pruned and returns exactly the train keepers."""
        from map_spark_sql_spark.plans.curation import curate_corpus, export_curated
        from map_spark_sql_spark.sources.readers import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        curated = curate_corpus(docs)
        out = str(tmp_path / "corpus")
        export_curated(docs, curated, out)

        back = spark.read.parquet(out)
        expected = {(r.doc_id, r.split) for r in curated.collect()}
        assert {(r.doc_id, r.split) for r in back.collect()} == expected
        train = spark.read.parquet(out).filter("split = 'train'")
        assert train.count() == len([1 for _, s in expected if s == "train"])
        plan = train._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [isnotnull(split" in plan  # pruned, not scanned

    def test_split_deterministic_and_stable_under_growth(self, spark):
        """md5-bucket split: same doc -> same label regardless of corpus."""
        from map_spark_sql_spark.plans.curation import curate_corpus
        from map_spark_sql_spark.sources.readers import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        full = {r["doc_id"]: r["split"] for r in curate_corpus(docs).collect()}
        half = {
            r["doc_id"]: r["split"]
            for r in curate_corpus(docs.filter("doc_id % 2 = 0")).collect()
        }
        assert half  # the subset keeps someone
        for doc_id, split in half.items():
            if doc_id in full:
                assert split == full[doc_id]

    def test_leaves_the_session_cache_empty(self, spark):
        """The funnel caches nothing session-wide: a cached stage would be
        reused by the next build of the same plan, so its job count would
        depend on what ran before it in the session."""
        from conftest import SF_DIR

        from map_spark_sql_spark.queries import QUERIES

        spark.catalog.clearCache()
        QUERIES["corpus_curation"](spark, SF_DIR).collect()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


class TestDecontamination:
    def test_flags_exact_ngram_overlap_only(self, spark):
        from map_spark_sql_spark.operators.dedup import contamination

        train = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon zeta"),  # contains eval 5-gram
                (2, "alpha beta gamma one two three"),  # only a 3-gram overlap
                (3, "totally unrelated words in this document"),
            ],
            "doc_id long, text string",
        )
        eval_docs = spark.createDataFrame(
            [(100, "alpha beta gamma delta epsilon")], "doc_id long, text string"
        )
        got = {r.doc_id: r for r in contamination(train, eval_docs, shingle=5).collect()}
        assert set(got) == {1}
        assert got[1].n_shared_shingles == 1 and got[1].n_eval_docs == 1

    def test_repetition_scores_boilerplate(self, spark):
        from map_spark_sql_spark.operators.text import repetition_stats

        docs = spark.createDataFrame(
            [
                (1, "spam spam spam spam spam spam"),  # all shingles identical
                (2, "one two three four five six"),  # all distinct
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in repetition_stats(docs, n=3).collect()}
        assert out[1].n_shingles == 4 and out[1].n_distinct == 1
        assert out[1].rep_pm == 750  # 3 of 4 positions repeat
        assert out[2].rep_pm == 0


class TestMixture:
    def test_weights_scale_kept_tokens(self, spark):
        from map_spark_sql_spark.operators.mixture import mixture_sample

        rows = [(i, " ".join(["w"] * 20), f"src{i % 2}") for i in range(200)]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        # each source has 100 docs x 20 tokens = 2000; budget 1000 split 80/20
        out = mixture_sample(docs, {"src0": 0.8, "src1": 0.2}, 1000).collect()
        kept = {"src0": 0, "src1": 0}
        for r in out:
            kept[r.source] += r.n_tokens
        # expected ~800 vs ~200 (md5 buckets are uniform-ish; wide tolerance)
        assert 500 <= kept["src0"] <= 1100
        assert 50 <= kept["src1"] <= 450
        assert kept["src0"] > kept["src1"] * 2

    def test_unweighted_sources_drop(self, spark):
        from map_spark_sql_spark.operators.mixture import mixture_sample

        docs = spark.createDataFrame(
            [(1, "a b c", "keep"), (2, "d e f", "drop")],
            "doc_id long, text string, source string",
        )
        out = mixture_sample(docs, {"keep": 1.0}, 10_000).collect()
        assert {r.source for r in out} == {"keep"}

    def test_chunking_overlap_and_coverage(self, spark):
        from map_spark_sql_spark.operators.mixture import chunk_documents

        words = [f"w{i}" for i in range(10)]
        docs = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
        out = sorted(chunk_documents(docs, chunk_tokens=4, overlap=2).collect(),
                     key=lambda r: r.chunk_idx)
        # stride 2 over 10 words -> ceil((10-2)/2) = 4 chunks
        assert [r.chunk_text.split() for r in out] == [
            words[0:4], words[2:6], words[4:8], words[6:10],
        ]
        # consecutive chunks share exactly `overlap` words
        for a, b in zip(out, out[1:]):
            assert a.chunk_text.split()[-2:] == b.chunk_text.split()[:2]

    def test_chunking_short_doc_single_chunk(self, spark):
        from map_spark_sql_spark.operators.mixture import chunk_documents

        docs = spark.createDataFrame([(1, "just three words")], "doc_id long, text string")
        out = chunk_documents(docs, chunk_tokens=64, overlap=16).collect()
        assert len(out) == 1 and out[0].chunk_text == "just three words"


class TestVocabAndReport:
    def test_vocab_deterministic_ids_and_pruning(self, spark):
        from map_spark_sql_spark.operators.text import build_vocab

        docs = spark.createDataFrame(
            [(1, "b b b a a c z z"), (2, "a z")],
            "doc_id long, text string",
        )
        out = {r.term: (r.term_id, r.n) for r in build_vocab(docs, min_count=2).collect()}
        # c appears once -> pruned; ties (a, b, z all n=3) break alphabetically
        assert "c" not in out
        assert out == {"a": (0, 3), "b": (1, 3), "z": (2, 3)}

    def test_report_totals_match_funnel(self, spark):
        from map_spark_sql_spark.plans.curation import curate_corpus, curation_report
        from map_spark_sql_spark.sources.readers import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        curated = curate_corpus(docs)
        rows = curation_report(docs, curated).collect()
        grand = [r for r in rows if r.source is None and r.split is None]
        assert len(grand) == 1
        assert grand[0].n_docs == curated.count()
        per_source = sum(r.n_docs for r in rows if r.source is not None and r.split is None)
        assert per_source == grand[0].n_docs


class TestRedaction:
    def test_redacts_and_counts(self, spark):
        from map_spark_sql_spark.operators.text import redact_pii

        rows = [
            (1, "mail a.b-c+1@sub.example.org and x@y.io today"),
            (2, "server 10.0.0.1 talked to 192.168.1.255"),
            (3, "call +45 1234-5678 now"),
            (4, "no pii here, just 3.14 and v1.2.3.4.5 fragments"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r.doc_id: r for r in redact_pii(docs).collect()}
        assert (out[1].n_email, out[1].redacted) == (2, "mail <EMAIL> and <EMAIL> today")
        assert (out[2].n_ipv4, out[2].redacted) == (2, "server <IP> talked to <IP>")
        assert (out[3].n_phone, out[3].redacted) == (1, "call <PHONE> now")
        assert out[4].n_email == out[4].n_phone == 0
        assert "3.14" in out[4].redacted  # decimals survive


class TestPacking:
    def test_concat_and_chunk_invariants(self, spark):
        """Every chunk except the last is exactly full; per-doc takes sum to
        its token count; a doc longer than a chunk straddles (multi-row)."""
        from map_spark_sql_spark.operators.packing import pack_sequences

        rows = [(i, " ".join(["tok"] * n)) for i, n in [(1, 3), (2, 10), (3, 1), (4, 7), (5, 12)]]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        out = pack_sequences(docs, chunk_tokens=8).collect()

        by_doc, by_chunk = {}, {}
        for r in out:
            by_doc[r.doc_id] = by_doc.get(r.doc_id, 0) + r.take
            by_chunk[r.chunk_id] = by_chunk.get(r.chunk_id, 0) + r.take
            assert 0 <= r.tok_offset < 8 and 1 <= r.take <= 8
        assert by_doc == {1: 3, 2: 10, 3: 1, 4: 7, 5: 12}  # sum = 33 tokens
        last = max(by_chunk)
        assert all(v == 8 for c, v in by_chunk.items() if c != last)
        assert by_chunk[last] == 33 - 8 * last
        # doc 2 (10 tokens, starting at offset 3) straddles chunks 0 and 1
        assert len([r for r in out if r.doc_id == 2]) == 2

    def test_matches_python_mirror_on_random_corpus(self, spark):
        """Seeded random doc lengths: the distributed implementation must
        equal a sequential concat-and-chunk walk exactly."""
        import random

        from map_spark_sql_spark.operators.packing import pack_sequences

        rng = random.Random(42)
        lengths = [rng.randint(0, 25) for _ in range(80)]
        rows = [(i, " ".join(["t"] * n)) for i, n in enumerate(lengths)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted(
            (r.doc_id, r.chunk_id, r.tok_offset, r.take)
            for r in pack_sequences(docs, chunk_tokens=16).collect()
        )

        expected, start = [], 0
        for i, n in enumerate(lengths):
            # split(' ') on an empty string yields one empty token
            n = max(n, 1)
            for c in range(start // 16, (start + n - 1) // 16 + 1):
                lo, hi = c * 16, c * 16 + 16
                expected.append(
                    (i, c, max(start, lo) - lo, min(start + n, hi) - max(start, lo))
                )
            start += n
        assert got == sorted(expected)

    def test_partitioning_invariance(self, spark):
        """The two-phase distributed prefix sum must give the same packing
        regardless of input partitioning (the whole point of phase 2)."""
        from map_spark_sql_spark.operators.packing import pack_sequences
        from map_spark_sql_spark.sources.readers import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        key = lambda out: sorted(
            (r.doc_id, r.chunk_id, r.tok_offset, r.take) for r in out.collect()
        )
        base = key(pack_sequences(docs, chunk_tokens=128))
        assert base
        for n in (1, 7):
            assert key(pack_sequences(docs.repartition(n), chunk_tokens=128)) == base


class TestResampleLocf:
    def test_gap_fill_and_observed_flag(self, spark):
        from map_spark_sql_spark.operators.timeseries import resample_locf

        rows = [
            (1, "2024-01-01 10:00:00", 2.0),
            (1, "2024-01-01 11:00:00", 3.0),  # same bucket: sums to 5
            (1, "2024-01-04 09:00:00", 7.0),  # 2-day gap
            (2, "2024-01-02 00:00:00", 1.0),  # single-bucket key
        ]
        df = spark.createDataFrame(rows, "k long, ts_s string, v double").select(
            "k", F.col("ts_s").cast("timestamp").alias("ts"), "v"
        )
        out = {
            (r["k"], str(r["bucket"])[:10]): (r["v_filled"], r["observed"])
            for r in resample_locf(df, "k", "ts", "v", unit="day").collect()
        }
        assert out[(1, "2024-01-01")] == (5.0, 1)
        assert out[(1, "2024-01-02")] == (5.0, 0)  # carried forward
        assert out[(1, "2024-01-03")] == (5.0, 0)
        assert out[(1, "2024-01-04")] == (7.0, 1)
        assert out[(2, "2024-01-02")] == (1.0, 1)
        assert len(out) == 5  # dense grid, nothing outside each key's bounds


class TestCorpusHygiene:
    """Round-4 corpus-hygiene reports: cross-source overlap, prefix
    clusters, cluster-size histogram, boilerplate n-grams."""

    @pytest.fixture(scope="class")
    def hygiene_docs(self, spark):
        template = "terms of service apply to all users of this site"
        rows = [
            (1, template + " alpha beta gamma", "srcA"),
            (2, template + " delta epsilon zeta", "srcB"),
            (3, template + " eta theta iota", "srcB"),
            (4, "unique text one about spark shuffles", "srcA"),
            (5, "unique text two about arrow batches", "srcC"),
            (6, "unique text one about spark shuffles", "srcC"),  # exact dup of 4
            (7, None, "srcA"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string, source string")

    def test_cross_source_overlap_counts_shared_prefixes(self, hygiene_docs):
        out = {
            (r["source_a"], r["source_b"]): r["shared_contents"]
            for r in DD.cross_source_overlap(hygiene_docs, prefix_k=9).collect()
        }
        # 9-token template prefix shared by srcA(doc1) and srcB(docs 2,3);
        # exact dup 4/6 shared by srcA and srcC
        assert out[("srcA", "srcB")] == 1
        assert out[("srcA", "srcC")] == 1
        assert ("srcB", "srcC") not in out

    def test_prefix_clusters_find_template(self, hygiene_docs):
        rows = DD.prefix_clusters(hygiene_docs, k=9).collect()
        by_keeper = {r["keeper"]: r for r in rows}
        assert by_keeper[1]["cluster_size"] == 3
        assert by_keeper[1]["distinct_contents"] == 3  # same prefix, 3 bodies
        assert by_keeper[4]["cluster_size"] == 2
        assert by_keeper[4]["distinct_contents"] == 1  # true exact dup

    def test_cluster_histogram_accounts_every_doc(self, hygiene_docs):
        rows = DD.cluster_size_histogram(hygiene_docs, key="content").collect()
        hist = {r["copies"]: (r["n_clusters"], r["n_docs"]) for r in rows}
        assert hist[2] == (1, 2)  # the 4/6 exact pair
        assert sum(n for _, n in hist.values()) == 6  # null text excluded

    def test_boilerplate_ngrams_catch_template_not_unique_text(self, hygiene_docs):
        out = {r["ngram"] for r in
               TX.boilerplate_ngrams(hygiene_docs, min_doc_frac=0.5).collect()}
        assert "terms of service" in out
        assert "alpha beta gamma" not in out
        # doc-frequency threshold: ceil(0.5 * 6 shingled docs) = 3
        assert all(ng.split()[0] in
                   "terms of service apply to all users of this site".split()
                   for ng in out)

    def test_boilerplate_doc_stats_ratio(self, hygiene_docs):
        rows = {r["doc_id"]: r for r in
                TX.boilerplate_doc_stats(hygiene_docs, min_doc_frac=0.5).collect()}
        assert rows[4]["n_boiler"] == 0 and rows[4]["boiler_pm"] == 0
        # doc 1: 13 tokens -> 11 trigrams; the 8 template-internal trigrams
        # (10-token template) are boilerplate, the 3 crossing into the
        # unique suffix are not
        assert rows[1]["n_ngrams"] == 11 and rows[1]["n_boiler"] == 8
        assert rows[1]["boiler_pm"] == 727
        assert 7 not in rows  # null text dropped


class TestLMScore:
    def test_uniform_corpus_mean_nll_is_ln_vocab(self, spark):
        from map_spark_sql_spark.operators.text import lm_score

        # a and b each appear twice -> p = 0.5, NLL = ln 2 for every token
        docs = spark.createDataFrame(
            [(1, "a a b"), (2, "b")], "doc_id long, text string"
        )
        out = {r.doc_id: r for r in lm_score(docs).collect()}
        assert out[1].n_lm_tokens == 3 and out[2].n_lm_tokens == 1
        assert out[1].mean_nll == pytest.approx(0.693147, abs=1e-9)  # ln 2 @ 1e-6
        assert out[2].mean_nll == pytest.approx(0.693147, abs=1e-9)
        assert out[1].sum_nll_micro == 3 * 693147

    def test_rare_tokens_score_higher(self, spark):
        from map_spark_sql_spark.operators.text import lm_score

        docs = spark.createDataFrame(
            [(1, "common common common common"), (2, "rare")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in lm_score(docs).collect()}
        assert out[2].mean_nll > out[1].mean_nll


class TestTemperatureMixture:
    def test_tau_upweights_small_source(self, spark):
        from map_spark_sql_spark.operators.mixture import temperature_mixture

        rows = [(i, " ".join(["w"] * 20), "big") for i in range(500)]
        rows += [(1000 + i, " ".join(["w"] * 20), "small") for i in range(5)]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        # integer mirror of the operator's math: big score=100, small score=10,
        # denom=110; big ratio = 1000000*(2000*100//110)//10000 = 181800 ppm;
        # small ratio = 1000000*(2000*10//110)//100 = 1810000 -> capped at
        # 1000000 ppm (keep all)
        out = temperature_mixture(docs, 2000, tau=0.5).collect()
        kept = {"big": 0, "small": 0}
        for r in out:
            kept[r.source] += 1
        assert kept["small"] == 5  # ratio capped at 1000000 ppm
        assert 25 <= kept["big"] <= 150  # ~18.18% of 500, md5-uniform-ish

    def test_tau_one_reproduces_natural_shares(self, spark):
        from map_spark_sql_spark.operators.mixture import temperature_mixture

        rows = [(i, " ".join(["w"] * 10), f"src{i % 2}") for i in range(100)]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
        # equal sources, tau=1: both ratios identical -> roughly equal keeps
        out = temperature_mixture(docs, 500, tau=1.0).collect()
        kept = {"src0": 0, "src1": 0}
        for r in out:
            kept[r.source] += 1
        assert abs(kept["src0"] - kept["src1"]) <= 15

    def test_trillion_token_budget_no_overflow(self, spark):
        """budget * score passes 2^63 at modern pretraining scale (10T+
        token mixes): with int64 math Spark wraps silently (negative
        ratio_ppm -> nothing kept) while DuckDB raises — the DECIMAL(38,0)/
        HUGEINT ratio path must keep both engines exact and identical."""
        import duckdb

        from map_spark_sql_spark.operators.mixture import temperature_mixture

        # synthetic per-doc token masses via tokens_col: two sources with
        # actual = 3e12 and 1e12 tokens (4T corpus), budget = 10T (> actual)
        rows = [(i, "big" if i < 30 else "small", 10**11) for i in range(40)]
        docs = spark.createDataFrame(rows, "doc_id long, source string, n_tok long")
        out = temperature_mixture(
            docs, token_budget=10**13, tau=1.0, tokens_col="n_tok"
        ).collect()
        # tau=1, budget > total actual: every source's ratio caps at 1e6 ppm
        # -> ALL docs kept. int64-wrap math keeps ~none (negative ratios).
        assert len(out) == 40
        # cross-engine pin: DuckDB HUGEINT mirror produces the same keep set
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE counted AS SELECT * FROM (VALUES "
            + ", ".join(f"({i}, '{'big' if i < 30 else 'small'}', {10**11})" for i in range(40))
            + ") AS t(doc_id, source, n_tokens)"
        )
        dd = con.execute(
            """
WITH stats AS (
  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS actual,
         CAST(floor(power(CAST(sum(n_tokens) AS BIGINT), 1.0) + 1e-9) AS BIGINT) AS score
  FROM counted GROUP BY source
),
denom AS (SELECT CAST(sum(score) AS BIGINT) AS denom FROM stats),
ratios AS (
  SELECT s.source,
         CAST(least(CAST(1000000 AS HUGEINT),
               (CAST(1000000 AS HUGEINT) *
                ((CAST(10000000000000 AS HUGEINT) * CAST(s.score AS HUGEINT)) // CAST(d.denom AS HUGEINT)))
               // CAST(s.actual AS HUGEINT)) AS BIGINT) AS ratio_ppm
  FROM stats s CROSS JOIN denom d
)
SELECT count(*) FROM counted c JOIN ratios r ON c.source = r.source
WHERE CAST(('0x' || substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000 < r.ratio_ppm
"""
        ).fetchone()[0]
        con.close()
        assert dd == len(out) == 40


class TestPQTopK:
    def test_pq_finds_obvious_neighbor(self, spark):
        """With well-separated subspace structure the PQ/ADC ranking must
        put the near-copy of the query first; codes are 4 bits/subspace."""
        import random

        from map_spark_sql_spark.operators.similarity import pq_topk

        rng = random.Random(7)
        dim, m, n_codes = 16, 4, 4
        rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(40)]
        # vec 30 := near-copy of vec 5 (tiny perturbation, same codes)
        rows[30] = (30, [x * 1.0001 for x in rows[5][1]])
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = pq_topk(df, k=3, m=m, n_codes=n_codes, dim=dim, query_id=5).collect()
        assert got[0]["vec_id"] == 30 and got[0]["rank"] == 1
        # deterministic under re-run
        again = pq_topk(df, k=3, m=m, n_codes=n_codes, dim=dim, query_id=5).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in again]


class TestQuantizedTopK:
    def test_ranking_and_recall_flags(self, spark):
        from map_spark_sql_spark.operators.similarity import topk_quantized_sql

        vecs = [
            (0, [1.0, 0.0, 0.0]),   # query
            (1, [0.99, 0.01, 0.0]),
            (2, [0.5, 0.5, 0.0]),
            (3, [0.0, 1.0, 0.0]),
        ]
        spark.createDataFrame(
            vecs, "vec_id long, embedding array<float>"
        ).createOrReplaceTempView("embeddings")
        rows = sorted(
            spark.sql(topk_quantized_sql("spark", k=3)).collect(),
            key=lambda r: -r.approx_sim,
        )
        assert [r.vec_id for r in rows] == [1, 2, 3]
        assert rows[0].approx_sim > 0.99 and abs(rows[2].approx_sim) < 0.02
        # k covers every candidate, so quantized and exact sets coincide
        assert all(r.in_exact_topk for r in rows)
        spark.catalog.dropTempView("embeddings")

    def test_builder_matches_sql_route(self, spark):
        """The round-6 engine-side builder (staged quantization columns,
        broadcast 1-row query) must emit exactly the spark.sql route's
        rows — same codes, same rounding, same tie-breaks."""
        import random

        from map_spark_sql_spark.operators.similarity import (
            topk_quantized,
            topk_quantized_sql,
        )

        rng = random.Random(7)
        vecs = [
            (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)
        ]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
        df.createOrReplaceTempView("embeddings")
        via_sql = {tuple(r) for r in spark.sql(topk_quantized_sql("spark", k=5)).collect()}
        via_builder = {tuple(r) for r in topk_quantized(df, k=5).collect()}
        assert via_builder == via_sql
        spark.catalog.dropTempView("embeddings")


class TestShuffleShards:
    def test_shard_range_positions_and_stability(self, spark):
        from map_spark_sql_spark.operators.sampling import shuffle_shards

        docs = spark.createDataFrame(
            [(i,) for i in range(200)], "doc_id long"
        )
        out = shuffle_shards(docs, n_shards=8).collect()
        assert len(out) == 200
        by_shard: dict[int, list] = {}
        for r in out:
            assert 0 <= r.shard < 8
            by_shard.setdefault(r.shard, []).append(r.pos)
        # positions are a contiguous 1..n sequence per shard
        for positions in by_shard.values():
            assert sorted(positions) == list(range(1, len(positions) + 1))
        # shard assignment is content-derived: stable when the corpus grows
        grown = spark.createDataFrame([(i,) for i in range(300)], "doc_id long")
        shard_before = {r.doc_id: r.shard for r in out}
        shard_after = {
            r.doc_id: r.shard for r in shuffle_shards(grown, n_shards=8).collect()
        }
        for doc_id, shard in shard_before.items():
            assert shard_after[doc_id] == shard


class TestSaltedTopK:
    def test_equals_plain_window_with_whale_key(self, spark):
        """The salted two-phase top-k must equal the single-window form
        exactly — including on a whale key carrying most of the rows and
        on score ties (broken by lower id in both)."""
        from pyspark.sql import Window

        from map_spark_sql_spark.operators.skew import salted_topk

        rows = [(i, "whale", i % 7) for i in range(500)]  # ties galore
        rows += [(1000 + i, f"d{i % 5}", i) for i in range(50)]
        df = spark.createDataFrame(rows, "doc_id long, source string, score long")
        got = sorted(
            map(tuple, salted_topk(df, ["source"], "score", "doc_id", k=10).collect())
        )
        w = Window.partitionBy("source").orderBy(F.desc("score"), F.asc("doc_id"))
        want = sorted(
            map(
                tuple,
                df.select("source", "doc_id", "score")
                .withColumn("rank", F.row_number().over(w))
                .filter("rank <= 10")
                .collect(),
            )
        )
        assert got == want

    def test_keeps_fewer_than_k_when_key_is_small(self, spark):
        from map_spark_sql_spark.operators.skew import salted_topk

        df = spark.createDataFrame(
            [(1, "x", 5), (2, "x", 9)], "doc_id long, source string, score long"
        )
        got = salted_topk(df, ["source"], "score", "doc_id", k=10).collect()
        assert len(got) == 2
        assert {(r.doc_id, r.rank) for r in got} == {(2, 1), (1, 2)}


class TestWeightedSample:
    def test_keep_rate_tracks_weight(self, spark):
        from map_spark_sql_spark.operators.sampling import weighted_sample

        rows = [(i, 0.1) for i in range(2000)] + [(10000 + i, 0.9) for i in range(2000)]
        df = spark.createDataFrame(rows, "doc_id long, w double")
        kept = weighted_sample(df, "w").collect()
        lo = sum(1 for r in kept if r.doc_id < 10000)
        hi = len(kept) - lo
        assert 120 <= lo <= 280  # ~10% of 2000, md5-uniform-ish
        assert 1650 <= hi <= 1950  # ~90% of 2000
        # deterministic: same call, same keep set
        again = weighted_sample(df, "w").collect()
        assert sorted(r.doc_id for r in again) == sorted(r.doc_id for r in kept)

    def test_weight_clamped_and_null_dropped(self, spark):
        from map_spark_sql_spark.operators.sampling import weighted_sample

        df = spark.createDataFrame(
            [(1, 2.5), (2, -1.0), (3, None)], "doc_id long, w double"
        )
        kept = {r.doc_id: r.weight_ppm for r in weighted_sample(df, "w").collect()}
        assert kept == {1: 1000000}  # >1 clamps to certain keep; <0 and NULL drop


class TestSkewReport:
    def test_buckets_count_keys_and_mass(self, spark):
        from map_spark_sql_spark.operators.skew import key_skew_report

        rows = (
            [("a",)] * 1 + [("b",)] * 1 + [("c",)] * 2 + [("d",)] * 8
        )
        df = spark.createDataFrame(rows, "k string")
        out = {r.bucket: r for r in key_skew_report(df, "k").collect()}
        # counts 1,1 -> bucket 0; count 2 -> bucket 1; count 8 -> bucket 3
        assert out[0].n_keys == 2 and out[0].n_rows == 2 and out[0].max_count == 1
        assert out[1].n_keys == 1 and out[1].n_rows == 2
        assert out[3].n_keys == 1 and out[3].n_rows == 8 and out[3].max_count == 8
        assert set(out) == {0, 1, 3}


class TestIncrementalTileMerge:
    def test_merge_equals_full_rebuild(self, spark):
        from map_spark_sql_spark.queries import QUERIES, _exploded_df, TILE_SIZE
        from map_spark_sql_spark.functions import projection as PJ
        from pyspark.sql import functions as F

        sf = "/root/testdata/sf0.001"
        merged = QUERIES["tiles_incremental_merge"](spark, sf)
        xs, ys = PJ.global_pixel_xy_sql("EPSG:3857", 5, TILE_SIZE, "lat", "lng")
        full = (
            _exploded_df(spark, sf)
            .withColumn("px", F.expr(xs))
            .withColumn("py", F.expr(ys))
            .filter("px IS NOT NULL")
            .groupBy("mapKey", "px", "py", "borYear")
            .agg(F.count(F.lit(1)).cast("bigint").alias("occCount"))
        )
        assert merged.count() == full.count()
        assert merged.exceptAll(full).count() == 0


class TestTokenize:
    def test_ids_order_and_oov(self, spark):
        from map_spark_sql_spark.operators.text import tokenize_docs

        docs = spark.createDataFrame(
            [(1, "b b a"), (2, "a c")], "doc_id long, text string"
        )
        out = {r.doc_id: r for r in tokenize_docs(docs, min_count=2).collect()}
        # vocab: a(2)->0, b(2)->1 (count ties break on term); c pruned -> -1
        assert out[1].ids == "1 1 0" and out[1].n_oov == 0
        assert out[2].ids == "0 -1" and out[2].n_oov == 1
        assert out[1].n_tokens == 3 and out[2].n_tokens == 2


class TestQuantizationProperties:
    def test_sq8_approx_close_to_exact_on_random_vectors(self, spark):
        """SQ8 cosine error is bounded by quantization noise (~1/127 per
        component, attenuated by the norm): on random unit-scale vectors the
        approx similarity must track exact cosine within 2e-2."""
        import math
        import random

        random.seed(4)
        vecs = [
            (i, [random.uniform(-1, 1) for _ in range(16)]) for i in range(30)
        ]
        spark.createDataFrame(
            vecs, "vec_id long, embedding array<float>"
        ).createOrReplaceTempView("embeddings")
        from map_spark_sql_spark.operators.similarity import topk_quantized_sql

        rows = spark.sql(topk_quantized_sql("spark", k=29)).collect()
        by_id = {v[0]: v[1] for v in vecs}
        q = by_id[0]
        qn = math.sqrt(sum(x * x for x in q))
        for r in rows:
            v = by_id[r.vec_id]
            exact = sum(a * b for a, b in zip(v, q)) / (
                math.sqrt(sum(x * x for x in v)) * qn
            )
            assert abs(r.approx_sim - exact) < 2e-2, (r.vec_id, r.approx_sim, exact)
        spark.catalog.dropTempView("embeddings")


class TestTemperatureProperties:
    def test_lower_tau_shifts_share_toward_small_source(self, spark):
        from map_spark_sql_spark.operators.mixture import temperature_mixture

        rows = [(i, " ".join(["w"] * 20), "big") for i in range(400)]
        rows += [(1000 + i, " ".join(["w"] * 20), "small") for i in range(40)]
        docs = spark.createDataFrame(rows, "doc_id long, text string, source string")

        def small_share(tau: float) -> float:
            kept = {"big": 0, "small": 0}
            for r in temperature_mixture(docs, 2000, tau=tau).collect():
                kept[r.source] += 1
            total = kept["big"] + kept["small"]
            return kept["small"] / total if total else 0.0

        # tau=1 reproduces natural shares; smaller tau upweights `small`
        assert small_share(0.25) >= small_share(0.5) >= small_share(1.0)
        assert small_share(0.25) > 0.15  # visibly above the natural 9%


class TestStripBoilerplate:
    """Round-5 boilerplate removal: non-overlapping 3-word segments,
    corpus-frequent segments stripped, ordered reassembly."""

    @pytest.fixture(scope="class")
    def strip_docs(self, spark):
        t = "terms of service"
        rows = [
            (1, t + " alpha beta gamma"),
            (2, t + " delta epsilon zeta"),
            (3, t + " eta theta iota"),
            (4, t + " kappa lambda mu"),
            (5, "unique doc five with six words"),
            (6, t),            # all boilerplate -> empty clean_text
            (7, t + " tail"),  # clamped short trailing segment
            (8, None),         # dropped
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_strips_frequent_segment_keeps_rest_in_order(self, strip_docs):
        rows = {
            r["doc_id"]: r
            for r in TX.strip_boilerplate(strip_docs, min_doc_frac=0.5).collect()
        }
        # threshold ceil(0.5 * 7 docs) = 4; "terms of service" df = 6 >= 4
        assert rows[1]["n_segments"] == 2 and rows[1]["n_kept"] == 1
        assert rows[1]["clean_text"] == "alpha beta gamma"
        assert rows[5]["n_kept"] == 2
        assert rows[5]["clean_text"] == "unique doc five with six words"
        assert rows[6]["n_kept"] == 0 and rows[6]["clean_text"] == ""
        assert rows[7]["clean_text"] == "tail"  # short segment survives
        assert 8 not in rows  # NULL text excluded

    def test_nothing_frequent_is_identity(self, spark):
        df = spark.createDataFrame(
            [(1, "aa bb cc dd"), (2, "ee ff gg hh")], "doc_id long, text string"
        )
        rows = {r["doc_id"]: r for r in TX.strip_boilerplate(df).collect()}
        assert rows[1]["clean_text"] == "aa bb cc dd"
        assert rows[1]["n_segments"] == rows[1]["n_kept"] == 2


class TestTwoStageTopK:
    """Round-5 two-stage prefix-rerank ANN."""

    @pytest.fixture(scope="class")
    def vecs(self, spark):
        rows = [
            (0, [1.0, 0.0, 0.0, 0.0]),  # query
            (1, [0.9, 0.1, 0.0, 0.0]),  # coarse 0.9, cos ~0.9938
            (2, [0.8, 0.0, 0.6, 0.0]),  # coarse 0.8, cos 0.8
            (3, [0.5, 0.0, 0.0, 0.0]),  # coarse 0.5, cos 1.0 (colinear)
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_full_shortlist_matches_bruteforce_order(self, vecs):
        got = [
            r["vec_id"]
            for r in SIM.cosine_topk_two_stage(
                vecs, k=3, prefix_dims=2, shortlist=10
            ).collect()
        ]
        assert got == [3, 1, 2]  # exact cosine order, prefix only pre-ranks

    def test_tight_shortlist_bounds_recall(self, vecs):
        got = [
            r["vec_id"]
            for r in SIM.cosine_topk_two_stage(
                vecs, k=2, prefix_dims=2, shortlist=2
            ).collect()
        ]
        # coarse keeps {1, 2}; the colinear id 3 is sacrificed -> the
        # approximation is visible and deterministic
        assert got == [1, 2]


class TestClusterKeepers:
    """Round-5 quality-aware cluster representative selection."""

    @pytest.fixture(scope="class")
    def keeper_docs(self, spark):
        rows = [
            (10, "the quick brown fox jumps over the lazy dog"),
            (11, "the quick brown fox jumps over the lazy dog again and again today"),
            (12, "an identical pair of documents right here now"),
            (13, "an identical pair of documents right here now"),
            (14, "a lone document about nothing in particular"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_keeper_is_highest_quality_ties_to_min_id(self, keeper_docs):
        logits = {
            r["doc_id"]: r["quality_logit"]
            for r in TX.quality_classify(keeper_docs).collect()
        }
        rows = {r["cluster_id"]: r for r in DD.cluster_keepers(keeper_docs).collect()}
        assert sum(r["cluster_size"] for r in rows.values()) == 5
        near = rows[10]  # 10/11 share >=0.2 trigram jaccard
        assert near["cluster_size"] == 2
        assert near["keeper_id"] == max((logits[i], -i) for i in (10, 11))[1] * -1
        assert near["keeper_score"] == max(logits[10], logits[11])
        exact = rows[12]  # identical texts -> equal scores -> min id wins
        assert exact["cluster_size"] == 2 and exact["keeper_id"] == 12
        assert rows[14]["cluster_size"] == 1 and rows[14]["keeper_id"] == 14


class TestCharEntropy:
    """Round-5 character-entropy quality signal (zero-shuffle HOF path)."""

    def test_known_distribution_micro_nats(self, spark):
        df = spark.createDataFrame(
            [(1, "aabbbbcc"), (2, "aaaa"), (3, None), (4, "")],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in TX.char_entropy(df).collect()}
        r1 = rows[1]  # counts 2/4/2 of 8: 2*ln4 + 4*ln2 + 2*ln4 micro-nats
        assert r1["n_chars_split"] == 8 and r1["n_distinct_chars"] == 3
        assert r1["sum_ent_micro"] == 2 * 1386294 + 4 * 693147 + 2 * 1386294
        assert abs(r1["mean_entropy_nats"] - 1.0397205) < 1e-6
        assert rows[2]["sum_ent_micro"] == 0  # degenerate repetition
        assert 3 not in rows and 4 not in rows  # NULL/empty excluded

    def test_sorted_run_fold_equals_naive_histogram(self, spark):
        """The round-6 sorted-run fold must emit the EXACT integers of the
        naive O(len x distinct) histogram it replaced — including the
        single-char, all-same, all-distinct, and unicode edge cases the
        fold's run-flush logic could plausibly get wrong."""
        docs = [
            (1, "z"),                     # single char: one run, flushed by finish
            (2, "zzzzzz"),                # one long run
            (3, "abcdef"),                # all runs length 1
            (4, "ba" * 50 + "c"),         # interleaved -> sort regroups
            (5, "née çà née"),            # multi-byte chars
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {r["doc_id"]: r for r in TX.char_entropy(df).collect()}
        import math
        from collections import Counter

        for i, t in docs:
            cnt = Counter(list(t))
            n = len(list(t))
            want = sum(round(-math.log(k / n) * 1000000) * k for k in cnt.values())
            assert got[i]["n_chars_split"] == n
            assert got[i]["n_distinct_chars"] == len(cnt)
            assert got[i]["sum_ent_micro"] == want, (i, t)


class TestIVFPQTopK:
    def test_probe_restricts_then_pq_ranks(self, spark):
        """IVF-PQ must (a) find the obvious near-copy when its partition is
        probed and (b) return a subset of plain PQ's scoring universe —
        every result id must belong to a probed coarse partition."""
        import random

        from map_spark_sql_spark.operators.similarity import (
            cosine_cols_sql,
            ivfpq_topk,
            pq_topk,
        )

        rng = random.Random(11)
        dim, m, n_codes, n_cent = 16, 4, 4, 4
        rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(40)]
        rows[30] = (30, [x * 1.0001 for x in rows[5][1]])
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = ivfpq_topk(
            df, k=5, n_centroids=n_cent, nprobe=2, m=m, n_codes=n_codes,
            dim=dim, query_id=5,
        ).collect()
        assert got[0]["vec_id"] == 30 and got[0]["rank"] == 1
        # candidate restriction: every returned id sits in a probed partition
        full = {
            r["vec_id"]: r["approx_score"]
            for r in pq_topk(
                df, k=40, m=m, n_codes=n_codes, dim=dim, query_id=5
            ).collect()
        }
        for r in got:
            assert full[r["vec_id"]] == r["approx_score"]  # same ADC scores
        assert len(got) <= 5


class TestGlobalSegmentDedup:
    """Round-5 CCNet-style corpus-wide keep-first segment dedup."""

    def test_keep_first_across_and_within_docs(self, spark):
        # n=3 word segments; "a b c" appears in docs 1 (pos 0), 2 (pos 0) and
        # TWICE in doc 3 — only doc 1 pos 0 survives. Unique segments stay.
        df = spark.createDataFrame(
            [
                (1, "a b c x y z"),
                (2, "a b c q r s"),
                (3, "a b c a b c"),
                (4, None),
            ],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in DD.global_segment_dedup(df, n=3).collect()}
        assert rows[1]["n_segments"] == 2 and rows[1]["n_kept"] == 2
        assert rows[1]["dedup_text"] == "a b c x y z"
        assert rows[2]["n_kept"] == 1 and rows[2]["dedup_text"] == "q r s"
        assert rows[3]["n_kept"] == 0 and rows[3]["dedup_text"] == ""
        assert 4 not in rows  # NULL text excluded

    def test_trailing_short_segment_kept(self, spark):
        df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
        r = DD.global_segment_dedup(df, n=3).collect()[0]
        assert r["n_segments"] == 2 and r["dedup_text"] == "a b c d"


class TestBloomPrefilter:
    def test_no_false_negatives_and_flags(self, spark):
        from map_spark_sql_spark.operators.sketches import bloom_prefilter

        standing = spark.createDataFrame(
            [(i, f"standing doc number {i}") for i in range(50)],
            "doc_id long, text string",
        )
        batch = spark.createDataFrame(
            # 100/101 duplicate standing 7/13; 102 is new; 103 NULL
            [
                (100, "standing doc number 7"),
                (101, "standing doc number 13"),
                (102, "entirely new content"),
                (103, None),
            ],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in bloom_prefilter(standing, batch).collect()}
        assert rows[100]["present"] and rows[100]["bloom_hit"]  # no false negative
        assert rows[101]["present"] and rows[101]["bloom_hit"]
        assert not rows[102]["present"]
        assert rows[102]["false_positive"] == rows[102]["bloom_hit"]
        assert 103 not in rows  # NULL text excluded
        for r in rows.values():  # invariant: present implies bloom_hit
            assert not (r["present"] and not r["bloom_hit"])


class TestMinhashRecall:
    def test_exact_duplicates_are_recalled(self, spark):
        words = "the quick brown fox jumps over the lazy dog again and again"
        df = spark.createDataFrame(
            [(1, words), (2, words), (3, "completely different text here now"),
             (4, "another unrelated document body entirely")],
            "doc_id long, text string",
        )
        r = DD.minhash_recall(df, max_df=10).collect()[0]
        # identical docs: jaccard = 1.0 >= 0.5, and identical signatures
        # share every band -> the pair must be exact, candidate, and matched
        assert r["n_exact"] >= 1 and r["n_matched"] >= 1
        assert r["n_matched"] <= r["n_exact"]
        assert r["recall_ppm"] == (1000000 * r["n_matched"]) // r["n_exact"]

    def test_empty_exact_set_reads_perfect(self, spark):
        df = spark.createDataFrame(
            [(1, "alpha beta gamma delta"), (2, "wholly distinct words only")],
            "doc_id long, text string",
        )
        r = DD.minhash_recall(df).collect()[0]
        assert r["n_exact"] == 0 and r["recall_ppm"] == 1000000


class TestDsirWeights:
    def test_matches_pure_python_mirror(self, spark):
        import math

        texts = {
            1: "the cat sat on the mat",
            2: "cat cat cat cat",
            3: "dog dog the mat",
        }
        df = spark.createDataFrame(
            [(k, v) for k, v in texts.items()] + [(4, None)],
            "doc_id long, text string",
        )
        accepted = {
            r["doc_id"]: r["accepted"]
            for r in TX.quality_classify(df.where("text is not null")).collect()
        }
        # pure-python mirror of the add-1 smoothed unigram log-ratio
        n_raw, n_tgt = {}, {}
        for d, t in texts.items():
            for w in t.lower().split(" "):
                n_raw[w] = n_raw.get(w, 0) + 1
                if accepted[d]:
                    n_tgt[w] = n_tgt.get(w, 0) + 1
        V, Nr, Nt = len(n_raw), sum(n_raw.values()), sum(n_tgt.values())
        lam = {
            w: round(
                (math.log((n_tgt.get(w, 0) + 1) / (Nt + V))
                 - math.log((n_raw[w] + 1) / (Nr + V))) * 1e6
            )
            for w in n_raw
        }
        want = {
            d: sum(lam[w] for w in t.lower().split(" "))
            for d, t in texts.items()
        }
        rows = {r["doc_id"]: r for r in TX.dsir_weights(df).collect()}
        assert 4 not in rows
        for d, t in texts.items():
            assert rows[d]["dsir_micro"] == want[d], d
            assert rows[d]["n_tokens"] == len(t.split(" "))


class TestIvfRecall:
    def test_recall_monotone_in_nprobe_and_full_at_max(self, spark):
        """More probes can only add candidates, so recall is monotone in
        nprobe; probing EVERY partition makes IVF exhaustive (recall 1)."""
        import random

        rng = random.Random(3)
        rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = SIM.ivf_recall(
            df, k=5, n_centroids=4, nprobes=(1, 2, 4), n_queries=3
        ).collect()
        assert len(out) == 9  # 3 queries x 3 tiers
        by_q = {}
        for r in out:
            assert 0 <= r["n_matched"] <= r["n_exact"] == 5
            assert r["recall_ppm"] == (1000000 * r["n_matched"]) // r["n_exact"]
            by_q.setdefault(r["query_id"], {})[r["nprobe"]] = r["n_matched"]
        for q, tiers in by_q.items():
            assert tiers[1] <= tiers[2] <= tiers[4], q
            assert tiers[4] == 5, q  # nprobe = n_centroids -> exhaustive


class TestMmrRerank:
    def test_diversity_beats_pure_relevance(self, spark):
        """A near-duplicate of the top hit must NOT take rank 2 when a
        moderately-relevant but diverse vector exists."""
        base = [0.95, 0.10, 0.0, 0.0]
        near = [0.95, 0.11, 0.0, 0.0]    # ~= base: high rel, sim-to-#1 ~ 1
        diverse = [0.7, 0.0, 0.7, 0.0]   # lower rel, much lower sim to #1
        rows = [
            (0, [1.0, 0.0, 0.0, 0.0]),   # query (NOT equal to any candidate,
            (1, base),                   # else rel == penalty for everyone
            (2, near),                   # and MMR degenerates to id order)
            (3, diverse),
            (4, [0.0, 1.0, 0.0, 0.0]),   # irrelevant
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = SIM.mmr_rerank(df, k=3, pool_size=4, lam=0.5).collect()
        assert [r["rank"] for r in out] == [1, 2, 3]
        assert out[0]["vec_id"] == 1          # pure relevance first
        assert out[1]["vec_id"] == 3          # diversity displaces the near-dup
        assert out[2]["vec_id"] == 2
        # first pick's penalty term is exactly zero
        assert abs(out[0]["mmr_score"] - 0.5 * out[0]["relevance"]) < 1e-12

    def test_identical_candidates_tie_on_lower_id(self, spark):
        """Two candidates with identical vectors tie on rel and on penalty:
        the lower id takes the earlier rank, whatever the input order."""
        twin = [0.6, 0.8, 0.0]
        rows = [(9, twin), (0, [1.0, 0.0, 0.0]), (6, twin), (1, [1.0, 0.0, 0.0])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        for lam in (0.0, 0.5):
            out = SIM.mmr_rerank(df, k=3, pool_size=4, lam=lam).collect()
            assert [(r["rank"], r["vec_id"]) for r in out] == [(1, 1), (2, 6), (3, 9)]
            assert out[1]["relevance"] == out[2]["relevance"] == 0.6


class TestTopkFiltered:
    def test_prefilter_excludes_failing_docs(self, spark):
        """Pre-filtering semantics: the highest-similarity vectors must NOT
        appear when their documents fail the metadata predicate, and the
        result still returns k rows from the survivors."""
        docs = spark.createDataFrame(
            [
                (1, "t", "de", "s", 500),   # wrong lang — top-sim, must drop
                (2, "t", "en", "s", 10),    # too short — 2nd-sim, must drop
                (3, "t", "en", "s", 500),   # survivor
                (4, "t", "en", "s", 500),   # survivor
            ],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        emb = spark.createDataFrame(
            [
                (0, [1.0, 0.0, 0.0]),       # query
                (1, [1.0, 0.0, 0.0]),       # cos 1.0 but lang=de
                (2, [0.99, 0.1, 0.0]),      # cos ~0.995 but short
                (3, [0.5, 0.5, 0.0]),       # cos ~0.707
                (4, [0.0, 1.0, 0.0]),       # cos 0
            ],
            "vec_id long, embedding array<double>",
        )
        out = SIM.topk_filtered(emb, docs, k=2, min_chars=100).collect()
        assert [r["vec_id"] for r in out] == [3, 4]
        assert abs(out[0]["sim"] - 0.707107) < 1e-6


class TestMethodAgreement:
    def test_venn_regions(self, spark):
        """A lexical-only dup pair lands in (1,1,0); a semantic-only pair in
        (0,0,1); unrelated docs pair nowhere."""
        same = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        docs = spark.createDataFrame(
            [
                (1, same),
                (2, same),                                   # exact dup of 1
                (3, "one two three four five six seven eight nine ten"),
                (4, "red blue green yellow purple orange pink brown black white"),
            ],
            "doc_id long, text string",
        )
        v = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
        emb = spark.createDataFrame(
            [
                (5, v),
                (6, v),                                      # cos = 1 with 5
                (7, [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
                (8, [0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
            ],
            "vec_id long, embedding array<double>",
        )
        got = {
            (r["in_minhash"], r["in_simhash"], r["in_embedding"]): r["n_pairs"]
            for r in DD.method_agreement(docs, emb).collect()
        }
        assert got == {(1, 1, 0): 1, (0, 0, 1): 1}


class TestMultimodalNullPayload:
    def test_resize_and_frames_skip_missing_objects(self, spark):
        """NULL payloads (deleted originals, failed fetches) are skipped by
        resize and frame sampling, matching featurize's contract — never a
        job-killer."""
        from map_spark_sql_spark.operators.multimodal import (
            encode_media,
            resize_media,
            sample_frames,
        )

        payload = encode_media("image", 128, 96, b"x" * 300)
        media = spark.createDataFrame(
            [(1, payload), (2, None)], "media_id long, payload binary"
        )
        rs = resize_media(media, max_dim=64).collect()
        assert [r["media_id"] for r in rs] == [1]
        assert rs[0]["width"] == 64 and rs[0]["height"] == 48
        fr = sample_frames(media, frame_size=64, every_nth=2).collect()
        assert {r["media_id"] for r in fr} == {1}
        assert sorted(r["frame_idx"] for r in fr) == [0, 2, 4]


class TestIntervalOverlapJoin:
    def test_exactly_once_boundaries_and_keys(self, spark):
        """A pair sharing MANY bins is emitted once (owner-bin trick); a
        boundary touch counts (closed intervals); disjoint intervals and
        different keys never match."""
        from map_spark_sql_spark.operators.temporal import interval_overlap_join

        mk = "cast({0!r} as timestamp)"
        left = spark.createDataFrame(
            [
                (1, 10, "2024-01-01 00:00:00", "2024-01-01 06:00:00"),  # long: 22 bins
                (1, 11, "2024-01-01 08:00:00", "2024-01-01 08:00:10"),
                (2, 12, "2024-01-01 00:00:00", "2024-01-01 06:00:00"),  # other key
            ],
            "k long, lid long, s string, e string",
        ).selectExpr("k", "lid", "cast(s as timestamp) AS ls", "cast(e as timestamp) AS le")
        right = spark.createDataFrame(
            [
                (1, 20, "2024-01-01 01:00:00", "2024-01-01 05:00:00"),  # inside long
                (1, 21, "2024-01-01 06:00:00", "2024-01-01 07:00:00"),  # touches end
                (1, 22, "2024-01-01 07:00:00", "2024-01-01 07:30:00"),  # disjoint from all
            ],
            "k long, rid long, s string, e string",
        ).selectExpr("k", "rid", "cast(s as timestamp) AS rs", "cast(e as timestamp) AS re")
        out = interval_overlap_join(
            left, right, "ls", "le", "rs", "re", keys=["k"], bin_seconds=600
        )
        pairs = sorted((r["lid"], r["rid"]) for r in out.collect())
        # 10x20 once despite 22 shared bins; 10x21 boundary touch; nothing
        # for key 2 (no right rows) and nothing for the disjoint 22
        assert pairs == [(10, 20), (10, 21)]

    def test_random_differential_vs_bruteforce(self, spark):
        """200 seeded-random intervals per side: the binned join must equal
        the brute-force O(n^2) overlap check exactly, across random widths
        that stress bin-boundary cases."""
        import random

        from map_spark_sql_spark.operators.temporal import interval_overlap_join

        rng = random.Random(42)
        base = 1700000000  # fixed epoch anchor

        def gen(n, id0):
            rows = []
            for i in range(n):
                k = rng.randint(1, 4)
                s = base + rng.randint(0, 36000)
                e = s + rng.randint(0, 5400)
                rows.append((k, id0 + i, s, e))
            return rows

        lrows, rrows = gen(200, 1000), gen(200, 2000)
        mk = lambda rows, a, b: spark.createDataFrame(
            rows, f"k long, {a} long, s long, e long"
        ).selectExpr("k", a, f"timestamp_seconds(s) AS {b}s", f"timestamp_seconds(e) AS {b}e")
        out = interval_overlap_join(
            mk(lrows, "lid", "l"), mk(rrows, "rid", "r"),
            "ls", "le", "rs", "re", keys=["k"], bin_seconds=700,
        )
        got = sorted((r["lid"], r["rid"]) for r in out.collect())
        want = sorted(
            (l[1], r[1])
            for l in lrows
            for r in rrows
            if l[0] == r[0] and l[2] <= r[3] and r[2] <= l[3]
        )
        assert got == want and len(want) > 100


class TestSelectTokenBudget:
    def test_budget_prefix_and_straddler_dropped(self, spark):
        """Selection is the quality-ordered prefix; a document that would
        straddle the budget is dropped whole (no truncation); NULL text is
        excluded."""
        from map_spark_sql_spark.operators.packing import select_token_budget
        from map_spark_sql_spark.operators.text import quality_classifier_sql

        prose = (
            "the quick brown fox jumps over the lazy dog and then runs "
            "far away to the old barn where it sleeps all day"
        )
        junk = "1234 5678 9012 3456 7890 1234 5678 9012"
        docs = spark.createDataFrame(
            [(1, prose), (2, prose + " again and again"), (3, junk), (4, None)],
            "doc_id long, text string",
        )
        scored = {
            r["doc_id"]: r["q"]
            for r in docs.filter("text IS NOT NULL")
            .selectExpr("doc_id", quality_classifier_sql("text", "spark") + " AS q")
            .collect()
        }
        assert scored[1] > scored[3] and scored[2] > scored[3]  # prose beats junk

        # budget fits docs 1+2 (22 + 25 tokens) but not the junk doc too
        out = select_token_budget(docs, token_budget=50).collect()
        assert sorted(r["doc_id"] for r in out) == [1, 2]
        assert max(r["cum_tokens"] for r in out) <= 50
        # tight budget: only the single best doc fits; the next straddles
        out2 = select_token_budget(docs, token_budget=30).collect()
        assert len(out2) == 1


class TestTopkBatch:
    def test_matches_per_query_topk(self, spark):
        """The one-pass batch result equals k independent single-query
        top-k runs, per query."""
        import math

        rows = [
            (i, [math.cos(i * 0.37 + j) for j in range(6)]) for i in range(40)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = SIM.topk_batch(df, query_ids=(0, 5), k=3, buckets=4).collect()
        by_q = {}
        for r in got:
            by_q.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["sim"]))
        assert set(by_q) == {0, 5}
        for qid, hits in by_q.items():
            qvec = rows[qid][1]
            single = SIM.cosine_topk(
                df.filter(F.col("vec_id") != qid), qvec, k=3
            ).collect()
            assert sorted(hits) == [
                (i + 1, s["vec_id"], s["sim"]) for i, s in enumerate(single)
            ]


class TestDiversityStats:
    def test_identity_matches_hand_computation(self, spark):
        """Orthogonal pair -> mean cos 0; identical pair -> 1; singleton
        group -> NULL (no pairs); mixed group matches the hand value."""
        rows = [
            (1, [1.0, 0.0], 0),
            (2, [0.0, 1.0], 0),     # label 0: orthogonal => 0.0
            (3, [1.0, 0.0], 1),
            (4, [2.0, 0.0], 1),     # label 1: same direction => 1.0
            (5, [1.0, 1.0], 2),     # label 2: singleton => NULL
            (6, [1.0, 0.0], 3),
            (7, [0.0, 1.0], 3),
            (8, [1.0, 1.0], 3),     # label 3: pairs (0, √2/2, √2/2)/3
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
        got = {r["label"]: r for r in SIM.diversity_stats(df).collect()}
        assert got[0]["mean_pairwise_cos"] == 0.0
        assert got[1]["mean_pairwise_cos"] == 1.0
        assert got[2]["mean_pairwise_cos"] is None and got[2]["n_vectors"] == 1
        import math
        want = round((0.0 + math.sqrt(2) / 2 + math.sqrt(2) / 2) / 3, 6)
        assert abs(got[3]["mean_pairwise_cos"] - want) < 1e-9


class TestSelectBudgetPerSource:
    def test_each_source_keeps_its_own_prefix(self, spark):
        """Budgets are per source: source A's straddler is dropped without
        affecting source B's selection; quality ordering within source."""
        from map_spark_sql_spark.operators.packing import (
            select_token_budget_per_source,
        )

        prose = (
            "the quick brown fox jumps over the lazy dog and then runs "
            "far away to the old barn where it sleeps all day"
        )  # 22 ws tokens
        junk = "1234 5678 9012 3456 7890 1234 5678 9012"
        docs = spark.createDataFrame(
            [
                (1, prose, "a"),
                (2, prose + " more words here", "a"),  # straddles a=30
                (3, junk, "b"),                        # b's only doc fits
            ],
            "doc_id long, text string, source string",
        )
        out = select_token_budget_per_source(docs, budget_per_source=30).collect()
        kept = {(r["source"], r["doc_id"]) for r in out}
        assert kept == {("a", 1), ("b", 3)}


class TestMmrRerankSmallPool:
    def test_k_exceeding_pool_returns_pool_without_error(self, spark):
        """k > candidate pool: every candidate is returned once, ranks stay
        contiguous, and the extra rounds are harmless no-ops."""
        rows = [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.1, 0.9]),
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        out = SIM.mmr_rerank(df, k=5, pool_size=8, lam=0.5).collect()
        assert sorted(r["vec_id"] for r in out) == [1, 2]
        assert [r["rank"] for r in sorted(out, key=lambda r: r["rank"])] == [1, 2]


class TestLmScoreBigram:
    def test_scrambled_doc_scores_worse_and_short_docs_absent(self, spark):
        """A document reusing the corpus's dominant bigrams gets lower mean
        NLL than one with the same words scrambled into unseen pairs; docs
        with < 2 tokens emit no row."""
        common = "the cat sat on the mat"
        docs = spark.createDataFrame(
            [
                (1, common),
                (2, common),
                (3, common),
                (4, "mat the on sat cat the"),   # same unigrams, novel bigrams
                (5, "single"),                   # no bigrams
                (6, None),                       # NULL text
            ],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in TX.lm_score_bigram(docs).collect()}
        assert set(got) == {1, 2, 3, 4}
        assert got[4]["mean_nll"] > got[1]["mean_nll"]
        assert got[1]["n_bigrams"] == 5


class TestWinnowing:
    def test_shared_run_guarantee_and_short_docs(self, spark):
        """Docs sharing a >= w+k-1 word run share a fingerprint (the MOSS
        guarantee, k=3 w=4 -> 6 words); disjoint docs share none; a doc
        with fewer than w shingles still fingerprints (single window);
        empty/NULL docs are absent."""
        shared = "alpha beta gamma delta epsilon zeta"
        docs = spark.createDataFrame(
            [
                (1, "one two " + shared + " three four five six seven"),
                (2, "red blue green " + shared + " yellow purple"),
                (3, "completely different words entirely here now today soon"),
                (4, "just four little words"),         # 2 shingles < w
                (5, ""),
                (6, None),
            ],
            "doc_id long, text string",
        )
        fps = {}
        for r in TX.winnowing_fingerprints(docs, k=3, w=4).collect():
            fps.setdefault(r["doc_id"], set()).add(r["fp"])
        assert fps[1] & fps[2]                      # guarantee fires
        assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
        assert len(fps[4]) == 1                     # one covering window
        assert 5 not in fps and 6 not in fps


class TestWinnowingPairs:
    def test_copied_passage_detected_whole_doc_sims_differ(self, spark):
        """A 8-word passage copied between two otherwise-disjoint documents
        produces a pair; documents with no shared run do not pair."""
        passage = "the sly fox crept along the river bank"
        docs = spark.createDataFrame(
            [
                (1, "intro words here " + passage + " and some closing remarks"),
                (2, "totally other opening " + passage + " different ending text"),
                (3, "no overlap at all in this one just noise tokens forever"),
            ],
            "doc_id long, text string",
        )
        got = {(r["a_id"], r["b_id"]): r["shared_fps"]
               for r in TX.winnowing_pairs(docs, min_shared=1).collect()}
        assert (1, 2) in got
        assert all(3 not in pair for pair in got)


class TestPrefixFilterPairs:
    @staticmethod
    def _expand_to_doc_pairs(rows, members):
        """Recompose the doc-level pair set from the rep-level output:
        cross rows -> family cross products, self rows -> within-family
        C(m,2) pairs. ``members`` maps rep id -> sorted member ids."""
        pairs = set()
        for r in rows:
            if r["a_id"] == r["b_id"]:
                fam = members[r["a_id"]]
                assert r["a_family"] == len(fam) and r["jac_ppm"] == 1000000
                pairs.update(
                    (x, y) for x in fam for y in fam if x < y
                )
            else:
                fa, fb = members[r["a_id"]], members[r["b_id"]]
                assert r["a_family"] == len(fa) and r["b_family"] == len(fb)
                pairs.update(
                    (min(x, y), max(x, y)) for x in fa for y in fb
                )
        return pairs

    def test_lossless_vs_bruteforce(self, spark):
        """The recomposed doc-level pair set must equal EXACTLY the
        brute-force threshold pairs — including pairs whose only shared
        tokens are corpus-whale tokens (the case a max_df-capped inverted
        index drops), and including within-family exact-duplicate pairs
        now carried by self rows + family sizes."""
        whale = "common filler stop word noise"  # appears in most docs
        docs = [
            (1, "alpha beta gamma delta " + whale),
            (2, "alpha beta gamma delta epsilon " + whale),
            (3, "alpha beta gamma delta " + whale),       # dup of 1
            (4, "omega psi chi phi " + whale),
            (5, whale + " " + whale),                     # whale-only doc
            (6, whale),                                   # exact whale set as 5
            (7, "totally disjoint tokens here nothing shared"),
            (8, None),
            (9, ""),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        rows = DD.prefix_filter_pairs(df).collect()
        # family membership by token set (what the operator collapses on)
        sets = {i: frozenset(t.split(" ")) for i, t in docs if t}
        members = {}
        for i, s in sets.items():
            rep = min(j for j, t in sets.items() if t == s)
            members.setdefault(rep, []).append(i)
        got = self._expand_to_doc_pairs(rows, members)
        # reps in the output must be the min-id of their family
        assert {r["a_id"] for r in rows} <= set(members)
        # brute force on python sets of whitespace tokens
        want = set()
        for a in sets:
            for b in sets:
                if a < b:
                    i = len(sets[a] & sets[b])
                    u = len(sets[a] | sets[b])
                    if 10 * i >= 7 * u:
                        want.add((a, b))
        assert got == want
        assert (5, 6) in want  # the whale-only pair IS found (via the
        # self row of their shared token-set family)
        assert (1, 3) in want  # exact dup pair, from family size not a row

    def test_integer_threshold_boundary(self, spark):
        """J exactly at 0.7 is kept; just below is dropped (ceil math)."""
        # |a|=|b|=10, shared=8 -> J = 8/12 = 0.666 (drop)
        # |a|=|b|=10, shared=9 -> J = 9/11 = 0.818 (keep)
        a = "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"
        b_keep = "t1 t2 t3 t4 t5 t6 t7 t8 t9 x1"
        b_drop = "t1 t2 t3 t4 t5 t6 t7 t8 y1 y2"
        df = spark.createDataFrame(
            [(1, a), (2, b_keep), (3, b_drop)], "doc_id long, text string"
        )
        got = {
            (r["a_id"], r["b_id"]): r["jac_ppm"]
            for r in DD.prefix_filter_pairs(df).collect()
        }
        assert (1, 2) in got and got[(1, 2)] == 1000000 * 9 // 11
        assert (1, 3) not in got

    def test_family_collapse_output_is_linear(self, spark):
        """A family of m exact copies emits ONE self row (not C(m,2)
        pairs) and near-dup cross rows carry both multiplicities."""
        copies = [(i, "alpha beta gamma delta epsilon zeta") for i in range(10)]
        near = [(100, "alpha beta gamma delta epsilon eta")]  # J = 5/7
        df = spark.createDataFrame(
            copies + near, "doc_id long, text string"
        )
        rows = DD.prefix_filter_pairs(df).collect()
        assert len(rows) == 2
        by_kind = {r["a_id"] == r["b_id"]: r for r in rows}
        self_row, cross = by_kind[True], by_kind[False]
        assert (self_row["a_id"], self_row["a_family"]) == (0, 10)
        assert self_row["jac_ppm"] == 1000000
        assert (cross["a_id"], cross["b_id"]) == (0, 100)
        assert (cross["a_family"], cross["b_family"]) == (10, 1)
        assert cross["jac_ppm"] == 1000000 * 5 // 7

    def test_positional_filter_is_lossless(self, spark):
        """PPJoin positional filter (opt-in) must not change the output:
        the overlap bound min(i-1,j-1) + min(|a|-i+1, |b|-j+1) >= O holds
        at every matching token for any truly-qualifying pair. Corpus mixes
        near-dups at the threshold boundary with heavy shared-vocabulary
        pairs BELOW it (the late-rank-match class the filter prunes)."""
        shared = " ".join(f"s{i}" for i in range(12))
        docs = [
            (1, shared + " a1 a2"),
            (2, shared + " a1 a3"),          # high-J near-dup of 1
            (3, shared + " b1 b2 b3 b4 b5 b6 b7"),  # shares vocab, sub-threshold
            (4, "s0 s1 s2 s3 q1 q2 q3 q4 q5 q6"),   # partial-vocab, sub-threshold
            (5, shared + " a1 a2"),          # exact dup of 1
            (6, "zz yy xx ww"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        base = sorted(map(tuple, DD.prefix_filter_pairs(df).collect()))
        pos = sorted(
            map(tuple, DD.prefix_filter_pairs(df, positional=True).collect())
        )
        assert pos == base
        assert any(r[0] != r[1] for r in base)  # cross pair present
        assert any(r[0] == r[1] for r in base)  # self row present


class TestPageRank:
    def test_matches_python_integer_reference(self, spark):
        """5 rounds over a small directed graph must equal a pure-Python
        implementation of the identical integer recurrence."""
        from map_spark_sql_spark.operators import graph as G

        edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 3), (5, 0)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["id"]: r["rank_pp12"] for r in G.pagerank(df, iters=5).collect()}

        nodes = sorted({u for e in edges for u in e})
        n = len(nodes)
        scale = 10**12
        base0, base = scale // n, (15 * (scale // n)) // 100
        outdeg = {}
        for s, _ in edges:
            outdeg[s] = outdeg.get(s, 0) + 1
        r = {v: base0 for v in nodes}
        for _ in range(5):
            inflow = {v: 0 for v in nodes}
            for s, t in edges:
                inflow[t] += r[s] // outdeg[s]
            r = {v: base + (85 * inflow[v]) // 100 for v in nodes}
        assert got == r

    def test_sink_only_vertex_gets_base(self, spark):
        """A vertex with in-edges but whose sources point elsewhere too,
        and a pure-source vertex (no in-edges) stays at the base value."""
        from map_spark_sql_spark.operators import graph as G

        df = spark.createDataFrame([(7, 8)], "src long, dst long")
        got = {r["id"]: r["rank_pp12"] for r in G.pagerank(df, iters=3).collect()}
        scale = 10**12
        base0, base = scale // 2, (15 * (scale // 2)) // 100
        assert got[7] == base  # no in-edges after round 1
        # 8 receives everything 7 emits each round
        r7, r8 = base0, base0
        for _ in range(3):
            r7, r8 = base, base + (85 * r7) // 100
        assert got[8] == r8


class TestTableDiff:
    def test_classification_and_null_safety(self, spark):
        from map_spark_sql_spark.operators import merge as MG

        old = spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, "d", 40.0)],
            "k long, s string, x double",
        )
        new = spark.createDataFrame(
            [(1, "a", 10.0),        # unchanged -> dropped
             (2, "b", None),        # NULL == NULL null-safely -> unchanged
             (3, "c", 31.0),        # update
             (5, "e", 50.0)],       # insert; 4 -> delete
            "k long, s string, x double",
        )
        rows = {
            r["k"]: r["change_type"]
            for r in MG.table_diff(old, new, on=["k"], compare=["s", "x"]).collect()
        }
        assert rows == {3: "update", 4: "delete", 5: "insert"}

    def test_null_to_value_is_update(self, spark):
        from map_spark_sql_spark.operators import merge as MG

        old = spark.createDataFrame([(1, None)], "k long, x double")
        new = spark.createDataFrame([(1, 2.0)], "k long, x double")
        out = MG.table_diff(old, new, on=["k"], compare=["x"]).collect()
        assert len(out) == 1 and out[0]["change_type"] == "update"


class TestBpeTrain:
    def test_three_rounds_match_hand_bpe(self, spark):
        """Corpus: 'aaab' x3, 'ab' x2 (plus junk filtered by ^[a-z]+$).
        Hand BPE: r1 pairs: (a,a): 2 per 'aaab' x3 = 6; (a,b): 1x3 + 1x2 = 5
        -> merge (a,a) n=6; 'aaab' -> [aa,a,b].
        r2 pairs: (aa,a) 3, (a,b) 5 -> merge (a,b) n=5; words: [aa,ab], [ab].
        r3 pairs: (aa,ab) 3 -> merge n=3."""
        docs = spark.createDataFrame(
            [(1, "aaab aaab Xno1 ab"), (2, "aaab ab"), (3, None)],
            "doc_id long, text string",
        )
        got = [
            (r["merge_round"], r["t1"], r["t2"], r["n"])
            for r in TX.bpe_train(docs, rounds=3)
            .orderBy("merge_round")
            .collect()
        ]
        assert got == [(1, "a", "a", 6), (2, "a", "b", 5), (3, "aa", "ab", 3)]

    def test_overlapping_run_merges_greedily(self, spark):
        """'aaaa': greedy (a,a) gives [aa, aa] -> round 2 merges (aa, aa),
        never the overlapping middle pair."""
        docs = spark.createDataFrame([(1, "aaaa")], "doc_id long, text string")
        got = [
            (r["merge_round"], r["t1"], r["t2"], r["n"])
            for r in TX.bpe_train(docs, rounds=2).orderBy("merge_round").collect()
        ]
        assert got == [(1, "a", "a", 3), (2, "aa", "aa", 1)]


class TestTriangleCounts:
    def test_k4_square_and_star(self, spark):
        """K4 on {0..3}: 4 triangles, every vertex in 3. Square {10..13}:
        none. Star center 20: none. Duplicate/reversed edges collapse."""
        from map_spark_sql_spark.operators import graph as G

        k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
        square = [(10, 11), (11, 12), (12, 13), (13, 10)]
        star = [(20, i) for i in range(21, 26)]
        dups = [(1, 0), (2, 1)]  # reversed duplicates of k4 edges
        df = spark.createDataFrame(k4 + square + star + dups, "src long, dst long")
        got = {r["id"]: r["triangles"] for r in G.triangle_counts(df).collect()}
        assert got == {0: 3, 1: 3, 2: 3, 3: 3}

    def test_two_shared_edge_triangles(self, spark):
        from map_spark_sql_spark.operators import graph as G

        # triangles (0,1,2) and (1,2,3) sharing edge (1,2)
        df = spark.createDataFrame(
            [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3)], "src long, dst long"
        )
        got = {r["id"]: r["triangles"] for r in G.triangle_counts(df).collect()}
        assert got == {0: 1, 1: 2, 2: 2, 3: 1}


class TestPersonalizedPageRank:
    def test_seed_teleport_only(self, spark):
        """Chain 0 -> 1 -> 2 with seeds={0}: only vertex 0 gets teleport
        mass; downstream vertices receive only propagated flow."""
        from map_spark_sql_spark.operators import graph as G

        df = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
        seeds = spark.createDataFrame([(0,)], "id long")
        got = {
            r["id"]: r["rank_pp12"]
            for r in G.pagerank(df, iters=2, seeds=seeds).collect()
        }
        scale = 10**12
        base0, base = scale, (15 * scale) // 100  # |S| = 1
        r = {0: base0, 1: 0, 2: 0}
        for _ in range(2):
            r = {
                0: base,
                1: (85 * r[0]) // 100,
                2: (85 * r[1]) // 100,
            }
        assert got == r

    def test_seed_outside_graph_ignored(self, spark):
        from map_spark_sql_spark.operators import graph as G

        df = spark.createDataFrame([(0, 1)], "src long, dst long")
        seeds = spark.createDataFrame([(0,), (99,)], "id long")  # 99 absent
        got = {
            r["id"]: r["rank_pp12"]
            for r in G.pagerank(df, iters=1, seeds=seeds).collect()
        }
        scale = 10**12  # |S ∩ V| = 1, not 2
        assert got[0] == (15 * scale) // 100
        assert got[1] == (85 * scale) // 100


class TestKcore:
    def test_chain_peels_to_nothing(self, spark):
        """A 6-chain has no 2-core: each pass peels only the endpoints
        (the adversarial diameter case), so 3 passes empty it."""
        from map_spark_sql_spark.operators import graph as G

        chain = [(i, i + 1) for i in range(6)]
        df = spark.createDataFrame(chain, "src long, dst long")
        assert G.kcore(df, k=2, rounds=3).count() == 0
        # bounded rounds: after only 1 pass the chain still has survivors
        assert G.kcore(df, k=2, rounds=1).count() > 0

    def test_k4_with_tail_keeps_core(self, spark):
        from map_spark_sql_spark.operators import graph as G

        k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
        tail = [(3, 10), (10, 11)]
        df = spark.createDataFrame(k4 + tail, "src long, dst long")
        got = {r["id"]: r["core_degree"] for r in G.kcore(df, k=3, rounds=4).collect()}
        assert got == {0: 3, 1: 3, 2: 3, 3: 3}

    def test_duplicate_and_reversed_edges_do_not_inflate_degree(self, spark):
        """The r11 window peel counts degree as rows per endpoint role of
        the SYMMETRIZED table — that is only the true degree because the
        edge set is canonicalized + distinct'd first. A triangle fed with
        duplicates and both orientations must still peel as degree 2."""
        from map_spark_sql_spark.operators import graph as G

        edges = [(0, 1), (1, 0), (0, 1), (1, 2), (2, 1), (0, 2), (2, 0), (0, 2)]
        df = spark.createDataFrame(edges, "src long, dst long")
        assert G.kcore(df, k=3, rounds=2).count() == 0
        got = {r["id"]: r["core_degree"] for r in G.kcore(df, k=2, rounds=2).collect()}
        assert got == {0: 2, 1: 2, 2: 2}

    def test_peel_plan_is_window_free_anti_join(self, spark, plan_nodes):
        """The r12 peel replaces the r11 per-round window counts (two full
        sort+shuffles of the edge table per round — the driver-board
        regression) with a partial-aggregable degree groupBy + anti-joins
        against the failing set: the plan must carry NO Window operator
        and one LeftAnti join pair per round. (Join strategy stays with
        the planner: the initial plan over unsized lazy-checkpoint leaves
        defaults to sort-merge; AQE rewrites to broadcast at runtime: at
        sf0.1 the r12 plan ran all 8 LeftAnti joins as BroadcastHashJoin.)"""
        from map_spark_sql_spark.operators import graph as G

        k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
        df = spark.createDataFrame(k4, "src long, dst long")
        # walked as built: on K4 with k=3 the failing set is empty, so AQE
        # removes every anti-join once the plan runs
        nodes = list(plan_nodes(G.kcore(df, k=3, rounds=4), execute=False))
        assert not [n for n, _ in nodes if n == "Window"]
        anti = [s for n, s in nodes if n.endswith("Join") and "LeftAnti" in s]
        assert len(anti) == 8, anti  # 2 per round x 4 rounds


class TestTrailingRangeStats:
    def test_frame_includes_ties_and_bound(self, spark):
        from map_spark_sql_spark.operators.timeseries import trailing_range_stats

        rows = [  # (key, ts_us, v)
            (1, 0, 10),
            (1, 50, 1),
            (1, 100, 2),
            (1, 100, 3),  # tie: RANGE frame takes both peers
            (1, 201, 4),  # frame [101, 201] holds only this row
        ]
        df = spark.createDataFrame(rows, "k long, ts_us long, v long")
        got = {
            (r["k"], r["ts_us"], r["v"]): (r["n"], r["s"])
            for r in trailing_range_stats(df, "k", "ts_us", "v", 100, "n", "s").collect()
        }
        assert got[(1, 0, 10)] == (1, 10)
        assert got[(1, 50, 1)] == (2, 11)       # [−50, 50] inclusive
        assert got[(1, 100, 2)] == (4, 16)      # 0,50,100,100 all in [0,100]
        assert got[(1, 100, 3)] == (4, 16)      # tied peer sees same frame
        assert got[(1, 201, 4)] == (1, 4)       # [101,201]: ties at 100 fall out


class TestParetoFrontier:
    def test_hand_frontier_with_ties(self, spark):
        from map_spark_sql_spark.operators.sampling import pareto_frontier

        rows = [  # (id, q, l)
            (1, 10, 100),  # frontier (max q, max l at q=10)
            (2, 10, 90),   # dominated by 1 (same q, smaller l)
            (3, 8, 100),   # dominated by 1 (smaller q, equal l)
            (4, 8, 120),   # frontier
            (5, 5, 120),   # dominated by 4
            (6, 5, 200),   # frontier
            (7, 5, 200),   # equal (q,l) tie with 6: both kept
            (8, 3, 150),   # dominated by 6/7
        ]
        df = spark.createDataFrame(rows, "doc_id long, q long, l long")
        got = {r["doc_id"] for r in pareto_frontier(df, "q", "l", "doc_id").collect()}
        assert got == {1, 4, 6, 7}

    def test_single_group(self, spark):
        from map_spark_sql_spark.operators.sampling import pareto_frontier

        df = spark.createDataFrame(
            [(1, 7, 10), (2, 7, 30), (3, 7, 30)], "doc_id long, q long, l long"
        )
        got = {r["doc_id"] for r in pareto_frontier(df, "q", "l", "doc_id").collect()}
        assert got == {2, 3}

    def test_continuous_criterion_guard_fires(self, spark):
        """A corpus-like distinct count on the criterion must raise (r11
        verdict ask #7) instead of silently sorting all per-q maxima in a
        single window partition at rung scale. The guard is in the plan:
        it raises when the frontier runs, not when it is built."""
        import pytest
        from pyspark.errors import SparkRuntimeException

        from map_spark_sql_spark.operators.sampling import pareto_frontier

        rows = [(i, i, i % 7) for i in range(50)]  # every q distinct
        df = spark.createDataFrame(rows, "doc_id long, q long, l long")
        out = pareto_frontier(df, "q", "l", "doc_id", max_distinct_q=10)
        with pytest.raises(SparkRuntimeException, match="distinct"):
            out.collect()
        # same data under the default bound still computes
        assert pareto_frontier(df, "q", "l", "doc_id").count() > 0

    def test_keep_cols_overlap_tolerated(self, spark):
        """keep_cols containing q_col/l_col must not produce an
        ambiguous-reference error (r11 advice #4): the projection dedupes."""
        from map_spark_sql_spark.operators.sampling import pareto_frontier

        df = spark.createDataFrame(
            [(1, 7, 10), (2, 8, 30)], "doc_id long, q long, l long"
        )
        out = pareto_frontier(df, "q", "l", "doc_id", "q")
        got = {r["doc_id"] for r in out.collect()}
        assert got == {2}
        assert out.columns == ["doc_id", "q", "l"]
        out.select("q")  # raises on an ambiguous duplicate column


class TestGroupedCorr:
    def test_matches_numpy(self, spark):
        """part_corr_qty_price's moment formula vs numpy's corrcoef/polyfit
        on the same floored-cent integers."""
        import numpy as np

        from map_spark_sql_spark.queries import part_corr_qty_price

        sf_dir_001 = "/root/testdata/sf0.001"
        got = {
            r["p_brand"]: (r["n_items"], r["corr_qty_price"], r["slope_cents_per_qty"])
            for r in part_corr_qty_price(spark, sf_dir_001).collect()
        }
        import duckdb

        con = duckdb.connect()
        ref = con.execute(
            f"""
            SELECT p.p_brand,
                   list(CAST(floor(l.l_quantity*100) AS BIGINT)) xs,
                   list(CAST(floor(l.l_extendedprice*100) AS BIGINT)) ys
            FROM '{sf_dir_001}/lineitem.parquet' l
            JOIN '{sf_dir_001}/part.parquet' p ON l.l_partkey = p.p_partkey
            GROUP BY p.p_brand
            """
        ).fetchall()
        for brand, xs, ys in ref:
            x, y = np.array(xs, dtype=float), np.array(ys, dtype=float)
            if len(x) < 2 or x.var() == 0 or y.var() == 0:
                assert brand not in got
                continue
            n, c, s = got[brand]
            assert n == len(x)
            assert abs(c - float(np.corrcoef(x, y)[0, 1])) < 1e-5
            assert abs(s - float(np.cov(x, y, bias=True)[0, 1] / x.var())) < 1e-4


class TestProfileColumns:
    def test_nulls_distincts_minmax(self, spark):
        from map_spark_sql_spark.operators.profile import profile_columns

        rows = [
            (1, "a"),
            (2, None),
            (2, "b"),
            (None, "b"),
        ]
        df = spark.createDataFrame(rows, "k long, s string")
        got = {
            r["column_name"]: (
                r["n_rows"], r["n_null"], r["n_distinct"], r["min_str"], r["max_str"]
            )
            for r in profile_columns(df, ["k", "s"]).collect()
        }
        assert got["k"] == (4, 1, 2, "1", "2")
        assert got["s"] == (4, 1, 2, "a", "b")

    def test_native_type_ordering(self, spark):
        """min/max run in the native type: bigint 9 < 10, though '10' < '9'."""
        from map_spark_sql_spark.operators.profile import profile_columns

        df = spark.createDataFrame([(9,), (10,)], "k long")
        got = profile_columns(df, ["k"]).collect()[0]
        assert (got["min_str"], got["max_str"]) == ("9", "10")

    def test_empty_cols_raises_value_error(self, spark):
        """profile_columns([]) must fail with a descriptive error, not an
        IndexError on the branch list (r11 advice #3)."""
        import pytest

        from map_spark_sql_spark.operators.profile import profile_columns

        df = spark.createDataFrame([(1,)], "k long")
        with pytest.raises(ValueError, match="non-empty"):
            profile_columns(df, [])

    def test_approx_same_schema_and_bound(self, spark):
        """profile_columns_approx keeps the exact schema (only n_distinct
        becomes an HLL++ estimate) and the bound verdicts hold — the
        contract events_profile_approx's oracle pins with literal TRUE."""
        from map_spark_sql_spark.operators.profile import (
            profile_approx_verdicts,
            profile_columns,
            profile_columns_approx,
        )

        rows = [(i % 97, f"s{i % 53}") for i in range(2000)] + [(None, None)]
        df = spark.createDataFrame(rows, "k long, s string")
        exact = profile_columns(df, ["k", "s"])
        approx = profile_columns_approx(df, ["k", "s"])
        assert exact.schema == approx.schema
        verdicts = profile_approx_verdicts(df, ["k", "s"]).collect()
        assert len(verdicts) == 2
        for r in verdicts:
            assert r["hll_within_bound"] is True
            assert r["n_rows"] == 2001 and r["n_null"] == 1


class TestQuantileNorm:
    def test_rank_ties_share_lower(self, spark):
        from map_spark_sql_spark.queries import docs_quality_quantile_norm  # noqa: F401
        from pyspark.sql import Window
        # pin the rank()/(n-1) convention on a hand multiset
        df = spark.createDataFrame(
            [(1, 5), (2, 5), (3, 7), (4, 9), (5, 9)], "doc_id long, q long"
        )
        r = df.withColumn("rk", F.rank().over(Window.orderBy("q")))
        got = {x["doc_id"]: x["rk"] for x in r.collect()}
        assert got == {1: 1, 2: 1, 3: 3, 4: 4, 5: 4}


class TestMedianExactHist:
    def test_agrees_with_interpolated_median(self, spark):
        """(med_lo + med_hi)/2 from the histogram equals percentile(.5)
        on the same integer cents — the two median operators cross-check."""
        from map_spark_sql_spark.queries import events_median_exact_hist

        sf = "/root/testdata/sf0.001"
        got = {
            r["event_type"]: (r["n_events"], r["med_lo_cents"], r["med_hi_cents"])
            for r in events_median_exact_hist(spark, sf).collect()
        }
        from map_spark_sql_spark.sources.readers import load_table

        ev = load_table(spark, sf, "events").selectExpr(
            "event_type", "CAST(floor(value * 100) AS BIGINT) AS cents"
        )
        ref = {
            r["event_type"]: r["m"]
            for r in ev.groupBy("event_type")
            .agg(F.expr("percentile(cents, 0.5)").alias("m"))
            .collect()
        }
        assert got
        for et, (n, lo, hi) in got.items():
            assert lo <= hi
            assert (lo + hi) / 2 == ref[et]
            if n % 2 == 1:
                assert lo == hi


class TestTypeBitmask:
    def test_mask_semantics(self, spark):
        from pyspark.sql import Row

        df = spark.createDataFrame(
            [Row(user_id=1, b=0), Row(user_id=1, b=2), Row(user_id=2, b=4)]
        )
        got = {
            r["user_id"]: r["mask"]
            for r in df.groupBy("user_id")
            .agg(F.expr("bit_or(CAST(1 AS BIGINT) << b)").alias("mask"))
            .collect()
        }
        assert got == {1: 0b101, 2: 0b10000}


class TestCusumClosedForm:
    def test_matches_recurrence(self, spark):
        """The two-window closed form equals the textbook
        max(0, s_prev + dev) recurrence on a hand series."""
        from map_spark_sql_spark.queries import _cusum_sql  # noqa: F401

        devs = [3, -5, 2, 2, -1, 4, -9, 1]
        # textbook recurrence
        s, expect = 0, []
        for d in devs:
            s = max(0, s + d)
            expect.append(s)
        # closed form: S_t - min(0, min prefix S)
        run, mn, got = 0, 0, []
        for d in devs:
            run += d
            mn = min(mn, run)
            got.append(run - min(0, mn))
        assert got == expect


class TestObservedIngest:
    def test_metrics_arrive_with_the_action(self, spark):
        from pyspark.sql import Observation
        from map_spark_sql_spark.sources.readers import load_table

        ev = load_table(spark, "/root/testdata/sf0.001", "events").filter(
            F.col("event_type").isin("purchase", "view")
        )
        obs = Observation("m")
        out = ev.observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("value").isNull().cast("long")).alias("n_null_value"),
        )
        n = out.select("event_id").count()
        got = obs.get
        assert got["n_rows"] == n
        assert got["n_null_value"] == ev.filter(F.col("value").isNull()).count()
