"""Spark-side smoke + semantics tests for the query-surface functions
(full cross-engine equivalence is asserted by tests/oracle_harness.py,
run in test_oracle_parity.py)."""

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_kmer_extract_matches_kernel(spark):
    from kmers_spark.functions import dna
    from kmers_spark.kernels import domain

    rows = dna.kmer_extract(spark, SF, 5).filter(F.col("doc_id") == 0).orderBy("pos").collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet").filter("doc_id = 0").collect()
    import re

    seq = re.sub("[^ACGT]", "", docs[0]["text"].upper())
    expected = [seq[i : i + 5] for i in range(len(seq) - 4)]
    assert [r["kmer"] for r in rows] == expected


def test_canonical_equals_kernel_semantics(spark):
    from kmers_spark.functions import dna
    from kmers_spark.kernels import domain
    import numpy as np

    rows = dna.canonical_kmers(spark, SF, 7).limit(200).collect()
    for r in rows:
        w = np.array([domain.pack_word(domain.seq_to_codes(r["kmer"]))], dtype=np.uint64)
        canon_word = int(domain.canonical_words(w, 7)[0])
        assert r["canonical"].lower() == domain.unpack_word(canon_word, 7)


def test_minimizer_plan_uses_bounded_window(spark):
    from kmers_spark.functions import dna

    plan = dna.minimizer_lex(spark, SF, 9, 4)._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan


def test_dedup_exact_finds_injected_dups(spark):
    from kmers_spark.functions import dedup

    out = dedup.exact_dedup(spark, SF)
    rows = out.collect()
    assert len(rows) > 0
    assert all(r["cnt"] >= 2 for r in rows)
    # keeper is always the original (low) doc_id
    assert all(r["keeper"] < 100000 for r in rows)


def test_minhash_identical_docs_share_all_bands(spark):
    from kmers_spark.functions import dedup

    pairs = dedup.minhash_lsh_pairs(spark, SF).collect()
    pairset = {(r["doc_a"], r["doc_b"]) for r in pairs}
    # every injected duplicate (d, d+100000) must be a candidate pair
    docs = spark.read.parquet(f"{SF}/documents.parquet").filter(
        F.col("text").isNotNull() & (F.size(F.split("text", " ")) >= 3)
    )
    ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    missing = [(d, d + 100000) for d in ids if (d, d + 100000) not in pairset]
    assert not missing, f"missing {len(missing)} injected dup pairs"


def test_ngram_jaccard_dups_score_1(spark):
    from kmers_spark.functions import dedup

    out = dedup.ngram_jaccard(spark, SF, threshold=0.99).collect()
    exact = [r for r in out if r["doc_b"] == r["doc_a"] + 100000]
    assert exact and all(abs(r["jaccard"] - 1.0) < 1e-9 for r in exact)


def test_simhash_identical_for_dups(spark):
    from kmers_spark.functions import dedup

    sh = dedup.simhash(spark, SF)
    a = sh.filter(F.col("doc_id") < 100000).withColumnRenamed("simhash", "h_a")
    b = sh.filter(F.col("doc_id") >= 100000).select(
        (F.col("doc_id") - 100000).alias("doc_id"), F.col("simhash").alias("h_b")
    )
    joined = a.join(b, "doc_id")
    assert joined.filter(F.col("h_a") != F.col("h_b")).count() == 0


def test_ann_bruteforce_topk(spark):
    from kmers_spark.functions import ann

    rows = ann.cosine_topk(spark, SF, query_id=0, k=5).collect()
    assert len(rows) == 5
    sims = [r["cosine"] for r in rows]
    assert sims == sorted(sims, reverse=True)
    assert all(-1.0 <= s <= 1.0 for s in sims)


def _emb_df(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_ann_null_element_gives_null_cosine(spark):
    """A null element inside an embedding nulls its cosine (zip_with's
    propagation), so it sorts last instead of entering the top-k as a
    NaN; the same holds for a pair rescore."""
    from kmers_spark.functions import ann

    e = _emb_df(spark, [(0, [1.0, 0.0, 1.0]), (1, [1.0, None, 1.0]),
                        (2, [0.0, 1.0, 0.0]), (3, [1.0, 0.5, 1.0]),
                        (4, None)])
    rows = ann.cosine_topk_df(e, query_id=0, k=10).collect()
    assert [r["vec_id"] for r in rows] == [3, 2, 1, 4]
    assert rows[0]["cosine"] is not None and rows[1]["cosine"] == 0.0
    assert rows[2]["cosine"] is None and rows[3]["cosine"] is None
    pairs = e.alias("a").join(e.alias("b"), F.col("a.vec_id") < F.col("b.vec_id")) \
        .select(F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb"),
                ann._cosine_pair(F.col("a.embedding"), F.col("b.embedding"))
                .alias("c"))
    got = {(r["va"], r["vb"]): r["c"] for r in pairs.collect()}
    assert got[(0, 1)] is None and got[(1, 3)] is None and got[(0, 4)] is None
    assert got[(0, 2)] == 0.0
    # a null element in the QUERY nulls every cosine
    rows = ann.cosine_topk_df(e, query_id=1, k=10).collect()
    assert rows and all(r["cosine"] is None for r in rows)


def test_ann_null_query_embedding_is_empty(spark):
    """Contract: a query row whose embedding is NULL, or no query row
    at all, returns an empty top-k."""
    from kmers_spark.functions import ann

    e = _emb_df(spark, [(0, None), (1, [1.0, 0.0]), (2, [0.0, 1.0])])
    assert ann.cosine_topk_df(e, query_id=0, k=5).collect() == []
    assert ann.cosine_topk_df(e, query_id=9, k=5).collect() == []
    cents = e.filter("vec_id > 0").select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_emb"))
    assert ann._ivf_topk_from_cents(e, cents, 0, 5, 2).collect() == []


def test_ann_lsh_subset_of_bruteforce_space(spark):
    from kmers_spark.functions import ann

    lsh = ann.ann_topk_lsh(spark, SF, query_id=0, k=5, n_planes=4).collect()
    assert len(lsh) >= 1  # bucket contains neighbors
    assert all(-1.0 <= r["cosine"] <= 1.0 for r in lsh)


def test_multimodal_feature_plumbing(spark):
    from kmers_spark.functions import multimodal

    media = multimodal.media_table(spark, SF)
    feats = multimodal.extract_features(media)
    rows = feats.limit(20).collect()
    assert rows and all(len(r["feature"]) == 8 for r in rows)
    assert all(r["width"] >= 64 and r["height"] >= 64 for r in rows)
    # deterministic: same input -> same features
    again = multimodal.extract_features(media).limit(20).collect()
    assert [r["feature"] for r in rows] == [r["feature"] for r in again]


def test_ann_recall_tradeoffs(spark):
    """Measured ANN quality on the deterministic corpus (recall@10 of
    each approximate path vs brute-force cosine):

      * IVF (nprobe 4/16 lists ~ 25% of the corpus scanned) reaches
        recall >= 0.8 — the right top-k path for UNSTRUCTURED embeddings.
      * hyperplane LSH prunes hard but recalls modestly here: random
        embeddings have no cluster structure and top-10 neighbors sit at
        cosine ~0.35 where sign-bit agreement is weak. Multi-probe
        (radius 1, Lv et al. VLDB'07) lifts recall ~0.1 -> ~0.3 while
        still scanning only (n_planes+1)/2^n_planes of the corpus.
        LSH's real strength is the near-dup regime (cosine >= 0.999),
        where embedding_dup_pairs finds EVERY planted duplicate
        (verified by its oracle; banded multi-table OR).
    """
    from kmers_spark.functions import ann

    sf = SF
    exact = {r["vec_id"] for r in ann.cosine_topk(spark, sf, 0, 10).collect()}
    ivf = {r["vec_id"] for r in ann.ann_ivf_topk(spark, sf, 0, 10).collect()}
    assert len(exact & ivf) / 10 >= 0.8, (exact, ivf)

    # Lloyd-refined centroids stay in the same recall band on this
    # (unstructured) corpus; their value is clustered real embeddings
    lloyd = {r["vec_id"] for r in ann.ann_ivf_lloyd_topk(spark, sf, 0, 10).collect()}
    assert len(exact & lloyd) / 10 >= 0.8, (exact, lloyd)

    # recall-tunable LSH: radius-2 probing beats radius-1 (measured
    # 0.36 -> 0.60 over 5 queries at sf0.01; single query here)
    r2 = {r["vec_id"] for r in
          ann.ann_topk_lsh(spark, sf, 0, 10, n_planes=6, probe_radius=2).collect()}
    r1 = {r["vec_id"] for r in
          ann.ann_topk_lsh(spark, sf, 0, 10, n_planes=6, probe_radius=1).collect()}
    assert len(exact & r2) >= len(exact & r1)
    multi = {r["vec_id"] for r in
             ann.ann_topk_lsh_multi(spark, sf, 0, 10).collect()}
    assert len(exact & multi) >= len(exact & r1)

    # near-dup regime: every vector's planted copy is recovered
    n_vecs = spark.read.parquet(f"{sf}/embeddings.parquet").count()
    pairs = ann.embedding_dup_pairs(spark, sf)
    assert pairs.count() == n_vecs


class TestPersistedIvfIndex:
    """IVF centroids as a store artifact: trained once, registered in
    the manifest via CAS commit, reused by later queries."""

    def test_build_register_reuse_and_serve(self, spark, tmp_path):
        from kmers_spark import manifest
        from kmers_spark.functions import ann
        from kmers_spark.operators.encode import encode_table

        df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        out = str(tmp_path / "emb")
        encode_table(df, out, key="vec_id", num_buckets=4, detect_skew=False)
        e1 = ann.build_ivf_index(spark, out, n_cents=8, iters=1)
        assert e1["n_cents"] == 8 and e1["path"].startswith("indexes/ivf_")
        m = manifest.load(out)
        assert m["indexes"]["ivf_embedding"] == e1
        # idempotent: second build returns the registration WITHOUT
        # retraining (structural: the trainer must not be called — a
        # wall-clock bound would flake under this host's throttle
        # bursts, BENCH/ROUND4.md)
        def boom(*a, **kw):
            raise AssertionError("retrained despite registered index")

        import kmers_spark.functions.ann as ann_mod

        orig = ann_mod.ivf_centroids_df
        ann_mod.ivf_centroids_df = boom
        try:
            e2 = ann.build_ivf_index(spark, out, n_cents=8, iters=1)
        finally:
            ann_mod.ivf_centroids_df = orig
        assert e2 == e1
        cents = ann.load_ivf_index(spark, out)
        assert cents.count() == 8
        assert cents.columns == ["cent_id", "cent_emb"]
        # served top-k equals live-trained top-k (same deterministic rule)
        got = ann._ivf_topk_from_cents(
            df.select("vec_id", "embedding"), cents, 0, 5, 2
        ).toPandas()
        live = ann._ivf_topk_from_cents(
            df.select("vec_id", "embedding"),
            ann.ivf_centroids_df(df.select("vec_id", "embedding"), 8, 1),
            0, 5, 2,
        ).toPandas()
        assert got.equals(live)

    def test_stale_index_retrains_after_append(self, spark, tmp_path):
        """Version pinning (VERDICT r4 #4): the entry records built_rows
        + built_at_version; after the store grows, load warns (or
        raises on request) and build retrains instead of reusing — a
        grown store can't silently serve centroids of the old data."""
        import os

        from kmers_spark import manifest
        from kmers_spark.functions import ann
        from kmers_spark.operators.encode import encode_table

        df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        out = str(tmp_path / "emb4")
        # first 2 of 4 buckets commit: a store mid-append
        encode_table(df, out, key="vec_id", num_buckets=4,
                     detect_skew=False, fail_buckets_over=2)
        e1 = ann.build_ivf_index(spark, out, n_cents=4, iters=1)
        assert e1["built_rows"] > 0
        assert e1["built_at_version"] >= 1
        # resume completes the remaining buckets: the store GREW
        encode_table(df, out, key="vec_id", num_buckets=4, detect_skew=False)
        with pytest.warns(UserWarning, match="stale"):
            ann.load_ivf_index(spark, out)
        with pytest.raises(RuntimeError, match="stale"):
            ann.load_ivf_index(spark, out, on_stale="raise")
        e2 = ann.build_ivf_index(spark, out, n_cents=4, iters=1)
        assert e2["built_rows"] > e1["built_rows"]
        assert e2["path"] != e1["path"]
        assert not os.path.exists(os.path.join(out, e1["path"]))  # reclaimed
        assert manifest.load(out)["indexes"]["ivf_embedding"] == e2
        # fresh again: no warning, reuse without retraining
        import warnings

        with warnings.catch_warnings():
            warnings.simplefilter("error")
            cents = ann.load_ivf_index(spark, out)
        assert cents.count() == 4
        # served result matches live training on the grown corpus
        got = ann._ivf_topk_from_cents(
            df.select("vec_id", "embedding"), cents, 0, 5, 2
        ).toPandas()
        live = ann._ivf_topk_from_cents(
            df.select("vec_id", "embedding"),
            ann.ivf_centroids_df(df.select("vec_id", "embedding"), 4, 1),
            0, 5, 2,
        ).toPandas()
        assert got.equals(live)

    def test_missing_index_loads_none(self, spark, tmp_path):
        from kmers_spark.functions import ann
        from kmers_spark.operators.encode import encode_table

        df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        out = str(tmp_path / "emb2")
        encode_table(df, out, key="vec_id", num_buckets=4, detect_skew=False)
        assert ann.load_ivf_index(spark, out) is None

    def test_spec_change_rebuilds_and_reclaims_old_dir(self, spark, tmp_path):
        import os

        from kmers_spark import manifest
        from kmers_spark.functions import ann
        from kmers_spark.operators.encode import encode_table

        df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        out = str(tmp_path / "emb3")
        encode_table(df, out, key="vec_id", num_buckets=4, detect_skew=False)
        e1 = ann.build_ivf_index(spark, out, n_cents=4, iters=1)
        e2 = ann.build_ivf_index(spark, out, n_cents=8, iters=1)
        assert e2["n_cents"] == 8 and e2["path"] != e1["path"]
        assert not os.path.exists(os.path.join(out, e1["path"]))  # reclaimed
        m = manifest.load(out)
        assert m["indexes"]["ivf_embedding"] == e2
        # only the live index dir remains under indexes/
        assert os.listdir(os.path.join(out, "indexes")) == [
            e2["path"].split("/", 1)[1]
        ]
