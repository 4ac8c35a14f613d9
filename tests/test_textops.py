"""Training-data ops over the driver's documents/embeddings tables
(sf0.001) plus synthetic near-dup fixtures."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgtk_spark.textops import (
    attach_binary_payload,
    brute_force_topk,
    cosine_pairs,
    doc_fingerprint,
    exact_dedup,
    extract_features_stub,
    language_id,
    lsh_bucketed_topk,
    minhash_near_dup,
    ngram_jaccard_pairs,
    quality_score,
    salted_join,
    simhash_near_dup,
    token_count,
)
from tests.conftest import TESTDATA

SF = f"{TESTDATA}/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def neardup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base),  # exact dup
        (3, base.replace("today", "tomorrow")),  # near dup
        (4, "completely different content about spark dataframes and shuffles"),
        (5, "yet another unrelated document mentioning knowledge graphs"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark):
    df = neardup_docs(spark)
    out = exact_dedup(df, ["text"])
    ids = {r["doc_id"] for r in out.collect()}
    assert 1 in ids and 2 not in ids
    assert ids == {1, 3, 4, 5}


def test_minhash_near_dup(spark):
    df = neardup_docs(spark)
    out = {r["doc_id"]: r["cluster_id"] for r in
           minhash_near_dup(df, num_hashes=64, bands=16, jaccard_threshold=0.5).collect()}
    assert out[1] == out[2] == out[3] == 1
    assert out[4] == 4 and out[5] == 5


def test_minhash_near_dup_releases_what_it_persists(spark):
    held = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keys())  # noqa: E731
    before = held()
    for df in (neardup_docs(spark), neardup_docs(spark).where("doc_id > 1")):
        assert minhash_near_dup(df, num_hashes=64, bands=16, jaccard_threshold=0.5).count() > 0
    assert held() - before == set()


def test_simhash_near_dup(spark):
    df = neardup_docs(spark)
    out = {r["doc_id"]: r["cluster_id"] for r in simhash_near_dup(df).collect()}
    assert out[1] == out[2] == 1  # identical text → identical simhash
    assert out[4] != out[1] or out[4] == 4


def test_ngram_jaccard_pairs(spark):
    df = neardup_docs(spark)
    out = ngram_jaccard_pairs(df, n=3, threshold=0.5).collect()
    pairs = {(r["u"], r["v"]): r["jaccard"] for r in out}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] >= 0.5
    assert (1, 4) not in pairs


def test_dedup_runs_on_real_documents(docs):
    out = minhash_near_dup(docs, jaccard_threshold=0.9)
    assert out.count() == docs.count()  # total assignment


def test_ngram_jaccard_df_cap_bounds_hot_shingle(spark):
    # 50 docs all sharing ONE boilerplate shingle plus a unique tail.
    # Uncapped, the hot shingle pairs every doc: 50*49/2 candidates.
    # With the DF cap it is dropped from the index → zero pairs.
    rows = [
        (i, f"all rights reserved unique{i} tail{i} words{i} here{i}")
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = ngram_jaccard_pairs(df, n=3, threshold=0.01, df_cap=None)
    assert uncapped.count() == 50 * 49 // 2  # the quadratic blowup
    capped = ngram_jaccard_pairs(df, n=3, threshold=0.01, df_cap=5)
    assert capped.count() == 0


def test_minhash_bucket_cap_skips_degenerate_bucket(spark):
    # 30 identical docs land in ONE LSH bucket per band. With recovery
    # OFF, over-cap buckets must be skipped (no quadratic self-join),
    # leaving every doc a singleton; with the cap above the bucket size
    # they cluster.
    rows = [(i, "exact same template page body text") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {
        r["doc_id"]: r["cluster_id"]
        for r in minhash_near_dup(df, bucket_cap=5, recover_residue=False,
                                  log_skipped=False).collect()
    }
    assert all(capped[i] == i for i in range(30))
    uncapped = {
        r["doc_id"]: r["cluster_id"]
        for r in minhash_near_dup(df, bucket_cap=100).collect()
    }
    assert all(uncapped[i] == 0 for i in range(30))


def test_minhash_overcap_residue_recovery(spark):
    """Template corpus where every interesting bucket is over-cap: the
    recovery pass (default ON) must restore the pairs the cap dropped.

    - 15 exact copies of template X and 15 of template Y → stage 1
      (full-signature collapse) star-pairs each family linearly;
    - 6 near-identical X *variants* (one token changed) share X's
      over-cap buckets, so the first pass drops them too → stage 2
      (2x-bands re-band of the one-doc-per-signature representatives)
      recovers (X, variant) candidates, and exact-Jaccard verification
      keeps them, merging variants into X's cluster;
    - X and Y stay separate (verification rejects any stray pair)."""
    tx = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    ty = "one two three four five six seven eight nine ten " * 3
    rows = (
        [(i, tx) for i in range(15)]
        + [(100 + i, ty) for i in range(15)]
        + [(200 + i, tx + f" variant{i}") for i in range(6)]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")

    off = {
        r["doc_id"]: r["cluster_id"]
        for r in minhash_near_dup(df, bucket_cap=10, jaccard_threshold=0.5,
                                  recover_residue=False,
                                  log_skipped=False).collect()
    }
    on = {
        r["doc_id"]: r["cluster_id"]
        for r in minhash_near_dup(df, bucket_cap=10,
                                  jaccard_threshold=0.5).collect()
    }
    # without recovery the cap dropped everything — all singletons
    assert all(off[k] == k for k in off)
    # recovery: X copies + variants one cluster, Y copies another
    assert all(on[i] == 0 for i in range(15))
    assert all(on[100 + i] == 100 for i in range(15))
    assert all(on[200 + i] == 0 for i in range(6))


def test_minhash_cluster_id_is_numeric_min(spark):
    # ids chosen so string-min ("290" < "98") differs from numeric min.
    rows = [
        (98, "identical duplicated body of shared text content here"),
        (290, "identical duplicated body of shared text content here"),
        (300, "completely unrelated page about spark shuffles and joins"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["cluster_id"] for r in minhash_near_dup(df).collect()}
    assert out == {98: 98, 290: 98, 300: 300}


def test_brute_force_topk(spark, emb):
    q = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    out = brute_force_topk(emb, list(q), k=5).collect()
    assert out[0]["vec_id"] == 0 and abs(out[0]["score"] - 1.0) < 1e-6
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_lsh_topk_overlaps_exact(spark, emb):
    q = list(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    exact = {r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()}
    approx = {
        r["vec_id"]
        for r in lsh_bucketed_topk(emb, q, k=10, bits=5, probe_hamming=2).collect()
    }
    assert 0 in approx
    assert len(exact & approx) >= 3  # approximate, but not garbage


def test_lsh_signature_matrix_udf_parity_low_dim(spark, emb):
    """the Arrow matmul path and the JVM expression path must produce
    IDENTICAL packed signatures (same planes, same sign convention)."""
    import numpy as np

    from kgtk_spark.textops.similarity import _hyperplanes, lsh_signature

    dim = len(emb.select("embedding").first()[0])
    planes = _hyperplanes(dim, 6, seed=7)
    expr = {r["vec_id"]: r["s"] for r in emb.select(
        "vec_id", lsh_signature(F.col("embedding"), planes,
                                matrix_udf=False).alias("s")).collect()}
    mat = {r["vec_id"]: r["s"] for r in emb.select(
        "vec_id", lsh_signature(F.col("embedding"), planes,
                                matrix_udf=True).alias("s")).collect()}
    assert expr == mat and len(expr) > 0


def test_lsh_signature_high_dim_auto_matrix_and_small_plan(spark):
    """dim=768 x bits=16 crosses MATRIX_UDF_CELLS: the auto path must
    pick the matrix UDF, the plan must stay one small node (not tens of
    thousands of literals), and results must match the expression path."""
    import numpy as np

    from kgtk_spark.textops.similarity import (
        MATRIX_UDF_CELLS, _hyperplanes, lsh_signature,
    )

    dim, bits = 768, 16
    assert dim * bits >= MATRIX_UDF_CELLS
    rng = np.random.RandomState(3)
    vecs = rng.randn(12, dim)
    df = spark.createDataFrame(
        [(i, [float(v) for v in vecs[i]]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    planes = _hyperplanes(dim, bits, seed=5)
    auto = df.select(
        "vec_id", lsh_signature(F.col("embedding"), planes).alias("s")
    )
    plan = auto._jdf.queryExecution().optimizedPlan().toString()
    assert "ArrowEvalPython" in plan or "pythonUDF" in plan.lower()
    assert len(plan) < 20_000, f"plan blew up: {len(plan)} chars"
    a = {r["vec_id"]: r["s"] for r in auto.collect()}
    e = {r["vec_id"]: r["s"] for r in df.select(
        "vec_id", lsh_signature(F.col("embedding"), planes,
                                matrix_udf=False).alias("s")).collect()}
    assert a == e


def test_cosine_pairs_finds_self_similarity(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [1.0, 0.001, 0.0]),
        (3, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {(r["u"], r["v"]) for r in cosine_pairs(df, threshold=0.99, bits=4).collect()}
    assert (1, 2) in out and (1, 3) not in out


def test_repetition_signals(spark):
    from kgtk_spark.textops.quality import repetition_signals

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),          # one word repeated 4×
            (2, "all words here are distinct"),  # no repetition
            (3, "x"),                            # too short → excluded
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in repetition_signals(df).collect()}
    assert out[1]["n_tokens"] == 4
    assert out[1]["top_word_frac"] == 1.0
    assert out[1]["dup_word_frac"] == 1.0
    assert out[1]["top_bigram_frac"] == 1.0  # "spam spam" 3× of 3 bigrams
    assert out[2]["top_word_frac"] == 0.2
    assert out[2]["dup_word_frac"] == 0.0
    assert 3 not in out


def test_token_count_and_quality(spark):
    df = spark.createDataFrame(
        [(1, "hello world foo bar baz quux longer"), (2, ""), (3, "a, b, c, d!!! ..,;;;")],
        "doc_id long, text string",
    )
    tc = {r["doc_id"]: r["n_tokens"] for r in token_count(df).collect()}
    assert tc == {1: 7, 2: 0, 3: 5}
    q = {r["doc_id"]: r["quality"] for r in quality_score(df).collect()}
    assert q[1] > q[3]  # punctuation soup scores worse


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, "der hund und die katze und der vogel"),
            (3, "xyzzy plugh"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["lang_pred"] for r in language_id(df).collect()}
    assert out == {1: "en", 2: "de", 3: "und"}


def test_fingerprint_normalizes_whitespace(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "other")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["fingerprint"] for r in doc_fingerprint(df).collect()}
    assert out[1] == out[2] != out[3]


def test_salted_join_matches_plain_join(spark):
    left = spark.createDataFrame(
        [(1, "hub"), (2, "hub"), (3, "rare")], "id long, k string"
    )
    right = spark.createDataFrame([("hub", "H"), ("rare", "R")], "k string, v string")
    got = {(r["id"], r["v"]) for r in salted_join(left, right, "k", salt_buckets=4).collect()}
    expect = {(r["id"], r["v"]) for r in left.join(right, "k").collect()}
    assert got == expect


def test_multimodal_stub(docs):
    with_payload = attach_binary_payload(docs.limit(20))
    assert "payload" in with_payload.columns
    feats = extract_features_stub(with_payload).collect()
    assert len(feats) == 20
    for r in feats:
        assert r["n_bytes"] > 0
        assert len(r["histogram"]) == 16
        assert sum(r["histogram"]) == r["n_bytes"]


def test_decode_stub_raises():
    from kgtk_spark.textops.multimodal import _decode_real

    with pytest.raises(NotImplementedError):
        _decode_real(b"x")


def test_ivf_topk_overlaps_exact(spark, emb):
    from kgtk_spark.textops.similarity import ivf_build, ivf_topk

    q = list(emb.filter(F.col("vec_id") == 0).select("embedding").first()[0])
    assigned, centroids = ivf_build(emb, n_lists=8)
    assigned = assigned.cache()
    exact = {r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()}
    approx = {
        r["vec_id"] for r in ivf_topk(assigned, centroids, q, k=10, nprobe=3).collect()
    }
    assert 0 in approx  # the query vector itself lives in a probed list
    assert len(exact & approx) >= 5  # good recall at nprobe=3/8
    # full probe == exact
    full = {
        r["vec_id"] for r in ivf_topk(assigned, centroids, q, k=10, nprobe=8).collect()
    }
    assert full == exact


def test_ivf_recall_gate(spark, emb):
    """Recall@10 of the IVF path vs exhaustive cosine_topk, averaged
    over 10 fixture queries at nprobe=4/8 — the quality number behind
    the 'ANN scales to 100 TB' claim (r5 review item #6)."""
    from kgtk_spark.textops.similarity import ivf_build, ivf_topk

    assigned, centroids = ivf_build(emb, n_lists=8)
    assigned = assigned.cache()
    queries = emb.filter(F.col("vec_id") < 10).select(
        "vec_id", "embedding"
    ).collect()
    hits = total = 0
    for row in queries:
        q = list(row["embedding"])
        exact = {r["vec_id"] for r in brute_force_topk(emb, q, k=10).collect()}
        approx = {
            r["vec_id"]
            for r in ivf_topk(assigned, centroids, q, k=10, nprobe=4).collect()
        }
        hits += len(exact & approx)
        total += len(exact)
    recall = hits / total
    assert recall >= 0.9, f"IVF recall@10 at nprobe=4: {recall:.3f} < 0.9"


def test_clean_corpus_composition(spark):
    from kgtk_spark.textops import clean_corpus

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),                                   # survives
        (2, base),                                   # exact dup of 1 → dropped
        (3, base.replace("today", "tomorrow")),      # near dup of 1 → dropped
        (4, "der hund und die katze und der vogel sind hier"),  # German → dropped
        (5, "spam spam spam spam spam spam"),        # repetition → dropped
        (6, "too short"),                            # < 5 tokens → dropped
        (7, "this is a different document and the content is about the spark shuffles"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in clean_corpus(df, jaccard_threshold=0.5).collect()}
    assert set(out) == {1, 7}
    assert out[1]["lang_pred"] == "en"


def test_paragraph_dedup_ccnet(spark):
    from kgtk_spark.textops.dedup import paragraph_dedup

    boiler = "Accept cookies to continue"
    docs = spark.createDataFrame(
        [
            ("d1", f"{boiler}\nunique first body\nshared 42 line!"),
            ("d2", f"{boiler}\nanother body here\nShared   line"),  # normalizes equal
            ("d3", "totally distinct document"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["text"] for r in paragraph_dedup(docs).collect()}
    # boilerplate and the normalized-equal 'shared line' pair are gone
    assert out["d1"] == "unique first body"
    assert out["d2"] == "another body here"
    assert out["d3"] == "totally distinct document"

    # order preservation with multiple survivors
    docs2 = spark.createDataFrame(
        [("a", "one\nCOMMON\ntwo\nthree"), ("b", "COMMON\nother")],
        ["doc_id", "text"],
    )
    out2 = {r["doc_id"]: r["text"] for r in paragraph_dedup(docs2).collect()}
    assert out2["a"] == "one\ntwo\nthree"
    assert out2["b"] == "other"

    # raw (non-normalized) matching is opt-out
    out3 = {
        r["doc_id"]: r["text"]
        for r in paragraph_dedup(docs, normalize=False).collect()
    }
    assert "shared 42 line!" in out3["d1"]  # differs byte-wise from d2's


def test_scrub_pii(spark):
    from kgtk_spark.textops.quality import scrub_pii

    docs = spark.createDataFrame(
        [
            ("d1", "mail me at jo.doe+spam@example.co.uk or call +1 555 123 4567"),
            ("d2", "server at 10.0.0.1 and 192.168.1.254; version 1.2 is fine"),
            ("d3", "nothing sensitive here"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in scrub_pii(docs).collect()}
    assert out["d1"]["text"] == "mail me at <EMAIL> or call <PHONE>"
    assert out["d1"]["pii_email"] == 1 and out["d1"]["pii_phone"] == 1
    assert out["d2"]["text"] == "server at <IP> and <IP>; version 1.2 is fine"
    assert out["d2"]["pii_ipv4"] == 2 and out["d2"]["pii_email"] == 0
    assert out["d3"]["text"] == "nothing sensitive here"
    assert out["d3"]["pii_email"] == out["d3"]["pii_ipv4"] == out["d3"]["pii_phone"] == 0


def test_knn_join_matches_per_query_brute_force(spark):
    import numpy as np

    from kgtk_spark.textops.similarity import brute_force_topk, knn_join

    rng = np.random.RandomState(3)
    vecs = rng.randn(40, 8).astype("float32")
    corpus = spark.createDataFrame(
        [(i, [float(v) for v in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    queries = corpus.limit(5).withColumnsRenamed({"vec_id": "query_id"})

    out = knn_join(
        queries, corpus, k=3, exclude_same_id=True
    ).collect()
    got = {}
    for r in out:
        got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    assert set(got) == {0, 1, 2, 3, 4}
    for qid, neighbors in got.items():
        expect = [
            r["vec_id"]
            for r in brute_force_topk(
                corpus, [float(v) for v in vecs[qid]], k=3, exclude_ids=[qid]
            ).collect()
        ]
        assert [n for _, n in sorted(neighbors)] == expect, qid


def test_knn_join_chunked_broadcast_parity(spark):
    """broadcast_chunk_rows below |Q| forces the chunked-broadcast path;
    results must be identical to the single-broadcast path."""
    import numpy as np

    from kgtk_spark.textops.similarity import knn_join

    rng = np.random.RandomState(7)
    vecs = rng.randn(30, 6).astype("float32")
    corpus = spark.createDataFrame(
        [(i, [float(v) for v in vecs[i]]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    queries = corpus.limit(7).withColumnsRenamed({"vec_id": "query_id"})

    key = lambda r: (r["query_id"], r["rank"], r["neighbor_id"], r["score"])  # noqa: E731
    plain = sorted(map(key, knn_join(queries, corpus, k=4).collect()))
    chunked = sorted(
        map(key, knn_join(queries, corpus, k=4, broadcast_chunk_rows=2).collect())
    )
    assert chunked == plain and len(plain) == 7 * 4


def test_knn_join_chunked_corpus_cached_once(spark):
    """the chunked path localCheckpoints both inputs: the union's
    branches read checkpointed-RDD scans (ONE corpus materialization,
    not one source scan per chunk), and the cached blocks are visible
    in storage after the action — reference-tracked, no persist leak."""
    import numpy as np

    from kgtk_spark.textops.similarity import knn_join

    rng = np.random.RandomState(11)
    vecs = rng.randn(20, 5).astype("float32")
    corpus = spark.createDataFrame(
        [(i, [float(v) for v in vecs[i]]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    queries = corpus.limit(6).withColumnsRenamed({"vec_id": "query_id"})
    out = knn_join(queries, corpus, k=2, broadcast_chunk_rows=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # every union branch reads the checkpointed RDDs — the original
    # source scan appears ZERO times per chunk
    assert "ExistingRDD" in plan and "LocalTableScan" not in plan
    assert len(out.collect()) == 6 * 2
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    assert any(i.numCachedPartitions() > 0 for i in infos)


def test_canonicalize_url_and_url_dedup(spark):
    from kgtk_spark.textops.dedup import canonicalize_url, url_dedup

    rows = [
        (1, "HTTP://Example.com:80/a/b/?utm_source=x&q=1&utm_medium=y#frag"),
        (2, "http://example.com/a/b?q=1"),            # same page, clean form
        (3, "https://example.com/a/b?q=1"),           # different scheme → kept
        (4, "https://Example.COM:443/only-tracking?utm_campaign=z&fbclid=abc"),
        (5, "https://example.com/only-tracking"),     # dup of 4 post-cleanup
        (6, "https://example.com/trail/"),
        (7, "https://example.com/trail"),
        # NON-default ports must survive: :443 is not a default for
        # http, :80 not for https — stripping them would conflate
        # distinct origins
        (8, "http://example.com:443/x"),
        (9, "https://example.com:80/x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    canon = {r["doc_id"]: r["canonical_url"]
             for r in canonicalize_url(df).collect()}
    assert canon[1] == "http://example.com/a/b?q=1"
    assert canon[1] == canon[2]
    assert canon[3] == "https://example.com/a/b?q=1"
    assert canon[4] == canon[5] == "https://example.com/only-tracking"
    assert canon[6] == canon[7] == "https://example.com/trail"
    assert canon[8] == "http://example.com:443/x"
    assert canon[9] == "https://example.com:80/x"

    out = {r["canonical_url"]: (r["doc_id"], r["n_dupes"])
           for r in url_dedup(df).collect()}
    assert out["http://example.com/a/b?q=1"] == (1, 2)
    assert out["https://example.com/only-tracking"] == (4, 2)
    assert out["https://example.com/trail"] == (6, 2)
    assert len(out) == 6


def test_stable_sample_deterministic_and_nesting(spark):
    from kgtk_spark.textops.sketches import stable_sample

    import pytest

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s10 = {r["doc_id"] for r in stable_sample(df, "doc_id", 0.10).collect()}
    s30 = {r["doc_id"] for r in stable_sample(df, "doc_id", 0.30).collect()}
    # deterministic: same selection on rerun
    assert s10 == {r["doc_id"] for r in stable_sample(df, "doc_id", 0.10).collect()}
    # nesting: a 10% sample is a subset of the 30% sample
    assert s10 <= s30
    # rates are approximately honored (±4 pp at n=2000)
    assert 0.06 < len(s10) / 2000 < 0.14
    # a salt containing a single quote is DATA, not SQL syntax — the
    # hash is built from column functions, so this must neither raise
    # nor change semantics (different salt → independent sample)
    sq = {r["doc_id"] for r in stable_sample(df, "doc_id", 0.10, salt="o'brien").collect()}
    assert sq == {r["doc_id"] for r in stable_sample(df, "doc_id", 0.10, salt="o'brien").collect()}
    assert sq != s10
    assert 0.26 < len(s30) / 2000 < 0.34
    # salts decorrelate: overlap of two independent 30% samples ≈ 9%
    other = {r["doc_id"]
             for r in stable_sample(df, "doc_id", 0.30, salt="x").collect()}
    assert len(s30 & other) / 2000 < 0.2
    with pytest.raises(ValueError):
        stable_sample(df, "doc_id", 1.5)


def test_line_repetition_signals(spark):
    from kgtk_spark.textops.quality import line_repetition_signals

    docs = spark.createDataFrame(
        [
            (1, "unique one\nrepeat me\nrepeat me\nunique two"),
            (2, "a\nb\nc"),
            (3, "same\nsame\nsame"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in line_repetition_signals(docs).collect()}
    assert out[1]["n_lines"] == 4
    assert out[1]["dup_line_frac"] == 0.5       # 2 of 4 lines duplicated
    # chars: 10+9+9+10=38, dup 18 → 18/38
    assert abs(out[1]["dup_line_char_frac"] - round(18 / 38, 6)) < 1e-9
    assert out[2]["dup_line_frac"] == 0.0
    assert out[3]["dup_line_frac"] == 1.0


def test_c4_filters(spark):
    from kgtk_spark.textops.quality import c4_filters

    docs = spark.createDataFrame(
        [
            (1, "This is a fine sentence.\nno punct line\nAnother good one!\n"
                "Also this works fine?\nShort.\nAnd one more here."),
            (2, "lorem ipsum dolor sit amet.\nGood sentence here.\n"
                "More text follows now.\nEven more text here.\nLast line here."),
            (3, "function foo() { return 1; }\nReal sentence one.\n"
                "Real sentence two here.\nReal sentence three here.\n"
                "Real sentence four now.\nReal sentence five done."),
            (4, "Only two sentences here. That is all."),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           c4_filters(docs, min_words_per_line=3, min_sentences=4).collect()}
    # line filter: "no punct line" (no terminal punct) and "Short."
    # (< 3 words) both drop
    assert "no punct line" not in out[1]["clean_text"]
    assert "Short." not in out[1]["clean_text"]
    assert out[1]["n_kept_lines"] == 4 and out[1]["c4_keep"] is True
    assert out[2]["has_lorem_ipsum"] is True and out[2]["c4_keep"] is False
    assert out[3]["has_curly_brace"] is True and out[3]["c4_keep"] is False
    assert out[4]["n_sentences"] == 2 and out[4]["c4_keep"] is False


def test_gopher_quality_flags(spark):
    from kgtk_spark.textops.quality import gopher_quality_flags

    good = ("the quick brown fox and the lazy dog have been seen to run "
            "with great speed over many of those green fields that stretch")
    docs = spark.createDataFrame(
        [
            (1, good),                               # passes everything
            (2, "short text"),                       # fails word count
            (3, "- item one\n- item two\n- item three"),  # all bullets
            (4, "## ## ## " * 10 + good),            # symbol ratio blown
            (5, "zz qq ww " * 10),                   # no stopwords, short words
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           gopher_quality_flags(docs, min_words=15,
                                max_bullet_frac=0.5).collect()}
    assert out[1]["gopher_pass"] is True
    assert out[2]["pass_word_count"] is False and out[2]["gopher_pass"] is False
    assert out[3]["pass_bullets"] is False
    assert out[4]["pass_symbol_ratio"] is False
    assert out[5]["pass_stopwords"] is False
    assert out[5]["pass_mean_word_len"] is False  # mean len 2 < 3


def test_token_df(spark):
    from kgtk_spark.textops.quality import token_df

    docs = spark.createDataFrame(
        [(1, "The cat sat"), (2, "the cat ran"), (3, "a dog ran ran")],
        "doc_id long, text string",
    )
    out = {r["token"]: (r["df"], r["total_tf"]) for r in token_df(docs).collect()}
    assert out["the"] == (2, 2)       # lowercased merge of The/the
    assert out["cat"] == (2, 2)
    assert out["ran"] == (2, 3)       # doc 3 counts once for df, twice for tf
    assert out["a"] == (1, 1)


def test_remove_duplicate_spans(spark):
    from kgtk_spark.textops.dedup import remove_duplicate_spans

    boiler = "all rights reserved contact us for terms"  # 7 tokens
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {boiler} gamma"),
            (2, f"delta {boiler} epsilon zeta"),
            (3, "totally unique text with no repeats at all"),
            (4, boiler),             # exactly one 7-gram: the hot one → ""
            (5, f"{boiler} extra"),  # hot gram covers pos 0-6 → "extra"
            (6, "six tokens only in here now"),  # < n → no gram, untouched
        ],
        "doc_id long, text string",
    )
    # n=7: the boilerplate is exactly one 7-gram, repeated across docs
    out = {r["doc_id"]: r["text"]
           for r in remove_duplicate_spans(docs, n=7).collect()}
    assert out[1] == "alpha beta gamma"
    assert out[2] == "delta epsilon zeta"
    assert out[3] == "totally unique text with no repeats at all"
    assert out[4] == ""
    assert out[5] == "extra"
    assert out[6] == "six tokens only in here now"

    # a doc that is ENTIRELY a repeated span keeps an empty row
    dup = spark.createDataFrame(
        [(1, "one two three four"), (2, "one two three four"),
         (3, "five six seven eight")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"]
           for r in remove_duplicate_spans(dup, n=4).collect()}
    assert out[1] == "" and out[2] == ""
    assert out[3] == "five six seven eight"


def test_remove_duplicate_spans_keep_first(spark):
    """policy='keep_first' (Lee et al. semantics): the minimal
    (doc_id, position) occurrence of each hot gram SURVIVES; only the
    later copies are cut — across docs and within one doc."""
    from kgtk_spark.textops.dedup import remove_duplicate_spans

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "x y a b c d e f z"),     # later copy of doc 1's span
            (3, "p q r s t p q r s t"),   # within-doc repeat
            (4, "no duplicated content in this row"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"]
           for r in remove_duplicate_spans(docs, n=4,
                                           policy="keep_first").collect()}
    assert out[1] == "a b c d e f"        # first occurrence kept intact
    assert out[2] == "x y z"              # later copy removed
    assert out[3] == "p q r s t"          # second in-doc copy removed
    assert out[4] == "no duplicated content in this row"
    # default policy drops BOTH copies — sanity contrast
    both = {r["doc_id"]: r["text"]
            for r in remove_duplicate_spans(docs, n=4).collect()}
    assert both[1] == "" and both[2] == "x y z"


def test_decontaminate(spark):
    from kgtk_spark.textops.dedup import decontaminate

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "a totally different sentence with no overlap at all here"),
            (3, "prefix words then the quick brown fox jumps over the lazy dog"),
            (4, "quick brown fox jumps over the lazy"),  # only a 7-gram → clean at n=8
            (5, "short doc"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("xx the quick brown fox jumps over the lazy dog yy",)], "text string"
    )
    out = {r["doc_id"]: r["contaminated"]
           for r in decontaminate(docs, bench, n=8).collect()}
    assert out == {1: True, 2: False, 3: True, 4: False, 5: False}

    # every doc keeps a row even when nothing is contaminated
    clean = decontaminate(docs, bench.limit(0), n=8)
    assert {r["contaminated"] for r in clean.collect()} == {False}
    assert clean.count() == 5

    # forcing the shuffle path (threshold 0) gives identical answers
    shuf = {r["doc_id"]: r["contaminated"]
            for r in decontaminate(docs, bench, n=8,
                                   broadcast_threshold=0).collect()}
    assert shuf == out


def test_token_count_bpe_regex(spark):
    from kgtk_spark.textops.quality import token_count

    df = spark.createDataFrame(
        [("a", "I'll say hello-world 42 times!"), ("b", "")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in
           token_count(token_count(df), out_col="n_bpe", method="bpe_regex").collect()}
    assert out["a"]["n_tokens"] == 5
    # I | 'll | _say | _hello | - | world | _42 | _times | !
    assert out["a"]["n_bpe"] == 9
    assert out["b"]["n_tokens"] == 0 and out["b"]["n_bpe"] == 0


def test_unigram_cross_entropy(spark):
    """xent must rank an all-common-token doc below (lower xent) a doc
    of corpus-rare tokens, and the values must match the closed form."""
    import math

    from kgtk_spark.textops.quality import unigram_cross_entropy

    # corpus: "the" x 8, "rare" x 1, "word" x 1  (total 10 tokens)
    docs = spark.createDataFrame(
        [(1, "the the the the"), (2, "the the the the"),
         (3, "rare word")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in unigram_cross_entropy(docs).collect()}
    assert out[1]["n_tokens"] == 4
    assert abs(out[1]["unigram_xent"] - (-math.log2(8 / 10))) < 1e-6
    assert abs(out[3]["unigram_xent"] - (-math.log2(1 / 10))) < 1e-6
    assert out[3]["unigram_xent"] > out[1]["unigram_xent"]
    # the skew-proof tf-weighted plan must agree with the default to
    # the ROUND(6) contract on every row
    tfw = {
        r["doc_id"]: r
        for r in unigram_cross_entropy(docs, tf_weighted=True).collect()
    }
    assert set(tfw) == set(out)
    for k in out:
        assert tfw[k]["n_tokens"] == out[k]["n_tokens"]
        assert abs(tfw[k]["unigram_xent"] - out[k]["unigram_xent"]) < 1e-9


def test_tfidf_top_terms(spark):
    """a token unique to one doc must outrank corpus-wide boilerplate."""
    from kgtk_spark.textops.quality import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "common common zebra"), (2, "common common common"),
         (3, "common aardvark")],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["rank"], r["token"], r["score"]))
    # equal tf: the rare token's idf wins (aardvark 1.693 vs common 1.0)
    assert sorted(by_doc[3])[0][1] == "aardvark"
    assert sorted(by_doc[2]) == [(1, "common", 3.0)]  # only token
    # smoothed idf: df=N token scores exactly tf (ln((N+1)/(N+1))+1 = 1)
    d1 = {t: s for _, t, s in by_doc[1]}
    assert d1["common"] == 2.0
    assert abs(d1["zebra"] - 1.693147) < 1e-6
    assert all(r["rank"] <= 2 for r in out)


def test_group_percentiles(spark):
    """exact interpolated percentiles (percentile_cont definition)."""
    from kgtk_spark.textops.olap import group_percentiles

    rows = [("a", float(v)) for v in range(1, 11)] + [("b", 5.0)]
    df = spark.createDataFrame(rows, "event_type string, value double")
    out = {(r["event_type"], r["p"]): r["percentile_value"]
           for r in group_percentiles(df).collect()}
    assert out[("a", 0.5)] == 5.5      # (10 values: interp between 5,6)
    assert abs(out[("a", 0.9)] - 9.1) < 1e-9
    assert out[("b", 0.99)] == 5.0
