"""Dedup + similarity-search operators: planted near-dups and recall."""

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    """60 base docs + planted near-duplicates (1-2 word edits) + one exact dup."""
    rng = np.random.default_rng(5)
    vocab = "alpha bravo charlie delta echo foxtrot golf hotel india juliet".split()
    rows = []
    for i in range(60):
        words = [vocab[x] for x in rng.integers(0, len(vocab), size=40)]
        rows.append((i, " ".join(words)))
    # near-dups of docs 0..9 with ids 100..109 (edit 2 words)
    for i in range(10):
        words = rows[i][1].split()
        words[5] = "zулу" if False else "zulu"
        words[20] = "yankee"
        rows.append((100 + i, " ".join(words)))
    rows.append((200, rows[3][1]))  # exact dup of doc 3
    return spark.createDataFrame(rows, ["doc_id", "text"]).cache()


def test_shingle_jaccard_finds_planted(spark, docs):
    from hdstats_spark.operators.dedup import shingle_jaccard_pairs

    pairs = shingle_jaccard_pairs(docs, threshold=0.5).toPandas()
    got = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    for i in range(10):
        assert (i, 100 + i) in got, f"missing planted near-dup {i}"
    assert (3, 200) in got  # exact dup has jaccard 1.0
    assert pairs.set_index(["id_a", "id_b"]).loc[(3, 200), "jaccard"] == 1.0


def test_minhash_lsh_recall(spark, docs):
    from hdstats_spark.operators.dedup import minhash_lsh_pairs, shingle_jaccard_pairs

    exact = shingle_jaccard_pairs(docs, threshold=0.6).toPandas()
    truth = {(a, b) for a, b in zip(exact.id_a, exact.id_b)}
    cand = minhash_lsh_pairs(docs, k=32, bands=8, threshold=0.5).toPandas()
    got = {(a, b) for a, b in zip(cand.id_a, cand.id_b)}
    recall = len(truth & got) / max(len(truth), 1)
    assert recall >= 0.9, (recall, truth - got)
    # estimated jaccard should track exact jaccard for the planted dups
    est = cand.set_index(["id_a", "id_b"]).est_jaccard
    for i in range(3):
        if (i, 100 + i) in est.index:
            assert est.loc[(i, 100 + i)] > 0.5


def test_minhash_poly_mode_finds_planted(spark, docs):
    """poly31 hash mode (the SQL-replicable variant) recalls the planted
    near-dups just like the xxhash64 default, and its per-shingle hash obeys
    the documented polynomial definition."""
    from hdstats_spark.operators.dedup import (
        _MERSENNE,
        minhash_lsh_pairs,
        shingle_hash_col,
    )

    from hdstats_spark.operators.dedup import shingle_jaccard_pairs

    exact = shingle_jaccard_pairs(docs, threshold=0.6).toPandas()
    truth = {(a, b) for a, b in zip(exact.id_a, exact.id_b)}
    pairs = minhash_lsh_pairs(
        docs, k=32, bands=8, threshold=0.5, hash_mode="poly31"
    ).toPandas()
    got = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    recall = len(truth & got) / max(len(truth), 1)
    assert recall >= 0.9, (recall, truth - got)
    assert (3, 200) in got  # the exact dup always survives
    # hash definition: Spark expression ≡ Python fold
    row = spark.createDataFrame([("hello world",)], ["shingle"]).select(
        shingle_hash_col("poly31").alias("h")
    ).collect()[0]
    acc = 0
    for ch in "hello world":
        acc = (acc * 257 + ord(ch)) % _MERSENNE
    assert row["h"] == acc


def test_simhash_pairs(spark, docs):
    from hdstats_spark.operators.dedup import simhash_pairs

    pairs = simhash_pairs(docs, max_hamming=3).toPandas()
    got = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
    assert (3, 200) in got  # identical text → hamming 0
    ham = pairs.set_index(["id_a", "id_b"]).hamming
    assert ham.loc[(3, 200)] == 0
    # correct SimHash separates unrelated docs (~32-bit expected distance):
    # the pair set must stay sparse, not degenerate to all-pairs (regression
    # for a uint64-underflow vote bug that set nearly every fingerprint bit)
    assert len(got) < 100, len(got)


def test_simhash_poly_mode(spark, docs):
    """poly31 SimHash: token hash ≡ the Python polynomial fold, fingerprints
    fit in 31 bits, the 8/8/8/7 band layout covers every bit exactly once,
    and the planted exact dup still lands at hamming 0."""
    from hdstats_spark.operators.dedup import (
        _MERSENNE,
        simhash_band_layout,
        simhash_fingerprints,
        simhash_pairs,
    )

    layout = simhash_band_layout(31)
    covered = 0
    for shift, mask in layout:
        assert covered & (mask << shift) == 0  # bands disjoint
        covered |= mask << shift
    assert covered == (1 << 31) - 1  # and exhaustive

    fp = simhash_fingerprints(docs, hash_mode="poly31").toPandas()
    assert (fp.simhash >= 0).all() and (fp.simhash < (1 << 31)).all()

    # fingerprint ≡ per-bit majority over Python-fold token hashes
    row = docs.filter(F.col("doc_id") == 3).first()
    ths = []
    for tok in row["text"].strip().lower().split():
        acc = 0
        for ch in tok:
            acc = (acc * 257 + ord(ch)) % _MERSENNE
        ths.append(acc)
    want = 0
    for j in range(31):
        ones = sum((t >> j) & 1 for t in ths)
        if 2 * ones > len(ths):
            want |= 1 << j
    got = int(fp.set_index("doc_id").simhash.loc[3])
    assert got == want

    pairs = simhash_pairs(docs, max_hamming=3, hash_mode="poly31").toPandas()
    ham = pairs.set_index(["id_a", "id_b"]).hamming
    assert ham.loc[(3, 200)] == 0


def test_simhash_votes_match_reference(spark):
    """Vectorized bit-plane votes ≡ per-bit majority definition."""
    import pandas as pd

    from hdstats_spark.operators.dedup import simhash_fingerprints

    docs = spark.createDataFrame(
        [(0, "alpha bravo charlie delta"), (1, "alpha bravo charlie delta"),
         (2, "echo foxtrot golf hotel india")],
        ["doc_id", "text"],
    )
    fp = simhash_fingerprints(docs).toPandas().set_index("doc_id").simhash
    assert fp.loc[0] == fp.loc[1]  # identical text → identical fingerprint
    h = np.uint64(fp.loc[0]) ^ np.uint64(fp.loc[2])
    assert bin(int(h)).count("1") > 10  # unrelated text → far apart


def test_knn_lsh_recall(spark):
    from hdstats_spark.driver_queries import q_knn_cosine
    from hdstats_spark.operators.simsearch import knn_lsh

    sf = "/root/testdata/sf0.01"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    dim = len(emb.first()["embedding"])
    exact = q_knn_cosine(spark, sf, k=5, n_queries=5).toPandas()
    corpus = emb.filter(F.col("vec_id") >= 5)
    queries = emb.filter(F.col("vec_id") < 5)
    # random 64-dim embeddings are LSH-hostile (neighbor angles ≈ uniform):
    # short signatures + many tables trade candidate volume for recall
    approx = knn_lsh(corpus, queries, dim, topk=5, k=4, tables=32).toPandas()
    truth = {(q, n) for q, n in zip(exact.query_id, exact.neighbor_id)}
    got = {(q, n) for q, n in zip(approx.query_id, approx.neighbor_id)}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.7, recall


def test_knn_ivf_recall(spark):
    from hdstats_spark.driver_queries import q_knn_cosine
    from hdstats_spark.operators.simsearch import knn_ivf

    sf = "/root/testdata/sf0.01"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    exact = q_knn_cosine(spark, sf, k=5, n_queries=5).toPandas()
    corpus = emb.filter(F.col("vec_id") >= 5)
    queries = emb.filter(F.col("vec_id") < 5)
    # random embeddings have near-uniform angles: probe half the lists
    approx = knn_ivf(corpus, queries, topk=5, nlist=16, nprobe=12).toPandas()
    truth = {(q, n) for q, n in zip(exact.query_id, exact.neighbor_id)}
    got = {(q, n) for q, n in zip(approx.query_id, approx.neighbor_id)}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.7, recall
    # determinism: seeded codebook → identical result on a second run
    again = knn_ivf(corpus, queries, topk=5, nlist=16, nprobe=12).toPandas()
    got2 = {(q, n) for q, n in zip(again.query_id, again.neighbor_id)}
    assert got == got2


def test_knn_ivf_nlist1_is_exact(spark):
    """nlist=1 collapses IVF to brute force: one inverted list holds the
    whole corpus, so the top-k through the codebook/assign/join/re-rank
    machinery must equal the brute-force baseline pair-for-pair (the
    property the DuckDB-hash-green knn_ivf_exact driver query relies on)."""
    import pandas as pd

    from hdstats_spark.driver_queries import q_knn_cosine
    from hdstats_spark.operators.simsearch import knn_ivf

    sf = "/root/testdata/sf0.01"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    exact = q_knn_cosine(spark, sf, k=5, n_queries=5).toPandas()
    got = knn_ivf(
        emb.filter(F.col("vec_id") >= 5), emb.filter(F.col("vec_id") < 5),
        topk=5, nlist=1, nprobe=1,
    ).toPandas()
    cols = ["query_id", "neighbor_id", "cos_sim", "rnk"]
    a = exact[cols].sort_values(cols).reset_index(drop=True)
    b = got[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_lsh_k0_is_exact(spark):
    """k=0 hyperplanes ⇒ every signature is 0 ⇒ one bucket: knn_lsh equals
    the brute-force baseline and dedup_embedding_lsh equals the exact GEMM
    dedup, pair-for-pair (the property behind the knn_lsh_exact /
    embedding_dups_lsh_exact DuckDB-green driver queries)."""
    import pandas as pd

    from hdstats_spark.driver_queries import q_embedding_dups, q_knn_cosine
    from hdstats_spark.operators.dedup import dedup_embedding_lsh
    from hdstats_spark.operators.simsearch import knn_lsh

    sf = "/root/testdata/sf0.01"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    dim = len(emb.first()["embedding"])

    exact = q_knn_cosine(spark, sf, k=5, n_queries=5).toPandas()
    got = knn_lsh(
        emb.filter(F.col("vec_id") >= 5), emb.filter(F.col("vec_id") < 5),
        dim, topk=5, k=0, tables=1,
    ).toPandas()
    cols = ["query_id", "neighbor_id", "cos_sim", "rnk"]
    pd.testing.assert_frame_equal(
        exact[cols].sort_values(cols).reset_index(drop=True),
        got[cols].sort_values(cols).reset_index(drop=True),
        check_dtype=False,
    )

    exact_d = q_embedding_dups(spark, sf, threshold=0.4).toPandas()
    got_d = dedup_embedding_lsh(emb, dim, threshold=0.4, k=0, tables=1).toPandas()
    cols = ["id_a", "id_b", "cos_sim"]
    pd.testing.assert_frame_equal(
        exact_d[cols].sort_values(cols).reset_index(drop=True),
        got_d[cols].sort_values(cols).reset_index(drop=True),
        check_dtype=False,
    )


def test_embedding_dedup_lsh_recall(spark):
    from hdstats_spark.driver_queries import q_embedding_dups
    from hdstats_spark.operators.dedup import dedup_embedding_lsh

    sf = "/root/testdata/sf0.01"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    dim = len(emb.first()["embedding"])
    exact = q_embedding_dups(spark, sf, threshold=0.4).toPandas()
    truth = {(a, b) for a, b in zip(exact.id_a, exact.id_b)}
    approx = dedup_embedding_lsh(emb, dim, threshold=0.4, k=4, tables=32).toPandas()
    got = {(a, b) for a, b in zip(approx.id_a, approx.id_b)}
    recall = len(truth & got) / max(len(truth), 1)
    assert recall >= 0.9, (recall, truth - got)
    # no false positives: every surviving pair passed the exact re-rank
    assert got <= truth


def test_embedding_lsh_repeat_reuses_warm_signatures(spark):
    """Two calls with the same arguments plan the same signature pass, so
    the second gets the registry's warm ``emb_lsh_sig`` entry back."""
    from hdstats_spark import materialize
    from hdstats_spark.operators.dedup import dedup_embedding_lsh

    # 200 seeded vectors plus a jittered copy of each: non-empty pairs
    rng = np.random.default_rng(3)
    base = rng.standard_normal((200, 16))
    vecs = np.vstack([base, base + 0.05 * rng.standard_normal(base.shape)])
    emb = spark.createDataFrame(
        [(i, v.astype(np.float32).tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    first = sorted(tuple(r) for r in dedup_embedding_lsh(emb, 16).collect())
    assert first
    entry = materialize._entries[spark][("plan", "emb_lsh_sig")][1]
    second = sorted(tuple(r) for r in dedup_embedding_lsh(emb, 16).collect())
    assert second == first
    assert materialize._entries[spark][("plan", "emb_lsh_sig")][1] is entry
    assert entry.is_cached


def test_multimodal_features_and_frames(spark):
    from hdstats_spark.operators.multimodal import extract_features, gen_assets, sample_frames

    fcols = [f"f_{j}" for j in range(16)]
    assets = gen_assets(spark, n=30)
    feats = extract_features(assets, dim=16).toPandas()
    assert len(feats) == 30
    # histogram features are normalized frequencies
    assert ((feats[fcols].sum(axis=1) - 1.0).abs() < 1e-4).all()
    # deterministic: same seed → same features
    feats2 = extract_features(gen_assets(spark, n=30), dim=16).toPandas()
    a = feats.sort_values("asset_id")[fcols].to_numpy()
    b = feats2.sort_values("asset_id")[fcols].to_numpy()
    np.testing.assert_array_equal(a, b)
    frames = sample_frames(assets).toPandas()
    assert (frames.frame_idx % 4 == 0).all()
    assert all(len(f) == 64 for f in frames.frame)


def test_multimodal_assets_from_docs(spark):
    """assets_from_docs payload is the exact UTF-8 text; features are pure
    byte arithmetic (the DuckDB oracle in driver_queries mirrors them)."""
    from hdstats_spark.operators.multimodal import assets_from_docs, extract_features

    docs = spark.createDataFrame(
        [(0, "abc def ghi jkl mno pqr"), (1, "x" * 100), (2, "short")],
        ["doc_id", "text"],
    )
    a = assets_from_docs(docs).toPandas().sort_values("asset_id")
    assert list(a.kind) == ["image", "audio", "video"]
    assert bytes(a.payload.iloc[0]) == b"abc def ghi jkl mno pqr"
    f = extract_features(assets_from_docs(docs), dim=16).toPandas()
    fcols = [f"f_{j}" for j in range(16)]
    assert ((f[fcols].sum(axis=1) - 1.0).abs() < 1e-4).all()


def test_collect_embeddings_guard(spark):
    """The exact (driver-collected) embedding path must refuse unbounded
    corpora: max_rows is a hard ceiling with a pointer to the LSH scale
    path — collecting 10^9 vectors to the driver is an OOM, not a plan."""
    from hdstats_spark.driver_queries import _collect_embeddings

    sf = "/root/testdata/sf0.001"
    # bounded reference set passes
    ids, M, norms = _collect_embeddings(spark, sf, max_rows=1_000_000)
    assert len(ids) == M.shape[0] == norms.shape[0] > 0
    # a corpus over the ceiling raises, naming the scale paths
    with pytest.raises(ValueError, match="dedup_embedding_lsh"):
        _collect_embeddings(spark, sf, max_rows=len(ids) - 1)


def test_connected_components_deep_chain_logarithmic(spark):
    """large-star/small-star: a 60-edge CHAIN (diameter 60 — min-label
    propagation would need 60 rounds and trip any sane round guard) must
    converge in O(log n) rounds with every node labeled by the chain min,
    and a forest of disjoint components must keep component labels apart."""
    from hdstats_spark.operators.dedup import connected_components

    # one long chain 0-1-2-...-60 plus a disjoint triangle {100,101,102}
    chain = [(i, i + 1) for i in range(60)]
    tri = [(100, 101), (101, 102), (100, 102)]
    edges = spark.createDataFrame(chain + tri, ["src", "dst"])
    labels, rounds = connected_components(edges)
    got = {r["node"]: r["root"] for r in labels.collect()}
    assert {got[i] for i in range(1, 61)} == {0}
    assert got[101] == got[102] == 100
    assert 0 not in got and 100 not in got  # roots are implicit (singletons absent)
    # diameter 60, but rounds must be logarithmic (plus the fixpoint-confirm
    # round); observed 5-7 — assert a hard ceiling far under the diameter
    assert rounds <= 12, rounds


def test_connected_components_star_input_and_empty(spark):
    """An already-star input converges in the minimum two rounds (one to
    reproduce itself, one to confirm the fixpoint); an empty edge list
    yields empty labels without error."""
    from hdstats_spark.operators.dedup import connected_components

    star = spark.createDataFrame([(1, 0), (2, 0), (3, 0)], ["src", "dst"])
    labels, rounds = connected_components(star)
    got = {r["node"]: r["root"] for r in labels.collect()}
    assert got == {1: 0, 2: 0, 3: 0}
    assert rounds == 2

    empty = spark.createDataFrame([], "src long, dst long")
    labels, _ = connected_components(empty)
    assert labels.count() == 0


def test_decontaminate_planted(spark):
    """Planted contamination: a corpus doc quoting a benchmark 6-gram is
    flagged with the right distinct-overlap count; clean docs are 0; the
    benchmark doc itself (when also in the corpus) is fully dirty."""
    from hdstats_spark.operators.dedup import decontaminate

    bench_text = "alpha bravo charlie delta echo foxtrot golf hotel"
    corpus = spark.createDataFrame(
        [
            (0, bench_text),  # the benchmark doc inside the corpus
            (1, "xx yy alpha bravo charlie delta echo foxtrot zz ww"),  # quotes one 6-gram
            (2, "one two three four five six seven eight nine ten"),  # clean
            (3, "short doc"),  # < n tokens: no shingles, never flagged
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(100, bench_text)], ["doc_id", "text"])
    got = {r.doc_id: (r.n_dirty_ngrams, r.contaminated)
           for r in decontaminate(corpus, bench, n=6).collect()}
    assert got[0] == (3, 1)  # 8 tokens -> 3 distinct 6-grams, all dirty
    assert got[1] == (1, 1)  # exactly the quoted 6-gram
    assert got[2] == (0, 0)
    assert got[3] == (0, 0)


def test_connected_components_random_vs_union_find(spark):
    """Randomized cross-check of the large-star/small-star fixpoint against
    an independent union-find oracle: several seeded random graphs across
    density regimes (forest-sparse → near-complete) must yield identical
    component labelings (root = component min), with singletons absent."""
    import numpy as np

    from hdstats_spark.operators.dedup import connected_components

    def uf_labels(n_nodes, edges):
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comp = {}
        for v in range(n_nodes):
            comp.setdefault(find(v), []).append(v)
        out = {}
        for members in comp.values():
            if len(members) > 1:
                root = min(members)
                for v in members:
                    if v != root:
                        out[v] = root
        return out

    for seed, n_nodes, n_edges in [(1, 200, 60), (2, 200, 200), (3, 120, 800), (4, 300, 299)]:
        rng = np.random.default_rng(seed)
        pairs = rng.integers(0, n_nodes, size=(n_edges, 2))
        edges = [(int(a), int(b)) for a, b in pairs]
        df = spark.createDataFrame(edges, ["src", "dst"])
        labels, rounds = connected_components(df)
        got = {r["node"]: r["root"] for r in labels.collect()}
        assert got == uf_labels(n_nodes, edges), (seed, rounds)
        assert rounds <= 12, (seed, rounds)


def test_decontaminate_bloom_equals_broadcast(spark):
    """method='bloom' (bounded-memory dirty set: distributed Bloom build,
    bitmap broadcast, map-only probe, exact re-verify join) returns results
    BIT-IDENTICAL to the broadcast method — zero false positives survive
    the re-verify — on both the planted fixture and a wider random corpus."""
    import random

    from hdstats_spark.operators.dedup import decontaminate

    bench_text = "alpha bravo charlie delta echo foxtrot golf hotel"
    rng = random.Random(5)
    vocab = [f"w{i}" for i in range(40)]
    rows = [(0, bench_text), (1, "xx yy alpha bravo charlie delta echo foxtrot zz ww")]
    rows += [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 30))))
        for i in range(2, 300)
    ]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    bench = spark.createDataFrame(
        [(100, bench_text), (101, rows[7][1])], ["doc_id", "text"]
    )
    a = decontaminate(corpus, bench, n=6).orderBy("doc_id").collect()
    b = decontaminate(corpus, bench, n=6, method="bloom").orderBy("doc_id").collect()
    assert a == b
    assert any(r.contaminated for r in b)


def test_bloom_prefilter_no_false_negatives(spark):
    """Every true member passes the Bloom pre-filter (no false negatives —
    the property exactness depends on; false positives are allowed and
    caught by the callers' re-verify join)."""
    from hdstats_spark.operators.dedup import _bloom_prefilter

    dirty = spark.createDataFrame([(f"key{i}",) for i in range(500)], ["shingle"])
    probe = spark.createDataFrame(
        [(i, f"key{i}") for i in range(500)]
        + [(i + 1000, f"other{i}") for i in range(2000)],
        ["doc_id", "shingle"],
    )
    got = _bloom_prefilter(probe, dirty, "shingle").toPandas()
    members = set(got[got.doc_id < 1000].doc_id)
    assert members == set(range(500))  # all true members survive
    # the pre-filter actually filters: at ~0.8% fp, 2000 non-members
    # should almost all be dropped (generous bound: < 5%)
    assert (got.doc_id >= 1000).sum() < 100
