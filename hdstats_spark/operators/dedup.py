"""Deduplication operators for training-data pipelines.

All candidate generation is expressed so the heavy lifting stays JVM-side or
in Arrow-vectorized NumPy; no per-row Python:

  * exact_dedup          — hash-groupBy on content digest (also in
                           driver_queries with a SQL oracle)
  * shingle_jaccard_pairs— word n-gram shingles → explode → self-equi-join on
                           shingle → exact Jaccard ≥ τ (SQL-checkable)
  * minhash_lsh_pairs    — k min-hash permutations as JVM aggregates over the
                           exploded shingles, banded into LSH buckets; bucket
                           equi-join yields candidates, estimated Jaccard =
                           fraction of agreeing minhashes
  * simhash_pairs        — 64-bit SimHash from JVM token hashes, 16-bit band
                           blocking, Hamming ≤ d verify with bit_count(xor)

Scale notes: every pair generator is an equi-join on a blocking key (shingle,
LSH bucket, SimHash band) — never a cross join; hot shingles (stopword-only
5-grams) are dropped by a document-frequency cap before the self-join, which
is the standard guard against quadratic blowup on 10^12-scale corpora.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import cached_plan

# 31-bit Mersenne prime: (a·h + b) stays < 2^62, safe under ANSI int64
_MERSENNE = (1 << 31) - 1
_ONE_U64 = np.uint64(1)


def tokens_col(text_col="text"):
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def shingles_col(n: int = 5, text_col="text"):
    """Distinct word n-gram shingles as an array column (JVM-side).

    Built by chaining n−1 zip_with(concat) passes over n shifted slices of
    the token array — n slices PER DOCUMENT, not one per shingle as the
    naive transform(i -> concat_ws(slice(toks, i, n))) does.  Higher-order
    functions are interpreted (no codegen), so per-element allocations
    dominate: the zip_with form measured ~5× faster at sf0.1 with an
    identical shingle multiset.  Documents shorter than n tokens get an
    explicit empty array (the when-guard also keeps the negative-length
    slices in the dead branch from evaluating)."""
    toks = tokens_col(text_col)
    m = F.size(toks) - (n - 1)
    acc = F.slice(toks, 1, m)
    for j in range(1, n):
        acc = F.zip_with(
            acc, F.slice(toks, 1 + j, m), lambda x, y: F.concat(x, F.lit(" "), y)
        )
    return F.when(
        F.size(toks) >= n, F.array_distinct(acc)
    ).otherwise(F.array().cast("array<string>"))


def doc_shingles(docs: DataFrame, n: int = 5, id_col="doc_id", text_col="text",
                 max_doc_freq: int | None = None) -> DataFrame:
    """(doc_id, shingle) long format; optionally drop shingles that occur in
    more than max_doc_freq documents (hot-key guard for the self-join)."""
    from .partitioning import ensure_min_partitions

    # the zip_with shingle build + explode run inside the scan stage — widen
    # a narrow (single-split) input first or they serialize on one core
    s = ensure_min_partitions(docs).select(
        id_col, F.explode(shingles_col(n, text_col)).alias("shingle")
    )
    if max_doc_freq is not None:
        hot = (
            s.groupBy("shingle").count().filter(F.col("count") > max_doc_freq)
            .select("shingle")
        )
        # unhinted: the hot-shingle head also grows with the corpus (Zipf
        # head ∝ occurrences/max_doc_freq); AQE broadcasts it when small
        s = s.join(hot, "shingle", "left_anti")
    return s


def shingle_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.5, n: int = 5,
    id_col="doc_id", text_col="text", max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs via shingle equi-join."""
    # cached: the exploded shingle table feeds the size agg AND both sides of
    # the self-join — recomputing the explode 3× dominates at scale
    s = cached_plan("shingles", doc_shingles(docs, n, id_col, text_col, max_doc_freq))
    sizes = s.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = s.select(F.col(id_col).alias("id_a"), "shingle")
    b = s.select(F.col(id_col).alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    # no broadcast hint: `sizes` has one row per document, so a forced
    # broadcast grows linearly with the corpus (multi-GB at 10^9 docs). AQE
    # still picks a broadcast join at runtime when the side is actually small.
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def decontaminate(
    docs: DataFrame, benchmark: DataFrame, n: int = 6,
    id_col: str = "doc_id", text_col: str = "text",
    method: str = "broadcast",
) -> DataFrame:
    """Test-set DECONTAMINATION — the training-data step none of the dedup
    operators cover: flag every corpus document sharing at least one word
    n-gram with a benchmark/eval set, so evaluation data can be excluded
    from training (the standard n-gram-overlap rule, e.g. GPT-3 appendix C
    / PaLM's 13-gram variant; n is a dial, default 6).

    Plan shape at 10^12 tokens: the benchmark side is SMALL by definition
    (eval suites are O(10^5) documents), so its distinct n-gram set is
    broadcast — an EXPLICIT broadcast, unlike the corpus-sized dimension
    joins this module deliberately leaves unhinted — and the corpus side is
    map-only (explode n-grams → broadcast-hash semi-probe) with its only
    shuffle the per-doc hit count.  Returns every doc with
    (n_dirty_ngrams, contaminated); n_dirty_ngrams counts DISTINCT
    overlapping n-grams (shingles_col de-dups per doc)."""
    from .partitioning import ensure_min_partitions

    dirty = benchmark.select(
        F.explode(shingles_col(n, text_col)).alias("shingle")
    ).distinct()
    # corpus-side explode + probe are map-only and run in the scan stage —
    # widen a narrow input or the whole decontamination pass is one task
    s = ensure_min_partitions(docs).select(
        id_col, F.explode(shingles_col(n, text_col)).alias("shingle")
    )
    if method == "bloom":
        # memory-bounded variant for LARGE suite unions (a 13-gram sweep
        # over a PaLM-style benchmark union reaches 10^8 shingles — far
        # past comfortable broadcast range): insert the dirty shingles'
        # JVM xxhash64 pairs into a vectorized NumPy Bloom filter built
        # DISTRIBUTED (one bitmap per partition, OR-folded on the driver —
        # no shingle strings ever leave the executors), broadcast only the
        # bitmap (m/8 bytes, ~1.2 bytes/item), pre-filter the corpus
        # shingles with a map-only Arrow-batched probe, then EXACT-verify
        # the few survivors with a plain (shuffle) semi-join against the
        # dirty table.  False positives cost only re-verify shuffle rows —
        # the final result is bit-identical to the broadcast method.
        dirty = cached_plan("decontaminate_dirty", dirty)
        cand = _bloom_prefilter(s, dirty, "shingle")
        hits = (
            cand.join(dirty, "shingle")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_dirty"))
        )
    else:
        hits = (
            s.join(F.broadcast(dirty), "shingle")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_dirty"))
        )
    zero = F.lit(0).cast("long")
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_dirty", zero).alias("n_dirty_ngrams"),
            (F.coalesce("n_dirty", zero) > 0).cast("int").alias("contaminated"),
        )
    )


_BLOOM_K = 7  # probes per key; with ~10 bits/key -> ~0.8% fp before re-verify


def _bloom_hashes(col: str):
    """Two independent 64-bit hash columns for double-hashing Bloom probes —
    computed JVM-side so insert (benchmark) and probe (corpus) agree."""
    return [
        F.xxhash64(F.col(col)).alias("_h1"),
        F.xxhash64(F.col(col), F.lit("bloom2")).alias("_h2"),
    ]


def _bloom_positions(h1: np.ndarray, h2: np.ndarray, m: int):
    """Yield the k probe positions (double hashing, odd step, power-of-2 m)."""
    u1 = h1.view(np.uint64)
    u2 = h2.view(np.uint64) | _ONE_U64  # odd step: full-period mod 2^j
    mask = np.uint64(m - 1)
    for i in range(_BLOOM_K):
        yield ((u1 + np.uint64(i) * u2) & mask).astype(np.int64)


def _bloom_prefilter(s: DataFrame, dirty: DataFrame, col: str) -> DataFrame:
    """Map-only Bloom pre-filter of ``s`` rows on ``col`` membership in
    ``dirty[col]``.  Returns the candidate subset of ``s`` (false positives
    possible — callers MUST exact-verify with a join); memory is bounded by
    the bitmap (~1.2 bytes per dirty key) regardless of key-string sizes."""
    import pandas as pd

    spark = s.sparkSession
    n_items = max(1, dirty.count())
    # power-of-2 sizing at ~10 bits/key keeps the modulo a mask
    m = 1 << max(13, int(np.ceil(np.log2(n_items * 10))))
    mbytes = m // 8

    def build(batches):
        bits = np.zeros(mbytes, dtype=np.uint8)
        any_rows = False
        for pdf in batches:
            if not len(pdf):
                continue
            any_rows = True
            h1 = pdf["_h1"].to_numpy(np.int64)
            h2 = pdf["_h2"].to_numpy(np.int64)
            for pos in _bloom_positions(h1, h2, m):
                np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
        if any_rows:
            yield pd.DataFrame({"bits": [bits.tobytes()]})

    parts = (
        dirty.select(*_bloom_hashes(col))
        .mapInPandas(build, "bits binary")
        .collect()
    )
    bits = np.zeros(mbytes, dtype=np.uint8)
    for r in parts:  # O(#partitions) bitmaps OR-folded on the driver
        bits |= np.frombuffer(r["bits"], dtype=np.uint8)
    bloom = spark.sparkContext.broadcast(bits.tobytes())

    def probe(batches):
        bf = np.frombuffer(bloom.value, dtype=np.uint8)
        for pdf in batches:
            if not len(pdf):
                continue
            h1 = pdf["_h1"].to_numpy(np.int64)
            h2 = pdf["_h2"].to_numpy(np.int64)
            hit = np.ones(len(pdf), dtype=bool)
            for pos in _bloom_positions(h1, h2, m):
                hit &= (bf[pos >> 3] & (np.uint8(1) << (pos & 7).astype(np.uint8))) != 0
            out = pdf[hit].drop(columns=["_h1", "_h2"])
            if len(out):
                yield out

    probed_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in s.schema.fields
    )
    return s.select("*", *_bloom_hashes(col)).mapInPandas(probe, probed_schema)


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_rounds: int = 64
) -> tuple[DataFrame, int]:
    """Connected components over an undirected edge list via alternating
    large-star / small-star (Kiveris et al., *Connected Components in
    MapReduce and Beyond*, KDD'14) — the round count is logarithmic in
    component size, NOT linear in diameter like min-label propagation, so a
    corpus with one long duplication chain (diameter ≫ #rounds budget)
    still converges in a handful of rounds.

    Per round, over the current edge multiset E (node ids must be totally
    ordered — longs or strings):

      * large-star: for each node u, m = min(Γ(u) ∪ {u}); emit (v, m) for
        every neighbor v > u — strictly-larger neighbors re-point at the
        neighborhood min (never creates cross-component edges, output is
        oriented big→small since v > u ≥ m);
      * small-star: edges oriented (u > v); for each u, m = min(N(u));
        emit (v, m) for every smaller neighbor plus (u, m), self-loops
        dropped — the not-larger neighborhood collapses toward the min.

    The only fixpoint of the alternation is the star forest rooted at each
    component's minimum node, so the final edge set IS the (node, root)
    label map for every non-singleton node.  Convergence is detected by an
    order-invariant (count, Σ xxhash64(u, v)) signature computed in the
    SAME aggregation job that materializes the round's edges (lazy
    localCheckpoint + one agg action) — one fixpoint probe costs zero extra
    Spark jobs, and the localCheckpoint keeps the per-round plan flat
    instead of deepening every iteration.

    Returns ``(labels, rounds)``: labels (node, root) for non-singleton
    nodes; singletons are absent (callers coalesce to the node's own id).

    Scale: each half-step is ONE window-min shuffle on the node id (the
    groupBy+join-back formulation reads its input twice) plus the dedup
    distinct; state is only ever the current edge set (localCheckpoint'd,
    so each round's plan is flat and the edge set is scanned, not
    recomputed); nothing is collected to the driver.  A pathological
    high-degree node concentrates its window partition in one task exactly
    as it would a groupBy — the first small-star collapses such stars to
    height 1, which is why the alternation tolerates skew."""
    from pyspark.sql import Window

    # localCheckpoint the canonicalized input: every round reads the edge
    # set twice (both union sides of the symmetric view) — without
    # materialization, round 1 would run the caller's whole pair-generation
    # plan (e.g. the shingle self-join) twice
    e = (
        edges.select(F.greatest(src, dst).alias("u"), F.least(src, dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    w_u = Window.partitionBy("u")
    sig = None
    prev_ckpt = e
    rounds = 0
    try:
        for rounds in range(1, max_rounds + 1):
            sym = e.unionByName(
                e.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            # large-star via a window min (ONE shuffle, input consumed once —
            # a groupBy+join back would recompute the symmetric view twice):
            # m = min over the CLOSED neighborhood of u; emit (v, m) for
            # strictly-larger neighbors, already oriented big→small
            ls = (
                sym.withColumn("m", F.least(F.min("v").over(w_u), F.col("u")))
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .filter(F.col("u") != F.col("v"))
            )
            # small-star, same single-pass shape: m = min(N(u)) < u; each row
            # emits (v, m) and (u, m) via a 2-element explode (duplicate
            # (u, m) copies are folded by the final distinct)
            ss = (
                ls.withColumn("m", F.min("v").over(w_u))
                .select(
                    F.explode(
                        F.array(
                            F.struct(F.col("v").alias("a"), F.col("m").alias("b")),
                            F.struct(F.col("u").alias("a"), F.col("m").alias("b")),
                        )
                    ).alias("em")
                )
                .select("em.a", "em.b")
                .filter(F.col("a") != F.col("b"))
                .select(
                    F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
                )
                .distinct()
                .localCheckpoint(eager=False)
            )
            row = ss.agg(
                F.count(F.lit(1)).alias("c"),
                # decimal sum: exact and overflow-free under ANSI mode (a
                # long sum of 64-bit hashes overflows after a handful of rows)
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
            ).first()
            prev_ckpt.unpersist()  # only the newest checkpoint is live
            prev_ckpt = ss
            e = ss
            new_sig = (row["c"], row["h"])
            if new_sig == sig:
                return e.select(F.col("u").alias("node"), F.col("v").alias("root")), rounds
            sig = new_sig
        # a silent cap would return wrong components and show up only as an
        # opaque oracle mismatch downstream
        raise RuntimeError(
            f"connected_components did not converge within {max_rounds} rounds"
        )
    except Exception:
        prev_ckpt.unpersist()
        raise


def minhash_perm_constants(k: int, seed: int = 7) -> tuple[list[int], list[int]]:
    """The k affine-permutation constants (aᵢ, bᵢ) mod the Mersenne prime —
    exposed so SQL oracles can regenerate the identical permutations."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=k, dtype=np.int64)
    b = rng.integers(0, _MERSENNE, size=k, dtype=np.int64)
    return [int(x) for x in a], [int(x) for x in b]


def shingle_hash_col(hash_mode: str = "xxhash64", col: str = "shingle"):
    """Shingle → int hash in [0, M31).  ``xxhash64`` is the scale default;
    ``poly31`` is the byte-wise polynomial hash (acc·257 + ascii) mod M31 —
    arithmetic a SQL engine can replicate exactly (same trick as the
    winnowing oracle), enabling a DuckDB-hash-green mirror of the whole
    MinHash pipeline.  Both are pure JVM expressions."""
    if hash_mode == "xxhash64":
        return F.pmod(F.xxhash64(col), F.lit(_MERSENNE))
    if hash_mode == "poly31":
        return F.expr(
            f"aggregate(sequence(1, length({col})), 0L, "
            f"(acc, i) -> (acc * 257 + ascii(substring({col}, i, 1))) % {_MERSENNE})"
        )
    raise ValueError(f"unknown hash_mode {hash_mode!r}")


def minhash_signatures(
    docs: DataFrame, k: int = 32, n: int = 5, seed: int = 7,
    id_col="doc_id", text_col="text", hash_mode: str = "xxhash64",
) -> DataFrame:
    """k-permutation MinHash signature per document, entirely as JVM
    aggregates: shingle → hash (xxhash64 or poly31) → k affine permutations
    mod a Mersenne prime → min per permutation."""
    a, b = minhash_perm_constants(k, seed)
    s = doc_shingles(docs, n, id_col, text_col)
    h = shingle_hash_col(hash_mode)
    aggs = [
        F.min(F.pmod(h * F.lit(a[j]) + F.lit(b[j]), F.lit(_MERSENNE))).alias(f"mh_{j}")
        for j in range(k)
    ]
    return s.groupBy(id_col).agg(*aggs)


def minhash_lsh_pairs(
    docs: DataFrame, k: int = 32, bands: int = 8, threshold: float = 0.5,
    n: int = 5, seed: int = 7, id_col="doc_id", text_col="text",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """LSH candidate pairs: band the k minhashes into `bands` buckets,
    equi-join on (band, bucket-hash), estimate Jaccard as the fraction of
    agreeing minhashes, keep est ≥ threshold.

    ``hash_mode="poly31"`` makes the entire pipeline SQL-replicable (the
    bucket key becomes the concatenated band minhashes instead of their
    xxhash64) — same candidates, same estimates, different bucket-key
    encoding; used by the DuckDB-hash-checked ``minhash_lsh_poly`` driver
    query."""
    assert k % bands == 0
    r = k // bands
    sig = cached_plan(
        "minhash_sig", minhash_signatures(docs, k, n, seed, id_col, text_col, hash_mode)
    )
    if hash_mode == "poly31":
        band_cols = [
            F.concat_ws("_", *[F.col(f"mh_{band * r + j}") for j in range(r)]).alias(f"band_{band}")
            for band in range(bands)
        ]
    else:
        band_cols = [
            F.xxhash64(*[F.col(f"mh_{band * r + j}") for j in range(r)]).alias(f"band_{band}")
            for band in range(bands)
        ]
    banded = sig.select(id_col, *band_cols)
    buckets = banded.select(
        id_col,
        F.explode(
            F.array(*[
                F.struct(F.lit(band).alias("band"), F.col(f"band_{band}").alias("sig"))
                for band in range(bands)
            ])
        ).alias("b"),
    ).select(id_col, "b.band", "b.sig")
    a = buckets.select(F.col(id_col).alias("id_a"), "band", "sig")
    b = buckets.select(F.col(id_col).alias("id_b"), "band", "sig")
    cands = (
        a.join(b, ["band", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    siga = sig.select(F.col(id_col).alias("id_a"), *[F.col(f"mh_{j}").alias(f"a_{j}") for j in range(k)])
    sigb = sig.select(F.col(id_col).alias("id_b"), *[F.col(f"mh_{j}").alias(f"b_{j}") for j in range(k)])
    agree = sum(
        (F.when(F.col(f"a_{j}") == F.col(f"b_{j}"), 1).otherwise(0) for j in range(1, k)),
        F.when(F.col("a_0") == F.col("b_0"), 1).otherwise(0),
    )
    return (
        cands.join(siga, "id_a")
        .join(sigb, "id_b")
        .select("id_a", "id_b", F.round(agree / F.lit(k), 6).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def dedup_embedding_lsh(
    emb_df: DataFrame,
    dim: int,
    threshold: float = 0.4,
    k: int | None = None,
    tables: int = 32,
    seed: int = 11,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    target_bucket: int = 64,
    n_vecs: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs AT SCALE: random-hyperplane LSH bucket
    self-join → exact cosine re-rank → τ filter.

    This is the 10^9-vector path: candidate generation is an equi-join on
    (table, signature) — never a cross join, and nothing is collected to the
    driver (contrast q_embedding_dups' broadcast GEMM, which is the exact
    small-reference oracle variant).

    ``k=None`` auto-sizes the signature width to the corpus so the expected
    bucket stays ≈ target_bucket vectors (k = log2(N / target_bucket)) —
    the standard LSH-index tuning: a fixed k means buckets (and the self-join
    fan-out) grow linearly with N.  Recall follows
    P(candidate) = 1 − (1 − p^k)^tables with p = 1 − θ/π, so larger corpora
    need more tables for the same recall at a given τ; recall vs the exact
    pairs is pytest-verified at the driver scale
    (tests/test_dedup_simsearch.py).  Pass ``n_vecs`` when the corpus size
    is already known (e.g. from parquet footers) — otherwise auto-k pays a
    full corpus ``count()`` job."""
    from .simsearch import arrow_cosine_rerank, lsh_signatures

    if k is None:
        if n_vecs is None:
            n_vecs = emb_df.count()
        k = max(4, int(np.ceil(np.log2(max(n_vecs / target_bucket, 2.0)))))

    # cached: the signature table feeds BOTH sides of the bucket self-join —
    # uncached, the mapInPandas signature pass runs twice.  At 10^9 vectors
    # this is the materialized LSH *index* table (you'd persist it to the
    # lake and share it across dedup runs, exactly like the minhash sig
    # table); memory cost is N·tables (id, table, sig) longs.
    sig = cached_plan(
        "emb_lsh_sig", lsh_signatures(emb_df, dim, k, tables, seed, id_col, emb_col)
    )
    # the PROBE side of the self-join seeds the parallelism of the whole
    # self-join → attach → re-rank chain (the build side is broadcast, so
    # no exchange widens it later): lsh_signatures already guarantees the
    # sig table is at least default-parallelism wide, and ensure_min_
    # partitions here is the cheap insurance if a caller hands in its own
    # narrow signature table (the 2M-pair exact mirror ran on 2 tasks
    # before this).
    from .partitioning import ensure_min_partitions

    a = ensure_min_partitions(sig).select(F.col(id_col).alias("id_a"), "table", "sig")
    b = sig.select(F.col(id_col).alias("id_b"), "table", "sig")
    cands = (
        a.join(b, ["table", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    if tables > 1:
        # dedup across tables; with ONE table each pair occurs at most
        # once, so the distinct (a full pair-table exchange over every
        # candidate row) is provably a no-op and is skipped
        cands = cands.distinct()
    ea = emb_df.select(F.col(id_col).alias("id_a"), F.col(emb_col).alias("e_a"))
    eb = emb_df.select(F.col(id_col).alias("id_b"), F.col(emb_col).alias("e_b"))
    paired = cands.join(ea, "id_a").join(eb, "id_b")
    # Arrow-native exact cosine re-rank (simsearch.arrow_cosine_rerank):
    # bit-identical arithmetic to the old mapInPandas GEMM, minus the
    # per-row object churn and with only (ids, e_a, e_b) crossing to Python
    sims = arrow_cosine_rerank(paired, "e_a", "e_b", "id_a", "id_b")
    return sims.filter(F.col("cos_sim") >= threshold)


def simhash_bits(hash_mode: str) -> int:
    """Fingerprint width per hash mode: xxhash64 fills all 64 bits; the
    SQL-replicable poly31 hash lives in [0, M31) — 31 usable bits."""
    if hash_mode == "xxhash64":
        return 64
    if hash_mode == "poly31":
        return 31
    raise ValueError(f"unknown hash_mode {hash_mode!r}")


def simhash_fingerprints(
    docs: DataFrame, id_col="doc_id", text_col="text", hash_mode: str = "xxhash64",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """SimHash per document: token hashes come from a JVM expression
    (xxhash64 — 64-bit scale default — or the byte-wise polynomial mod M31,
    which a SQL engine can replicate exactly, same trick as the
    minhash/winnowing oracles); the per-bit ±1 vote is a vectorized NumPy
    popcount in mapInPandas.  Token multiplicity counts (no distinct): a
    token's vote weight is its frequency, per the classic Charikar scheme.

    ``keep_cols`` are carried through unchanged (e.g. the event-time column
    for the streaming near-dup operator — mapInPandas is stateless, so the
    same kernel serves batch and stream)."""
    from .partitioning import ensure_min_partitions

    keep = list(keep_cols or [])
    n_bits = simhash_bits(hash_mode)
    if hash_mode == "xxhash64":
        th = F.transform(tokens_col(text_col), lambda t: F.xxhash64(t))
    else:
        th = F.expr(
            f"transform(split(lower(trim({text_col})), '\\\\s+'), t -> "
            f"aggregate(sequence(1, length(t)), 0L, "
            f"(acc, i) -> (acc * 257 + ascii(substring(t, i, 1))) % {_MERSENNE}))"
        )
    # widen only the poly31 mode: its per-character interpreted aggregate
    # is ~10× the xxhash64 cost, so parallelism wins there, while for the
    # codegen'd xxhash64 path the extra exchange costs more than the
    # hashing it parallelizes (measured 0.65→0.74 s at sf0.1)
    src = ensure_min_partitions(docs) if hash_mode == "poly31" else docs
    hashed = src.select(id_col, *keep, th.alias("th"))

    def gen(batches):
        shifts = np.arange(n_bits, dtype=np.uint64)
        for pdf in batches:
            G = len(pdf)
            if G == 0:
                continue
            lens = np.fromiter((len(t) for t in pdf["th"]), dtype=np.int64, count=G)
            total = int(lens.sum())
            fps = np.zeros(G, dtype=np.uint64)
            nonempty = np.nonzero(lens > 0)[0]
            if total:
                flat = np.concatenate(
                    [np.asarray(t, dtype=np.int64) for t in pdf["th"] if len(t)]
                ).view(np.uint64)
                starts = (np.cumsum(lens) - lens)[nonempty]
                # per-bit-plane popcount: one reduceat per bit keeps memory
                # O(total) instead of a (total, 64) matrix; votes>0 ⇔ ones
                # outnumber zeros among the doc's token hashes
                votes = np.empty((len(nonempty), n_bits), dtype=np.int64)
                for bit in range(n_bits):
                    plane = ((flat >> shifts[bit]) & _ONE_U64).astype(np.int64)
                    votes[:, bit] = np.add.reduceat(plane, starts)
                pos = votes * 2 > lens[nonempty][:, None]
                fps[nonempty] = (pos.astype(np.uint64) << shifts[None, :]).sum(axis=1)
            out = {id_col: pdf[id_col]}
            out.update({c: pdf[c] for c in keep})
            out["simhash"] = fps.view(np.int64)
            yield pd.DataFrame(out)

    # iterate ``keep`` (not docs.schema.fields) so the declared schema order
    # always matches the emitted frame's column order — with multiple
    # keep_cols in non-schema order the two would otherwise disagree and
    # only Spark's assign-by-name config would save the types
    keep_schema = "".join(
        f", {c} {docs.schema[c].dataType.simpleString()}" for c in keep
    )
    return hashed.mapInPandas(gen, f"{id_col} long{keep_schema}, simhash long")


def simhash_band_layout(n_bits: int, n_bands: int = 4) -> list[tuple[int, int]]:
    """(shift, mask) per band: n_bits split into n_bands contiguous strips
    (widths differ by ≤1).  Any partition preserves the LSH guarantee —
    Hamming ≤ n_bands−1 ⇒ at least one band agrees exactly."""
    base, extra = divmod(n_bits, n_bands)
    out, off = [], 0
    for band in range(n_bands):
        width = base + (1 if band < extra else 0)
        out.append((off, (1 << width) - 1))
        off += width
    return out


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 3, id_col="doc_id", text_col="text",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs by SimHash: band blocking with
    n_bands = max_hamming + 1 (the pigeonhole guarantee — a pair within
    Hamming ≤ d of d+1 bands must agree exactly on ≥1 band — only holds
    when the band count exceeds the Hamming budget, so it is DERIVED, not
    fixed at 4), verified with bit_count(xor) ≤ max_hamming.
    ``hash_mode="poly31"`` swaps the token hash for the SQL-computable
    polynomial (31-bit fingerprints) so the whole pipeline has an exact
    DuckDB mirror (``simhash_poly`` driver query); xxhash64 remains the
    scale default."""
    layout = simhash_band_layout(simhash_bits(hash_mode), n_bands=max_hamming + 1)
    fp = cached_plan("simhash_fp", simhash_fingerprints(docs, id_col, text_col, hash_mode))
    bands = fp.select(
        id_col,
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(band).alias("band"),
                    F.shiftrightunsigned("simhash", shift)
                    .bitwiseAND(F.lit(mask))
                    .alias("key"),
                )
                for band, (shift, mask) in enumerate(layout)
            ])
        ).alias("b"),
    ).select(id_col, "simhash", "b.band", "b.key")
    a = bands.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("fp_a"), "band", "key")
    b = bands.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("fp_b"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("long").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
