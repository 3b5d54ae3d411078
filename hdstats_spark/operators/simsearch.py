"""Similarity search over embedding columns.

  * knn_bruteforce — exact cosine top-k (broadcast queries + mapInPandas
    GEMM); the correctness baseline (also in driver_queries with SQL oracle)
  * lsh_signatures / knn_lsh — random-hyperplane LSH: L tables × k-bit
    signatures, bucket equi-join for candidates, exact cosine re-rank of
    candidates only.  The scale path: candidate generation is an equi-join on
    (table, signature) — never a cross join — so a 10^9-vector corpus probes
    O(L · bucket) candidates per query.
  * kmeans_codebook / ivf_assign / knn_ivf — IVF (inverted-file) ANN: a
    k-means coarse quantizer trained on a bounded driver-side sample (the
    standard IVF recipe — codebooks are always trained on samples), corpus
    vectors assigned to their nearest centroid list with one GEMM per Arrow
    batch, queries probe the nprobe nearest lists via an equi-join on
    centroid id, exact cosine re-rank of list members only.

Hyperplanes are seeded and shipped in the task closure, centroids are
broadcast; signatures/assignments are computed with one GEMM per Arrow
batch, so every pass is BLAS + bit-twiddling.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _planes(dim: int, k: int, tables: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((tables, dim, k))


def _list_matrix(col, n_rows: int) -> np.ndarray:
    """Arrow ListArray of equal-length float lists → (n_rows, dim) float64
    matrix, zero object churn: one flatten (honours slice offsets) + one
    reshape over the contiguous values buffer.  Guards against ragged
    input (a silent mis-reshape would shear every row after the first)."""
    flat = col.flatten().to_numpy(zero_copy_only=False)
    if n_rows and flat.size % n_rows:
        raise ValueError("ragged embedding column: lists are not equal-length")
    return flat.astype(np.float64).reshape(n_rows, -1)


def arrow_cosine_rerank(
    paired: DataFrame, a_col: str, b_col: str, out_a: str, out_b: str
) -> DataFrame:
    """Exact rounded-cosine re-rank of candidate pairs, Arrow-native.

    The r3-r6 version was mapInPandas + ``np.stack`` over the per-row
    ndarray objects pandas materializes — for the all-pairs mirrors that
    meant millions of small-object allocations per bench run, ~4× the cost
    of the math itself (guide §4.2: hand whole batches to vectorized
    native code).  mapInArrow borrows each list column's contiguous values
    buffer instead (one flatten + reshape per column per batch).

    The arithmetic is kept BIT-IDENTICAL to the old path — float64
    elementwise products, ``.sum(axis=1)`` in NumPy's summation order,
    ``np.round(·, 6)`` — because the hash-gated oracle rows
    (embedding_dups_lsh_exact, knn_lsh_exact, knn_ivf_exact) compare these
    rounded doubles against DuckDB at ANY scale factor; a JVM-expression
    re-rank (sequential sum) was measured bit-equal at sf0.01/sf0.1 but
    was also 2× slower than this (interpreted higher-order functions) —
    rejected on both grounds."""

    def rerank(batches):
        import pyarrow as pa

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            names = rb.schema.names
            A = _list_matrix(rb.column(names.index(a_col)), n)
            B = _list_matrix(rb.column(names.index(b_col)), n)
            sim = np.round(
                (A * B).sum(axis=1)
                / (np.sqrt((A * A).sum(axis=1)) * np.sqrt((B * B).sum(axis=1))),
                6,
            )
            yield pa.RecordBatch.from_pydict(
                {
                    out_a: rb.column(names.index(out_a)),
                    out_b: rb.column(names.index(out_b)),
                    "cos_sim": pa.array(sim),
                }
            )

    return paired.select(out_a, out_b, a_col, b_col).mapInArrow(
        rerank, f"{out_a} long, {out_b} long, cos_sim double"
    )


def lsh_signatures(
    emb_df: DataFrame, dim: int, k: int = 16, tables: int = 8, seed: int = 11,
    id_col: str = "vec_id", emb_col: str = "embedding",
    keep_cols: list[str] | None = None, with_full_sig: bool = False,
    widen: bool = True,
) -> DataFrame:
    """(id, table, sig) — one k-bit signature per hash table per vector.

    ``keep_cols`` are carried through unchanged (e.g. the event-time and
    embedding columns for the streaming near-dup operator — mapInPandas is
    stateless, so the same kernel serves batch and stream); the declared
    schema iterates ``keep`` so schema order always matches the frame.

    ``with_full_sig=True`` adds ``all_sigs array<long>`` — the vector's
    signature in EVERY table, sliced from the same batched GEMM outputs the
    bucket keys come from.  Consumers that need a vector's cross-table
    agreement set (the streaming near-dup's minimal-agreeing-table rule)
    read it from this column instead of recomputing the projections:
    BLAS may round a (1,dim)@(dim,k) recompute differently from the batched
    (n,dim)@(dim,k) product, so a projection within fp noise of zero could
    flip sign between key and recompute — carrying the computed signatures
    makes key and agreement set bit-identical by construction."""
    keep = list(keep_cols or [])
    # seeded and small (tables × dim × k doubles): shipped in the closure,
    # so two calls with the same arguments build sameSemantics-equal plans
    P = _planes(dim, k, tables, seed)
    shifts = np.arange(k, dtype=np.uint64)

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            S = np.empty((P.shape[0], len(ids)), dtype=np.int64)
            for t in range(P.shape[0]):
                bits = (X @ P[t] > 0).astype(np.uint64)  # (n, k)
                S[t] = (bits << shifts[None, :]).sum(axis=1).astype(np.int64)
            frames = []
            for t in range(P.shape[0]):
                f = pd.DataFrame(
                    {
                        id_col: ids,
                        "table": np.full(len(ids), t, dtype=np.int32),
                        "sig": S[t],
                    }
                )
                for c in keep:
                    f[c] = pdf[c].to_numpy()
                if with_full_sig:
                    f["all_sigs"] = list(S.T)  # per-vector (tables,) slice
                frames.append(f)
            yield frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)

    keep_schema = "".join(
        f", {c} {emb_df.schema[c].dataType.simpleString()}" for c in keep
    )
    if with_full_sig:
        keep_schema += ", all_sigs array<long>"
    cols = [id_col, emb_col] + [c for c in keep if c != emb_col]
    src = emb_df.select(*cols)
    if widen:
        from .partitioning import ensure_min_partitions

        # the signature GEMM runs in the scan stage, and the signature
        # table's partitioning seeds every downstream bucket join — widen a
        # narrow (single-split) input once (no-op for streaming/multi-split
        # inputs).  Callers signing a SMALL side (a query batch) pass
        # widen=False: an exchange plus 32-task stages for a handful of
        # rows is pure overhead.
        src = ensure_min_partitions(src)
    return src.mapInPandas(
        gen, f"{id_col} long, table int, sig long{keep_schema}"
    )


def kmeans_codebook(
    emb_df: DataFrame, nlist: int, sample: int = 20000, iters: int = 12,
    seed: int = 13, id_col: str = "vec_id", emb_col: str = "embedding",
    n_upper: int | None = None,
) -> np.ndarray:
    """Train the IVF coarse quantizer: Lloyd's k-means on a bounded sample
    (deterministic seed).  Sample size is FIXED regardless of corpus size —
    the driver never holds more than `sample` vectors.

    ``n_upper`` is an optional UPPER BOUND on the corpus row count (e.g.
    from parquet footers).  When it proves the whole corpus fits the
    sample, the sizing ``count()`` (a full Spark job) resolves to
    ``frac = 1.0`` and the LIMIT to a no-op, so both are skipped — the
    ``sample(1.0)`` Bernoulli pass keeps every row in order, making the
    collected matrix bit-identical to the counted path.  Above the bound
    (a real at-scale corpus) the exact count runs as before."""
    if n_upper is not None and n_upper <= sample:
        frac = 1.0
        pdf = emb_df.select(emb_col).sample(frac, seed=seed).toPandas()
    else:
        n = emb_df.count()
        frac = min(1.0, (sample * 1.2) / max(n, 1))
        pdf = (
            emb_df.select(emb_col).sample(frac, seed=seed).limit(sample).toPandas()
        )
    X = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
    X = X / np.linalg.norm(X, axis=1, keepdims=True)  # cosine → spherical
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(nlist, len(X)), replace=False)]
    for _ in range(iters):
        sims = X @ C.T
        assign = sims.argmax(axis=1)
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                c = members.mean(axis=0)
                C[j] = c / max(np.linalg.norm(c), 1e-12)
    return C


def ivf_assign(
    emb_df: DataFrame, centroids: np.ndarray, nprobe: int = 1,
    id_col: str = "vec_id", emb_col: str = "embedding",
) -> DataFrame:
    """(id, list_id, embedding): nearest-centroid (or nprobe-nearest, for the
    query side) assignment — one GEMM per Arrow batch."""
    b = emb_df.sparkSession.sparkContext.broadcast(np.asarray(centroids))

    def gen(batches):
        C = b.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
            Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
            sims = Xn @ C.T
            top = np.argsort(-sims, axis=1)[:, :nprobe]  # (n, nprobe)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(), nprobe),
                    "list_id": top.ravel().astype(np.int32),
                    emb_col: np.repeat(pdf[emb_col].to_numpy(), nprobe),
                }
            )

    return emb_df.select(id_col, emb_col).mapInPandas(
        gen, f"{id_col} long, list_id int, {emb_col} array<float>"
    )


def knn_ivf(
    corpus: DataFrame, queries: DataFrame, topk: int = 5,
    nlist: int = 16, nprobe: int = 4, seed: int = 13,
    id_col: str = "vec_id", emb_col: str = "embedding",
    n_upper: int | None = None,
) -> DataFrame:
    """IVF ANN top-k: equi-join query probes with corpus inverted lists on
    list_id, exact cosine re-rank of list members only.  Recall/cost is the
    standard IVF dial: probe nprobe of nlist lists → touch ≈ nprobe/nlist of
    the corpus (recall vs brute force pytest-verified).  ``n_upper`` (an
    upper bound on the corpus size, e.g. from parquet footers) lets the
    codebook skip its sizing count() when the corpus fits the sample."""
    C = kmeans_codebook(
        corpus, nlist, seed=seed, id_col=id_col, emb_col=emb_col, n_upper=n_upper
    )
    lists = ivf_assign(corpus, C, nprobe=1, id_col=id_col, emb_col=emb_col)
    probes = ivf_assign(queries, C, nprobe=nprobe, id_col=id_col, emb_col=emb_col)
    paired = probes.select(
        F.col(id_col).alias("query_id"), "list_id", F.col(emb_col).alias("q_emb")
    ).join(
        lists.select(F.col(id_col).alias("neighbor_id"), "list_id", F.col(emb_col).alias("c_emb")),
        "list_id",
    )

    sims = arrow_cosine_rerank(paired, "q_emb", "c_emb", "query_id", "neighbor_id")
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return sims.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= topk)


def knn_lsh(
    corpus: DataFrame, queries: DataFrame, dim: int, topk: int = 5,
    k: int = 16, tables: int = 8, seed: int = 11,
    id_col: str = "vec_id", emb_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: LSH bucket candidates → exact cosine re-rank.
    Returns (query_id, neighbor_id, cos_sim, rnk)."""
    # widen=False both sides: the query batch is tiny by contract and the
    # per-query candidate work is O(tables · bucket) — the extra exchange +
    # 32-task stages that widening adds cost more than the GEMMs here (at
    # cluster scale a large corpus arrives as many splits and is parallel
    # regardless)
    cs = lsh_signatures(corpus, dim, k, tables, seed, id_col, emb_col, widen=False)
    qs = lsh_signatures(queries, dim, k, tables, seed, id_col, emb_col, widen=False)
    cands = (
        qs.select(F.col(id_col).alias("query_id"), "table", "sig")
        .join(cs.select(F.col(id_col).alias("neighbor_id"), "table", "sig"), ["table", "sig"])
        .select("query_id", "neighbor_id")
    )
    if tables > 1:
        # dedup across tables; with ONE table each pair occurs at most once,
        # so the distinct (a full pair-table exchange) is provably a no-op —
        # skipping it removes the only shuffle of the candidate stream
        cands = cands.distinct()
    qe = queries.select(
        F.col(id_col).alias("query_id"), F.col(emb_col).alias("q_emb")
    )
    ce = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("c_emb")
    )
    paired = cands.join(F.broadcast(qe), "query_id").join(ce, "neighbor_id")

    sims = arrow_cosine_rerank(paired, "q_emb", "c_emb", "query_id", "neighbor_id")
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= topk)
    )
