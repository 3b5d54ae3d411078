"""Text analysis operators beyond the SQL-expressible ones in
driver_queries: document fingerprinting by winnowing (Schleimer et al.,
SIGMOD 2003).

Character k-gram rolling hashes (polynomial mod a Mersenne prime) are
computed vectorized per document inside mapInPandas — Horner's rule is k
vectorized passes, window minima via a sliding-window argmin — then each
document keeps the distinct set of selected hashes (its fingerprint sketch).
Fingerprint overlap is a plagiarism/near-dup signal robust to reordering.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..materialize import cached_plan

_M31 = np.int64((1 << 31) - 1)
_BASE = np.int64(257)


def _kgram_hashes(text: str, k: int) -> np.ndarray:
    """Rolling polynomial hashes of all character k-grams (vectorized)."""
    c = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.int64)
    if c.size < k:
        return np.zeros(0, dtype=np.int64)
    win = np.lib.stride_tricks.sliding_window_view(c, k)  # (n-k+1, k)
    h = np.zeros(win.shape[0], dtype=np.int64)
    for j in range(k):  # Horner: k vectorized steps, mod each step
        h = (h * _BASE + win[:, j]) % _M31
    return h


def winnow(text: str, k: int = 8, w: int = 4) -> np.ndarray:
    """Distinct winnowed fingerprints: min hash of every w-window of k-gram
    hashes (rightmost min, per the winnowing paper)."""
    h = _kgram_hashes(text, k)
    if h.size == 0:
        return h
    if h.size <= w:
        return np.unique(h.min(keepdims=True))
    wins = np.lib.stride_tricks.sliding_window_view(h, w)
    # rightmost minimum: argmin on the reversed window
    rev_idx = w - 1 - np.argmin(wins[:, ::-1], axis=1)
    picked = wins[np.arange(len(wins)), rev_idx]
    return np.unique(picked)


def winnow_fingerprints(
    docs: DataFrame, k: int = 8, w: int = 4, id_col="doc_id", text_col="text"
) -> DataFrame:
    """(doc_id, fingerprint) long format — join-ready for overlap scoring."""

    def gen(batches):
        for pdf in batches:
            ids, fps = [], []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                f = winnow(text or "", k, w)
                ids.append(np.full(f.size, did, dtype=np.int64))
                fps.append(f)
            if not ids:
                continue
            yield pd.DataFrame(
                {id_col: np.concatenate(ids), "fingerprint": np.concatenate(fps)}
            )

    return docs.select(id_col, text_col).mapInPandas(gen, f"{id_col} long, fingerprint long")


def fingerprint_overlap_pairs(
    docs: DataFrame, threshold: float = 0.5, k: int = 8, w: int = 4,
    id_col="doc_id", text_col="text", max_doc_freq: int | None = None,
) -> DataFrame:
    """Document pairs whose winnowed fingerprint sets overlap ≥ threshold
    (containment of the smaller set) — equi-join on fingerprint, no cross
    join.  ``max_doc_freq`` drops fingerprints present in more than that many
    documents (standard winnowing practice: ubiquitous fragments carry no
    signal and would blow the self-join up quadratically)."""
    # cached: the fingerprint mapInPandas otherwise re-runs for every
    # consumer (hot-filter, size agg, both self-join sides) — same pattern
    # as shingle_jaccard_pairs' shingle table
    fp = cached_plan("winnow_fp", winnow_fingerprints(docs, k, w, id_col, text_col))
    if max_doc_freq is not None:
        hot = (
            fp.groupBy("fingerprint").count().filter(F.col("count") > max_doc_freq)
            .select("fingerprint")
        )
        # unhinted: hot-fingerprint count grows with the corpus; AQE
        # broadcasts it when genuinely small
        fp = cached_plan("winnow_fp_capped", fp.join(hot, "fingerprint", "left_anti"))
    sizes = fp.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = fp.select(F.col(id_col).alias("id_a"), "fingerprint")
    b = fp.select(F.col(id_col).alias("id_b"), "fingerprint")
    common = (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    # no broadcast hint: one row per document means the size table scales with
    # the corpus — let AQE broadcast only when it is genuinely small.
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("common") / F.least("sz_a", "sz_b"), 6).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


# ------------------------------------------------------- repetition filters

#: Gopher's top-n-gram character-fraction ceilings (Rae et al. 2021,
#: "Scaling Language Models: ... Gopher", Table A1): a document whose most
#: frequent n-gram accounts for more than this fraction is dropped.
GOPHER_TOP_NGRAM_MAX = {2: 0.20, 3: 0.18, 4: 0.16}


def repetition_stats(
    docs: DataFrame,
    ns: tuple = (2, 3, 4),
    id_col: str = "doc_id",
    text_col: str = "text",
    thresholds: dict | None = None,
    method: str = "maponly",
) -> DataFrame:
    """Gopher-style repetition filtering (Rae et al. 2021, Table A1):
    per-document word-n-gram repetition metrics plus the composed keep
    decision — the "excessively repetitive document" drop rule every
    large-scale training-data pipeline runs.  Count-weighted adaptation:
    Gopher weights by characters inside the repeated n-grams; over a
    whitespace-tokenized corpus the occurrence-count fraction is the same
    signal without re-materializing character spans (documented deviation).
    Line/paragraph duplicate fractions are omitted: the corpus schema is
    single-line text (they are identically zero).

    Output per document: ``n_words``, and for each n in ``ns``
    ``top{n}_frac`` (most frequent n-gram's share of all n-gram
    occurrences) and ``dup{n}_frac`` (share of occurrences belonging to
    n-grams seen more than once), plus ``keep`` = 1 iff every
    ``top{n}_frac`` is within its threshold (default
    ``GOPHER_TOP_NGRAM_MAX``).

    ``method``: a document's metrics depend on that document alone, so two
    physical plans compute the same answer:

    * ``"shuffle"`` — JVM column expressions end-to-end: one explode
      (~Σn·words rows), a two-stage aggregation whose heavy key
      (doc, n, gram) contains the document id (map-side combine, no
      cross-document skew), per-doc pivot, 1:1 restore join.  No Python;
      SQL-mirrorable (the driver-gate oracle replays it) — but it MOVES
      roughly 3× the corpus' tokens through shuffles.
    * ``"maponly"`` — Arrow-batched mapInPandas computing each document's
      Counters in place: ZERO shuffle, zero data movement beyond the scan.
      At 100 TB of text this is the plan you want (the shuffle variant
      would exchange hundreds of TB of n-gram rows); it is also stateless
      per row, so it drops into readStream unchanged.  Bit-identical to
      ``"shuffle"`` (same IEEE divisions of the same exact integers;
      equality-tested), 5× faster at sf0.1 — the DEFAULT.
    """
    thresholds = dict(GOPHER_TOP_NGRAM_MAX if thresholds is None else thresholds)
    if method == "maponly":
        return _repetition_maponly(docs, tuple(ns), id_col, text_col, thresholds)
    if method != "shuffle":
        raise ValueError("method must be 'shuffle' or 'maponly'")
    from .partitioning import ensure_min_partitions

    words = F.split(F.trim(F.col(text_col)), r"\s+")
    # tokenize + n-gram explode + the partial aggregation all run in the
    # scan stage — widen a narrow input first (no-op on multi-split scans)
    base = ensure_min_partitions(docs).select(
        F.col(id_col), words.alias("ws"), F.size(words).alias("n_words")
    )
    per_n = [
        F.expr(
            f"transform(slice(sequence(0, size(ws)), 1, "
            f"greatest(size(ws) - {n} + 1, 0)), "
            f"i -> struct({n} AS n, array_join(slice(ws, i + 1, {n}), ' ') AS gram))"
        )
        for n in ns
    ]
    grams = base.select(
        id_col, "n_words", F.explode(F.concat(*per_n)).alias("g")
    ).select(id_col, "n_words", F.col("g.n").alias("n"), F.col("g.gram").alias("gram"))
    gram_counts = grams.groupBy(id_col, "n_words", "n", "gram").agg(
        F.count(F.lit(1)).alias("c")
    )
    doc_n = gram_counts.groupBy(id_col, "n_words", "n").agg(
        F.sum("c").alias("total"),
        F.max("c").alias("top"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))).alias("dup"),
    )
    # RAW double ratios, not rounded: k/total of exact integers is the same
    # IEEE double in any engine, so oracle comparisons are exact, whereas
    # round-to-6dp can fall on an exact half boundary (k/128 = 0.0078125)
    # where HALF_UP (Spark) and half-even disagree
    metrics = doc_n.select(
        id_col,
        "n_words",
        "n",
        (F.col("top") / F.col("total")).alias("top_frac"),
        (F.col("dup") / F.col("total")).alias("dup_frac"),
    )
    pivoted = metrics.groupBy(id_col, "n_words").pivot("n", list(ns)).agg(
        F.first("top_frac").alias("top_frac"), F.first("dup_frac").alias("dup_frac")
    )
    for n in ns:
        pivoted = pivoted.withColumnRenamed(f"{n}_top_frac", f"top{n}_frac")
        pivoted = pivoted.withColumnRenamed(f"{n}_dup_frac", f"dup{n}_frac")
    # documents shorter than min(ns) words vanish at the explode — restore
    # them (metrics NULL, trivially kept)
    out = base.select(id_col, "n_words").join(
        pivoted.drop("n_words"), on=id_col, how="left"
    )
    keep = F.lit(True)
    for n, mx in sorted(thresholds.items()):
        if n in ns:
            keep = keep & (F.coalesce(F.col(f"top{n}_frac"), F.lit(0.0)) <= F.lit(mx))
    return out.withColumn("keep", keep.cast("int"))


def _repetition_maponly(
    docs: DataFrame, ns: tuple, id_col: str, text_col: str, thresholds: dict
) -> DataFrame:
    """Shuffle-free repetition metrics: per-document Counters inside
    mapInPandas (each document is one row — embarrassingly parallel).
    Splitting mirrors ``F.split(F.trim(col), r'\\s+')`` exactly (an empty
    text yields one empty token, size 1) so both methods agree
    bit-for-bit.  Mirroring is byte-precise: Spark's ``trim`` removes only
    the SPACE character (U+0020) from the ends and Java regex ``\\s`` is
    the ASCII class ``[ \\t\\n\\x0B\\f\\r]``, while Python's bare
    ``str.strip()`` / ``\\s`` are Unicode-aware (they also strip NBSP,
    ideographic space, …) — so strip literal spaces only and compile the
    splitter with ``re.ASCII``, else a document containing tabs at the
    ends or U+00A0 silently diverges from the shuffle plan and its SQL
    oracle."""
    import re

    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

    fields = [docs.schema[id_col], StructField("n_words", IntegerType(), False)]
    for n in ns:
        fields.append(StructField(f"top{n}_frac", DoubleType(), True))
        fields.append(StructField(f"dup{n}_frac", DoubleType(), True))
    fields.append(StructField("keep", IntegerType(), True))
    schema = StructType(fields)
    th = {n: thresholds[n] for n in sorted(thresholds) if n in ns}
    ws_re = re.compile(r"\s+", re.ASCII)

    from .partitioning import ensure_min_partitions

    def gen(batches):
        from collections import Counter

        import pandas as pd

        for pdf in batches:
            rows = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                words = ws_re.split(("" if text is None else text).strip(" "))
                rec = [did, len(words)]
                tops = {}
                for n in ns:
                    total = len(words) - n + 1
                    if total <= 0:
                        rec += [None, None]
                        continue
                    c = Counter(
                        " ".join(words[i : i + n]) for i in range(total)
                    )
                    top = max(c.values())
                    dup = sum(v for v in c.values() if v > 1)
                    tops[n] = top / total
                    rec += [top / total, dup / total]
                rec.append(
                    int(all(tops.get(n, 0.0) <= mx for n, mx in th.items()))
                )
                rows.append(rec)
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    # per-document Counters run in the scan stage — widen a narrow input
    # (no-op for streaming inputs and multi-split scans)
    return ensure_min_partitions(docs.select(id_col, text_col)).mapInPandas(gen, schema)
