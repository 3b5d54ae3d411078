"""Focused tests for the round-7 second-pass optimization internals:

* the one scan that tags rows with their file (delete class, partition)
  must give the same rows as the data source's per-file anti join and
  the per-partition reads, past one label map's file count and for a
  partition value that URI encoding changes;
* kmeans_codebook's footer-bounded count skip must produce a
  bit-identical codebook;
* _parquet_col_max must equal the Spark aggregate it replaces, and
  refuse non-integer columns;
* the session registry of shared query intermediates must build each one
  once, keep the cross-query sharing, and rebuild when its input files
  change;
* the same-plan cache retention must reuse identical plans, distinguish
  different ones, and fall back safely when a plan cannot be compared.
"""

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


# ' ' and '%' are spelled differently in input_file_name()'s URI than on
# disk, and '+' is spelled the same but means a space to form decoding
_ODD_VALUE = "a+b c%d"


def test_uri_tail2_matches_hadoop_path(spark):
    """The label map's keys must be spelled as input_file_name() spells
    the file: Hadoop's Path.toUri(), for every printable ASCII character,
    tab, and non-ASCII letters, spaces, controls and a surrogate pair."""
    from hdstats_spark.icelite import _uri_tail2

    chars = [chr(c) for c in range(0x20, 0x7F) if chr(c) != "/"]
    chars += ["\t", "ü", "é", "\xa0", "\x85", " ", "　", "\U0001F600"]
    for c in chars:
        p = f"/data/pt=a{c}b%3A/part-0{c}.parquet"
        uri = spark._jvm.org.apache.hadoop.fs.Path(p).toUri().toString()
        assert _uri_tail2(p) == "/".join(uri.split("/")[-2:]), repr(c)


def test_labelled_scan_paths_agree(spark, tmp_path):
    """One merge-on-read table through every path that tags rows with their
    file: more data files in one read than one label map holds, a
    partition value that URI encoding changes, and pending deletes with
    two delete classes and two key-column sets.  ``read`` must equal the
    data source's independent per-file Arrow anti join,
    ``read_with_partition`` the per-partition reads tagged by hand, and
    ``changes_between`` the change stream derived from the rows."""
    from collections import Counter
    from functools import reduce

    from pyspark.sql import DataFrame

    from hdstats_spark.icelite import _LABEL_CHUNK, IceliteTable
    from hdstats_spark.icelite_source import register

    schema = "id long, ptc string, k2 long, v double"
    parts = ["p0", "p1", _ODD_VALUE]
    rows = [(i, parts[i % 3], i % 7, float(i)) for i in range(840)]
    up_rows = [(i, p, k, -v) for i, p, k, v in rows if i % 4 == 0]

    def frame(rs):  # ptc is a data-column copy of the partition value
        return spark.createDataFrame(rs, schema).withColumn("pt", F.col("ptc"))

    t = IceliteTable(str(tmp_path / "labelled"))
    s1 = t.append(frame(rows).repartition(70), "pt", cluster="asis")
    assert sum(len(m["files"]) for m in s1.partitions.values()) > _LABEL_CHUNK
    assert _ODD_VALUE in s1.partitions
    s2 = t.upsert(frame(up_rows), key_cols=["id"], partition_col="pt", cluster="bypart")
    s3 = t.delete_by_keys(
        spark.createDataFrame([(2,), (5,)], "k2 long"), key_cols=["k2"]
    )
    _, classes, dentries, _ = t._plan_scan()
    assert len(classes) > 1
    assert len({tuple(dentries[p]["keys"]) for key in classes for p in key}) > 1

    first = {r[0]: r for r in rows}
    merged = {**first, **{r[0]: r for r in up_rows}}
    live = sorted(r for r in merged.values() if r[2] not in (2, 5))

    cols = ["id", "ptc", "k2", "v"]

    def collect(df, extra=()):
        return sorted(tuple(r) for r in df.select(*cols, *extra).collect())

    register(spark)
    assert collect(spark.read.format("icelite").load(t.root)) == live
    assert collect(t.read(spark)) == live

    by_hand = reduce(
        DataFrame.unionByName,
        [
            t.read(spark, partitions=[p]).withColumn("_partition", F.lit(p))
            for p in parts
        ],
    )
    got = collect(t.read_with_partition(spark), ["_partition"])
    assert got == collect(by_hand, ["_partition"])
    assert all(r[1] == r[-1] for r in got)

    want = Counter()
    for r in rows:
        want[("insert", s1.seq, *r)] += 1
    for r in up_rows:
        want[("delete", s2.seq, *first[r[0]])] += 1
        want[("insert", s2.seq, *r)] += 1
    for r in merged.values():
        if r[2] in (2, 5):
            want[("delete", s3.seq, *r)] += 1
    changes = t.changes_between(spark).collect()
    assert all(r._partition == r.ptc for r in changes)
    assert Counter(
        (r._change_type, r._commit_seq, r.id, r.ptc, r.k2, r.v) for r in changes
    ) == want


def test_codebook_n_upper_bit_identical(spark):
    from hdstats_spark.operators.simsearch import kmeans_codebook

    rng = np.random.default_rng(3)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(50)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    C_counted = kmeans_codebook(e, 4, sample=200)
    C_hinted = kmeans_codebook(e, 4, sample=200, n_upper=50)
    assert np.array_equal(C_counted, C_hinted)


def test_parquet_col_max_matches_scan(spark, tmp_path):
    from hdstats_spark.driver_queries import _parquet_col_max

    p = str(tmp_path / "stats.parquet")
    spark.range(0, 1000).withColumn("x", F.col("id") * 3 - 17).write.parquet(p)
    assert _parquet_col_max(p, "x") == spark.read.parquet(p).agg(F.max("x")).collect()[0][0]
    assert _parquet_col_max(p, "nope") is None
    # exact stats are an integer-only property: doubles and strings refuse
    q = str(tmp_path / "mixed.parquet")
    spark.range(0, 50).select(
        (F.col("id") * 0.5).alias("d"), F.col("id").cast("string").alias("s")
    ).write.parquet(q)
    assert _parquet_col_max(q, "d") is None
    assert _parquet_col_max(q, "s") is None


def _write_events(path, n_users, seed):
    """A small events table of the test tables' schema: ``n_users`` users with
    20 events each over three days."""
    import datetime

    import pandas as pd

    rng = np.random.default_rng(seed)
    n = 20 * n_users
    ts = datetime.datetime(2024, 1, 1) + pd.to_timedelta(
        np.sort(rng.uniform(0, 72 * 3600, n)), unit="s"
    )
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.permutation(np.repeat(np.arange(n_users), 20)),
            "event_type": rng.choice(
                ["click", "view", "purchase", "signup", "error"], n
            ),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": "{}",
        }
    )
    pdf.to_parquet(path)


def test_registry_builds_dense_tier_once(spark, tmp_path, monkeypatch):
    from hdstats_spark import driver_queries as dq
    from hdstats_spark.operators import gapfill

    _write_events(tmp_path / "events.parquet", 6, seed=1)
    sf = str(tmp_path)
    builds = []
    real = gapfill.completion
    monkeypatch.setattr(
        gapfill, "completion", lambda *a, **kw: builds.append(1) or real(*a, **kw)
    )
    first = dq.q_dtw_area(spark, sf).collect()
    second = dq.q_dtw_area(spark, sf).collect()
    assert len(builds) == 1  # the dense tier was planned once, then reused
    assert sorted(first) == sorted(second) and len(first) == 6
    assert dq._dense_event_series(spark, sf)[0] is dq._dense_event_series(spark, sf)[0]
    assert dq._t(spark, sf, "events") is dq._t(spark, sf, "events")


def test_registry_builds_once_under_concurrent_lookups(spark, tmp_path):
    import threading

    from hdstats_spark import materialize

    path = str(tmp_path / "t.parquet")
    spark.range(5).write.parquet(path)
    builds, got = [], []

    def build():
        builds.append(1)
        return spark.read.parquet(path)

    def worker():
        for _ in range(20):
            got.append(materialize.cached(spark, ("__conc", path), [path], build))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker) for _ in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(builds) == 1 and len(got) == 16 * 20
    assert all(df is got[0] for df in got)
    got[0].unpersist()


def _cache_builders(df, columns):
    """Identities of the cache buffers behind every InMemoryRelation of
    ``df``'s plan whose columns are exactly ``columns``."""
    jvm = df.sparkSession._jvm
    leaves = df._jdf.queryExecution().withCachedData().collectLeaves()
    out = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "InMemoryRelation":
            continue
        if list(leaf.schema().fieldNames()) == list(columns):
            out.append(jvm.System.identityHashCode(leaf.cacheBuilder()))
    return out


def test_registry_shares_prepared_composite_input(spark, tmp_path):
    from hdstats_spark import driver_queries as dq

    _write_events(tmp_path / "events.parquet", 6, seed=2)
    sf = str(tmp_path)
    cols = ["conv_id", *dq.EVENT_CHANNELS]
    gm = _cache_builders(dq.q_geomedian_mads(spark, sf), cols)
    sym = _cache_builders(dq.q_symmetry(spark, sf), cols)
    assert len(gm) == 1 and gm == sym  # one shared prepared relation


def test_registry_rebuilds_when_input_rewritten(spark, tmp_path):
    from hdstats_spark import driver_queries as dq

    path = tmp_path / "events.parquet"
    sf = str(tmp_path)
    _write_events(path, 45, seed=3)
    assert dq.q_geomedian_mads(spark, sf).count() == 45
    assert dq.q_rollup_1h_cascade(spark, sf).select("user_id").distinct().count() == 45
    _write_events(path, 10, seed=4)  # same path, new contents
    assert dq.q_geomedian_mads(spark, sf).count() == 10
    assert dq.q_symmetry(spark, sf).count() == 10
    assert dq.q_rollup_1h_cascade(spark, sf).select("user_id").distinct().count() == 10
    assert dq.q_rollup_1m(spark, sf).select("user_id").distinct().count() == 10


def _cache_loaded(df):
    """Whether every cache buffer behind ``df``'s plan is filled."""
    leaves = df._jdf.queryExecution().withCachedData().collectLeaves()
    builders = [
        leaves.apply(i).cacheBuilder()
        for i in range(leaves.size())
        if leaves.apply(i).getClass().getSimpleName() == "InMemoryRelation"
    ]
    return bool(builders) and all(b.isCachedColumnBuffersLoaded() for b in builders)


def test_cached_plan_holds_one_entry_per_name(spark):
    from hdstats_spark import materialize

    name = "__test_plan"
    first = materialize.cached_plan(name, spark.range(100).withColumn("y", F.col("id") % 10))
    assert first.count() == 100
    again = materialize.cached_plan(name, spark.range(100).withColumn("y", F.col("id") % 10))
    assert again is first and _cache_loaded(again)  # same plan: warm blocks kept

    other = materialize.cached_plan(name, spark.range(101).withColumn("y", F.col("id") % 10))
    assert other is not first and other.is_cached and not first.is_cached
    assert materialize._entries[spark][("plan", name)][1] is other  # one entry per name

    fresh = spark.newSession()
    assert ("plan", name) not in materialize._entries.get(fresh, {})
    mine = materialize.cached_plan(name, fresh.range(101).withColumn("y", F.col("id") % 10))
    assert mine is not other and other.is_cached  # the first session's entry stays
    mine.unpersist()
    other.unpersist()


def _write_documents(path, texts):
    import pandas as pd

    pd.DataFrame(
        {"doc_id": np.arange(len(texts), dtype=np.int64), "text": texts}
    ).to_parquet(path)


def test_dedup_queries_follow_rewritten_documents(spark, tmp_path):
    """An operator-level cache over a rewritten file is rebuilt: each query
    equals its DuckDB oracle over the file's current contents."""
    import duckdb

    from hdstats_spark import driver_queries as dq

    path = tmp_path / "documents.parquet"
    sf = str(tmp_path)
    names = ["ngram_jaccard", "dup_clusters", "winnow_overlap"]
    a = "the quick brown fox jumps over the lazy dog near the river bank"
    b = "a stitch in time saves nine said the tailor to the young apprentice"
    c = "every cloud has a silver lining when the storm finally passes away"
    d = "red green blue yellow purple orange cyan magenta and plain grey"

    def answers(spark_side):
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        out = {}
        for name in names:
            if spark_side:
                rows = [tuple(r) for r in dq.queries()[name](spark, sf).collect()]
            else:
                rows = con.sql(dq.oracles()[name]).fetchall()
            out[name] = sorted(
                tuple(round(v, 6) if isinstance(v, float) else v for v in r) for r in rows
            )
        return out

    _write_documents(path, [a, a + " today", b, b + " again"])
    assert answers(True) == answers(False)
    _write_documents(path, [a, c, a, d])  # same path, new contents
    new = answers(False)
    assert new["ngram_jaccard"] == [(0, 2, 1.0)]
    assert answers(True) == new
    _write_documents(path, [d, b, c, b])  # a second rewrite after warm reuse
    new = answers(False)
    assert new["ngram_jaccard"] == [(1, 3, 1.0)]
    assert answers(True) == new


def test_new_session_follows_rewrite_cached_by_another_session(spark, tmp_path):
    """The CacheManager is shared by every session of one SparkContext: a
    session that first reads a table after it was rewritten must not be
    served rows that another session cached before the rewrite."""
    import duckdb

    from hdstats_spark import driver_queries as dq

    path = tmp_path / "documents.parquet"
    sf = str(tmp_path)
    a = "the quick brown fox jumps over the lazy dog near the river bank"
    b = "a stitch in time saves nine said the tailor to the young apprentice"
    c = "every cloud has a silver lining when the storm finally passes away"
    d = "red green blue yellow purple orange cyan magenta and plain grey"

    _write_documents(path, [a, a + " today", b, b + " again"])
    assert dq.queries()["ngram_jaccard"](spark, sf).count() == 2
    _write_documents(path, [a, c, a, d])
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
    want = sorted(con.sql(dq.oracles()["ngram_jaccard"]).fetchall())
    assert want == [(0, 2, 1.0)]
    other = spark.newSession()
    got = [tuple(r) for r in dq.queries()["ngram_jaccard"](other, sf).collect()]
    assert sorted((x, y, round(s, 6)) for x, y, s in got) == want
