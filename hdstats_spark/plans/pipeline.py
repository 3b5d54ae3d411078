"""TierPipeline: checkpointed raw → 1m → 1h → 1d materialization.

One run = one micro-batch: for every *day partition* of the input that is not
yet committed to a tier table, roll up and commit with lineage (input
snapshot id, partitions processed, row counts, wall time).  Re-running after
a crash (or with late data via ``reroll_days``) touches only missing /
re-rolled partitions — commits are atomic snapshot flips (icelite), so a
failure mid-write leaves orphan files but never a half-visible partition,
and reprocessing is idempotent.

Scale shape: the per-day filter prunes at the manifest level before any scan;
each tier is one partial+final hash aggregate; the cascade reads the finer
tier, never raw (a 10^12-turn backfill aggregates 1d from 1h, not from raw).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..icelite import IceliteTable
from ..operators.channels import channelize
from ..operators.rollup import rollup_cascade, rollup_raw
from ..schema import CHANNELS, TIER_PARENT, TIERS


def _day(col):
    return F.date_format(col, "yyyy-MM-dd")


class TierPipeline:
    """Hash-repartition raw on conv_id ONCE, then every tier aggregate and
    every tier write runs exchange-free — HashPartitioning(conv_id)
    satisfies ClusteredDistribution(conv_id, bucket) for all three
    groupBys, and the writer takes the rows as-is.  One full-input shuffle
    total, instead of per-tier agg exchanges plus a tier-size round-robin
    re-shuffle before each write (BENCH/BASELINE.md, 129.9M turns, rollup
    phase: 2→8-core efficiency 0.84-0.91 against 0.78 for the per-tier
    plan)."""

    def __init__(self, spark: SparkSession, root: str, raw_root: str | None = None):
        self.spark = spark
        self.root = root
        self.tables = {
            name: IceliteTable(os.path.join(root, f"tier_{name}"))
            for name in ("raw", "1m", "1h", "1d")
        }
        if raw_root:  # share an already-ingested raw tier across runs
            self.tables["raw"] = IceliteTable(raw_root)

    def _missing_days(self, table: IceliteTable, days: set[str], reroll: set[str]) -> set[str]:
        return (days - table.committed_partitions()) | (days & reroll)

    def run(
        self,
        transcripts: DataFrame | None = None,
        input_snapshot: str = "adhoc",
        reroll_days: set[str] | None = None,
        phase: str = "all",
        with_composite: bool = False,
    ) -> dict:
        """Process all uncommitted (or re-rolled) day partitions through every
        tier.  Returns per-tier metrics (also recorded in each commit's
        lineage).

        phase: "ingest" materializes only the raw tier (tokenize-heavy I/O),
        "rollup" rolls an existing raw tier into 1m/1h/1d (the north-metric
        phase), "all" does both.

        with_composite additionally materializes the per-conversation
        geometric-median + MAD composite tier from the 1m tier — the
        reference kernels as continuous aggregates (BASELINE.json
        north_star), committed like any other tier."""
        reroll = set(reroll_days or ())
        t0 = time.time()
        if transcripts is not None:
            ch = channelize(transcripts).withColumn("day", _day("ts"))
            days = {r["day"] for r in ch.select("day").distinct().collect()}
        else:
            assert phase == "rollup", "rollup-only runs may omit transcripts"
            days = self.tables["raw"].committed_partitions()
        metrics: dict = {"days_seen": len(days)}

        # raw tier: channelized turns (no text — the source table keeps it),
        # partitioned by day
        raw_tbl = self.tables["raw"]
        if phase in ("all", "ingest"):
            todo = self._missing_days(raw_tbl, days, reroll)
            if todo:
                part = ch.filter(F.col("day").isin(sorted(todo)))
                snap = raw_tbl.overwrite_partitions(
                    part,
                    "day",
                    lineage={
                        "input_snapshot": input_snapshot,
                        "partitions": sorted(todo),
                        "elapsed_s": round(time.time() - t0, 2),
                    },
                )
                rows = sum(snap.partitions[d]["rows"] for d in todo)
                metrics["raw"] = {"days": len(todo), "rows": rows}
        if phase == "ingest":
            metrics["elapsed_s"] = round(time.time() - t0, 2)
            return metrics

        # 1m from raw, then cascade 1h from 1m, 1d from 1h.  Within one run
        # the cascade consumes the persisted in-memory parent (the committed
        # data is identical, and re-reading the freshly written files would
        # pay a tiny-file storm); resume paths fall back to the table.
        computed: dict[str, DataFrame] = {}
        computed_days: dict[str, set] = {}
        for tier in ("1m", "1h", "1d"):
            tt0 = time.time()
            tbl = self.tables[tier]
            todo = self._missing_days(tbl, days, reroll)
            if not todo:
                metrics[tier] = {"days": 0, "rows": 0}
                continue
            parent = TIER_PARENT[tier]
            src_tbl = self.tables[parent]
            if parent in computed and todo <= computed_days[parent]:
                src = computed[parent]
            else:
                src = src_tbl.read(self.spark, partitions=sorted(todo))
            if tier == "1m":
                n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
                out = rollup_raw(src.repartition(n, "conv_id"), "1m")
            else:
                out = rollup_cascade(src.drop("day"), tier)
            out = out.withColumn("day", _day("bucket")).persist()
            snap = tbl.overwrite_partitions(
                out,
                "day",
                lineage={
                    "input_snapshot": input_snapshot,
                    "parent_snapshot": src_tbl.current_snapshot_id(),
                    "partitions": sorted(todo),
                },
                # rows arrive clustered on conv_id with full parallelism:
                # write as-is (zero extra exchanges anywhere in the cascade)
                cluster="asis",
            )
            computed[tier] = out
            computed_days[tier] = set(todo)
            rows = sum(snap.partitions[d]["rows"] for d in todo if d in snap.partitions)
            metrics[tier] = {
                "days": len(todo),
                "rows": rows,
                "elapsed_s": round(time.time() - tt0, 2),
                **getattr(tbl, "last_write_timings", {}),
            }
        if with_composite:
            from ..operators.series import geomedian_mads_flat
            from ..schema import CHANNELS

            tt0 = time.time()
            src = computed.get("1m")
            if src is None:
                src = self.tables["1m"].read(self.spark, partitions=sorted(days))
            # tier config: maxiters=20 (vs the kernel default 1000).  Integer
            # count channels make a large share of real series oscillate at
            # float32 resolution instead of hitting eps=1e-7, so extra
            # iterations buy no accuracy; 20 covers the typical convergence
            # point (median ≈ 8-15 on these series).  Exact-parity runs
            # (pytest vs the reference oracle) use the kernel defaults.
            comp = geomedian_mads_flat(src.drop("day"), CHANNELS, maxiters=20)
            snap = IceliteTable(os.path.join(self.root, "tier_gm")).append(
                comp,
                lineage={
                    "input_snapshot": input_snapshot,
                    "parent_snapshot": self.tables["1m"].current_snapshot_id(),
                    "partitions": sorted(days),
                },
            )
            rows = sum(m["rows"] for m in snap.partitions.values())
            metrics["gm"] = {"rows": rows, "elapsed_s": round(time.time() - tt0, 2)}

        for df in computed.values():
            df.unpersist()

        metrics["elapsed_s"] = round(time.time() - t0, 2)
        metrics["points"] = sum(
            metrics.get(t, {}).get("rows", 0) for t in ("1m", "1h", "1d", "gm")
        )
        return metrics
