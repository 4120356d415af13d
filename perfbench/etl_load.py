"""``etl_load``: the write path.

One client in a closed loop. One unit is ``etl.pipeline.run_etl`` of
the seeded raw capture into a fresh output directory (schema-projected
JSON scan, the dedup and ``collect_list`` nest shuffles, two Parquet
writes), then ``sources.maintenance.upsert_by_key`` of a seeded delta
into the curated tweets (read-union-dedup-rewrite through the swap).

A run is split over ``SESSIONS`` Spark sessions, one after another,
each set up (the delta included) and warmed up anew. A unit runs
mostly one task at a time while the JIT compiler is still busy, so its
speed follows the state of its JVM and of the host over a few seconds:
on a shared 4-core host, runs of one session had medians from 0.92 to
1.18 s per unit while each run's own units stayed within about 10% of
its median. Pooling the units of two sessions averages over two JVMs
and a wider stretch of time.

Checks, per unit: the counts ``run_etl`` returns equal the capture's
golden counts (``gen_tweets.compute_golden``), and after the merge the
table holds one row per key with the expected key count and
favorite_count total.
"""

from __future__ import annotations

import os
import shutil

from . import harness as H
from . import inputs

N_LINES = 5_000
N_USERS = 5_000
N_UPDATES = 150
N_NEW = 30
#: Spark sessions per run, and warm-up units in each.
SESSIONS = 2
WARMUP_UNITS = 3

LAYERS = ("etl.run_ms", "maintenance.upsert_ms")


class Workload:
    unit = "load+merge"
    layers = LAYERS
    block = 1

    def __init__(self, seed: int, work_dir: str):
        self.seed, self.work_dir = seed, work_dir
        self.n_lines, self.n_updates, self.n_new = N_LINES, N_UPDATES, N_NEW
        self.sessions, self.warmup = SESSIONS, WARMUP_UNITS
        self.check_s = 0.0

    # -- inputs ------------------------------------------------------
    def generate(self) -> None:
        lines, self.golden = inputs.raw_capture(self.seed, self.n_lines,
                                                N_USERS)
        fav = inputs.original_favorites(lines)
        self.updates, self.new = inputs.etl_delta(
            self.seed, fav, self.n_updates, self.n_new)
        won = {u["id_str"]: u["favorite_count"] for u in self.updates}
        self.expect_rows = len(fav) + len(self.new)
        self.expect_fav = (sum(won.get(i, f) for i, f in fav.items())
                           + sum(n["favorite_count"] for n in self.new))
        self.root = os.path.join(self.work_dir, "etl")
        os.makedirs(self.root, exist_ok=True)
        self.raw_path = os.path.join(self.root, "capture.jsonl")
        self.n_capture = len(lines)
        with open(self.raw_path, "w") as f:
            f.write("\n".join(lines) + "\n")

    def describe(self) -> dict:
        return {"capture_lines": self.n_capture,
                "unique_originals": self.golden["n_unique_originals"],
                "unique_users": self.golden["n_unique_users"],
                "delta_updates": self.n_updates, "delta_new": self.n_new,
                "warmup_units_per_session": self.warmup}

    # -- engine ------------------------------------------------------
    def setup(self, spark) -> None:
        from pyspark.sql import functions as F

        from twitter_analysis_spark.etl.pipeline import run_etl

        self.spark = spark
        # The delta is a slice of the curated tweets with new keys and
        # counts, so it carries the curated schema exactly.
        seed_out = os.path.join(self.root, "delta_src")
        run_etl(spark, self.raw_path, seed_out)
        spec = spark.createDataFrame(
            [(d["src"], d["id_str"], d["favorite_count"])
             for d in self.updates + self.new],
            "src string, new_id string, new_fav long")
        cur = spark.read.parquet(f"{seed_out}/tweets.parquet")
        delta = (cur.join(spec, cur.id_str == spec.src)
                 .withColumn("_id", F.col("new_id"))
                 .withColumn("id_str", F.col("new_id"))
                 .withColumn("favorite_count", F.col("new_fav"))
                 .drop("src", "new_id", "new_fav"))
        self.delta_path = os.path.join(self.root, "delta.parquet")
        delta.write.mode("overwrite").parquet(self.delta_path)
        shutil.rmtree(seed_out)
        for i in range(self.warmup):
            self.run_unit(-1 - i)
            shutil.rmtree(self.out)     # only timed units are checked

    def run_unit(self, i: int) -> None:
        from twitter_analysis_spark.etl.pipeline import run_etl
        from twitter_analysis_spark.sources.maintenance import upsert_by_key

        tracer, spark = self.probe.tracer, self.spark
        self.out = os.path.join(self.root, f"out{i}")
        with self.probe.jobs("run_etl"), tracer.span("etl.run"):
            self.counts = run_etl(spark, self.raw_path, self.out)
        with self.probe.jobs("upsert"), tracer.span("maintenance.upsert"):
            upsert_by_key(spark, f"{self.out}/tweets.parquet",
                          spark.read.parquet(self.delta_path),
                          key="id_str", order_by="favorite_count")

    def verify_unit(self, i: int) -> bool:
        from pyspark.sql import functions as F

        merged = self.spark.read.parquet(f"{self.out}/tweets.parquet").agg(
            F.count(F.lit(1)), F.countDistinct("id_str"),
            F.sum("favorite_count")).first()
        shutil.rmtree(self.out)
        return (self.counts["n_tweets"] == self.golden["n_unique_originals"]
                and self.counts["n_users"] == self.golden["n_unique_users"]
                and tuple(merged) == (self.expect_rows, self.expect_rows,
                                      self.expect_fav))

    def check(self) -> list[int]:
        return []

    # -- metrics -----------------------------------------------------
    def throughput(self, units: int, seconds: float) -> float:
        return units * self.golden["n_lines"] / seconds

    def detail(self, lat_ms: list[float]) -> dict:
        return {}

    def layer_metrics(self, lat_ms: list[float], traced: list[int]) -> dict:
        tr = self.probe.tracer
        return {"etl.run_ms": H.median(tr.durations_ms("etl.run")),
                "maintenance.upsert_ms": H.median(
                    tr.durations_ms("maintenance.upsert"))}
