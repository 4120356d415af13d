"""``curation_batch``: the dedup / similarity curation pass.

One client in a closed loop. One unit is one pass over ten catalog
rows (``catalog.QUERIES``): the five embedding-cosine rows, the n-gram
Jaccard and cluster rows, the training-set row and PageRank. Each row
is evaluated through the order-insensitive ``bit_xor(xxhash64(*cols))``
aggregate that ``bench.py`` uses, so construction (``QUERIES[name]``)
and execution (the hash action) are timed apart.

Checks: once per run, in the warm-up pass (outside the timed region
and, timed apart as ``setup.check_s``, outside ``setup_s``), every
row's result must match its DuckDB oracle through
``tests/parity.py:compare``, and every timed pass must reproduce the
hashes of those checked results.
"""

from __future__ import annotations

import os
import time

from . import harness as H
from . import inputs

ROWS = ("dedup_embedding_cosine", "dedup_semantic", "sim_knn_join",
        "sim_kmeans_ivf", "sim_ivf_topk", "dedup_ngram_jaccard",
        "dedup_clusters_star", "dedup_canonical", "corpus_training_set",
        "graph_pagerank")

#: Table sizes. The schemas and value shapes are those of the sf0.1
#: test data; the counts are scaled so that a cold pass, one timed pass
#: and the oracle check fit one run.
N_DOCUMENTS = 500
N_EMBEDDINGS = 1_000
N_EVENTS = 10_000
N_EVENT_USERS = 150

LAYERS = tuple(f"row.{r}.{p}_ms" for r in ROWS for p in ("construct", "exec"))

#: Tables that DuckDB's oracle connection declares views for but that
#: no row of this pass reads.
_UNUSED = ("region", "nation", "customer", "supplier", "part", "orders",
           "lineitem")


class Workload:
    unit = "pass"
    layers = LAYERS
    block = 1
    sessions = 1

    def __init__(self, seed: int, work_dir: str):
        self.seed, self.work_dir = seed, work_dir
        self.sizes = {"documents": N_DOCUMENTS, "embeddings": N_EMBEDDINGS,
                      "events": N_EVENTS, "event_users": N_EVENT_USERS}
        self.sf_dir = os.path.join(work_dir, "curation")
        self.hashes: dict[str, int] = {}
        self.oracle_problems: list[str] = []
        self.check_s = 0.0

    # -- inputs ------------------------------------------------------
    def generate(self) -> None:
        import pandas as pd

        s = self.sizes
        inputs.curation_tables(self.seed, self.sf_dir, s["documents"],
                               s["embeddings"], s["events"],
                               s["event_users"])
        for t in _UNUSED:
            pd.DataFrame({"unused": pd.Series([], dtype="int64")}) \
                .to_parquet(os.path.join(self.sf_dir, f"{t}.parquet"))

    def describe(self) -> dict:
        return {**self.sizes, "rows": list(ROWS)}

    # -- engine ------------------------------------------------------
    def setup(self, spark) -> None:
        from twitter_analysis_spark.catalog import ORACLES, QUERIES

        from tests.parity import compare

        self.spark = spark
        for name in ROWS:
            # The warm-up pass: construct and hash each row as a timed
            # pass does. The result stays cached, so the oracle check
            # reads the very rows that were hashed.
            df = QUERIES[name](spark, self.sf_dir).persist()
            self.hashes[name] = _row_hash(df)
            t = time.perf_counter()
            self.oracle_problems += compare(spark, self.sf_dir, name,
                                            lambda *_: df, ORACLES[name])
            self.check_s += time.perf_counter() - t
            df.unpersist()

    def run_unit(self, i: int) -> None:
        from twitter_analysis_spark.catalog import QUERIES

        probe, tracer = self.probe, self.probe.tracer
        self.got = {}
        for name in ROWS:
            with probe.jobs(name):
                with tracer.span(f"row.{name}.construct"):
                    df = QUERIES[name](self.spark, self.sf_dir)
                with tracer.span(f"row.{name}.exec"):
                    self.got[name] = _row_hash(df)

    def verify_unit(self, i: int) -> bool:
        return not self.oracle_problems and self.got == self.hashes

    def check(self) -> list[int]:
        return []

    # -- metrics -----------------------------------------------------
    def throughput(self, units: int, seconds: float) -> float:
        return units * len(ROWS) / seconds

    def detail(self, lat_ms: list[float]) -> dict:
        return {"oracle_problems": self.oracle_problems[:5]}

    def layer_metrics(self, lat_ms: list[float], traced: list[int]) -> dict:
        tr = self.probe.tracer
        return {f"row.{r}.{p}_ms": H.median(tr.durations_ms(f"row.{r}.{p}"))
                for r in ROWS for p in ("construct", "exec")}


def _row_hash(df) -> int:
    from pyspark.sql import functions as F

    return df.agg(F.bit_xor(F.xxhash64(*df.columns))).first()[0]
