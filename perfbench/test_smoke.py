"""Tiny-size smoke test of the benchmark.

    python3 -m pytest perfbench/test_smoke.py -q

For each workload, with its input sizes cut to a few hundred rows by
the code each test injects before the run: an untraced run prints every
``end_to_end`` metric of BENCHMARK.json with its unit, a traced run
every ``per_layer`` metric, and a run with a deliberately wrong engine
result reports the failure (``failed`` > 0, so the error rate is above
0). Each run is its own process, as the benchmark is run.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARGS = ["--seed", "3", "--seconds", "1"]

#: Injected into every run: tiny inputs and a short warm-up.
TINY = """
from perfbench import curation_batch, etl_load, search_serve
search_serve.N_TWEETS, search_serve.WARMUP_SESSIONS = 300, 1
etl_load.N_LINES, etl_load.N_UPDATES, etl_load.N_NEW = 250, 8, 2
etl_load.WARMUP_UNITS = 1
curation_batch.N_DOCUMENTS, curation_batch.N_EMBEDDINGS = 60, 60
curation_batch.N_EVENTS, curation_batch.N_EVENT_USERS = 500, 20
"""

#: Per workload: code that makes the engine return a wrong result.
FAULTS = {
    "search_serve": """
from pyspark.sql import functions as F
from twitter_analysis_spark.operators import search
orig = search.search_tweets
search.search_tweets = lambda *a, **k: orig(*a, **k).where(F.col("lang") != "en")
""",
    "etl_load": """
from pyspark.sql import functions as F
from twitter_analysis_spark.etl import pipeline
orig = pipeline.build_users
pipeline.build_users = lambda raw: orig(raw).where(~F.col("id").endswith("7"))
""",
    "curation_batch": """
from twitter_analysis_spark.catalog import QUERIES
orig = QUERIES["graph_pagerank"]
QUERIES["graph_pagerank"] = lambda spark, sf: orig(spark, sf).limit(5)
""",
}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _run(workload: str, trace: int, fault: str = "") -> dict:
    code = (f"import sys; sys.path.insert(0, {ROOT!r})\n{TINY}\n{fault}\n"
            "from perfbench import run\n"
            f"sys.exit(run.main({['--workload', workload, '--trace', str(trace), *ARGS]!r}))")
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def _check_metrics(result: dict, names: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    got = result["metrics"]
    assert list(got) == [m["name"] for m in names]
    for m in names:
        assert got[m["name"]]["unit"] == m["unit"]
        assert math.isfinite(got[m["name"]]["value"])


@pytest.mark.parametrize("workload", list(FAULTS))
def test_metrics_print_with_units(workload):
    spec = _spec()
    plain = _run(workload, 0)
    _check_metrics(plain, spec["end_to_end"])
    assert plain["correct"] and plain["failed"] == 0
    assert all(v["value"] > 0 for v in plain["metrics"].values())
    _check_metrics(_run(workload, 1), spec["per_layer"])


@pytest.mark.parametrize("workload", list(FAULTS))
def test_wrong_result_raises_error_rate(workload):
    result = _run(workload, 0, FAULTS[workload])
    assert not result["correct"]
    assert result["failed"] / result["attempted"] > 0
