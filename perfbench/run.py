"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload search_serve --seed 1 \\
        --seconds 10 --trace 0

Generates the workload's inputs from ``--seed`` (pure Python, reported
as ``setup.input_gen_s`` and kept out of ``setup_s``), starts Spark
through ``session.get_spark``, writes the inputs through the engine,
warms up, then runs units of work in a closed loop with one client for
``--seconds`` seconds and checks every unit's output.

A workload may split its run over several Spark sessions, one after
another (``Workload.sessions``): each session is a fresh driver JVM
that is set up and warmed up anew and measures its share of
``--seconds``. Latency and throughput pool the units of all sessions;
``setup_s`` is the median set-up.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are BENCHMARK.json's ``end_to_end`` list; with ``--trace 1``
its ``per_layer`` list, where a layer the workload never calls reads
0. The line before it carries the run's detail (error rate, memo-hit
and memo-miss medians, the tail percentile, memory, input sizes, and
the time of the benchmark's own input generation and checks, which
``setup_s`` leaves out). A traced run also writes its spans and
per-unit Spark counters to
``.perfbench/traces/<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("search_serve", "etl_load", "curation_batch")
#: Consecutive failed units after which a run stops early.
MAX_FAILED_IN_A_ROW = 20


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(args: argparse.Namespace) -> tuple[dict, dict]:
    """Run one workload; returns (result line, detail line)."""
    import twitter_analysis_spark  # noqa: F401  (fail before any work)

    from perfbench import harness as H

    spec = load_spec()
    mod = importlib.import_module(f"perfbench.{args.workload}")
    work_dir = os.path.join(ROOT, H.WORK_ROOT,
                            f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work_dir)
    spark = None
    try:
        wl = mod.Workload(args.seed, work_dir)
        t = time.perf_counter()
        wl.generate()
        input_gen_s = time.perf_counter() - t
        # interpreter start and imports: part of every session's set-up
        launch_s = time.perf_counter() - T0 - input_gen_s

        m = Samples()
        tracer = H.Tracer(False)
        setups, starts, memory, missing_stages = [], [], [], 0
        for _ in range(wl.sessions):
            t, check0 = time.perf_counter(), wl.check_s
            spark, session_s = H.start_session(work_dir, bool(args.trace))
            probe = wl.probe = H.Probe(spark, tracer, bool(args.trace))
            wl.setup(spark)
            # the benchmark's own input generation and output checks
            # are not set-up a user of the engine would see
            setups.append(launch_s + time.perf_counter() - t
                          - (wl.check_s - check0))
            starts.append(session_s)
            measure(args, wl, spark, probe, m, args.seconds / wl.sessions)
            m.bad |= set(wl.check())
            jpid = H.jvm_pid(spark)
            memory.append({"peak_rss_mb": H.peak_rss_mb([os.getpid(), jpid]),
                           "python_rss_mb": H.peak_rss_mb([os.getpid()]),
                           "jvm_rss_mb": H.peak_rss_mb([jpid]),
                           **H.jvm_memory_mb(spark)})
            if args.trace:
                missing_stages += probe.harvest.missing_stages
            H.stop_session(spark)
            spark = None
            if m.in_a_row >= MAX_FAILED_IN_A_ROW:
                break

        lat, bad = m.lat, m.bad
        values = {
            "setup_s": H.median(setups),
            "latency_p50_ms": H.median(lat),
            "throughput_per_s": wl.throughput(len(lat), sum(lat) / 1e3),
        }
        detail = {
            "workload": args.workload, "unit": wl.unit, "seed": args.seed,
            "units": len(lat), "sessions": len(setups),
            "error_rate": len(bad) / len(lat),
            "failed_units": sorted(bad), "setup.input_gen_s": input_gen_s,
            "setup.check_s": wl.check_s, "setup.sessions_s": setups,
            "session.start_s": H.median(starts),
            # JIT compilation still running after warm-up is warm-up
            # cost; it is reported apart from the unit's other CPU.
            "cpu_ms_per_op": (sum(m.cpu) * 1e3 - sum(m.jit)) / len(lat),
            "jit_ms_per_op": sum(m.jit) / len(lat),
            # the largest of each over the run's sessions
            **{k: max(x[k] for x in memory) for k in memory[0]},
            **wl.describe(), **wl.detail(lat),
        }
        if args.trace:
            values = layer_values(wl, lat, m.traced, m.counters, m.gc)
            values["setup.input_gen_s"] = input_gen_s
            values["session.start_s"] = H.median(starts)
            detail["missing_stages"] = missing_stages
            detail["trace_overhead_ms"] = values["trace.overhead_ms"]
            tracer.dump(
                os.path.join(ROOT, H.WORK_ROOT, "traces",
                             f"{args.workload}-seed{args.seed}.json"),
                {"latency_ms": lat, "traced_units": m.traced,
                 "counters": m.counters, "gc_ms": m.gc, "detail": detail})
        names = spec["per_layer" if args.trace else "end_to_end"]
        result = {
            "correct": not bad, "attempted": len(lat), "failed": len(bad),
            "metrics": {x["name"]: {"value": float(values.get(x["name"], 0.0)),
                                    "unit": x["unit"]} for x in names},
        }
        return result, detail
    finally:
        if spark is not None:
            H.stop_session(spark)
        shutil.rmtree(work_dir, ignore_errors=True)


class Samples:
    """Per-unit measurements pooled over a run's sessions."""

    def __init__(self):
        self.lat, self.cpu, self.jit = [], [], []
        self.gc, self.traced, self.counters = [], [], []
        self.bad: set[int] = set()
        self.in_a_row = 0


def measure(args, wl, spark, probe, m: Samples, seconds: float) -> None:
    """One session's closed loop: units for ``seconds`` seconds.

    It measures whole blocks of ``wl.block`` units (a block holds one
    of each kind of unit, in a fixed order). Traced: every other block,
    starting untraced, so the traced units sit between untraced ones
    of the same kinds. Unit indexes run on across sessions."""
    from perfbench import harness as H

    block = wl.block
    min_units = 3 * block if args.trace else 1
    loop_t0 = time.perf_counter()
    i0 = i = len(m.lat)
    while (time.perf_counter() - loop_t0 < seconds
           or i - i0 < min_units or (i - i0) % block):
        on = bool(args.trace) and ((i - i0) // block) % 2 == 1
        probe.tracer.enabled, probe.tracer.unit = on, str(i)
        gc0 = H.jvm_gc_ms(spark) if on else 0
        jit0, cpu0 = H.jvm_jit_ms(spark), H.tree_cpu_seconds()
        t = time.perf_counter()
        try:
            with probe.tracer.span("unit"):
                wl.run_unit(i)
            ok = True
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        m.lat.append((time.perf_counter() - t) * 1e3)
        m.cpu.append(H.tree_cpu_seconds() - cpu0)
        m.jit.append(H.jvm_jit_ms(spark) - jit0)
        probe.tracer.enabled = False
        if on:
            m.traced.append(i)
            m.gc.append(H.jvm_gc_ms(spark) - gc0)
            m.counters.append(probe.collect())
        if ok:
            try:
                ok = wl.verify_unit(i)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
        if not ok:
            m.bad.add(i)
        m.in_a_row = 0 if ok else m.in_a_row + 1
        i += 1
        if m.in_a_row >= MAX_FAILED_IN_A_ROW:
            break


def layer_values(wl, lat, traced, counters, gc) -> dict:
    """Per-layer metrics from the traced units of a traced run."""
    from perfbench import harness as H

    produced = wl.layer_metrics(lat, traced)
    missing = set(wl.layers) - set(produced)
    if missing:
        raise RuntimeError(f"workload left layers unmeasured: {missing}")
    out = dict(produced)
    for name in H.SPARK_COUNTERS:
        out[f"spark.{name}"] = H.mean(
            [sum(c[name] for c in unit.values()) for unit in counters])
    out["jvm.gc_ms"] = H.mean(gc)
    on = set(traced)
    untraced = [x for i, x in enumerate(lat) if i not in on]
    out["trace.overhead_ms"] = (H.median([lat[i] for i in traced])
                                - H.median(untraced))
    return out


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    result, detail = run(args)
    print(json.dumps(detail))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
