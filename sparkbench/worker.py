"""The benchmark's client: one SparkSession, one query at a time.

Started by run.py in a fresh process with an isolated working
directory. It sets up the session, runs one checked (cold) pass, then
warm passes for the measuring window, and writes its figures as JSON
to the path given by --result.

    python3 sparkbench/worker.py --workload W --seed N --seconds S \\
        --trace 0|1 --spawn MONOTONIC --result PATH
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import sys
import time
from collections import defaultdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

from workloads import MEMO_COLD, WORKLOADS  # noqa: E402


def _noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Client:
    """Runs the workload's queries one at a time, closed loop."""

    def __init__(self, spark, queries, sf_dir: str):
        from datatransformertools_spark import caching

        self.spark = spark
        self.queries = queries
        self.sf_dir = sf_dir
        self.caching = caching
        self.clear_s: dict[str, list[float]] = defaultdict(list)
        self.release_s: dict[str, list[float]] = defaultdict(list)

    def _around(self, name: str, timed, traced: bool = False):
        """Clear the cross-query memos before a memo-cold query and release
        the query's tracked caches after it, both outside the timed call,
        as bench.py does; other queries keep the memos. Both are timed on
        traced samples only, like every other per-layer figure."""
        if name in MEMO_COLD:
            t0 = time.perf_counter()
            self.caching.clear_all_memos()
            if traced:
                self.clear_s[name].append(time.perf_counter() - t0)
        try:
            return timed()
        finally:
            t0 = time.perf_counter()
            self.caching.release_caches()
            if traced:
                self.release_s[name].append(time.perf_counter() - t0)

    def build(self, name: str):
        return self.queries[name](self.spark, self.sf_dir)

    def collect(self, name: str):
        def timed():
            t0 = time.perf_counter()
            df = self.build(name)
            rows = df.collect()
            return time.perf_counter() - t0, list(df.columns), rows

        return self._around(name, timed)

    def run(self, name: str) -> float:
        def timed():
            t0 = time.perf_counter()
            _noop_write(self.build(name))
            return time.perf_counter() - t0

        return self._around(name, timed)

    def run_traced(self, name: str, tracer):
        return self._around(name, lambda: tracer.sample(lambda: self.build(name), _noop_write), traced=True)


def _per_pass(samples: dict[str, list[float]]) -> float:
    """Time of one pass: the sum over queries of each query's median."""
    return sum(statistics.median(v) for v in samples.values())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--spawn", type=float, required=True, help="time.monotonic() at spawn")
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    workload = WORKLOADS[args.workload]
    expected = json.loads((HERE / "expected.json").read_text())["queries"]

    from check import digest

    t0 = time.perf_counter()
    from datatransformertools_spark import get_spark, registry

    spark = get_spark("sparkbench")
    get_spark_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    queries = registry.queries()
    registry_s = time.perf_counter() - t0
    setup_s = time.monotonic() - args.spawn
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    client = Client(spark, queries, args.sf_dir)
    rng = random.Random(args.seed)
    attempted = failed = 0
    problems: list[str] = []

    def order() -> list[str]:
        return rng.sample(workload, len(workload))

    # Cold pass: the first run of each query in a fresh JVM, checked
    # against the recorded oracle digest.
    cold_pass_s = 0.0
    cold: dict[str, float] = {}
    for name in order():
        attempted += 1
        try:
            seconds, cols, rows = client.collect(name)
        except Exception as e:  # a failing query is a failed operation, not a crash
            failed += 1
            problems.append(f"{name}: {type(e).__name__}: {e}"[:300])
            continue
        cold_pass_s += seconds
        cold[name] = seconds
        got = digest(cols, rows)
        if got != expected[name]:
            failed += 1
            want = expected[name]
            problems.append(
                f"{name}: got {got['rows']} rows {got['sha256'][:12]}, "
                f"expected {want['rows']} rows {want['sha256'][:12]}"
            )

    t_cold_end = time.monotonic()
    tracer = None
    if args.trace:
        from layers import PER_SAMPLE, LayerTracer

        tracer = LayerTracer(spark)

    # Warm window: passes in seeded order until the first pass is
    # complete and the window has lasted --seconds. A traced run times
    # each query twice in a row, untraced and traced, alternating which
    # goes first, so the overhead ratio compares like with like.
    plain: dict[str, list[float]] = defaultdict(list)
    traced: dict[str, list[float]] = defaultdict(list)
    layers: dict[str, list[dict]] = defaultdict(list)
    deadline = time.monotonic() + args.seconds

    def window():
        passes = 0
        while True:
            for name in order():
                if passes and time.monotonic() >= deadline:
                    return
                yield name
            passes += 1

    for step, name in enumerate(window()):
        try:
            if tracer is None:
                attempted += 1
                plain[name].append(client.run(name))
                continue
            for traced_turn in (False, True) if step % 2 == 0 else (True, False):
                attempted += 1
                if traced_turn:
                    seconds, lay = client.run_traced(name, tracer)
                    traced[name].append(seconds)
                    layers[name].append(lay)
                else:
                    plain[name].append(client.run(name))
        except Exception as e:  # counted; the window ends, the run reports what it has
            failed += 1
            problems.append(f"{name}: {type(e).__name__}: {e}"[:300])
            break

    result = {
        "attempted": attempted,
        "failed": failed,
        "correct": failed == 0 and len(plain) == len(workload),
        "problems": problems,
        "samples": sum(len(v) for v in plain.values()),
        "queries": len(plain),
    }
    if plain:
        per_query = [statistics.median(v) for v in plain.values()]
        result["metrics"] = {
            "setup_s": setup_s,
            "pass_s": _per_pass(plain),
            "query_geomean_s": math.exp(statistics.fmean(math.log(t) for t in per_query)),
        }
        result["query_p50_s"] = statistics.median(per_query)
    if tracer is not None and layers:
        per_layer = {
            key: sum(statistics.median(lay[key] for lay in layers[q]) for q in layers)
            for key in PER_SAMPLE
        }
        per_layer["caching.clear_s"] = _per_pass(client.clear_s)
        per_layer["caching.release_s"] = _per_pass(client.release_s)
        traced_pass = _per_pass(traced)
        per_layer["spark.core_busy_ratio"] = (
            per_layer["spark.executor_run_s"] / (per_layer["spark.exec_s"] * cores)
            if per_layer["spark.exec_s"] else 0.0
        )
        plan_s = sum(per_layer[f"spark.plan.{p}_s"] for p in ("analysis", "optimization", "planning"))
        per_layer["trace.build_plan_share"] = (per_layer["operators.compose_s"] + plan_s) / traced_pass
        per_layer["trace.overhead_ratio"] = traced_pass / _per_pass({q: plain[q] for q in traced})
        per_layer["session.get_spark_s"] = get_spark_s
        per_layer["registry.load_s"] = registry_s
        per_layer["jvm.peak_rss_mb"] = tracer.peak_rss_mb()
        per_layer["jit.cold_pass_s"] = cold_pass_s
        result["layers"] = per_layer
    print("per-query s (cold / warm median / traced median):", file=sys.stderr)
    for name in workload:
        warm = statistics.median(plain[name]) if plain.get(name) else float("nan")
        tr = statistics.median(traced[name]) if traced.get(name) else float("nan")
        print(f"  {name:32s} {cold.get(name, float('nan')):7.3f} {warm:7.3f} {tr:7.3f}", file=sys.stderr)
    t_stop = time.monotonic()
    spark.stop()
    print(
        f"timeline s: setup {setup_s:.1f}, cold pass end {t_cold_end - args.spawn:.1f}, "
        f"window end {t_stop - args.spawn:.1f}, stopped {time.monotonic() - args.spawn:.1f}",
        file=sys.stderr,
    )
    Path(args.result).write_text(json.dumps(result))


if __name__ == "__main__":
    main()
