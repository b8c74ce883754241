"""Closed-loop benchmark of the engine's registered queries at sf0.1.

    python3 sparkbench/run.py --workload tpch_floor --seed 1 --seconds 10 --trace 0

One client (worker.py, a fresh process with one SparkSession on
local[<usable cores>]) issues one query at a time through the noop
sink. This launcher fits the session to the machine, gives the run its
own working, temp and Spark local directories inside the checkout,
waits for every process the run started, deletes the directory and
reports what the run had left in it. The last stdout line is the
result: {"correct", "attempted", "failed", "metrics"}; --trace 0
reports the end-to-end metrics, --trace 1 the per-layer ones.

Table data: $SPARK_GRAFT_SF_DIR, default /root/testdata/sf0.1.
"""

from __future__ import annotations

import argparse
import compileall
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RUNS = ROOT / ".sparkbench-runs"
DEFAULT_SF_DIR = "/root/testdata/sf0.1"
WORKER_TIMEOUT_S = 150  # plus up to 20 s of reaping: the run ends within 180 s
MARKER = "SPARKBENCH_RUN_ID"

sys.path.insert(0, str(HERE))
from workloads import WORKLOADS  # noqa: E402


def usable_cores() -> int:
    cores = len(os.sched_getaffinity(0))
    try:
        quota, period = Path("/sys/fs/cgroup/cpu.max").read_text().split()
        if quota != "max":
            cores = min(cores, max(1, int(int(quota) / int(period))))
    except (OSError, ValueError):
        pass
    return cores


def mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_gb(total_gb: float) -> int:
    """A third of the machine, at most 4 GB: enough heap for sf0.1
    (peak driver RSS ~2.5 GB) while the machine stays shared."""
    return max(1, min(4, int(total_gb // 3)))


def marked_pids(run_id: str) -> list[int]:
    """Processes that inherited this run's marker: the worker, its JVM
    and the JVM's Python workers."""
    needle = f"{MARKER}={run_id}".encode()
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/environ", "rb") as f:
                if needle in f.read().split(b"\0"):
                    pids.append(int(entry))
        except OSError:
            continue  # exited or not ours
    return pids


def reap(run_id: str, grace_s: float = 20.0) -> int:
    """Wait for every marked process to end, killing stragglers after
    ``grace_s``; returns how many had to be killed."""
    deadline = time.monotonic() + grace_s
    while (pids := marked_pids(run_id)) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while marked_pids(run_id):
        time.sleep(0.1)
    return len(pids)


def leftovers(run_dir: Path, made: tuple[str, ...]) -> dict[str, int]:
    """What the run left in its directory: the entries in each top-level
    directory, grouped by name up to their random suffix, and any other
    file or directory the run created."""
    out: dict[str, int] = {}
    for top in run_dir.iterdir():
        children = list(top.iterdir()) if top.is_dir() else []
        for child in children:
            key = f"{top.name}/{child.name.rsplit('-', 1)[0]}"
            out[key] = out.get(key, 0) + 1
        if not children and top.name not in made:
            out[top.name] = 1
    return dict(sorted(out.items()))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    engine = ROOT / "datatransformertools_spark"
    if not engine.is_dir() or not Path(sf_dir, "lineitem.parquet").is_file():
        print(f"sparkbench: need the engine at {engine} and tables in {sf_dir}", file=sys.stderr)
        return 2
    for d in (engine, ROOT / "tools", HERE):  # compile once, outside the timed set-up
        compileall.compile_dir(str(d), quiet=1)

    cores, total_gb = usable_cores(), mem_total_gb()
    mem_gb = driver_mem_gb(total_gb)
    run_id = uuid.uuid4().hex
    run_dir = RUNS / f"{args.workload}-{args.seed}-{run_id[:8]}"
    tmp, local = run_dir / "tmp", run_dir / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True)
    result_path = run_dir / "result.json"
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=f"{mem_gb}g",
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(local),
        # for the launcher JVM and the driver JVM; -XX:-UsePerfData stops
        # HotSpot writing /tmp/hsperfdata_<user>
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        SPARK_SUBMIT_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        **{MARKER: run_id},
    )
    env.pop("OMP_NUM_THREADS", None)  # the Python workers' thread count must not depend on the caller's shell
    cmd = [
        sys.executable, str(HERE / "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--sf-dir", sf_dir, "--result", str(result_path),
    ]
    code = result = None
    try:
        spawn = time.monotonic()
        proc = subprocess.Popen(cmd + ["--spawn", repr(spawn)], cwd=run_dir, env=env, stdout=sys.stderr)
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            code = proc.wait()
        killed = reap(run_id)
        result = json.loads(result_path.read_text()) if code == 0 and result_path.is_file() else None
        left = leftovers(run_dir, made=(tmp.name, local.name, result_path.name))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            RUNS.rmdir()
        except OSError:
            pass  # another run is using it
    if result is None:
        print(f"sparkbench: worker exited with {code} and no result", file=sys.stderr)
        return 1

    import pyspark

    print(
        f"machine: cores={cores} mem_total_gb={total_gb:.1f} driver_mem={mem_gb}g "
        f"shuffle_partitions={cores} python={platform.python_version()} spark={pyspark.__version__} "
        f"tables={sf_dir}"
    )
    print(
        f"run: workload={args.workload} seed={args.seed} trace={args.trace} "
        f"window_samples={result['samples']} queries={result['queries']} "
        f"query_p50_s={result.get('query_p50_s', float('nan')):.4f} "
        f"left_in_run_dir={json.dumps(left, sort_keys=True)} killed_at_exit={killed}"
    )
    for problem in result["problems"]:
        print(f"failed: {problem}")
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    listed = bench["per_layer"] if args.trace else bench["end_to_end"]
    values = result.get("layers" if args.trace else "metrics", {})
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed if m["name"] in values}
    print(json.dumps({
        "correct": result["correct"] and len(metrics) == len(listed),
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
