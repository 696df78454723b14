"""Engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload ingest_replay --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run checks the shipped query tables
against ``data/SHA256SUMS``, makes the ingest frames from the seed under
``.perfbench/`` in the checkout, starts ``worker.py`` as the
measured process, checks its outputs and prints one JSON line as the last
line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` the per-layer metrics, whose full detail is also written to
``.perfbench/trace-<workload>-<seed>.json``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_LIMIT_S = 170  # the whole run must end within 180 s

# Run hygiene, as bench.py sets it: a known-benign pandas FutureWarning
# from the stateful-streaming serializer would otherwise flood the log.
PYTHONWARNINGS = "ignore:The behavior of DataFrame concatenation:FutureWarning"
DRIVER_MEM = "6g"  # the engine's 16g default is more than a 15 GB, 4-core machine has
SUFFIX_UNITS = [("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"), ("_mb", "MB"),
                ("_frac", "fraction"), (".bytes", "B")]


def unit_of(name: str) -> str:
    return next((u for suffix, u in SUFFIX_UNITS if name.endswith(suffix)), "count")


def check_data() -> None:
    """The query tables are the fixed test tables, read-only: refuse
    to run on anything else."""
    data = os.path.join(HERE, "data")
    with open(os.path.join(data, "SHA256SUMS")) as fh:
        for line in fh:
            digest, name = line.split()
            with open(os.path.join(data, name), "rb") as f:
                if hashlib.sha256(f.read()).hexdigest() != digest:
                    raise RuntimeError(f"{name} is not the shipped table")


def prepare(work: str, workload: str, seed: int, trace: bool) -> None:
    """Inputs under ``work``; the engine's fixture generator needs the
    engine package importable."""
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from wl_ingest import ALL_STREAMS, STREAMS, write_frames
    from worker import BIG_PER_STREAM, FRAMES_PER_STREAM, PROBE_PER_PAIR

    check_data()
    for d in ("tmp", "local", "stream"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    if workload == "ingest_replay":
        write_frames(os.path.join(work, "frames"), STREAMS, FRAMES_PER_STREAM, seed=seed)
        if trace:
            write_frames(os.path.join(work, "probe_frames"), ALL_STREAMS,
                         3 * PROBE_PER_PAIR, seed=seed)
            write_frames(os.path.join(work, "big_frames"), STREAMS, BIG_PER_STREAM, seed=seed)


def worker_env(work: str) -> dict:
    env = dict(os.environ)
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_STREAM_TMP=os.path.join(work, "stream"),
        TMPDIR=tmp,
        PYTHONWARNINGS=PYTHONWARNINGS,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, HERE, env.get("PYTHONPATH")) if p),
        # keep the JVM's scratch inside the checkout too
        JDK_JAVA_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


def run_worker(args, work: str, deadline: float) -> dict:
    out = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out, "--spawned", repr(time.time()),
    ]
    # The worker's stdout goes to our stderr: our stdout ends with the result.
    proc = subprocess.Popen(cmd, cwd=work, env=worker_env(work), stdout=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        # the worker's session holds the JVM and Python workers: end them all
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    if rc != 0 or not os.path.exists(out):
        raise RuntimeError(f"worker failed (exit {rc})")
    with open(out) as fh:
        return json.load(fh)


def main() -> int:
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest_replay", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        prepare(work, args.workload, args.seed, bool(args.trace))
        result = run_worker(args, work, t_start + RUN_LIMIT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"cold {result['end_to_end']['cold_s']:.3f} s, warm "
          + " ".join(f"{w:.3f}" for w in result["warm_walls"]) + " s", file=sys.stderr)
    for lat in result["warm_latencies_ms"]:
        print("  operation latencies ms: " + " ".join(f"{x:.0f}" for x in lat), file=sys.stderr)
    failures = result["failures"]
    for what, why in failures.items():
        print(f"FAILED {what}: {why}", file=sys.stderr)
    if args.trace:
        metrics = result["per_layer"]
        for case, why in result["detail"].get("coverage_failures", {}).items():
            print(f"COVERAGE FAILED {case}: {why}", file=sys.stderr)
        with open(os.path.join(base, f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump(result, fh, indent=1)
    else:
        metrics = result["end_to_end"]
    print(json.dumps({
        "correct": not failures,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
