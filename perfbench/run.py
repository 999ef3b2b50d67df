"""Benchmark of the transcript feature engine.

    python3 perfbench/run.py --workload flagship|ingest --seed N \
        --seconds S --trace 0|1 [--scale full|smoke]

Generates the workload's inputs from the seed, launches the workload in
a fresh process (`worker.py`), waits for it, reaps every process it
left, and prints the run's self-describing record on one line followed
by the result line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics; with --trace 1
they are the per-layer metrics of the traced run. See README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import re
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
DEADLINE_S = 170.0
DRIVER_HEAP = "1536m"

# Input sizes and loop shape per workload. "smoke" is the small size the
# smoke test uses; the numbers a run used are part of its record.
# `warmup_ops` untimed ops run between the cold op and the window: at 4
# cores a flagship op runs 15-40% slower as the process's second op
# than as its third, by a share that moves from run to run; from the
# third on, consecutive ops differ by 2-15%. An ingest epoch
# speeds up gradually over six or more epochs, so one warm-up epoch
# would not reach steady state and the run budget has no room for more;
# its measured epoch is always the process's second.
SIZES = {
    "flagship": {
        "full": {"n_turns": 40000, "per_code": 25, "sample_convs": 24, "warmup_ops": 1,
                 "corpus": {"n_docs": 120, "near_dup_share": 0.1, "boilerplate": 12,
                            "n_vecs": 120}},
        "smoke": {"n_turns": 3000, "per_code": 5, "sample_convs": 8, "warmup_ops": 1,
                  "corpus": {"n_docs": 60, "near_dup_share": 0.1, "boilerplate": 6,
                             "n_vecs": 60}},
    },
    "ingest": {
        "full": {"epochs": 8, "turns_per_epoch": 2500, "stream_epochs": 1, "warmup_ops": 0},
        "smoke": {"epochs": 5, "turns_per_epoch": 500, "stream_epochs": 1, "warmup_ops": 0},
    },
}

END_TO_END = {
    "setup_s": "s",
    "op_s": "s",
    "rows_per_s": "rows/s",
    "op_cpu_s": "s",
    "peak_rss_mb": "MB",
}

ERROR_LINE = re.compile(r"^\S+ \S+ ERROR |^ERROR:")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "smoke"), default="full")
    return p.parse_args(argv)


def source_digest() -> str:
    """sha256 over the engine's sources: identifies the code measured
    when the checkout carries no git metadata."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _dirs, files in sorted(os.walk(os.path.join(ROOT, "engine"))):
        paths += [os.path.join(d, f) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_sha() -> str | None:
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return r.stdout.strip() or None


def make_inputs(workload: str, seed: int, size: dict, root: str, trace: bool) -> dict:
    from perfbench import inputs

    if workload == "ingest":
        return inputs.make_ingest(root, seed, size["epochs"], size["turns_per_epoch"])
    out = inputs.make_flagship(root, seed, size["n_turns"], size["per_code"])
    if trace:
        out["corpus"] = inputs.make_corpus(os.path.join(root, "corpus"), seed, **size["corpus"])
    return out


def child_env(work: str) -> dict:
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.update(
        PYTHONPATH=ROOT,
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        # every JVM, spark-submit's launcher included: temp files under
        # the checkout and no /tmp/hsperfdata_* entry
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    )
    return env


def group_alive(pgid: int) -> list[int]:
    alive = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                if os.getpgid(int(name)) == pgid:
                    alive.append(int(name))
            except OSError:
                pass
    return alive


def reap_group(proc: subprocess.Popen) -> None:
    """Kill whatever the workload left in its process group (JVM,
    PySpark daemon, workers) and wait until none of it is running."""
    pgid = proc.pid
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    end = time.monotonic() + 20
    while group_alive(pgid) and time.monotonic() < end:
        time.sleep(0.1)


def launch(spec: dict, work: str, deadline: float) -> tuple[dict | None, float, str]:
    spec_path = os.path.join(work, "spec.json")
    result_path = os.path.join(work, "result.json")
    log_path = os.path.join(work, "worker.log")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    with open(log_path, "w") as log:
        t_launch = time.monotonic()
        proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.worker", spec_path, result_path],
            cwd=ROOT, env=child_env(work), stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            reap_group(proc)
    result = None
    if os.path.exists(result_path):
        with open(result_path) as f:
            result = json.load(f)
    return result, t_launch, log_path


def log_lines(log_path: str, pattern: re.Pattern) -> list[str]:
    with open(log_path, errors="replace") as f:
        return [ln.rstrip() for ln in f if pattern.search(ln)]


def main(argv=None) -> int:
    t_start = time.monotonic()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "engine", "pipeline.py")):
        print(f"perfbench: no engine sources under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    size = SIZES[args.workload][args.scale]
    work = os.path.join(BENCH, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("input", "local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    try:
        nproc = os.cpu_count() or 1
        t_gen = time.monotonic()
        inputs = make_inputs(args.workload, args.seed, size, os.path.join(work, "input"),
                             bool(args.trace))
        spec = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": bool(args.trace),
            "scale": args.scale,
            "master": f"local[{nproc}]",
            "driver_heap": DRIVER_HEAP,
            "work_dir": work,
            "input_dir": os.path.join(work, "input"),
            "corpus_dir": os.path.join(work, "input", "corpus"),
            "inputs": inputs,
            **size,
        }
        gen_s = time.monotonic() - t_gen
        result, t_launch, log_path = launch(spec, work, t_start + DEADLINE_S)
        errors = log_lines(log_path, ERROR_LINE)
        progress = log_lines(log_path, re.compile(r"^perfbench: "))
        if result is None or "t_cold_done" not in result:
            with open(log_path, errors="replace") as f:
                tail = f.readlines()[-40:]
            print("perfbench: workload process produced no result\n" + "".join(tail),
                  file=sys.stderr)
            return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    setup_s = result["t_cold_done"] - t_launch
    e2e = {
        "setup_s": setup_s,
        "op_s": result["op_s"],
        "rows_per_s": result["rows_per_s"],
        "op_cpu_s": result["op_cpu_s"],
        "peak_rss_mb": result["peak_rss_mb"],
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "scale": args.scale,
        "nproc": nproc,
        "master": spec["master"],
        "shuffle_partitions": result.get("shuffle_partitions"),
        "driver_heap": DRIVER_HEAP,
        "spark_version": result.get("spark_version"),
        "java_version": result.get("java_version"),
        "python_version": platform.python_version(),
        "git_sha": git_sha(),
        "source_digest": source_digest(),
        "inputs": inputs,
        "input_gen_s": gen_s,
        "loop": "closed, 1 client",
        "warmup_ops": 0 if args.trace else size["warmup_ops"],
        "window_s": result["window_s"],
        "measured_ops": result["measured_ops"],
        "op_times_s": result["op_times_s"],
        "op_cpu_times_s": result["op_cpu_times_s"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "errors": result["errors"][:10],
        "log_error_lines": len(errors),
        "log_error_sample": errors[:5],
        "weather": result["weather"],
        "peak_rss_split_mb": result["peak_rss_split_mb"],
        "run_meta": result.get("run_meta"),
        "session_build_s": result["session_build_s"],
        "cold_op_s": result["cold_op_s"],
        "check_s": result["check_s"],
        "end_to_end": e2e,
        "run_s": time.monotonic() - t_start,
        "t_launch": t_launch,
        "progress": progress,
    }
    if args.trace:
        from perfbench.tracing import UNITS

        # a traced run that failed part-way reports 0 for what it missed
        # (and is not `correct`)
        layers = {name: 0.0 for name in UNITS}
        layers.update(result.get("layers", {}))
        layers["session.build_s"] = result["session_build_s"]
        layers["session.worker_spawn_s"] = result["worker_spawn_s"]
        layers["session.cold_op_s"] = result["cold_op_s"]
        layers["log.error_lines"] = len(errors)
        record["layers"] = layers
        record["rest_read_s"] = result.get("rest_read_s")
        metrics = {k: {"value": float(v), "unit": UNITS[k]} for k, v in sorted(layers.items())}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    print("record " + json.dumps(record, default=str))
    failed = result["failed"]
    ok = failed == 0 and not errors and all(
        isinstance(m["value"], (int, float)) for m in metrics.values())
    print(json.dumps({
        "correct": ok,
        "attempted": result["attempted"],
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
