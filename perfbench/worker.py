"""One workload in one fresh process: build the session, run the cold
op and the untimed warm-up ops, then a closed loop with one client for
the measured window, then the output checks (and, for a traced run, the
per-layer measurements).
Writes its record as JSON to the path given on the command line;
`run.py` launches it.

Usage: PYTHONPATH=<checkout> python3 -m perfbench.worker SPEC.json RESULT.json
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

from engine.generate import TOOLS
from engine.pipeline import extract_features
from engine.runner import run_incremental
from engine.schema import CONTEXT_SCHEMA, TRANSCRIPT_SCHEMA
from engine.session import build_session
from engine.streaming import (
    stream_asof,
    stream_sessionize_exact,
    stream_to_tableio,
    stream_top_tools,
)
from engine.tableio import TableIO

from perfbench import checks, procstat
from perfbench.inputs import read_pandas


KEYS = ["conv_id", "ts", "turn_idx"]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Flagship:
    """`extract_features` over one large batch, features to noop."""

    def __init__(self, spark, spec: dict):
        self.spark = spark
        self.dir = spec["input_dir"]
        self.rows = spec["inputs"]["transcripts"]["rows"]
        self.per_code = spec["inputs"]["injected_per_code"]
        self.sample_n = spec["sample_convs"]
        self.seed = spec["seed"]
        self.out_dir = os.path.join(spec["work_dir"], "out")
        self.run_meta: dict = {}

    def exhausted(self) -> bool:
        return False

    def frames(self):
        read = self.spark.read.parquet
        return read(f"{self.dir}/transcripts"), read(f"{self.dir}/context")

    def plan(self):
        t, c = self.frames()
        return extract_features(self.spark, t, c, vocab=TOOLS)

    def op(self) -> tuple[int, list[str]]:
        features, _errors, self.run_meta = self.plan()
        noop(features)
        return self.rows, []

    def cold(self) -> tuple[int, list[str]]:
        """The first op of the process, with a parquet sink for features
        and errors: the outputs the check reads."""
        features, errors, self.run_meta = self.plan()
        features.write.mode("overwrite").parquet(self.out_dir + "/features")
        errors.write.mode("overwrite").parquet(self.out_dir + "/errors")
        return self.rows, []

    def check(self) -> list[str]:
        tp = read_pandas(f"{self.dir}/transcripts", ("ts",))
        cp = read_pandas(f"{self.dir}/context", ("event_ts",))
        sizes = tp["conv_id"].value_counts()
        rng = np.random.default_rng(self.seed)
        # the hottest conversation plus a seeded sample of the rest
        sample = [sizes.index[0], *rng.choice(sizes.index[1:], self.sample_n - 1,
                                              replace=False)]
        got = read_pandas(self.out_dir + "/features", ("ts",),
                          filters=[("conv_id", "in", sample)])
        problems = checks.flagship_sample(got, tp, cp, sample)
        codes = read_pandas(self.out_dir + "/errors", ())["code"]
        counts = codes.value_counts().to_dict()
        if counts != self.per_code:
            problems.append(f"quarantine counts {counts} != injected {self.per_code}")
        return problems


class Ingest:
    """Conversation-aligned epochs: commit a snapshot, run the
    incremental pipeline and re-invoke it (a no-op). The traced run also
    streams an epoch's event-time slice through three stateful operators
    into TableIO."""

    STREAMS = ("sess", "topk", "asof")

    def __init__(self, spark, spec: dict):
        self.spark = spark
        self.dir = spec["input_dir"]
        self.work = spec["work_dir"]
        self.n_epochs = spec["inputs"]["epochs"]
        self.io = TableIO(os.path.join(self.work, "tables"))
        self.epoch = 0
        self.streamed = 0
        self.progress: dict[str, list[dict]] = {s: [] for s in self.STREAMS}
        for sub in ("turns", "context"):
            os.makedirs(os.path.join(self.work, "stream", sub), exist_ok=True)

    def exhausted(self) -> bool:
        return self.epoch >= self.n_epochs

    def _epoch_dir(self, e: int) -> str:
        return os.path.join(self.dir, f"epoch-{e:04d}")

    def _stream_plan(self, name: str):
        rs = self.spark.readStream.option("maxFilesPerTrigger", "1")
        turns = rs.schema(TRANSCRIPT_SCHEMA).parquet(os.path.join(self.work, "stream", "turns"))
        if name == "sess":
            return stream_sessionize_exact(turns)
        if name == "topk":
            return stream_top_tools(turns)
        ctx = rs.schema(CONTEXT_SCHEMA).parquet(os.path.join(self.work, "stream", "context"))
        return stream_asof(turns, ctx)

    def append_epoch(self, e: int):
        turns = self.spark.read.parquet(os.path.join(self._epoch_dir(e), "turns"))
        return self.io.append(self.spark, turns, "turns", f"ingest-e{e:04d}", ts_col="ts")

    def incremental(self, e: int) -> dict:
        ctx = self.spark.read.parquet(os.path.join(self._epoch_dir(e), "context"))
        return run_incremental(self.spark, self.io, "bench", context=ctx)

    def start_stream(self, name: str):
        return (
            stream_to_tableio(self._stream_plan(name), self.io, f"stream_{name}",
                              f"s{name}", checkpoint_dir=os.path.join(self.work, "ckpt", name))
            .trigger(availableNow=True)
            .start()
        )

    def publish(self, e: int) -> None:
        for sub in ("turns", "context"):
            src = os.path.join(self._epoch_dir(e), sub, "part-00000.parquet")
            shutil.copyfile(src, os.path.join(self.work, "stream", sub, f"e{e:04d}.parquet"))

    def op(self) -> tuple[int, list[str]]:
        e = self.epoch
        self.epoch += 1
        rows = self.append_epoch(e)["total_rows"]
        problems = []
        first = self.incremental(e)
        if first["status"] != "committed" or first["rows"] != rows:
            problems.append(f"epoch {e}: incremental run {first}")
        again = self.incremental(e)
        if again["status"] != "no_new_snapshots":
            problems.append(f"epoch {e}: re-invocation {again['status']}")
        return rows, problems

    cold = op

    def stream_all(self, n_epochs: int) -> None:
        """Hand the first `n_epochs` epochs' event-time slices, one file
        per micro-batch, to the three stateful operators, all three
        queries at once (run one after another they take ~3x as long)."""
        self.streamed = n_epochs
        for e in range(n_epochs):
            self.publish(e)
        queries = {name: self.start_stream(name) for name in self.STREAMS}
        for name, q in queries.items():
            q.awaitTermination()
            self.progress[name] = list(q.recentProgress)

    def watermark(self, name: str) -> str | None:
        marks = [p["eventTime"].get("watermark") for p in self.progress[name]
                 if p.get("eventTime")]
        return max((m for m in marks if m), default=None)

    def dropped(self) -> int:
        return sum(op.get("numRowsDroppedByWatermark", 0)
                   for ps in self.progress.values() for p in ps
                   for op in p.get("stateOperators", []))

    def check(self) -> list[str]:
        """Read the features table back once; it must equal one batch
        `extract_features` over the same committed rows, with exactly one
        features snapshot per epoch."""
        spark, io = self.spark, self.io
        problems = []
        runs = io.committed_runs("features")
        if len(runs) != self.epoch:
            problems.append(f"{len(runs)} features snapshots for {self.epoch} epochs")
        got = io.read(spark, "features").toPandas()
        ctx = spark.read.parquet(*[os.path.join(self._epoch_dir(e), "context")
                                   for e in range(self.epoch)])
        batch, _errors, _meta = extract_features(spark, io.read(spark, "turns"), ctx)
        self.batch_pdf = batch.toPandas()
        return problems + checks.frames_match(got, self.batch_pdf, KEYS, "incremental")

    def check_streams(self) -> list[str]:
        """Streamed rows equal the batch rows behind each operator's
        final watermark, and the watermark dropped none."""
        import pandas as pd

        cols = {
            "sess": ["session_id", "sess_turn_no"],
            "topk": ["top_tools"],
            "asof": ["role", "tool", "asof_ctx_value", "asof_ctx_label"],
        }
        exp, problems = self.batch_pdf, []
        streamed = tuple(f"e{e:04d}-" for e in range(self.streamed))
        exp = exp[exp["conv_id"].str.startswith(streamed)]
        for name in self.STREAMS:
            mark = self.watermark(name)
            if mark is None:
                problems.append(f"stream_{name}: no watermark")
                continue
            cut = pd.Timestamp(mark).tz_convert(None)
            streamed = self.io.read(self.spark, f"stream_{name}").toPandas()
            want = exp[exp["ts"] < cut][KEYS + cols[name]]
            problems += checks.frames_match(
                streamed[KEYS + cols[name]], want, KEYS, f"stream_{name}")
        if self.dropped():
            problems.append(f"{self.dropped()} rows dropped by watermark")
        return problems


WORKLOADS = {"flagship": Flagship, "ingest": Ingest}


def session_conf(spec: dict) -> dict[str, str]:
    """Deployment settings only: heap, local dirs, and the UI for the
    traced run. Every engine setting stays as `build_session` ships it."""
    work = spec["work_dir"]
    conf = {
        "spark.driver.memory": spec["driver_heap"],
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if spec["trace"]:
        conf["spark.ui.enabled"] = "true"
    return conf


def run(spec: dict) -> dict:
    me = os.getpid()
    rss = procstat.PeakRss(me)
    out: dict = {"errors": []}
    failed = attempted = 0

    def attempt(op) -> tuple[int, float] | None:
        nonlocal failed, attempted
        attempted += 1
        print(f"perfbench: op {attempted} at {time.monotonic():.1f}", flush=True)
        t = time.monotonic()
        try:
            rows, problems = op()
        except Exception:
            failed += 1
            out["errors"].append(traceback.format_exc(limit=3))
            return None
        dt = time.monotonic() - t
        rss.sample()
        if problems:
            failed += 1
            out["errors"].extend(problems)
            return None
        return rows, dt

    t0 = time.monotonic()
    spark = build_session(master=spec["master"], extra_conf=session_conf(spec))
    out["session_build_s"] = time.monotonic() - t0
    wl = WORKLOADS[spec["workload"]](spark, spec)
    tracer = None
    if spec["trace"]:
        from perfbench.tracing import Tracer

        tracer = Tracer(spark, wl, spec)
        out["worker_spawn_s"] = tracer.spawn_workers()

    t = time.monotonic()
    cold = attempt(wl.cold)
    out["t_cold_done"] = time.monotonic()
    out["cold_op_s"] = out["t_cold_done"] - t

    # the traced run reports per-layer metrics only and skips the
    # warm-up and the window
    warmup = 0 if spec["trace"] else spec["warmup_ops"]
    seconds = 0 if spec["trace"] else spec["seconds"]
    for _ in range(warmup):
        if not wl.exhausted():
            attempt(wl.op)

    weather0 = procstat.host_probe()
    steal0 = procstat.cpu_times()
    ops, op_cpu, rows_done = [], [], 0
    w0 = time.monotonic()
    while time.monotonic() - w0 < seconds and not wl.exhausted():
        cpu0 = procstat.tree_cpu_s(me)
        r = attempt(wl.op)
        if r is not None:
            rows_done += r[0]
            ops.append(r[1])
            op_cpu.append(procstat.tree_cpu_s(me) - cpu0)
    window = time.monotonic() - w0
    steal1 = procstat.cpu_times()
    weather1 = procstat.host_probe()
    rss.sample()

    out.update(
        measured_ops=len(ops),
        op_times_s=ops,
        window_s=window,
        rows_done=rows_done,
        op_cpu_times_s=op_cpu,
        op_s=statistics.median(ops) if ops else None,
        rows_per_s=rows_done / window if ops else None,
        op_cpu_s=statistics.median(op_cpu) if ops else None,
        peak_rss_mb=rss.mb(),
        peak_rss_split_mb=rss.split_mb(),
        weather={
            "steal_fraction": procstat.steal_fraction(steal0, steal1),
            "before": weather0,
            "after": weather1,
        },
        cold_ok=cold is not None,
    )

    attempted += 1
    t = time.monotonic()
    try:
        problems = wl.check()
    except Exception:
        problems = [traceback.format_exc(limit=3)]
    out["check_s"] = time.monotonic() - t
    if problems:
        failed += 1
        out["errors"].extend(problems)
    out["run_meta"] = getattr(wl, "run_meta", None)
    if tracer is not None:
        attempted += 1
        steal0 = procstat.cpu_times()
        try:
            out["layers"] = tracer.measure(out)
        except Exception:
            out["trace_problems"] = [traceback.format_exc(limit=5)]
        out["weather"]["traced_steal_fraction"] = procstat.steal_fraction(
            steal0, procstat.cpu_times())
        if out.get("trace_problems"):
            failed += 1
            out["errors"].extend(out["trace_problems"])
    out.update(attempted=attempted, failed=failed,
               spark_version=spark.version,
               java_version=spark._jvm.System.getProperty("java.version"),
               shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")))
    spark.stop()
    return out


def main() -> None:
    spec_path, result_path = sys.argv[1:3]
    with open(spec_path) as f:
        spec = json.load(f)
    out = run(spec)
    with open(result_path + ".tmp", "w") as f:
        json.dump(out, f, default=str)
    os.replace(result_path + ".tmp", result_path)


if __name__ == "__main__":
    main()
