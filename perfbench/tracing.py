"""Traced run: per-layer metrics, timed from outside the engine.

Layers are the engine's modules. Spans wrap calls into their public
functions (the engine itself is not instrumented); the Spark UI's REST
API (`/api/v1`, on localhost, enabled only in the traced session)
supplies per-stage and per-SQL-node metrics; a prefix ablation of the
flagship plan cross-checks the node-to-layer mapping. README.md lists
every metric and how it is read.
"""

from __future__ import annotations

import json
import re
import statistics
import time
import urllib.request
from contextlib import contextmanager

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from engine import pipeline
from engine.generate import TOOLS
from engine.operators import windows as W
from engine.operators.asof import asof_join
from engine.operators.quality import split_quarantine
from engine.operators.topk import add_top_tools_vocab
from engine.schema import FEATURE_SCHEMA
from engine.tableio import TableIO

from perfbench import checks
from perfbench.inputs import QUARANTINE_CODES

CURATE_KEYS = {
    "doc_quality": "docs.quality_s",
    "doc_tfidf_topk": "docs.tfidf_s",
    "dedup_near_pairs": "dedup.near_pairs_s",
    "dedup_simhash_pairs": "dedup.simhash_pairs_s",
    "dedup_clusters": "dedup.clusters_s",
    "doc_contamination": "docs.contamination8_s",
    "doc_contamination13": "docs.contamination13_s",
    "ann_ivf_topk": "ann.ivf_topk_s",
}

FLAGSHIP_LAYERS = ("scan", "quality", "text", "windows", "asof", "topk")

# Every per-layer metric with its unit. A traced run reports all of
# them; a layer its workload does not exercise reads 0.
UNITS = {
    "session.build_s": "s", "session.worker_spawn_s": "s", "session.cold_op_s": "s",
    "scan.s": "s", "scan.partitions": "count", "scan.repartition_before_text": "bool",
    "quality.s": "s", "quality.rows_in": "rows",
    **{f"quality.rows.{c}": "rows" for c in QUARANTINE_CODES},
    "text.s": "s", "text.python_s": "s", "text.python_start_s": "s",
    "text.python_init_s": "s", "text.bytes_to_python": "bytes",
    "text.bytes_from_python": "bytes", "text.tasks": "count",
    "windows.s": "s", "windows.shuffle_write_bytes": "bytes", "windows.shuffle_write_s": "s",
    "windows.sort_s": "s", "windows.spill_bytes": "bytes",
    "asof.s": "s", "asof.match_rate": "ratio", "asof.shuffle_bytes": "bytes",
    "topk.s": "s", "topk.nonempty_rate": "ratio",
    "pipeline.jobs": "count", "pipeline.stages": "count", "pipeline.tasks": "count",
    "pipeline.task_p50_s": "s", "pipeline.task_max_s": "s", "pipeline.gc_s": "s",
    "prefix.sum_over_whole": "ratio", "prefix.plan_matches": "bool",
    "runner.epoch_s": "s", "runner.vocab_scan_s": "s", "runner.resume_noop_s": "s",
    "tableio.append_s": "s", "tableio.files_written": "count", "tableio.bytes_per_row": "bytes",
    "tableio.read_s": "s", "tableio.read_since_s": "s", "tableio.manifests_listed": "count",
    "stream.sessionize.epoch_s": "s", "stream.topk.epoch_s": "s", "stream.asof.epoch_s": "s",
    "stream.state_rows": "rows", "stream.rows_dropped_by_watermark": "rows",
    "stream.sink_commit_s": "s",
    **{name: "s" for name in CURATE_KEYS.values()},
    "dedup.candidate_pairs": "count", "dedup.verified_pairs": "count",
    "dedup.verify_ratio": "ratio", "dedup.max_bucket_size": "count", "dedup.task_max_s": "s",
    "trace.overhead": "ratio",
    "log.error_lines": "count",
}


class Spans:
    """In-memory spans (name, start, end, parent index) around calls
    into engine functions, patched from outside for the traced epochs."""

    def __init__(self):
        self.spans: list[tuple[str, float, float, int | None]] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append((name, time.monotonic(), 0.0, parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, t0, _, p = self.spans[idx]
            self.spans[idx] = (n, t0, time.monotonic(), p)

    def wrap(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)

        def timed(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, timed)

    def restore(self) -> None:
        while self._patched:
            owner, attr, fn = self._patched.pop()
            setattr(owner, attr, fn)

    def durations(self, name: str, under: str | None = None) -> list[float]:
        out = []
        for n, t0, t1, p in self.spans:
            if n == name and (under is None or (p is not None and self.spans[p][0] == under)):
                out.append(t1 - t0)
        return out

    def count_within(self, name: str, ancestor: str) -> int:
        """Spans named `name` with an enclosing span named `ancestor`."""
        n = 0
        for sname, _t0, _t1, p in self.spans:
            while sname == name and p is not None:
                if self.spans[p][0] == ancestor:
                    n += 1
                    break
                p = self.spans[p][3]
        return n


def median0(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Rest:
    """Reader of the traced session's own `/api/v1` on localhost."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.seconds = 0.0
        self._sql_offset = 0

    def get(self, path: str):
        t = time.monotonic()
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            out = json.load(r)
        self.seconds += time.monotonic() - t
        return out

    def group(self, group: str, tasks: bool = False, timeout: float = 30.0) -> dict:
        """Jobs, stages, SQL nodes (and, if asked, tasks) of one job
        group, once the status store has caught up with every job in it."""
        end = time.monotonic() + timeout
        while True:
            jobs = [j for j in self.get("/jobs?status=succeeded&status=failed")
                    if j.get("jobGroup") == group]
            running = [j for j in self.get("/jobs?status=running") if j.get("jobGroup") == group]
            if (jobs and not running) or time.monotonic() > end:
                break
            time.sleep(0.2)
        job_ids = {j["jobId"] for j in jobs}
        stages = []
        for j in jobs:
            for sid in j["stageIds"]:
                stages += [s for s in self.get(f"/stages/{sid}") if s["status"] == "COMPLETE"]
        task_list = []
        if tasks:
            for s in stages:
                task_list += self.get(
                    f"/stages/{s['stageId']}/{s['attemptId']}/taskList?length=100000")
        nodes = []
        new = self.get(f"/sql?details=false&offset={self._sql_offset}&length=100000")
        for ex in new:
            if job_ids & set(ex.get("successJobIds", []) + ex.get("failedJobIds", [])):
                nodes += self.get(f"/sql/{ex['id']}?details=true&planDescription=false")["nodes"]
        if new and all(ex["status"] != "RUNNING" for ex in new):
            self._sql_offset += len(new)
        return {"jobs": jobs, "stages": stages, "tasks": task_list, "nodes": nodes}


_NUM = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h|min)?\b")
_SCALE = {None: 1, "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def metric_total(value: str) -> float:
    """The total of a SQL metric as the UI renders it: either a plain
    number, or 'total (min, med, max ...)\\n<total> (<min>, ...)'."""
    line = value.split("\n")[-1] if "\n" in value else value
    m = _NUM.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SCALE[m.group(2)]


def node_metric(nodes: list[dict], node_name: str, metric: str) -> float:
    total = 0.0
    for n in nodes:
        if n["nodeName"] == node_name:
            for m in n.get("metrics", []):
                if m["name"] == metric:
                    total += metric_total(m["value"])
    return total


def stage_sums(g: dict) -> dict:
    st = g["stages"]
    return {
        "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in st),
        "shuffle_write_s": sum(s.get("shuffleWriteTime", 0) for s in st) / 1e9,
        "spill_bytes": sum(s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
                           for s in st),
        "sort_s": node_metric(g["nodes"], "Sort", "sort time"),
        "view": g,
        "rest_s": g["rest_s"],
    }


def same_physical_plan(a, b) -> bool:
    """Spark's own plan equality: the canonicalized physical plans
    (expression ids normalized) compute the same result."""
    plan = lambda df: df._jdf.queryExecution().executedPlan()  # noqa: E731
    return bool(plan(a).sameResult(plan(b)))


class Tracer:
    def __init__(self, spark, wl, spec: dict):
        self.spark = spark
        self.wl = wl
        self.spec = spec
        self.rest = Rest(spark)
        self._n = 0

    def spawn_workers(self) -> float:
        """Time to start the PySpark daemon and one Python worker per
        core: a trivial Arrow UDF job over `nproc` partitions."""
        n = self.spark.sparkContext.defaultParallelism
        df = self.spark.range(0, n, 1, n).mapInArrow(lambda it: it, "id long")
        t = time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        return time.monotonic() - t

    def phase(self, name: str) -> None:
        """Mark progress in the workload's log."""
        print(f"perfbench: trace phase {name} at {time.monotonic():.1f}", flush=True)

    def timed(self, label: str, action, tasks: bool = False) -> tuple[float, dict]:
        """Run `action` under its own job group; return (seconds, REST
        view). The REST reads happen after the timed region; the view's
        `rest_s` is what they took."""
        self._n += 1
        group = f"perfbench-{label}-{self._n}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, label)
        t = time.monotonic()
        try:
            action()
        finally:
            sc.setJobGroup(None, None)
        action_s = time.monotonic() - t
        view = self.rest.group(group, tasks)
        view["rest_s"] = time.monotonic() - t - action_s
        return action_s, view

    def measure(self, out: dict) -> dict:
        layers = {name: 0.0 for name in UNITS}
        if self.spec["workload"] == "flagship":
            layers.update(self.flagship(out))
            layers.update(self.curate(out))
        else:
            layers.update(self.ingest(out))
        out["rest_read_s"] = self.rest.seconds
        return layers

    # -- flagship -----------------------------------------------------------
    def prefixes(self, meta: dict) -> list[tuple[str, object]]:
        """The flagship plan cut after each layer, each a complete plan
        built from the engine's public functions with the same
        repartition decision as `extract_features`."""
        t, c = self.wl.frames()
        out = [("scan", t)]
        good, _errors = split_quarantine(t)
        out.append(("quality", good))
        if meta["repartition_before_text"]:
            good = good.repartition(meta["num_partitions"], "conv_id")
        x = pipeline.add_text_features(good)
        out.append(("text", x))
        x = W.add_rolling(W.add_context_ffill(W.add_sessionization(
            W.add_lag_lead(W.with_ts_sec(x))))).drop(W.TS_SEC)
        out.append(("windows", x))
        x = asof_join(x, c, strict=False, strategy="jvm")
        out.append(("asof", x))
        x = add_top_tools_vocab(x, vocab=list(TOOLS))
        out.append(("topk", x.select(*[f.name for f in FEATURE_SCHEMA.fields])))
        return out

    def flagship(self, out: dict) -> dict:
        wl, r = self.wl, {}
        features, _errors, meta = wl.plan()
        # prefix ablation
        times, sums = {}, {}
        plans = self.prefixes(meta)
        r["prefix.plan_matches"] = float(same_physical_plan(plans[-1][1], features))
        if not r["prefix.plan_matches"]:
            out.setdefault("trace_problems", []).append(
                "the last ablation prefix does not have extract_features's physical plan")
        for name, df in plans:
            self.phase(name)
            times[name], pg = self.timed(name, lambda df=df: df.write.format("noop")
                                         .mode("overwrite").save(), tasks=name == "topk")
            sums[name] = stage_sums(pg)
        prev = 0.0
        for name in FLAGSHIP_LAYERS:
            r[f"{name}.s"] = times[name] - prev
            prev = times[name]
        r["windows.shuffle_write_bytes"] = (sums["windows"]["shuffle_write_bytes"]
                                            - sums["text"]["shuffle_write_bytes"])
        r["windows.shuffle_write_s"] = (sums["windows"]["shuffle_write_s"]
                                        - sums["text"]["shuffle_write_s"])
        r["windows.sort_s"] = sums["windows"]["sort_s"] - sums["text"]["sort_s"]
        r["windows.spill_bytes"] = sums["windows"]["spill_bytes"] - sums["text"]["spill_bytes"]
        r["asof.shuffle_bytes"] = (sums["asof"]["shuffle_write_bytes"]
                                   - sums["windows"]["shuffle_write_bytes"])
        # the last prefix has the whole op's physical plan, so its REST view
        # is the traced whole op; an untraced whole op follows it
        g = sums["topk"]["view"]
        t = time.monotonic()
        wl.op()
        plain_s = time.monotonic() - t
        r["trace.overhead"] = (times["topk"] + sums["topk"]["rest_s"]) / plain_s
        r["prefix.sum_over_whole"] = sum(r[f"{n}.s"] for n in FLAGSHIP_LAYERS) / plain_s
        # the whole op's SQL nodes and stages
        r["text.bytes_to_python"] = node_metric(g["nodes"], "ArrowEvalPython",
                                                "data sent to Python workers")
        r["text.bytes_from_python"] = node_metric(g["nodes"], "ArrowEvalPython",
                                                  "data returned from Python workers")
        r.update(self.text_stage(g))
        run_ms = [t["taskMetrics"]["executorRunTime"] for t in g["tasks"]
                  if t.get("taskMetrics")]
        r["pipeline.jobs"] = len(g["jobs"])
        r["pipeline.stages"] = len(g["stages"])
        r["pipeline.tasks"] = len(run_ms)
        r["pipeline.task_p50_s"] = median0(run_ms) / 1e3
        r["pipeline.task_max_s"] = max(run_ms, default=0) / 1e3
        r["pipeline.gc_s"] = sum(s.get("jvmGcTime", 0) for s in g["stages"]) / 1e3
        r["scan.partitions"] = float(self.wl.frames()[0].rdd.getNumPartitions())
        r["scan.repartition_before_text"] = float(meta["repartition_before_text"])
        # rates and quarantine counts from the cold op's written outputs
        f = pq.read_table(wl.out_dir + "/features", columns=["asof_ctx_value", "top_tools"])
        n = max(1, f.num_rows)
        r["asof.match_rate"] = (n - f.column("asof_ctx_value").null_count) / n
        sizes = f.column("top_tools").to_pandas().map(lambda a: 0 if a is None else len(a))
        r["topk.nonempty_rate"] = float((sizes > 0).sum()) / n
        codes = pq.read_table(wl.out_dir + "/errors", columns=["code"]).column("code")
        counts = codes.to_pandas().value_counts()
        r["quality.rows_in"] = float(wl.rows)
        for c in QUARANTINE_CODES:
            r[f"quality.rows.{c}"] = float(counts.get(c, 0))
        return r

    def text_stage(self, g: dict) -> dict:
        """The stage that runs ArrowEvalPython: its task count and the
        Python-side time its tasks report."""
        stage_id = None
        for n in g["nodes"]:
            if n["nodeName"] == "ArrowEvalPython":
                for m in n.get("metrics", []):
                    hit = re.search(r"\(stage (\d+)\.\d+: task", m["value"])
                    if hit:
                        stage_id = int(hit.group(1))
                        break
        stage = next((s for s in g["stages"] if s["stageId"] == stage_id), None)
        if stage is None:
            return {}
        return {
            "text.tasks": float(stage["numCompleteTasks"]),
            "text.python_s": node_metric(g["nodes"], "ArrowEvalPython",
                                         "time to run Python workers"),
            "text.python_start_s": node_metric(g["nodes"], "ArrowEvalPython",
                                               "time to start Python workers"),
            "text.python_init_s": node_metric(g["nodes"], "ArrowEvalPython",
                                              "time to initialize Python workers"),
        }

    # -- curate (doc operators) -----------------------------------------------
    def curate(self, out: dict) -> dict:
        """One pass of the doc-operator keys over the seeded corpus, each
        collected and compared with DuckDB running its oracle SQL."""
        import duckdb

        import __spark_entry__ as entry
        from engine.operators import dedup as DD

        corpus = self.spec["corpus_dir"]
        qs, oracles = entry.queries(), entry.oracle_sql()
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus}/{t}.parquet'")
        r, task_max, problems = {}, 0.0, []
        for key, metric in CURATE_KEYS.items():
            self.phase(key)
            got = {}
            r[metric], g = self.timed(key, lambda key=key: got.setdefault(
                "df", qs[key](self.spark, corpus).toPandas()), tasks=key.startswith("dedup"))
            if key.startswith("dedup"):
                task_max = max([task_max] + [t["taskMetrics"]["executorRunTime"] / 1e3
                                             for t in g["tasks"] if t.get("taskMetrics")])
            if key == "dedup_near_pairs":
                r["dedup.verified_pairs"] = float(len(got["df"]))
            exp = con.execute(oracles[key]).df()
            cols = sorted(exp.columns)
            problems += checks.frames_match(got["df"], exp, cols, key)
        docs = self.spark.read.parquet(f"{corpus}/documents.parquet")
        sigs = DD.minhash_signature(docs, num_hashes=8, shingle_n=3)
        r["dedup.candidate_pairs"] = float(DD.lsh_candidate_pairs(sigs).count())
        r["dedup.verify_ratio"] = r["dedup.verified_pairs"] / max(1.0, r["dedup.candidate_pairs"])
        r["dedup.max_bucket_size"] = float(
            DD.lsh_band_rows(sigs).groupBy("band_idx", "band_key").count()
            .agg(F.max("count")).first()[0])
        r["dedup.task_max_s"] = task_max
        out["trace_problems"] = out.get("trace_problems", []) + problems
        return r

    # -- ingest -----------------------------------------------------------------
    def ingest(self, out: dict) -> dict:
        wl, spans, r = self.wl, Spans(), {}
        spans.wrap(TableIO, "append", "tableio.append")
        spans.wrap(TableIO, "_commit_manifest", "tableio.commit")
        spans.wrap(TableIO, "read_since", "tableio.read_since")
        spans.wrap(TableIO, "read_manifest", "tableio.read_manifest")
        spans.wrap(pipeline, "discover_tool_vocab", "runner.vocab_scan")
        t = time.monotonic()
        wl.op()
        plain_s = time.monotonic() - t
        try:
            e = wl.epoch
            t = time.monotonic()
            with spans.span("epoch"):
                wl.epoch += 1
                m = wl.append_epoch(e)
                with spans.span("runner.first"):
                    first = wl.incremental(e)
                with spans.span("runner.again"):
                    wl.incremental(e)
            r["trace.overhead"] = (time.monotonic() - t) / plain_s
            t = time.monotonic()
            wl.io.read(self.spark, "features").write.format("noop").mode("overwrite").save()
            r["tableio.read_s"] = time.monotonic() - t
            self.phase("streams")
            with spans.span("stream"):
                wl.stream_all(self.spec["stream_epochs"])
        finally:
            spans.restore()
        feats = wl.io.read_manifest("features", first["run_id"])
        errs = wl.io.read_manifest("errors", first["run_id"])
        r["runner.epoch_s"] = median0(spans.durations("runner.first"))
        r["runner.vocab_scan_s"] = median0(spans.durations("runner.vocab_scan"))
        r["runner.resume_noop_s"] = median0(spans.durations("runner.again"))
        r["tableio.append_s"] = median0(spans.durations("tableio.append", "epoch")
                                        + spans.durations("tableio.append", "runner.first"))
        r["tableio.read_since_s"] = median0(spans.durations("tableio.read_since"))
        r["tableio.manifests_listed"] = float(spans.count_within("tableio.read_manifest",
                                                                 "runner.first"))
        r["tableio.files_written"] = float(m["n_files"] + feats["n_files"] + errs["n_files"])
        r["tableio.bytes_per_row"] = feats["total_bytes"] / max(1, feats["total_rows"])
        for name, key in (("sess", "sessionize"), ("topk", "topk"), ("asof", "asof")):
            per_batch = [p["durationMs"]["triggerExecution"] / 1e3
                         for p in wl.progress[name] if p["numInputRows"]]
            r[f"stream.{key}.epoch_s"] = median0(per_batch)
        r["stream.state_rows"] = float(sum(
            sum(op.get("numRowsTotal", 0) for op in ps[-1].get("stateOperators", []))
            for ps in wl.progress.values() if ps))
        r["stream.rows_dropped_by_watermark"] = float(wl.dropped())
        r["stream.sink_commit_s"] = median0(spans.durations("tableio.commit", "tableio.append"))
        out["trace_problems"] = out.get("trace_problems", []) + wl.check_streams()
        return r
