"""build_session sizes its parallelism from the session's cores.

Runs in fresh processes: the master and the core count are fixed when
the SparkContext starts, and the suite's shared session already holds
one (local[4])."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyspark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = r"""
import json, os, sys

from engine.generate import TOOLS, generate_transcripts
from engine.pipeline import extract_features
from engine.schema import TRANSCRIPT_SCHEMA
from engine.session import build_session

key = "spark.sql.shuffle.partitions"
spark = build_session(master="local[3]")
out = {"parallelism": spark.sparkContext.defaultParallelism,
       "derived": spark.conf.get(key)}

path = sys.argv[1]
spark.createDataFrame(
    generate_transcripts(n_convs=6, seed=7), schema=TRANSCRIPT_SCHEMA
).coalesce(1).write.parquet(path)
t = spark.read.parquet(path)
out["scan_partitions"] = t.rdd.getNumPartitions()
_, _, meta = extract_features(spark, t, vocab=list(TOOLS))
out["num_partitions"] = meta["num_partitions"]
out["repartition_before_text"] = meta["repartition_before_text"]

# override order: argument > $SPARK_GRAFT_SHUFFLE > extra_conf > 2 x cores
out["extra_conf"] = build_session(extra_conf={key: "9"}).conf.get(key)
os.environ["SPARK_GRAFT_SHUFFLE"] = "7"
out["env"] = build_session(extra_conf={key: "9"}).conf.get(key)
out["explicit"] = build_session(shuffle_partitions=5).conf.get(key)
spark.stop()
print("RESULT " + json.dumps(out))
"""


SUBMITTED = r"""
import json
from engine.session import build_session

spark = build_session()
print("RESULT " + json.dumps({
    "master": spark.sparkContext.master,
    "shuffle": spark.conf.get("spark.sql.shuffle.partitions"),
}))
spark.stop()
"""


def _run(cmd, cwd) -> dict:
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["PYTHONPATH"] = ROOT + os.pathsep + env.get("PYTHONPATH", "")
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        cmd, cwd=str(cwd), env=env, capture_output=True, text=True, timeout=600
    )
    lines = [x for x in proc.stdout.splitlines() if x.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    return json.loads(lines[-1][len("RESULT "):])


def test_parallelism_follows_session_cores(tmp_path):
    out = _run([sys.executable, "-c", SCRIPT, str(tmp_path / "one_file")], tmp_path)

    assert out["parallelism"] == 3
    assert out["derived"] == "6"
    # a single-file input scans as one task: fewer scan tasks than
    # cores, so the pipeline repartitions to the session's width
    assert out["scan_partitions"] == 1
    assert out["num_partitions"] == 6
    assert out["repartition_before_text"] is True
    assert out["extra_conf"] == "9"
    assert out["env"] == "7"
    assert out["explicit"] == "5"


def test_spark_submit_master_and_conf_are_kept(tmp_path):
    """Under spark-submit the JVM and its master exist before Python
    runs: build_session must join them, not replace them with local[*],
    and a submitted shuffle width wins over 2 x cores."""
    script = tmp_path / "submitted.py"
    script.write_text(SUBMITTED)
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    base = [submit, "--master", "local[2]", "--driver-memory", "1g"]
    assert _run(base + [str(script)], tmp_path) == {"master": "local[2]", "shuffle": "4"}
    conf = ["--conf", "spark.sql.shuffle.partitions=5"]
    assert _run(base + conf + [str(script)], tmp_path)["shuffle"] == "5"
