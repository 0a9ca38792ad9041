"""Driver-environment gate (the r1 lesson): the driver harness builds its OWN
default-config SparkSession — none of session.get_spark()'s defensive confs
(constraint-propagation workaround, tmpfs shuffle dirs, agg thresholds) exist
there. r1 shipped green locally while the flagship crashed under the driver
because every local test ran through get_spark().

This test runs the exact failure surface — ``entry()`` plus the two queries
that crashed in CORRECTNESS_r01 — on a VANILLA ``SparkSession.builder``
session in a fresh subprocess (a fresh JVM is the only way to get truly
default confs next to the shared session fixture).
"""

from __future__ import annotations

import json
import pathlib
import subprocess
import sys

REPO = str(pathlib.Path(__file__).resolve().parents[1])

_SCRIPT = """
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import SparkSession

import __spark_entry__ as entrymod

# deliberately bare: no engine confs, mimicking the driver harness
spark = SparkSession.builder.master("local[2]").appName("vanilla-driver-env").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")

out = {}
df = entrymod.entry(spark)
out["entry_rows"] = df.count()
out["entry_schema"] = [f.name for f in df.schema.fields]

q = entrymod.queries()
out["image_near_dup_clusters_rows"] = q["image_near_dup_clusters"](
    spark, "/root/testdata/sf0.001"
).count()
out["text_near_dup_clusters_rows"] = q["text_near_dup_clusters"](
    spark, "/root/testdata/sf0.001"
).count()
print("RESULT:" + json.dumps(out))
"""


def test_flagship_queries_survive_default_config_session():
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, REPO],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"vanilla-session run failed:\n{proc.stderr[-4000:]}"
    line = next(l for l in proc.stdout.splitlines() if l.startswith("RESULT:"))
    out = json.loads(line[len("RESULT:") :])
    assert out["entry_rows"] > 0
    assert out["entry_schema"] == ["doc_id", "cluster_id"]
    assert out["image_near_dup_clusters_rows"] == 300  # one label per fixture row
    assert out["text_near_dup_clusters_rows"] > 0
