"""``session.build_session`` puts this package on the Python workers'
path: a UDF that references the package by name runs in a process
started outside the checkout, where the workers' working directory does
not hold the package."""

from __future__ import annotations

import os
import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parents[1]

SCRIPT = f"""
import sys
sys.path.insert(0, {str(ROOT)!r})
from ingestion_scripts_spark.operators.multimodal import extract_features, text_to_media
from ingestion_scripts_spark.session import build_session

spark = build_session(master="local[1]", shuffle_partitions=1)
docs = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
print("n_bytes", extract_features(text_to_media(docs)).first()["n_bytes"])
"""


def test_udf_runs_from_outside_the_checkout(tmp_path):
    # extract_features' default decoder is a module-level function, which
    # the worker unpickles by importing this package
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.splitlines()[-1] == "n_bytes 3"
