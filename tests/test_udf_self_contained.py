"""Pandas-UDF batch functions must be self-contained: a Python worker
inherits the driver's cwd and environment, so when the driver runs
outside the repository (no PYTHONPATH, the package put on sys.path in
code only) a worker cannot import the package. Every kernel the batch
functions call must travel with them by value."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from retail_sales_etl_pipeline_spark.operators.multimodal import (
    decode_jpeg,
    encode_jpeg_baseline,
)
from retail_sales_etl_pipeline_spark.operators.text import _minhash_minima_kernel

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DOCS = [(1, "the quick brown fox jumps"), (2, "a b"), (3, "")]

_SCRIPT = """
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from retail_sales_etl_pipeline_spark.operators.multimodal import (
    encode_jpeg_baseline, jpeg_decode_features)
from retail_sales_etl_pipeline_spark.operators.text import (
    minhash_bands_pandas, minhash_components_pandas)

spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "1").getOrCreate())
docs = spark.createDataFrame({docs!r}, "doc_id long, text string")
gray = bytes(range(64))
payloads = spark.createDataFrame(
    [(1, encode_jpeg_baseline(8, 8, [gray])),
     (2, encode_jpeg_baseline(16, 8, [gray + gray] * 3))],
    "doc_id long, payload binary")
out = {{
    "bands": [list(r) for r in minhash_bands_pandas(docs).collect()],
    "minima": [list(r) for r in minhash_components_pandas(docs).collect()],
    "jpeg": [list(r) for r in jpeg_decode_features(payloads).collect()],
}}
spark.stop()
print(json.dumps(out))
"""


def test_pandas_udfs_run_outside_the_repo(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(repo=REPO, docs=DOCS)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])

    minima = _minhash_minima_kernel()
    want_minima = [[did, *minima(text)] for did, text in DOCS]
    assert sorted(got["minima"]) == want_minima
    want_bands = [
        [did, *("-".join(map(str, m[4 * b : 4 * b + 4])) for b in range(4))]
        for did, *m in want_minima
    ]
    assert sorted(got["bands"]) == want_bands

    gray = bytes(range(64))
    want_jpeg = []
    for did, payload in (
        (1, encode_jpeg_baseline(8, 8, [gray])),
        (2, encode_jpeg_baseline(16, 8, [gray + gray] * 3)),
    ):
        w, h, nc, px = decode_jpeg(payload)
        want_jpeg.append([did, nc, w, h, w * h, sum(px), max(px)])
    assert sorted(got["jpeg"]) == want_jpeg
