"""Pandas-UDF batch functions must run where the package cannot be
imported: a Python worker inherits the driver's cwd and environment, so
when the driver runs outside the repository (no PYTHONPATH, the package put
on sys.path in code only) a worker cannot import the package. The package
registers itself with cloudpickle to ship by value, so the module-level
kernels the batch functions call travel with them. Each kernel here runs in
such a subprocess and is compared with in-process module calls."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np

from retail_sales_etl_pipeline_spark.operators.kll import build_sketch
from retail_sales_etl_pipeline_spark.operators.multimodal import (
    PHASH_GX,
    PHASH_GY,
    PHASH_SHIFT,
    decode_bmp,
    decode_jpeg,
    decode_png,
    decode_wav,
    encode_bmp,
    encode_jpeg_baseline,
    encode_png,
    media_val,
)
from retail_sales_etl_pipeline_spark.operators.text import minhash_minima
from retail_sales_etl_pipeline_spark.plans.event_queries import KLL_SHARD_BUCKETS

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DOCS = [(1, "the quick brown fox jumps"), (2, "a b"), (3, "")]
MEDIA_IDS = [1, 2, 3, 4, 5, 6]
# (event_type, event_id, value): shards are event_type x event_id %
# KLL_SHARD_BUCKETS; even the sparsest (click) shard holds more than
# KLL_TEST_K values, so every shard build compacts
EVENTS = [
    ("view" if i % 3 else "click", i, None if i % 7 == 0 else (i * 37 % 101) / 4)
    for i in range(1, 481)
]
KLL_TEST_K = 4

_SCRIPT = """
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from retail_sales_etl_pipeline_spark.operators.kll import shard_sketch_rows
from retail_sales_etl_pipeline_spark.operators.multimodal import (
    encode_jpeg_baseline, jpeg_decode_features, media_decode_features,
    perceptual_hashes, png_decode_features, synth_jpeg_payloads,
    synth_media_payloads, synth_png_payloads)
from retail_sales_etl_pipeline_spark.operators.text import (
    minhash_bands_pandas, minhash_components_pandas)
from retail_sales_etl_pipeline_spark.plans.event_queries import centi_shards

spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "1").getOrCreate())

def rows(df):
    return [[v.hex() if isinstance(v, (bytes, bytearray)) else v for v in r]
            for r in df.collect()]

docs = spark.createDataFrame({docs!r}, "doc_id long, text string")
ids = spark.createDataFrame([(d,) for d in {media_ids!r}], "doc_id long")
gray = bytes(range(64))
payloads = spark.createDataFrame(
    [(1, encode_jpeg_baseline(8, 8, [gray])),
     (2, encode_jpeg_baseline(16, 8, [gray + gray] * 3))],
    "doc_id long, payload binary")
media = synth_media_payloads(ids)
png = synth_png_payloads(ids)
jpeg = synth_jpeg_payloads(ids)
events = spark.createDataFrame(
    {events!r}, "event_type string, event_id long, value double")
out = {{
    "bands": rows(minhash_bands_pandas(docs)),
    "minima": rows(minhash_components_pandas(docs)),
    "jpeg": rows(jpeg_decode_features(payloads)),
    "media_payloads": rows(media.select("doc_id", "mime", "payload")),
    "media": rows(media_decode_features(media)),
    "phash": rows(perceptual_hashes(media.filter("mime = 'image/bmp'"))),
    "png_payloads": rows(png.select("doc_id", "color_type", "payload")),
    "png": rows(png_decode_features(png)),
    "jpeg_synth_payloads": rows(jpeg.select("doc_id", "n_comp", "payload")),
    "jpeg_synth": rows(jpeg_decode_features(jpeg)),
    "kll": rows(shard_sketch_rows(centi_shards(events), {k})),
}}
spark.stop()
print(json.dumps(out))
"""


def _dhash(w: int, h: int, px: bytes) -> int:
    v = 0
    for gy in range(PHASH_GY):
        py = gy * (h - 1) // (PHASH_GY - 1)
        g = []
        for gx in range(PHASH_GX):
            p = (py * w + gx * (w - 1) // (PHASH_GX - 1)) * 3
            g.append((px[p] + px[p + 1] + px[p + 2]) // 3)
        for gx in range(PHASH_GX - 1):
            if g[gx] > g[gx + 1]:
                v |= 1 << (gy * 8 + gx)
    return v


def _run_outside_the_repo(tmp_path) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    script = _SCRIPT.format(
        repo=REPO, docs=DOCS, media_ids=MEDIA_IDS, events=EVENTS,
        k=KLL_TEST_K,
    )
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_pandas_udfs_run_outside_the_repo(tmp_path):
    got = _run_outside_the_repo(tmp_path)

    want_minima = [[did, *minhash_minima(text)] for did, text in DOCS]
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

    # WAV/BMP synth -> decode, and the perceptual hash of the BMPs
    want_media, want_phash = [], []
    for did, mime, hexed in sorted(got["media_payloads"]):
        payload = bytes.fromhex(hexed)
        if mime == "audio/wav":
            rate, samples = decode_wav(payload)
            assert samples == [
                media_val(did, k, 65536) - 32768 for k in range(200 + did % 57)
            ]
            want_media.append([
                did, mime, len(samples), sum(map(abs, samples)),
                max(map(abs, samples)), rate,
            ])
            continue
        w, h = 8 + did % 9, 6 + did % 7
        logical = bytes(media_val(did, i, 256) for i in range(w * h * 3))
        assert payload == encode_bmp(w, h, logical)
        gw, gh, px = decode_bmp(payload)
        want_media.append([did, mime, gw * gh, sum(px), max(px), gw])
        twin = encode_bmp(w, h, bytes(min(255, b + PHASH_SHIFT) for b in px))
        d0 = _dhash(gw, gh, px)
        d1 = _dhash(*decode_bmp(twin))
        want_phash.append([did, gw, gh, d0, d1, d0 == d1, payload == twin])
    assert sorted(got["media"]) == want_media
    assert sorted(got["phash"]) == want_phash
    assert [r[1] for r in want_media] == ["image/bmp", "audio/wav"] * 3

    # PNG synth (every filter type across rows) -> decode
    want_png = []
    for did, color, hexed in sorted(got["png_payloads"]):
        w, h = 8 + did % 9, 6 + did % 7
        n = w * h * (3 if color == 2 else 1)
        logical = bytes(media_val(did, i, 256) for i in range(n))
        payload = bytes.fromhex(hexed)
        assert payload == encode_png(
            w, h, color, logical, lambda y, d=did: (d + y) % 5
        )
        gw, gh, gc, px = decode_png(payload)
        assert px == logical
        want_png.append([did, gc, gw, gh, gw * gh, sum(px), max(px)])
    assert sorted(got["png"]) == want_png

    # JPEG synth (numpy DCT) == the scalar encoder; numpy IDCT == scalar
    want_jpeg_synth = []
    for did, n_comp, hexed in sorted(got["jpeg_synth_payloads"]):
        w, h = 8 * (1 + did % 3), 8 * (1 + did % 2)
        plane = bytearray(w * h)
        for y in range(h):
            for x in range(w):
                plane[y * w + x] = media_val(did, (y // 8) * (w // 8) + x // 8, 256)
        planes = [bytes(plane)] + [bytes([128] * (w * h))] * (n_comp - 1)
        payload = bytes.fromhex(hexed)
        assert payload == encode_jpeg_baseline(w, h, planes)
        gw, gh, nc, px = decode_jpeg(payload)
        want_jpeg_synth.append([did, nc, gw, gh, gw * gh, sum(px), max(px)])
    assert sorted(got["jpeg_synth"]) == want_jpeg_synth

    # KLL shard build == build_sketch per shard
    shards: dict[str, list[int]] = {}
    for etype, eid, value in EVENTS:
        if value is not None:
            key = f"{etype}#{eid % KLL_SHARD_BUCKETS}"
            shards.setdefault(key, []).append(int(np.floor(value * 100.0)))
    want_kll = []
    for shard, vals in shards.items():
        levels, budget = build_sketch(np.asarray(vals), KLL_TEST_K)
        assert budget > 0  # the build compacted
        want_kll += [
            [shard, h, int(v), budget] for h, lvl in enumerate(levels) for v in lvl
        ]
    assert sorted(got["kll"]) == sorted(want_kll)
