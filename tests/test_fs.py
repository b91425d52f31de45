"""Hadoop-FS utility: the driver's guards and dim-swap must accept both
plain local paths and file:// URIs (the scheme-resolution contract that
makes the pipeline driver portable to hdfs:/s3a: warehouses)."""

from __future__ import annotations

import pytest

from retail_sales_etl_pipeline_spark.sources import fs


@pytest.mark.parametrize("as_uri", [False, True])
def test_exists_mkdirs_delete(spark, tmp_path, as_uri):
    base = f"file://{tmp_path}" if as_uri else str(tmp_path)
    d = fs.join(base, "sub", "dir")
    assert not fs.exists(spark, d)
    fs.mkdirs(spark, d)
    assert fs.exists(spark, d)
    assert fs.delete(spark, d)
    assert not fs.exists(spark, d)
    assert not fs.delete(spark, d)  # second delete: nothing to do


def test_file_size_and_mtime(spark, tmp_path):
    f = tmp_path / "x.bin"
    f.write_bytes(b"abcde")
    assert fs.is_file(spark, str(f))
    assert fs.file_size(spark, str(f)) == 5
    assert not fs.is_file(spark, str(tmp_path))


def test_replace_swaps_directories(spark, tmp_path):
    src, dst = tmp_path / "new", tmp_path / "cur"
    (src).mkdir()
    (src / "a").write_text("new")
    (dst).mkdir()
    (dst / "a").write_text("old")
    fs.replace(spark, str(src), str(dst))
    assert (dst / "a").read_text() == "new"
    assert not src.exists()


def test_replace_missing_src_raises(spark, tmp_path):
    with pytest.raises(OSError):
        fs.replace(spark, str(tmp_path / "nope"), str(tmp_path / "dst"))


def test_join_uri_safe():
    assert fs.join("s3a://bucket/wh/", "dim") == "s3a://bucket/wh/dim"
    assert fs.join("/tmp/wh", "a", "b") == "/tmp/wh/a/b"
