"""fsutil: driver-side metadata checks must resolve the filesystem from
the PATH's scheme (Hadoop FileSystem API), not assume the driver's local
disk — the regression class is an s3a:// lineage/history path that
os.path.exists reports absent, silently discarding resume state."""

from __future__ import annotations

from textractssmlprocessor_spark.fsutil import fs_exists, fs_list_names


def test_fs_exists_bare_and_file_uri(spark, tmp_path):
    d = tmp_path / "t"
    d.mkdir()
    (d / "a.txt").write_text("x")
    assert fs_exists(spark, str(d))
    assert fs_exists(spark, f"file:{d}")
    assert fs_exists(spark, f"file://{d}")
    assert not fs_exists(spark, str(tmp_path / "missing"))
    assert not fs_exists(spark, f"file:{tmp_path}/missing")


def test_fs_list_names(spark, tmp_path):
    d = tmp_path / "hist"
    assert fs_list_names(spark, str(d)) == []  # absent dir: [] not raise
    d.mkdir()
    (d / "batch-0").mkdir()
    (d / "batch-1").mkdir()
    (d / "_other").write_text("")
    names = set(fs_list_names(spark, f"file:{d}"))
    assert names == {"batch-0", "batch-1", "_other"}


def test_lineage_resume_accepts_file_uri(spark, tmp_path):
    """done_buckets on a file: URI lineage path — the exact call
    shape a cluster submit uses — must read the table, not treat the
    URI as an absent local path."""
    from textractssmlprocessor_spark import lineage as L

    rows = spark.createDataFrame(
        [(0, "done", 1, 1, "c")],
        "bucket int, status string, n_docs int, n_chunks int, checksum string",
    )
    path = str(tmp_path / "lineage.parquet")
    rows.write.parquet(path)
    assert L.done_buckets(spark, f"file:{path}") == {0}
    # absent path still yields the empty set, not an error
    assert L.done_buckets(spark, f"file:{tmp_path}/none") == set()


def test_history_paths_scheme_aware(spark, tmp_path):
    from textractssmlprocessor_spark.streaming.dedup_near_stream import (
        _history_paths,
    )

    root = tmp_path / "hist"
    root.mkdir()
    (root / "batch-0").mkdir()
    (root / "batch-1").mkdir()
    (root / "batch-2").mkdir()
    (root / "junk").mkdir()
    got = _history_paths(spark, f"file:{root}", 2)
    assert [p.rsplit("/", 1)[1] for p in got] == ["batch-0", "batch-1"]
