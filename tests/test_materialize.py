"""materialize.cut / scope / release: which blocks a scope frees."""

from __future__ import annotations

import os

from conftest import checkpoint_dir_set

from textractssmlprocessor_spark.materialize import cut, release, scope


def test_scope_frees_its_cuts_and_never_a_cached_input(spark, persistent_rdds):
    cached = spark.range(50).cache()
    cached.count()
    before = persistent_rdds()
    with scope(spark):
        a = cut(cached.selectExpr("id * 2 AS x"))
        with scope(spark):
            b = cut(a.selectExpr("x + 1 AS y"))
            assert b.agg({"y": "sum"}).first()[0] == 2500
            assert len(persistent_rdds() - before) == 2
        # the inner scope freed only its own cut
        assert len(persistent_rdds() - before) == 1
        assert a.count() == 50
    assert persistent_rdds() == before
    assert cached.count() == 50
    cached.unpersist()


def test_release_frees_a_cut_before_its_scope_closes(spark, persistent_rdds):
    before = persistent_rdds()
    with scope(spark):
        old = cut(spark.range(10))
        new = cut(old.selectExpr("id + 1 AS id"))
        assert new.count() == 10
        release(old)
        assert len(persistent_rdds() - before) == 1
        assert new.agg({"id": "max"}).first()[0] == 10
    assert persistent_rdds() == before


def test_reliable_cut_files_are_deleted_on_exit(spark, tmp_path, persistent_rdds):
    root = str(tmp_path / "ckpt")
    before = persistent_rdds()
    with checkpoint_dir_set(spark, root):
        with scope(spark):
            df = cut(spark.range(20).selectExpr("id % 3 AS k"))
            assert df.distinct().count() == 3
            assert df.count() == 20
            written = [d for _, ds, _ in os.walk(root) for d in ds if d.startswith("rdd-")]
            assert written
        left = [d for _, ds, _ in os.walk(root) for d in ds if d.startswith("rdd-")]
        assert left == []
    assert persistent_rdds() == before
