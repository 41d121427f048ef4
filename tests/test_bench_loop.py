"""bench.timed_passes: the one timed-pass loop bench.py, tools/ab_probe.py
and bench_scaling.py share."""

from __future__ import annotations


def test_timed_passes_interleave_time_and_scope_each_pass(spark, persistent_rdds):
    from bench import timed_passes
    from textractssmlprocessor_spark.materialize import cut

    before = persistent_rdds()
    order: list[str] = []
    live: list[set[int]] = []  # blocks held while each pass runs

    def pass_named(name):
        def run():
            order.append(name)
            cut(spark.range(10)).count()
            live.append(persistent_rdds() - before)

        return run

    times = timed_passes(spark, {"a": pass_named("a"), "b": pass_named("b")}, 2)

    assert order == ["a", "b", "a", "b"]
    assert list(times) == ["a", "b"]
    assert all(len(t) == 2 and all(s >= 0 for s in t) for t in times.values())
    # each pass sees only its own cut: the previous pass's block is gone
    assert [len(ids) for ids in live] == [1, 1, 1, 1]
    assert len(set().union(*live)) == 4
    assert not persistent_rdds() - before
