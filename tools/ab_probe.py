"""Same-boot interleaved A/B probe for contract-query bench lines.

Usage: python tools/ab_probe.py [sf_dir] query[=patch] ... [--rounds N]

Times each named `__spark_entry__.queries()` entry with bench.py's exact
protocol (noop sink, one materialize.scope per pass, best-of across INTERLEAVED
rounds so the variants sample the same host-noise windows — the repo's
attribution convention for any >=1.4x bench move, BENCH/BASELINE.md).

A `query=patchname` spec times the SAME query under a registered
formulation patch (monkeypatch applied only for that variant's passes),
giving the code-level A/B leg without a second checkout. Prints one JSON
line {"sf": ..., "rounds": N, "best": {name: sec}, "all": {name: [sec]}}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _patch_cold_model():
    """Time the cold-start leg of a memoized contract query: clear the
    trained-model memo so this pass re-pays the training jobs (the
    steady-state leg is the unpatched query, which replays the cached
    weights)."""
    import __spark_entry__ as e

    e._MODEL_CACHE.clear()
    return lambda: None


def _patch_head_similarity():
    """Time a query against the committed (HEAD) similarity module: loads
    `git show HEAD:.../similarity.py` into a shadow module and swaps the
    public entry points the contract queries import at call time. Gives the
    pre-change leg of a same-boot formulation A/B without a second checkout
    (the working tree holds the candidate; HEAD holds the baseline)."""
    import subprocess
    import types

    import textractssmlprocessor_spark.operators.similarity as sim

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = subprocess.run(
        ["git", "show", "HEAD:textractssmlprocessor_spark/operators/similarity.py"],
        capture_output=True, text=True, cwd=repo, check=True,
    ).stdout
    old = types.ModuleType("similarity_head")
    old.__package__ = "textractssmlprocessor_spark.operators"  # relative imports
    exec(compile(src, "similarity_head", "exec"), old.__dict__)
    swapped = {}
    for name in ("semdedup", "ann_ivf_topk", "kmeans_centroids", "ivf_assign"):
        if hasattr(old, name):
            swapped[name] = getattr(sim, name)
            setattr(sim, name, getattr(old, name))

    def undo():
        for name, fn in swapped.items():
            setattr(sim, name, fn)

    return undo


PATCHES = {"cold_model": _patch_cold_model, "head_similarity": _patch_head_similarity}


def main() -> None:
    args = [a for a in sys.argv[1:]]
    rounds = 3
    if "--rounds" in args:
        i = args.index("--rounds")
        rounds = int(args[i + 1])
        del args[i : i + 2]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    specs = []  # (label, query, patch_name|None)
    for a in args:
        if "=" in a:
            q, p = a.split("=", 1)
            specs.append((f"{q}[{p}]", q, p))
        else:
            specs.append((a, a, None))

    import __spark_entry__ as entrymod
    from bench import run_noop
    from textractssmlprocessor_spark.materialize import scope
    from textractssmlprocessor_spark.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="ab_probe", cores=cores, shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    # warmup python workers once
    with scope(spark):
        run_noop(qs[specs[0][1]](spark, sf_dir).limit(50))

    all_times: dict[str, list[float]] = {label: [] for label, _, _ in specs}
    for r in range(rounds):
        for label, q, patch in specs:
            undo = PATCHES[patch]() if patch else None
            try:
                with scope(spark):
                    t0 = time.time()
                    run_noop(qs[q](spark, sf_dir))
                    all_times[label].append(round(time.time() - t0, 3))
            finally:
                if undo:
                    undo()
        print(f"# round {r + 1}/{rounds} done", file=sys.stderr)

    print(
        json.dumps(
            {
                "sf": sf_dir.rstrip("/").split("sf")[-1],
                "rounds": rounds,
                "cores": cores,
                "best": {k: min(v) for k, v in all_times.items()},
                "all": all_times,
            }
        )
    )


if __name__ == "__main__":
    main()
