"""Same-boot interleaved A/B probe for contract-query bench lines.

Usage: python tools/ab_probe.py [sf_dir] query ... [--rounds N]

Times each named `__spark_entry__.queries()` entry in bench.py's timed-pass
loop: noop sink, one materialize.scope per pass, rounds INTERLEAVED so the
queries sample the same host-noise windows. To A/B a code change, run the
probe in two checkouts (parent and change), alternating on the same boot.
Prints one JSON line {"sf": ..., "rounds": N, "cores": C,
"best": {name: sec}, "all": {name: [sec]}}.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    rounds = 3
    if "--rounds" in args:
        i = args.index("--rounds")
        rounds = int(args[i + 1])
        del args[i : i + 2]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir = args.pop(0)
    patched = [a for a in args if "=" in a]
    if patched:
        sys.exit(
            f"ab_probe: query=patch specs are not supported ({', '.join(patched)});"
            " A/B a code change by running the probe in two checkouts"
        )

    import __spark_entry__ as entrymod
    from bench import run_noop, timed_passes
    from textractssmlprocessor_spark.materialize import scope
    from textractssmlprocessor_spark.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="ab_probe", cores=cores, shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()

    # warmup python workers once
    with scope(spark):
        run_noop(qs[args[0]](spark, sf_dir).limit(50))

    all_times = timed_passes(
        spark,
        {q: (lambda q=q: run_noop(qs[q](spark, sf_dir))) for q in args},
        rounds,
    )
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
