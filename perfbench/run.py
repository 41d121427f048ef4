"""Benchmark entry point.

    python3 perfbench/run.py --workload {extract,annotate,curate} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. One driver process runs the workload on
``local[<cores this process may use>]``. Set-up starts the session,
generates and writes the seeded input (three times; the median counts)
and makes ``WARM_PASSES`` full passes that start the Python workers and
let the JIT settle. Then a closed loop runs one pass at a time, the next
starting when the previous one and its output check are done, for
``--seconds``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates
untraced passes with traced ladders of this workload (their difference is
the tracing overhead), then sets up each other workload and runs one
traced ladder of it, so every per-layer metric is measured in every
traced run; the spans go to ``.perfbench/traces/``.

The next-to-last line of stdout is a JSON detail record (input digest,
every pass time, the pass-time tail, error rate, leaks, provenance, stage
counters); the last line is the result record. When the package cannot be
imported the exit code is 2 and no result is printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3  # input generate+write repetitions; setup_s uses the median
WARM_PASSES = 2  # full passes in set-up: the first pays one-time costs
MIN_ROUNDS = 1  # closed-loop rounds made even when --seconds is shorter
# Driver heap, fixed and pre-touched so that RSS does not depend on when
# the collector chose to grow the heap.
MEMORY = "1g"

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "docs_per_s": "docs/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "corpus.generate_s": "s",
    "sources.scan_s": "s",
    "extract.shuffle_s": "s",
    "extract.udf_s": "s",
    "lineage.write_s": "s",
    "operators.charset.us_per_doc": "us",
    "functions.dom.us_per_doc": "us",
    "functions.chunking.us_per_doc": "us",
    "functions.subs.us_per_chunk": "us",
    "functions.ssml.us_per_chunk": "us",
    "udfs.boundary_s": "s",
    "extract.task_skew": "ratio",
    "validate.validate_s": "s",
    "extract.split_ssml_s": "s",
    "align.srt_variants_s": "s",
    "functions.subtitles.us_per_chunk": "us",
    "functions.chunking.split_ssml_us_per_chunk": "us",
    "curate.corpus_s": "s",
    "content.c4_s": "s",
    "weburl.host_cap_s": "s",
    "graph.dedup_clusters_s": "s",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.busy_share": "fraction",
    "materialize.leaked_rdds": "count",
    "trace.overhead_s": "s",
}
UNITS = {**END_TO_END, **PER_LAYER}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str, n_cores: int):
    """The package's session factory, with scratch space kept in ``work``."""
    from textractssmlprocessor_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # JVM-spawned Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + HERE
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    spark = get_spark(
        app_name="perfbench", cores=n_cores, shuffle_partitions=n_cores,
        extra_conf={
            "spark.driver.memory": MEMORY,
            "spark.driver.extraJavaOptions":
                f"-Xms{MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def provenance(spark, n_cores: int) -> dict:
    import pandas
    import pyarrow

    conf = spark.conf
    return {
        "cores": n_cores,
        "spark": spark.version,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "arrow_batch": int(conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")),
        "driver_memory": conf.get("spark.driver.memory"),
    }


def tail(times: list[float]) -> dict:
    """The highest percentile of pass time with at least 10 passes beyond
    it; None when a run holds 10 passes or fewer."""
    n = len(times)
    if n <= 10:
        return {"value": None, "percentile": None, "passes": n, "beyond": 0}
    k = n - 10  # 1-based rank: exactly 10 passes are slower
    return {"value": sorted(times)[k - 1], "percentile": 100.0 * k / n, "passes": n, "beyond": 10}


class Loop:
    """Pass bookkeeping: times, failures (raised or failed checks), leaks."""

    def __init__(self, wl, tracer):
        self.wl, self.tracer = wl, tracer
        self.passes, self.failures, self.leaks, self.checks = [], [], [], []
        self.cpu: list[float] = []
        self.ladders: list[dict] = []
        self.k = 0

    def one_pass(self) -> None:
        from probes import leaked_rdds, tree_cpu_s

        self.tracer.run_id = f"pass-{self.k}"
        try:
            cpu0 = tree_cpu_s()
            with self.tracer.span("pass") as sp:
                out = self.wl.run_pass(self.k)
            self.cpu.append(tree_cpu_s() - cpu0)
            self.passes.append(sp["end"] - sp["start"])
            self.checks.append(self.wl.check(self.k, out))
        except Exception as exc:  # noqa: BLE001 - a failed pass is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            self.failures.append(f"pass {self.k}: {type(exc).__name__}: {exc}"[:300])
        self.leaks.append(leaked_rdds(self.wl.spark))
        self.k += 1

    def one_ladder(self, store) -> None:
        from probes import leaked_rdds

        self.tracer.run_id = f"ladder-{self.k}"
        self.ladders.append(self.wl.ladder(store, self.k))
        self.leaks.append(leaked_rdds(self.wl.spark))
        self.k += 1

    def run(self, seconds: float, store=None) -> int:
        """Closed loop for ``seconds``; returns the number of rounds.

        A round is one pass (and, traced, one ladder). Another round starts
        only if a median round still ends inside the window, so the pass
        count does not flip between runs on a pass ending near the deadline.
        """
        rounds: list[float] = []
        t0 = time.perf_counter()
        while len(rounds) < MIN_ROUNDS or (
            time.perf_counter() - t0 + statistics.median(rounds) <= seconds
        ):
            t = time.perf_counter()
            self.one_pass()
            if store is not None:
                self.one_ladder(store)
            rounds.append(time.perf_counter() - t)
        return len(rounds)


def setup(wl, tracer) -> dict:
    """Generate the input ``SETUP_REPEATS`` times, then warm up."""
    gen_s, digests = [], []
    for _ in range(SETUP_REPEATS):
        with tracer.span("corpus.generate") as sp:
            digests.append(wl.generate())
        gen_s.append(sp["end"] - sp["start"])
    warm = Loop(wl, tracer)
    with tracer.span("session.warm") as sp:
        for _ in range(WARM_PASSES):
            warm.one_pass()
    return {"generate_s": gen_s, "digests": digests, "warm_s": sp["end"] - sp["start"],
            "warm_passes_s": warm.passes, "warm_failures": warm.failures}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["extract", "annotate", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke tests use a tiny one)")
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import textractssmlprocessor_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from probes import RssSampler, StatusStore, Tracer, stage_totals, steal_s, stop_spark
    from workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    n_cores = cores()
    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    try:
        with RssSampler() as rss:
            with tracer.span("session.start") as sp:
                spark = start_spark(work, n_cores)
            start_s = sp["end"] - sp["start"]

            def make(name):
                return WORKLOADS[name](spark, work, args.seed, n_cores, tracer, args.scale)

            wl = make(args.workload)
            prep = setup(wl, tracer)
            store = StatusStore(spark) if args.trace else None
            loop = Loop(wl, tracer)
            steal0 = steal_s()
            rounds = loop.run(args.seconds, store)
            stolen = steal_s() - steal0
            layer, sweep_failures = {}, []
            if args.trace:
                # every other pipeline: its own input, one warm pass, one ladder
                for name in WORKLOADS:
                    if name == args.workload:
                        continue
                    other = make(name)
                    tracer.run_id = f"{name}-setup"
                    other.generate()
                    other_loop = Loop(other, tracer)
                    other_loop.one_pass()
                    other_loop.one_ladder(store)
                    sweep_failures += other_loop.failures
                    layer.update(other.layer_metrics(other_loop.ladders))
                layer.update(wl.layer_metrics(loop.ladders))
            rss.sample()

        failures = prep["warm_failures"] + loop.failures + sweep_failures
        correct = len(set(prep["digests"])) == 1 and not failures
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "why": wl.why,
            "layers": list(wl.layers),
            "input_digest": prep["digests"][0],
            "input_docs": wl.docs,
            "provenance": provenance(spark, n_cores),
            "setup": {"session_start_s": start_s, **{k: v for k, v in prep.items() if k != "digests"}},
            "pass_times_s": loop.passes,
            "pass_cpu_s": {"values": loop.cpu, "unit": "s"},
            "steal_s": stolen,
            "peak_rss_kb_by_process": rss.peak_procs,
            "pass_s_tail": {"unit": "s", **tail(loop.passes)},
            "error_rate": {"value": len(loop.failures) / rounds, "unit": "fraction"},
            "failures": failures,
            "leaked_rdds": loop.leaks,
            "checks": loop.checks[:1],
        }
        if args.trace:
            totals = [stage_totals(lad["stages"], lad["pass_s"], n_cores) for lad in loop.ladders]
            layer.update(totals[-1])
            layer.update({
                "spark.busy_share": statistics.median(t["spark.busy_share"] for t in totals),
                "session.start_s": start_s,
                "session.warm_s": prep["warm_s"],
                "corpus.generate_s": statistics.median(prep["generate_s"]),
                "materialize.leaked_rdds": max(loop.leaks),
                "trace.overhead_s": statistics.median(lad["pass_s"] for lad in loop.ladders)
                - statistics.median(loop.passes),
            })
            detail["stage_report"] = loop.ladders[-1]["stages"]
            trace_path = os.path.join(ROOT, ".perfbench", "traces", f"{args.workload}-seed{args.seed}.json")
            tracer.write(trace_path)
            detail["trace_file"] = os.path.relpath(trace_path, ROOT)
            metrics = {name: layer[name] for name in PER_LAYER}
        else:
            pass_s = statistics.median(loop.passes)
            metrics = {
                "setup_s": start_s + prep["warm_s"] + statistics.median(prep["generate_s"]),
                "pass_s": pass_s,
                "docs_per_s": wl.docs / pass_s,
                "peak_rss_mb": rss.peak_mb,
            }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    result = {
        "correct": correct,
        "attempted": rounds,
        "failed": len(loop.failures),
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
