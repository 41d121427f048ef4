"""The three workloads: input set-up, one closed-loop pass, the output
check, and the traced layer ladder.

Every pass reads its input from the parquet files set-up wrote and calls
the package only through its public entry points. The output check runs
outside the timed region as one aggregate over the pass output: a digest
(row count plus two order-free row hashes) that must repeat on every pass,
and the rows of a seeded sample, compared with an in-process recompute.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import inputs
import reference
from probes import StatusStore, Tracer

SAMPLE = 12  # urls / projects recomputed in-process per pass
MICRO_PAGES = 400  # pages in the single-core function sample (holds 1% skew)
MICRO_REPEATS = 3


class CheckFailed(Exception):
    """A pass produced output that disagrees with the reference."""


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def digest_and_sample(df: DataFrame, key: str, sample: list, cols: list[str]):
    """One action: ``(digest, {key: [row, ...]})`` over ``df``, where the
    rows are those whose ``key`` is in ``sample``."""
    row_cols = [F.col(c) for c in cols]
    picked = F.when(F.col(key).isin(sample), F.struct(*row_cols))
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64(*row_cols)), F.lit(0)).alias("x"),
        F.coalesce(F.bit_xor(F.hash(*row_cols).cast("long")), F.lit(0)).alias("h"),
        F.collect_list(picked).alias("rows"),
    ).first()
    by_key: dict = {}
    for row in r["rows"]:
        by_key.setdefault(row[key], []).append(row.asDict(recursive=True))
    return f"{r['n']}:{r['x'] & (2**64 - 1):016x}:{r['h'] & (2**32 - 1):08x}", by_key


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Workload:
    """Shared plumbing; subclasses define the input, the pass and the check."""

    name = ""
    why = ""
    layers: tuple[str, ...] = ()

    def __init__(self, spark, work_dir: str, seed: int, cores: int, tracer: Tracer, scale: float = 1.0):
        self.spark = spark
        self.work = os.path.join(work_dir, self.name)
        self.seed = seed
        self.cores = cores
        self.tracer = tracer
        self.scale = scale
        self.rng = random.Random(f"sample:{self.name}:{seed}")
        self.reference_digest = None
        self.docs = 0

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def size(self, n: int) -> int:
        return max(16, int(n * self.scale))

    def generate(self) -> str:
        """Build and write the input; return its digest. Idempotent."""
        raise NotImplementedError

    def run_pass(self, k: int):
        raise NotImplementedError

    def check(self, k: int, out) -> dict:
        raise NotImplementedError

    def ladder(self, store: StatusStore, k: int) -> dict:
        """Traced pass: rungs timed in spans, plus status-store counters."""
        raise NotImplementedError

    def layer_metrics(self, ladders: list[dict]) -> dict:
        """This workload's per-layer metrics, from its repeated ladders."""
        raise NotImplementedError

    def rung_median(self, ladders: list[dict], key: str) -> float:
        return _median([lad["rungs"][key] for lad in ladders])

    def _agree(self, digest: str) -> None:
        if self.reference_digest is None:
            self.reference_digest = digest
        elif digest != self.reference_digest:
            raise CheckFailed(f"output digest {digest} != first pass {self.reference_digest}")

    def _rung(self, store: StatusStore, name: str, fn):
        """Time ``fn`` in a span; return (seconds, stages it ran)."""
        store.mark()
        with self.tracer.span(name) as sp:
            fn()
        wall = sp["end"] - sp["start"]
        return wall, store.since_mark()


# --------------------------------------------------------------------------


class Extract(Workload):
    name = "extract"
    why = "run_with_lineage over seeded pages: the fused Python UDF dominates"
    layers = ("sources", "extract.salted_repartition", "udfs.extract_full_udf",
              "operators.charset", "functions.dom", "functions.chunking",
              "functions.subs", "functions.ssml", "lineage")
    N_PAGES = 3000
    N_BUCKETS = 16

    def generate(self) -> str:
        self.rows = inputs.pages_rows(self.seed, self.size(self.N_PAGES))
        self.docs = len(self.rows)
        shutil.rmtree(self.path("pages"), ignore_errors=True)
        digest = inputs.write_parquet(self.rows, inputs.PAGES_SCHEMA, self.path("pages"))
        self.sample = [r[0] for r in self.rng.sample(self.rows, min(SAMPLE, len(self.rows)))]
        return digest

    def pages(self) -> DataFrame:
        from textractssmlprocessor_spark.sources import read_pages

        return read_pages(self.spark, self.path("pages"))

    def _lineage(self, pages: DataFrame, k) -> None:
        from textractssmlprocessor_spark.lineage import run_with_lineage

        counters: dict = {}
        run_with_lineage(
            pages, self.spark, self.path("out", str(k)), self.path("lineage", str(k)),
            n_buckets=self.N_BUCKETS, num_partitions=self.cores, metrics_out=counters,
        )
        self.chunks = counters["n_chunks"]

    def run_pass(self, k: int):
        self._lineage(self.pages(), k)
        return k

    def _clean(self, k) -> None:
        shutil.rmtree(self.path("out", str(k)), ignore_errors=True)
        shutil.rmtree(self.path("lineage", str(k)), ignore_errors=True)

    def check(self, k: int, out) -> dict:
        try:
            written = self.spark.read.parquet(self.path("out", str(out)))
            digest, got = digest_and_sample(
                written, "url", self.sample,
                ["url", "chunk_number", "extracted_text", "ssml", "spans"],
            )
            self._agree(digest)
            by_url = {r[0]: r for r in self.rows}
            for url in self.sample:
                _, _, html, text, _ = by_url[url]
                want = [
                    (n, c, s, [{"start": a, "end": b, "kind": "chunk"}])
                    for n, (c, s, a, b) in enumerate(reference.extract_page(html, text), 1)
                ]
                have = sorted(
                    (r["chunk_number"], r["extracted_text"], r["ssml"], r["spans"])
                    for r in got.get(url, [])
                )
                if have != want:
                    raise CheckFailed(f"extract output for {url} differs from the recompute")
            return {"digest": digest}
        finally:
            self._clean(out)

    def ladder(self, store: StatusStore, k: int) -> dict:
        from textractssmlprocessor_spark.operators.extract import (
            extract_chunks,
            salted_repartition,
        )

        # the columns extract_chunks keeps, so the next rung adds only the Exchange
        def scanned():
            return self.pages().select("url", "html", "text")

        scan, _ = self._rung(store, "sources.read_pages", lambda: noop(scanned()))
        shuffle, _ = self._rung(
            store, "extract.salted_repartition",
            lambda: noop(salted_repartition(scanned(), self.cores)),
        )
        udf, udf_stages = self._rung(
            store, "extract.extract_chunks",
            lambda: noop(extract_chunks(self.pages(), num_partitions=self.cores)),
        )
        full, full_stages = self._rung(store, "lineage.run_with_lineage", lambda: self._lineage(self.pages(), k))
        self._clean(k)
        udf_stage = max(udf_stages, key=lambda s: s["executor_run_ms"])
        return {
            "rungs": {"scan": scan, "shuffle": shuffle, "udf": udf, "full": full},
            "pass_s": full,
            "stages": full_stages,
            "task_skew": udf_stage["task_ms_max"] / max(udf_stage["task_ms_median"], 1),
        }

    def layer_metrics(self, ladders: list[dict]) -> dict:
        scan, shuffle, udf, full = (self.rung_median(ladders, k) for k in ("scan", "shuffle", "udf", "full"))
        micro = self.micro()
        # what the Python functions alone would cost, spread over the cores
        python_s = (
            (micro["operators.charset.us_per_doc"] + micro["functions.dom.us_per_doc"]
             + micro["functions.chunking.us_per_doc"]) * self.docs
            + (micro["functions.subs.us_per_chunk"] + micro["functions.ssml.us_per_chunk"]) * self.chunks
        ) / 1e6
        return {
            "sources.scan_s": scan,
            "extract.shuffle_s": shuffle - scan,
            "extract.udf_s": udf - shuffle,
            "lineage.write_s": full - udf,
            **micro,
            "udfs.boundary_s": (udf - shuffle) - python_s / self.cores,
            "extract.task_skew": _median([lad["task_skew"] for lad in ladders]),
        }

    def micro(self) -> dict:
        """Single-core cost of each function of the fused UDF on the first
        ``MICRO_PAGES`` pages (their mix holds the skew tail and the
        legacy-charset slice at the input's proportions)."""
        from textractssmlprocessor_spark.functions.chunking import chunk_text_with_spans
        from textractssmlprocessor_spark.functions.cleaning import is_html
        from textractssmlprocessor_spark.functions.dom import convert_html_to_ssml
        from textractssmlprocessor_spark.functions.ssml import normalize_ssml
        from textractssmlprocessor_spark.functions.subs import expand_substitutions
        from textractssmlprocessor_spark.operators.charset import decode_payload

        pages = self.rows[: min(MICRO_PAGES, len(self.rows))]
        runs = []
        for _ in range(MICRO_REPEATS):
            t = dict.fromkeys(("charset", "dom", "chunking", "subs", "ssml"), 0.0)
            n_chunks = 0
            for _, _, html, text, _ in pages:
                t0 = time.perf_counter()
                payload = decode_payload(html)[0] if html is not None else text
                t1 = time.perf_counter()
                cleaned = convert_html_to_ssml(payload) if is_html(payload) else payload
                t2 = time.perf_counter()
                chunks = chunk_text_with_spans(cleaned)
                t3 = time.perf_counter()
                subs = [expand_substitutions(c) for c, _, _ in chunks]
                t4 = time.perf_counter()
                for s in subs:
                    normalize_ssml(s)
                t5 = time.perf_counter()
                t["charset"] += t1 - t0
                t["dom"] += t2 - t1
                t["chunking"] += t3 - t2
                t["subs"] += t4 - t3
                t["ssml"] += t5 - t4
                n_chunks += len(chunks)
            runs.append((t, n_chunks))
        n_chunks = runs[0][1]

        def us(key, per):
            return _median([r[0][key] for r in runs]) * 1e6 / per

        return {
            "operators.charset.us_per_doc": us("charset", len(pages)),
            "functions.dom.us_per_doc": us("dom", len(pages)),
            "functions.chunking.us_per_doc": us("chunking", len(pages)),
            "functions.subs.us_per_chunk": us("subs", n_chunks),
            "functions.ssml.us_per_chunk": us("ssml", n_chunks),
        }


# --------------------------------------------------------------------------


class Annotate(Workload):
    name = "annotate"
    why = "validate, split_ssml_chunks and srt_variants over a chunk table"
    layers = ("operators.validate", "extract.split_ssml_chunks", "udfs.split_ssml_udf",
              "operators.align", "udfs.subtitles_udf", "functions.subtitles",
              "functions.chunking")
    N_PAGES = 500

    def generate(self) -> str:
        pages = inputs.pages_rows(self.seed, self.size(self.N_PAGES), stream="annotate")
        self.chunk_rows, manifest = inputs.chunk_rows(pages)
        self.docs = len(self.chunk_rows)
        for sub in ("chunks", "manifest"):
            shutil.rmtree(self.path(sub), ignore_errors=True)
        d1 = inputs.write_parquet(self.chunk_rows, inputs.CHUNKS_SCHEMA, self.path("chunks"))
        d2 = inputs.write_parquet(manifest, inputs.MANIFEST_SCHEMA, self.path("manifest"))
        urls = sorted({r[0] for r in self.chunk_rows})
        self.sample = self.rng.sample(urls, min(SAMPLE, len(urls)))
        self.durations = {(u, n): d for u, n, d in manifest}
        return f"{d1}:{d2}"

    def tables(self):
        return (self.spark.read.parquet(self.path("chunks")),
                self.spark.read.parquet(self.path("manifest")))

    def calls(self, chunks, manifest):
        from textractssmlprocessor_spark.operators.align import SRT_VARIANTS, srt_variants
        from textractssmlprocessor_spark.operators.extract import split_ssml_chunks
        from textractssmlprocessor_spark.operators.validate import validate

        return (
            ("validate.validate", validate(chunks), "url",
             ["url", "chunk_number", "rule", "message"]),
            ("extract.split_ssml_chunks", split_ssml_chunks(chunks), "url",
             ["url", "chunk_number", "part_number", "ssml_part"]),
            ("align.srt_variants", srt_variants(chunks, manifest), "url",
             ["url", *SRT_VARIANTS]),
        )

    def run_pass(self, k: int):
        out = {}
        for name, df, key, cols in self.calls(*self.tables()):
            with self.tracer.span(name):
                out[name] = digest_and_sample(df, key, self.sample, cols)
        return out

    def check(self, k: int, out) -> dict:
        self._agree("|".join(d for d, _ in out.values()))
        by_url: dict = {}
        for url, n, text, ssml, _ in self.chunk_rows:
            by_url.setdefault(url, []).append((n, text, ssml))
        split = out["extract.split_ssml_chunks"][1]
        srt = out["align.srt_variants"][1]
        for url in self.sample:
            chunks = sorted(by_url[url])
            want = sorted(
                (n, p, part)
                for n, _, ssml in chunks
                for p, part in enumerate(reference.split_parts(ssml) or [], 1)
            )
            have = sorted((r["chunk_number"], r["part_number"], r["ssml_part"]) for r in split.get(url, []))
            if have != want:
                raise CheckFailed(f"split_ssml_chunks output for {url} differs from the recompute")
            docs = reference.srt_documents(
                [(text, ssml, self.durations[(url, n)]) for n, text, ssml in chunks]
            )
            got = srt.get(url, [{}])[0]
            for variant, doc in docs.items():
                if got.get(variant) != doc:
                    raise CheckFailed(f"srt_variants {variant} for {url} differs from the recompute")
        return {"digest": self.reference_digest}

    def ladder(self, store: StatusStore, k: int) -> dict:
        rungs, stages = {}, []
        with self.tracer.span("annotate.pass") as sp:
            for name, df, key, cols in self.calls(*self.tables()):
                rungs[name], st = self._rung(
                    store, name, lambda df=df, key=key, cols=cols: digest_and_sample(df, key, self.sample, cols)
                )
                stages += st
        return {"rungs": rungs, "pass_s": sp["end"] - sp["start"], "stages": stages}

    def layer_metrics(self, ladders: list[dict]) -> dict:
        return {
            "validate.validate_s": self.rung_median(ladders, "validate.validate"),
            "extract.split_ssml_s": self.rung_median(ladders, "extract.split_ssml_chunks"),
            "align.srt_variants_s": self.rung_median(ladders, "align.srt_variants"),
            **self.micro(),
        }

    def micro(self) -> dict:
        from textractssmlprocessor_spark.functions.chunking import split_ssml
        from textractssmlprocessor_spark.functions.subtitles import chunk_subtitles

        rows = self.chunk_rows[: min(MICRO_PAGES, len(self.chunk_rows))]
        split_t, subs_t = [], []
        for _ in range(MICRO_REPEATS):
            t0 = time.perf_counter()
            for _, _, _, ssml, _ in rows:
                split_ssml(ssml)
            t1 = time.perf_counter()
            for _, _, text, ssml, _ in rows:
                for _, language, shorter in reference.SRT_VARIANTS:
                    body = ssml if language == "english" else text
                    chunk_subtitles(body, 0.0, len(text) * inputs.SECONDS_PER_CHAR, language, shorter)
            t2 = time.perf_counter()
            split_t.append(t1 - t0)
            subs_t.append(t2 - t1)
        return {
            "functions.chunking.split_ssml_us_per_chunk": _median(split_t) * 1e6 / len(rows),
            "functions.subtitles.us_per_chunk": _median(subs_t) * 1e6 / len(rows),
        }


# --------------------------------------------------------------------------


class Curate(Workload):
    name = "curate"
    why = "build_manifest with c4, host cap and near-dup over planted duplicates"
    layers = ("operators.curate", "operators.textstats", "operators.content",
              "operators.weburl", "operators.dedup", "operators.graph")
    N_DOCS = 600
    MAX_PER_HOST = 20
    LANGUAGES = ["en", "la"]

    def generate(self) -> str:
        rows, self.planted = inputs.docs_rows(self.seed, self.size(self.N_DOCS))
        self.docs = len(rows)
        shutil.rmtree(self.path("docs"), ignore_errors=True)
        return inputs.write_parquet(rows, inputs.DOCS_SCHEMA, self.path("docs"))

    def manifest(self, docs: DataFrame, c4=True, host_cap=True, near_dup=True) -> DataFrame:
        from textractssmlprocessor_spark.jobs.curate_job import build_manifest

        return build_manifest(
            docs, languages=self.LANGUAGES, c4=c4,
            url_col="url" if host_cap else None,
            max_per_host=self.MAX_PER_HOST if host_cap else None,
            near_dup=near_dup,
        )

    def _write(self, df: DataFrame, k) -> None:
        df.write.mode("overwrite").parquet(self.path("out", str(k)))

    def run_pass(self, k: int):
        self._write(self.manifest(self.spark.read.parquet(self.path("docs"))), k)
        return k

    def check(self, k: int, out) -> dict:
        """Digest, plus the planted structure: every unplanted document is
        kept, planted exact copies / short / foreign-language documents are
        dropped for their reason, at least 90% of near copies are dropped
        as near duplicates, and no host keeps more than the cap."""
        try:
            m = self.spark.read.parquet(self.path("out", str(out)))
            digest, _ = digest_and_sample(m, "id", [], ["id", "kept", "drop_reason"])
            self._agree(digest)
            verdict = {r["id"]: (r["kept"], r["drop_reason"]) for r in m.collect()}
        finally:
            shutil.rmtree(self.path("out", str(out)), ignore_errors=True)
        p = self.planted
        planted_any = set().union(*p.values())
        problems = []
        if len(verdict) != self.docs:
            problems.append(f"{len(verdict)} verdicts for {self.docs} documents")
        for i, (kept, reason) in verdict.items():
            if i in p["lang"]:
                ok = reason == "language"
            elif i in p["short"]:
                ok = reason == "quality"
            elif i in p["exact"]:
                ok = reason == "duplicate"
            elif i in p["near"]:
                ok = True  # counted below
            elif i in p["host"]:
                ok = kept or reason == "host_cap"
            else:
                ok = kept and i not in planted_any
            if not ok:
                problems.append(f"doc {i}: kept={kept} reason={reason}")
        near = [i for i in p["near"] if i not in p["lang"] and i not in p["host"]]
        caught = sum(1 for i in near if verdict.get(i, (True, None))[1] == "near_duplicate")
        if near and caught < 0.9 * len(near):
            problems.append(f"only {caught}/{len(near)} near copies dropped")
        host_kept = sum(1 for i in p["host"] if verdict.get(i, (False,))[0])
        if host_kept > self.MAX_PER_HOST:
            problems.append(f"host 0 keeps {host_kept} > {self.MAX_PER_HOST}")
        if problems:
            raise CheckFailed("; ".join(problems[:5]))
        return {"digest": digest, "near_caught": f"{caught}/{len(near)}"}

    def ladder(self, store: StatusStore, k: int) -> dict:
        docs = self.spark.read.parquet(self.path("docs"))
        rungs = {}
        for name, kw in (
            ("curate.curate_corpus", dict(c4=False, host_cap=False, near_dup=False)),
            ("content.c4", dict(c4=True, host_cap=False, near_dup=False)),
            ("weburl.cap_per_host", dict(c4=True, host_cap=True, near_dup=False)),
        ):
            rungs[name], _ = self._rung(
                store, name, lambda kw=kw: self._write(self.manifest(docs, **kw), f"{k}-rung")
            )
        full, stages = self._rung(store, "graph.dedup_clusters", lambda: self._write(self.manifest(docs), k))
        rungs["graph.dedup_clusters"] = full
        shutil.rmtree(self.path("out"), ignore_errors=True)
        return {"rungs": rungs, "pass_s": full, "stages": stages}


    def layer_metrics(self, ladders: list[dict]) -> dict:
        base, c4, cap, near = (
            self.rung_median(ladders, k) for k in
            ("curate.curate_corpus", "content.c4", "weburl.cap_per_host", "graph.dedup_clusters")
        )
        return {
            "curate.corpus_s": base,
            "content.c4_s": c4 - base,
            "weburl.host_cap_s": cap - c4,
            "graph.dedup_clusters_s": near - cap,
        }


WORKLOADS = {w.name: w for w in (Extract, Annotate, Curate)}
