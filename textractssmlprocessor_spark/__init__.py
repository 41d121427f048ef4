"""PySpark-native extraction engine with the capabilities of
wryan14/TextractSSMLProcessor.

A from-scratch, Spark-first reimplementation (NOT a port) of the reference
pipeline: Common-Crawl-style web pages -> cleaned main-content text ->
sentence-packed chunks -> normalized SSML -> validation findings ->
subtitle/SRT alignment, plus the large-scale training-data operators
(dedup, similarity search, text stats) the reference lacks.

Layout
------
functions/   pure, individually unit-testable Python functions holding the
             reference semantics (cited file:line in each docstring)
operators/   Spark DataFrame compositions + vectorized pandas/Arrow UDF
             wrappers around ``functions``
corpus.py    deterministic synthetic web-page corpus (url, warc_ts, html,
             text, lang) for tests + benchmarks
lineage.py   salted repartitioning, per-partition lineage rows,
             checkpoint-resume bucket filter

Importing the package gates ``zipimporter.invalidate_caches`` (_zipgate.py),
so a Python worker that unpickles a package function stops re-reading
pyspark.zip on every task.
"""

from . import _zipgate

_zipgate.install()

__version__ = "0.1.0"
