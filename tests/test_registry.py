"""Registry meta-invariants: every driver-facing query must survive the
correctness harness. These are schema-level checks (no query execution), so
the whole registry verifies in seconds."""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="module")
def frames(spark):
    return {name: fn(spark, SF) for name, fn in entry.queries().items()}


def test_no_complex_columns_reach_the_driver(frames):
    """The harness canonicalizer sorts result cells in pandas; list/struct/
    map cells are unhashable and ERR the row (round-1 regression). Every
    registry query must project arrays down to digests or joined strings."""
    offenders = {}
    for name, df in frames.items():
        bad = [
            (f.name, f.dataType.simpleString())
            for f in df.schema.fields
            if f.dataType.simpleString().startswith(("array", "struct", "map"))
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"complex driver-facing columns: {offenders}"


def test_oracle_column_names_match_spark(frames):
    """The harness compares columns sorted BY NAME, so a Spark/oracle alias
    mismatch hash-fails even with identical values. DESCRIBE the oracle in
    DuckDB (no execution) and require the exact same column-name set."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    mismatches = {}
    for name, sql in entry.oracle_sql().items():
        oracle_cols = [
            r[0] for r in con.execute(f"DESCRIBE {sql}").fetchall()
        ]
        spark_cols = frames[name].columns
        if sorted(oracle_cols) != sorted(spark_cols):
            mismatches[name] = (sorted(spark_cols), sorted(oracle_cols))
    assert not mismatches, f"alias mismatches: {mismatches}"


def test_no_hugeint_oracle_columns():
    """DuckDB widens sum(INT)/list_aggregate('sum') to HUGEINT (int128),
    which the harness canonicalizer renders differently from Spark's BIGINT
    — the round-2 root cause for all 3 hash-fails. DESCRIBE every oracle (no
    execution) and require every output column to be a non-HUGEINT type;
    wrap offending sums in CAST(... AS BIGINT)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    offenders = {}
    for name, sql in entry.oracle_sql().items():
        bad = [
            (r[0], r[1])
            for r in con.execute(f"DESCRIBE {sql}").fetchall()
            if "HUGEINT" in r[1].upper()
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, f"HUGEINT oracle columns (CAST to BIGINT): {offenders}"


def test_window_is_all_oracle_backed():
    """The harness checks a 50-query prefix: every slot must be oracle-
    backed or correctness credit is thrown away (round-1 regression)."""
    names = list(entry.queries())
    oracles = entry.oracle_sql()
    prefix = names[: min(50, len(names))]
    assert all(n in oracles for n in prefix)


def test_window_composition_is_pinned():
    """The 50-slot window holds EXACTLY the oracle queries not in DEMOTED:
    a registry addition that silently reshuffles the window (pushing a
    unique-coverage query out) must trip this, not a grading round."""
    names = list(entry.queries())
    oracles = set(entry.oracle_sql())
    window = set(names[:50])
    expected = oracles - set(entry.DEMOTED)
    assert len(expected) == 50, (
        f"{len(expected)} non-demoted oracle queries for 50 slots — "
        "rebalance DEMOTED when adding/removing oracle queries"
    )
    assert window == expected
    # every demoted name really is a registered oracle query
    assert set(entry.DEMOTED) <= oracles


def test_demoted_surrogates_are_green_in_latest_correctness():
    """Every demoted oracle query names in-window surrogates covering the
    same shape; each surrogate must be GREEN (rows+schema+hash) in the
    newest driver CORRECTNESS file. Automates away the round-2
    doc_sha256 -> image_manifest stale-surrogate episode."""
    import json
    import re
    from pathlib import Path

    repo = Path(entry.__file__).parent
    files = sorted(
        repo.glob("CORRECTNESS_r*.json"),
        key=lambda p: int(re.search(r"r(\d+)", p.name).group(1)),
    )
    if not files:
        pytest.skip("no CORRECTNESS file yet (round 1)")
    latest = json.loads(files[-1].read_text())
    green = {
        n
        for n, r in latest.items()
        if r.get("rows_match") and r.get("schema_match") and r.get("hash_match")
    }
    problems = {}
    for demoted_name, surrogates in entry.DEMOTED.items():
        assert surrogates, f"{demoted_name} demoted without surrogates"
        # r6 hardening: a surrogate that is itself demoted can silently
        # orphan the chain when a later round drops it out of the window
        # (the r5 emb_pairwise_stats/doc_file_stem/doc_japanese_confidence
        # episode) — reject demoted surrogates outright, independent of
        # whatever the latest CORRECTNESS file happens to contain.
        self_demoted = [s for s in surrogates if s in entry.DEMOTED]
        missing = [s for s in surrogates if s not in green]
        if self_demoted:
            problems[demoted_name] = [f"{s} (itself demoted)" for s in self_demoted]
        elif missing:
            problems[demoted_name] = missing
    assert not problems, (
        f"demoted queries whose surrogates are not green in {files[-1].name}: "
        f"{problems}"
    )


def _package_imports(path, modname, is_pkg, pkg):
    """Dotted names of in-package modules a file imports anywhere in its
    body (module level or function-local, absolute or relative). A
    ``from X import y`` yields ``X.y`` too; the caller keeps it only if
    it names a real module rather than an attribute."""
    import ast

    base = modname.split(".") if is_pkg else modname.split(".")[:-1]
    out = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = base[: len(base) - (node.level - 1)]
                mod = ".".join(parts + ([node.module] if node.module else []))
            else:
                mod = node.module or ""
            out.add(mod)
            out.update(f"{mod}.{a.name}" for a in node.names)
    return {m for m in out if m == pkg or m.startswith(pkg + ".")}


def test_every_package_module_is_reachable_from_a_root():
    """Code that nothing calls is deleted: every package module must be
    imported, transitively, from the query registry, the pipeline driver,
    the CLI, the driver contract (``__spark_entry__.py``) or perfbench.
    Walks the import graph with ``ast`` (no imports executed); importing
    a module also runs every enclosing package ``__init__.py``."""
    from pathlib import Path

    repo = Path(entry.__file__).parent
    pkg = "docling_japanese_books_spark"
    files = {}  # dotted module name -> (path, is_package)
    for p in (repo / pkg).rglob("*.py"):
        parts = list(p.relative_to(repo).with_suffix("").parts)
        is_pkg = parts[-1] == "__init__"
        files[".".join(parts[:-1] if is_pkg else parts)] = (p, is_pkg)

    roots = [
        (repo / "__spark_entry__.py", "__spark_entry__"),
        *((p, f"perfbench.{p.stem}") for p in sorted((repo / "perfbench").glob("*.py"))),
    ]
    todo = [f"{pkg}.queries", f"{pkg}.pipeline.driver", f"{pkg}.__main__"]
    for path, name in roots:
        todo += _package_imports(path, name, False, pkg)
    seen = set()
    while todo:
        mod = todo.pop()
        if mod in seen or mod not in files:
            continue
        seen.add(mod)
        # an import runs the enclosing packages' __init__ first
        parent = mod.rpartition(".")[0]
        if parent:
            todo.append(parent)
        path, is_pkg = files[mod]
        todo += _package_imports(path, mod, is_pkg, pkg)

    unreached = sorted(
        str(path.relative_to(repo / pkg))
        for mod, (path, is_pkg) in files.items()
        if not is_pkg and mod not in seen
    )
    assert not unreached, f"modules no root reaches: {unreached}"


def test_no_package_module_caches_a_frame():
    """A query body or pipeline call only returns a plan. ``persist()`` or
    ``cache()`` in package code registers a session-wide CacheManager entry
    that outlives the call, and a later rebuild of the same plan then skips
    its UDF stages. A frame several plan branches read is materialized with
    a lazy ``localCheckpoint`` instead, which belongs to its plan. Walks
    every package module with ``ast`` (no imports executed)."""
    import ast
    from pathlib import Path

    pkg = Path(entry.__file__).parent / "docling_japanese_books_spark"
    offenders = {}
    for p in sorted(pkg.rglob("*.py")):
        calls = sorted(
            {
                node.func.attr
                for node in ast.walk(ast.parse(p.read_text(), str(p)))
                if isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("persist", "cache", "unpersist")
            }
        )
        if calls:
            offenders[str(p.relative_to(pkg))] = calls
    assert not offenders, f"session caches in package code: {offenders}"


def test_query_and_curate_runs_leave_no_cache(spark):
    """Honest reps: two build-and-run reps of ``dedup_minhash_lsh`` and one
    ``curate_corpus`` call leave the session's CacheManager empty, and the
    second query rep recomputes its signatures. Its executed plan holds no
    InMemory relation, and no Python eval either: the signature UDF runs
    below the plan's own checkpoint, not over a cached plan."""
    from docling_japanese_books_spark.pipeline.curate import curate_corpus

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    results = []
    for _ in range(2):
        df = entry.queries()["dedup_minhash_lsh"](spark, SF)
        results.append(sorted(df.collect()))
        assert cache.isEmpty()
    assert results[0] == results[1]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemory" not in plan and "ArrowEvalPython" not in plan, plan

    text = (
        "the quick brown fox jumps over the lazy dog and it was a fine day "
        "in the park where the children played"
    )
    rows = [(f"https://c/{i}", text + (" again" if i == 2 else ""), "en") for i in range(4)]
    pages = spark.createDataFrame(rows, "url string, text string, lang string")
    curated, report = curate_corpus(pages, min_quality=0.0, min_chars=1)
    assert cache.isEmpty()
    assert report.rows_after_near_dedup == curated.count() == 1


def test_scan_memo_sees_a_file_rewritten_in_session(spark, tmp_path):
    """``t()`` memoizes resolved scans per session, keyed by the file's
    (st_mtime_ns, st_size): a parquet rewritten in the same session must be
    resolved again and read with its new rows, while an unchanged file
    keeps its memoized frame."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from docling_japanese_books_spark.queries.relational import t

    path = tmp_path / "docs.parquet"
    pq.write_table(pa.table({"doc_id": [1, 2, 3]}), path)
    first = t(spark, str(tmp_path), "docs")
    assert first.count() == 3
    assert t(spark, str(tmp_path), "docs") is first

    pq.write_table(pa.table({"doc_id": [10, 20, 30, 40, 50]}), path)
    again = t(spark, str(tmp_path), "docs")
    assert again is not first
    assert sorted(r.doc_id for r in again.collect()) == [10, 20, 30, 40, 50]
