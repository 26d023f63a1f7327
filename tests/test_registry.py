"""Registry-integrity meta-tests: the driver's correctness gate hashes
Spark and oracle results after sorting columns BY NAME, so a column-name
mismatch between a query and its oracle SQL silently degrades into a
schema-mismatch red row. These tests catch that class statically — every
oracle's projected column names must equal the Spark DataFrame's columns —
plus basic registry hygiene (unique names, known survey-ID shapes)."""

from __future__ import annotations

import re

import duckdb
import pytest

from apache_spark_streaming_project_spark.entry_queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents"
    " embeddings"
).split()

# These queries EXECUTE inside their builder (streaming drains over temp
# checkpoints) — their oracles are exercised end-to-end by the oracle gate
# instead of schema-compared here.
EXECUTING = {
    "m3_streaming_parity",
    "m3_simulator_contract",
    "m5_stream_stream_join",
    "m5_stream_stream_left_outer",
    "m6_streaming_dedup",
    "m7_streaming_sessions",
    "m12_streaming_sessions",
    "m13_streaming_kmv",
    "m14_streaming_lsh_dedup",
    "m8_streaming_tumbling",
    "m4_stateful_running_anomalies",
    "j5_bucketed_cojoin",
}


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


def test_names_unique_and_sane():
    assert len(QUERIES) == len(set(QUERIES))
    for name in QUERIES:
        assert re.fullmatch(r"[a-z0-9_]+", name), name


def test_survey_ids_match_known_families():
    pat = re.compile(r"(S\d+|G\d+|D\d+a?|X\d+|M\d+|§[\d.]+)")
    for name, spec in QUERIES.items():
        for sid in spec.survey_ids:
            assert pat.fullmatch(sid), (name, sid)


def test_oracle_columns_match_spark_columns(spark, duck):
    """For every oracle-bearing, non-executing query: DuckDB's projected
    column names (DESCRIBE, no execution) must equal the Spark schema's
    columns as a set — the exact precondition of the driver's
    sorted-by-name value hash."""
    mismatches = []
    for name, spec in QUERIES.items():
        if spec.sql is None or name in EXECUTING:
            continue
        oracle_cols = [r[0] for r in duck.execute(
            f"DESCRIBE {spec.sql}"
        ).fetchall()]
        spark_cols = spec.fn(spark, SF_DIR).columns
        if sorted(oracle_cols) != sorted(spark_cols):
            mismatches.append((name, sorted(oracle_cols), sorted(spark_cols)))
    assert not mismatches, mismatches


def test_mutation_catalog_is_not_stale():
    """Every mutation-audit catalog entry must still match the source it
    targets (three entries went silently stale across refactors before
    round 11; this pins the static check into the suite)."""
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    r = subprocess.run(
        [sys.executable, str(repo / "tools" / "mutation_audit.py"), "--check"],
        capture_output=True,
        text=True,
    )
    if r.returncode == 2:
        # Distinct skip code: a full audit is live and sources are
        # transiently mutated. Mapping this to SKIPPED (not PASSED)
        # keeps the gate honest — rc 0 now always means "checked clean".
        pytest.skip("full mutation audit in progress: " + r.stdout.strip())
    assert r.returncode == 0, r.stdout + r.stderr


def _stale_package_calls(paths):
    """(file:line, problem) for every package name a script imports that
    no longer exists, and every keyword it passes to an imported package
    callable (``name(...)`` or ``module_alias.name(...)``) that the
    callable's signature does not accept."""
    import ast
    import importlib
    import inspect

    pkg = "apache_spark_streaming_project_spark"
    problems = []
    for path in paths:
        tree = ast.parse(path.read_text(), str(path))
        bound: dict[str, list] = {}
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.ImportFrom)
                and node.level == 0
                and (node.module or "").split(".")[0] == pkg
            ):
                continue
            mod = importlib.import_module(node.module)
            for a in node.names:
                if hasattr(mod, a.name):
                    obj = getattr(mod, a.name)
                else:
                    try:
                        obj = importlib.import_module(f"{node.module}.{a.name}")
                    except ImportError:
                        problems.append(
                            (f"{path.name}:{node.lineno}",
                             f"{node.module} has no {a.name}")
                        )
                        continue
                bound.setdefault(a.asname or a.name, []).append(obj)

        def targets(func):
            if isinstance(func, ast.Name):
                return func.id, bound.get(func.id, [])
            if isinstance(func, ast.Attribute) and isinstance(func.value, ast.Name):
                mods = [
                    m for m in bound.get(func.value.id, [])
                    if inspect.ismodule(m)
                ]
                name = f"{func.value.id}.{func.attr}"
                if mods and not any(hasattr(m, func.attr) for m in mods):
                    problems.append((f"{path.name}:{func.lineno}", f"no {name}"))
                return name, [getattr(m, func.attr) for m in mods
                              if hasattr(m, func.attr)]
            return None, []

        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            name, objs = targets(node.func)
            sigs = []
            for o in objs:
                try:
                    sigs.append(inspect.signature(o).parameters)
                except (TypeError, ValueError):
                    pass  # not a callable with an inspectable signature
            if not sigs or any(
                p.kind is p.VAR_KEYWORD for ps in sigs for p in ps.values()
            ):
                continue
            for kw in node.keywords:
                if kw.arg is not None and not any(kw.arg in ps for ps in sigs):
                    problems.append(
                        (f"{path.name}:{node.lineno}",
                         f"{name}() takes no keyword {kw.arg!r}")
                    )
    return problems


def test_tools_and_perfbench_call_live_package_signatures():
    """Scripts under tools/ and perfbench/ are not imported by the suite,
    so an option deleted from a package function would leave a script
    that fails only when someone next runs it: every package name they
    import must exist and every keyword they pass must be accepted."""
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    paths = sorted([*repo.glob("tools/*.py"), *repo.glob("perfbench/*.py")])
    assert paths
    assert _stale_package_calls(paths) == []


def test_mutation_audit_arguments_and_partial_results(tmp_path):
    """An argument that is neither an sf directory nor a catalog id
    exits 2 before Spark starts and leaves the results file alone; a run
    of named mutations replaces only their entries in it."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    results = repo / "tools" / "mutation_audit_results.json"
    before = results.read_bytes()
    for args in (["--help"], ["no_such_mutation"], ["/no/such/sf"]):
        r = subprocess.run(
            [sys.executable, str(repo / "tools" / "mutation_audit.py"), *args],
            capture_output=True,
            text=True,
        )
        assert r.returncode == 2, (args, r.stdout + r.stderr)
        assert "Usage:" in r.stderr
    assert results.read_bytes() == before

    sys.path.insert(0, str(repo / "tools"))
    import mutation_audit as audit

    a, b = (dict(m, status="ok", killed=True) for m in audit.MUTATIONS[:2])
    out = tmp_path / "results.json"
    audit.write_results(out, "sf", [a, b], partial=False)
    audit.write_results(out, "sf", [dict(b, killed=False)], partial=True)
    got = json.loads(out.read_text())
    assert [r["killed"] for r in got["results"]] == [True, False]
    assert got["kill_rate"] == "1/2"
    audit.write_results(out, "other_sf", [dict(a, killed=False)], partial=True)
    assert json.loads(out.read_text()) == got
