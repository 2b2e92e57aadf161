"""No dead library code: every top-level function and class of the
package must be referenced somewhere in the repository's Python files
(library, tests, benchmarks, scripts) besides its own definition.

A reference is any identifier, attribute, imported name or identifier-
shaped string constant (for getattr-style lookups) equal to the name;
mentions in comments and docstrings do not count.
"""

import ast
import subprocess
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "docling_fast_server_spark"


def _py_files() -> list[Path]:
    try:
        out = subprocess.run(
            ["git", "ls-files", "--cached", "--others", "--exclude-standard", "*.py"],
            cwd=ROOT, capture_output=True, text=True, check=True,
        ).stdout.split()
        return [ROOT / f for f in out if (ROOT / f).exists()]
    except (OSError, subprocess.CalledProcessError):  # not a git checkout
        return [
            p for p in ROOT.rglob("*.py")
            if not any(q.startswith(".") for q in p.relative_to(ROOT).parts)
        ]


def _refs(tree: ast.AST) -> Counter:
    refs: Counter = Counter()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            refs[n.id] += 1
        elif isinstance(n, ast.Attribute):
            refs[n.attr] += 1
        elif isinstance(n, ast.alias):
            refs[n.name.rsplit(".", 1)[-1]] += 1
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            refs[n.value] += 1
    return refs


def test_no_unreferenced_library_definitions():
    refs: Counter = Counter()
    defs = []  # (location, name, references inside its own definition)
    for path in _py_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        refs.update(_refs(tree))
        rel = path.relative_to(ROOT)
        if rel.parts[0] == PACKAGE:
            defs += [
                (f"{rel}:{n.lineno}", n.name, _refs(n)[n.name])
                for n in tree.body
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            ]
    assert len(defs) > 100, "library scan found too few definitions"
    dead = [f"{where} {name}" for where, name, own in defs if refs[name] == own]
    assert not dead, "unreferenced library definitions:\n" + "\n".join(dead)


# Public entry points that only the test suite exercises today. A name
# joins this set only as public API; a slow reference build of a hot path
# kept just so a test can diff against it does not belong in the library
# (differentials compare an engine route with the DuckDB oracle or with
# the engine's other route).
TEST_ONLY_PUBLIC_API = {
    "bucketed_join",
    "dedup_survivors",
    "expire_snapshots",
    "extract_doctags",
    "extract_html_export",
    "extract_json",
    "extract_markdown",
    "extract_pdf_document",
    "list_snapshots",
    "overwrite_table",
    "read_export_spans",
    "read_table_asof",
    "remove_orphan_staging",
    "rollback_table",
    "run_dedup",
    "salted_join",
    "spread_by_size",
    "stateful_sessionize",
    "stream_extract",
    "streaming_dedup_exact",
    "windowed_method_counts",
    "write_bucketed",
    "write_exports_partitioned",
}


def test_no_library_definition_called_only_by_tests():
    """The top-level library definitions referenced from tests/ and from
    nowhere else (the package, scripts, perfbench/ and bench*.py all
    count as real callers) are exactly TEST_ONLY_PUBLIC_API."""
    real: Counter = Counter()
    in_tests: Counter = Counter()
    defs = []  # (name, references inside its own definition)
    for path in _py_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        rel = path.relative_to(ROOT)
        (in_tests if rel.parts[0] == "tests" else real).update(_refs(tree))
        if rel.parts[0] == PACKAGE:
            defs += [
                (n.name, _refs(n)[n.name])
                for n in tree.body
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            ]
    test_only = {name for name, own in defs if real[name] == own and in_tests[name]}
    assert test_only == TEST_ONLY_PUBLIC_API, (
        f"called only from tests, not listed: {sorted(test_only - TEST_ONLY_PUBLIC_API)}; "
        f"listed, but no longer test-only: {sorted(TEST_ONLY_PUBLIC_API - test_only)}"
    )


def test_spans_column_made_in_one_place():
    """The Arrow spans column is assembled in one place:
    pa.ListArray/StructArray.from_arrays are called only inside
    model.spans_array."""
    sites = []
    for path in sorted((ROOT / PACKAGE).rglob("*.py")):
        rel = str(path.relative_to(ROOT))
        for top in ast.parse(path.read_text(), filename=rel).body:
            for n in ast.walk(top):
                f = n.func if isinstance(n, ast.Call) else None
                if (
                    isinstance(f, ast.Attribute)
                    and f.attr == "from_arrays"
                    and isinstance(f.value, ast.Attribute)
                    and f.value.attr in ("ListArray", "StructArray")
                ):
                    sites.append((rel, getattr(top, "name", None), f.value.attr))
    assert sorted(sites) == [
        (f"{PACKAGE}/model.py", "spans_array", "ListArray"),
        (f"{PACKAGE}/model.py", "spans_array", "StructArray"),
    ], sites


def test_one_degrade_loop():
    """Only the dispatch kernel turns a document's exception into a
    `failed` row: METHOD_FAILED is referenced in the package only where
    it is defined (model.py) and in operators/dispatch.py."""
    sites = set()
    for path in sorted((ROOT / PACKAGE).rglob("*.py")):
        if "METHOD_FAILED" in _refs(ast.parse(path.read_text(), filename=str(path))):
            sites.add(str(path.relative_to(ROOT)))
    assert sites == {f"{PACKAGE}/model.py", f"{PACKAGE}/operators/dispatch.py"}, sites


def test_pandas_map_only_in_the_fixture_writer():
    """The package's kernels run over Arrow batches: .mapInPandas( is
    called only inside binary_pack.pack_raw, the fixture writer that
    makes the bytes path's input."""
    sites = []
    for path in sorted((ROOT / PACKAGE).rglob("*.py")):
        rel = str(path.relative_to(ROOT))
        for top in ast.parse(path.read_text(), filename=rel).body:
            for n in ast.walk(top):
                f = n.func if isinstance(n, ast.Call) else None
                if isinstance(f, ast.Attribute) and f.attr == "mapInPandas":
                    sites.append((rel, getattr(top, "name", None)))
    assert sites == [(f"{PACKAGE}/sources/binary_pack.py", "pack_raw")], sites
