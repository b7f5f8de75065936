"""Registry consistency: the registry holds exactly the six extraction
entries, every query callable builds its plan without running a job and
reads only the `documents` table, every oracle parses in DuckDB against
that table's schema, the rows-only set is exactly the documented pair of
e2e extraction entries (whose gate is the pytest span-equality suite,
not SQL), every package module is imported from a non-test entry
point, every public operator function is named by one, every package
function, class and constant is named somewhere, and the extraction
and streaming-extraction paths do not import the registry."""

import ast
import subprocess
import sys
from collections import Counter
from pathlib import Path

import duckdb

from high_performance_docling_spark.entry_queries import ORACLES, QUERIES

SF = "/root/testdata/sf0.001"
TABLES = ["documents"]
DOCS_PATH = f"{SF}/documents.parquet"
ROWS_ONLY_ALLOWED = {"extract_spans_e2e", "extract_spans_ocr_e2e"}
EXTRACTION_ENTRIES = ROWS_ONLY_ALLOWED | {
    "latexize_formulas", "export_markdown", "detect_format",
    "extract_html_spans",
}


def test_every_query_is_oracled_or_documented_rows_only():
    assert set(QUERIES) == EXTRACTION_ENTRIES
    assert set(ORACLES) <= set(QUERIES)
    rows_only = set(QUERIES) - set(ORACLES)
    assert rows_only == ROWS_ONLY_ALLOWED


def test_all_oracles_parse_in_duckdb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    for name, sql in ORACLES.items():
        try:
            con.execute(f"EXPLAIN {sql}")
        except Exception as e:  # pragma: no cover
            raise AssertionError(f"oracle for {name!r} failed to plan: {e}")


def test_registry_construction_runs_no_jobs(spark):
    """Every query builds lazily: no .first()/.collect() hidden in plan
    construction."""
    sc = spark.sparkContext
    # warm the per-table parquet footer schema-inference job (memoized
    # in util.read_table) so it can't be mistaken for a query action
    from high_performance_docling_spark.entry_queries import _t

    for t in TABLES:
        _t(spark, SF, t)
    for name, fn in QUERIES.items():
        group = f"registry-build-{name}"
        sc.setJobGroup(group, name)
        try:
            df = fn(spark, SF)
        finally:
            sc.setJobGroup("", "")
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        # the registry reads the documents table and nothing else
        stray = [f for f in df.inputFiles() if DOCS_PATH not in f]
        assert not stray, f"{name} reads {stray}"
        assert not jobs, (
            f"{name} ran {len(jobs)} Spark job(s) during plan construction"
        )


REPO = Path(__file__).resolve().parent.parent
PKG = "high_performance_docling_spark"


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in (REPO / PKG).rglob("*.py"):
        parts = path.relative_to(REPO).with_suffix("").parts
        mods[".".join(parts[:-1] if parts[-1] == "__init__" else parts)] = path
    return mods


def _imported_names(path: Path, module: str | None) -> set[str]:
    """Every dotted name an import statement in ``path`` can bind, with
    relative imports resolved against ``module`` (function-local imports
    included)."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = module.split(".")
                if path.name != "__init__.py":
                    pkg = pkg[:-1]
                pkg = pkg[: len(pkg) - node.level + 1]
                base = ".".join(pkg + ([node.module] if node.module else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def test_every_package_module_is_reachable_from_a_non_test_root():
    """A module that only tests import is dead weight: the family it
    served was deleted, or it never had a caller."""
    mods = _package_modules()
    seen = {f"{PKG}.{m}" for m in ("pipeline", "oracle", "entry_queries")}
    todo = [(mods[m], m) for m in seen] + [
        (path, None)
        for path in [REPO / "__spark_entry__.py",
                     *(REPO / "jobs").glob("*.py"),
                     *(REPO / "scripts").glob("*.py")]
    ]
    while todo:
        path, module = todo.pop()
        for name in _imported_names(path, module):
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                m = ".".join(parts[:i])
                if m in mods and m not in seen:
                    seen.add(m)
                    todo.append((mods[m], m))
    assert sorted(set(mods) - seen) == []


def _names_used(tree: ast.AST) -> Counter:
    """Every name ``tree`` uses: ``Name`` ids, ``Attribute`` attributes
    and ``ImportFrom`` aliases."""
    named = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            named[node.id] += 1
        elif isinstance(node, ast.Attribute):
            named[node.attr] += 1
        elif isinstance(node, ast.ImportFrom):
            named.update(a.name for a in node.names)
    return named


def test_every_public_operator_function_has_a_non_test_caller():
    """A public operator function that only tests name is dead weight,
    like a test-only module: cutting a family must take its helpers."""
    defined = [
        (path.name, node.name)
        for path in sorted((REPO / PKG / "operators").glob("*.py"))
        for node in ast.parse(path.read_text()).body
        if isinstance(node, ast.FunctionDef) and not node.name.startswith("_")
    ]
    named = Counter()
    for path in [*_package_modules().values(), REPO / "__spark_entry__.py",
                 *(REPO / "jobs").glob("*.py"),
                 *(REPO / "scripts").glob("*.py")]:
        named += _names_used(ast.parse(path.read_text()))
    assert [f"{mod}:{fn}" for mod, fn in defined if fn not in named] == []


def _defined_names(node: ast.stmt) -> list[str]:
    """The names a module-level statement defines: a function, a class,
    or the plain-name targets of an assignment (dunders such as
    ``__all__`` excepted)."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    targets = (node.targets if isinstance(node, ast.Assign)
               else [node.target] if isinstance(node, ast.AnnAssign) else [])
    return [t.id for t in targets
            if isinstance(t, ast.Name) and not t.id.startswith("__")]


def test_every_package_function_and_class_is_named_somewhere():
    """A module-level function, class or constant that nothing names,
    not even a test, is dead code. A name used only inside its own
    definition (a recursive call, or the assignment itself) does not
    count."""
    trees = {
        path: ast.parse(path.read_text())
        for path in [*_package_modules().values(), *REPO.glob("*.py"),
                     *(REPO / "jobs").glob("*.py"),
                     *(REPO / "scripts").glob("*.py"),
                     *(REPO / "tests").rglob("*.py"),
                     *(REPO / "perfbench").rglob("*.py")]
    }
    named = Counter()
    for tree in trees.values():
        named += _names_used(tree)
    unnamed = [
        f"{path.relative_to(REPO / PKG)}:{name}"
        for path in _package_modules().values()
        for node in trees[path].body
        for name in _defined_names(node)
        if named[name] == _names_used(node)[name]
    ]
    assert sorted(unnamed) == []


REGISTRY_MODULE = f"{PKG}.entry_queries"


def _loaded_package_modules(*modules: str) -> set[str]:
    """The package modules a fresh interpreter holds after importing
    ``modules``."""
    probe = (
        "import sys\n"
        f"import {', '.join(f'{PKG}.{m}' for m in modules)}\n"
        f"print(' '.join(m for m in sys.modules if m.startswith('{PKG}')))"
    )
    r = subprocess.run([sys.executable, "-c", probe], cwd=REPO,
                       capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, r.stderr[-2000:]
    return set(r.stdout.split())


def test_extraction_path_imports_no_curation_module():
    """What a Python worker loads for extraction (pipeline, oracle and
    the stage functions) stays clear of the query registry, and the
    streaming extraction that ``ingest_job
    --streaming`` and ``warc_job`` load adds only its own two modules,
    each checked in a fresh interpreter."""
    loaded = _loaded_package_modules("pipeline", "oracle", "operators.stages")
    assert f"{PKG}.operators.stages" in loaded
    assert REGISTRY_MODULE not in loaded
    streaming = _loaded_package_modules("streaming.extract")
    assert sorted(
        streaming - loaded - {f"{PKG}.streaming", f"{PKG}.streaming.extract"}
    ) == []
