"""Docs stay in step with the code: every registered query appears, by
name, in COVERAGE.md (a registry append without its evidence row fails
the suite), and every repo file that a doc or a source names exists.
"""

from __future__ import annotations

import importlib.util
import os
import re

from http_datafusion_spark.plans.registry import PRIORITY, all_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _read(name: str) -> str:
    with open(os.path.join(REPO, name)) as fh:
        return fh.read()


def test_every_registry_query_has_a_coverage_row():
    """FREEZE RULE: no registry append without a COVERAGE.md mention.

    The check is a word-boundary name match anywhere in the document —
    COVERAGE.md lists queries inline in prose and tables, not one
    format; a query appended without documentation appears nowhere."""
    cov = _read("COVERAGE.md")
    missing = [
        name
        for name in sorted(all_queries())
        if not re.search(rf"\b{re.escape(name)}\b", cov)
    ]
    assert not missing, (
        f"{len(missing)} registry queries have no COVERAGE.md row "
        f"(freeze rule: document BEFORE the snapshot commit): {missing}"
    )


def test_coverage_headline_count_matches_registry():
    """The headline '**N registry queries' claim must equal the actual
    registry size."""
    cov = _read("COVERAGE.md")
    m = re.search(r"\*\*(\d+) registry queries", cov)
    assert m, "COVERAGE.md headline count not found"
    assert int(m.group(1)) == len(all_queries()), (
        f"COVERAGE.md claims {m.group(1)} queries; registry holds "
        f"{len(all_queries())} — update the headline with the append"
    )


def test_priority_window_names_resolve():
    """Every PRIORITY entry must be a registered query (a typo here
    silently shrinks the driver window)."""
    qs = all_queries()
    unknown = [p for p in PRIORITY if p not in qs]
    assert not unknown, f"PRIORITY names not in registry: {unknown}"


_SKIP_DIRS = {"__pycache__", "_work", "spark-warehouse", "metastore_db"}


def _repo_files() -> list[str]:
    """Repo-relative paths of the files on disk, without caches, run
    output and hidden directories other than .claude."""
    out = []
    for d, dirs, files in os.walk(REPO):
        dirs[:] = [x for x in dirs if x not in _SKIP_DIRS and (x == ".claude" or not x.startswith("."))]
        out += [os.path.relpath(os.path.join(d, f), REPO) for f in files]
    return out


def test_tools_and_bench_load_as_modules():
    """Every script under tools/ and bench.py imports cleanly: its top
    level only sets up ``sys.path`` and defines names, and ``main`` does
    not run on import."""
    scripts = sorted(f for f in _repo_files() if f.startswith("tools/") and f.endswith(".py"))
    assert scripts, "no tools found"
    for rel in [*scripts, "bench.py"]:
        spec = importlib.util.spec_from_file_location(f"_load_{os.path.basename(rel)[:-3]}", os.path.join(REPO, rel))
        module = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(module)


# A repo path named in prose: a file name (no dot before the extension,
# not called like ``resp.json()``), optionally under directories.
# Reference-source citations (src/...), absolute paths and paths inside
# installed packages are not repo paths.
_PATH_REF = re.compile(r"(?<![\w/.:-])((?:[\w.-]+/)*[\w-]+\.(?:py|md|json))\b(?!\()")
_DOCS = ("README.md", "SURVEY.md", "COVERAGE.md", "FIXTURES.md", "TESTDATA.md", "BASELINE.md",
         ".claude/skills/verify/SKILL.md")


def _installed_elsewhere(path: str) -> bool:
    top = path.split("/", 1)[0]
    if "/" not in path or os.path.exists(os.path.join(REPO, top)):
        return False
    try:
        return importlib.util.find_spec(top) is not None
    except (ImportError, ValueError):
        return False


def test_repo_paths_named_in_docs_and_code_exist():
    """Every repo file a document or a package/test/tool source names
    still exists. A path with directories may be given relative to the
    repo root or to any directory in it (``plans/registry.py``); a bare
    file name must name some file in the repo."""
    files = _repo_files()
    sources = [*_DOCS, *(f for f in files if f.endswith(".py") and f.split("/", 1)[0] in
                         ("http_datafusion_spark", "tests", "tools"))]
    missing = []
    for src in sources:
        for ref in sorted(set(_PATH_REF.findall(_read(src)))):
            if ref.startswith("src/") or _installed_elsewhere(ref):
                continue
            if not any(f == ref or f.endswith("/" + ref) for f in files):
                missing.append(f"{src}: {ref}")
    assert not missing, f"paths named but not in the repo: {missing}"
