"""Scratch storage has two rules (plans/tables.py): a layout derived
from source tables comes from ``derived_dir``, built once per session
and source fingerprint; storage for one run is a ``TemporaryDirectory``.
These tests pin the rule's properties: one build under concurrency, a
fresh build after the source changes, and no third rule in the package.
"""

from __future__ import annotations

import ast
import os
import pathlib
import shutil
import sys
import threading
import time
import types
from concurrent.futures import ThreadPoolExecutor

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from http_datafusion_spark.plans.compare import compare_query
from http_datafusion_spark.plans.registry import all_queries
from http_datafusion_spark.plans.tables import TABLES, derived_dir

PKG = pathlib.Path(__file__).parent.parent / "http_datafusion_spark"


def _copy_sf(src: str, dst: pathlib.Path) -> str:
    """A writable copy of an sf dir: a new sf_dir, so every derived
    layout over it is built afresh in this session."""
    dst.mkdir()
    for t in TABLES:
        path = os.path.join(src, f"{t}.parquet")
        if os.path.exists(path):
            shutil.copyfile(path, dst / f"{t}.parquet")
    return str(dst)


def test_derived_dir_builds_once_for_concurrent_callers(tmp_path):
    # derived_dir needs only the session's __dict__ and conf.set
    spark = types.SimpleNamespace(conf=types.SimpleNamespace(set=lambda k, v: None))
    started, release = threading.Event(), threading.Event()
    builds: list[str] = []

    def slow_build(path: str) -> None:
        builds.append(path)
        started.set()
        assert release.wait(30)
        (pathlib.Path(path) / "complete").write_text("ok")

    key = (spark, "test_slow", str(tmp_path), ("documents",))
    with ThreadPoolExecutor(2) as ex:
        first = ex.submit(derived_dir, *key, slow_build)
        assert started.wait(30)
        second = ex.submit(derived_dir, *key, slow_build)
        # another layout builds while the first is still blocked
        other = derived_dir(spark, "test_other", str(tmp_path), ("documents",), lambda p: None)
        assert os.path.isdir(other)
        time.sleep(0.5)  # the second caller is now waiting on the first build
        assert not second.done()
        release.set()
        paths = {first.result(30), second.result(30)}
    assert len(builds) == 1
    assert paths == {builds[0]}
    (path,) = paths
    assert (pathlib.Path(path) / "complete").read_text() == "ok"
    assert str(os.getpid()) not in path
    assert derived_dir(*key, slow_build) == path and len(builds) == 1


def test_derived_dir_one_build_per_key_under_contention(tmp_path):
    spark = types.SimpleNamespace(conf=types.SimpleNamespace(set=lambda k, v: None))
    builds: dict[str, int] = {}
    count_lock = threading.Lock()

    def build_for(kind: str):
        def build(path: str) -> None:
            with count_lock:
                builds[kind] = builds.get(kind, 0) + 1
            time.sleep(0.01)

        return build

    kinds = [f"test_k{i}" for i in range(4)]
    calls = [kinds[i % len(kinds)] for i in range(64)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as ex:
            futures = [
                ex.submit(derived_dir, spark, k, str(tmp_path), ("documents",), build_for(k))
                for k in calls
            ]
            paths = [f.result(60) for f in futures]
    finally:
        sys.setswitchinterval(old)
    assert builds == dict.fromkeys(kinds, 1)
    by_kind = {k: {p for c, p in zip(calls, paths) if c == k} for k in kinds}
    assert all(len(ps) == 1 for ps in by_kind.values())
    assert len(set(paths)) == len(kinds)


@pytest.mark.parametrize("name", ["text_inverted_index_roundtrip", "corpus_build_roundtrip"])
def test_store_query_is_oracle_equal_on_concurrent_threads(spark, sf_dir, tmp_path, name):
    sf = _copy_sf(sf_dir, tmp_path / "sf")
    spec = all_queries()[name]
    with ThreadPoolExecutor(2) as ex:
        results = list(ex.map(lambda _: compare_query(spark, spec, sf), range(2)))
    for res in results:
        assert res.ok and res.exact, res.detail


def test_staged_stream_follows_a_rewritten_source(spark, sf_dir, tmp_path):
    sf = _copy_sf(sf_dir, tmp_path / "sf")
    spec = all_queries()["stream_rate_limited"]
    before = compare_query(spark, spec, sf)
    assert before.ok and before.exact, before.detail
    events = os.path.join(sf, "events.parquet")
    t = pq.read_table(events)
    pq.write_table(t.filter(pc.equal(pc.bit_wise_and(t["event_id"], 1), 0)), events)
    assert 0 < pq.read_metadata(events).num_rows < t.num_rows
    after = compare_query(spark, spec, sf)
    assert after.ok and after.exact, after.detail


def test_scratch_storage_has_two_rules():
    """No marker-file staging, per-pid path or hand-made temp dir in the
    package: derived layouts go through plans/tables.derived_dir, which
    alone makes and names temp dirs, and run-scoped dirs are
    TemporaryDirectory blocks."""
    files = {str(f.relative_to(PKG)): f.read_text() for f in sorted(PKG.rglob("*.py"))}
    assert "plans/tables.py" in files
    found = []
    for rel, src in files.items():
        for word in ("_STAGED", "_DONE", "scratch_path", "getpid"):
            if word in src:
                found.append((rel, word))
        for node in ast.walk(ast.parse(src)):
            if (
                isinstance(node, ast.Attribute)
                and node.attr in ("mkdtemp", "gettempdir", "mkstemp")
                and rel != "plans/tables.py"
            ):
                found.append((rel, node.attr))
    assert found == []
