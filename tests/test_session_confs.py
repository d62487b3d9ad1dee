"""Pin the r13 ensure_engine_confs memoization: first call pins the
required runtime confs, later calls are free no-ops, and a child session
(spark.newSession(), used by q_recursive_cte) is pinned independently.

Also pins the package shipping done by get_spark (the CLI works from any
cwd) and the zip-index guard installed when the package is imported."""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import tempfile
import zipfile
import zipimport

from project_market_pulse_etl_pipeline_with_llm_integration_spark import session as S
from project_market_pulse_etl_pipeline_with_llm_integration_spark.session import (
    _PINNED,
    ensure_engine_confs,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_ensure_engine_confs_pins_and_memoizes(spark):
    ensure_engine_confs(spark)
    assert spark in _PINNED
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.ansi.enabled") == "false"
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    # memoized: the second call must not re-enter the slow path — it
    # returns the same session without touching conf (observable as: it
    # does not clobber a conf a caller changed in between; the memo is
    # per-object so correctness of the three required confs is the
    # caller's responsibility after deliberate mutation)
    assert ensure_engine_confs(spark) is spark


def test_child_session_pinned_independently(spark):
    ensure_engine_confs(spark)
    child = spark.newSession()
    assert child not in _PINNED  # new object, not yet pinned
    ensure_engine_confs(child)
    assert child in _PINNED
    assert child.conf.get("spark.sql.session.timeZone") == "UTC"


def test_get_spark_ships_package_once_per_context(spark):
    assert spark.sparkContext in S._SHIPPED
    includes = list(spark.sparkContext._python_includes)
    S._ship_package(spark)
    assert spark.sparkContext._python_includes == includes  # not re-added
    zip_path = S._package_zip()
    assert os.path.basename(zip_path) in includes
    assert os.path.dirname(zip_path) == tempfile.gettempdir()
    with zipfile.ZipFile(zip_path) as zf:
        assert any(n.endswith("/operators/enrich.py") for n in zf.namelist())


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def _count_reads(monkeypatch, archive: str) -> list[str]:
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def _forget(archive: str, *modules: str) -> None:
    sys.path_importer_cache.pop(archive, None)
    for m in modules:
        sys.modules.pop(m, None)


def test_invalidate_caches_skips_unchanged_zip(tmp_path, monkeypatch):
    archive = str(tmp_path / "unchanged.zip")
    _write_zip(archive, {"mp_zipguard_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        import mp_zipguard_a  # noqa: F401  (creates the zipimporter)

        assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
        importlib.invalidate_caches()  # an importer's first call may read
        reads = _count_reads(monkeypatch, archive)
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []
    finally:
        _forget(archive, "mp_zipguard_a")


def test_invalidate_caches_rereads_zip_rewritten_in_place(tmp_path, monkeypatch):
    archive = str(tmp_path / "rewritten.zip")
    _write_zip(archive, {"mp_zipguard_b": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    try:
        import mp_zipguard_b  # noqa: F401

        importlib.invalidate_caches()
        inode = os.stat(archive).st_ino
        _write_zip(archive, {"mp_zipguard_b": "X = 1\n", "mp_zipguard_c": "Y = 2\n"})
        assert os.stat(archive).st_ino == inode  # same file, new contents
        importlib.invalidate_caches()
        assert importlib.import_module("mp_zipguard_c").Y == 2
    finally:
        _forget(archive, "mp_zipguard_b", "mp_zipguard_c")


def test_zip_index_guard_idempotent():
    before = zipimport.zipimporter.invalidate_caches
    S._guard_zip_index()
    S._guard_zip_index()
    assert zipimport.zipimporter.invalidate_caches is before
    assert getattr(before, "stat_guarded", False) == (sys.version_info < (3, 13))


def test_python_worker_has_zip_index_guard(spark):
    import pandas as pd

    def report(batches):
        import sys as _sys
        import zipimport as _zi

        S  # noqa: B018  (the engine module rides the closure, as in engine UDFs)
        for _ in batches:
            yield pd.DataFrame({
                "guarded": [bool(getattr(_zi.zipimporter.invalidate_caches, "stat_guarded", False))],
                "py_minor": [_sys.version_info[1]],
                "py_major": [_sys.version_info[0]],
            })

    rows = (
        spark.range(1, numPartitions=1)
        .mapInPandas(report, "guarded boolean, py_minor int, py_major int")
        .collect()
    )
    assert rows
    for r in rows:
        assert r.guarded == ((r.py_major, r.py_minor) < (3, 13))


def test_cli_runs_outside_the_repo_root(tmp_path, news_jsonl):
    """The CLI ships the package itself: enrich's Python workers import it
    with a cwd that does not hold the package.  PYTHONPATH would reach the
    workers and hide a missing ship, so the repo goes on the driver's
    sys.path only."""
    script = (
        "import glob, json, sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from project_market_pulse_etl_pipeline_with_llm_integration_spark import cli, session\n"
        f"rc_clean = cli.main(['clean', {news_jsonl!r}, 'clean'])\n"
        "src = glob.glob('clean/*.parquet')\n"
        "rc_enrich = cli.main(['enrich', src[0] if src else 'missing', 'enr', '--rate', '0'])\n"
        "print(json.dumps({'clean': rc_clean, 'enrich': rc_enrich, 'zip': session._PKG_ZIP}))\n"
    )
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(DISABLE_LLM="1", TMPDIR=str(tmp), SPARK_GRAFT_CPUS="2",
               SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["clean"] == 0, proc.stdout[-3000:]
    assert out["enrich"] == 0, proc.stdout[-3000:]
    assert os.path.dirname(out["zip"]) == str(tmp)  # honours TMPDIR
    assert not os.path.exists(out["zip"])  # removed at exit
