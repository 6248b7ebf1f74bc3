"""The derived-artifact store (artifacts.py): memo hits, fingerprint
invalidation, the commit rule, rebuild of an externally-removed entry,
and a source guard that keeps the keying/naming/cleanup decision in
that one module. No Spark: the store only stats inputs and calls the
caller's build."""

from __future__ import annotations

import os
import re

import pytest

from spotify_podcasts_airflow_batch_spark import artifacts
from spotify_podcasts_airflow_batch_spark.artifacts import memo, store

MODULE = os.path.abspath(artifacts.__file__)
PKG = os.path.dirname(MODULE)


def _dataset(tmp_path) -> str:
    (tmp_path / "t.parquet").write_bytes(b"rows")
    return str(tmp_path)


def test_repeat_call_hits_memo(tmp_path):
    d = _dataset(tmp_path)
    builds = []

    def build():
        builds.append(1)
        return object()

    first = memo("t_obj", d, ("t",), build)
    assert memo("t_obj", d, ("t",), build) is first
    assert len(builds) == 1


def test_touched_input_recomputes(tmp_path):
    d = _dataset(tmp_path)
    first = memo("t_touch", d, ("t",), object)
    p = tmp_path / "t.parquet"
    st = p.stat()
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert memo("t_touch", d, ("t",), object) is not first


def test_failed_build_records_nothing(tmp_path):
    d = _dataset(tmp_path)
    seen = []

    def failing(path):
        seen.append(path)
        with open(os.path.join(path, "part"), "w") as fh:
            fh.write("half")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        store("t_fail", d, ("t",), failing)
    assert not os.path.exists(
        os.path.join(seen[0], artifacts._COMMIT_MARKER)
    )
    assert not any(k[1] == "t_fail" for k in artifacts._CACHE)

    def ok(path):
        seen.append(path)
        assert os.listdir(path) == []  # cleared before the build

    path = store("t_fail", d, ("t",), ok)
    assert len(seen) == 2 and path == seen[0]
    assert store("t_fail", d, ("t",), ok) == path
    assert len(seen) == 2


def test_removed_entry_is_rebuilt(tmp_path):
    import shutil

    d = _dataset(tmp_path)
    builds = []

    def build(path):
        builds.append(path)
        with open(os.path.join(path, "data"), "w") as fh:
            fh.write("x")

    path = store("t_gone", d, ("t",), build)
    assert path.startswith(artifacts.store_root())
    shutil.rmtree(path)
    assert store("t_gone", d, ("t",), build) == path
    assert len(builds) == 2
    assert os.path.isfile(os.path.join(path, "data"))


def test_only_artifacts_module_keys_and_names_stores():
    """Keying, naming and cleanup of derived artifacts stay in
    artifacts.py: no other package module declares a module-level
    ``_*_CACHE`` container, makes its own temp root, or digests a key
    into a store name."""
    banned = re.compile(
        r"^_\w*_CACHE\b\s*[:=]|tempfile\.mkdtemp|hashlib\.md5\(repr\(",
        re.M,
    )
    hits = []
    for dirpath, _, files in os.walk(PKG):
        for f in files:
            path = os.path.join(dirpath, f)
            if not f.endswith(".py") or path == MODULE:
                continue
            with open(path) as fh:
                src = fh.read()
            hits += [
                f"{os.path.relpath(path, PKG)}: {m.group(0)}"
                for m in banned.finditer(src)
            ]
    assert not hits, hits
