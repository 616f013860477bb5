"""steampipe_sqlite_spark/derived.py: the one build-once policy for every
on-disk derived copy under .cache (publish, race, orphaned tmp dirs), and
an AST check that no other module in the engine or tools/ hand-rolls one.
Index-witness behaviour (staleness, torn rebuild, two-phase reclaim,
resurrection) is pinned in tests/test_llm_ops.py::TestEnsureIndexCache."""

import ast
import os
import subprocess
import sys
import threading
from pathlib import Path

import pytest

from steampipe_sqlite_spark import derived

ROOT = Path(__file__).resolve().parent.parent

# module -> why it may lock files or name .cache itself
OWN_FILES_OK = {
    "steampipe_sqlite_spark/derived.py": "the module that owns .cache",
    "steampipe_sqlite_spark/sources/ratelimit.py": (
        "token-bucket files are live state shared by every process on the "
        "host and debited under flock, not build-once copies"
    ),
}


@pytest.fixture()
def source(tmp_path, monkeypatch):
    monkeypatch.setattr(derived, "ROOT", str(tmp_path / "cache"))
    src = tmp_path / "t.parquet"
    src.write_bytes(b"v1")
    return str(src)


def _write(value):
    def build(out):
        Path(out, "data").write_text(value)

    return build


def test_build_that_raises_publishes_nothing_and_next_call_rebuilds(source):
    def broken(out):
        Path(out, "data").write_text("half")
        raise RuntimeError("build failed")

    dest = derived.generation("kind", source)
    with pytest.raises(RuntimeError):
        derived.ensure("kind", source, broken)
    assert not os.path.exists(dest)
    assert os.listdir(os.path.dirname(dest)) == []
    assert derived.ensure("kind", source, _write("ok")) == dest
    assert Path(dest, "data").read_text() == "ok"


def test_two_builder_race_publishes_one_dir(source):
    """Both builders build; one rename wins, the loser drops its tmp dir,
    and both callers get the one published dir."""
    both_building = threading.Barrier(2, timeout=30)
    results, errors = {}, []

    def run(name):
        def build(out):
            both_building.wait()
            Path(out, "data").write_text(name)

        try:
            results[name] = derived.ensure("kind", source, build)
        except Exception as e:  # noqa: BLE001 — reported by the assert below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(n,)) for n in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
        assert not t.is_alive()
    assert not errors
    assert results["a"] == results["b"]
    dest = results["a"]
    assert Path(dest, "data").read_text() in ("a", "b")
    assert os.listdir(os.path.dirname(dest)) == [os.path.basename(dest)]


def test_new_content_is_a_new_generation_and_params_a_new_family(source):
    first = derived.ensure("kind", source, _write("1"))
    with_param = derived.ensure("kind", source, _write("p"), "k8")
    Path(source).write_bytes(b"v2 longer")
    second = derived.ensure("kind", source, _write("2"))
    assert len({first, with_param, second}) == 3
    # the old generation of the same family is tombstoned; the other
    # family (another layout parameter) is live and left alone
    assert os.path.exists(os.path.join(first, "_superseded"))
    assert not os.path.exists(os.path.join(with_param, "_superseded"))
    assert Path(second, "data").read_text() == "2"


def test_orphaned_tmp_dirs_reclaimed(source):
    dest = derived.ensure("kind", source, _write("1"))
    proc = subprocess.Popen([sys.executable, "-c", "pass"])
    proc.wait(timeout=60)
    dead = f"{dest}.tmp-{proc.pid}-00000000"
    live = f"{dest}.tmp-{os.getpid()}-00000000"
    os.makedirs(dead)
    os.makedirs(live)
    derived.ensure("kind", source, _write("1"))
    assert not os.path.exists(dead)
    assert os.path.exists(live)


def _own_file_violations(path: Path) -> list[str]:
    found = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import) and any(a.name == "fcntl" for a in node.names):
            found.append(f"imports fcntl (line {node.lineno})")
        elif isinstance(node, ast.ImportFrom) and node.module == "fcntl":
            found.append(f"imports fcntl (line {node.lineno})")
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and not any(c.isspace() for c in node.value)  # prose, not a path
            and ".cache" in node.value.split("/")
        ):
            found.append(f"builds a path from {node.value!r} (line {node.lineno})")
    return found


def test_only_derived_owns_cache_paths_and_file_locks():
    files = [*(ROOT / "steampipe_sqlite_spark").rglob("*.py"), *(ROOT / "tools").rglob("*.py")]
    bad = {}
    for path in files:
        rel = path.relative_to(ROOT).as_posix()
        if rel in OWN_FILES_OK:
            continue
        found = _own_file_violations(path)
        if found:
            bad[rel] = found
    assert not bad, f"use steampipe_sqlite_spark/derived.py instead: {bad}"
    assert _own_file_violations(ROOT / "steampipe_sqlite_spark/sources/ratelimit.py")
    assert not (set(OWN_FILES_OK) - {p.relative_to(ROOT).as_posix() for p in files})
