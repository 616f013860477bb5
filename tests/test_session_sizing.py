"""Session conf derivation (session.py): shuffle-partition count, AQE and
driver heap scale with the INPUT DATA, measured by one walk of the sf dir.
Pure-Python — no Spark session is built."""

import pytest

from steampipe_sqlite_spark import session as S


def test_shuffle_partitions_scale_with_data():
    # sf0.1-ish: ~17 MB input → floor of 8
    assert S._shuffle_partitions(17 << 20, 32) == 8
    # 10 GB input → data-derived 320, capped at cpus*4
    assert S._shuffle_partitions(10 << 30, 32) == 32 * 4
    # 2 GB input → 2 GiB / 32 MiB = 64 partitions, between floor and cap
    assert S._shuffle_partitions(2 << 30, 32) == 64
    # unknown input → conservative floor
    assert S._shuffle_partitions(0, 32) == max(8, 32 // 4)


@pytest.mark.parametrize(
    ("nbytes", "expected"),
    [
        (17 << 20, False),  # tiny input: AQE is pure overhead
        (2 << 30, True),  # ≥1 GiB: always on (the cluster regime)
    ],
)
def test_aqe_gate(nbytes, expected):
    assert S._aqe_enabled(nbytes) is expected


def test_input_bytes_sizes_directory_datasets(monkeypatch, tmp_path):
    """A <table>.parquet entry may be a DIRECTORY of part files (anything
    Spark wrote); sizing must walk it — os.path.getsize on the directory
    itself reads the dirent (~4 KB) and under-counted a 1.5 GB replica
    corpus as ~24 KB, leaving the session at 8 reducers with AQE off
    against 60M rows (round 9)."""
    single = tmp_path / "plain.parquet"
    single.write_bytes(b"x" * 1000)
    as_dir = tmp_path / "written.parquet"
    nested = as_dir / "part-0000"
    nested.parent.mkdir(parents=True)
    nested.write_bytes(b"y" * 2000)
    (as_dir / "_SUCCESS").write_bytes(b"")
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path))
    assert S._input_bytes() == 3000


def test_driver_mem_scales_with_data(monkeypatch):
    """GB-scale inputs need the bigger heap: 16g suffers progressive GC
    storms on 32-thread SMJs at 100x sf0.1 (measured: 84 -> 310 JVM
    CPU-s across repeated q3 runs; 32g stable 74-86 — see _driver_mem
    docstring)."""
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert S._driver_mem(17 << 20) == "16g"
    assert S._driver_mem(2 << 30) == "32g"
    # explicit override always wins, both directions
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "8g")
    assert S._driver_mem(17 << 20) == "8g"
    assert S._driver_mem(2 << 30) == "8g"
