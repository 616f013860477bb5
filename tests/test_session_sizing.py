"""Session conf derivation (session.py): shuffle-partition count scales
with INPUT DATA, AQE gates on input volume, env overrides always win.
Pure-Python — no Spark session is built."""

import pytest

from steampipe_sqlite_spark import session as S


def test_shuffle_partitions_scale_with_data(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", raising=False)
    # sf0.1-ish: ~17 MB input → floor of 8
    monkeypatch.setattr(S, "_input_bytes", lambda: 17 << 20)
    assert S._shuffle_partitions(32) == 8
    # 10 GB input → data-derived 320, capped at cpus*4
    monkeypatch.setattr(S, "_input_bytes", lambda: 10 << 30)
    assert S._shuffle_partitions(32) == 32 * 4
    # 2 GB input → 2 GiB / 32 MiB = 64 partitions, between floor and cap
    monkeypatch.setattr(S, "_input_bytes", lambda: 2 << 30)
    assert S._shuffle_partitions(32) == 64
    # unknown input → conservative floor
    monkeypatch.setattr(S, "_input_bytes", lambda: 0)
    assert S._shuffle_partitions(32) == max(8, 32 // 4)


def test_shuffle_partitions_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "200")
    monkeypatch.setattr(S, "_input_bytes", lambda: 17 << 20)
    assert S._shuffle_partitions(32) == 200


@pytest.mark.parametrize(
    ("mode", "nbytes", "expected"),
    [
        ("auto", 17 << 20, False),  # tiny input: AQE is pure overhead
        ("auto", 2 << 30, True),  # ≥1 GiB: always on (the cluster regime)
        ("on", 17 << 20, True),  # explicit override beats the heuristic
        ("off", 2 << 30, False),
    ],
)
def test_aqe_gate(monkeypatch, mode, nbytes, expected):
    monkeypatch.setenv("SPARK_GRAFT_AQE", mode)
    monkeypatch.setattr(S, "_input_bytes", lambda: nbytes)
    assert S._aqe_enabled() is expected


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
    monkeypatch.setattr(S, "_input_bytes", lambda: 17 << 20)
    assert S._driver_mem() == "16g"
    monkeypatch.setattr(S, "_input_bytes", lambda: 2 << 30)
    assert S._driver_mem() == "32g"
    # explicit override always wins, both directions
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "8g")
    assert S._driver_mem() == "8g"


def _sparse(path, size):
    """A file whose getsize() reports ``size`` without writing the bytes."""
    with open(path, "wb") as f:
        f.truncate(size)


def test_max_partition_bytes_single_file_inputs_split_small(monkeypatch, tmp_path):
    """Driver testdata (one file per table) needs 16m splits to fan a
    sub-GB scan across the cores (measured: tpch_q1 0.72->0.45 s)."""
    monkeypatch.delenv("SPARK_GRAFT_MAX_PARTITION_BYTES", raising=False)
    _sparse(tmp_path / "lineitem.parquet", 10 << 20)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path))
    assert S._max_partition_bytes(32) == "16m"


def test_max_partition_bytes_many_file_datasets_keep_spark_default(
    monkeypatch, tmp_path
):
    """Replica corpora / streaming sinks land as many part files; small
    splits only add scheduling there (file_granularity_probe: ~8% slower
    at every granularity) and would mean millions of tasks at 100 TB."""
    monkeypatch.delenv("SPARK_GRAFT_MAX_PARTITION_BYTES", raising=False)
    d = tmp_path / "lineitem.parquet"
    d.mkdir()
    for i in range(40):
        _sparse(d / f"part-{i:05d}.snappy.parquet", 8 << 20)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path))
    assert S._max_partition_bytes(32) == "128m"
    # a LARGE single-file dataset alongside pulls the session back to 16m
    _sparse(tmp_path / "orders.parquet", 10 << 20)
    assert S._max_partition_bytes(32) == "16m"


def test_max_partition_bytes_ignores_tiny_side_tables(monkeypatch, tmp_path):
    """A tiny single-file dim (nation: 2.7 KB) must NOT drag a many-file
    lineitem to 16m splits — a table below one split width can't fan out
    under any setting and its scan is negligible (ADVICE r10: the min rule
    would otherwise reinstate the measured ~8% large-table regression)."""
    monkeypatch.delenv("SPARK_GRAFT_MAX_PARTITION_BYTES", raising=False)
    d = tmp_path / "lineitem.parquet"
    d.mkdir()
    for i in range(40):
        _sparse(d / f"part-{i:05d}.snappy.parquet", 8 << 20)
    (tmp_path / "nation.parquet").write_bytes(b"x" * 2700)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path))
    assert S._max_partition_bytes(32) == "128m"
    # all-tiny inputs (sf0.001 fixtures) keep the fan-out default
    tiny = tmp_path / "only"
    tiny.mkdir()
    (tiny / "nation.parquet").write_bytes(b"x" * 2700)
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tiny))
    assert S._max_partition_bytes(32) == "16m"


def test_max_partition_bytes_counts_hive_partitioned_parts(monkeypatch, tmp_path):
    """A hive-partitioned sf dir nests part files under key=value subdirs;
    counting only the dataset dir's direct children saw 1 file and forced
    16m splits on an already-many-file layout (ADVICE r10) — the count
    must walk recursively, mirroring _input_bytes."""
    monkeypatch.delenv("SPARK_GRAFT_MAX_PARTITION_BYTES", raising=False)
    d = tmp_path / "events.parquet"
    for part in range(8):
        sub = d / f"event_date=2024-01-{part + 1:02d}"
        sub.mkdir(parents=True)
        for i in range(5):
            _sparse(sub / f"part-{i:05d}.snappy.parquet", 8 << 20)
    (d / "_SUCCESS").write_bytes(b"")
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path))
    assert S._max_partition_bytes(32) == "128m"


def test_max_partition_bytes_env_override_wins(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_MAX_PARTITION_BYTES", "64m")
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path))
    assert S._max_partition_bytes(32) == "64m"
