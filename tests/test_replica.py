"""tools/replica.py at sf0.001 x2: ids re-keyed by stride, dims written
once, near-dup output exactly doubled by the text bijection, only
completed tables reused, and the replica keyed on its source fixture."""

import os
import shutil
from collections import Counter

import duckdb

import bench
from steampipe_sqlite_spark import derived
from steampipe_sqlite_spark.plans.registry import collect
from tools import replica

SF = "/root/testdata/sf0.001"
TABLES = {"documents", "customer", "orders", "nation"}


def _views(con, sf_dir):
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{bench._parquet(sf_dir, t)}')")


def _col(con, table, col):
    return [r[0] for r in con.execute(f"SELECT {col} FROM {table}").fetchall()]


def test_replica_x2(spark, monkeypatch, tmp_path):
    monkeypatch.setattr(replica, "SF_DIR", SF)
    monkeypatch.setattr(derived, "ROOT", str(tmp_path))
    out = replica.build(spark, 2, TABLES)
    base, rep = duckdb.connect(), duckdb.connect()
    _views(base, SF)
    _views(rep, out)

    for table, keys in replica._REKEY.items():
        if table not in TABLES:
            continue
        for col, src_table, src_col in keys:
            stride = max(_col(base, src_table, src_col)) + 1
            ids = _col(base, table, col)
            assert Counter(_col(rep, table, col)) == Counter(
                ids + [i + stride for i in ids]
            ), (table, col)
    for table, key in (("documents", "doc_id"), ("orders", "o_orderkey"), ("customer", "c_custkey")):
        ids = _col(rep, table, key)
        assert len(set(ids)) == len(ids), table
    assert sorted(_col(rep, "nation", "n_nationkey")) == sorted(_col(base, "nation", "n_nationkey"))

    _, oracles = collect()
    for name, n in (("dedup_ppjoin_exact", 28), ("join_fuzzy_blocked_prefix", 29)):
        assert len(base.execute(oracles[name]).fetchall()) == n, name
        assert len(rep.execute(oracles[name]).fetchall()) == 2 * n, name

    # a missing table is built again; a completed one is kept
    docs = os.path.join(out, "documents.parquet")
    shutil.rmtree(docs)
    kept = os.path.join(out, "nation.parquet")
    mtime = os.stat(kept).st_mtime_ns
    assert replica.build(spark, 2, TABLES) == out
    assert rep.execute("SELECT COUNT(*) FROM documents").fetchone()[0] == 2 * len(
        _col(base, "documents", "doc_id")
    )
    assert os.stat(kept).st_mtime_ns == mtime


def test_replica_rekeyed_on_source_change(spark, monkeypatch, tmp_path):
    """A regenerated fixture gets a new replica dir, never the old one;
    the old one is only tombstoned while a reader may still hold it."""
    fixture = tmp_path / "sf"
    fixture.mkdir()
    src = fixture / "nation.parquet"
    shutil.copyfile(os.path.join(SF, "nation.parquet"), src)
    monkeypatch.setattr(replica, "SF_DIR", str(fixture))
    monkeypatch.setattr(derived, "ROOT", str(tmp_path / "cache"))
    first = replica.build(spark, 2, {"nation"})
    os.utime(src, (1_000_000_000, 1_000_000_000))
    second = replica.build(spark, 2, {"nation"})
    assert second != first
    assert os.path.isdir(os.path.join(second, "nation.parquet"))
    assert os.path.exists(os.path.join(first, "_superseded"))
