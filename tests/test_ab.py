"""tools/ab.py without Spark: fake arms that record their call order and
return fixed times, with bench's sentinels monkeypatched."""

import json
import os
import shutil

import pytest

import bench
from tools import ab


def _arms(log, times):
    """Two fake arms; each call appends its label to ``log`` and returns
    the label's next time."""
    its = {label: iter(ts) for label, ts in times.items()}

    def make(label):
        def arm():
            log.append(label)
            return next(its[label])

        return arm

    return {label: make(label) for label in times}


def test_pairs_alternate_ab_then_ba():
    log = []
    arms = _arms(log, {"a": [1.0] * 4, "b": [2.0] * 4})
    a, b = ab.interleave(arms["a"], arms["b"], 4)
    assert log == ["a", "b", "b", "a", "a", "b", "b", "a"]
    assert a == [1.0] * 4 and b == [2.0] * 4


def test_med_mad_on_known_list():
    assert ab.med_mad([1.0, 2.0, 3.0, 4.0, 100.0]) == (3.0, 1.0)
    assert ab.med_mad([2.0, 2.0, 2.0]) == (2.0, 0.0)


def test_ratios_and_wins_per_pair():
    s = ab.summarize(("x", "y"), [1.0, 3.0, 2.0, 2.0], [2.0, 1.0, 4.0, 2.0])
    assert s["ratios"] == [0.5, 3.0, 0.5, 1.0]
    assert s["arms"]["x"]["wins"] == 2  # the tie in pair 4 counts for neither
    assert s["arms"]["y"]["wins"] == 1
    assert s["arms"]["x"]["med"] == 2.0 and s["arms"]["y"]["best"] == 1.0
    assert (s["ratio_med"], s["ratio_mad"]) == (0.75, 0.25)


def test_run_brackets_the_pairs_with_sentinels(monkeypatch, capsys):
    log = []
    monkeypatch.setattr(bench, "_mc_sentinel", lambda: log.append("mc") or 0.1)
    monkeypatch.setattr(bench, "_sentinel", lambda sf: log.append("sentinel") or 0.01)
    # warm pass + warm-up pair + 3 timed pairs = 5 calls per arm
    arms = _arms(log, {"fast": [9.0, 9.0, 1.0, 1.0, 1.0], "slow": [9.0, 9.0, 2.0, 2.0, 2.0]})
    print(json.dumps(ab.run("sf", 3, {"q": arms})))
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert log[:2] == ["fast", "slow"]  # discarded global warm pass
    assert log[2:4] == ["mc", "sentinel"] and log[-2:] == ["mc", "sentinel"]
    assert set(out["noise"]) == {"mc_before", "mc_after", "sentinel_before", "sentinel_after"}
    r = out["results"]["q"]
    assert r["ratios"] == [0.5, 0.5, 0.5]
    assert r["arms"]["fast"]["wins"] == 3 and r["arms"]["slow"]["wins"] == 0
    assert out["pairs"] == 3


def test_main_sizes_the_session_from_sf(monkeypatch, tmp_path):
    """The session sizes itself from $SPARK_GRAFT_SF_DIR when it is built,
    so ab.main must point that at --sf before get_spark."""
    from steampipe_sqlite_spark import session

    def fake_get_spark(*args, **kwargs):
        raise LookupError(os.environ["SPARK_GRAFT_SF_DIR"])

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/elsewhere")
    monkeypatch.setattr(session, "get_spark", fake_get_spark)
    with pytest.raises(LookupError, match=str(tmp_path)):
        ab.main(["--sf", str(tmp_path), "tpch_q6"])


def test_duckdb_reads_spark_written_table_dirs(tmp_path):
    """Replica tables are directories of part files; single-file tables
    beside them read as before."""
    src = "/root/testdata/sf0.001"
    for f in os.listdir(src):
        if f in ("documents.parquet", "lineitem.parquet"):
            (tmp_path / f).mkdir()
            for part in ("part-0.parquet", "part-1.parquet"):
                shutil.copy(os.path.join(src, f), tmp_path / f / part)
            (tmp_path / f / "_SUCCESS").touch()
        else:
            shutil.copy(os.path.join(src, f), tmp_path / f)
    base, con = bench.duckdb_connect(src), bench.duckdb_connect(str(tmp_path))
    for t, times in (("documents", 2), ("orders", 1)):
        n = base.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
        assert con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0] == times * n
    assert bench._sentinel(str(tmp_path)) >= 0
