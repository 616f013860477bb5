"""tools/corpus_warm_pass.py at sf0.001: a query that raises is listed in
"errors" and the sweep starts a fresh session and times the rest; the
JSON line carries the JVM's compile work."""

import json
import sys

from steampipe_sqlite_spark.plans.registry import collect
from tools import corpus_warm_pass


def test_a_raising_query_is_reported_and_the_rest_are_timed(spark, monkeypatch, capsys, tmp_path):
    queries, oracles = collect()

    def boom(spark, sf_dir):
        raise RuntimeError("injected")

    monkeypatch.setattr(
        corpus_warm_pass, "collect", lambda: ({**queries, "tpch_q1": boom}, oracles)
    )
    sessions = []
    monkeypatch.setattr(corpus_warm_pass, "get_spark", lambda: sessions.append(spark) or spark)
    monkeypatch.setattr(spark, "stop", lambda: None)  # keep the shared test session
    out = tmp_path / "out.json"
    monkeypatch.setattr(
        sys, "argv", ["corpus_warm_pass.py", "/root/testdata/sf0.001", str(out), "tpch_q1", "tpch_q6"]
    )
    corpus_warm_pass.main()
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["errors"] == ["tpch_q1"]
    assert line["walls"]["tpch_q6"] >= 0
    assert len(sessions) == 2  # a fresh session after the error
    assert json.loads(out.read_text())["errors"] == ["tpch_q1"]
    # the JVM's compile work over the pass: tpch_q6 ran twice in a session
    # that may already hold its classes, so only the sign is known
    assert line["codegen_compiles"] >= 0 and line["jit_compile_ms"] >= 0
