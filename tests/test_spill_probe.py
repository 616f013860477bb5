"""Pins for tools/spill_probe.py: the probe's queries must stay
registered corpus shapes (the r8 probe-methodology rule: probes replay
REGISTERED plans, not re-implemented ones), its measurement must follow
the house convention (clearCache per rep — rep 2 of
the first cut read an InMemoryRelation and reported a 1.4 s "join" at
100x), and arm isolation must stay subprocess-based (an OOM-killed JVM
takes the py4j gateway with it)."""

import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import spill_probe


def test_probe_queries_are_registered_with_oracles():
    from steampipe_sqlite_spark.plans.registry import collect

    q, o = collect()
    for name in spill_probe.PROBE_QUERIES:
        assert name in q and name in o


def test_arm_measurement_clears_cache():
    src = inspect.getsource(spill_probe.run_arm)
    assert "clearCache" in src, "must clear persisted data between reps"


def test_arms_run_in_subprocesses():
    src = inspect.getsource(spill_probe.main)
    assert "subprocess" in src and "--arm" in src


def test_ui_env_override_reaches_builder_config():
    """session.py gates the UI REST API (the probe's metrics source)
    behind SPARK_GRAFT_UI; the builder must honor it and default off."""
    from steampipe_sqlite_spark import session as S

    src = inspect.getsource(S)
    assert "SPARK_GRAFT_UI" in src and "spark.ui.enabled" in src
