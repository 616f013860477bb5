"""Pins for tools/concurrency_probe.py and the scheduler-mode override:
the probe must replay REGISTERED queries from concurrent threads (the
point is the scheduler, not bespoke shapes), and SPARK_GRAFT_SCHEDULER
must reach the builder config (a silently-dropped override would make
both arms FIFO and the probe a no-op comparison)."""

import inspect
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_probe_replays_registered_queries_concurrently():
    from tools import concurrency_probe as P

    src = inspect.getsource(P.run_arm)
    assert "tpch_q3" in src and "tpch_q6" in src
    assert "threading.Thread" in src


def test_scheduler_env_override_reaches_builder():
    from steampipe_sqlite_spark import session as S

    src = inspect.getsource(S)
    assert "SPARK_GRAFT_SCHEDULER" in src and "spark.scheduler.mode" in src


def test_scheduler_mode_applies_to_session():
    """Build a real (tiny) session under the override and read back BOTH
    the conf and the JVM-side default pool's internal mode — in a
    SUBPROCESS, so this test cannot stop the suite's shared session
    (stop_spark kills the active session process-wide).

    The pool check is the load-bearing half (ADVICE r10): without the
    shipped allocation file, spark.scheduler.mode=FAIR builds the default
    pool with an internal FIFO comparator — every job lands in that one
    pool, so task ordering is mechanically identical to FIFO and 'fair
    mode' is a no-op.  session.py ships fairscheduler.xml declaring the
    default pool FAIR; this asserts the JVM actually honored it."""
    import subprocess

    code = (
        "import sys; sys.path.insert(0, '/root/repo')\n"
        "import os; os.environ['SPARK_GRAFT_SCHEDULER'] = 'fair'\n"
        "from steampipe_sqlite_spark.session import get_spark\n"
        "spark = get_spark('schedmode-test', cpus=2)\n"
        "print(spark.conf.get('spark.scheduler.mode'))\n"
        "pool = spark.sparkContext._jsc.sc().getPoolForName('default').get()\n"
        "print(pool.schedulingMode().toString())\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0, out.stderr[-400:]
    assert out.stdout.strip().splitlines()[-2:] == ["FAIR", "FAIR"], out.stdout


def test_shipped_allocation_file_declares_default_pool_fair():
    import xml.etree.ElementTree as ET

    path = "/root/repo/steampipe_sqlite_spark/fairscheduler.xml"
    root = ET.parse(path).getroot()
    pools = {p.get("name"): p for p in root.findall("pool")}
    assert "default" in pools
    assert pools["default"].findtext("schedulingMode").strip().upper() == "FAIR"
