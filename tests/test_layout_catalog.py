"""Layout-catalog correctness beyond the plan proof (tests/test_plans.py):
staleness invalidation, registry robustness, and the off switch — the
properties that keep a deployed bucketed layout from EVER serving wrong
rows when the underlying fixture changes."""

import json
import os
import shutil

import pytest

import steampipe_sqlite_spark.tables as T

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def layout_root(monkeypatch, tmp_path):
    root = tmp_path / "layout"
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_DIR", str(root))
    yield str(root)


def _fresh(spark, sf_dir, name):
    """Bypass the session memo so each assertion sees current discovery."""
    T._invalidate_session_table(spark, sf_dir, name)
    return T.load_table(spark, sf_dir, name)


def test_layout_discovered_and_row_identical(spark, layout_root):
    plain = {tuple(r) for r in _fresh(spark, SF_DIR, "supplier").collect()}
    T.optimize_layout(spark, SF_DIR, "supplier", "s_suppkey", 4)
    df = _fresh(spark, SF_DIR, "supplier")
    assert "sgs_layout" in df._jdf.queryExecution().executedPlan().toString()
    assert {tuple(r) for r in df.collect()} == plain
    T.drop_layout(spark, SF_DIR, "supplier")


def test_stale_source_identity_falls_back_to_plain(spark, layout_root, tmp_path):
    """A regenerated fixture (size or mtime change) must silently invalidate
    the layout — serving the stale bucketed copy would return OLD ROWS with
    a green-looking plan.  Simulated via a copied sf_dir whose parquet is
    re-touched after optimize_layout."""
    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(os.path.join(SF_DIR, "region.parquet"), sf / "region.parquet")
    T.optimize_layout(spark, str(sf), "region", "r_regionkey", 2)
    assert "sgs_layout" in (
        _fresh(spark, str(sf), "region")._jdf.queryExecution().executedPlan().toString()
    )
    # "regenerate" the fixture: same bytes, new mtime
    os.utime(sf / "region.parquet")
    plan = _fresh(spark, str(sf), "region")._jdf.queryExecution().executedPlan().toString()
    assert "sgs_layout" not in plan, "stale layout served after fixture change"


def test_layout_off_switch(spark, layout_root, monkeypatch):
    T.optimize_layout(spark, SF_DIR, "nation", "n_nationkey", 2)
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT", "off")
    T._invalidate_session_table(spark, SF_DIR, "nation")
    plan = T.load_table(spark, SF_DIR, "nation")._jdf.queryExecution().executedPlan().toString()
    assert "sgs_layout" not in plan
    monkeypatch.delenv("SPARK_GRAFT_LAYOUT")
    T.drop_layout(spark, SF_DIR, "nation")


def test_corrupt_registry_never_fails_a_read(spark, layout_root):
    os.makedirs(layout_root, exist_ok=True)
    with open(os.path.join(layout_root, "registry.json"), "w") as f:
        f.write("{not json")
    df = _fresh(spark, SF_DIR, "region")
    assert df.count() > 0  # plain path served, no exception


def test_removed_layout_files_fall_back(spark, layout_root):
    T.optimize_layout(spark, SF_DIR, "region", "r_regionkey", 2)
    entry = T._layout_registry()[T._layout_key(SF_DIR, "region")]
    shutil.rmtree(entry["location"])
    df = _fresh(spark, SF_DIR, "region")
    assert "sgs_layout" not in df._jdf.queryExecution().executedPlan().toString()
    assert df.count() > 0
    T.drop_layout(spark, SF_DIR, "region")


def test_drop_layout_is_idempotent(spark, layout_root):
    T.drop_layout(spark, SF_DIR, "region")  # nothing registered: no-op
    T.optimize_layout(spark, SF_DIR, "region", "r_regionkey", 2)
    T.drop_layout(spark, SF_DIR, "region")
    T.drop_layout(spark, SF_DIR, "region")
    assert T._layout_key(SF_DIR, "region") not in T._layout_registry()


def test_registry_write_is_atomic_shape(layout_root):
    """The registry is written via tmp+os.replace; a reader must never see
    a partial file.  Shape-check the committed code path by writing an
    entry and asserting no .tmp residue remains."""
    reg_dir = layout_root
    os.makedirs(reg_dir, exist_ok=True)
    with open(os.path.join(reg_dir, "registry.json"), "w") as f:
        json.dump({}, f)
    assert [p for p in os.listdir(reg_dir) if ".tmp." in p] == []


def test_redeploy_reclaims_superseded_copy(spark, layout_root, monkeypatch):
    """optimize_layout with a new spec must remove the old location and
    catalog entry — superseded copies are unreachable once the registry
    entry is replaced and would otherwise accumulate under the layout
    root.  Grace 0 sweeps on the next deploy/drop (ADVICE r11: default
    reclamation is deferred so in-flight scans drain first)."""
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_RECLAIM_GRACE", "0")
    T.optimize_layout(spark, SF_DIR, "region", "r_regionkey", 2)
    old = T._layout_registry()[T._layout_key(SF_DIR, "region")]
    T.optimize_layout(spark, SF_DIR, "region", "r_regionkey", 4)
    new = T._layout_registry()[T._layout_key(SF_DIR, "region")]
    assert new["location"] != old["location"]
    # the superseded entry is trash-pending after the redeploy; the NEXT
    # registry mutation sweeps it (grace 0)
    T.drop_layout(spark, SF_DIR, "region")
    assert not os.path.exists(old["location"])
    assert not spark.catalog.tableExists(old["catalog_name"])
    # and the final drop's own entry is swept by a later no-op drop
    T.drop_layout(spark, SF_DIR, "region")
    assert not os.path.exists(new["location"])


def test_reclamation_is_deferred_within_grace(spark, layout_root, monkeypatch):
    """Default reclamation must NOT delete files the moment an entry is
    replaced — a query planned over the old location in another process
    may still be scanning it (ADVICE r11).  Within the grace period the
    superseded files stay on disk (discovery already stopped serving
    them); after the grace elapses the next deploy/drop sweeps them."""
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_RECLAIM_GRACE", "3600")
    T.optimize_layout(spark, SF_DIR, "region", "r_regionkey", 2)
    old = T._layout_registry()[T._layout_key(SF_DIR, "region")]
    T.optimize_layout(spark, SF_DIR, "region", "r_regionkey", 4)
    # superseded, but trash-pending: files intact, discovery serves the new
    assert os.path.exists(old["location"])
    trash = T._layout_registry()[T._LAYOUT_TRASH_KEY]
    assert [t["location"] for t in trash] == [old["location"]]
    df = _fresh(spark, SF_DIR, "region")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "sgs_layout" in plan and old["location"] not in plan
    # grace elapsed → next mutation reclaims
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_RECLAIM_GRACE", "0")
    T.drop_layout(spark, SF_DIR, "region")
    assert not os.path.exists(old["location"])


def test_scan_planned_pre_trash_completes_within_grace(
    spark, layout_root, monkeypatch
):
    """The in-flight-reader scenario the grace period exists for (VERDICT
    r12 #7), driven end to end: a DataFrame PLANNED over the old layout
    location before a redeploy supersedes it (its FileIndex pins the old
    files) must still EXECUTE correctly inside the grace window — not
    just 'the files exist', the pre-planned scan itself completes."""
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_RECLAIM_GRACE", "3600")
    base = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(SF_DIR, "region.parquet")).collect()
    }
    T.optimize_layout(spark, SF_DIR, "region", "r_regionkey", 2)
    old = T._layout_registry()[T._layout_key(SF_DIR, "region")]
    pre = _fresh(spark, SF_DIR, "region")  # plan pins the OLD location
    # (paths are elided in plan toString; the content-keyed catalog name
    # identifies the old generation unambiguously)
    assert (
        old["catalog_name"]
        in pre._jdf.queryExecution().executedPlan().toString()
    )
    # redeploy supersedes the old generation -> trash-pending
    T.optimize_layout(spark, SF_DIR, "region", "r_regionkey", 4)
    assert [t["location"] for t in T._layout_registry()[T._LAYOUT_TRASH_KEY]] == [
        old["location"]
    ]
    # the pre-planned scan drains during grace, rows identical to plain
    assert {tuple(r) for r in pre.collect()} == base
    T.drop_layout(spark, SF_DIR, "region")


def test_same_spec_redeploy_resurrects_trashed_location(spark, layout_root, monkeypatch):
    """drop_layout then a SAME-SPEC redeploy within the grace window must
    resurrect the trash-pending location (the content-keyed completeness
    marker is intact, so the files are byte-equivalent) and remove it
    from the trash list — otherwise a later sweep would gut a LIVE
    layout."""
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_RECLAIM_GRACE", "3600")
    T.optimize_layout(spark, SF_DIR, "region", "r_regionkey", 2)
    loc = T._layout_registry()[T._layout_key(SF_DIR, "region")]["location"]
    T.drop_layout(spark, SF_DIR, "region")
    assert os.path.exists(loc)  # trash-pending, not deleted
    T.optimize_layout(spark, SF_DIR, "region", "r_regionkey", 2)
    reg = T._layout_registry()
    assert reg[T._layout_key(SF_DIR, "region")]["location"] == loc
    assert loc not in [t["location"] for t in reg.get(T._LAYOUT_TRASH_KEY, [])]
    # the resurrected layout must actually serve (sweep must not gut it)
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_RECLAIM_GRACE", "0")
    T.optimize_layout(spark, SF_DIR, "nation", "n_nationkey", 2)  # triggers sweep
    df = _fresh(spark, SF_DIR, "region")
    assert "sgs_layout" in df._jdf.queryExecution().executedPlan().toString()
    assert df.count() > 0
    T.drop_layout(spark, SF_DIR, "region")
    T.drop_layout(spark, SF_DIR, "nation")


def test_sweep_and_drop_never_kill_a_rebound_catalog_name(spark, tmp_path, monkeypatch):
    """The catalog name is content-keyed WITHOUT the layout root, so a
    same-spec deploy under a different root REBINDS the same name.
    Reclaiming the old root's entry (drop_layout, or the trash sweep)
    must therefore drop the name ONLY while it still points at the
    reclaimed location — otherwise the live rebinding dies with the
    superseded files (code-review r12)."""
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_RECLAIM_GRACE", "3600")
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_DIR", str(tmp_path / "rootA"))
    cat = T.optimize_layout(spark, SF_DIR, "region", "r_regionkey", 2)
    locA = T._layout_registry()[T._layout_key(SF_DIR, "region")]["location"]
    # trash rootA's entry (files stay, grace window), then rebind the SAME
    # content-keyed name under rootB
    T.drop_layout(spark, SF_DIR, "region")
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_DIR", str(tmp_path / "rootB"))
    assert T.optimize_layout(spark, SF_DIR, "region", "r_regionkey", 2) == cat
    locB = T._layout_registry()[T._layout_key(SF_DIR, "region")]["location"]
    assert T._catalog_table_points_at(spark, cat, locB)
    # back under rootA: a grace-0 deploy of another table sweeps region's
    # trashed rootA location — the (rebound) catalog name must survive
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_DIR", str(tmp_path / "rootA"))
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_RECLAIM_GRACE", "0")
    T.optimize_layout(spark, SF_DIR, "nation", "n_nationkey", 2)
    assert not os.path.exists(locA)  # files reclaimed
    assert spark.catalog.tableExists(cat)  # live rootB binding intact
    assert T._catalog_table_points_at(spark, cat, locB)
    # and drop_layout under rootB (entry points at locB) still cleans up
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_DIR", str(tmp_path / "rootB"))
    T.drop_layout(spark, SF_DIR, "region")
    assert not spark.catalog.tableExists(cat)
    T.drop_layout(spark, str(tmp_path), "nation")  # no-op wrong dir, harmless
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_DIR", str(tmp_path / "rootA"))
    T.drop_layout(spark, SF_DIR, "nation")


def test_layout_dir_env_honored_at_call_time(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_LAYOUT_DIR set AFTER import must take effect (ADVICE
    r11: the root was read once at import and later changes were silently
    ignored)."""
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_DIR", str(tmp_path / "lateroot"))
    T.optimize_layout(spark, SF_DIR, "region", "r_regionkey", 2)
    entry = T._layout_registry()[T._layout_key(SF_DIR, "region")]
    assert entry["location"].startswith(str(tmp_path / "lateroot"))
    T.drop_layout(spark, SF_DIR, "region")


def test_bucketed_catalog_rebinds_when_layout_root_changes(spark, tmp_path, monkeypatch):
    """Changing SPARK_GRAFT_LAYOUT_DIR between deploys within one session
    must not leave the catalog name bound to the OLD root's files (ADVICE
    r11): the location check recreates the table over the registry's
    location."""
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_RECLAIM_GRACE", "3600")
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_DIR", str(tmp_path / "rootA"))
    cat = T.optimize_layout(spark, SF_DIR, "region", "r_regionkey", 2)
    locA = T._layout_registry()[T._layout_key(SF_DIR, "region")]["location"]
    assert T._catalog_table_points_at(spark, cat, locA)
    # same spec under a different root: same content tag, SAME catalog
    # name, new location — the fresh write rebinds the name to rootB
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_DIR", str(tmp_path / "rootB"))
    cat2 = T.optimize_layout(spark, SF_DIR, "region", "r_regionkey", 2)
    assert cat2 == cat
    locB = T._layout_registry()[T._layout_key(SF_DIR, "region")]["location"]
    assert locB.startswith(str(tmp_path / "rootB"))
    assert T._catalog_table_points_at(spark, cat2, locB)
    # back to rootA: its files + completeness marker are intact, so the
    # COMPLETE fast path runs — before the fix it skipped CREATE because
    # the name existed, leaving it bound to rootB's files
    monkeypatch.setenv("SPARK_GRAFT_LAYOUT_DIR", str(tmp_path / "rootA"))
    cat3 = T.optimize_layout(spark, SF_DIR, "region", "r_regionkey", 2)
    assert cat3 == cat
    assert T._catalog_table_points_at(spark, cat3, locA)
    df = _fresh(spark, SF_DIR, "region")
    assert df.count() > 0
    T.drop_layout(spark, SF_DIR, "region")


def test_concurrent_deployments_keep_both_entries(spark, layout_root):
    """Registry read-modify-write is flock-serialized: two concurrent
    optimize_layout calls for DIFFERENT tables must both survive (before
    the lock, the last writer re-wrote the registry from its own stale
    read and silently dropped the other's entry)."""
    import threading

    errs = []

    def deploy(table, key, buckets):
        try:
            T.optimize_layout(spark, SF_DIR, table, key, buckets)
        except Exception as e:  # noqa: BLE001 — surface in the main thread
            errs.append(e)

    t1 = threading.Thread(target=deploy, args=("region", "r_regionkey", 2))
    t2 = threading.Thread(target=deploy, args=("nation", "n_nationkey", 2))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    reg = T._layout_registry()
    assert T._layout_key(SF_DIR, "region") in reg
    assert T._layout_key(SF_DIR, "nation") in reg
    T.drop_layout(spark, SF_DIR, "region")
    T.drop_layout(spark, SF_DIR, "nation")


def test_partitioned_layout_prunes_and_is_invisible(spark, layout_root):
    """partition_by mode: discovery must restore the ORIGINAL column order
    and dtypes (a plain partitioned read moves the partition column to the
    end, string-typed from directory names), rows must be identical, and
    an equality filter on the partition column must prune at the scan
    (PartitionFilters), reading only matching directories."""
    plain = T.load_table(spark, SF_DIR, "events")
    plain_schema = plain.dtypes
    plain_rows = {tuple(r) for r in plain.collect()}
    T.optimize_layout(spark, SF_DIR, "events", partition_by="event_type")
    df = _fresh(spark, SF_DIR, "events")
    assert df.dtypes == plain_schema, f"schema changed: {df.dtypes}"
    assert {tuple(r) for r in df.collect()} == plain_rows
    filtered = df.filter(df.event_type == "click")
    filtered.collect()
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the partition filter must actually reach PartitionFilters (not just
    # the residual DataFilters) — the pruning the layout exists for
    import re

    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "event_type" in pf, f"partition filter not pushed: {pf}"
    T.drop_layout(spark, SF_DIR, "events")
    back = _fresh(spark, SF_DIR, "events")
    assert back.dtypes == plain_schema


def test_optimize_layout_validates_axes(spark, layout_root):
    with pytest.raises(ValueError):
        T.optimize_layout(spark, SF_DIR, "region")  # neither axis
    with pytest.raises(ValueError):
        T.optimize_layout(
            spark, SF_DIR, "region", bucket_by="r_regionkey", buckets=2,
            partition_by="r_name",
        )  # both axes
    with pytest.raises(ValueError):
        T.optimize_layout(spark, SF_DIR, "region", bucket_by="r_regionkey")  # no buckets


def test_partitioned_layout_reaches_registered_queries(spark, layout_root):
    """The registered corpus SQL must transparently benefit: deploy events
    partitioned by event_type, re-run a registered query whose predicate
    selects event types (join_asof_events filters event_type='click'), and
    require identical rows plus the partition filter in the executed scan."""
    from steampipe_sqlite_spark.plans.registry import collect

    q, _ = collect()
    fn = q["join_asof_events"]
    base = {tuple(r) for r in fn(spark, SF_DIR).collect()}
    T.optimize_layout(spark, SF_DIR, "events", partition_by="event_type")
    try:
        df = fn(spark, SF_DIR)
        assert {tuple(r) for r in df.collect()} == base
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [" in plan
        assert "event_type" in plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    finally:
        T.drop_layout(spark, SF_DIR, "events")
    assert {tuple(r) for r in fn(spark, SF_DIR).collect()} == base


def _file_ranges(location, col):
    """Per-parquet-file (min, max) of ``col`` from footer stats."""
    import glob

    import pyarrow.parquet as pq

    out = []
    for f in sorted(glob.glob(os.path.join(location, "*.parquet"))):
        meta = pq.ParquetFile(f).metadata
        idx = meta.schema.names.index(col)
        lo = min(meta.row_group(g).column(idx).statistics.min for g in range(meta.num_row_groups))
        hi = max(meta.row_group(g).column(idx).statistics.max for g in range(meta.num_row_groups))
        out.append((lo, hi))
    return out


def test_sorted_layout_clusters_footer_stats(spark, layout_root):
    """order_by single column (range-sort layout): rows identical, schema
    identical, and the per-file min/max footer ranges are NARROW — the
    property parquet row-group skipping keys on.  With 16 range-sorted
    files the mean per-file width must be a small fraction of the global
    range (a random layout gives ~the full range in every file)."""
    plain = T.load_table(spark, SF_DIR, "events")
    plain_schema = plain.dtypes
    plain_rows = {tuple(r) for r in plain.collect()}
    T.optimize_layout(spark, SF_DIR, "events", order_by=["value"], order_files=16)
    try:
        df = _fresh(spark, SF_DIR, "events")
        assert df.dtypes == plain_schema
        assert {tuple(r) for r in df.collect()} == plain_rows
        entry = T._layout_registry()[T._layout_key(SF_DIR, "events")]
        ranges = _file_ranges(entry["location"], "value")
        assert len(ranges) >= 8
        glo = min(r[0] for r in ranges)
        ghi = max(r[1] for r in ranges)
        mean_width = sum(hi - lo for lo, hi in ranges) / len(ranges)
        assert mean_width < 0.2 * (ghi - glo), (
            f"files not range-clustered: mean width {mean_width} of {ghi - glo}"
        )
    finally:
        T.drop_layout(spark, SF_DIR, "events")


def test_zorder_layout_clusters_both_columns(spark, layout_root):
    """order_by two columns (Morton layout): BOTH columns' per-file footer
    ranges must be materially narrower than global — the multi-column
    data-skipping property one-column sorting cannot give (sorting by
    value alone leaves user_id at ~full range per file)."""
    plain_rows = {tuple(r) for r in T.load_table(spark, SF_DIR, "events").collect()}
    T.optimize_layout(
        spark, SF_DIR, "events", order_by=["value", "user_id"], order_files=16
    )
    try:
        df = _fresh(spark, SF_DIR, "events")
        assert {tuple(r) for r in df.collect()} == plain_rows
        entry = T._layout_registry()[T._layout_key(SF_DIR, "events")]
        for col in ("value", "user_id"):
            ranges = _file_ranges(entry["location"], col)
            glo = min(r[0] for r in ranges)
            ghi = max(r[1] for r in ranges)
            mean_width = sum(hi - lo for lo, hi in ranges) / len(ranges)
            assert mean_width < 0.6 * (ghi - glo), (
                f"{col} not z-clustered: mean width {mean_width} of {ghi - glo}"
            )
    finally:
        T.drop_layout(spark, SF_DIR, "events")


def test_partitioned_restore_preserves_numeric_looking_strings(spark, layout_root, tmp_path):
    """Inferred partition types corrupt numeric-looking string values
    ('02134' infers as int 2134); discovery pins the read to the recorded
    schema, so the directory round-trip is lossless."""
    sf = tmp_path / "sf"
    sf.mkdir()
    src = spark.createDataFrame(
        [(1, "02134", 1.5), (2, "007", 2.5), (3, "plain", 3.5)],
        "id long, code string, v double",
    )
    src.coalesce(1).write.parquet(str(sf / "custom.parquet"))
    plain = {tuple(r) for r in T.load_table(spark, str(sf), "custom").collect()}
    T.optimize_layout(spark, str(sf), "custom", partition_by="code")
    df = _fresh(spark, str(sf), "custom")
    assert df.dtypes == [("id", "bigint"), ("code", "string"), ("v", "double")]
    assert {tuple(r) for r in df.collect()} == plain, "partition values corrupted"
    T.drop_layout(spark, str(sf), "custom")


def test_missing_completion_marker_falls_back(spark, layout_root):
    """A location without the engine's completion marker is mid-rewrite or
    torn — discovery must serve the plain path, never partial rows.  The
    marker is engine-owned (_sgs_layout_complete), NOT the committer's
    _SUCCESS, which object-store configs commonly disable."""
    T.optimize_layout(spark, SF_DIR, "region", "r_regionkey", 2)
    entry = T._layout_registry()[T._layout_key(SF_DIR, "region")]
    os.remove(os.path.join(entry["location"], T._LAYOUT_COMPLETE_MARKER))
    df = _fresh(spark, SF_DIR, "region")
    assert "sgs_layout" not in df._jdf.queryExecution().executedPlan().toString()
    assert df.count() > 0
    T.drop_layout(spark, SF_DIR, "region")


def test_zorder_accepts_timestamp_columns(spark, layout_root):
    """The canonical z-order use is time + entity key; timestamp (incl.
    NTZ) columns must quantize through the numeric surrogate rather than
    crash in approxQuantile, and string columns must be rejected with a
    clear error."""
    plain_rows = {tuple(r) for r in T.load_table(spark, SF_DIR, "events").collect()}
    T.optimize_layout(spark, SF_DIR, "events", order_by=["ts", "user_id"], order_files=8)
    try:
        df = _fresh(spark, SF_DIR, "events")
        assert {tuple(r) for r in df.collect()} == plain_rows
    finally:
        T.drop_layout(spark, SF_DIR, "events")
    with pytest.raises(ValueError, match="event_type"):
        T.optimize_layout(spark, SF_DIR, "events", order_by=["ts", "event_type"])


def test_directory_source_staleness_detected(spark, layout_root, tmp_path):
    """Directory-shaped sources (Spark-written tables): rewriting a part
    file in place changes the file's mtime but NOT the directory's — the
    identity must fingerprint the recursive listing, or the stale layout
    serves old rows."""
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string").coalesce(
        1
    ).write.parquet(str(sf / "dirtab.parquet"))
    T.optimize_layout(spark, str(sf), "dirtab", order_by=["id"], order_files=2)
    assert T._layout_table_df(spark, str(sf), "dirtab") is not None
    # "regenerate" one part file in place: same name, new mtime
    part = next(
        p for p in os.listdir(sf / "dirtab.parquet") if p.endswith(".parquet")
    )
    os.utime(sf / "dirtab.parquet" / part)
    assert T._layout_table_df(spark, str(sf), "dirtab") is None
    T.drop_layout(spark, str(sf), "dirtab")


def test_same_spec_redeploy_skips_rewrite(spark, layout_root):
    """Content-keyed tag + _SUCCESS check: redeploying an identical spec
    must reuse the completed copy (no destructive overwrite window)."""
    T.optimize_layout(spark, SF_DIR, "region", "r_regionkey", 2)
    entry = T._layout_registry()[T._layout_key(SF_DIR, "region")]
    marker = os.path.join(entry["location"], "_SUCCESS")
    before = os.stat(marker).st_mtime_ns
    T.optimize_layout(spark, SF_DIR, "region", "r_regionkey", 2)
    assert os.stat(marker).st_mtime_ns == before, "identical spec rewrote the data"
    T.drop_layout(spark, SF_DIR, "region")


def test_empty_order_by_rejected(spark, layout_root):
    with pytest.raises(ValueError):
        T.optimize_layout(spark, SF_DIR, "region", order_by=[])


def test_relative_sf_dir_invalidation(spark, layout_root, monkeypatch):
    """Registry keys are abspath-normalized; session memo keys carry the
    caller's spelling — a relative-path drop must still evict the
    absolute-path session state (and the layout files)."""
    monkeypatch.chdir("/root")
    rel = os.path.relpath(SF_DIR, "/root")
    T.optimize_layout(spark, SF_DIR, "region", "r_regionkey", 2)
    df = T.load_table(spark, SF_DIR, "region")  # memoized under abs spelling
    assert "sgs_layout" in df._jdf.queryExecution().executedPlan().toString()
    T.drop_layout(spark, rel, "region")  # relative spelling
    fresh = T.load_table(spark, SF_DIR, "region")
    assert "sgs_layout" not in fresh._jdf.queryExecution().executedPlan().toString()
    assert fresh.count() > 0
