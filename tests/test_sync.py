"""End-to-end sync plan: extract -> stage -> load -> verify, with resume,
idempotency and full_sync-replace semantics (reference lifecycle SURVEY §3.1)."""

import os

import pytest
from pyspark.sql import functions as F

from s3_redshift_backup_tool_spark.plans.pipeline import (
    PipelineConfig, TableConfig, adhoc_pipeline, pipeline_from_dict)
from s3_redshift_backup_tool_spark.plans.sync import sync_pipeline, sync_table
from s3_redshift_backup_tool_spark.state import LocalJsonBackend, WatermarkStore


@pytest.fixture()
def store(tmp_path):
    return WatermarkStore(LocalJsonBackend(str(tmp_path / "state")))


def _orders_cfg():
    return TableConfig(table_name="orders", cdc_strategy="hybrid",
                       cdc_timestamp_column="o_orderdate",
                       cdc_id_column="o_orderkey")


def test_full_then_incremental_then_noop(spark, orders, store, tmp_path):
    staging = str(tmp_path / "staging")
    target = str(tmp_path / "target")
    cfg = _orders_cfg()

    # run 1: fresh watermark -> everything extracted and loaded
    r1 = sync_table(spark, orders, cfg, store,
                    staging_path=staging, target_path=target)
    total = orders.count()
    assert r1.rows_extracted == total
    assert r1.files_loaded == r1.files_staged > 0
    assert r1.target_rows == total
    assert r1.verified

    # run 2: no new source rows -> 0 extracted, 0 loaded (idempotent)
    r2 = sync_table(spark, orders, cfg, store,
                    staging_path=staging, target_path=target)
    assert r2.rows_extracted == 0
    assert r2.files_loaded == 0
    assert spark.read.parquet(target).count() == total
    assert r2.verified

    # run 3: simulate 100 new source rows by rolling the watermark back
    wm_doc = store.get("src", "orders", "tgt")
    keyset = (orders.orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
                    .limit(101).collect())
    boundary = keyset[-1]
    store.set_manual("src", "orders", "tgt",
                     last_timestamp=boundary["o_orderdate"].strftime("%Y-%m-%d %H:%M:%S"),
                     last_id=boundary["o_orderkey"])
    # preserve_files=False here would double-load; keep the blacklist
    r3 = sync_table(spark, orders, cfg, store,
                    staging_path=str(tmp_path / "staging2"), target_path=target)
    assert r3.rows_extracted == 100
    assert spark.read.parquet(target).count() == total + 100  # appended dupes (expected)
    assert wm_doc["mysql_state"]["total_rows"] == total


def test_partitioned_staging_layout(spark, orders, store, tmp_path):
    staging = str(tmp_path / "staging")
    sync_table(spark, orders, _orders_cfg(), store,
               staging_path=staging, target_path=str(tmp_path / "t"))
    # F11: Hive-style year=/month=/day= partition dirs
    years = [d for d in os.listdir(staging) if d.startswith("year=")]
    assert years, f"expected year= partitions, got {os.listdir(staging)}"
    sub = os.path.join(staging, years[0])
    assert any(d.startswith("month=") for d in os.listdir(sub))


def test_full_sync_replace_overwrites(spark, store, tmp_path):
    from s3_redshift_backup_tool_spark.sources.readers import read_table
    region = read_table(spark, "/root/testdata/sf0.001", "region")
    cfg = TableConfig(table_name="region", cdc_strategy="full_sync",
                      full_sync_mode="replace")
    target = str(tmp_path / "target")
    for i in range(2):  # second run must NOT double rows (truncate-then-load)
        r = sync_table(spark, region, cfg, store,
                       staging_path=str(tmp_path / f"s{i}"), target_path=target)
    assert spark.read.parquet(target).count() == region.count()
    assert r.verified


def test_quality_gate_blocks_bad_batch(spark, store, tmp_path):
    df = spark.createDataFrame([(1, None), (2, None)], "id long, v string")
    cfg = TableConfig(table_name="bad", cdc_strategy="id_only", cdc_id_column="id")
    with pytest.raises(ValueError, match="quality gate"):
        sync_table(spark, df, cfg, store,
                   staging_path=str(tmp_path / "s"), target_path=str(tmp_path / "t"),
                   quality_gate=True, quality_opts={"not_null_cols": ["v"]})
    assert store.get("src", "bad", "tgt")["mysql_state"]["status"] == "failed"


def test_pipeline_multi_table_and_yaml(spark, store, tmp_path, sf_dir):
    doc = {
        "pipeline": {"name": "p1", "source": "sf", "target": "wh",
                     "processing": {"batch_size": 50000}, "max_workers": 2},
        "tables": {
            "orders": {"cdc_strategy": "hybrid",
                       "cdc_timestamp_column": "o_orderdate",
                       "cdc_id_column": "o_orderkey",
                       "processing": {"batch_size": 100}},
            "events": {"cdc_strategy": "id_only", "cdc_id_column": "event_id",
                       "target_name": "events_renamed"},
            "region": {"cdc_strategy": "full_sync"},
        },
    }
    pipe = pipeline_from_dict(doc)
    assert pipe.effective_batch_size(pipe.tables[0]) == 100      # table wins
    assert pipe.effective_batch_size(pipe.tables[1]) == 50000    # pipeline default

    def read_source(name):
        from s3_redshift_backup_tool_spark.sources.readers import read_table
        return read_table(spark, sf_dir, name)

    results = sync_pipeline(spark, pipe, store, read_source, str(tmp_path / "wh"))
    assert set(results) == {"orders", "events", "region"}
    assert all(r.verified for r in results.values())
    assert os.path.exists(str(tmp_path / "wh/target/events_renamed"))


def test_dependency_ordering():
    pipe = PipelineConfig(name="p", source="s", target="t", tables=[
        TableConfig(table_name="c", depends_on=["b"]),
        TableConfig(table_name="b", depends_on=["a"]),
        TableConfig(table_name="a"),
    ])
    assert [t.table_name for t in pipe.topo_ordered_tables()] == ["a", "b", "c"]


def test_adhoc_pipeline():
    p = adhoc_pipeline("mysql_src", "rs_tgt", _orders_cfg())
    assert p.name == "adhoc_mysql_src_rs_tgt"
    assert len(p.tables) == 1


def test_run_log_accumulates_history(spark, orders, tmp_path):
    """Every sync_pipeline run appends one row per table to the parquet
    run log; history is queryable as a DataFrame."""
    from s3_redshift_backup_tool_spark.plans.pipeline import pipeline_from_dict
    from s3_redshift_backup_tool_spark.plans.sync import (
        read_run_log, sync_pipeline)
    from s3_redshift_backup_tool_spark.state import (
        LocalJsonBackend, WatermarkStore)

    work = str(tmp_path / "work")
    store = WatermarkStore(LocalJsonBackend(work + "/state"))
    pipe = pipeline_from_dict({
        "pipeline": {"name": "p", "source": "s", "target": "t"},
        "tables": {"orders": {"cdc_strategy": "hybrid",
                              "cdc_timestamp_column": "o_orderdate",
                              "cdc_id_column": "o_orderkey"}}})
    sync_pipeline(spark, pipe, store, lambda n: orders, work)
    sync_pipeline(spark, pipe, store, lambda n: orders, work)

    log = read_run_log(spark, work)
    rows = log.orderBy("run_at").collect()
    assert len(rows) == 2
    assert rows[0]["rows_extracted"] > 0       # first run: full extract
    assert rows[1]["rows_extracted"] == 0      # second run: idempotent
    assert all(r["verified"] for r in rows)
    assert rows[0]["run_id"] != rows[1]["run_id"]


def _count_listings(monkeypatch) -> list[str]:
    """Wrap the staging inventory so a test can count its calls."""
    from s3_redshift_backup_tool_spark.plans import sync as sync_mod

    calls: list[str] = []
    real = sync_mod._staged_files
    monkeypatch.setattr(sync_mod, "_staged_files",
                        lambda sp, p: calls.append(p) or real(sp, p))
    return calls


def test_noop_sync_skips_staging_listing(spark, orders, store, tmp_path,
                                         monkeypatch):
    """The clean no-op sync (cron's common case) must not pay a staging
    inventory listing: the watermark doc's staged/loaded counters prove
    there are no leftovers (round-3 verdict scale fix)."""
    staging = str(tmp_path / "staging")
    target = str(tmp_path / "target")
    cfg = _orders_cfg()
    sync_table(spark, orders, cfg, store,
               staging_path=staging, target_path=target)

    calls = _count_listings(monkeypatch)
    r = sync_table(spark, orders, cfg, store,
                   staging_path=staging, target_path=target)
    assert r.rows_extracted == 0 and r.verified
    assert calls == [], f"no-op sync listed staging: {calls}"


def test_sync_with_new_rows_lists_staging_twice(spark, orders, store,
                                                tmp_path, monkeypatch):
    """A sync with new rows lists staging once before the staging write
    (to tell this session's files apart) and once after it; the load
    stage reuses the second listing instead of taking a third, and loads
    only this session's files although staging still holds the first
    sync's."""
    staging = str(tmp_path / "staging")
    target = str(tmp_path / "target")
    cfg = _orders_cfg()
    early = orders.filter("o_orderdate < timestamp'1995-01-01 00:00:00'")
    r1 = sync_table(spark, early, cfg, store,
                    staging_path=staging, target_path=target)

    calls = _count_listings(monkeypatch)
    r = sync_table(spark, orders, cfg, store,
                   staging_path=staging, target_path=target)
    assert r.rows_extracted == orders.count() - early.count() > 0
    assert r.files_loaded == r.files_staged > 0 and r.verified
    assert r.skipped_files == r1.files_staged
    assert calls == [staging, staging], f"listings: {calls}"


def test_data_column_partition_survives_load(spark, orders, store, tmp_path):
    """A data column used as the staging partition key lives only in the
    directory names of the staged files; the file-list read of the load
    must bring it back, with every value's count intact."""
    staging = str(tmp_path / "staging")
    target = str(tmp_path / "target")
    cfg = _orders_cfg()
    cfg.partition_columns = ["o_orderstatus"]
    early = orders.filter("o_orderdate < timestamp'1995-01-01 00:00:00'")
    for src in (early, orders):
        r = sync_table(spark, src, cfg, store,
                       staging_path=staging, target_path=target)
        assert r.verified
    assert any(d.startswith("o_orderstatus=") for d in os.listdir(staging))
    got = spark.read.parquet(target)
    assert "o_orderstatus" in got.columns

    def by_status(df):
        return {r["o_orderstatus"]: r["count"]
                for r in df.groupBy("o_orderstatus").count().collect()}
    assert by_status(got) == by_status(orders)


def _as_parquet(spark, rows, schema, tmp_path):
    """A parquet-backed source: Catalyst knows its size, so the staging
    write sizes its shuffle from it (an in-memory DataFrame's size is
    unknown and falls to the partition cap)."""
    path = str(tmp_path / "source")
    spark.createDataFrame(rows, schema).write.parquet(path)
    return spark.read.parquet(path)


def test_partition_values_needing_path_escapes_load(spark, store, tmp_path):
    """Partition values with a space or a Hive-escaped character name
    directories whose URIs are percent-encoded; the load must still find
    and read every staged file."""
    staging = str(tmp_path / "staging")
    target = str(tmp_path / "target")
    cfg = TableConfig(table_name="ship", cdc_strategy="id_only",
                      cdc_id_column="id", partition_columns=["mode"])
    modes = ["REG AIR", "a:b", "x%y", "TRUCK"]
    rows = [(i, modes[i % len(modes)]) for i in range(40)]
    df = _as_parquet(spark, rows, "id long, mode string", tmp_path)
    for src in (df.filter("id < 20"), df):
        r = sync_table(spark, src, cfg, store,
                       staging_path=staging, target_path=target)
        assert r.verified and r.files_loaded == r.files_staged > 0
    got = sorted((r["id"], r["mode"])
                 for r in spark.read.parquet(target).collect())
    assert got == rows


def test_microsecond_cursor_noop_poll_extracts_nothing(spark, store,
                                                        tmp_path):
    """The committed cursor keeps microseconds: a poll with no new rows
    must not re-extract the versions of the cursor's last second (a cursor
    floored to the second re-selects them and stages a duplicate)."""
    import datetime as dt
    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    rows = [(i, base + dt.timedelta(microseconds=250_123 * i))
            for i in range(1, 41)]
    src = _as_parquet(spark, rows, "id long, updated_at timestamp", tmp_path)
    cfg = TableConfig(table_name="ev", cdc_strategy="hybrid",
                      cdc_timestamp_column="updated_at", cdc_id_column="id")
    staging = str(tmp_path / "staging")
    target = str(tmp_path / "target")
    r1 = sync_table(spark, src, cfg, store,
                    staging_path=staging, target_path=target)
    assert r1.rows_extracted == len(rows) and r1.verified

    r2 = sync_table(spark, src, cfg, store,
                    staging_path=staging, target_path=target)
    assert r2.rows_extracted == 0 and r2.files_staged == 0
    assert r2.target_rows == len(rows) and r2.verified
    assert r2.new_watermark.last_timestamp == \
        rows[-1][1].strftime("%Y-%m-%d %H:%M:%S.%f")


def test_noop_sync_recovers_when_load_never_committed(spark, orders, store,
                                                     tmp_path):
    """Crash window between extraction commit and load commit: the staged
    counter runs ahead of the loaded counter, so the next (empty-delta)
    sync must still discover and load the stranded files."""
    staging = str(tmp_path / "staging")
    target = str(tmp_path / "target")
    cfg = _orders_cfg()
    r1 = sync_table(spark, orders, cfg, store,
                    staging_path=staging, target_path=target)

    # simulate the crash: roll the loaded counter back and wipe target +
    # manifest, as if the load stage never happened
    doc = store.get("src", "orders", "tgt")
    doc["redshift_state"]["files_loaded_total"] = 0
    doc["redshift_state"]["status"] = "in_progress"
    store.backend.put(store._key("src", "orders", "tgt"), doc)
    import shutil
    shutil.rmtree(target)
    shutil.rmtree(os.path.join(staging, "_manifest"))

    r2 = sync_table(spark, orders, cfg, store,
                    staging_path=staging, target_path=target)
    assert r2.rows_extracted == 0
    assert r2.files_loaded == r1.files_staged        # stranded files loaded
    assert spark.read.parquet(target).count() == orders.count()

    # counters resynced: the NEXT no-op pays no listing again
    doc = store.get("src", "orders", "tgt")
    assert not sync_mod_leftovers(doc)


def sync_mod_leftovers(doc):
    from s3_redshift_backup_tool_spark.plans.sync import (
        _staging_may_have_leftovers)
    return _staging_may_have_leftovers(doc)


def test_staging_partitions_floor_on_small_batches(spark, orders):
    """Small batches keep full write parallelism: the estimate-derived
    count never drops below the floor (AQE would otherwise coalesce the
    staging shuffle to one serial writer task)."""
    from s3_redshift_backup_tool_spark.plans.sync import staging_partitions
    assert staging_partitions(orders, 32) == 32


def test_staging_partitions_scales_with_estimate(spark):
    """The count grows with Catalyst's size estimate (~target_bytes per
    partition) and is clamped at the cap when the estimate asks for
    more — never overflows, never returns a number above cap."""
    from s3_redshift_backup_tool_spark.plans.sync import staging_partitions

    big = spark.range(0, 10_000_000).selectExpr(
        "id", "repeat('x', 64) AS pad")
    n = staging_partitions(big, 4, target_bytes=1 << 20, cap=10_000)
    assert 4 < n <= 10_000
    # cap clamps: a tiny target forces need >> cap
    assert staging_partitions(big, 4, target_bytes=1, cap=7) == 7


def test_staging_partitions_unknown_estimate_uses_floor(spark):
    """An in-memory source has no size estimate (Long.Max): the count is
    the floor, not the cap, so a 40-row batch gets 4 write tasks, not
    10,000."""
    from s3_redshift_backup_tool_spark.plans.sync import staging_partitions

    small = spark.createDataFrame([(i, f"r{i}") for i in range(40)],
                                  "id long, s string")
    assert staging_partitions(small, 4) == 4
