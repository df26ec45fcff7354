"""Round-10 pinned regressions: the four ADVICE-r9 findings
(append_txn generated columns, CoW UPDATE change-data images, merge_dv
reserved DV address names, planted-id headroom guard) plus the CoW CDF
stream leg."""

import os

import pytest
from pyspark.sql import functions as F

_posix_log = pytest.mark.skipif(
    os.environ.get("FEFAL_TABLE_BACKEND") == "memory",
    reason="needs the commit log on the filesystem (disk artifact "
    "inspection or DataSource worker-side log reads)",
)


# ----------------------------------------------------------------------
# ADVICE r9 #1: append_txn derives generated (hidden-partition) columns
# ----------------------------------------------------------------------


def test_append_txn_derives_generated_columns(spark, tmp_path):
    """A streaming append through the txn ledger onto a table whose
    evolved spec includes a generated column must derive it like
    append() does (pre-fix: missing-column AnalysisException at
    stage_files)."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (2, "2024-01-02 11:00:00")],
        "k int, ts string",
    ).select("k", F.col("ts").cast("timestamp").alias("ts"))
    t.overwrite(base, generated={"day": "to_date(ts)"})
    t.set_partition_spec(["day"])
    batch = spark.createDataFrame(
        [(3, "2024-01-03 09:00:00")], "k int, ts string"
    ).select("k", F.col("ts").cast("timestamp").alias("ts"))
    v = t.append_txn(batch, app_id="app", txn_version=1)
    assert v is not None
    got = sorted(
        (r["k"], str(r["day"])) for r in t.read().collect()
    )
    assert got == [
        (1, "2024-01-01"), (2, "2024-01-02"), (3, "2024-01-03")
    ]
    # the derived column reached the hive layout (partition-pruned)
    mf = t._read_manifest(t.latest_version())
    new_files = [
        f for f in mf.files if f not in set(t._read_manifest(1).files)
    ]
    assert new_files and all("day=2024-01-03" in f for f in new_files)
    # replay of the same txn stays a no-op
    assert t.append_txn(batch, app_id="app", txn_version=1) is None
    assert t.read().count() == 3


# ----------------------------------------------------------------------
# ADVICE r9 #3: merge_dv on a table keyed by columns named file/pos
# ----------------------------------------------------------------------


def test_merge_dv_key_named_file_pos(spark, tmp_path):
    """The DV address columns use reserved __dv_* names internally, so
    a table keyed on columns literally named ``file``/``pos`` must
    merge cleanly (pre-fix: duplicate/ambiguous column names broke the
    sidecar staging and CDF split)."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [("a", 1, 10.0), ("b", 2, 20.0), ("c", 3, 30.0)],
            "file string, pos int, v double",
        ).repartition(2)
    )
    src = spark.createDataFrame(
        [("b", 2, 999.0), ("d", 4, 40.0)],
        "file string, pos int, v double",
    )
    t.merge_dv(src, keys=["file", "pos"])
    got = sorted(
        (r["file"], r["pos"], r["v"]) for r in t.read().collect()
    )
    assert got == [
        ("a", 1, 10.0), ("b", 2, 999.0), ("c", 3, 30.0), ("d", 4, 40.0)
    ]
    # CDF split recorded correctly despite the reserved-name collision
    feed = t.change_feed(0, 1)
    types = {
        (r["file"], r["_change_type"]) for r in feed.collect()
    }
    assert types == {
        ("b", "update_preimage"),
        ("b", "update_postimage"),
        ("d", "insert"),
    }


# ----------------------------------------------------------------------
# ADVICE r9 #2: CoW UPDATE change-data images (Delta CDF parity)
# ----------------------------------------------------------------------


def test_cow_update_images_survive_vacuum(spark, tmp_path):
    """The CoW change-data files are referenced only by the commit
    record — vacuum must keep them live for retained versions so the
    feed stays replayable."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(i, float(i)) for i in range(8)], "k int, v double"
        ).coalesce(1)
    )  # v0
    t.set_property("cdf.images", "true")  # v1
    t.update_where("k = 3", {"v": "333"})  # v2
    t.append(
        spark.createDataFrame([(100, 1.0)], "k int, v double")
    )  # v3
    t.vacuum(keep_versions=4)  # keeps v0..v3
    got = {
        (r["k"], r["_change_type"]): r["v"]
        for r in t.change_feed(1, 2).collect()
    }
    assert got == {
        (3, "update_preimage"): 3.0,
        (3, "update_postimage"): 333.0,
    }


def test_cow_update_feed_replay_reconstructs(spark, tmp_path):
    """Keyed replay over a mixed append/CoW-update/delete history
    reconstructs the live snapshot — the CoW images integrate with the
    other verbs' feed semantics."""
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(i, float(i) * 10) for i in range(6)], "k int, v double"
        ).repartition(2)
    )  # v0
    t.set_property("cdf.images", "true")  # v1
    t.update_where("k IN (1, 4)", {"v": "v + 0.5"})  # v2
    t.delete_where("k = 2")  # v3
    t.append(
        spark.createDataFrame([(9, 90.0)], "k int, v double")
    )  # v4
    full = t.change_feed(-1, 4)
    sig = (
        full.select(
            "k",
            "v",
            F.when(
                F.col("_change_type").isin("insert", "update_postimage"),
                1,
            )
            .otherwise(-1)
            .alias("d"),
        )
        .groupBy("k", "v")
        .agg(F.sum("d").alias("n"))
        .filter("n = 1")
    )
    replayed = sorted((r["k"], r["v"]) for r in sig.collect())
    live = sorted((r["k"], r["v"]) for r in t.read().collect())
    assert replayed == live
    assert (1, 10.5) in replayed and (4, 40.5) in replayed


@_posix_log
def test_changes_stream_cow_update_images(spark, tmp_path):
    """The streaming CDF source emits the recorded CoW images — one
    preimage + one postimage per matched row, nothing for survivors in
    the rewritten files."""
    from fefal_etl_spark.streaming.table_source import (
        TxnTableChangesDataSource,
    )
    from fefal_etl_spark.table import TransactionalTable

    spark.dataSource.register(TxnTableChangesDataSource)
    root = str(tmp_path / "t")
    t = TransactionalTable(spark, root)
    t.overwrite(spark.range(10).select(F.col("id").alias("k")))
    t.set_property("cdf.images", "true")
    t.update_where("k = 7", {"k": "700"})
    df = (
        spark.readStream.format("txn_table_changes")
        .option("path", root)
        .load()
    )
    q = (
        df.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    r = spark.read.parquet(str(tmp_path / "out"))
    v2 = {
        (x["k"], x["_change_type"])
        for x in r.filter("_commit_version = 2").collect()
    }
    assert v2 == {(7, "update_preimage"), (700, "update_postimage")}
    # v0 stays a plain full insert of the 10 original rows
    assert r.filter(
        "_commit_version = 0 AND _change_type = 'insert'"
    ).count() == 10


# ----------------------------------------------------------------------
# ADVICE r9 #4: planted-id namespace headroom guard
# ----------------------------------------------------------------------


def test_plant_headroom_guard(spark, tmp_path):
    """A fixture whose real ids reach the reserved planted namespace
    must fail LOUDLY at query build time (pre-fix: silent id collision
    made dedup assignment ties engine-dependent)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fefal_etl_spark import cache
    from fefal_etl_spark.llm.queries import _assert_plant_headroom

    ok_dir = tmp_path / "ok"
    bad_dir = tmp_path / "bad"
    os.makedirs(ok_dir)
    os.makedirs(bad_dir)
    pq.write_table(
        pa.table({"doc_id": [1, 2, 999], "text": ["a", "b", "c"]}),
        str(ok_dir / "documents.parquet"),
    )
    pq.write_table(
        pa.table(
            {"doc_id": [1, 1_000_000], "text": ["a", "b"]}
        ),
        str(bad_dir / "documents.parquet"),
    )
    _assert_plant_headroom(spark, str(ok_dir), "documents", "doc_id")
    with pytest.raises(ValueError, match="namespace collision"):
        _assert_plant_headroom(spark, str(bad_dir), "documents", "doc_id")
    # memoized: second probe of the same key does not re-read
    hits, misses = cache.counts("ns_max")
    with pytest.raises(ValueError, match="= 1000000 reaches"):
        _assert_plant_headroom(spark, str(bad_dir), "documents", "doc_id")
    assert cache.counts("ns_max") == (hits + 1, misses)


# ----------------------------------------------------------------------
# VERDICT r9 item 2: streaming rate limiting (maxFilesPerTrigger /
# maxBytesPerTrigger on txn_table_stream / txn_table_changes)
# ----------------------------------------------------------------------


def _drain_limited(spark, df, out, ckpt, target_rows, timeout_s=120):
    """Run a rate-limited stream on a fast processingTime trigger until
    the parquet sink holds target_rows (availableNow latches its run
    target from the FIRST admitted offset, so limited streams use a
    processingTime trigger — documented in _RateLimit)."""
    import time

    q = (
        df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            try:
                if spark.read.parquet(out).count() >= target_rows:
                    break
            except Exception:
                pass
            time.sleep(0.5)
    finally:
        q.stop()
        q.awaitTermination()


def _batch_offsets(ckpt):
    import glob
    import json

    out = []
    for p in sorted(
        glob.glob(os.path.join(ckpt, "offsets", "*")),
        key=lambda x: int(os.path.basename(x)),
    ):
        with open(p) as f:
            out.append(json.loads(f.read().splitlines()[-1]))
    return out


@_posix_log
def test_stream_rate_limit_splits_backfill_commit(spark, tmp_path):
    """One 100-file commit + maxFilesPerTrigger=25 → ≥4 micro-batches,
    each bounded, sink row set exactly the table (VERDICT r9 item 2's
    done-criterion)."""
    from fefal_etl_spark.streaming.table_source import (
        TxnTableStreamDataSource,
    )
    from fefal_etl_spark.table import TransactionalTable

    spark.dataSource.register(TxnTableStreamDataSource)
    root = str(tmp_path / "t")
    t = TransactionalTable(spark, root)
    t.overwrite(
        spark.range(1000).select(F.col("id").alias("k")).repartition(100)
    )
    assert len(t._read_manifest(0).files) == 100
    df = (
        spark.readStream.format("txn_table_stream")
        .option("path", root)
        .option("maxFilesPerTrigger", "25")
        .load()
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _drain_limited(spark, df, out, ckpt, 1000)
    r = spark.read.parquet(out)
    assert r.count() == 1000 and r.distinct().count() == 1000
    offs = _batch_offsets(ckpt)
    assert len(offs) >= 4  # 100 files / 25 per trigger
    # intermediate offsets carry the intra-commit index; the final one
    # normalizes to the legacy whole-version shape
    assert any("index" in o for o in offs[:-1])
    # legacy whole-version shape plus the r11 persistent watermark
    assert offs[-1]["version"] == 0 and "index" not in offs[-1]
    assert "wm" in offs[-1]  # stamp() — survives-restart clamp floor


@_posix_log
@pytest.mark.slow
def test_stream_rate_limit_restart_exactly_once(spark, tmp_path):
    """Kill the limited stream mid-commit, restart on the same
    checkpoint: the offset-log replay resyncs admission (partitions()
    runs before any latestOffset), and the final row set is exactly
    the table — no loss, no duplicates."""
    import time

    from fefal_etl_spark.streaming.table_source import (
        TxnTableStreamDataSource,
    )
    from fefal_etl_spark.table import TransactionalTable

    spark.dataSource.register(TxnTableStreamDataSource)
    root = str(tmp_path / "t")
    t = TransactionalTable(spark, root)
    t.overwrite(
        spark.range(600).select(F.col("id").alias("k")).repartition(60)
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def start():
        df = (
            spark.readStream.format("txn_table_stream")
            .option("path", root)
            .option("maxFilesPerTrigger", "10")
            .load()
        )
        return (
            df.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="100 milliseconds")
            .start()
        )

    q = start()
    deadline = time.time() + 60
    while time.time() < deadline:
        try:
            if spark.read.parquet(out).count() >= 100:
                break
        except Exception:
            pass
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()
    mid = spark.read.parquet(out).count()
    # usually stopped mid-backfill; on a fast host the drain can win
    # the race — the restart contract below holds either way
    assert 100 <= mid <= 600
    # more data lands while the stream is down
    t.append(spark.range(600, 650).select(F.col("id").alias("k")))
    q = start()
    # generous: under full-suite contention a restarted stream can take
    # tens of seconds per micro-batch (observed in round-11's close run)
    deadline = time.time() + 240
    while time.time() < deadline:
        try:
            if spark.read.parquet(out).count() >= 650:
                break
        except Exception:
            pass
        time.sleep(0.3)
    q.stop()
    q.awaitTermination()
    r = spark.read.parquet(out)
    assert r.count() == 650 and r.distinct().count() == 650
    assert sorted(x["k"] for x in r.distinct().collect()) == list(range(650))


@_posix_log
def test_changes_stream_rate_limit(spark, tmp_path):
    """The CDF stream splits a wide commit at CDF-unit granularity and
    the replayed feed still matches the batch change_feed."""
    from fefal_etl_spark.streaming.table_source import (
        TxnTableChangesDataSource,
    )
    from fefal_etl_spark.table import TransactionalTable

    spark.dataSource.register(TxnTableChangesDataSource)
    root = str(tmp_path / "t")
    t = TransactionalTable(spark, root)
    t.overwrite(
        spark.range(400).select(F.col("id").alias("k")).repartition(40)
    )
    df = (
        spark.readStream.format("txn_table_changes")
        .option("path", root)
        .option("maxFilesPerTrigger", "10")
        .load()
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _drain_limited(spark, df, out, ckpt, 400)
    r = spark.read.parquet(out)
    assert r.count() == 400
    assert r.filter("_change_type = 'insert'").distinct().count() == 400
    assert len(_batch_offsets(ckpt)) >= 4


@_posix_log
def test_stream_rate_limit_bytes(spark, tmp_path):
    """maxBytesPerTrigger bounds batches too (≥1 file per trigger so a
    tiny budget still progresses)."""
    from fefal_etl_spark.streaming.table_source import (
        TxnTableStreamDataSource,
    )
    from fefal_etl_spark.table import TransactionalTable

    spark.dataSource.register(TxnTableStreamDataSource)
    root = str(tmp_path / "t")
    t = TransactionalTable(spark, root)
    t.overwrite(
        spark.range(100).select(F.col("id").alias("k")).repartition(8)
    )
    df = (
        spark.readStream.format("txn_table_stream")
        .option("path", root)
        .option("maxBytesPerTrigger", "1")
        .load()
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _drain_limited(spark, df, out, ckpt, 100)
    r = spark.read.parquet(out)
    assert r.count() == 100 and r.distinct().count() == 100
    assert len(_batch_offsets(ckpt)) == 8  # one file per batch


@_posix_log
def test_stream_unlimited_offsets_keep_legacy_shape(spark, tmp_path):
    """Without a rate limit nothing changes: one batch per drain, and
    the checkpointed offsets stay the pre-r10 {"version": v} shape
    (old checkpoints keep resolving)."""
    from fefal_etl_spark.streaming.table_source import (
        TxnTableStreamDataSource,
    )
    from fefal_etl_spark.table import TransactionalTable

    spark.dataSource.register(TxnTableStreamDataSource)
    root = str(tmp_path / "t")
    t = TransactionalTable(spark, root)
    t.overwrite(
        spark.range(100).select(F.col("id").alias("k")).repartition(10)
    )
    df = (
        spark.readStream.format("txn_table_stream")
        .option("path", root)
        .load()
    )
    q = (
        df.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.read.parquet(str(tmp_path / "out")).count() == 100
    offs = _batch_offsets(str(tmp_path / "ckpt"))
    assert offs == [{"version": 0}]


# ----------------------------------------------------------------------
# VERDICT r9 item 3: persistent name->root catalog
# ----------------------------------------------------------------------


def test_catalog_create_resolve_drop(spark, tmp_path):
    from fefal_etl_spark.catalog import CatalogError, TableCatalog
    from fefal_etl_spark.table import TransactionalTable

    wh = str(tmp_path / "wh")
    cat = TableCatalog(wh)
    root = cat.create_table("orders")
    assert root == os.path.join(wh, "orders")
    TransactionalTable(spark, root).overwrite(
        spark.range(5).select(F.col("id").alias("k"))
    )
    assert cat.table(spark, "orders").read().count() == 5
    # CREATE is not idempotent (SQL semantics)
    with pytest.raises(CatalogError, match="already exists"):
        cat.create_table("orders")
    # register = upsert (SET LOCATION shape); external root
    ext = str(tmp_path / "ext_root")
    TransactionalTable(spark, ext).overwrite(
        spark.range(3).select(F.col("id").alias("k"))
    )
    cat.register("extern", ext)
    assert cat.resolve("extern") == ext
    # purge refuses external roots; plain drop unbinds only
    with pytest.raises(CatalogError, match="EXTERNAL"):
        cat.drop("extern", purge=True)
    assert "extern" in cat.tables()  # nothing half-dropped
    cat.drop("extern")
    assert "extern" not in cat.tables()
    assert os.path.isdir(ext)  # data untouched
    # purge removes managed data
    cat.drop("orders", purge=True)
    assert not os.path.isdir(root)
    with pytest.raises(CatalogError, match="unknown table"):
        cat.resolve("orders")


def _catalog_race_worker(wh, out, i):
    import sys

    sys.path.insert(0, "/root/repo")
    from fefal_etl_spark.catalog import CatalogError, TableCatalog

    try:
        TableCatalog(wh).create_table("t", root=f"{wh}/claim{i}")
        out.put(("win", i))
    except CatalogError:
        out.put(("lose", i))


@_posix_log
def test_catalog_concurrent_create_one_winner(tmp_path):
    """Four OS processes racing CREATE TABLE of the same name through
    the CAS log: exactly one wins, the losers raise, and the catalog
    holds ONE binding."""
    import multiprocessing as mp

    wh = str(tmp_path / "wh")
    os.makedirs(wh)
    ctx = mp.get_context("spawn")
    out = ctx.Queue()
    procs = [
        ctx.Process(target=_catalog_race_worker, args=(wh, out, i))
        for i in range(4)
    ]
    for p in procs:
        p.start()
    results = [out.get(timeout=60) for _ in procs]
    for p in procs:
        p.join()
    wins = [r for r in results if r[0] == "win"]
    assert len(wins) == 1
    from fefal_etl_spark.catalog import TableCatalog

    tables = TableCatalog(wh).tables()
    assert set(tables) == {"t"}
    assert tables["t"].endswith(f"claim{wins[0][1]}")


def test_execute_sql_catalog_resolution(spark, tmp_path):
    """DML and SELECT statements resolve table names through the
    catalog with no path in the call; explicit bindings shadow it."""
    from fefal_etl_spark.catalog import TableCatalog
    from fefal_etl_spark.sql_dml import execute_sql
    from fefal_etl_spark.table import TransactionalTable

    wh = str(tmp_path / "wh")
    cat = TableCatalog(wh)
    root = cat.create_table("t")
    TransactionalTable(spark, root).overwrite(
        spark.createDataFrame(
            [(1, 10.0), (2, 20.0), (3, 30.0)], "k int, v double"
        )
    )
    execute_sql(spark, "UPDATE t SET v = v + 1 WHERE k = 2", catalog=cat)
    execute_sql(spark, "DELETE FROM t WHERE k = 3", catalog=cat)
    got = execute_sql(
        spark, "SELECT k, v FROM t ORDER BY k", catalog=cat
    ).collect()
    assert [(r["k"], r["v"]) for r in got] == [(1, 10.0), (2, 21.0)]
    # an explicit binding shadows the catalog name
    other = TransactionalTable(spark, str(tmp_path / "other"))
    other.overwrite(spark.createDataFrame([(9, 9.0)], "k int, v double"))
    got = execute_sql(
        spark, "SELECT k FROM t", tables={"t": other}, catalog=cat
    ).collect()
    assert [r["k"] for r in got] == [9]


@_posix_log
def test_stream_source_by_catalog_name(spark, tmp_path):
    """Both table DataSources accept option('table') +
    option('warehouse') instead of a path."""
    from fefal_etl_spark.catalog import TableCatalog
    from fefal_etl_spark.streaming.table_source import (
        TxnTableStreamDataSource,
    )
    from fefal_etl_spark.table import TransactionalTable

    spark.dataSource.register(TxnTableStreamDataSource)
    wh = str(tmp_path / "wh")
    cat = TableCatalog(wh)
    root = cat.create_table("ev")
    TransactionalTable(spark, root).overwrite(
        spark.range(7).select(F.col("id").alias("k"))
    )
    df = (
        spark.readStream.format("txn_table_stream")
        .option("table", "ev")
        .option("warehouse", wh)
        .load()
    )
    q = (
        df.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.read.parquet(str(tmp_path / "out")).count() == 7


# ----------------------------------------------------------------------
# VERDICT r9 item 6: clustering metadata + clustered auto-OPTIMIZE
# ----------------------------------------------------------------------


def test_set_clustering_auto_compact_preserves_skipping(spark, tmp_path):
    """The liquid-clustering shape: declared clustering columns make
    every compact() — including the streaming sink's auto-compact
    path — rewrite along the z-order curve, so post-ingest maintenance
    PRESERVES multi-dimension data skipping (pre-r10 a bin-pack
    compact destroyed it)."""
    from fefal_etl_spark.table import TransactionalTable

    # enough incompressible bytes that compact(target=1MB) lands >4
    # files — a single output file could never show skipping
    n = 400_000

    def mk(lo, hi):
        return spark.range(lo, hi).select(
            (F.col("id") % 16).alias("a"),
            (F.expr("id div 16") % 16).alias("b"),
            F.md5(F.col("id").cast("string")).alias("pad"),
        )

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(mk(0, n).repartition(8))
    t.set_clustering("a", "b")
    # streaming-ingest shape: many small appended files, then compact
    for i in range(3):
        t.append(mk(n + i * 64, n + (i + 1) * 64))
    v = t.compact(target_file_mb=1)
    assert t._read_manifest(v).clustering == ["a", "b"]
    for col in ("a", "b"):
        kept, total = t.skipped_files(col, 2, 3)
        assert kept < total, f"compact destroyed skipping on {col}"
    # row fidelity: compact is a logical no-op
    assert t.read().count() == n + 3 * 64
    # no-arg optimize_zorder re-clusters per metadata
    v2 = t.optimize_zorder(n_files=4)
    assert v2 == v + 1
    kept, total = t.skipped_files("b", 2, 3)
    assert kept < total
    # restore rewinds the declaration with the snapshot
    t.set_clustering()  # clear
    assert t._read_manifest(t.latest_version()).clustering is None
    t.restore(v)
    assert t._read_manifest(t.latest_version()).clustering == ["a", "b"]


def test_set_clustering_validates_and_clears(spark, tmp_path):
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(
        spark.range(10).select(
            F.col("id").alias("k"),
            F.current_date().alias("d"),
        )
    )
    with pytest.raises(ValueError, match="not in the recorded schema"):
        t.set_clustering("nope")
    with pytest.raises(ValueError, match="no columns given"):
        t.optimize_zorder()
    # DATE looks integral but cast("long") raises on it — rejected at
    # declaration, not at the first later compact (review r10 #2)
    with pytest.raises(ValueError, match="not integral"):
        t.set_clustering("k", "d")
    with pytest.raises(ValueError, match="at most 4"):
        t.set_clustering("k", "k", "k", "k", "k")
    # explicit 4-column OPTIMIZE scales bits instead of raising
    df4 = spark.range(64).select(
        (F.col("id") % 4).alias("a"),
        (F.expr("id div 4") % 4).alias("b"),
        (F.expr("id div 16") % 4).alias("c"),
        (F.col("id") % 2).alias("e"),
    )
    t4 = TransactionalTable(spark, str(tmp_path / "t4"))
    t4.overwrite(df4.repartition(2))
    v = t4.optimize_zorder("a", "b", "c", "e", n_files=2)
    assert v == 1 and t4.read().count() == 64


# ----------------------------------------------------------------------
# review r10: property rewind, catalog drop race guard, restart clamp
# ----------------------------------------------------------------------


def test_properties_carry_and_restore_rewind(spark, tmp_path):
    from fefal_etl_spark.table import TransactionalTable

    t = TransactionalTable(spark, str(tmp_path / "t"))
    t.overwrite(spark.range(4).select(F.col("id").alias("k")))  # v0
    t.set_property("cdf.images", "true")  # v1
    t.set_property("owner", "etl")  # v2
    t.append(spark.range(4, 6).select(F.col("id").alias("k")))  # v3
    mf = t._read_manifest(3)
    assert mf.properties == {"cdf.images": "true", "owner": "etl"}
    t.set_property("cdf.images", None)  # v4: unset
    assert t._read_manifest(4).properties == {"owner": "etl"}
    # restore to v1 rewinds the property set with the snapshot
    t.restore(1)
    assert t._read_manifest(t.latest_version()).properties == {
        "cdf.images": "true"
    }


def test_catalog_drop_race_guard(tmp_path):
    """A drop whose binding was concurrently re-pointed must raise,
    not unbind the new binding (nor purge the stale root)."""
    from fefal_etl_spark.catalog import CatalogError, TableCatalog

    wh = str(tmp_path / "wh")
    r1, r2 = os.path.join(wh, "r1"), os.path.join(wh, "r2")
    cat_a = TableCatalog(wh)
    cat_a.create_table("t", root=r1)
    # simulate the interleaved writer winning between A's resolve and
    # A's CAS: publish a re-point through a second handle
    cat_b = TableCatalog(wh)

    orig_state = cat_a._state
    calls = {"n": 0}

    def racing_state():
        # first call = A's resolve() (sees r1); the re-point lands
        # BEFORE A's CAS read-modify-write (second call onward)
        calls["n"] += 1
        if calls["n"] == 2:
            cat_b.register("t", r2)
        return orig_state()

    cat_a._state = racing_state
    with pytest.raises(CatalogError, match="changed concurrently"):
        cat_a.drop("t", purge=True)
    assert TableCatalog(wh).resolve("t") == r2


def test_rate_limit_clamp_prevents_regression_replay():
    """Unit test of the clean-restart recovery (rewritten round 11,
    advice r10): the clamp keys on the delivered WATERMARK (max batch
    start ever seen in partitions — provably committed, since starts
    come from Spark's offset log), not on the admission position whose
    ``end == pos`` opt-out re-delivered the regressed catch-up range."""
    from fefal_etl_spark.streaming.table_source import _RateLimit

    rl = _RateLimit({"maxfilespertrigger": "10"})
    rl.resync({"version": 3})  # admission position — NOT the clamp key
    # crash-retry replay: the first batch seen sets the watermark and
    # is emitted in full
    assert rl.clamp_start(
        {"version": 2}, {"version": 3}
    ) == {"version": 2}
    # a later batch whose start regressed below the watermark clamps
    assert rl.clamp_start(
        {"version": 1, "index": 5}, {"version": 4}
    ) == {"version": 2}
    # normal advance: start at/above the watermark -> untouched
    assert rl.clamp_start({"version": 3}, {"version": 4}) == {
        "version": 3
    }


@_posix_log
@pytest.mark.slow
def test_stream_rate_limit_available_now_restart_cycles(spark, tmp_path):
    """Repeated availableNow runs over a rate-limited backfill: each
    run drains exactly one admitted batch (availableNow latches its
    target from the first latestOffset), idle re-runs add nothing, and
    the checkpointed offsets stay strictly monotone — pins the
    measured Spark 4.1.2 restart order (the offset-log replay hits
    partitions() before any admission, so a fresh reader's seeded
    position can never regress the log; review r10 #1's premise does
    not occur — this test breaks if a Spark upgrade changes that)."""
    import glob
    import json

    from fefal_etl_spark.streaming.table_source import (
        TxnTableStreamDataSource,
        _off_key,
    )
    from fefal_etl_spark.table import TransactionalTable

    spark.dataSource.register(TxnTableStreamDataSource)
    root = str(tmp_path / "t")
    t = TransactionalTable(spark, root)
    t.overwrite(
        spark.range(300).select(F.col("id").alias("k")).repartition(30)
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_available_now():
        df = (
            spark.readStream.format("txn_table_stream")
            .option("path", root)
            .option("maxFilesPerTrigger", "10")
            .load()
        )
        q = (
            df.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        r = spark.read.parquet(out)
        return r.count(), r.distinct().count()

    counts = [run_available_now() for _ in range(4)]
    assert counts[-1] == (300, 300)  # drained, exactly once
    assert counts[-2] == (300, 300)  # idle re-run adds nothing
    t.append(spark.range(300, 400).select(F.col("id").alias("k")))
    n, d = run_available_now()
    assert (n, d) == (400, 400)
    offs = [
        json.loads(open(p).read().splitlines()[-1])
        for p in sorted(
            glob.glob(os.path.join(ckpt, "offsets", "*")),
            key=lambda x: int(os.path.basename(x)),
        )
    ]
    keys = [_off_key(o) for o in offs]
    # non-decreasing: a restart may add ONE wm-refresh batch whose key
    # repeats (round 11 — stamp()'s persistent watermark entering the
    # log; it is empty, exactly-once is asserted on the data above),
    # but keys never REGRESS and full offsets never repeat
    assert keys == sorted(keys)
    full = [json.dumps(o, sort_keys=True) for o in offs]
    assert len(set(full)) == len(full)


def test_levenshtein_plan_single_dp_eval(spark):
    """The edit-distance DP must sit ABOVE the join (never inside the
    join condition, where it would run on every block-equal row ahead
    of the cheap conjuncts) and appear exactly ONCE. Round 12: the
    pre-barrier frame (`_levenshtein_scored`) contains no dist
    predicate at all, so these properties hold deterministically —
    nothing for any optimizer version to push — and the query then
    cuts a localCheckpoint barrier on the three-long scored frame, so
    the range filter above compares a MATERIALIZED column (the old
    nondeterministic `__fence` filter, which leaned on a Catalyst
    pushdown rule, is retired)."""
    from fefal_etl_spark.llm.queries import _levenshtein_scored
    from fefal_etl_spark.queries import get_queries

    scored = _levenshtein_scored(spark, "/root/testdata/sf0.001")
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert plan.count("levenshtein") == 1
    for line in plan.splitlines():
        if "Join" in line:
            assert "levenshtein" not in line
    # the full query's final plan sits entirely above the barrier: the
    # join and the DP live below the RDD boundary, so the dist filter
    # physically CANNOT reach them
    df = get_queries()["levenshtein_neardup"](
        spark, "/root/testdata/sf0.001"
    )
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in final and "levenshtein" not in final
    assert "ExistingRDD" in final or "Scan ExistingRDD" in final
    # and it still finds the planted tail pairs
    assert df.count() > 0
