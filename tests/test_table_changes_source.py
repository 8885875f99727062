"""Streaming CDF source (sources/table_changes_source.py): readStream
over a versioned table's change feed — offset = commit version, batches
from commit artifacts, exactly-once across restarts, Delta-style COW
failure / skipChangeCommits semantics."""

import pytest
from pyspark.sql import functions as F

from vptstools_spark.plans.timetravel import (
    commit_append,
    commit_initial,
    commit_upsert,
    commit_upsert_mor,
    delete_where,
    table_changes,
)


def _register(spark):
    from vptstools_spark.sources.table_changes_source import (
        TableChangesDataSource,
    )

    spark.dataSource.register(TableChangesDataSource)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, day int, v double")


def _run(spark, path, out, ckpt, **opts):
    r = spark.readStream.format("table_changes")
    for k, v in opts.items():
        r = r.option(k, v)
    q = (
        r.load(path)
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", out)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    try:
        return spark.read.parquet(out)
    except Exception:
        return None  # zero batches committed: sink dir not yet readable


def _changes(df):
    return sorted(
        (r["k"], r["day"], r["v"], r["_change_type"], r["_commit_version"])
        for r in df.collect()
    )


def test_stream_matches_batch_feed(spark, tmp_path):
    """Full-history stream ≡ the batch table_changes feed over a MOR
    history (initial + append + MOR upsert + delete)."""
    _register(spark)
    path = str(tmp_path / "tt")
    commit_initial(
        _df(spark, [(1, 0, 1.0), (2, 1, 2.0), (3, 2, 3.0)]), path, ["day"]
    )
    commit_append(spark, path, _df(spark, [(4, 0, 4.0)]))
    commit_upsert_mor(spark, path, _df(spark, [(2, 1, 9.0)]), keys=["k"])
    delete_where(spark, path, "k = 3")

    got = _run(
        spark, path, str(tmp_path / "out"), str(tmp_path / "ckpt")
    ).select("k", "day", "v", "_change_type", "_commit_version")
    want = table_changes(spark, path, -1).select(
        "k", "day", "v", "_change_type", "_commit_version"
    )
    assert _changes(got) == _changes(want)
    # spot-check semantics: the MOR upsert is a delete+insert pair for k=2
    k2 = [(c, v) for (k, _, _, c, v) in _changes(got) if k == 2]
    assert ("delete", 2) in k2 and ("insert", 2) in k2


def test_stream_resumes_exactly_once(spark, tmp_path):
    """Commits landing after the first run stream from the checkpointed
    version offset — nothing reprocessed, nothing missed."""
    _register(spark)
    path = str(tmp_path / "tt2")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    commit_initial(_df(spark, [(1, 0, 1.0), (2, 1, 2.0)]), path, ["day"])
    first = _run(spark, path, out, ckpt)
    assert len(_changes(first)) == 2

    commit_append(spark, path, _df(spark, [(5, 1, 5.0)]))
    delete_where(spark, path, "k = 1")
    second = _run(spark, path, out, ckpt)
    ch = _changes(second)
    assert len(ch) == 4  # 2 initial inserts + 1 append insert + 1 delete
    assert (5, 1, 5.0, "insert", 1) in ch
    assert (1, 0, 1.0, "delete", 2) in ch
    # exactly-once: no (row, change, version) appears twice
    assert len(set(ch)) == len(ch)


def test_cow_commit_fails_unless_skipped(spark, tmp_path):
    """A copy-on-write upsert in the range fails the stream with a clear
    error (its row changes are not in commit artifacts); Delta-style
    skipChangeCommits opts into skipping it."""
    _register(spark)
    path = str(tmp_path / "tt3")
    commit_initial(_df(spark, [(1, 0, 1.0), (2, 1, 2.0)]), path, ["day"])
    commit_upsert(spark, path, _df(spark, [(1, 0, 8.0)]), keys=["k"])
    commit_append(spark, path, _df(spark, [(6, 1, 6.0)]))

    with pytest.raises(Exception, match="copy-on-write|skipChangeCommits"):
        _run(spark, path, str(tmp_path / "o1"), str(tmp_path / "c1"))

    got = _run(
        spark,
        path,
        str(tmp_path / "o2"),
        str(tmp_path / "c2"),
        skipChangeCommits="true",
    )
    ch = _changes(got)
    # v0 inserts + v2 append; the COW v1 is skipped
    assert (6, 1, 6.0, "insert", 2) in ch
    assert all(v != 1 for (_, _, _, _, v) in ch)


def test_starting_version_latest_only_future(spark, tmp_path):
    _register(spark)
    path = str(tmp_path / "tt4")
    commit_initial(_df(spark, [(1, 0, 1.0)]), path, ["day"])
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    # startingVersion=latest at stream start: history not emitted
    first = _run(spark, path, out, ckpt, startingVersion="latest")
    assert first is None or first.count() == 0
    commit_append(spark, path, _df(spark, [(2, 1, 2.0)]))
    second = _run(spark, path, out, ckpt, startingVersion="latest")
    assert _changes(second) == [(2, 1, 2.0, "insert", 1)]


def test_partition_values_reattach_and_types(spark, tmp_path):
    """Hive-encoded partition values (incl. NULL) come back typed."""
    _register(spark)
    path = str(tmp_path / "tt5")
    df = spark.createDataFrame(
        [(1, True, 1.0), (2, None, 2.0)], "k long, flag boolean, v double"
    )
    commit_initial(df, path, ["flag"])
    got = _run(spark, path, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    assert dict(got.dtypes)["flag"] == "boolean"
    vals = sorted(
        (r["k"], r["flag"]) for r in got.select("k", "flag").collect()
    )
    assert vals == [(1, True), (2, None)]


def test_stream_source_drives_matview_refresh(spark, tmp_path):
    """The closed loop: a matview maintained by foreachBatch OVER the CDF
    stream — per micro-batch, the batch's changed partitions drive a
    partition-scoped refresh; final MV state equals a from-scratch build.
    This is the end-to-end 'derived table maintained from a stream of
    table changes' shape (Delta CDF → MERGE pattern)."""
    from vptstools_spark.plans.matview import (
        MatViewDef,
        Measure,
        create_matview,
        read_matview,
        refresh_matview,
    )
    from vptstools_spark.plans.timetravel import (
        commit_append,
        commit_upsert_mor,
        read_version,
    )

    _register(spark)
    path = str(tmp_path / "tt6")
    mv = str(tmp_path / "mv")
    commit_initial(
        _df(spark, [(1, 0, 1.0), (2, 1, 2.0), (3, 2, 3.0)]), path, ["day"]
    )
    MVD = MatViewDef(
        "by_day", ("day",),
        {"s": Measure("sum", "v"), "n": Measure("count", "*")},
        partition_dim="day",
    )
    create_matview(read_version(spark, path, 0), mv, MVD)
    commit_append(spark, path, _df(spark, [(4, 0, 4.0)]))
    commit_upsert_mor(spark, path, _df(spark, [(2, 1, 9.0)]), keys=["k"])

    def refresh(batch_df, batch_id):
        days = [
            r["day"] for r in batch_df.select("day").distinct().collect()
        ]
        if days:
            refresh_matview(read_version(spark, path), mv, days)

    q = (
        spark.readStream.format("table_changes")
        .option("startingVersion", "1")  # the MV already covers v0
        .load(path)
        .writeStream.foreachBatch(refresh)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    full = str(tmp_path / "mv_full")
    create_matview(read_version(spark, path), full, MVD)
    got_df, _ = read_matview(spark, mv)
    want_df, _ = read_matview(spark, full)
    got = sorted((r["day"], r["s"], r["n"]) for r in got_df.collect())
    want = sorted((r["day"], r["s"], r["n"]) for r in want_df.collect())
    assert got == want


def test_rename_mid_stream_fails_then_restart_adopts(spark, tmp_path):
    """A rename past the pinned schema fails the stream (Delta schema-
    change semantics); a restarted stream re-pins, folds pre-rename files
    forward, and a full replay emits the renamed column throughout."""
    from vptstools_spark.plans.timetravel import rename_columns

    _register(spark)
    path = str(tmp_path / "tt7")
    commit_initial(_df(spark, [(1, 0, 1.0)]), path, ["day"])
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    first = _run(spark, path, out, ckpt)
    assert first.count() == 1

    # pin a reader BEFORE the rename — the stand-in for a continuously
    # running stream whose schema was fixed at start
    from vptstools_spark.sources.table_changes_source import (
        TableChangesDataSource,
    )

    ds = TableChangesDataSource({"path": path})
    live_reader = ds.streamReader(ds.schema())

    rename_columns(spark, path, {"v": "val"})
    commit_append(
        spark,
        path,
        spark.createDataFrame([(2, 1, 2.0)], "k long, day int, val double"),
    )
    with pytest.raises(ValueError, match="changed the schema"):
        live_reader.partitions({"version": 0}, {"version": 2})
    # restart = new reader (schema re-pins at construction); resume from
    # the same checkpoint: only the post-rename append arrives, renamed.
    # (Fresh sink dir because the old one holds pre-rename-schema files;
    # a FileStreamSink's own metadata log starts mid-checkpoint there, so
    # read the part files directly.)
    import glob as _g

    out2 = str(tmp_path / "out2")
    _run(spark, path, out2, ckpt)
    resumed = spark.read.parquet(*_g.glob(f"{out2}/part-*.parquet"))
    assert "val" in resumed.columns
    assert [(r["k"], r["val"]) for r in resumed.collect()] == [(2, 2.0)]
    # cold replay from version 0: pre-rename files fold to the new name
    replay = _run(spark, path, str(tmp_path / "out3"), str(tmp_path / "ck3"))
    assert sorted((r["k"], r["val"]) for r in replay.collect()) == [
        (1, 1.0),
        (2, 2.0),
    ]


def test_max_versions_per_trigger_bounds_cold_start(spark, tmp_path):
    """Admission control (VERDICT r5 #2): a fresh stream against a
    commit backlog drains in multiple bounded runs instead of one
    unbounded micro-batch, exactly-once preserved across the restarts."""
    _register(spark)
    path = str(tmp_path / "t")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    commit_initial(_df(spark, [(0, 0, 0.0)]), path)
    for i in range(1, 8):  # 8-commit backlog
        commit_append(spark, path, _df(spark, [(i, i, float(i))]))

    seen_versions: list[set[int]] = []
    for _run_i in range(10):
        df = _run(spark, path, out, ckpt, maxVersionsPerTrigger="3")
        got = {r["_commit_version"] for r in df.collect()}
        new = got - set().union(*seen_versions) if seen_versions else got
        seen_versions.append(new)
        if max(got) == 7:
            break
    # each availableNow run admitted at most 3 versions
    assert all(len(s) <= 3 for s in seen_versions)
    assert len([s for s in seen_versions if s]) >= 3  # >= ceil(8/3) runs
    # exactly-once: every version exactly once across all runs
    final = spark.read.parquet(out)
    per_version = (
        final.groupBy("_commit_version").count().collect()
    )
    assert sorted(r["_commit_version"] for r in per_version) == list(range(8))
    assert all(r["count"] == 1 for r in per_version)


def test_delete_positions_spill_to_sidecar(spark, tmp_path):
    """Oversized delete-position lists are NOT inlined in task
    descriptors: the executor re-derives them from the vector sidecars,
    and the feed values are identical to the inline path."""
    from vptstools_spark.sources.table_changes_source import (
        TableChangesStreamReader,
    )

    _register(spark)
    path = str(tmp_path / "t")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    rows = [(i, i % 3, float(i)) for i in range(50)]
    commit_initial(_df(spark, rows).coalesce(1), path)
    delete_where(spark, path, F.col("k") % 2 == 0)  # 25 deleted rows

    old = TableChangesStreamReader.MAX_INLINE_POSITIONS
    TableChangesStreamReader.MAX_INLINE_POSITIONS = 10  # force the spill
    try:
        got = _changes(_run(spark, path, out, ckpt))
    finally:
        TableChangesStreamReader.MAX_INLINE_POSITIONS = old
    want = _changes(table_changes(spark, path, -1))
    assert got == want


def test_expired_gap_raises_contract_error(spark, tmp_path):
    """History expired under a tag gap: both the batch feed and the
    stream raise the clear contract error, not a raw sidecar miss."""
    from vptstools_spark.plans.branches import create_tag
    from vptstools_spark.plans.timetravel import expire_versions

    _register(spark)
    path = str(tmp_path / "t")
    commit_initial(_df(spark, [(0, 0, 0.0)]), path)
    for i in range(1, 5):
        commit_append(spark, path, _df(spark, [(i, i, float(i))]))
    create_tag(spark, path, "keep", version=1)
    expire_versions(spark, path, keep_last=2)  # survivors: 1(tag), 3, 4
    with pytest.raises(ValueError, match="expired"):
        table_changes(spark, path, 0)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    with pytest.raises(Exception, match="expired"):
        _run(spark, path, out, ckpt)


def test_vacuum_age_gate_protects_young_files(spark, tmp_path):
    """vacuum_table skips unreferenced files younger than
    min_age_seconds — an in-flight writer's not-yet-committed data
    survives an automated vacuum (ADVICE r5 medium)."""
    import os

    from vptstools_spark.plans.timetravel import (
        _DATA_DIR,
        read_version,
        vacuum_table,
    )

    path = str(tmp_path / "t")
    commit_initial(_df(spark, [(0, 0, 0.0)]), path)
    # simulate an in-flight writer: data written, commit JSON not yet
    # published (every commit protocol here is write-files-then-publish)
    staged = os.path.join(path, _DATA_DIR, "v1", "part-inflight.parquet")
    os.makedirs(os.path.dirname(staged), exist_ok=True)
    _df(spark, [(1, 1, 1.0)]).toPandas().to_parquet(staged)

    # default gate: the young unreferenced file is untouched
    assert vacuum_table(spark, path) == []
    assert vacuum_table(spark, path, dry_run=True) == []
    assert os.path.exists(staged)
    # age the file below the cutoff -> reclaimable
    os.utime(staged, (1, 1))
    assert vacuum_table(spark, path, dry_run=True) == ["v1/part-inflight.parquet"]
    assert vacuum_table(spark, path) == ["v1/part-inflight.parquet"]
    assert not os.path.exists(staged)
    assert read_version(spark, path).count() == 1


def test_max_files_per_trigger_bounds_batches(spark, tmp_path):
    """File-count admission shaping: versions admit until their
    cumulative new files pass the budget; the first pending version
    always admits (progress guarantee)."""
    _register(spark)
    path = str(tmp_path / "t")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    commit_initial(_df(spark, [(0, 0, 0.0)]).coalesce(1), path)
    for i in range(1, 6):  # each append adds 2 files
        commit_append(
            spark, path,
            _df(spark, [(10 * i, 0, 1.0), (10 * i + 1, 1, 1.0)]).repartition(2),
        )
    runs = 0
    for _ in range(10):
        df = _run(spark, path, out, ckpt, maxFilesPerTrigger="3")
        runs += 1
        if max(r["_commit_version"] for r in df.collect()) == 5:
            break
    assert runs >= 3  # 10 new files / 3-file budget, first-always rule
    final = spark.read.parquet(out)
    per_version = final.groupBy("_commit_version").count().collect()
    assert sorted(r["_commit_version"] for r in per_version) == list(range(6))


def test_resolved_memo_survives_table_recreation(spark, tmp_path):
    """ADVICE r8 #5: the worker-side resolved-commit memo must not serve a
    dropped-and-recreated table's OLD commit docs. The memo key carries the
    table's creation epoch (mtime of 00000000.json), so recreation at the
    same path misses the stale entries without any driver-side hook."""
    import shutil
    import time

    from vptstools_spark.sources import table_changes_source as tcs

    path = str(tmp_path / "t")
    commit_initial(_df(spark, [(1, 0, 1.0)]).coalesce(1), path)
    doc_old = tcs._read_commit(path, 0)
    # hit the memo once more to prove it serves from cache
    assert tcs._read_commit(path, 0) is doc_old

    # drop + recreate at the same path (new files, new schema content)
    shutil.rmtree(path)
    time.sleep(0.05)  # ensure a distinct mtime even on coarse filesystems
    commit_initial(_df(spark, [(2, 1, 2.0), (3, 1, 3.0)]).coalesce(1), path)
    doc_new = tcs._read_commit(path, 0)
    assert doc_new is not doc_old
    assert doc_new["files"] != doc_old["files"]
