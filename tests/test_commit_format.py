"""Commit-log format 2 (O(changed files) delta commits) — the Iceberg
manifest split (VERDICT r7 #5): commit JSON size must scale with the
CHANGED files, not the table's file count; resolution must reproduce the
format-1 full doc exactly; checkpoints must bound and survive history
expiry; and format-1 tables must keep working bit-compatibly."""

import json
import os

import pytest
from pyspark.sql import functions as F

from vptstools_spark.plans import timetravel as tt
from vptstools_spark.plans.timetravel import (
    commit_append,
    commit_initial,
    commit_upsert,
    commit_upsert_mor,
    delete_where,
    expire_versions,
    history,
    read_version,
    table_changes,
)


def _base(spark, n=400, parts=8):
    return spark.createDataFrame(
        [(i, i % parts, float(i)) for i in range(n)],
        "k long, part int, v double",
    ).repartition("part")


def _delta(spark, lo, hi, parts=8):
    return spark.createDataFrame(
        [(i, i % parts, float(i)) for i in range(lo, hi)],
        "k long, part int, v double",
    ).coalesce(1)


def _raw(path, v):
    return json.loads(open(os.path.join(path, "_log", f"{v:08d}.json")).read())


def test_commit_size_o_changed_files(spark, tmp_path):
    """The churn test from the verdict's done-bar: on a many-file table,
    an append commit's raw JSON is delta-shaped and orders of magnitude
    smaller than the restated-full v0 doc — and does NOT grow with the
    number of carried files."""
    path = str(tmp_path / "t2")
    commit_initial(_base(spark, 4000, 64), path, ["part"])
    sizes = []
    for i in range(3):
        commit_append(spark, path, _delta(spark, 5000 + i, 5001 + i, 64))
        raw = _raw(path, i + 1)
        assert raw["format"] == 2 and "files" not in raw
        assert len(raw["add_files"]) == 1 and raw["remove_files"] == []
        sizes.append(os.path.getsize(os.path.join(path, "_log", f"{i+1:08d}.json")))
    v0_size = os.path.getsize(os.path.join(path, "_log", "00000000.json"))
    assert max(sizes) < v0_size / 10  # delta ≪ full restatement
    # and constant across commits while the table grows
    assert max(sizes) - min(sizes) < 200
    # resolved view is complete regardless
    c = tt._read_commit(spark, path, 3)
    assert len(c["files"]) == 64 + 3
    assert set(c["file_rows"]) == set(c["files"])


def test_v2_resolution_matches_fresh_disk_walk(spark, tmp_path):
    """The write-side cache must agree with a cold resolution from the
    raw delta chain (serialization round-trip invariant), across every
    mutating op family."""
    path = str(tmp_path / "t3")
    commit_initial(_base(spark), path, ["part"], stats_cols=["k"])
    commit_append(spark, path, _delta(spark, 1000, 1040))
    delete_where(spark, path, "k >= 390 and k < 400")
    commit_upsert_mor(
        spark, path, _delta(spark, 0, 10).withColumn("v", F.lit(-1.0)), ["k"]
    )
    commit_upsert(
        spark, path, _delta(spark, 20, 25).withColumn("v", F.lit(-2.0)), keys=["k"]
    )
    versions = tt._list_versions(spark, path)
    cached = [tt._read_commit(spark, path, v) for v in versions]
    tt._RESOLVED_COMMIT_CACHE.clear()
    fresh = [tt._read_commit(spark, path, v) for v in versions]
    assert cached == fresh
    # the resolved head is internally consistent
    head = fresh[-1]
    assert set(head["file_rows"]) == set(head["files"])
    assert sum(head["file_rows"].values()) >= read_version(spark, path).count()


def test_v1_and_v2_tables_agree(spark, tmp_path):
    """The same op sequence on a format-1 and a format-2 table yields
    identical query results, history ops, and change feeds — format is a
    storage choice, never a semantics choice."""

    def build(path, fmt):
        commit_initial(_base(spark), path, ["part"], format_version=fmt)
        commit_append(spark, path, _delta(spark, 1000, 1050))
        delete_where(spark, path, "k % 7 = 0")
        commit_upsert_mor(
            spark, path, _delta(spark, 3, 9).withColumn("v", F.lit(9.9)), ["k"]
        )

    p1, p2 = str(tmp_path / "f1"), str(tmp_path / "f2")
    build(p1, 1)
    build(p2, 2)
    assert _raw(p1, 2).get("format") is None  # v1 stays pre-r8 shaped
    assert "files" in _raw(p1, 2)
    assert _raw(p2, 2)["format"] == 2

    for v in tt._list_versions(spark, p1):
        r1 = sorted(read_version(spark, p1, v).collect())
        r2 = sorted(read_version(spark, p2, v).collect())
        assert r1 == r2, f"version {v} differs"
    assert [h["op"] for h in history(spark, p1)] == [
        h["op"] for h in history(spark, p2)
    ]
    f1 = sorted(
        table_changes(spark, p1, 0, 3)
        .groupBy("_change_type", "_commit_version")
        .count()
        .collect()
    )
    f2 = sorted(
        table_changes(spark, p2, 0, 3)
        .groupBy("_change_type", "_commit_version")
        .count()
        .collect()
    )
    assert f1 == f2


def test_checkpoint_cadence_and_chain_bound(spark, tmp_path):
    """Every _CKPT_INTERVAL-th v2 commit writes a full checkpoint; a
    resolution that starts above it never walks past it (proved by
    deleting every log below the checkpoint and resolving cold)."""
    path = str(tmp_path / "ck")
    commit_initial(_base(spark, 100, 4), path, ["part"])
    for i in range(12):
        commit_append(spark, path, _delta(spark, 2000 + i, 2001 + i, 4))
    ck = os.path.join(path, "_log", "_ckpt", f"{tt._CKPT_INTERVAL:08d}.json")
    assert os.path.exists(ck)
    want = tt._read_commit(spark, path, 12)
    # simulate aggressive history loss below the checkpoint
    for v in range(0, tt._CKPT_INTERVAL):
        os.remove(os.path.join(path, "_log", f"{v:08d}.json"))
    tt._RESOLVED_COMMIT_CACHE.clear()
    assert tt._read_commit(spark, path, 12) == want
    assert read_version(spark, path, 12).count() == 100 + 12


def test_expire_pins_checkpoint_for_survivors(spark, tmp_path):
    """expire_versions must leave every SURVIVING delta commit
    resolvable by pinning a checkpoint above each expiry gap — off-
    cadence versions included."""
    path = str(tmp_path / "ex")
    commit_initial(_base(spark, 100, 4), path, ["part"])
    for i in range(5):
        commit_append(spark, path, _delta(spark, 3000 + i, 3001 + i, 4))
    expired = expire_versions(spark, path, keep_last=2)
    assert expired == [0, 1, 2, 3]
    tt._RESOLVED_COMMIT_CACHE.clear()
    assert read_version(spark, path, 4).count() == 104
    assert read_version(spark, path, 5).count() == 105
    assert os.path.exists(
        os.path.join(path, "_log", "_ckpt", "00000004.json")
    )
    with pytest.raises(ValueError, match="expired"):
        read_version(spark, path, 1)


def test_clone_inherits_format_version(spark, tmp_path):
    """A clone of a format-2 table writes format-2 commits itself (and a
    format-1 clone stays format-1)."""
    from vptstools_spark.plans.clone import shallow_clone

    src = str(tmp_path / "src")
    commit_initial(_base(spark, 100, 4), src, ["part"])
    dst = str(tmp_path / "dst")
    shallow_clone(spark, src, dst)
    commit_append(spark, dst, _delta(spark, 9000, 9001, 4))
    assert _raw(dst, 1)["format"] == 2
    assert read_version(spark, dst).count() == 101


def test_expire_reclaims_expired_checkpoints(spark, tmp_path):
    """Expired versions' checkpoint files are reclaimed (no surviving
    resolution chain can consult them), while survivors' pins stay."""
    path = str(tmp_path / "ckgc")
    commit_initial(_base(spark, 100, 4), path, ["part"])
    for i in range(12):
        commit_append(spark, path, _delta(spark, 7000 + i, 7001 + i, 4))
    ck10 = os.path.join(path, "_log", "_ckpt", "00000010.json")
    assert os.path.exists(ck10)
    expire_versions(spark, path, keep_last=1)  # keep only v12
    assert not os.path.exists(ck10)  # v10 expired -> ckpt reclaimed
    assert os.path.exists(
        os.path.join(path, "_log", "_ckpt", "00000012.json")
    )  # survivor pin stays
    tt._RESOLVED_COMMIT_CACHE.clear()
    assert read_version(spark, path).count() == 112


def test_adversarial_interleaving_both_formats(spark, tmp_path):
    """Seeded adversarial interleaving (VERDICT r8 #7): the format-2
    default changed every reader's metadata path, so the same randomized
    sequence of commits / DML / expiry / vacuum / clone / branch-cycle /
    OCC-append is applied to a format-1 AND a format-2 table,
    and the two must never diverge. After EVERY step the head snapshot
    and the surviving-version lists are compared; every 10th step (and at
    the end) every surviving version is read on both formats and value-
    compared — per-step full history re-reads would be O(steps×versions)
    Spark jobs re-verifying immutable bytes, and the ops that DO touch
    history (expire/vacuum) always fall inside a 10-step window
    of a full sweep."""
    import random

    from vptstools_spark.plans.branches import (
        branch_append,
        create_branch,
        drop_branch,
        merge_branch,
    )
    from vptstools_spark.plans.clone import shallow_clone
    from vptstools_spark.plans.occ import append_atomic
    from vptstools_spark.plans.timetravel import update_where, vacuum_table

    from concurrent.futures import ThreadPoolExecutor

    rng = random.Random(20260816)
    STEPS = 200
    pool = ThreadPoolExecutor(max_workers=2)

    def both(fn):
        # the two formats' tables are independent — run each op on both
        # concurrently (Spark's driver is thread-safe; this halves the
        # wall time of a 200-step walk without changing any semantics)
        return [f.result() for f in [pool.submit(fn, p) for p in paths.values()]]

    # all frames are built JVM-side (spark.range + expressions): a
    # createDataFrame local relation is sliced across defaultParallelism
    # pickled partitions, and on hosts with slow local sockets each
    # Python-partition handshake costs ~100 ms — a 4-row delta would pay
    # seconds per op for no coverage
    def jdf(lo, hi, parts=4, v_expr="cast(id as double)"):
        return (
            spark.range(lo, hi, 1, 1)
            .selectExpr(
                "id as k",
                f"cast(id % {parts} as int) part",
                f"{v_expr} as v",
            )
        )

    paths = {1: str(tmp_path / "af1"), 2: str(tmp_path / "af2")}
    for fmt, p in paths.items():
        commit_initial(jdf(0, 60), p, ["part"], format_version=fmt)

    def snap_sig(path, v=None):
        row = (
            read_version(spark, path, v)
            .agg(
                F.count("*").alias("n"),
                F.coalesce(F.sum(F.col("k") * 7 + F.col("v")), F.lit(0.0)).alias("s"),
            )
            .collect()[0]
        )
        return (row["n"], round(float(row["s"]), 4))

    def full_compare(tag):
        v1s = tt._list_versions(spark, paths[1])
        v2s = tt._list_versions(spark, paths[2])
        assert v1s == v2s, f"{tag}: version lists diverged {v1s} != {v2s}"
        for v in v1s:
            assert snap_sig(paths[1], v) == snap_sig(paths[2], v), (
                f"{tag}: version {v} differs between formats"
            )

    next_k = 1000
    clone_n = 0
    for step in range(STEPS):
        op = rng.choices(
            ["append", "upsert", "mor", "delete", "update", "expire",
             "vacuum", "clone", "branch", "occ"],
            weights=[22, 12, 12, 10, 10, 8, 5, 4, 6, 8],
        )[0]
        r = rng.randrange(3, 17)
        if op == "append":
            d = jdf(next_k, next_k + rng.randrange(2, 6))
            next_k += 10
            both(lambda p: commit_append(spark, p, d))
        elif op == "upsert":
            d = jdf(r, r + 3, v_expr=f"cast(id as double) + cast({step} as double)")
            both(lambda p: commit_upsert(spark, p, d, keys=["k"]))
        elif op == "mor":
            d = jdf(r * 2, r * 2 + 2, v_expr=f"cast({step} as double)")
            both(lambda p: commit_upsert_mor(spark, p, d, ["k"]))
        elif op == "delete":
            pred = f"k % 23 = {r}"
            both(lambda p: delete_where(spark, p, pred))
        elif op == "update":
            pred = f"k % 19 = {r}"
            both(lambda p: update_where(spark, p, pred, {"v": "v + 0.5"}))
        elif op == "expire":
            if len(tt._list_versions(spark, paths[1])) > 6:
                ex1 = expire_versions(spark, paths[1], keep_last=5)
                ex2 = expire_versions(spark, paths[2], keep_last=5)
                assert ex1 == ex2, f"step {step}: expiry diverged"
        elif op == "vacuum":
            both(lambda p: vacuum_table(spark, p, min_age_seconds=0.0))
        elif op == "clone":
            clone_n += 1
            sig = {}
            for fmt, p in paths.items():
                dst = str(tmp_path / f"cl{fmt}_{clone_n}")
                shallow_clone(spark, p, dst)
                sig[fmt] = snap_sig(dst)
                assert sig[fmt] == snap_sig(p), (
                    f"step {step}: clone differs from source head (f{fmt})"
                )
            assert sig[1] == sig[2]
        elif op == "branch":
            name = f"b{step}"
            d = jdf(next_k, next_k + 3)
            next_k += 10

            def cycle(p):
                create_branch(spark, p, name)
                branch_append(spark, p, name, d)
                merge_branch(spark, p, name)
                drop_branch(spark, p, name)

            both(cycle)
        elif op == "occ":
            d = jdf(next_k, next_k + 2)
            next_k += 10
            both(lambda p: append_atomic(spark, p, d))
        # every step: heads + version lists agree
        s1, s2 = both(snap_sig)
        assert s1 == s2, f"step {step} ({op})"
        assert tt._list_versions(spark, paths[1]) == tt._list_versions(
            spark, paths[2]
        ), f"step {step} ({op}): version lists diverged"
        if step % 10 == 9:
            full_compare(f"step {step}")
    full_compare("final")
