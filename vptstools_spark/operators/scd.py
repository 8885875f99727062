"""Slowly-changing-dimension (SCD Type 2) derivation from an event log.

Warehouse-side change tracking: collapse a (key, ts, attribute) log into
validity intervals — one row per *run* of equal attribute values per key,
with `valid_from`/`valid_to` bounds and a version number. The result is
the standard SCD2 dimension shape that a point-in-time (as-of) join
consumes (`operators/asof.py`).

Scale shape: everything is per-key window functions — one hash exchange
on the key, no global window, no driver data. Runs are detected with
lag() (change-point flag) rather than a self-join, so the log is scanned
once.

Reference scope: engine extension (SURVEY §7.5); the reference's closest
shape is the inventory modified-window change detection
(`vptstools/s3.py:handle_manifest` analog, `operators/inventory.py:82`),
which tracks arrival changes but not attribute history.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def scd2_from_log(
    df: DataFrame,
    key: str,
    attr: str,
    ts: str,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Collapse an event log into SCD2 rows.

    `order_cols` break ties for events sharing a timestamp (pass a unique
    id to make the history deterministic). Output:
    (key, attr, valid_from, valid_to, version) — `valid_to` is NULL on the
    current row, `version` counts runs per key from 1.

    Consecutive equal values collapse into one interval; a value that
    disappears and returns later starts a NEW version (true SCD2, not a
    distinct-values table).
    """
    order = [F.col(ts).asc(), *[F.col(c).asc() for c in (order_cols or [])]]
    w = Window.partitionBy(key).orderBy(*order)
    # null-safe change flag: runs of NULL attribute values collapse like any
    # other value; the explicit first-row test is required because a key
    # whose FIRST value is NULL would otherwise null-safe-equal the missing
    # lag and never open its run
    changed = (F.row_number().over(w) == 1) | ~F.lag(attr).over(w).eqNullSafe(
        F.col(attr)
    )
    starts = df.withColumn("__chg", changed).filter(F.col("__chg")).drop("__chg")
    w2 = Window.partitionBy(key).orderBy(*order)
    return starts.select(
        F.col(key),
        F.col(attr),
        F.col(ts).alias("valid_from"),
        F.lead(ts).over(w2).alias("valid_to"),
        F.row_number().over(w2).alias("version"),
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Keyed diff between two table snapshots: one row per differing key
    with `change` ∈ {'added', 'removed', 'changed'} — the audit primitive
    behind CDC validation, backfill verification, and "what did this
    pipeline run alter" reports.

    Each side is reduced to (keys, row fingerprint) BEFORE the join —
    md5 over the compared columns, each rendered as a tagged string
    ('\\x01' + value when present, bare '\\x00' when NULL) joined with a
    field separator, so NULL can't collide with any literal value
    (including the literal '\\x00' string) and ('a', NULL) can't collide
    with ('aNULL', …) — then a
    single full-outer join on the keys classifies every key; unchanged
    keys are dropped immediately. Scale shape: one hash exchange per side
    on the key columns and nothing else; the fingerprint collapses
    arbitrarily wide compare-column sets to one string before the
    shuffle, so wide tables diff at key+hash cost.
    """
    cols = compare_cols or [c for c in new.columns if c not in keys]

    def fp(df: DataFrame) -> Column:
        return F.md5(
            F.concat_ws(
                "\x1f",
                *[
                    F.when(
                        F.col(c).isNull(), F.lit("\x00")
                    ).otherwise(
                        F.concat(F.lit("\x01"), F.col(c).cast("string"))
                    )
                    for c in cols
                ],
            )
        )

    o = old.select(*keys, fp(old).alias("_old_fp"))
    n = new.select(*keys, fp(new).alias("_new_fp"))
    j = o.join(n, keys, "full_outer")
    change = (
        F.when(F.col("_old_fp").isNull(), "added")
        .when(F.col("_new_fp").isNull(), "removed")
        .when(F.col("_old_fp") != F.col("_new_fp"), "changed")
    )
    return (
        j.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(*keys, "change")
    )


def segment_sync_hashes(
    df: DataFrame,
    keys: list[str],
    n_segments: int = 256,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Anti-entropy segment digests (the Merkle/DynamoDB table-sync
    primitive, and `snapshot_diff`'s coarse stage at 100 TB): every row is
    hashed into one of `n_segments` key-determined segments, and each
    segment collapses to an order-independent digest — XOR of the rows'
    64-bit fingerprints — plus a row count. Comparing two tables is then a
    |segments|-row join; only segments whose digests differ need the
    row-level `snapshot_diff`, so a 100 TB sync reads both tables once,
    ships 256 rows, and recurses into the (usually few) dirty segments.

    XOR is commutative/associative, so the digest is independent of
    partitioning and aggregation order — safe under any shuffle plan and
    bit-identical cross-engine. The row fingerprint reuses the tagged-NULL
    scheme of `snapshot_diff` (md5 → first 16 hex → signed 64-bit), keys
    included so a key swap between two equal payloads still changes the
    digest."""
    cols = compare_cols or [c for c in df.columns if c not in keys]

    def tagged(c: str) -> Column:
        return F.when(F.col(c).isNull(), F.lit("\x00")).otherwise(
            F.concat(F.lit("\x01"), F.col(c).cast("string"))
        )

    row_str = F.concat_ws("\x1f", *[tagged(c) for c in list(keys) + cols])
    fp64 = F.conv(F.substring(F.md5(row_str), 1, 16), 16, 10).cast("decimal(20,0)")
    # conv() returns the UNSIGNED value as a string; route through
    # decimal(20,0) then subtract the two's-complement offset so the final
    # long is well-defined (a direct cast of >2^63-1 would overflow-null)
    signed = F.when(
        fp64 > F.lit(9223372036854775807).cast("decimal(20,0)"),
        (fp64 - F.lit("18446744073709551616").cast("decimal(21,0)")).cast("long"),
    ).otherwise(fp64.cast("long"))
    seg_key = F.concat_ws("\x1f", *[tagged(k) for k in keys])
    seg = (
        F.conv(F.substring(F.md5(seg_key), 1, 6), 16, 10).cast("long")
        % n_segments
    )
    return (
        df.select(seg.alias("segment"), signed.alias("_fp"))
        .groupBy("segment")
        .agg(
            F.bit_xor("_fp").alias("digest"),
            F.count("*").alias("n_rows"),
        )
    )
