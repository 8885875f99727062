"""Row- and column-level security compiled into view plans.

The public lakehouse governance surface (Unity Catalog column masks and
row filters, Snowflake masking policies, Ranger/Lake Formation style),
re-expressed as pure plan rewrites: a policy set deterministically
transforms a DataFrame — row filters become Catalyst predicates (they
push down into the scan like any filter), column masks become projection
expressions — and a temp view over the result is the only name an
audience is given. Enforcement is by exposure: consumers
query the view; nothing here relies on UDFs or driver-side secrets, so
a masked plan is as distributable as the unmasked one.

Masks are DETERMINISTIC on purpose: `hash` (sha2-256) preserves
equality/joinability across tables without revealing values (the
classic pseudonymization trade-off — document to users that determinism
permits frequency analysis), `partial` preserves operational suffixes
(last-4 digits), `null`/`redact` destroy the value, `custom` is an
arbitrary SQL expression over the row. No reference counterpart
(engine extension, SURVEY §2.5 spirit).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_MASK_KINDS = {"hash", "null", "partial", "redact", "custom"}


def _mask_expr(df: DataFrame, spec: dict) -> Column:
    col = spec["column"]
    kind = spec["kind"]
    dtype = dict(df.dtypes).get(col)
    if dtype is None:
        raise ValueError(f"mask references unknown column {col!r}")
    if kind == "hash":
        # sha2 over the string rendering: equality-preserving pseudonym,
        # joinable across tables masked with the same policy
        return F.sha2(F.col(col).cast("string"), 256)
    if kind == "null":
        return F.lit(None).cast(dtype)
    if kind == "redact":
        return F.lit(spec.get("text", "[REDACTED]"))
    if kind == "partial":
        # keep the last `keep` chars, star the rest (never negative-pad)
        keep = int(spec.get("keep", 4))
        s = F.col(col).cast("string")
        return F.concat(
            F.repeat(F.lit("*"), F.greatest(F.length(s) - keep, F.lit(0))),
            F.right(s, F.lit(keep)),
        )
    if kind == "custom":
        return F.expr(spec["expr"])
    raise ValueError(f"unknown mask kind {kind!r}; use one of {sorted(_MASK_KINDS)}")


def apply_policies(df: DataFrame, policies: dict) -> DataFrame:
    """Apply a policy set to a DataFrame:

        {"row_filter": "<sql predicate>",            # optional
         "masks": [{"column": ..., "kind": "hash" | "null" | "redact"
                    | "partial" (keep=N) | "custom" (expr=...)}, ...],
         "drop": ["col", ...]}                       # optional

    Row filter first (it may reference columns that are later masked or
    dropped — the filter sees TRUE values, exactly like a row policy
    evaluated before masking in Unity/Snowflake), then masks, then
    drops. Pure plan rewrite: the filter pushes down to the scan; masks
    are projection expressions inside whole-stage codegen."""
    out = df
    if policies.get("row_filter"):
        out = out.filter(F.expr(policies["row_filter"]))
    for spec in policies.get("masks", []):
        out = out.withColumn(spec["column"], _mask_expr(df, spec))
    if policies.get("drop"):
        missing = set(policies["drop"]) - set(out.columns)
        if missing:
            raise ValueError(f"drop references unknown columns {sorted(missing)}")
        out = out.drop(*policies["drop"])
    return out


# ---------------------------------------------------------------------------
# GDPR right-to-be-forgotten: erasure as a lifecycle, not just a DELETE
# ---------------------------------------------------------------------------


def erase_and_forget(
    spark,
    path: str,
    keys_df,
    keys: list[str],
    expire: bool = True,
    vacuum: bool = True,
) -> dict:
    """Subject erasure on a versioned table, END TO END. A plain DELETE
    is not erasure on a time-travel table — old versions still serve the
    rows and the bytes stay on disk — so this runs the full lifecycle:

    1. `delete_where_eq`: equality tombstones — the subjects disappear
       from every NEW read instantly, the commit scans NOTHING (the
       legally-urgent step is metadata-speed at any table size);
    2. `purge_deletes`: rewrite ONLY the files that actually hold
       subject rows (file-scoped, bounded by the subjects' spread);
    3. `expire_versions(keep_last=1)`: drop the history that could
       resurrect them (tagged versions refuse expiry — release the tag
       first; that refusal is the audit trail working);
    4. `vacuum_table(min_age_seconds=0)`: delete the unreferenced bytes.

    Steps 3-4 are destructive and explicit (`expire`/`vacuum` flags);
    with both on, the returned `n_residual_raw` — a RAW probe of the
    surviving snapshot's bytes with delete vectors NOT applied — proves
    physical erasure, and tests additionally byte-walk the data dir.
    Returns {"tombstone_version", "purge_version", "expired",
    "vacuumed_files", "n_residual_raw"}."""
    from pyspark.sql import functions as F

    from vptstools_spark.plans.timetravel import (
        _read_snapshot,
        _resolve_version,
        delete_where_eq,
        expire_versions,
        purge_deletes,
        vacuum_table,
    )

    keys_df = keys_df.select(*keys).distinct()
    v1 = delete_where_eq(spark, path, keys_df, keys)
    v2 = purge_deletes(spark, path)
    expired = (
        expire_versions(spark, path, keep_last=1, min_age_seconds=0)
        if expire
        else []
    )
    vacuumed = (
        vacuum_table(spark, path, min_age_seconds=0) if vacuum else []
    )
    raw = _read_snapshot(
        spark, path, _resolve_version(spark, path, None), apply_deletes=False
    )
    residual = raw.join(F.broadcast(keys_df), keys, "left_semi").count()
    return {
        "tombstone_version": v1,
        "purge_version": v2,
        "expired": expired,
        "vacuumed_files": len(vacuumed),
        "n_residual_raw": residual,
    }
