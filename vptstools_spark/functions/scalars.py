"""Scalar column functions — the reference's per-cell helpers as Catalyst
expressions (JVM-side, codegen'd; no Python UDFs anywhere here).

Each function takes/returns :class:`pyspark.sql.Column` so it composes into
declarative plans and stays inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: ISO-8601 Zulu with seconds, e.g. 2021-01-01T04:00:00Z
#: (reference: src/vptstools/vpts_csv.py:18-37)
ISO8601_ZULU = "yyyy-MM-dd'T'HH:mm:ss'Z'"


def epoch_expr(ts_dtype: str, col_name: str, unit: str = "MICROSECOND") -> Column:
    """Epoch offset of a timestamp column in `unit`, defined for BOTH
    `timestamp` (LTZ) and `timestamp_ntz` columns.

    The testdata's parquet timestamp annotation (isAdjustedToUTC) has flipped
    between driver rounds, so Spark may surface `ts` as either type.
    `unix_micros`/`unix_millis` reject NTZ inputs; `timestampdiff` against a
    same-kind epoch literal is type-correct and timezone-free in both cases
    (for LTZ the session zone cancels out of the difference).
    """
    lit = (
        "TIMESTAMP_NTZ '1970-01-01 00:00:00'"
        if ts_dtype == "timestamp_ntz"
        else "TIMESTAMP '1970-01-01 00:00:00+00:00'"
    )
    return F.expr(f"timestampdiff({unit}, {lit}, {col_name})")


def datetime_to_proper8601(ts: Column) -> Column:
    """Render a timestamp as `2021-01-01T04:00:00Z`
    (reference: src/vptstools/vpts_csv.py:18-37)."""
    return F.date_format(ts, ISO8601_ZULU)


def int_to_nodata(value: Column, nodata_values: list[str], nodata: str = "") -> Column:
    """String value in the nodata list → the nodata rendering, else cast to int
    and re-render (reference: src/vptstools/vpts_csv.py:40-73; used for `vcp`
    with ["NULL", "0"] at vpts_csv.py:287).

    Returns a string column (the serialized form).
    """
    v = value.cast("string")
    return (
        F.when(v.isNull() | v.isin(*nodata_values), F.lit(nodata))
        .otherwise(v.cast("int").cast("string"))
    )


def number_to_bool_str(value: Column) -> Column:
    """1/0 → TRUE/FALSE (reference: src/vptstools/vpts_csv.py:76-94).

    The reference KeyErrors on any other value; we render NULL (defined
    behavior per SURVEY §7.4.7) so one bad cell can't abort a 100 TB job.
    """
    v = value.cast("int")
    return F.when(v == 1, F.lit("TRUE")).when(v == 0, F.lit("FALSE"))


def bool_to_bool_str(value: Column) -> Column:
    """Boolean column → TRUE/FALSE strings (engine-internal gap rendering)."""
    return F.when(value, F.lit("TRUE")).when(~value, F.lit("FALSE"))


def check_source_file(source_file: Column, regex: str) -> Column:
    """Guard source_file against path traversal
    (reference: src/vptstools/vpts_csv.py:97-129, regex at :241).

    The reference raises per profile; at scale we surface violations as NULL,
    which ``validate_vpts``' ``source_file_safe`` rule counts.
    """
    return F.when(source_file.rlike(regex), source_file)


def source_str_to_map(source: Column) -> Column:
    """ODIM `what.source` k:v string → map, e.g.
    ``WMO:06477,RAD:BX41,PLC:Wideumont`` → {"WMO":"06477", ...}
    (reference: src/vptstools/odimh5.py:104-116)."""
    return F.str_to_map(source, F.lit(","), F.lit(":"))


def round6(value: Column) -> Column:
    """Round to 6 decimals — lat/lon/wavelength rule
    (reference: src/vptstools/vpts_csv.py:288-291)."""
    return F.round(value, 6)


def lit_double_array(values) -> Column:
    """array<double> literal in ONE py4j round-trip.

    ``F.array(*[F.lit(float(x)) for x in xs])`` costs one JVM call per
    element — ~47 ms of driver time for a 64-dim vector, paid at every
    DataFrame *construction* (r9, guide §1: the vector-query family's
    per-run cost was dominated by this, and it amplifies under session
    load because each round-trip queues behind JVM work). One
    ``F.expr("array(…D)")`` string costs ~0.5 ms and parses to the same
    doubles bit-for-bit: Python ``repr`` round-trips IEEE doubles
    exactly, and Spark's ``D`` literal suffix parses via the same
    grammar. Non-finite values (nan/inf) have no SQL literal — fall back
    to the per-element path for those rare callers.
    """
    vals = [float(x) for x in values]
    if all(v == v and v not in (float("inf"), float("-inf")) for v in vals):
        return F.expr("array(" + ",".join(repr(v) + "D" for v in vals) + ")")
    return F.array(*[F.lit(v) for v in vals])
