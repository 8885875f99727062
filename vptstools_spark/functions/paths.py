"""Path algebra — ODIM filename/S3-key parsing as Catalyst expressions.

The reference models S3 keys as parseable records
(`{source}/{file_type}/{radar_code}/{yyyy}/{mm}/{dd}/{name}.h5`, filename
grammar at src/vptstools/s3.py:100-109, path properties at s3.py:11-153).
Here each derived attribute is a column expression, so parsing fuses into the
scan and Catalyst prunes whatever downstream doesn't use; the filename
fields read one regex result, bound as a column of its own projection
(``parse_odim_filename``). A listing the
driver already holds (the CLI's ``--path-folder`` glob) is grouped into
radar-days with the same grammar in plain Python, ``radar_day_directory``.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: filename grammar (reference: src/vptstools/s3.py:100-109):
#: e.g. ``bejab_vp_20221111T233000Z_0x9.h5``
ODIM_FILENAME_REGEX = (
    r".*([a-zA-Z]{5})_([a-z]*)_(\d{4})(\d\d)(\d\d)T?(\d\d)(\d\d).*\.h5"
)
#: the grammar as Spark's Java regex applies it: ASCII classes, unanchored
_ODIM_FILENAME = re.compile(ODIM_FILENAME_REGEX, re.ASCII)


#: the column ``parse_odim_filename`` binds the packed capture groups to
_ODIM_PARTS = "_odim_parts"


def parse_odim_filename(df: DataFrame, name: Column) -> DataFrame:
    """``df`` with the ODIM filename fields (radar_code, data_type, year,
    month, day, hour, minute) of ``name`` appended; empty strings on a
    mismatch (the reference raises ValueError, src/vptstools/s3.py:74-99;
    ``operators.inventory.parse_inventory`` fails the scan on an empty
    ``radar_code``).

    One `regexp_replace` packs all 7 capture groups into a tab-joined string
    (7× cheaper than seven `regexp_extract` calls, each of which re-runs the
    full backtracking regex per row — this parse sits on every inventory
    scan). A filename cannot contain a tab, so a 7-way split doubles as the
    match flag. The split is a column of its own projection, which the
    fields read by reference: Catalyst's CollapseProject does not inline a
    non-cheap expression that the next projection references more than
    once, so the regex runs once per row. Written as one Column tree, each
    conditional field would carry its own copy, which codegen does not
    share (the optimized plan then held eight)."""
    packed = F.regexp_replace(name, ODIM_FILENAME_REGEX, "$1\t$2\t$3\t$4\t$5\t$6\t$7")
    parts = F.col(_ODIM_PARTS)
    ok = F.size(parts) == 7

    def field(i: int) -> Column:
        return F.when(ok, F.element_at(parts, i)).otherwise(F.lit(""))

    fields = {
        "radar_code": F.lower(field(1)),
        "data_type": field(2),
        "year": field(3),
        "month": field(4),
        "day": field(5),
        "hour": field(6),
        "minute": field(7),
    }
    return df.select("*", F.split(packed, "\t").alias(_ODIM_PARTS)).select(
        *[F.col(c) for c in df.columns], *[v.alias(k) for k, v in fields.items()]
    )


def inventory_path_features(file: Column) -> dict[str, Column]:
    """Derive (source, suffix, filename) from an inventory key
    (reference: src/vptstools/s3.py:289-297)."""
    parts = F.split(file, "/")
    return {
        "source": F.element_at(parts, 1),
        "filename": F.element_at(parts, -1),
        "suffix": F.element_at(F.split(F.element_at(parts, -1), r"\."), -1),
    }


def radar_day_directory(key: str) -> str:
    """Driver-side ``with_parsed_inventory`` key joined by ``directory_col``:
    the radar-day directory ``source/file_type/radar/yyyy/mm/dd`` that
    ``operators.inventory.coverage`` groups ``key`` under. Source and
    file_type are the key's first two segments; radar (lower-cased) and date
    come from the filename, so a misfiled object groups under its filename
    date. A name the grammar rejects raises, as ``parse_inventory`` does."""
    parts = key.split("/")
    match = _ODIM_FILENAME.search(parts[-1])
    if match is None:
        raise ValueError(f"cannot parse ODIM filename: {parts[-1]}")
    radar, _data_type, year, month, day = match.groups()[:5]
    return "/".join([*parts[:2], radar.lower(), year, month, day])


def directory_col(*cols: Column) -> Column:
    """Join key tuple with '/' for the coverage sink
    (reference: src/vptstools/bin/vph5_to_vpts.py:148)."""
    return F.concat_ws("/", *cols)


def with_parsed_inventory(df: DataFrame, file_col: str = "file") -> DataFrame:
    """Attach the path-derived columns to an inventory DataFrame: source,
    filename and suffix (``inventory_path_features``, a column ``df``
    already has keeps its value), then the radar-day grouping key
    (reference: src/vptstools/s3.py:51-71, 177-225). Source and file_type
    come from the path segments, but radar_code/year/month/day come from the
    FILENAME grammar (``parse_odim_filename``, one regex per key) — a
    misfiled object (directory date ≠ filename date) groups under its
    filename date, exactly as `OdimFilePath.from_inventory` does (proven by
    the golden coverage fixture, tests/test_golden.py). Catalyst column
    pruning decides what survives.

    A filename that does not match the grammar parses to empty-string keys;
    `operators.inventory.parse_inventory` fails on those rows so malformed
    names never silently pool into one coverage group — the reference raises
    ValueError on the same input (s3.py:74-99)."""
    segments = F.split(F.col(file_col), "/")
    named: dict[str, Column] = {c: F.col(c) for c in df.columns}
    for name, expr in inventory_path_features(F.col(file_col)).items():
        named.setdefault(name, expr)
    named.setdefault("file_type", F.element_at(segments, 2))
    keyed = df.select(*[expr.alias(name) for name, expr in named.items()])
    return parse_odim_filename(keyed, F.element_at(segments, -1)).select(
        *named, "radar_code", "year", "month", "day"
    )
