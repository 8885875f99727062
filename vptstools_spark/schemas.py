"""Versioned VPTS CSV schemas/rulesets + core engine schemas.

The reference pins the output schema with one class per exchange-standard
version (reference: src/vptstools/vpts_csv.py:240-295, registry at 142-161).
Here a version is *data*: a ``VptsCsvSpec`` describing column order, logical
types, sentinel renderings and sort keys. Catalyst expressions are built from
the spec at plan time (see operators/vpts.py) — no subclass hierarchy needed.

Tri-state cell semantics (reference: src/vptstools/vpts.py:17-18,53-66):
every measurement is exactly one of value | nodata | undetect. Internally we
keep one nullable cell column plus a small flag column per quantity
(``<q>__state`` ∈ {0=value, 1=nodata, 2=undetect}); the string sentinels
("" / "NaN" for v1.0) exist only in the CSV serializer. Counts are typed
longs. Double measurements are carried as their CPython ``repr`` text,
rendered once where the file is decoded (``sources.odim.render_double``):
the reference's output renders them through ``repr`` (numpy ``.tolist()`` →
pandas ``to_csv``, reference: src/vptstools/vpts.py:58-63), which no
Catalyst cast reproduces.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Quantities present in an ODIM VP file per the v1.0 mapping
# (reference: src/vptstools/vpts_csv.py:266-295)
# ---------------------------------------------------------------------------

#: measurement quantities, in output order, with their profile column type.
#: ODIM name → (output column, type). "HGHT" becomes the `height` axis.
#: The doubles are string columns holding the rendered ``repr`` text.
V1_QUANTITIES: dict[str, tuple[str, T.DataType]] = {
    "u": ("u", T.StringType()),
    "v": ("v", T.StringType()),
    "w": ("w", T.StringType()),
    "ff": ("ff", T.StringType()),
    "dd": ("dd", T.StringType()),
    "sd_vvp": ("sd_vvp", T.StringType()),
    "gap": ("gap", T.BooleanType()),
    "eta": ("eta", T.StringType()),
    "dens": ("dens", T.StringType()),
    "dbz": ("dbz", T.StringType()),
    "DBZH": ("dbz_all", T.StringType()),
    "n": ("n", T.LongType()),
    "n_dbz": ("n_dbz", T.LongType()),
    "n_all": ("n_all", T.LongType()),
    "n_dbz_all": ("n_dbz_all", T.LongType()),
}

#: cell state encoding for the tri-state model
STATE_VALUE, STATE_NODATA, STATE_UNDETECT = 0, 1, 2


@dataclass(frozen=True)
class VptsCsvSpec:
    """One VPTS CSV exchange-standard version, as data."""

    version: str
    nodata: str  # string rendering of the 'nodata' state
    undetect: str  # string rendering of the 'undetect' state
    #: output column order (normative; reference tests/test_vpts.py:75-82)
    columns: tuple[str, ...] = ()
    #: sort keys with the type used for comparison
    #: (reference: src/vptstools/vpts_csv.py:254-256)
    sort: tuple[tuple[str, str], ...] = ()
    #: columns that are tri-state measurements (subset of `columns`)
    measurement_columns: tuple[str, ...] = ()
    #: guard regex for source_file (reference: src/vptstools/vpts_csv.py:241)
    source_file_regex: str = ".*"
    #: vcp values treated as nodata (reference: src/vptstools/vpts_csv.py:287)
    vcp_nodata_values: tuple[str, ...] = ("NULL", "0")


VPTS_CSV_V1 = VptsCsvSpec(
    version="v1.0",
    nodata="",
    undetect="NaN",
    columns=(
        "radar",
        "datetime",
        "height",
        "u",
        "v",
        "w",
        "ff",
        "dd",
        "sd_vvp",
        "gap",
        "eta",
        "dens",
        "dbz",
        "dbz_all",
        "n",
        "n_dbz",
        "n_all",
        "n_dbz_all",
        "rcs",
        "sd_vvp_threshold",
        "vcp",
        "radar_latitude",
        "radar_longitude",
        "radar_height",
        "radar_wavelength",
        "source_file",
    ),
    sort=(("radar", "string"), ("datetime", "string"), ("height", "int"), ("source_file", "string")),
    measurement_columns=(
        "u",
        "v",
        "w",
        "ff",
        "dd",
        "sd_vvp",
        "eta",
        "dens",
        "dbz",
        "dbz_all",
        "n",
        "n_dbz",
        "n_all",
        "n_dbz_all",
    ),
    source_file_regex=r"^(?=^[^.\/~])(^((?!\.{2}).)*$).*$",
)

#: Per-field validation rules of the VPTS CSV v1.0 Table Schema
#: (reference round-trips these through frictionless against the published
#: vpts-csv v1.0 table schema, src/vptstools/vpts.py:297-343; encoded here
#: as (kind, required, min, max) so validation runs as ONE Spark aggregate).
#: kind ∈ {string, datetime, integer, number, boolean}. Tri-state missing
#: values ("" nodata everywhere, "NaN" undetect on measurement columns) are
#: exempt from type/range rules, mirroring the schema's missingValues.
V1_FIELD_RULES: dict[str, tuple[str, bool, float | None, float | None]] = {
    "radar": ("string", True, None, None),
    "datetime": ("datetime", True, None, None),
    "height": ("integer", True, 0, None),
    "u": ("number", False, None, None),
    "v": ("number", False, None, None),
    "w": ("number", False, None, None),
    "ff": ("number", False, 0, None),
    "dd": ("number", False, 0, 360),
    "sd_vvp": ("number", False, 0, None),
    "gap": ("boolean", False, None, None),
    "eta": ("number", False, 0, None),
    "dens": ("number", False, 0, None),
    "dbz": ("number", False, None, None),
    "dbz_all": ("number", False, None, None),
    "n": ("integer", False, 0, None),
    "n_dbz": ("integer", False, 0, None),
    "n_all": ("integer", False, 0, None),
    "n_dbz_all": ("integer", False, 0, None),
    "rcs": ("number", False, 0, None),
    "sd_vvp_threshold": ("number", False, 0, None),
    "vcp": ("integer", False, None, None),
    "radar_latitude": ("number", False, -90, 90),
    "radar_longitude": ("number", False, -180, 180),
    "radar_height": ("integer", False, None, None),
    "radar_wavelength": ("number", False, 0, None),
    "source_file": ("string", False, None, None),
}

_VERSIONS: dict[str, VptsCsvSpec] = {"v1.0": VPTS_CSV_V1, "v1": VPTS_CSV_V1}


class VptsCsvVersionError(ValueError):
    """Unknown VPTS CSV version (reference: src/vptstools/vpts_csv.py:132-139)."""


def get_vpts_version(version: str) -> VptsCsvSpec:
    """Version-string → spec registry (reference: src/vptstools/vpts_csv.py:142-161)."""
    try:
        return _VERSIONS[version]
    except KeyError as exc:
        raise VptsCsvVersionError(f"Version {version} not supported.") from exc


# ---------------------------------------------------------------------------
# Engine-internal schemas
# ---------------------------------------------------------------------------


def profile_long_schema() -> T.StructType:
    """Typed long-format schema of decoded VP profiles (one row per file×level).

    This is the post-parse, pre-projection form (FIXTURES.md §1): the path
    of the file the row was decoded from, one nullable cell per measurement
    (rendered text for the doubles, long for the counts) + a tinyint state
    flag per measurement.
    """
    fields = [
        T.StructField("path", T.StringType(), False),
        T.StructField("source_file", T.StringType(), False),
        T.StructField("radar", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
        T.StructField("height", T.IntegerType(), False),
    ]
    for _odim, (col, dtype) in V1_QUANTITIES.items():
        fields.append(T.StructField(col, dtype, True))
        if col != "gap":
            fields.append(T.StructField(f"{col}__state", T.ByteType(), False))
    fields += [
        T.StructField("rcs", T.DoubleType(), True),
        T.StructField("sd_vvp_threshold", T.DoubleType(), True),
        T.StructField("vcp", T.StringType(), True),
        T.StructField("radar_latitude", T.DoubleType(), True),
        T.StructField("radar_longitude", T.DoubleType(), True),
        T.StructField("radar_height", T.IntegerType(), True),
        T.StructField("radar_wavelength", T.DoubleType(), True),
    ]
    return T.StructType(fields)


def inventory_schema() -> T.StructType:
    """AWS S3 inventory CSV schema (reference: src/vptstools/s3.py:270-274)."""
    return T.StructType(
        [
            T.StructField("repo", T.StringType(), True),
            T.StructField("file", T.StringType(), True),
            T.StructField("size", T.LongType(), True),
            T.StructField("modified", T.StringType(), True),  # parsed via to_timestamp
        ]
    )

