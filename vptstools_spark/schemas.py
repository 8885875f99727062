"""Versioned VPTS CSV schemas/rulesets + core engine schemas.

The reference pins the output schema with one class per exchange-standard
version (reference: src/vptstools/vpts_csv.py:240-295, registry at 142-161).
Here a version is *data*, stated once: its vendored frictionless Table
Schema (``resources/vpts_csv_<version>_table_schema.json``, the reference's
published descriptor) gives each column's name, order, type, constraints and
missing values, and a ``VptsCsvSpec`` adds only what the schema does not say
— the sentinel renderings, the sort keys and the vcp nodata values. Catalyst
expressions are built from the spec at plan time (see operators/vpts.py), and
``validate_vpts`` reads its rules from the same schema — no subclass
hierarchy and no second copy of the column list.

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

import json
import os
from dataclasses import dataclass
from functools import cache

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


@cache
def load_vendored_descriptor(version: str = "v1.0") -> dict:
    """The vendored frictionless Table Schema of a VPTS CSV version
    (vptstools_spark/resources/), read once per process and shared: do not
    mutate it. It stands in for the reference's remote fetch
    (src/vptstools/vpts.py:320-343, which reads
    raw.githubusercontent.com/aloftdata/vpts-csv/<version>/...); the
    canonical download can replace the file where network exists."""
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "resources",
        f"vpts_csv_{version}_table_schema.json",
    )
    with open(path) as fh:
        return json.load(fh)


@dataclass(frozen=True)
class VptsCsvSpec:
    """One VPTS CSV exchange-standard version, as data: what its Table
    Schema does not say. The column facts are read from the schema."""

    version: str
    nodata: str  # string rendering of the 'nodata' state
    undetect: str  # string rendering of the 'undetect' state
    #: sort keys with the type used for comparison
    #: (reference: src/vptstools/vpts_csv.py:254-256)
    sort: tuple[tuple[str, str], ...] = ()
    #: vcp values treated as nodata (reference: src/vptstools/vpts_csv.py:287)
    vcp_nodata_values: tuple[str, ...] = ("NULL", "0")

    @property
    def fields(self) -> list[dict]:
        """The Table Schema's field descriptors, in column order."""
        return load_vendored_descriptor(self.version)["fields"]

    @property
    def columns(self) -> tuple[str, ...]:
        """Output column order (normative; reference tests/test_vpts.py:75-82)."""
        return tuple(f["name"] for f in self.fields)

    @property
    def measurement_columns(self) -> tuple[str, ...]:
        """The tri-state measurements: the fields that take ``undetect`` as a
        missing value."""
        return tuple(f["name"] for f in self.fields if self.undetect in f.get("missingValues", ()))

    @property
    def source_file_regex(self) -> str:
        """Guard regex for source_file: its field's ``pattern``
        (reference: src/vptstools/vpts_csv.py:241)."""
        (field,) = (f for f in self.fields if f["name"] == "source_file")
        return field["constraints"]["pattern"]


VPTS_CSV_V1 = VptsCsvSpec(
    version="v1.0",
    nodata="",
    undetect="NaN",
    sort=(("radar", "string"), ("datetime", "string"), ("height", "int"), ("source_file", "string")),
)

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

