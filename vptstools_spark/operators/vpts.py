"""Core VPTS conversion engine — profile long table → VPTS CSV table.

Reference lifecycle (src/vptstools/vpts.py:180-294): vp() converts one file,
vpts() many (multiprocessing.Pool + concat + re-sort), vpts_to_csv() sinks.
Spark shape: one declarative plan — scan → parse → versioned projection →
global orderBy (the only wide stage) → sink. The multi-file parallelism the
reference hand-builds with a process pool is Spark task scheduling.

All rendering is Catalyst expressions (whole-stage codegen): the plan holds
no Python node past the decode. The double measurement cells arrive as text
already, rendered bit-exact with CPython `repr` where the ODIM file is
decoded (`sources.odim.render_double`; the reference renders via numpy
`.tolist()` → pandas `to_csv`, vpts.py:58-63, which Java's
`Double.toString` does not reproduce).

Validation (`validate_vpts`) reads its rules from the version's vendored
frictionless Table Schema, the same file `schemas.VptsCsvSpec` takes its
columns from, or from a descriptor the caller supplies, and runs them as one
Spark aggregate.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from vptstools_spark.functions.scalars import (
    bool_to_bool_str,
    check_source_file,
    datetime_to_proper8601,
    int_to_nodata,
    round6,
)
from vptstools_spark.schemas import (
    STATE_NODATA,
    STATE_UNDETECT,
    VptsCsvSpec,
    get_vpts_version,
    load_vendored_descriptor,
)


def _render_measurement(col: str, spec: VptsCsvSpec) -> Column:
    """Tri-state cell → serialized string (reference: src/vptstools/vpts.py:125-127,
    sentinel renderings at vpts_csv.py:243-251): nodata → "" and undetect →
    "NaN" for v1.0; a value cell is cast to string, which keeps the doubles'
    rendered text as it is and renders the counts."""
    state = F.col(f"{col}__state")
    return (
        F.when(state == STATE_NODATA, F.lit(spec.nodata))
        .when(state == STATE_UNDETECT, F.lit(spec.undetect))
        .otherwise(F.col(col).cast("string"))
    )


def vpts_columns(spec: VptsCsvSpec) -> list[Column]:
    """Versioned mapping projection P1 (reference: src/vptstools/vpts_csv.py:258-295)
    over a long-format profile DataFrame (schemas.profile_long_schema): the
    version's normative columns, all string-rendered, in normative order."""
    cols: dict[str, Column] = {
        "radar": F.col("radar"),
        "datetime": datetime_to_proper8601(F.col("ts")),
        "height": F.col("height").cast("string"),
        "gap": bool_to_bool_str(F.col("gap")),
        "rcs": F.col("rcs").cast("string"),
        "sd_vvp_threshold": F.col("sd_vvp_threshold").cast("string"),
        "vcp": int_to_nodata(F.col("vcp"), list(spec.vcp_nodata_values), spec.nodata),
        "radar_latitude": round6(F.col("radar_latitude")).cast("string"),
        "radar_longitude": round6(F.col("radar_longitude")).cast("string"),
        "radar_height": F.col("radar_height").cast("string"),
        "radar_wavelength": round6(F.col("radar_wavelength")).cast("string"),
        "source_file": check_source_file(F.col("source_file"), spec.source_file_regex),
    }
    for m in spec.measurement_columns:
        cols[m] = _render_measurement(m, spec)
    return [cols[name].alias(name) for name in spec.columns]


def to_vpts_table(profile_df: DataFrame, vpts_csv_version: str = "v1.0") -> DataFrame:
    """The profiles of ``profile_df`` as a VPTS table: ``vpts_columns``,
    globally sorted by the version's sort rule."""
    spec = get_vpts_version(vpts_csv_version)
    return sort_vpts(profile_df.select(*vpts_columns(spec)), spec)


def sort_vpts(df: DataFrame, spec: VptsCsvSpec) -> DataFrame:
    """Typed multi-key global sort O1 (reference: src/vptstools/vpts.py:130-134,
    spec at vpts_csv.py:254-256): compare `height` numerically even though it
    is serialized as string; total order incl. tie-breaker source_file.

    Spark executes this as a range-partitioned global sort — the plan's only
    wide stage; AQE sizes the range partitions at runtime.
    """
    keys = [
        F.col(name).cast("int") if typ == "int" else F.col(name)
        for name, typ in spec.sort
    ]
    return df.orderBy(*keys)


def resolve_source_file(path: str, transform: str | Callable[[str], str] | None) -> str:
    """The reference's one user-extensible scalar hook P16
    (src/vptstools/vpts.py:189-220): `source_file` may be a fixed string or a
    named callable path→str; default is the basename. Lambdas are rejected,
    the constraint the reference documents (vpts.py:237-239) for callables
    that must pickle by name."""
    if transform is None or transform == "":
        return os.path.basename(path)
    if callable(transform):
        if getattr(transform, "__name__", "") == "<lambda>":
            raise ValueError("source_file callable may not be a lambda (it must be picklable by name)")
        return str(transform(path))
    return str(transform)


def vp(
    spark: SparkSession,
    file_path: str,
    vpts_csv_version: str = "v1.0",
    source_file: str | Callable[[str], str] | None = None,
) -> DataFrame:
    """Convert one ODIM HDF5 VP file (reference: src/vptstools/vpts.py:180-215).
    ``source_file`` is resolved on the driver by ``resolve_source_file``."""
    from vptstools_spark.sources.odim import read_vp_files

    profiles = read_vp_files(spark, file_path, on_error="fail").withColumn(
        "source_file", F.lit(resolve_source_file(file_path, source_file))
    )
    return to_vpts_table(profiles, vpts_csv_version)


def vpts(
    spark: SparkSession,
    file_paths: str | list[str],
    vpts_csv_version: str = "v1.0",
) -> DataFrame:
    """Convert many VP files into one globally sorted VPTS DataFrame
    (reference: src/vptstools/vpts.py:223-275).

    The reference's Pool.map + pd.concat + re-sort collapses into a single
    multi-file scan + one global orderBy; duplicates on (radar, datetime,
    height) are preserved, disambiguated by source_file
    (reference: tests/test_vpts.py:84-91).
    """
    from vptstools_spark.sources.odim import read_vp_files

    profiles = read_vp_files(spark, file_paths, on_error="warn")
    return to_vpts_table(profiles, vpts_csv_version)


def vpts_to_csv(df: DataFrame, path: str) -> None:
    """CSV sink K1/K2 (reference: src/vptstools/vpts.py:278-294,
    bin/vph5_to_vpts.py:241-245): the reference's one-file-per-target
    contract via coalesce(1) + rename of the single part file. Rows keep
    the order they have inside ``df``'s partitions.
    """
    import glob
    import shutil

    tmp = path + "._spark_tmp"
    (
        df.coalesce(1)
        .write.mode("overwrite")
        .option("header", "true")
        .option("emptyValue", "")
        .option("nullValue", "")
        .csv(tmp)
    )
    part = glob.glob(os.path.join(tmp, "part-*"))[0]
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    shutil.move(part, path)
    shutil.rmtree(tmp)


def validate_vpts(
    df: DataFrame,
    vpts_csv_version: str = "v1.0",
    descriptor: dict | None = None,
) -> DataFrame:
    """Schema-conformance check K5: a frictionless Table Schema — the
    version's vendored one unless ``descriptor`` is given — expressed as
    Spark constraints (the reference validates with frictionless against the
    published vpts-csv schema, src/vptstools/vpts.py:297-343).

    Per field: ``{name}_required``; the type rule of its ``type`` (number,
    strictly-integral integer: ``{name}_type``; ISO-8601 datetime:
    ``{name}_iso8601``; TRUE/FALSE boolean: ``{name}_bool``); ``{name}_range``
    from its ``minimum``/``maximum``; and ``{name}_safe`` from its
    ``pattern``, where a NULL cell (the guard's rendering of an unsafe
    ``source_file``) is a violation too. A cell equal to one of the field's
    ``missingValues`` (else the schema's) is exempt from the type and range
    rules. ``columns_present`` fires when a schema field is absent from
    ``df``. File sort order is a separate check (`validate_vpts_order`)
    because a DataFrame carries no row order.

    Returns a DataFrame of (rule, n_violations); empty ⇒ valid. All rules
    evaluate in ONE aggregate pass over the data — no driver-side collect,
    no per-rule scans.
    """
    schema = descriptor or load_vendored_descriptor(get_vpts_version(vpts_csv_version).version)
    fields = [f for f in schema["fields"] if f["name"] in df.columns]
    checks: list[tuple[str, Column]] = [
        ("columns_present", F.lit(len(fields) < len(schema["fields"]))),
    ]
    for field in fields:
        name, kind = field["name"], field.get("type", "string")
        constraints = field.get("constraints") or {}
        col = F.col(name)
        missing = col.isNull()
        for value in field.get("missingValues", schema.get("missingValues", [""])):
            missing = missing | (col == value)
        if constraints.get("required"):
            checks.append((f"{name}_required", missing))
        if kind == "datetime":
            checks.append((f"{name}_iso8601", ~missing & ~col.rlike(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z$")))
        elif kind == "boolean":
            checks.append((f"{name}_bool", ~missing & ~col.isin("TRUE", "FALSE")))
        elif kind in ("number", "integer"):
            # try_cast, not cast: ANSI mode (Spark 4 default) aborts the job
            # on the first malformed cell — the validator must COUNT them
            v = col.try_cast("double")
            if kind == "integer":
                # 12.5 casts to int fine in Spark (truncates) — reject
                # non-integral text explicitly
                bad_type = col.try_cast("int").isNull() | ~col.rlike(r"^-?\d+$")
            else:
                # try_cast parses literal "NaN"/"Infinity" as doubles; where
                # "NaN" is not a missing value they are type violations
                bad_type = v.isNull() | F.isnan(v)
            checks.append((f"{name}_type", ~missing & bad_type))
            lo, hi = constraints.get("minimum"), constraints.get("maximum")
            if lo is not None or hi is not None:
                in_range = F.lit(True)
                if lo is not None:
                    in_range = in_range & (v >= F.lit(float(lo)))
                if hi is not None:
                    in_range = in_range & (v <= F.lit(float(hi)))
                checks.append((f"{name}_range", ~missing & v.isNotNull() & ~F.isnan(v) & ~in_range))
        if "pattern" in constraints:
            checks.append(
                (f"{name}_safe", col.isNull() | ~col.rlike(constraints["pattern"]))
            )
    agg = df.agg(*[F.sum(expr.cast("int")).alias(name) for name, expr in checks])
    long = agg.selectExpr(
        "stack({n}, {pairs}) as (rule, n_violations)".format(
            n=len(checks),
            pairs=", ".join(f"'{name}', `{name}`" for name, _ in checks),
        )
    )
    return long.filter(F.col("n_violations") > 0)


def validate_vpts_order(df: DataFrame, vpts_csv_version: str = "v1.0") -> int:
    """Sort-order rule of the v1.0 schema: rows ordered by (radar, datetime,
    height::int, source_file). Returns the count of adjacent inversions in
    the DataFrame's current row order (0 ⇒ sorted).

    Row order is taken from ``monotonically_increasing_id`` — faithful to
    file order for CSV reads (partition ids follow file offsets). The check
    windows over that id globally, a one-task sort, which suits its target:
    one published VPTS file."""
    from pyspark.sql import Window

    spec = get_vpts_version(vpts_csv_version)
    key = F.struct(
        *[
            F.col(name).cast("int").alias(name) if typ == "int" else F.col(name)
            for name, typ in spec.sort
        ]
    )
    w = Window.orderBy(F.monotonically_increasing_id())
    flagged = df.select(key.alias("_k")).withColumn(
        "_bad", (F.lag("_k").over(w) > F.col("_k")).cast("int")
    )
    return flagged.agg(F.sum("_bad")).first()[0] or 0
