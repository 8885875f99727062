"""ODIM HDF5 VP source connector — Spark-first design.

Reference behavior (src/vptstools/odimh5.py:16-152, src/vptstools/vpts.py:27-177):
one ~25 KB HDF5 file = one radar × one timestamp × N altitude levels; root
groups what/where/how hold scalar metadata; `dataset1/data<K>` holds one 1-D
array per quantity with per-array gain/offset/nodata/undetect attributes.

Spark shape: ``spark.read.format("binaryFile")`` over ``*.h5`` (binary scan —
HDF5 is not splittable, but binaryFile packs MANY small files into one task
via files.maxPartitionBytes, which solves the small-file problem at 100 TB
scale) → ``mapInArrow`` over ``decode_files``, one input file-row → N typed
long-format rows (the engine's one real UDTF, SURVEY §2.9). ``decode_files``
is the one per-file decode loop: the ``format("odim")`` DataSource
(sources/odim_datasource.py) runs it too, so both faces share one failure
policy (``on_error``: warn | fail).

Each row carries the path of the file it was decoded from (the binaryFile
``path``): the daily phase keys its radar-day files by that path's
``{source}/{file_type}/{radar}/{yyyy}/{mm}/{dd}`` directory, as the
reference does by listing each radar-day folder.

The decode loop also renders each double measurement cell to its CPython
``repr`` text (``render_double``), the form the reference's CSV carries
(numpy ``.tolist()`` → pandas ``to_csv``, reference vpts.py:58-63). Java's
``Double.toString`` differs in scientific-notation thresholds (``5.0E-4`` vs
``0.0005``) and exponent form (``E-5`` vs ``e-05``), so the text is made
here, while the Python worker already holds each float, and the VPTS
projection downstream stays in Catalyst.

The HDF5 byte layer prefers h5py when installed and otherwise uses the
bundled pure-Python reader (sources/hdf5.py — public HDF5 format spec, no
native deps), so the real ``.h5`` → VPTS path runs in any container; the
decode semantics (gain/offset → dtype cast → sentinel compare, reference
vpts.py:48-66) are pure functions tested independently of either backend.
"""

from __future__ import annotations

import io
import warnings
from collections.abc import Callable, Iterable, Iterator
from datetime import datetime, timezone
from typing import TYPE_CHECKING, Any

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from vptstools_spark.schemas import (
    STATE_NODATA,
    STATE_UNDETECT,
    STATE_VALUE,
    V1_QUANTITIES,
    profile_long_schema,
)

if TYPE_CHECKING:
    import pyarrow as pa


class InvalidSourceODIM(ValueError):
    """Non-ODIM or non-VP source file (reference: src/vptstools/odimh5.py:141-152)."""


#: the measurement columns carried as rendered text (the doubles)
TEXT_CELLS = tuple(col for col, t in V1_QUANTITIES.values() if t.typeName() == "string")


def render_double(v: Any) -> str | None:
    """A double measurement cell's text: CPython ``repr(float(v))``, or
    ``None`` for a missing or NaN value (the reference's ``na_rep=""``)."""
    return None if v is None or v != v else repr(float(v))


def decode_quantity(
    raw: np.ndarray,
    gain: float,
    offset: float,
    nodata: float,
    undetect: float,
    dtype: np.dtype,
) -> tuple[list[Any], list[int]]:
    """Decode one ODIM quantity array into (values, states).

    Operation order is normative (reference: src/vptstools/vpts.py:53-66):
    1. decoded = (raw * gain + offset) cast back to the ORIGINAL dtype —
       float32 quantities therefore round-trip through float32 before being
       widened to double, which is what produces full-precision reprs like
       2.6825144290924072 in the golden CSVs (SURVEY §7.4.1);
    2. sentinel comparison happens on the DECODED value, nodata first, then
       undetect (a value matching both is nodata).

    Returns values (python floats/ints, None where sentinel) and per-cell
    states (STATE_VALUE/STATE_NODATA/STATE_UNDETECT).
    """
    decoded = (np.asarray(raw) * gain + offset).astype(dtype).flatten().tolist()
    values: list[Any] = []
    states: list[int] = []
    for v in decoded:
        if v == nodata:
            values.append(None)
            states.append(STATE_NODATA)
        elif v == undetect:
            values.append(None)
            states.append(STATE_UNDETECT)
        else:
            values.append(v)
            states.append(STATE_VALUE)
    return values, states


def _parse_source_identifiers(source: str) -> dict[str, str]:
    """`WMO:06477,RAD:BX41,NOD:bewid` → dict (reference: odimh5.py:104-116)."""
    return dict(item.split(":", 1) for item in source.split(",") if ":" in item)


def _open_h5(content: bytes):
    """Open ODIM bytes with h5py when present, else the bundled pure-Python
    reader. Both expose the subset used here: ``[path]``, ``.attrs``,
    ``.keys()``, ``in``, ``dataset[()]``, ``dataset.dtype``."""
    try:
        import h5py  # noqa: PLC0415 — executor-side optional dependency

        return h5py.File(io.BytesIO(content), "r")
    except ImportError:
        from vptstools_spark.sources.hdf5 import H5File  # noqa: PLC0415

        return H5File(content)


def parse_odim_bytes(name: str, content: bytes) -> list[dict]:
    """Parse one ODIM HDF5 VP file (as bytes) into long-format row dicts.

    Mirrors reference BirdProfile.from_odim + to_vp explode
    (src/vptstools/vpts.py:138-177) but emits cells + state flags instead of
    an all-string frame: double measurements as ``render_double`` text,
    counts as ints, ``gap`` as bool; every row's ``path`` is ``name`` and
    its ``source_file`` the basename of ``name``. Uses
    h5py when installed; otherwise the bundled pure-Python HDF5 reader
    (sources/hdf5.py) — same subset API, so the byte path runs everywhere.
    """
    with _open_h5(content) as hdf5:
        for group in ("what", "where", "how"):
            if group not in hdf5:
                raise InvalidSourceODIM(f"No {group} group in ODIM file {name}")
        what = {k: _attr(v) for k, v in hdf5["what"].attrs.items()}
        if str(what.get("object")) != "VP":
            raise InvalidSourceODIM(
                f"Incorrect object value in ODIM file {name}: expected VP"
            )
        where = {k: _attr(v) for k, v in hdf5["where"].attrs.items()}
        how = {k: _attr(v) for k, v in hdf5["how"].attrs.items()}

        ts = (
            datetime.strptime(f"{what['date']}{what['time']}", "%Y%m%d%H%M%S").replace(
                tzinfo=timezone.utc
            )
            if "date" in what
            else None
        )
        identifiers = _parse_source_identifiers(str(what.get("source", "")))

        dataset1 = hdf5["dataset1"]
        quantity_to_group = {}  # quantity → (its data group, the group's what attrs)
        for key in dataset1.keys():
            if key != "what":
                grp = dataset1[key]
                a = grp["what"].attrs
                quantity_to_group[_attr(a["quantity"])] = (grp, a)

        def decode(q: str) -> tuple[list[Any], list[int]]:
            grp, a = quantity_to_group[q]
            data = grp["data"]
            return decode_quantity(
                data[()],
                float(a["gain"]),
                float(a["offset"]),
                float(a["nodata"]),
                float(a["undetect"]),
                data.dtype,
            )

        levels, _ = decode("HGHT")
        n_levels = len(levels)

        base = {
            "path": name,
            "source_file": name.rsplit("/", 1)[-1],
            "radar": identifiers.get("NOD", ""),
            "ts": ts,
            "rcs": _as_float(how.get("rcs_bird")),
            "sd_vvp_threshold": _as_float(how.get("sd_vvp_thresh")),
            "vcp": None if how.get("vcp") is None else str(how.get("vcp")),
            "radar_latitude": _as_float(where.get("lat")),
            "radar_longitude": _as_float(where.get("lon")),
            "radar_height": None if where.get("height") is None else int(where["height"]),
            "radar_wavelength": _as_float(how.get("wavelength")),
        }

        cells = []
        for odim_name, (col, _dtype) in V1_QUANTITIES.items():
            if odim_name not in quantity_to_group:
                vals, states = [None] * n_levels, [STATE_NODATA] * n_levels
            else:
                vals, states = decode(odim_name)
                if col in TEXT_CELLS:
                    vals = [render_double(v) for v in vals]
                elif col == "gap":
                    vals = [None if v is None else bool(v) for v in vals]
                else:
                    vals = [None if v is None else int(v) for v in vals]
            cells.append((col, None if col == "gap" else f"{col}__state", vals, states))

        rows = []
        for i in range(n_levels):
            row = dict(base)
            row["height"] = int(levels[i])
            for col, state_col, vals, states in cells:
                row[col] = vals[i]
                if state_col:
                    row[state_col] = states[i]
            rows.append(row)
        return rows


def _attr(v: Any) -> Any:
    if isinstance(v, bytes):
        return v.decode("utf8")
    if isinstance(v, np.generic):
        return v.item()
    return v


def _as_float(v: Any) -> float | None:
    try:
        return None if v is None else float(v)
    except (TypeError, ValueError):
        return None


#: files per Arrow record batch (~25 rows/file ⇒ ~6.4k rows/batch):
#: bounds executor memory while amortizing the Arrow conversion
BATCH_FILES = 256


def check_on_error(on_error: str) -> None:
    """Plan-time check of ``decode_files``' failure policy value."""
    if on_error not in ("warn", "fail"):
        raise ValueError(f"on_error must be one of ('warn', 'fail'), got {on_error!r}")


def decode_files(
    files: Iterable[tuple[str, Callable[[], bytes]]],
    on_error: str,
) -> Iterator["pa.RecordBatch"]:
    """Decode ``(path, read)`` pairs, ``read()`` returning the file's bytes,
    into Arrow record batches of ``profile_long_schema()`` — the one
    executor-side decode loop behind ``read_vp_files`` and the ``odim``
    DataSource readers.

    Failure policy, per file (reference warn-and-continue,
    src/vptstools/bin/vph5_to_vpts.py:198-200): under ``on_error='warn'`` a
    file that cannot be read or parsed is skipped with a warning naming its
    path and the exception; under ``'fail'`` the exception aborts the task.
    """
    import pyarrow as pa  # noqa: PLC0415 — executor-side
    from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

    schema = to_arrow_schema(profile_long_schema())
    rows: list[dict] = []
    for n, (path, read) in enumerate(files, 1):
        try:
            rows.extend(parse_odim_bytes(path, read()))
        except Exception as exc:  # per-file boundary: the scan goes on under warn
            if on_error == "fail":
                raise
            warnings.warn(f"skipping unreadable ODIM file {path}: {exc!r}")
        if n % BATCH_FILES == 0 and rows:
            yield pa.RecordBatch.from_pylist(rows, schema=schema)
            rows = []
    if rows:
        yield pa.RecordBatch.from_pylist(rows, schema=schema)


def read_vp_files(
    spark: SparkSession,
    path: str | list[str],
    on_error: str = "warn",
) -> DataFrame:
    """Scan ODIM HDF5 VP files into the typed long-format profile DataFrame:
    ``binaryFile`` scan → ``mapInArrow`` over ``decode_files``, with its
    per-file failure policy (``on_error``: warn | fail)."""
    check_on_error(on_error)
    binary = spark.read.format("binaryFile").option("pathGlobFilter", "*.h5").load(path)

    def parse(batches: Iterable["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        files = (
            (p, lambda c=c: c)
            for b in batches
            for p, c in zip(b.column("path").to_pylist(), b.column("content").to_pylist())
        )
        return decode_files(files, on_error)

    return binary.select("path", "content").mapInArrow(parse, schema=profile_long_schema())


def profiles_from_records(spark: SparkSession, records: list[dict]) -> DataFrame:
    """Build the long-format profile DataFrame from pre-decoded row dicts,
    each with the ``path`` of the file it stands for, so VPTS rendering can
    be driven without HDF5 bytes. Double measurement
    cells are given as floats and rendered by ``render_double``, as the
    decoder renders them."""
    rendered = [{**r, **{c: render_double(r[c]) for c in TEXT_CELLS if c in r}} for r in records]
    return spark.createDataFrame(rendered, schema=profile_long_schema())
