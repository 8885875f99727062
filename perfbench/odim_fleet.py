"""Seeded ODIM VP HDF5 fleet writer and its VPTS CSV oracle.

Writes vol2bird-shaped vertical-profile files with no HDF5 library and no
template file, following the HDF5 File Format Specification 3.0:

- superblock version 2 with 8-byte offsets and lengths;
- version-2 object headers ("OHDR") closed by a Jenkins lookup3 checksum;
- compact "new-style" groups: Link Info + Group Info + one Link message per
  child (hard links);
- scalar attributes (attribute message v3, dataspace v2, fixed-point,
  IEEE float and null-terminated ASCII string datatypes);
- 25x1 datasets stored as one chunk, byte-shuffled then deflated, described
  by a version-1 filter-pipeline message and indexed by a version-1 chunk
  B-tree (node allocated at its full 2K=64-entry size).

A version-2 filter-pipeline message is not used: the package's reader
(``sources/hdf5.py:_read_filters``) reads an 8-byte entry header for v2 as
for v1, but v2 drops the Name Length field for filter ids below 256, so a
v2 message misparses ("unsupported filter id 515").

Every decoded cell is chosen so that ``raw * gain + offset`` is exact in
float32: the expected CSV text (``expected_rows``) is rendered here in plain
Python from the VPTS CSV v1.0 rules, independent of the engine.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import struct
import zlib

import numpy as np

UNDEF = 0xFFFFFFFFFFFFFFFF
M32 = 0xFFFFFFFF

#: 25 levels of 200 m, as vol2bird writes them
N_LEVELS = 25
INTERVAL = 200

#: (ODIM quantity, storage kind). HGHT plus the 15 VPTS CSV v1.0 quantities
#: (``schemas.V1_QUANTITIES``); "h" = float32 level height, "f" = float32
#: measurement, "i" = int32 count, "g" = uint8 gap flag.
QUANTITIES = [
    ("HGHT", "h"),
    ("u", "f"),
    ("v", "f"),
    ("w", "f"),
    ("ff", "f"),
    ("dd", "f"),
    ("sd_vvp", "f"),
    ("gap", "g"),
    ("eta", "f"),
    ("dens", "f"),
    ("dbz", "f"),
    ("DBZH", "f"),
    ("n", "i"),
    ("n_dbz", "i"),
    ("n_all", "i"),
    ("n_dbz_all", "i"),
]

#: decode parameters per kind: gain, offset, nodata, undetect (decoded
#: values; the raw sentinels are (value - offset) / gain, exact)
DECODE = {
    "h": (1.0, 0.0, -9999.0, -9998.0),
    "f": (0.5, -2.0, -1000.0, -1001.0),
    "i": (1.0, 0.0, -1.0, -2.0),
    "g": (1.0, 0.0, 255.0, 254.0),
}

VPTS_COLUMNS = (
    "radar", "datetime", "height", "u", "v", "w", "ff", "dd", "sd_vvp", "gap",
    "eta", "dens", "dbz", "dbz_all", "n", "n_dbz", "n_all", "n_dbz_all", "rcs",
    "sd_vvp_threshold", "vcp", "radar_latitude", "radar_longitude",
    "radar_height", "radar_wavelength", "source_file",
)


# ------------------------------------------------------------------ lookup3


def _rot(x: int, k: int) -> int:
    return ((x << k) | (x >> (32 - k))) & M32


def lookup3(data: bytes, initval: int = 0) -> int:
    """Bob Jenkins' ``hashlittle`` (lookup3.c), the HDF5 metadata checksum."""
    n = len(data)
    a = b = c = (0xDEADBEEF + n + initval) & M32
    if n == 0:
        return c
    pad = data + bytes(-n % 12)
    words = struct.unpack(f"<{len(pad) // 4}I", pad)
    last = len(words) - 3
    for i in range(0, last, 3):
        a = (a + words[i]) & M32
        b = (b + words[i + 1]) & M32
        c = (c + words[i + 2]) & M32
        a = (a - c) & M32; a ^= _rot(c, 4); c = (c + b) & M32  # noqa: E702
        b = (b - a) & M32; b ^= _rot(a, 6); a = (a + c) & M32  # noqa: E702
        c = (c - b) & M32; c ^= _rot(b, 8); b = (b + a) & M32  # noqa: E702
        a = (a - c) & M32; a ^= _rot(c, 16); c = (c + b) & M32  # noqa: E702
        b = (b - a) & M32; b ^= _rot(a, 19); a = (a + c) & M32  # noqa: E702
        c = (c - b) & M32; c ^= _rot(b, 4); b = (b + a) & M32  # noqa: E702
    a = (a + words[last]) & M32
    b = (b + words[last + 1]) & M32
    c = (c + words[last + 2]) & M32
    c ^= b; c = (c - _rot(b, 14)) & M32  # noqa: E702
    a ^= c; a = (a - _rot(c, 11)) & M32  # noqa: E702
    b ^= a; b = (b - _rot(a, 25)) & M32  # noqa: E702
    c ^= b; c = (c - _rot(b, 16)) & M32  # noqa: E702
    a ^= c; a = (a - _rot(c, 4)) & M32  # noqa: E702
    b ^= a; b = (b - _rot(a, 14)) & M32  # noqa: E702
    c ^= b; c = (c - _rot(b, 24)) & M32  # noqa: E702
    return c


# ------------------------------------------------------------ HDF5 encoding


def _dt_float(size: int) -> bytes:
    sign, exp_loc, exp_size, mant, bias = (
        (63, 52, 11, 52, 1023) if size == 8 else (31, 23, 8, 23, 127)
    )
    return (
        bytes([0x11, 0x20, sign, 0])
        + struct.pack("<IHHBBBBI", size, 0, 8 * size, exp_loc, exp_size, 0, mant, bias)
    )


def _dt_int(size: int, signed: bool) -> bytes:
    return bytes([0x10, 0x08 if signed else 0, 0, 0]) + struct.pack("<IHH", size, 0, 8 * size)


def _dt_string(size: int) -> bytes:
    return bytes([0x13, 0, 0, 0]) + struct.pack("<I", size)


_F64, _F32, _I64, _I32, _U8 = _dt_float(8), _dt_float(4), _dt_int(8, True), _dt_int(4, True), _dt_int(1, False)
_SCALAR = bytes([2, 0, 0, 0])  # dataspace v2, rank 0, scalar


def _attribute(name: str, value) -> tuple[int, bytes]:
    """Attribute message v3 for one scalar (str, int or float)."""
    if isinstance(value, str):
        raw = value.encode() + b"\x00"
        dtype = _dt_string(len(raw))
    elif isinstance(value, int):
        raw, dtype = struct.pack("<q", value), _I64
    else:
        raw, dtype = struct.pack("<d", value), _F64
    bname = name.encode() + b"\x00"
    head = struct.pack("<BBHHHB", 3, 0, len(bname), len(dtype), len(_SCALAR), 0)
    return 0x0C, head + bname + dtype + _SCALAR + raw


def _link(name: str, addr: int) -> tuple[int, bytes]:
    bname = name.encode()
    return 0x06, struct.pack("<BBB", 1, 0, len(bname)) + bname + struct.pack("<Q", addr)


_LINK_INFO = (0x02, struct.pack("<BBQQ", 0, 0, UNDEF, UNDEF))
_GROUP_INFO = (0x0A, bytes([0, 0]))
_FILL_VALUE = (0x05, bytes([3, 0x0A]))  # v3: incremental alloc, write if set
#: filter pipeline v1: shuffle(elem size) then deflate(level 6); one client
#: value each, so each entry is padded by 4 bytes
_PIPELINE_HEAD = struct.pack("<BB6x", 1, 2)
#: v1 chunk B-tree node: 2K entries with K=32 (the HDF5 default)
_BTREE_K = 32


class _Writer:
    """Append-only file image; objects are written children first so every
    link already knows its target's address."""

    def __init__(self):
        self.buf = bytearray(48)  # superblock v2, filled by finish()

    def _put(self, data: bytes) -> int:
        addr = len(self.buf)
        self.buf += data
        return addr

    def object_header(self, messages: list[tuple[int, bytes]]) -> int:
        body = b"".join(struct.pack("<BHB", t, len(b), 0) + b for t, b in messages)
        head = b"OHDR" + struct.pack("<BBH", 2, 1, len(body))  # 2-byte chunk0 size
        block = head + body
        return self._put(block + struct.pack("<I", lookup3(block)))

    def group(self, attrs: dict, children: dict[str, int]) -> int:
        msgs = [_LINK_INFO, _GROUP_INFO]
        msgs += [_link(k, children[k]) for k in sorted(children)]
        msgs += [_attribute(k, v) for k, v in attrs.items()]
        return self.object_header(msgs)

    def dataset(self, arr: np.ndarray) -> int:
        """Chunked (one chunk), shuffled + deflated 2-D dataset."""
        size = arr.dtype.itemsize
        raw = np.ascontiguousarray(arr).view(np.uint8).reshape(-1, size).T.tobytes()
        chunk_addr = self._put(zlib.compress(raw, 6))
        chunk_len = len(self.buf) - chunk_addr
        rank = arr.ndim
        key = lambda nbytes, offs: struct.pack(f"<II{rank + 1}Q", nbytes, 0, *offs)  # noqa: E731
        node = (
            b"TREE" + struct.pack("<BBHQQ", 1, 0, 1, UNDEF, UNDEF)
            + key(chunk_len, [0] * (rank + 1)) + struct.pack("<Q", chunk_addr)
            + key(0, [*arr.shape, 0])
        )
        full = 24 + (2 * _BTREE_K + 1) * (8 + 8 * (rank + 1)) + 2 * _BTREE_K * 8
        btree = self._put(node + bytes(full - len(node)))
        dtype = {"f4": _F32, "i4": _I32, "u1": _U8}[arr.dtype.str[1:]]
        dspace = struct.pack(f"<BBBB{rank}Q", 2, rank, 0, 1, *arr.shape)
        layout = struct.pack(f"<BBBQ{rank + 1}I", 3, 2, rank + 1, btree, *arr.shape, size)
        pipeline = _PIPELINE_HEAD + struct.pack("<HHHHI4x", 2, 0, 0, 1, size) + struct.pack(
            "<HHHHI4x", 1, 0, 0, 1, 6
        )
        return self.object_header(
            [(0x01, dspace), (0x03, dtype), _FILL_VALUE, (0x08, layout), (0x0B, pipeline)]
        )

    def finish(self, root: int) -> bytes:
        eof = len(self.buf)
        sb = b"\x89HDF\r\n\x1a\n" + struct.pack("<BBBBQQQQ", 2, 8, 8, 0, 0, UNDEF, eof, root)
        self.buf[:48] = sb + struct.pack("<I", lookup3(sb))
        return bytes(self.buf)


# ---------------------------------------------------------- ODIM VP content


class Radar:
    """Per-radar constants of a synthetic VP fleet."""

    def __init__(self, code: str, rng: random.Random):
        self.code = code
        self.lat = round(rng.uniform(43.0, 60.0), 6)
        self.lon = round(rng.uniform(-5.0, 25.0), 6)
        self.height = rng.randrange(10, 900)
        self.wavelength = rng.choice([5.3, 5.33, 10.6])
        self.rcs = rng.choice([11.0, 25.0])
        self.sd_vvp_thresh = 2.0
        self.vcp = rng.choice([None, 0, 21])
        self.wmo = f"{rng.randrange(6000, 7000):05d}"


#: value ranges of the float quantities that are not signed components
_RANGES = {"ff": (0, 40), "dd": (0, 360), "sd_vvp": (0, 10), "eta": (0, 60), "dens": (0, 40)}


def _profile(rng: np.random.Generator) -> dict[str, np.ndarray]:
    """Decoded 25-level profile per quantity; NaN marks nodata, +inf undetect.

    Floats are multiples of 1/1024 below 360 in magnitude, so the stored raw
    value (decoded - offset) / gain and the float32 decode are exact."""
    out: dict[str, np.ndarray] = {"HGHT": np.arange(N_LEVELS, dtype=np.float64) * INTERVAL}
    for q, kind in QUANTITIES[1:]:
        if kind == "f":
            lo, hi = _RANGES.get(q, (-40, 40))
            vals = rng.integers(lo * 1024, hi * 1024, N_LEVELS) / 1024.0
        elif kind == "i":
            vals = rng.integers(0, 30000, N_LEVELS).astype(np.float64)
        else:
            vals = rng.integers(0, 2, N_LEVELS).astype(np.float64)
        if kind != "g":
            cell = rng.random(N_LEVELS)
            vals[cell < 0.15] = np.nan
            vals[(cell >= 0.15) & (cell < 0.30)] = np.inf
        out[q] = vals
    return out


def _raw(kind: str, decoded: np.ndarray) -> np.ndarray:
    gain, offset, nodata, undetect = DECODE[kind]
    vals = np.where(np.isnan(decoded), nodata, np.where(np.isinf(decoded), undetect, decoded))
    raw = (vals - offset) / gain
    dtype = {"h": np.float32, "f": np.float32, "i": np.int32, "g": np.uint8}[kind]
    return raw.astype(dtype).reshape(N_LEVELS, 1)


def vp_file_bytes(radar: Radar, ts: dt.datetime, profile: dict[str, np.ndarray]) -> bytes:
    """One ODIM_H5/V2_2 VP file, vol2bird layout."""
    w = _Writer()
    date, time = ts.strftime("%Y%m%d"), ts.strftime("%H%M%S")
    data_groups = {}
    for k, (q, kind) in enumerate(QUANTITIES, start=1):
        gain, offset, nodata, undetect = DECODE[kind]
        what = w.group(
            {"quantity": q, "gain": gain, "offset": offset, "nodata": nodata, "undetect": undetect},
            {},
        )
        data = w.dataset(_raw(kind, profile[q]))
        data_groups[f"data{k}"] = w.group({}, {"what": what, "data": data})
    ds_what = w.group(
        {"product": "VP", "startdate": date, "starttime": time, "enddate": date, "endtime": time}, {}
    )
    dataset1 = w.group({}, {"what": ds_what, **data_groups})
    what = w.group(
        {
            "object": "VP",
            "version": "H5rad 2.2",
            "date": date,
            "time": time,
            "source": f"WMO:{radar.wmo},NOD:{radar.code},PLC:Synthetic,CMT:VOL2BIRD",
        },
        {},
    )
    where = w.group(
        {
            "lat": radar.lat,
            "lon": radar.lon,
            "height": radar.height,
            "levels": N_LEVELS,
            "interval": float(INTERVAL),
            "minheight": 0.0,
            "maxheight": float(N_LEVELS * INTERVAL),
        },
        {},
    )
    how_attrs = {
        "rcs_bird": radar.rcs,
        "sd_vvp_thresh": radar.sd_vvp_thresh,
        "wavelength": radar.wavelength,
        "task": "vol2bird",
    }
    if radar.vcp is not None:
        how_attrs["vcp"] = radar.vcp
    how = w.group(how_attrs, {})
    root = w.group(
        {"Conventions": "ODIM_H5/V2_2"},
        {"what": what, "where": where, "how": how, "dataset1": dataset1},
    )
    return w.finish(root)


# ------------------------------------------------------------ VPTS oracle


def _cell(v: float, kind: str) -> str:
    if np.isnan(v):
        return ""
    if np.isinf(v):
        return "NaN"
    return repr(float(np.float32(v))) if kind == "f" else str(int(v))


def expected_rows(radar: Radar, ts: dt.datetime, profile: dict[str, np.ndarray], name: str) -> list[str]:
    """The 25 VPTS CSV v1.0 lines of one file: "" nodata, "NaN" undetect,
    TRUE/FALSE gap, CPython repr of float32 widened to double."""
    vcp = "" if not radar.vcp else str(radar.vcp)
    tail = [
        repr(radar.rcs), repr(radar.sd_vvp_thresh), vcp, repr(radar.lat), repr(radar.lon),
        str(radar.height), repr(radar.wavelength), name,
    ]
    stamp = ts.strftime("%Y-%m-%dT%H:%M:%SZ")
    lines = []
    for i in range(N_LEVELS):
        cells = [radar.code, stamp, str(int(profile["HGHT"][i]))]
        for q, kind in QUANTITIES[1:]:
            v = profile[q][i]
            cells.append(("TRUE" if v else "FALSE") if kind == "g" else _cell(v, kind))
        lines.append(",".join(cells + tail))
    return lines


CSV_HEADER = ",".join(VPTS_COLUMNS)


# ------------------------------------------------------------------ fleet


def radar_codes(n: int, seed: int) -> list[str]:
    rng = random.Random(f"radars-{seed}")
    codes: set[str] = set()
    while len(codes) < n:
        codes.add("".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(5)))
    return sorted(codes)


def write_fleet(root: str, seed: int, n_radars: int, days: list[dt.date], per_day: int,
                source: str = "baltrad") -> dict:
    """Write ``n_radars x len(days) x per_day`` files under
    ``root/{source}/hdf5/{radar}/{yyyy}/{mm}/{dd}/`` and return the oracle:
    ``{"days": {relative day dir: [csv lines, time-sorted]}, "files": n}``.

    The first file of each radar is parsed back with the package's reader
    (``sources.odim.parse_odim_bytes``) before that radar's other files are
    written."""
    rng = np.random.default_rng(seed)
    meta_rng = random.Random(seed)
    expected: dict[str, list[str]] = {}
    for code in radar_codes(n_radars, seed):
        radar = Radar(code, meta_rng)
        for d_i, day in enumerate(days):
            rel = f"{source}/hdf5/{code}/{day:%Y/%m/%d}"
            os.makedirs(os.path.join(root, rel), exist_ok=True)
            lines: list[str] = []
            for k in range(per_day):
                ts = dt.datetime.combine(day, dt.time()) + dt.timedelta(minutes=k * 1440 // per_day)
                name = f"{code}_vp_{ts:%Y%m%dT%H%M}00Z_0x9.h5"
                profile = _profile(rng)
                content = vp_file_bytes(radar, ts, profile)
                if d_i == 0 and k == 0:
                    _self_check(content, radar, ts)
                with open(os.path.join(root, rel, name), "wb") as fh:
                    fh.write(content)
                lines += expected_rows(radar, ts, profile, name)
            expected[rel] = lines
    return {"days": expected, "files": n_radars * len(days) * per_day}


def _self_check(content: bytes, radar: Radar, ts: dt.datetime) -> None:
    from vptstools_spark.sources.odim import parse_odim_bytes

    rows = parse_odim_bytes("check.h5", content)
    if len(rows) != N_LEVELS or rows[0]["radar"] != radar.code or rows[0]["ts"].replace(tzinfo=None) != ts:
        raise RuntimeError(f"generated file for {radar.code} does not parse back")
