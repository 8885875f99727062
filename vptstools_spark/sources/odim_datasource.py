"""ODIM HDF5 as a registrable Spark 4 Python Data Source:

    spark.dataSource.register(OdimDataSource)
    df = spark.read.format("odim").load("/data/vp/*.h5")

This is the DataSource-API face of the same byte path `read_vp_files`
drives through binaryFile+mapInArrow: file listing and partition
*planning* happen on the driver, parsing happens on executors in the same
decode loop (`sources/odim.py:decode_files`), and Spark sees a first-class
source with the long-format profile schema — usable from SQL
(`CREATE TABLE ... USING odim`) and composable with every downstream
operator.

Scale notes (100 TB of ~25 KB VP files):
- `partitions()` packs the file list into `ceil(n_files / files_per_task)`
  input partitions — the DataSource-API equivalent of binaryFile's
  `files.maxPartitionBytes` packing; only file PATHS travel in the plan.
- each task reads its files independently (no driver I/O after planning);
  per-file failures follow `decode_files`' policy, the same as
  `read_vp_files` (`on_error` option: warn | fail, checked at `.load()`).
- the parser is the h5py-or-pure-Python byte reader (`sources/hdf5.py`),
  so the source works in containers without native HDF5 libraries.
"""

from __future__ import annotations

import glob as _glob
import os
from collections.abc import Iterator
from pathlib import Path
from typing import TYPE_CHECKING

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from vptstools_spark.schemas import profile_long_schema
from vptstools_spark.sources.odim import check_on_error, decode_files

if TYPE_CHECKING:
    import pyarrow as pa

#: memory ceiling on files per input partition — ~25 KB VP files ⇒
#: ~50 MB per task at the cap
MAX_FILES_PER_TASK = 2000

#: floor: below this many files per task, the per-task DataSource
#: overhead (Python worker handshake + reader unpickle, measured
#: ~11 ms/task) outweighs the decode parallelism gained
MIN_FILES_PER_TASK = 8


def auto_files_per_task(n_files: int) -> int:
    """Partition-count heuristic for the ODIM DataSource planner.

    The planner runs in a Python worker WITHOUT a SparkSession, so it
    cannot ask for defaultParallelism; it reads the same SPARK_GRAFT_CPUS
    env the session builder uses (falling back to os.cpu_count()) and
    targets one task per core, clamped to [MIN, MAX]_FILES_PER_TASK.

    This replaces a fixed files_per_task=2000 default that packed every
    fleet of <=2000 files into ONE task — the r8 bench's 1.8x
    streaming-vs-batch ingest "gap" was entirely this serial decode
    (VERDICT r8 #4); the micro-batch machinery itself costs ~1.7 s per
    availableNow run. On a real cluster the driver-host core count is
    only a proxy for executor parallelism — set .option("files_per_task")
    explicitly there."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    cores = int(cpus) if cpus.isdigit() else (os.cpu_count() or 8)
    per_core = -(-n_files // max(cores, 1))  # ceil
    return max(MIN_FILES_PER_TASK, min(per_core, MAX_FILES_PER_TASK))


def pruned_files_after(
    base: str, watermark: str, until: str | None = None
) -> list[str]:
    """All `*.h5` paths p under `base` with watermark < p (and p ≤ until,
    when given), visiting ONLY directories whose subtree can contain such a
    path.

    Purely lexicographic, so it exploits ANY sorted nesting
    (radar/year/month/day in the reference archive grammar,
    functions/paths.py) without knowing it: a subtree rooted at prefix
    P = dir + "/" can hold a path > watermark iff P > watermark (every
    descendant extends P, hence sorts after it) or watermark starts with P
    (the watermark lies inside the subtree); otherwise every descendant
    sorts BEFORE the watermark and the whole subtree is skipped. The upper
    bound prunes symmetrically (P > until ⇒ every descendant > until).
    Per-trigger driver work is O(tail directories), not O(archive) —
    at the 100 TB design point (millions of files across years of
    radar/day directories) a micro-batch touches only the day dirs at and
    after the watermark. Flat layouts degrade gracefully: every file sits
    directly under `base`, which is always visited.
    """
    out: list[str] = []

    def walk(d: str) -> None:
        try:
            entries = sorted(os.scandir(d), key=lambda e: e.name)
        except OSError:
            return
        for e in entries:
            full = os.path.join(d, e.name)
            if e.is_dir(follow_symlinks=True):
                prefix = full + "/"
                if until is not None and prefix > until:
                    continue
                if prefix > watermark or watermark.startswith(prefix):
                    walk(full)
            elif e.name.endswith(".h5") and full > watermark:
                if until is None or full <= until:
                    out.append(full)

    walk(base.rstrip("/"))
    return sorted(out)


def max_file(base: str) -> str:
    """Lexicographically greatest `*.h5` path under `base`, found by
    descending only the greatest-sorting subtree chain (with backtracking
    past empty branches) — O(depth × fan-out) driver work instead of a
    full archive walk. Entries are ordered by their PATH-order key
    (dirs compare as name + "/": a dir "z" can outsort a file "z.h5"
    because "/" > "." in ASCII)."""

    def walk(d: str) -> str:
        try:
            entries = sorted(
                os.scandir(d),
                key=lambda e: e.name + "/" if e.is_dir(follow_symlinks=True) else e.name,
                reverse=True,
            )
        except OSError:
            return ""
        for e in entries:
            full = os.path.join(d, e.name)
            if e.is_dir(follow_symlinks=True):
                found = walk(full)
                if found:
                    return found
            elif e.name.endswith(".h5"):
                return full
        return ""

    return walk(base.rstrip("/"))


class OdimFilesPartition(InputPartition):
    def __init__(self, paths: list[str]):
        self.paths = paths


class OdimReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("odim source requires a path, e.g. .load('/dir/*.h5')")
        fpt = options.get("files_per_task")
        self.files_per_task = int(fpt) if fpt is not None else None
        self.on_error = options.get("on_error", "warn")

    def partitions(self) -> list[OdimFilesPartition]:
        pattern = self.path
        if not _glob.has_magic(pattern):
            # bare directory → recursive scan (radar archives nest by
            # radar/year/month/day, reference bin/vph5_to_vpts.py listing)
            pattern = pattern.rstrip("/") + "/**/*.h5"
        files = sorted(_glob.glob(pattern, recursive=True))
        n = self.files_per_task or auto_files_per_task(len(files))
        return [
            OdimFilesPartition(files[i : i + n]) for i in range(0, len(files), n)
        ] or [OdimFilesPartition([])]

    def read(self, partition: OdimFilesPartition) -> Iterator["pa.RecordBatch"]:
        return decode_files(((p, Path(p).read_bytes) for p in partition.paths), self.on_error)


class OdimStreamReader(DataSourceStreamReader):
    """Streaming ODIM ingest: `spark.readStream.format("odim").load(dir)`.

    The offset is a lexicographic FILENAME WATERMARK ({"last": path}) —
    radar archives name files by timestamp (<radar>_vp_<yyyymmddThhmm>…),
    so lexicographic order IS arrival order within a directory tree, and
    the offset stays O(1) regardless of history (unlike a processed-file
    set). Each micro-batch covers the files that sorted after the previous
    watermark; `partitions()` packs them per task exactly like the batch
    reader, and `read()` runs the shared decode loop (`decode_files`). Listing is
    watermark-pruned (round 4): each trigger walks only the directory
    subtrees that can sort after the current offset (`pruned_files_after`)
    and finds the new offset by descending the greatest-sorting chain
    (`max_file`) — O(tail) driver work per trigger on a nested archive,
    instead of re-globbing the whole tree. This is the
    DataSource-API form of the reference's cron-batch change detection
    (SURVEY §2.8): checkpointed offsets replace the S3-inventory
    `modified` lookback.
    """

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("odim stream requires a path, e.g. .load('/dir')")
        fpt = options.get("files_per_task")
        self.files_per_task = int(fpt) if fpt is not None else None
        self.on_error = options.get("on_error", "warn")

    def _list_after(self, watermark: str, until: str | None = None) -> list[str]:
        """Files strictly after `watermark` (≤ `until`), pruning whole
        directory subtrees that cannot sort into the window (round-4 fix:
        the previous full re-glob was O(archive) driver work per trigger,
        forever). Explicit glob patterns fall back to a full walk — their
        matching isn't prefix-monotone, so subtree pruning can't apply."""
        if _glob.has_magic(self.path):
            files = sorted(_glob.glob(self.path, recursive=True))
            return [
                p
                for p in files
                if watermark < p and (until is None or p <= until)
            ]
        return pruned_files_after(self.path, watermark, until)

    def initialOffset(self) -> dict:
        return {"last": ""}

    def latestOffset(self) -> dict:
        if _glob.has_magic(self.path):
            files = sorted(_glob.glob(self.path, recursive=True))
            return {"last": files[-1]} if files else {"last": ""}
        return {"last": max_file(self.path)}

    def partitions(self, start: dict, end: dict) -> list[OdimFilesPartition]:
        files = self._list_after(start["last"], end["last"])
        n = self.files_per_task or auto_files_per_task(len(files))
        return [
            OdimFilesPartition(files[i : i + n]) for i in range(0, len(files), n)
        ]

    def read(self, partition: OdimFilesPartition) -> Iterator["pa.RecordBatch"]:
        return decode_files(((p, Path(p).read_bytes) for p in partition.paths), self.on_error)

    def commit(self, end: dict) -> None:
        # nothing to clean up: the watermark in the checkpoint is the state
        pass


class OdimDataSource(DataSource):
    def __init__(self, options: dict):
        # built for .load(), batch or stream: a bad policy fails there
        super().__init__(options)
        check_on_error(self.options.get("on_error", "warn"))

    @classmethod
    def name(cls) -> str:
        return "odim"

    def schema(self):
        return profile_long_schema()

    def reader(self, schema) -> OdimReader:
        return OdimReader(self.options)

    def streamReader(self, schema) -> OdimStreamReader:
        return OdimStreamReader(self.options)
