"""ODIM HDF5 -> VPTS CSV benchmark: full reconversion and inventory-driven
incremental run, driven through the package's public entry points.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 12 --trace 0

Workloads (one client, closed loop, one Python process on local[nproc];
the host-speed kernel's nproc worker processes idle while run() executes):

- ``backfill``: ``bin.vph5_to_vpts.run(path_folder=...)`` into an empty
  destination; the inventory is never read.
- ``incremental``: ``run(modified_days_ago=2, now=...)`` over a seeded S3
  inventory, into a destination a backfill populated during set-up.

``--trace 0`` prints the end-to-end metrics, in reference seconds: wall
time scaled by a host-speed kernel timed in the same run (``HostSpeed``);
the wall figures are on the info line. ``--trace 1`` runs one traced
iteration (spans + Spark counters per span) and the per-layer probes, and
prints the per-layer metrics in wall time. Every iteration's published
files are compared byte for byte with the CSV rendered by ``odim_fleet``. The last
stdout line is the JSON result; the lines before it carry host facts,
samples and spans. See README.md for the metric map.
"""

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import glob  # noqa: E402
import gzip  # noqa: E402
import json  # noqa: E402
import multiprocessing  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CACHE = os.path.join(WORK, "cache")

#: registry queries of the analytics probe; they read only ``events``
ANALYTICS = ("inv_coverage", "inv_days_window", "events_sessionize")
#: untimed run() calls before timing, the call that populates the
#: incremental store included. The JIT compiles for the first few calls
#: (about 25 s of compile CPU in the first, 7 s in the second, under 5 s from
#: the third on, on 4 cores), so earlier calls run up to 30 % slower.
WARMUP = 2
#: timed iterations per run, at least (run_s is their median)
MIN_SAMPLES = 3
#: host-speed kernel: interpreter loop length, random-gather array length,
#: timings per CPU before each timed iteration, and the kernel's time on the
#: reference host that end-to-end times are scaled to
CAL_LOOPS = 1_000_000
CAL_ELEMENTS = 4_000_000
CAL_REPEATS = 3
CAL_REF_S = 0.2

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "files_per_s": "1/s",
}
PER_LAYER = {
    "session.start_s": "s",
    "odim.list_s": "s",
    "odim.list_tasks": "count",
    "hdf5.parse_ms_per_file": "ms",
    "odim.decode_s": "s",
    "odim.scan_tasks": "count",
    "odim.files_per_task": "count",
    "odim.rows": "count",
    "odim.files_dropped": "count",
    "odim.cpu_over_run": "ratio",
    "odim_datasource.files_per_s": "1/s",
    "vpts.render_s": "s",
    "vpts.shuffle_bytes": "bytes",
    "pipeline.daily_s": "s",
    "pipeline.monthly_s": "s",
    "pipeline.jobs": "count",
    "pipeline.spill_bytes": "bytes",
    "inventory.scan_s": "s",
    "inventory.rows_per_s": "1/s",
    "inventory.coverage_s": "s",
    "inventory.days_s": "s",
    "inventory.jobs": "count",
    **{f"analytics.{q}_s": "s" for q in ANALYTICS},
    "analytics.jobs": "count",
    "analytics.stages": "count",
    "span.run.self_s": "s",
    "span.inventory.self_s": "s",
    "span.listing.self_s": "s",
    "span.daily.self_s": "s",
    "span.monthly.self_s": "s",
    "trace.overhead_s": "s",
    "jvm.peak_rss_mb": "MB",
}


def configure_host() -> dict:
    """Size the session to this host and keep every file inside WORK."""
    cpus = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{min(4096, ram_mb // 4)}m",
        # executors import the package from the checkout
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
    )
    sys.path.insert(0, ROOT)
    return {"nproc": cpus, "ram_mb": ram_mb, "jvm_heap": os.environ["SPARK_GRAFT_DRIVER_MEM"]}


def _descendants(pid: int) -> list[int]:
    """``pid`` and every process below it, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        out.append(todo.pop())
        todo += children.get(out[-1], [])
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes) and
    its Python workers, and wait until every one of them has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    procs = _descendants(gateway.proc.pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.time() + 60
    while any(os.path.exists(f"/proc/{p}") for p in procs[1:]):
        if time.time() > deadline:
            raise RuntimeError(f"Spark processes still running: {procs}")
        time.sleep(0.1)


_gather: tuple | None = None


def _calibrate(_) -> float:
    """One timing of the host-speed kernel: an interpreter loop, then a
    random gather over arrays larger than the CPU caches."""
    global _gather
    import numpy as np

    if _gather is None:
        n = CAL_ELEMENTS
        _gather = np.arange(n, dtype=np.int64), np.random.default_rng(0).permutation(n).astype(np.int32)
    values, index = _gather
    t = time.perf_counter()
    x = 0
    for i in range(CAL_LOOPS):
        x += i * i
    values[index].sum()
    return time.perf_counter() - t


class HostSpeed:
    """Times a fixed kernel on every CPU at once, between timed run() calls,
    so wall times can be scaled to a reference host speed.

    Other tenants of a shared host change its speed by up to 1.5x within
    minutes. Over 75 backfill iterations in one JVM, the quartile spread
    of 5-iteration medians was 21 % for wall time and 6 % for wall time over
    the kernel's time (11 % with the interpreter loop alone). The worker
    processes are forked, and set-up is scaled by timings taken, before the
    JVM starts; run() calls are scaled by timings taken between them."""

    def __init__(self, cpus: int):
        t = time.time()
        self.cpus = cpus
        self.pool = multiprocessing.get_context("fork").Pool(cpus)
        self.setup_samples = self.sample()
        self.samples: list[float] = []
        self.start_s = time.time() - t  # not part of set-up

    def sample(self) -> list[float]:
        out: list[float] = []
        for _ in range(CAL_REPEATS):
            out += self.pool.map(_calibrate, range(self.cpus))
        return out

    @staticmethod
    def factor(samples: list[float]) -> float:
        """Reference seconds per wall second while ``samples`` were taken."""
        return CAL_REF_S / statistics.median(samples)

    def close(self) -> None:
        self.pool.terminate()
        self.pool.join()


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for the JVM")


# ------------------------------------------------------------ output checks


class Checker:
    """Compares published files with the oracle; counts operations.

    An operation is one source file (converted iff its 25 lines in the daily
    file equal the expected ones) or one published file (daily CSV, monthly
    gzip CSV, coverage CSV: present, rewritten and byte-equal)."""

    def __init__(self, oracle: dict):
        self.days = oracle["days"]
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def _fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.errors) < 10:
            self.errors.append(msg)

    def check(self, ok: bool, msg: str) -> None:
        self.attempted += 1
        if not ok:
            self._fail(msg)

    def _read(self, path: str, since: float, gz: bool = False) -> str | None:
        self.attempted += 1
        if not os.path.exists(path):
            self._fail(f"missing {path}")
            return None
        if os.path.getmtime(path) < since:
            self._fail(f"not rewritten {path}")
            return None
        with (gzip.open if gz else open)(path, "rt", encoding="utf-8", newline="") as fh:
            return fh.read()

    def _expect(self, path: str, text: str | None, lines: list[str]) -> None:
        want = "\n".join([odim_fleet.CSV_HEADER, *lines]) + "\n"
        if text is not None and text != want:
            self._fail(f"content differs {path}")

    def outputs(self, dest: str, day_dirs: list[str], since: float) -> None:
        months: dict[tuple, list[str]] = {}
        for rel in sorted(self.days):
            source, _t, radar, y, m, d = rel.split("/")
            months.setdefault((source, radar, y, m), []).extend(self.days[rel])
            if rel not in day_dirs:
                continue
            path = os.path.join(dest, source, "daily", radar, y, f"{radar}_vpts_{y}{m}{d}.csv")
            text = self._read(path, since)
            self._expect(path, text, self.days[rel])
            self._files(rel, text)
        touched = {tuple(r.split("/")[i] for i in (0, 2, 3, 4)) for r in day_dirs}
        for (source, radar, y, m), lines in sorted(months.items()):
            if (source, radar, y, m) in touched:
                path = os.path.join(dest, source, "monthly", radar, y, f"{radar}_vpts_{y}{m}.csv.gz")
                self._expect(path, self._read(path, since, gz=True), lines)

    def _files(self, rel: str, text: str | None) -> None:
        """Per source file: its lines must appear exactly as expected."""
        def by_file(lines):
            out: dict[str, list[str]] = {}
            for line in lines:
                out.setdefault(line.rsplit(",", 1)[-1], []).append(line)
            return out

        want = by_file(self.days[rel])
        got = by_file(text.split("\n")[1:] if text else [])
        for name, lines in want.items():
            self.check(got.get(name) == lines, f"file not converted {name}")

    def coverage(self, dest: str, expected: dict, since: float) -> None:
        path = os.path.join(dest, "coverage.csv")
        lines = [f"{d},{n}" for d, n in expected.items()]
        text = self._read(path, since)
        if text is not None and text != "\n".join(["directory,file_count", *lines]) + "\n":
            self._fail(f"content differs {path}")


# ------------------------------------------------------------------ workloads


class Bench:
    def __init__(self, spark, workload: str, seed: int, with_inventory: bool):
        from vptstools_spark.bin import vph5_to_vpts

        self.spark = spark
        self.workload = workload
        self.seed = seed
        self.cli = vph5_to_vpts
        self.h5_root, self.oracle = inputs.fleet(CACHE, seed)
        if with_inventory:
            self.manifest, self.inv = inputs.inventory(CACHE, seed, self.h5_root)
        self.dest = os.path.join(WORK, f"dest-{workload}")
        shutil.rmtree(self.dest, ignore_errors=True)
        self.checker = Checker(self.oracle)
        self.warmup_calls = WARMUP
        if workload == "incremental":
            self._call(path_folder=inputs.SOURCE)  # populate the store, untimed
            self.warmup_calls -= 1

    def _call(self, **kw) -> dict:
        with contextlib.redirect_stdout(sys.stderr):
            return self.cli.run(h5_root=self.h5_root, destination=self.dest, spark=self.spark, **kw)

    def iteration(self) -> float:
        """One timed run() call, then its output checks (untimed)."""
        if self.workload == "backfill":
            shutil.rmtree(self.dest, ignore_errors=True)
            kw = {"path_folder": inputs.SOURCE}
            days = sorted(self.oracle["days"])
        else:
            kw = {
                "manifest": self.manifest,
                "modified_days_ago": inputs.MODIFIED_DAYS_AGO,
                "now": inputs.now_for(self.seed).isoformat(sep=" "),
            }
            days = self.inv["days"]
        since = time.time() - 0.05  # file mtimes come from a coarse clock
        t = time.perf_counter()
        result = self._call(**kw)
        wall = time.perf_counter() - t
        self.checker.check(sorted(result["days"]) == days, f"recomputed days {result['days']} != {days}")
        self.checker.outputs(self.dest, days, since)
        if self.workload == "incremental":
            self.checker.coverage(self.dest, self.inv["coverage"], since)
        return wall

    @property
    def files_per_iteration(self) -> int:
        if self.workload == "backfill":
            return self.oracle["files"]
        return self.oracle["files"] // len(self.oracle["days"]) * len(self.inv["days"])


def measure(bench: Bench, speed: HostSpeed, seconds: float, setup_s: float) -> dict:
    """End-to-end metrics in reference seconds: wall time times the run's
    host-speed factor (the wall figures go to the info line)."""
    # warms the JVM, its JIT and the Python workers
    first, *_ = [bench.iteration() for _ in range(bench.warmup_calls)]
    times = []
    start = time.perf_counter()
    while len(times) < MIN_SAMPLES or time.perf_counter() - start < seconds:
        speed.samples += speed.sample()
        times.append(bench.iteration())
    f = speed.factor(speed.samples)
    f_setup = speed.factor(speed.setup_samples)
    run_s = statistics.median(times) * f
    return {
        "setup_s": setup_s * f_setup,
        "run_s": run_s,
        "files_per_s": bench.files_per_iteration / run_s,
        "wall": {
            "setup_s": setup_s,
            "first_run_s": first,
            "run_s": statistics.median(times),
            "run_s_max": max(times),
            "samples_run_s": times,
            "calibration_s": speed.samples,
            "host_speed_factor": f,
            "setup_calibration_s": speed.setup_samples,
            "setup_host_speed_factor": f_setup,
        },
    }


# ------------------------------------------------------------------ tracing


def traced_iteration(bench: Bench, tracer) -> float:
    """One iteration with spans run > inventory > listing > daily > monthly.

    ``inventory`` is a phase: it opens when run() asks for the radar-days
    (``handle_manifest`` or ``coverage``) and closes when listing starts, so
    the coverage write and the day collect fall inside it. Decode is fused
    into the daily write's first stage, so it is timed inside ``daily``."""
    from vptstools_spark.sources import odim

    cli = bench.cli
    phase: list = []

    def opens_phase(fn):
        def wrapped(*a, **k):
            phase.append(tracer.open("inventory"))
            return fn(*a, **k)
        return wrapped

    def listing(fn):
        traced = tracer.wrap(fn, "listing")

        def wrapped(*a, **k):
            while phase:
                tracer.close(phase.pop())
            return traced(*a, **k)
        return wrapped

    patches = [
        (cli, "run", tracer.wrap(cli.run, "run")),
        (cli, "handle_manifest", opens_phase(cli.handle_manifest)),
        (cli, "coverage", opens_phase(cli.coverage)),
        (odim, "read_vp_files", listing(odim.read_vp_files)),
        (cli, "daily_vpts_job", tracer.wrap(cli.daily_vpts_job, "daily")),
        (cli, "monthly_vpts_job", tracer.wrap(cli.monthly_vpts_job, "monthly")),
    ]
    saved = [(mod, name, getattr(mod, name)) for mod, name, _ in patches]
    for mod, name, fn in patches:
        setattr(mod, name, fn)
    try:
        wall = bench.iteration()
    finally:
        for mod, name, fn in saved:
            setattr(mod, name, fn)
    return wall


def layer_probes(bench: Bench, tracer, metrics: dict) -> None:
    """Time each layer on its own over the workload's inputs."""
    from vptstools_spark.analytics import all_queries
    from vptstools_spark.operators import inventory as inv
    from vptstools_spark.operators.vpts import to_vpts_table
    from vptstools_spark.sources.odim import parse_odim_bytes, read_vp_files
    from vptstools_spark.sources.odim_datasource import OdimDataSource

    spark = bench.spark
    n_files = bench.oracle["files"]
    day_globs = [os.path.join(bench.h5_root, d, "*.h5") for d in sorted(bench.oracle["days"])]

    paths = sorted(glob.glob(os.path.join(bench.h5_root, "**", "*.h5"), recursive=True))
    blobs = []
    for p in paths:
        with open(p, "rb") as fh:
            blobs.append((p, fh.read()))
    t = time.perf_counter()
    for p, b in blobs:
        parse_odim_bytes(p, b)
    metrics["hdf5.parse_ms_per_file"] = (time.perf_counter() - t) * 1000 / len(blobs)

    with tracer.span("probe.odim.list") as s_list:
        profiles = read_vp_files(spark, day_globs)
    with tracer.span("probe.odim.decode") as s_dec:
        rows = profiles.count()
    with tracer.span("probe.vpts.render") as s_render:
        cached = profiles.cache()
        cached.count()
        t = time.perf_counter()
        to_vpts_table(cached).write.format("noop").mode("overwrite").save()
        render_s = time.perf_counter() - t
        cached.unpersist()

    spark.dataSource.register(OdimDataSource)
    ckpt = os.path.join(WORK, "stream-ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    with tracer.span("probe.odim_datasource") as s_ds:
        q = (
            spark.readStream.format("odim").load(bench.h5_root)
            .writeStream.format("noop").option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    with tracer.span("probe.inventory.scan") as s_scan:
        keys = inv.list_manifest_file_keys(bench.manifest)
        parts = [os.path.join(os.path.dirname(bench.manifest), os.path.basename(k)) for k in keys]
        n_rows = inv.read_inventory(spark, parts).count()
    with tracer.span("probe.inventory.coverage") as s_cov:
        parsed = inv.parse_inventory(inv.read_inventory(spark, parts))
        n_cov = inv.coverage(parsed).count()
    with tracer.span("probe.inventory.days") as s_days:
        now = inputs.now_for(bench.seed).isoformat(sep=" ")
        n_days = inv.days_to_create_vpts(parsed, inputs.MODIFIED_DAYS_AGO, now).count()

    sf = inputs.events(CACHE, bench.seed)
    queries = all_queries()
    q_spans = {}
    for name in ANALYTICS:
        with tracer.span(f"probe.analytics.{name}") as s:
            queries[name](spark, sf).count()
        q_spans[name] = s

    tracer.collect()
    checks = {
        "odim.rows": (rows, n_files * odim_fleet.N_LEVELS),
        "inventory.rows": (n_rows, bench.inv["rows"]),
        "inventory.coverage_rows": (n_cov, len(bench.inv["coverage"])),
        "inventory.days_rows": (n_days, len(bench.inv["days"])),
    }
    for what, (got, want) in checks.items():
        bench.checker.check(got == want, f"{what}: {got} != {want}")
    metrics.update({
        "odim.list_s": s_list["wall_s"],
        "odim.list_tasks": s_list["tasks"],
        "odim.decode_s": s_dec["wall_s"],
        "odim.scan_tasks": s_dec["tasks"],
        "odim.files_per_task": n_files / max(s_dec["tasks"], 1),
        "odim.rows": rows,
        "odim.files_dropped": n_files - rows // odim_fleet.N_LEVELS,
        "odim.cpu_over_run": s_dec["cpu_ms"] / max(s_dec["run_ms"], 1),
        "odim_datasource.files_per_s": n_files / s_ds["wall_s"],
        "vpts.render_s": render_s,
        "vpts.shuffle_bytes": s_render["shuffle_bytes"],
        "inventory.scan_s": s_scan["wall_s"],
        "inventory.rows_per_s": n_rows / s_scan["wall_s"],
        "inventory.coverage_s": s_cov["wall_s"],
        "inventory.days_s": s_days["wall_s"],
        "inventory.jobs": s_scan["jobs"] + s_cov["jobs"] + s_days["jobs"],
        **{f"analytics.{q}_s": s["wall_s"] for q, s in q_spans.items()},
        "analytics.jobs": sum(s["jobs"] for s in q_spans.values()),
        "analytics.stages": sum(s["stages"] for s in q_spans.values()),
    })


def traced(bench: Bench, metrics: dict) -> list[dict]:
    from spans import Tracer

    tracer = Tracer(bench.spark, f"perfbench-{bench.workload}-{bench.seed}")
    for _ in range(bench.warmup_calls):  # untraced, as in an untraced run
        bench.iteration()
    untraced_s = bench.iteration()
    traced_s = traced_iteration(bench, tracer)
    layer_probes(bench, tracer, metrics)
    for name in ("run", "inventory", "listing", "daily", "monthly"):
        metrics[f"span.{name}.self_s"] = sum(s["self_s"] for s in tracer.spans if s["name"] == name)
    metrics.update({
        "pipeline.daily_s": tracer.one("daily")["wall_s"],
        "pipeline.monthly_s": tracer.one("monthly")["wall_s"],
        "pipeline.jobs": tracer.total("daily", "jobs") + tracer.total("monthly", "jobs"),
        "pipeline.spill_bytes": tracer.total("run", "spill_bytes"),
        "trace.overhead_s": traced_s - untraced_s,
    })
    return tracer.spans


# ------------------------------------------------------------------ main


def versions() -> dict:
    import pyspark

    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": next((ln for ln in java.splitlines() if "version" in ln), "unknown"),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("backfill", "incremental"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    host = configure_host()
    from vptstools_spark.session import get_spark

    speed = None if args.trace else HostSpeed(host["nproc"])
    try:
        t = time.time()
        spark = get_spark("perfbench")
        session_start_s = time.time() - t
        spark.range(1).count()
        setup_s = time.time() - T_PROCESS - (speed.start_s if speed else 0)
        try:
            bench = Bench(spark, args.workload, args.seed,
                          with_inventory=bool(args.trace) or args.workload == "incremental")
            metrics: dict = {"session.start_s": session_start_s}
            spans = None
            if args.trace:
                spans = traced(bench, metrics)
            else:
                metrics.update(measure(bench, speed, args.seconds, setup_s))
            metrics["jvm.peak_rss_mb"] = jvm_peak_rss_mb(spark)
        finally:
            stop_spark(spark)
    finally:
        if speed:
            speed.close()
    names = PER_LAYER if args.trace else END_TO_END
    info = {
        "host": {**host, **versions()},
        "workload": args.workload,
        "seed": args.seed,
        "wall": metrics.get("wall", {"setup_s": setup_s}),
        "jvm_peak_rss_mb": metrics["jvm.peak_rss_mb"],
        "errors": bench.checker.errors,
    }
    print(json.dumps(info))
    if spans:
        print(json.dumps({"spans": [
            {k: s[k] for k in ("id", "name", "parent", "run_id", "start", "end", "wall_s", "self_s",
                               "jobs", "stages", "tasks", "run_ms", "cpu_ms", "shuffle_bytes", "spill_bytes")}
            for s in spans]}))
    c = bench.checker
    print(json.dumps({
        "correct": c.failed == 0,
        "attempted": c.attempted,
        "failed": c.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in names.items()},
    }))
    return 0


sys.path.insert(0, HERE)
import inputs  # noqa: E402
import odim_fleet  # noqa: E402

if __name__ == "__main__":
    sys.exit(main())
