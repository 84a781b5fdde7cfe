"""Sync-pipeline and operator benchmark.

    python3 perfbench/run.py --workload resync --seed 1 --seconds 1 --trace 0

Run from the root of a checkout.  Generates the workload's inputs from
the seed, runs the workload's timed operation in a closed loop with a
single client until ``--seconds`` have passed (at least once), checks
every operation, and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
program's layer entry points in spans (perfbench/spans.py) and prints
the per-layer metrics instead.  Exits 1 when the correctness gate fails
and 2 when the checkout holds no program to run.

Every run is one fresh process and JVM, as one scheduled job is.

- resync: a returning user syncs after a delta.  The timed operation is
  one sync (perfbench/sync.py): the product pipeline plus the
  reference check suite.  The user's first sync ran earlier, so the
  match cache is on disk.  The base library is fixed
  (RESYNC_BASE_SEED); the delta comes from the seed.  The first sync
  runs once per checkout and program version, in a child process, and
  its cache is kept under .perfbench_work/builds/.
- operator_mix: a batch job over the query registry: one pass over a
  fixed set of its bench queries (perfbench/ops.py) on generated tables
  (perfbench/tables.py, OPS_DATA_SEED), each collected to pandas and
  checked against its DuckDB oracle.  The seed permutes the query
  order.  The first pass runs in the cold JVM, as a scheduled job's
  does; later ones (a longer --seconds) run warm.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = ("resync", "operator_mix")
#: library rows of the resync user (see gen.LibraryShape for the rest)
LIBRARY_ROWS = 500
#: the resync user's first-sync library; the delta varies with --seed
RESYNC_BASE_SEED = 1
#: the operator tables; the seed only permutes the query order
OPS_DATA_SEED = 42
#: Spark local[n] cap; the runner never asks for more than nproc
MAX_CPUS = 4
#: driver heap: a quarter of host RAM, within these bounds (GiB)
DRIVER_MEM_GB = (1, 4)


def shape():
    import gen

    return gen.LibraryShape(rows=LIBRARY_ROWS)


def pin_environment(work: str) -> int:
    """Environment every run gets before the JVM starts.  Returns the
    local[n] parallelism."""
    cpus = max(1, min(MAX_CPUS, len(os.sched_getaffinity(0))))
    with open("/proc/meminfo") as f:
        ram_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    mem = max(DRIVER_MEM_GB[0], min(DRIVER_MEM_GB[1], ram_kb // (4 << 20)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(work, "spark-local"))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{mem}g"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # the JVM spark-submit runs first to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import the program by module name
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT, HERE]
    import tempfile

    tempfile.tempdir = None
    return cpus


def start_spark(work: str, cpus: int):
    from musicflow_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        cpus=cpus,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process and the JVM."""
    with open(f"/proc/{jvm_pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK") + time.process_time()


def peak_rss_mb(jvm_pid: int) -> float:
    total = 0
    for pid in ("self", str(jvm_pid)):
        with open(f"/proc/{pid}/status") as f:
            total += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return total / 1024


def fingerprint() -> str:
    """Hash of the program and benchmark sources plus the library shape:
    a first-sync build is reused only by the code that made it."""
    h = hashlib.sha256(repr((shape(), RESYNC_BASE_SEED)).encode())
    for top in (os.path.join(ROOT, "musicflow_spark"), HERE):
        for dirpath, dirs, files in os.walk(top):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(dirpath, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def first_sync_build() -> tuple[str, float]:
    """Directory with the resync user's first-sync match cache and log
    row hashes, made by a child process when missing; and the seconds
    spent making it."""
    t0 = time.perf_counter()
    builds = os.path.join(WORK, "builds")
    path = os.path.join(builds, f"resync-{fingerprint()}")
    if not os.path.isdir(path):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--build-first-sync", path],
            check=True,
            stdout=subprocess.DEVNULL,
        )
        # builds of other code versions are never read again
        for old in os.listdir(builds):
            if old != os.path.basename(path):
                shutil.rmtree(os.path.join(builds, old), ignore_errors=True)
    return path, time.perf_counter() - t0


def build_first_sync(path: str, work: str) -> None:
    """The resync user's first sync, gated like a timed one."""
    cpus = pin_environment(work)
    import gen
    import sync

    spark = start_spark(work, cpus)
    try:
        data = gen.generate(RESYNC_BASE_SEED, shape())["base"]
        inputs = os.path.join(work, "inputs")
        gen.write_tables(data, inputs)
        wh = os.path.join(work, "warehouse")
        _, ctx, results, _ = sync.run_sync(spark, sync.config(), inputs, wh)
        problems, _ = sync.gate(ctx, results, dict(data["truth_rows"]))
        if problems:
            raise SystemExit(f"perfbench: resync first sync failed its gate: {problems}")
        tmp = os.path.join(work, "build")
        shutil.copytree(os.path.join(wh, sync.CACHE_DIR), os.path.join(tmp, sync.CACHE_DIR))
        with open(os.path.join(tmp, "log_hashes.json"), "w") as f:
            json.dump(sync.log_hashes(ctx), f)
    finally:
        stop_spark(spark)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    try:
        os.rename(tmp, path)
    except OSError:
        if not os.path.isdir(path):
            raise


def cache_keys(cache_dir: str) -> set[str]:
    """Keys of the match cache the program wrote at cache_dir."""
    if not os.path.exists(cache_dir):
        return set()
    import pyarrow.parquet as pq

    return set(pq.read_table(cache_dir, columns=["video_id"]).column(0).to_pylist())


def cache_lookups(tables: dict) -> int:
    """Distinct cache keys a sync of ``tables`` looks up: the video id
    of each own-playlist video and the id of each other user's
    playlist (match_with_cache's two key namespaces)."""
    import gen

    others = {p[0] for p in tables["youtube_playlists"] if p[3] not in (None, gen.YOUR_CHANNEL)}
    keys = {v for _, p, v in tables["youtube_library"] if p not in others}
    keys |= {p for _, p, _ in tables["youtube_library"] if p in others}
    return len(keys)


def prepare_resync(spark, seed: int, work: str, build: str):
    """Inputs of one resync; returns the timed operation."""
    import gen
    import sync

    data = gen.generate(RESYNC_BASE_SEED, shape(), seed)
    part = data["delta"]
    src = os.path.join(work, "inputs")
    gen.write_tables(part, src)
    with open(os.path.join(build, "log_hashes.json")) as f:
        first_hashes = {int(k): v for k, v in json.load(f).items()}
    unchanged = {r[0] for r in data["base"]["youtube_library"]} & {
        r[0] for r in part["youtube_library"]
    }
    truth = dict(part["truth_rows"])
    lookups = cache_lookups(part)
    build_cache = os.path.join(build, sync.CACHE_DIR)
    old_keys = cache_keys(build_cache)
    cfg = sync.config()
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    def op(i: int, tracer) -> dict:
        wh = os.path.join(work, f"warehouse-{i}")
        shutil.copytree(build_cache, os.path.join(wh, sync.CACHE_DIR))
        since = time.time_ns()
        cpu0 = cpu_s(jvm_pid)
        if tracer is not None:
            with tracer.span("sync"):
                pipe, ctx, results, seconds = sync.run_sync(spark, cfg, src, wh, tracer)
        else:
            pipe, ctx, results, seconds = sync.run_sync(spark, cfg, src, wh)
        op_cpu_s = cpu_s(jvm_pid) - cpu0
        written = sync.written_bytes(wh, since)
        # every key the program searched is new in the cache it saved
        searched = cache_keys(os.path.join(wh, sync.CACHE_DIR)) - old_keys
        problems, stats = sync.gate(ctx, results, truth)
        now = sync.log_hashes(ctx)
        changed = sum(1 for k in unchanged if now.get(k) != first_hashes.get(k))
        if changed:
            problems.append(f"{changed} unchanged library rows got a different log row")
        shutil.rmtree(wh)
        return {
            "problems": problems,
            "op_s": seconds,
            "op_cpu_s": op_cpu_s,
            "warehouse.written_mb": written / 1e6,
            "plans.dag.rows_written": sum(m.get("rows", 0) for m in pipe.metrics.values()),
            "matching.cache.hit_ratio": 1 - len(searched) / lookups,
            "matching.found_ratio": stats["found_ratio"],
            "checks.count": len(results),
        }

    return op


def prepare_operator_mix(spark, seed: int, work: str):
    """Tables and oracle results of the operator pass; returns the
    timed operation."""
    import ops
    import tables

    data = os.path.join(work, "tables")
    tables.write(tables.generate(OPS_DATA_SEED), data)
    qs = ops.queries()
    random.Random(seed).shuffle(qs)
    expected = ops.oracle_results(qs, data)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    def op(i: int, tracer) -> dict:
        cpu0 = cpu_s(jvm_pid)
        if tracer is not None:
            with tracer.span("operators.pass"):
                seconds, problems = ops.run_pass(spark, qs, data, expected, tracer)
        else:
            seconds, problems = ops.run_pass(spark, qs, data, expected)
        return {"problems": problems, "op_s": seconds, "op_cpu_s": cpu_s(jvm_pid) - cpu0}

    return op


def run(workload: str, seed: int, seconds: float, traced: bool, work: str) -> dict:
    build, build_s = first_sync_build() if workload == "resync" else (None, 0.0)
    cpus = pin_environment(work)
    import spans

    spark = start_spark(work, cpus)
    try:
        if workload == "resync":
            op = prepare_resync(spark, seed, work, build)
        else:
            op = prepare_operator_mix(spark, seed, work)
        # the first-sync build is a one-off per checkout, not set-up
        setup_s = time.perf_counter() - T_START - build_s

        tracer = None
        if traced:
            tracer = spans.Tracer(spark.sparkContext)
            spans.install(tracer)
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        done: list[dict] = []
        deadline = time.perf_counter() + seconds
        while True:
            o = op(len(done), tracer)
            for p in o["problems"]:
                print(f"gate: {workload} seed {seed} op {len(done)}: {p}", file=sys.stderr)
            done.append(o)
            if time.perf_counter() >= deadline:
                break

        failed = sum(1 for o in done if o["problems"])
        if tracer is None:
            metrics = {
                "setup_s": (setup_s, "s"),
                "op_s": (statistics.median(o["op_s"] for o in done), "s"),
                "op_cpu_s": (statistics.median(o["op_cpu_s"] for o in done), "s"),
            }
        else:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            tracer.dump(os.path.join(WORK, "traces", f"{workload}-seed{seed}.json"))
            metrics = layer_metrics(tracer, done)
            # the JVM heap grows run to run by more than a tenth, so
            # peak RSS is a layer figure, not an end-to-end one
            metrics["process.peak_rss_mb"] = (peak_rss_mb(jvm_pid), "MB")
        return {
            "correct": failed == 0,
            "attempted": len(done),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        stop_spark(spark)


#: sync spans reported per layer, in BENCHMARK.json order
SYNC_SPANS = (
    "sync",
    "plans.dag.run",
    "plans.dag.task.extract",
    "plans.dag.task.match",
    "plans.dag.task.models",
    "plans.pipeline.build_all",
    "matching.cache.load_cache",
    "matching.cache.match_with_cache",
    "matching.cache.save_cache",
    "matching.engine.compute_matches",
    "matching.engine.compute_matches_others",
    "matching.engine.assemble",
    "matching.candidates.search",
    "checks.suite.reference_suite",
    "checks.runner.run",
)
#: per-operation figures of the sync, reported as medians
SYNC_FIGURES = (
    ("matching.cache.hit_ratio", "ratio"),
    ("matching.found_ratio", "ratio"),
    ("plans.dag.rows_written", "count"),
    ("warehouse.written_mb", "MB"),
    ("checks.count", "count"),
)


def layer_metric_names() -> list[tuple[str, str]]:
    """Every per-layer metric with its unit, in BENCHMARK.json order.
    Stages are left out: every job of these plans ran one stage."""
    import ops

    out = []
    for name in SYNC_SPANS:
        out += [(f"{name}.s", "s"), (f"{name}.self_s", "s"),
                (f"{name}.jobs", "count"), (f"{name}.tasks", "count")]
    out.append(("matching.candidates.search.calls", "count"))
    out += list(SYNC_FIGURES)
    out += [("operators.pass.s", "s"), ("operators.pass.jobs", "count"),
            ("operators.pass.tasks", "count")]
    for q in sorted(ops.QUERIES):
        out += [(f"operators.query.{q}.s", "s"), (f"operators.query.{q}.jobs", "count")]
    out += [("trace.overhead_s", "s"), ("process.peak_rss_mb", "MB")]
    return out


def layer_metrics(tracer, done: list[dict]) -> dict[str, tuple[float, str]]:
    """Per-operation means of every span's time, self time and Spark
    work; medians of the per-operation figures.  A layer the workload
    does not reach reads 0."""
    n = len(done)
    totals = tracer.totals()
    out: dict[str, tuple[float, str]] = {}
    for name, unit in layer_metric_names():
        span, _, field = name.rpartition(".")
        if span in totals:
            out[name] = (totals[span][field] / n, unit)
        elif name in done[0]:
            out[name] = (statistics.median(o[name] for o in done), unit)
        else:
            out[name] = (0.0, unit)
    out["trace.overhead_s"] = (tracer.overhead_s / n, "s")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-first-sync", metavar="DIR", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not args.build_first_sync and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")
    if not os.path.isfile(os.path.join(ROOT, "musicflow_spark", "__init__.py")):
        print(f"perfbench: no musicflow_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        if args.build_first_sync:
            build_first_sync(args.build_first_sync, work)
            return 0
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
