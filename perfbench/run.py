"""Repository benchmark: closed-loop batch workloads on ``local[4]``.

Usage (from the repository root)::

    python3 perfbench/run.py --workload conflate --seed 1 --seconds 5 --trace 0

One process runs one workload, one query at a time, each forced through
the ``noop`` sink.  Run shape:

1. start the session (``setup_s``: a probe process starts its own at
   the same moment; the median of the two is reported);
2. generate the seeded inputs and check every query against its DuckDB
   oracle (untimed and cold: it warms the JVM and the Python workers);
3. import the workload input into an empty layer cache (``import_s``);
4. one untimed warm-up pass, then timed passes for ``--seconds`` (at
   least two); ``spark.catalog.clearCache()`` runs before every pass;
5. stop the session, its JVM and every process below this one, and wait
   until each has ended.

``--trace 1`` instead reports per-layer metrics read from Spark's own
SQL metrics (see ``sparkmetrics.py``), alternating untraced and traced
passes so the tracing overhead is measured too.  README.md lists the
metrics and what each one is predicted to move.  Every run works in its
own directory under ``.perfbench_work/`` (layer cache, Spark local dirs,
temp files) and removes it at the end.  The last stdout line is the
result JSON; the lines before it are run details.
"""

import time

_T0 = time.perf_counter()  # process start, the origin of setup_s

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import workloads as W  # noqa: E402
from sparkmetrics import StatusStore, op_stats  # noqa: E402

CORES = 4
SETUP_PROBES = 1
WARMUP_PASSES = 1
INGEST_SAMPLES = 6
MIN_TIMED_PASSES = 2
SIDE_INPUT_PREFIX = "spark_graft_side_"


def log(kind: str, **fields) -> None:
    at = round(time.perf_counter() - _T0, 2)
    print(json.dumps({"info": kind, "at_s": at, **fields}, default=float), flush=True)


def start_session(work: str):
    from fagi_gis_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed initial heap: grown on demand, the heap took a different
        # size in every JVM and with it a different GC load on the passes
        "spark.driver.extraJavaOptions": "-Xms2g",
    }
    spark = get_spark("perfbench", cores=CORES, shuffle_partitions=CORES, extra_conf=conf)
    return spark, time.perf_counter() - _T0


def descendants(root: int) -> list[tuple[int, str]]:
    """(pid, start time) of every live process below ``root``, from /proc."""
    children: dict[int, list[tuple[int, str]]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        # fields[0] is the state, [1] the parent pid, [19] the start time
        children.setdefault(int(fields[1]), []).append((int(entry), fields[19]))
    out, todo = [], [root]
    while todo:
        for pid, start in children.get(todo.pop(), []):
            out.append((pid, start))
            todo.append(pid)
    return out


def running(pid: int, start: str) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return False
    return fields[19] == start and fields[0] != "Z"


def await_exit(procs: list[tuple[int, str]], grace_s: float = 30.0) -> None:
    """Waits until every process in ``procs`` has ended; kills the ones
    still running after ``grace_s``."""
    deadline = time.perf_counter() + grace_s
    while True:
        alive = [(pid, start) for pid, start in procs if running(pid, start)]
        if not alive:
            return
        if time.perf_counter() > deadline:
            for pid, _ in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


def stop_spark() -> None:
    """Stops the session, then its JVM and every process started below
    this one (pyspark daemon, Python workers, setup probes), and waits
    until each has ended.  PySpark alone lets the JVM outlive the driver
    process: it exits only once it reads EOF on its stdin."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception as ex:  # the JVM is ended below in any case
            log("stop_failed", error=f"{type(ex).__name__}: {ex}")
    jvm = getattr(SparkContext._gateway, "proc", None)
    if jvm is not None:
        try:
            jvm.stdin.close()
            jvm.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            jvm.kill()
            jvm.wait()
    await_exit(procs)


def probe(work: str) -> int:
    """Setup probe: report this process's own start-to-session time."""
    try:
        _, setup = start_session(work)
        print(json.dumps({"setup_s": setup}), flush=True)
    finally:
        stop_spark()
    return 0


def prepare_env(work: str) -> None:
    for sub in ("layers", "local", "tmp", "warehouse", "input"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_LAYER_CACHE"] = os.path.join(work, "layers")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included, keeps out of /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.chdir(work)


# -- correctness -----------------------------------------------------------


def normalize(df):
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def frames_mismatch(left, right) -> str | None:
    """Order-insensitive comparison, the rule of
    ``tests/conftest.py::assert_frames_match``; None when equal."""
    import pandas as pd

    left, right = normalize(left), normalize(right)
    if list(left.columns) != list(right.columns):
        return f"columns {list(left.columns)} != {list(right.columns)}"
    if len(left) != len(right):
        return f"row count {len(left)} != {len(right)}"
    for c in left.columns:
        lv, rv = left[c], right[c]
        if lv.dtype.kind == "f" or rv.dtype.kind == "f":
            try:
                pd.testing.assert_series_equal(
                    lv.astype("float64"), rv.astype("float64"), check_names=False
                )
            except AssertionError:
                return f"col {c}: float values differ"
        elif (lv.astype(str) != rv.astype(str)).any():
            return f"col {c}: {int((lv.astype(str) != rv.astype(str)).sum())} mismatches"
    return None


class Oracles(threading.Thread):
    """Evaluates the DuckDB oracles of a query list in the background
    (DuckDB releases the GIL), sharing results between equal SQL."""

    def __init__(self, sf_dir: str, tables, names):
        super().__init__(daemon=True)
        from fagi_gis_spark import registry

        self.sql = {n: registry.oracle_sql()[n] for n in names}
        self.sf_dir, self.tables = sf_dir, tables
        self.results: dict = {}
        self.error: BaseException | None = None
        self.elapsed_s = 0.0

    def run(self):
        import duckdb

        t0 = time.perf_counter()
        try:
            con = duckdb.connect()
            con.execute("SET threads=2")  # leaves the cores to the cold pass
            for t in self.tables:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(self.sf_dir, t)}.parquet')"
                )
            by_sql: dict = {}
            for name, sql in self.sql.items():
                if sql not in by_sql:
                    by_sql[sql] = con.execute(sql).df()
                self.results[name] = by_sql[sql]
            con.close()
        except BaseException as ex:  # reported by check_pass
            self.error = ex
        self.elapsed_s = time.perf_counter() - t0


def check_pass(spark, names, sf_dir: str, oracles: Oracles, counts: dict):
    """Every named query against its DuckDB oracle on ``sf_dir``.
    Returns the failures and the wall time of each query."""
    from fagi_gis_spark import registry

    queries = registry.queries()
    got, failures, times = {}, [], {}
    for name in names:
        counts["attempted"] += 1
        t = time.perf_counter()
        try:
            got[name] = queries[name](spark, sf_dir).toPandas()
            times[name] = time.perf_counter() - t
        except Exception as ex:  # a failing query is counted, not fatal
            counts["failed"] += 1
            failures.append(f"{name}: {type(ex).__name__}: {str(ex)[:200]}")
    oracles.join()
    for name, df in got.items():
        if oracles.error is not None:
            err = f"oracle error {type(oracles.error).__name__}: {oracles.error}"
        else:
            err = frames_mismatch(df, oracles.results[name])
        if err:
            counts["failed"] += 1
            failures.append(f"{name}: {err}")
    return failures, times


# -- measurement -----------------------------------------------------------


def span(spark, store, desc: str, action) -> dict:
    """Wall time of ``action()``; with a status ``store`` it runs under
    job description ``desc`` and its SQL metrics are read afterwards."""
    if store is None:
        t = time.perf_counter()
        action()
        return {"wall_s": time.perf_counter() - t}
    sc = spark.sparkContext
    since = store.count()
    sc.setJobDescription(desc)
    t = time.perf_counter()
    try:
        action()
    finally:
        wall = time.perf_counter() - t
        sc.setJobDescription(None)
    return {"wall_s": wall, **op_stats(store.plans(since, desc))}


class Runner:
    """Runs passes over a workload's ops and keeps the counts."""

    def __init__(self, spark, wl: W.Workload, sf_dir: str, counts: dict):
        from fagi_gis_spark import registry

        self.spark, self.sf_dir, self.counts = spark, sf_dir, counts
        queries = registry.queries()
        self.fns = [(op, queries[q]) for op, q in wl.ops]
        self.errors: list = []
        self.leaked: list = []

    def one_pass(self, store=None, tag: str = "") -> tuple[float, dict]:
        """One full pass; with ``store`` every op runs under its own job
        description and its SQL metrics are read right after it."""
        self.spark.catalog.clearCache()
        per_op = {}
        t0 = time.perf_counter()
        for op, fn in self.fns:
            self.counts["attempted"] += 1

            def attempt(op=op, fn=fn):
                try:
                    fn(self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
                except Exception as ex:  # a failing query is counted, not fatal
                    self.counts["failed"] += 1
                    self.errors.append(f"{op}: {type(ex).__name__}: {str(ex)[:200]}")

            per_op[op] = span(self.spark, store, f"perfbench:{op}:{tag}", attempt)
        elapsed = time.perf_counter() - t0
        self.leaked.append(self.spark.sparkContext._jsc.getPersistentRDDs().size())
        return elapsed, per_op


def ingest_corpus(spark, sf_dir: str, tables) -> float:
    """The corpus ingest: each table read through the engine's
    parallelism floor and forced through the noop sink."""
    from fagi_gis_spark.partitioning import ensure_min_parallelism

    t = time.perf_counter()
    for name in tables:
        df = ensure_min_parallelism(spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")))
        df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def median_stats(samples: list[dict]) -> dict:
    keys = set().union(*samples)
    return {k: statistics.median(s.get(k, 0.0) for s in samples) for k in keys}


def per_layer_result(op_med: dict, extra: dict) -> dict:
    """Every declared per-layer metric; ops this workload does not run
    read 0 (the layer did no work here)."""
    values: dict = {}
    for op, st in op_med.items():
        for stat, v in st.items():
            values[f"{op}.{stat}"] = v
        if op in W.RATIOS and st.get("candidates"):
            values[f"{op}.{W.RATIOS[op]}"] = st["rows_out"] / st["candidates"]
    values.update(extra)
    return {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in W.per_layer_metrics().items()
    }


def side_inputs() -> set:
    try:
        return {f for f in os.listdir("/tmp") if f.startswith(SIDE_INPUT_PREFIX)}
    except OSError:
        return set()


def bench(args, work: str) -> dict:
    import gen

    wl = W.WORKLOADS[args.workload]
    counts = {"attempted": 0, "failed": 0}
    probes = []
    if not args.trace:
        probes = [
            subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), "--probe", "--work", work],
                stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            )
            for _ in range(SETUP_PROBES)
        ]
    try:
        spark, own_setup = start_session(work)
        setups = [json.loads(p.stdout.readline())["setup_s"] for p in probes]
    finally:
        for p in probes:
            p.communicate(timeout=120)
    setups.append(own_setup)
    log("setup", samples_s=setups)

    wl_dir = os.path.join(work, "input", "workload")
    inputs = {"workload": gen.write_inputs(wl_dir, wl.sizes, args.seed)}
    check_dir = wl_dir
    if wl.companion:
        check_dir = os.path.join(work, "input", "companion")
        inputs["companion"] = gen.write_inputs(check_dir, wl.companion, args.seed)
    log("inputs", seed=args.seed, key_offset=gen.key_offset(args.seed), **inputs)

    # the check pass runs cold: it warms the JVM and the Python workers and
    # (conflate) imports the layers the passes read
    check_names = [q for _, q in wl.ops] + list(wl.check_only if args.trace else ())
    oracles = Oracles(check_dir, list(wl.companion or wl.sizes), check_names)
    oracles.start()
    failures, check_s = check_pass(spark, check_names, check_dir, oracles, counts)
    log("check", input="companion" if wl.companion else "workload",
        queries_s=check_s, oracles_s=oracles.elapsed_s, failures=failures)

    # FAGI's import, into an empty layer cache; the check pass has already
    # imported the same input once, into the cache the passes read
    store = StatusStore(spark) if args.trace else None
    import_stats = {}
    if wl.imports_layers:
        from fagi_gis_spark.sources.layers import materialized_layers

        root = os.path.join(work, "layers", "measured")
        import_stats = span(
            spark, store, "perfbench:layers.import",
            lambda: materialized_layers(spark, wl_dir, cache_root=root),
        )
        import_samples = [import_stats["wall_s"]]
    else:
        import_samples = [ingest_corpus(spark, wl_dir, wl.sizes) for _ in range(INGEST_SAMPLES)]
    log("import", samples_s=import_samples)

    runner = Runner(spark, wl, wl_dir, counts)
    warm = [runner.one_pass()[0] for _ in range(WARMUP_PASSES)]
    log("warm_up", passes_s=warm)

    plain, traced = [], []
    t_end = time.perf_counter() + args.seconds
    while time.perf_counter() < t_end or len(plain) < MIN_TIMED_PASSES:
        plain.append(runner.one_pass())
        if args.trace:
            traced.append(runner.one_pass(store, tag=str(len(traced))))
    pass_times = [p[0] for p in plain]
    per_query = {
        op: statistics.median(p[1][op]["wall_s"] for p in plain) for op, _ in wl.ops
    }
    log("timed", passes_s=pass_times, per_query_median_s=per_query,
        last_warm_up_over_first_timed=warm[-1] / pass_times[0],
        leaked_rdds=runner.leaked, errors=runner.errors)

    stop_spark()
    log("stopped")

    correct = counts["failed"] == 0
    if args.trace:
        traced_times = [p[0] for p in traced]
        overhead = statistics.median(traced_times) - statistics.median(pass_times)
        op_med = {op: median_stats([p[1][op] for p in traced]) for op, _ in wl.ops}
        if import_stats:
            op_med["layers.import"] = import_stats
        log("trace", traced_passes_s=traced_times, untraced_passes_s=pass_times,
            overhead_s=overhead, per_op=op_med)
        metrics = per_layer_result(
            op_med,
            {
                "session.start_s": own_setup,
                "session.leaked_rdds": max(runner.leaked),
                "session.trace_overhead_s": overhead,
            },
        )
    else:
        pass_s = statistics.median(pass_times)
        rows = inputs["workload"][wl.rows_table]["rows"]
        metrics = {
            "setup_s": {"value": statistics.median(setups), "unit": "s"},
            "import_s": {"value": min(import_samples), "unit": "s"},
            "pass_s": {"value": pass_s, "unit": "s"},
            "rows_per_s": {"value": rows / pass_s, "unit": "rows/s"},
        }
        log("pass_s", samples=len(pass_times), stated_input_rows=rows)
    return {
        "correct": correct,
        "attempted": counts["attempted"],
        "failed": counts["failed"],
        "metrics": metrics,
    }


def main(argv=None) -> int:
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--probe", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--work", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if importlib.util.find_spec("fagi_gis_spark") is None:
        print("perfbench: the fagi_gis_spark package is not next to perfbench/", file=sys.stderr)
        return 2
    if args.probe:
        prepare_env(args.work)
        return probe(args.work)
    if args.workload is None:
        ap.error("--workload is required")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)
    before = side_inputs()
    try:
        result = bench(args, work)
    finally:
        stop_spark()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
        # the MinHash verify writes side-input files to /tmp itself
        for f in side_inputs() - before:
            try:
                os.remove(os.path.join("/tmp", f))
            except OSError:
                pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
