"""Benchmark entry point.

    python3 perfbench/run.py --workload region_build --seed 1 --seconds 22 --trace 0

Run from the repository root. Generates the workload's inputs from the
seed, sets up one pinned SparkSession, runs timed passes for
``--seconds`` (the first pass in the fresh session is the cold pass),
checks the outputs, and prints one JSON result as the last stdout line:
the end-to-end metrics with ``--trace 0``, the per-layer table from the
Spark event log with ``--trace 1``. A line before it holds the settings,
input sizes and per-pass details.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, ROOT)

from perfbench import trace  # noqa: E402
from perfbench.workloads import SPANS, WORKLOADS, WRITE_SPANS  # noqa: E402

# one warm pass past the cold one: with more, an A/B of ten runs per
# commit on every workload, plus traced runs, no longer fits in an hour
# on 4 cores
MIN_WARM = 1


def _process_age_s() -> float:
    """Seconds since this process was started (not since this module
    was imported); falls back to the import time off Linux."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
        if age > 0:
            return age
    except (OSError, ValueError, IndexError):
        pass
    return time.perf_counter() - T_START


def pin_environment(work: str) -> dict[str, str]:
    """Settings the launcher fixes before Spark starts; all recorded."""
    if hasattr(os, "sched_getaffinity"):
        cpus = len(os.sched_getaffinity(0))
    else:
        cpus = os.cpu_count()
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    heap_mb = max(1024, min(4096, phys_mb // 4))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(env)
    return env


def spark_conf(work: str, event_log: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_engine(work: str, event_log: str | None):
    """SparkSession ready and the query registry imported: ``setup_s``
    is the time from process start to the end of this call."""
    from map_v2_etl_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=spark_conf(work, event_log))
    from map_v2_etl_spark.plans.registry import all_queries

    all_queries()
    return spark


def _process_table() -> dict[int, tuple[int, str, str]]:
    """pid -> (parent pid, start time, state) of every process; empty
    off Linux."""
    table = {}
    try:
        names = os.listdir("/proc")
    except OSError:
        return table
    for name in names:
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        table[int(name)] = (int(fields[1]), fields[19], fields[0])
    return table


def _descendants() -> set[tuple[int, str]]:
    """(pid, start time) of every live process below this one."""
    table = _process_table()
    found: set[tuple[int, str]] = set()
    frontier = [os.getpid()]
    while frontier:
        parent = frontier.pop()
        for pid, (ppid, start, state) in table.items():
            if ppid == parent and state != "Z" and (pid, start) not in found:
                found.add((pid, start))
                frontier.append(pid)
    return found


def _still_running(procs: set[tuple[int, str]]) -> set[tuple[int, str]]:
    table = _process_table()
    alive = set()
    for pid, start in procs:
        ppid, now_start, state = table.get(pid, (0, "", "Z"))
        if now_start != start:
            continue
        if state == "Z":
            try:
                os.waitpid(pid, os.WNOHANG)  # reap a child of ours
            except ChildProcessError:
                pass
            continue
        alive.add((pid, start))
    return alive


def stop_engine() -> None:
    """Stop Spark, end its JVM and wait until every process started by
    this run has exited. Safe to call more than once and on any path out
    of a run, including one where the session never came up."""
    procs = _descendants()
    pyspark = sys.modules.get("pyspark")
    if pyspark is not None:
        sc_cls = pyspark.SparkContext
        if sc_cls._active_spark_context is not None:
            try:
                sc_cls._active_spark_context.stop()
            except Exception:  # the JVM is ended below either way
                pass
        gateway = sc_cls._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            try:
                gateway.shutdown()
            except Exception:
                pass
            if proc is not None:
                # the gateway JVM exits when its stdin closes
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            sc_cls._gateway = None
            sc_cls._jvm = None
    procs |= _descendants()
    # let them exit on their own, then SIGTERM, then SIGKILL
    for sig, grace in ((None, 20), (signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        procs = _still_running(procs)
        for pid, _ in procs if sig else ():
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.monotonic() + grace
        while procs and time.monotonic() < deadline:
            time.sleep(0.05)
            procs = _still_running(procs)
        if not procs:
            return


def _exit_on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def quartile_hi(values: list[float]) -> float:
    """p75 without extrapolating past the largest sample."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=4, method="inclusive")[2]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=22)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "map_v2_etl_spark")):
        print(f"engine package map_v2_etl_spark not found under {ROOT}",
              file=sys.stderr)
        return 2

    work = os.path.join(
        STATE, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    os.makedirs(work)
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    try:
        result = run(args, work)
    finally:
        stop_engine()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": result.pop("detail")}, default=str))
    print(json.dumps(result))
    return 0


def run(args, work: str) -> dict:
    traced = bool(args.trace)
    settings = pin_environment(work)
    event_log = os.path.join(work, "eventlog") if traced else None
    if event_log:
        os.makedirs(event_log)
    spark = start_engine(work, event_log)
    setup_s = _process_age_s()
    settings.update(spark_conf(work, event_log))
    settings["spark.master"] = spark.sparkContext.master

    t = time.perf_counter()
    wl = WORKLOADS[args.workload](spark, work, args.seed, args.size)
    gen_s = time.perf_counter() - t

    rec = trace.Recorder(spark, traced)
    attempted = failed = 0
    errors: list[str] = []
    passes: list[dict] = []
    t_win = time.perf_counter()
    while not passes or (
        time.perf_counter() - t_win < args.seconds
        or len(passes) - 1 < MIN_WARM
    ):
        p = len(passes)
        first = len(rec.spans)
        c0 = time.perf_counter()
        try:
            wl.run_pass(rec, p)
        except Exception as exc:  # a failed call fails the run, not the process
            errors.append(f"pass {p}: {type(exc).__name__}: {str(exc)[:400]}")
            attempted += len(rec.spans) - first + 1
            failed += 1
            break
        wall = time.perf_counter() - c0
        spans = rec.spans[first:]
        attempted += len(spans)
        by_name: dict[str, float] = {}
        for s in spans:
            by_name[s.name] = by_name.get(s.name, 0.0) + s.wall_s
        info = {
            "pass": p, "wall_s": wall,
            "bookkeeping_s": wall - sum(by_name.values()),
            "span_wall_s": by_name, "queries_s": wl.query_samples(spans),
            **wl.phases(spans),
        }
        if traced:
            info["write_amp"] = wl.written_bytes() / wl.inputs["bytes"]
            info["cache_bytes_retained"] = sum(
                r.memSize() + r.diskSize()
                for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            )
        spark.catalog.clearCache()
        passes.append(info)
        if p > 0:
            wl.cleanup(p - 1)
    window_s = time.perf_counter() - t_win

    t = time.perf_counter()
    checks: dict[str, list[str]] = {}
    if not errors:
        try:
            checks = wl.check()
        except Exception as exc:  # a crashing check is a failed check
            checks = {"check": [f"{type(exc).__name__}: {str(exc)[:400]}"]}
    bad = {k: v for k, v in checks.items() if v}
    attempted += len(checks)
    failed += len(bad)
    check_s = time.perf_counter() - t
    spark.stop()

    warm = passes[1:]
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "size": args.size, "settings": settings,
        "input": {k: v for k, v in wl.inputs.items() if not k.startswith("_")},
        "gen_s": gen_s, "window_s": window_s, "check_s": check_s,
        "passes": passes, "error_rate": failed / max(1, attempted),
        "errors": errors, "failed_checks": bad, "checks": sorted(checks),
    }
    for key in wl.phases([]):
        detail[key] = _median([q[key] for q in warm])

    if traced:
        per_span = trace.span_layers(rec.spans, trace.read_event_log(event_log))
        values = trace.per_layer_table(
            rec.spans, per_span, [q["pass"] for q in warm],
            [n for names in SPANS.values() for n in names], WRITE_SPANS,
        )
        for key in ("cache_bytes_retained", "write_amp", "bookkeeping_s"):
            values[key] = _median([q[key] for q in warm])
        untraced = _load_untraced(args)
        wall = _median([q["wall_s"] for q in warm])
        values["trace_overhead_s"] = wall - untraced if untraced else 0.0
        detail["trace_overhead_base_s"] = untraced
        for key in ("jobs_by_time", "gc_s", "py_sent_bytes"):
            detail[key] = sum(v[key] for v in per_span.values())
    else:
        queries = [x for q in warm for x in q["queries_s"]]
        values = {
            "setup_s": setup_s,
            "cold_s": passes[0]["wall_s"] if passes else float("nan"),
            "wall_s": _median([q["wall_s"] for q in warm]),
            "query_p50_s": _median(queries),
            "query_p75_s": quartile_hi(queries) if queries else float("nan"),
        }
        detail["query_samples"] = len(queries)
        _save_untraced(args, values["wall_s"])
    metrics = {
        m["name"]: {"value": _finite(values[m["name"]]), "unit": m["unit"]}
        for m in _spec("per_layer" if traced else "end_to_end")
    }
    return {
        "detail": detail,
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def _finite(v: float) -> float:
    """A run that failed before a warm pass has no value to report; JSON
    has no NaN, so it reads 0 (the run is already marked incorrect)."""
    return v if v == v else 0.0


def _spec(kind: str) -> list[dict]:
    """Metric names and units, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)[kind]


def _untraced_path(args) -> str:
    return os.path.join(STATE, f"untraced-{args.workload}-{args.size}.json")


def _save_untraced(args, wall_s: float) -> None:
    os.makedirs(STATE, exist_ok=True)
    with open(_untraced_path(args), "w") as fh:
        json.dump({"wall_s": wall_s, "seed": args.seed}, fh)


def _load_untraced(args) -> float | None:
    try:
        with open(_untraced_path(args)) as fh:
            return json.load(fh)["wall_s"]
    except (OSError, ValueError, KeyError):
        return None


if __name__ == "__main__":
    sys.exit(main())
