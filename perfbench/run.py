"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload crawl_big_frontier --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. ``--seed`` generates the crawl's
synthetic web and sets the order of the analyst queries, whose tables
are fixed (``perfbench/data``). The measured work repeats until
``--seconds`` of it have been timed (at least one unit: a crawl of a
fixed number of epochs, or one pass over the analyst query list).
Outputs are checked on every run. The last stdout line is one JSON
object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics of BENCHMARK.json with ``--trace
0``, its per-layer metrics with ``--trace 1``. The line before it is a
report with the effective settings, the per-workload figures under
their own names, and every check. Everything the run writes stays
under ``.perfbench/`` in the checkout; spans of a traced run are kept
in ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

SETUP_REPEATS = 3
WATCHDOG_S = 175
PR_SET_CHILD_SUBREAPER = 36


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pin_environment(work: Path, cpus: int) -> dict:
    """Clear every SPARK_GRAFT_* knob, then set the ones this benchmark
    fixes on purpose; the driver heap stays at the program's default.
    Scratch space (Spark local dirs, temp files) goes
    under ``work``."""
    cleared = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    for k in cleared:
        del os.environ[k]
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "SPARK_LOCAL_IP": "127.0.0.1",
        "TMPDIR": str(tmp),
        # no JVM perf-data files in the system temp dir
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYTHONHASHSEED": "0",
        # fewer glibc malloc arenas: steadier native memory in the JVM
        "MALLOC_ARENA_MAX": "2",
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    os.environ.update(pinned)
    return {"cleared_env": cleared, "pinned_env": pinned}


def start_session(work: Path, cpus: int, app: str, event_log: Path | None):
    from scrapetition_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name=app, master=f"local[{cpus}]",
                      shuffle_partitions=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def reap_children(timeout: float = 30.0) -> None:
    """Wait for every remaining descendant (Spark's Python workers are
    re-parented here once the JVM is gone); kill what outlives
    ``timeout``."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in _children():
                try:
                    os.kill(child, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def _children() -> list[int]:
    me = os.getpid()
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == me:
            out.append(int(d))
    return out


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak resident set of the driver JVM and of this Python process."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return {"jvm": vm_hwm_mb(jvm_pid), "python": vm_hwm_mb("self")}


def effective_conf(spark) -> dict:
    keep = ("spark.master", "spark.driver.memory", "spark.sql.", "spark.local.dir",
            "spark.eventLog.enabled", "spark.hadoop.parquet.block.size")
    return {
        k: v for k, v in sorted(spark.sparkContext.getConf().getAll())
        if k.startswith(keep)
    }


def measure(spark, args, work: Path, session_s: float) -> dict:
    """Set up, run the units, check them; returns the raw figures."""
    from perfbench import workloads
    from perfbench.trace import Tracer

    wl = workloads.make(spark, args.workload, args.seed, str(work), args.tiny)
    crawl = isinstance(wl, workloads.CrawlWorkload)
    preps = [wl.prepare(i) for i in range(SETUP_REPEATS)]
    prep_times = {
        k: statistics.median(p.times[k] for p in preps) for k in preps[0].times
    }
    setup_s = session_s + prep_times["total_s"]
    log(f"setup {setup_s:.2f}s")
    units, verdicts = [], []

    def next_prep(index):
        # a crawl unit consumes its catalog; the query suite only reads
        if not crawl:
            return preps[-1]
        return preps.pop() if preps else wl.prepare(SETUP_REPEATS + index)

    def run(prep, index, tracer=None):
        unit = wl.run_unit(prep, index, tracer)
        verdicts.extend(wl.check(prep, unit))
        if crawl:
            wl.discard(prep)
        log(f"unit {index}: {unit.wall_s:.2f}s, {unit.work} done")
        return unit

    traced = tracer = None
    if args.trace:
        # an untraced warm-up, then the traced unit, then the untraced
        # unit it is compared with
        wl.warm_up(next_prep(0))
        prep = next_prep(1)
        tracer = Tracer()
        wl.install_tracing(tracer)
        try:
            traced = run(prep, 1, tracer)
        finally:
            tracer.restore()
        units.append(run(next_prep(2), 2))
    else:
        units.append(run(next_prep(0), 0))
        while sum(u.wall_s for u in units) < args.seconds:
            units.append(run(next_prep(len(units)), len(units)))
    return {
        "crawl": crawl, "units": units, "traced": traced, "tracer": tracer,
        "verdicts": verdicts, "setup_s": setup_s, "prep_times": prep_times,
    }


def end_to_end(raw: dict, rss: dict[str, float]) -> tuple[dict, dict]:
    """(contract metrics, report figures under the workload's own names)."""
    units = raw["units"]
    steps = [s for u in units for s in u.steps_s]
    wall = sum(u.wall_s for u in units)
    work = sum(u.work for u in units)
    metrics = {
        "setup_s": raw["setup_s"],
        "throughput_per_s": work / wall if wall else 0.0,
        "step_s_p50": statistics.median(steps) if steps else 0.0,
        "peak_rss_mb": rss["jvm"] + rss["python"],
    }
    report = {"setup_s": raw["setup_s"], "peak_rss_mb": metrics["peak_rss_mb"],
              "peak_rss_mb_parts": rss}
    if raw["crawl"]:
        report["crawl_urls_per_s"] = metrics["throughput_per_s"]
        report["epoch_s_p50"] = metrics["step_s_p50"]
        resumes = [u.resume_s for u in units if u.resume_s is not None]
        if resumes:
            report["resume_s"] = statistics.median(resumes)
        report["catalog_bytes_per_url"] = (
            sum(u.catalog_bytes for u in units) / work if work else 0.0
        )
    else:
        report["query_suite_s"] = metrics["step_s_p50"]
    return metrics, report


def per_layer(raw: dict, event_log: Path, out_dir: Path, args) -> tuple[dict, dict]:
    from perfbench import eventlog

    traced, untraced, tracer = raw["traced"], raw["units"][-1], raw["tracer"]
    m = dict(traced.layer)
    prep = raw["prep_times"]
    m["sources.fixtures.synthetic_web_s"] = prep.get("synthetic_web_s", 0.0)
    m["crawl.seed_frame_s"] = prep.get("seed_frame_s", 0.0)
    m.update(eventlog.session_metrics(str(event_log), traced.windows))
    probe_s = tracer.total("trace.probe")
    traced_wall = traced.wall_s - probe_s
    m["trace.overhead_pct"] = (
        100.0 * (traced_wall - untraced.wall_s) / untraced.wall_s if untraced.wall_s else 0.0
    )
    overhead = {"probe_s_excluded": probe_s}
    if raw["crawl"]:
        overhead["crawl_urls_per_s_traced_minus_untraced"] = (
            traced.work / traced_wall - untraced.work / untraced.wall_s
        )
    else:
        overhead["query_suite_s_traced_minus_untraced"] = traced_wall - untraced.wall_s
    out_dir.mkdir(parents=True, exist_ok=True)
    spans = out_dir / f"{args.workload}-seed{args.seed}-spans.json"
    tracer.dump(str(spans))
    overhead["spans_file"] = str(spans.relative_to(ROOT))
    return m, overhead


def main(argv: list[str] | None = None) -> int:
    from perfbench.workloads import WORKLOADS

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="test-sized crawl inputs (the benchmark's own tests)")
    args = p.parse_args(argv)

    for path in ("scrapetition_spark/__init__.py", "__spark_entry__.py"):
        if not (ROOT / path).is_file():
            log(f"program source {path} not found under {ROOT}")
            return 2

    cpus = len(os.sched_getaffinity(0))
    base = ROOT / ".perfbench"
    work = base / f"{args.workload}-{args.seed}-{os.getpid()}"
    settings = pin_environment(work, cpus)
    ctypes.CDLL(None).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)

    def expire(signum, frame):
        raise TimeoutError(f"benchmark exceeded {WATCHDOG_S}s")

    def terminate(signum, frame):
        raise SystemExit(128 + signum)  # run the clean-up below

    signal.signal(signal.SIGALRM, expire)
    signal.signal(signal.SIGTERM, terminate)
    signal.alarm(WATCHDOG_S)
    event_log = work / "eventlog" if args.trace else None
    spark = None
    try:
        spark, session_s = start_session(work, cpus, f"perfbench-{args.workload}", event_log)
        settings["spark_conf"] = effective_conf(spark)
        raw = measure(spark, args, work, session_s)
        rss = peak_rss_mb(spark)
        stop_session(spark)
        spark = None
        reap_children()
        metrics, report = end_to_end(raw, rss)
        report["end_to_end"] = metrics
        if args.trace:
            metrics, report["trace_overhead"] = per_layer(raw, event_log, base / "out", args)
    finally:
        if spark is not None:
            stop_session(spark)
            reap_children()
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)

    verdicts = raw["verdicts"]
    unit_failures = [f for u in raw["units"] + ([raw["traced"]] if raw["traced"] else [])
                     for f in u.failures]
    attempted = sum(u.attempted for u in raw["units"]) + len(verdicts)
    if raw["traced"]:
        attempted += raw["traced"].attempted
    failed = len(unit_failures) + sum(1 for _, ok, _ in verdicts if not ok)
    report["failed_ratio"] = failed / attempted if attempted else 1.0

    wanted = spec["per_layer" if args.trace else "end_to_end"]
    out = {}
    for entry in wanted:
        value = metrics.get(entry["name"])
        if value is None:
            if not args.trace:
                raise KeyError(f"end-to-end metric {entry['name']} was not measured")
            value = 0.0
        out[entry["name"]] = {"value": float(value), "unit": entry["unit"]}
    report.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "units": len(raw["units"]), "failures": unit_failures,
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in verdicts],
        "settings": settings,
    })
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
