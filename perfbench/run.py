"""CDC benchmark: one seeded workload per run, end-to-end or traced.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

Workloads: ``ingest`` and ``analytics`` (see ``NOTES.md``). With
``--trace 0`` the last stdout line carries the end-to-end metrics named in
``BENCHMARK.json``; with ``--trace 1`` Spark writes an uncompressed event
log and the line carries the per-layer metrics instead. Every file the run
writes stays under the checkout (``.perfbench_run/``, removed at exit, and
``.perfbench_out/`` for the span dump of a traced run). Exits non-zero when
a correctness check fails or the package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile

ROOT = os.getcwd()
# per-workload scratch estimate (MB): inputs, every pass's tables, shuffle
# files and the event log, with headroom
FOOTPRINT_MB = {"ingest": 600, "analytics": 500}
# a small driver heap fills up and is collected within a run, so the peak
# resident size is set by the heap cap rather than by when GC happens to run
DRIVER_MEMORY = "1g"


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _mount_of(path: str) -> tuple[str, str]:
    """(mount point, fs type) holding ``path``, from /proc/mounts."""
    best = ("/", "unknown")
    real = os.path.realpath(path)
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt, fstype = parts[1], parts[2]
            if (real == mnt or real.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best[0]):
                best = (mnt, fstype)
    return best


def host_context(workload: str, work: str, cores: int) -> dict:
    """Cores, load and scratch placement. Scratch stays inside the checkout
    (the benchmark writes nowhere else); tmpfs such as /dev/shm is therefore
    never used, and the run refuses to start when the checkout's file system
    lacks room for the workload's footprint."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    mnt, fstype = _mount_of(ROOT)
    st = os.statvfs(ROOT)
    free_mb = st.f_bavail * st.f_frsize / 2**20
    need = FOOTPRINT_MB[workload]
    if free_mb < 2 * need:
        _fail(f"{free_mb:.0f} MB free under {ROOT}; {workload} needs about {need} MB")
    return {
        "cores_used": cores, "host_cores": os.cpu_count(), "loadavg_start": load,
        "scratch": {"dir": os.path.relpath(work, ROOT), "mount": mnt, "fstype": fstype,
                    "free_mb": round(free_mb), "footprint_mb": need,
                    "choice": "checkout file system (benchmark writes only inside its checkout)"},
    }


# ----- process memory -----------------------------------------------------------


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except (OSError, ValueError, IndexError):
                pass
    return out


def _jvm_pid(gateway_pid: int) -> int:
    """The JVM: the gateway process itself, or a java child of a launcher."""
    pids = [gateway_pid]
    while pids:
        pid = pids.pop()
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
        pids.extend(_children(pid))
    return gateway_pid


def peak_rss_mb(jvm: int) -> float:
    """Peak resident memory (VmHWM) of this Python process plus the JVM."""
    return (_status_kb(os.getpid(), "VmHWM") + _status_kb(jvm, "VmHWM")) / 1024.0


# ----- session --------------------------------------------------------------------


def start_session(work: str, cores: int, event_log: str | None):
    from table2qb_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_log,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    # the same session shape bench.py drives: local[cores], fine shuffle
    # partitioning under AQE coalescing
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=max(128, cores * 4), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then end the gateway JVM and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ----- metrics ----------------------------------------------------------------------


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(out, session_s: float) -> dict:
    return {
        "setup_s": session_s + _median(out.prep_s) + out.warmup_s,
        "peak_rss_mb": out.peak_rss_mb,
        "work_s": out.work_s,
        "throughput_per_s": out.info["throughput_per_s"],
        "latency_p50_s": _median(out.ops),
    }


def per_layer(names: list[str], out, tracer, stats, cores: int, event_log_mb: float) -> dict:
    """Per-layer metrics of the timed region. A layer the workload does not
    run reads 0."""
    m = {n: 0.0 for n in names}
    timed = out.timed_span
    passes = max(1, len(out.passes))
    info = out.info
    batches = tracer.find("cdc.apply.batch", timed)
    runs = tracer.find("cdc.streaming.run", timed)
    trigs = [t for s in tracer.find("stream.tail", timed)
             for t in tracer.find("cdc.streaming.trigger", s["id"])]
    if batches:
        m["cdc.apply.batch_s"] = _median([tracer.dur(s) for s in batches])
        m["cdc.apply.driver_s"] = _median([stats.driver_s(s["id"]) for s in batches])
    if trigs:
        t_s = [s["attrs"]["trigger_s"] for s in trigs]
        a_s = [s["attrs"]["addbatch_s"] for s in trigs]
        m["cdc.streaming.trigger_s"] = _median(t_s)
        m["cdc.streaming.addbatch_s"] = _median(a_s)
        m["cdc.streaming.overhead_s"] = _median([t - a for t, a in zip(t_s, a_s)])
        m["cdc.streaming.jobs_per_trigger"] = (
            sum(len(stats.jobs_under(s["id"])) for s in trigs) / len(trigs))
        m["cdc.streaming.driver_s"] = _median([stats.driver_s(s["id"]) for s in trigs])
        m["cdc.streaming.events_per_s"] = info["stream_events_per_s"]
        m["cdc.streaming.tail_events_per_s"] = info["tail_events_per_s"]
        q = max(1, len(t_s) // 4)
        m["lake.table.latency_creep"] = _median(t_s[-q:]) / _median(t_s[:q])
    ingest = stats.jobs_of([s["id"] for s in batches + runs])
    if ingest:
        tot = stats.totals(ingest)
        m["lake.merge.shuffle_write_mb"] = tot["shuffle_write_mb"] / passes
        m["lake.merge.shuffle_read_mb"] = tot["shuffle_read_mb"] / passes
        m["lake.merge.spill_mb"] = tot["spill_mb"] / passes
        m["lake.merge.task_s"] = tot["task_s"] / passes
        m["lake.merge.task_skew"] = stats.skew(ingest)
        m["lake.table.output_mb"] = tot["output_mb"] / passes
        m["lake.table.rows_read_per_event"] = tot["rows_in"] / info["events_applied"]
        m["lake.table.rows_written_per_event"] = tot["rows_out"] / info["events_applied"]
        for k in ("files_written", "buckets_touched_ratio", "write_amp", "backfill_write_amp"):
            m[f"lake.table.{k}"] = info[k]
    for name, secs in info.get("op_s", {}).items():
        jobs = stats.jobs_of([s["id"] for s in tracer.find(name, timed)])
        tot = stats.totals(jobs)
        m[f"{name}_s"] = secs
        for key, val in (("task_s", tot["task_s"] / passes),
                         ("shuffle_mb", tot["shuffle_write_mb"] / passes),
                         ("spill_mb", tot["spill_mb"] / passes),
                         ("skew", stats.skew(jobs))):
            if f"{name}_{key}" in m:
                m[f"{name}_{key}"] = val
    if "cube_s" in info:
        m["pipelines.lake_cube.total_s"] = info["cube_s"]
    if "suite_s" in info:
        m["entry_queries.suite_s"] = info["suite_s"]
    wall = tracer.dur(tracer.spans[timed])
    m["cpu_util"] = stats.totals(stats.jobs_under(timed))["task_s"] / (wall * cores)
    m["trace.work_s"] = out.work_s
    m["trace.eventlog_mb"] = event_log_mb
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # the program under test: the checkout's package, next to BENCHMARK.json
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "table2qb_spark", "__init__.py")):
        _fail(f"no table2qb_spark package under {ROOT}; run from the root of a checkout")
    if not os.path.isfile(spec_path):
        _fail(f"no BENCHMARK.json under {ROOT}")
    sys.path[0] = ROOT  # not perfbench/ itself: its modules are imported as perfbench.*
    from perfbench import workloads
    from perfbench.spans import SpanStats, Tracer

    if args.workload not in workloads.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    with open(spec_path) as f:
        spec = json.load(f)
    section = "per_layer" if args.trace else "end_to_end"
    units = {m["name"]: m["unit"] for m in spec[section]}

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    ctx_info = host_context(args.workload, work, cores)
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
    })
    tempfile.tempdir = None  # re-read TMPDIR
    event_log = os.path.join(work, "eventlog") if args.trace else None

    spark = None
    try:
        tracer = Tracer()
        with tracer.span("setup.session") as s:
            spark = start_session(work, cores, event_log)
        session_s = tracer.dur(s)
        tracer.sc = spark.sparkContext
        jvm = _jvm_pid(spark.sparkContext._gateway.proc.pid)
        ctx = workloads.Ctx(spark, tracer, work, args.seed, args.seconds,
                            lambda: peak_rss_mb(jvm))
        out = workloads.WORKLOADS[args.workload](ctx)
        stop_session(spark)
        spark = None
        if args.trace:
            stats = SpanStats(tracer, event_log)
            log_mb = sum(os.path.getsize(os.path.join(r, f))
                         for r, _d, fs in os.walk(event_log) for f in fs) / 2**20
            metrics = per_layer(list(units), out, tracer, stats, cores, log_mb)
            dump = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(dump, exist_ok=True)
            tracer.dump(os.path.join(dump, f"{args.workload}-seed{args.seed}-spans.jsonl"))
        else:
            metrics = end_to_end(out, session_s)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run is using it
        except OSError:
            pass

    correct = all(ok for _, ok, _ in out.checks)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "context": ctx_info,
        "setup": {"session_s": session_s, "prep_s": out.prep_s, "warmup_s": out.warmup_s},
        "passes_s": out.passes,
        "op_s": out.info.get("op_s", {}),
        "pass_parts_s": out.info.get("pass_parts_s", []),
        "figures": {k: v for k, v in out.info.items() if not isinstance(v, (dict, list))},
        "error_rate": out.failed / max(1, out.attempted),
        "checks": [{"name": n, "ok": ok, "detail": d} for n, ok, d in out.checks],
    }
    print(json.dumps(report))
    missing = [n for n in units if n not in metrics]
    if missing:
        _fail(f"metrics not produced: {missing}", 3)
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, out.attempted),
        "failed": out.failed,
        "metrics": {n: {"value": float(metrics[n]), "unit": units[n]} for n in units},
    }))
    return 0 if correct and out.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
