"""The two workloads. Each is a closed loop: the next batch, trigger, cube
output or query starts after the previous one has committed or finished.

A workload runs in four parts: ``prep`` makes the inputs and is repeated, so
set-up time is a median; ``warmup`` runs the timed code once, untimed;
``timed`` is measured; ``gate`` checks correctness outside the timed region.
The package is driven only through its public functions, and the program
sees nothing but the generated inputs.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
from dataclasses import dataclass, field
from datetime import datetime, timezone
from typing import Callable

from perfbench import oracle, tables
from perfbench.spans import Tracer

SCHEMA = [("repo", "string"), ("path", "string"), ("commit", "string"),
          ("lang", "string"), ("content", "string"), ("content_sha", "string")]
KEYS = ["repo", "path"]
PATHS_PER_REPO = 500
# languages the lake-cube codelist knows; the change log also holds "scala"
# and "sql", which must come back unresolved
CODELIST = ["python", "clojure", "rust", "go", "java", "js"]


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work: str
    seed: int
    seconds: float
    peak_rss_mb: Callable[[], float]  # read right after the timed region, before the gate


@dataclass
class Outcome:
    """What a workload hands back to the runner."""
    prep_s: list[float] = field(default_factory=list)  # each repetition of input making
    warmup_s: float = 0.0
    timed_span: int = -1
    passes: list[float] = field(default_factory=list)  # wall of each timed pass
    work_s: float = 0.0  # the timed work of one pass
    peak_rss_mb: float = 0.0
    ops: list[float] = field(default_factory=list)  # latency of each timed operation
    attempted: int = 0
    failed: int = 0
    checks: list[tuple[str, bool, str]] = field(default_factory=list)
    info: dict = field(default_factory=dict)  # workload figures for the report and layers

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))
        if not ok:
            self.failed += 1


def _n_passes(seconds: float, nominal_pass_s: float) -> int:
    """Passes that fill the measuring window at the nominal pass time on a
    4-core host. The count depends on ``--seconds`` only, never on how fast
    a pass ran, so every run of a workload does the same work."""
    return max(1, round(seconds / nominal_pass_s))


def _dir_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(bytes, files) under ``path`` whose names end with ``suffix``."""
    total = n = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            if fn.endswith(suffix):
                total += os.path.getsize(os.path.join(root, fn))
                n += 1
    return total, n


def _log_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(os.path.join(path, f)).num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def _buckets_touched(table_path: str, skip: int = 0) -> list[int]:
    """Buckets touched per commit, from the table's own metrics file."""
    p = os.path.join(table_path, "_meta", "metrics.jsonl")
    if not os.path.exists(p):
        return []
    with open(p) as f:
        rows = [json.loads(x) for x in f if x.strip()][skip:]
    return [r.get("buckets_touched", 0) for r in rows]


def _stream(ctx: Ctx, table, events_dir: str, ckpt: str, max_files) -> list[dict]:
    """Run ``start_stream`` to completion under a ``cdc.streaming.run`` span
    and add one child span per trigger from the query's progress reports."""
    from table2qb_spark.cdc.streaming import start_stream

    with ctx.tracer.span("cdc.streaming.run") as run:
        q = start_stream(ctx.spark, table, events_dir, ckpt, max_files_per_trigger=max_files)
        q.awaitTermination()
    out = []
    for p in q.recentProgress:
        d = p.get("durationMs", {})
        if d.get("addBatch") is None:
            continue  # a progress report with no data
        start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(
            tzinfo=timezone.utc).timestamp()
        out.append(ctx.tracer.add(
            "cdc.streaming.trigger", start, start + d["triggerExecution"] / 1000.0, run["id"],
            batch=p["batchId"], trigger_s=d["triggerExecution"] / 1000.0,
            addbatch_s=d["addBatch"] / 1000.0,
        ))
    return out


def _state_columns(table) -> list[str]:
    return [c["name"] for c in table.snapshot().current_schema()
            if c["name"] not in ("_seq", "_deleted")]


# ----- ingest ---------------------------------------------------------------------------

INGEST = {
    "backfill_events": 40_000,  # change events before the tail (plus ~2% duplicate deliveries)
    "batch_events": 10_000,     # seq range per apply_batch: four backfill batches
    "tail_events": 7_500,       # streamed after the backfill
    "tail_files": 5,            # one file per trigger: ~1.5k events per tail trigger
    "buckets": 16,
    "backfill_files": 8,        # hash-shuffled backfill log files
    "warmup_batches": 2,        # the warm-up pass backfills this many full-size batches ...
    "warmup_tail_files": 2,     # ... and streams this many of the tail files
    "prep_reps": 3,
    "nominal_pass_s": 20.0,
}
CUBE_OUTPUTS = ("observations", "used_codes", "resolution")


def _ingest_logs(ctx: Ctx, dirs: dict) -> None:
    from pyspark.sql import functions as F

    from table2qb_spark.datagen import changelog as gen

    cfg = INGEST
    n_back = cfg["backfill_events"]
    n_all = n_back + cfg["tail_events"]
    # bench.py's log shape: power-law repo skew 2.0, 2% duplicate deliveries,
    # 5% deletes, a schema-evolution payload after 60% of the log; written
    # as hash-shuffled files, so file order is not seq order
    log = gen.gen_change_log(ctx.spark, n_all, max(64, n_all // 1000), PATHS_PER_REPO,
                             seed=ctx.seed, n_partitions=ctx.spark.sparkContext.defaultParallelism)
    gen.write_change_log(log.where(F.col("seq") <= n_back), dirs["backfill"],
                         n_files=cfg["backfill_files"])
    gen.write_change_log(log.where(F.col("seq") > n_back), dirs["tail"], n_files=cfg["tail_files"])


def ingest(ctx: Ctx) -> Outcome:
    """One pass: backfill the log's first part by ``apply_batch`` over seq
    ranges into a fresh seq-guarded table; replay the same part through
    ``start_stream`` with ``"auto"`` triggers into a second table; stream the
    tail into the first table one small file per trigger; build the lake
    cube's outputs over that table."""
    from pyspark.sql import functions as F

    from table2qb_spark.cdc.apply import ChangeLogReplayer
    from table2qb_spark.cdc.streaming import create_stream_table
    from table2qb_spark.cdc.verify import table_sha256
    from table2qb_spark.pipelines.lake_cube import build_lake_cube

    cfg = INGEST
    out = Outcome()
    tr = ctx.tracer
    base = os.path.join(ctx.work, "ingest")
    dirs = {k: os.path.join(base, k) for k in ("backfill", "tail")}
    codelist = ctx.spark.createDataFrame([(c,) for c in CODELIST], "notation string")

    for i in range(cfg["prep_reps"]):
        with tr.span("setup.prep", rep=i) as s:
            _ingest_logs(ctx, dirs)
        out.prep_s.append(tr.dur(s))
    n_back, n_tail = _log_rows(dirs["backfill"]), _log_rows(dirs["tail"])
    back_bytes = _dir_bytes(dirs["backfill"], ".parquet")[0]
    tail_bytes = _dir_bytes(dirs["tail"], ".parquet")[0]

    def one_pass(tag: str, src: dict, batch_events: int, bulk: bool = True) -> dict:
        """``src["backfill"]`` is a log directory or, for the warm-up, a
        DataFrame slice of one."""
        lake, bulk_t = (create_stream_table(ctx.spark, os.path.join(base, f"{k}_{tag}"), SCHEMA,
                                            KEYS, n_buckets=cfg["buckets"])
                        for k in ("lake", "bulk"))
        rep = ChangeLogReplayer(ctx.spark, lake, src["backfill"], batch_events=batch_events)
        lo, hi = rep.seq_bounds()
        r = {"lake": lake, "bulk_table": bulk_t, "batches": [], "cube": {}}
        with tr.span("pass", tag=tag) as p:
            with tr.span("cdc.apply.replay") as b:
                for i in range((hi - lo) // batch_events + 1):
                    with tr.span("cdc.apply.batch", batch=i) as s:
                        rep.apply_batch(i, lo, hi)
                    r["batches"].append(tr.dur(s))
            with tr.span("stream.backfill") as sb:
                r["bulk"] = _stream(ctx, bulk_t, src["backfill"],
                                    os.path.join(base, f"ckpt_b_{tag}"), "auto") if bulk else []
            r["bytes_before_tail"] = _dir_bytes(lake.path)[0]
            r["commits_before_tail"] = len(_buckets_touched(lake.path))
            with tr.span("stream.tail") as st:
                r["tail"] = _stream(ctx, lake, src["tail"], os.path.join(base, f"ckpt_t_{tag}"), 1)
            r["tail_written"] = _dir_bytes(lake.path)[0] - r["bytes_before_tail"]
            with tr.span("pipelines.lake_cube") as c:
                res = build_lake_cube(ctx.spark, lake, language_codelist=codelist)
                for k in CUBE_OUTPUTS:
                    with tr.span(f"pipelines.lake_cube.{k}") as s:
                        # noop sink: materializes every output column
                        res[k].write.format("noop").mode("overwrite").save()
                    r["cube"][k] = tr.dur(s)
        r.update(pass_s=tr.dur(p), batch_s=tr.dur(b), bulk_s=tr.dur(sb), tail_s=tr.dur(st),
                 cube_s=tr.dur(c))
        return r

    with tr.span("setup.warmup") as w:
        warm_tail = os.path.join(base, "warm_tail")
        os.makedirs(warm_tail)
        for fn in sorted(f for f in os.listdir(dirs["tail"]) if f.endswith(".parquet"))[
                :cfg["warmup_tail_files"]]:
            shutil.copy(os.path.join(dirs["tail"], fn), warm_tail)
        n_warm = cfg["warmup_batches"] * cfg["batch_events"]
        warm = {"backfill": ctx.spark.read.parquet(dirs["backfill"]).where(F.col("seq") <= n_warm),
                "tail": warm_tail}
        # batches of the timed size: after smaller ones the timed batches ran
        # 25-35% slower than in later passes and twice as spread, the JIT
        # still compiling for the larger input. The "auto" stream shares
        # foreachBatch and the merge with the tail triggers, so the warm-up
        # leaves it out
        one_pass("warm", warm, cfg["batch_events"], bulk=False)
    out.warmup_s = tr.dur(w)

    results = []
    with tr.span("timed") as timed:
        for i in range(_n_passes(ctx.seconds, cfg["nominal_pass_s"])):
            r = one_pass(str(i), dirs, cfg["batch_events"])
            results.append(r)
            out.attempted += len(r["batches"]) + len(r["bulk"]) + len(r["tail"]) + len(r["cube"])
            out.passes.append(r["pass_s"])
            out.ops.extend(s["attrs"]["trigger_s"] for s in r["tail"])
    out.timed_span = timed["id"]
    out.peak_rss_mb = ctx.peak_rss_mb()
    out.work_s = statistics.median(out.passes)

    def med(values) -> float:
        return statistics.median(list(values))

    touched = [n for r in results for n in _buckets_touched(r["lake"].path, r["commits_before_tail"])]
    out.info.update({
        "backfill_events": n_back, "tail_events": n_tail, "passes": len(results),
        "buckets": cfg["buckets"], "tail_triggers": len(results[0]["tail"]),
        "events_applied": (2 * n_back + n_tail) * len(results),
        "throughput_per_s": n_back / med(r["batch_s"] for r in results),
        "stream_events_per_s": n_back / med(r["bulk_s"] for r in results),
        "tail_events_per_s": n_tail / med(r["tail_s"] for r in results),
        "commit_latency_p50_s": statistics.median(out.ops),
        "cube_s": med(r["cube_s"] for r in results),
        "op_s": {f"pipelines.lake_cube.{k}": med(r["cube"][k] for r in results)
                 for k in CUBE_OUTPUTS},
        "pass_parts_s": [{"batches": r["batches"], "bulk": r["bulk_s"], "tail": r["tail_s"],
                          "tail_triggers": [s["attrs"]["trigger_s"] for s in r["tail"]],
                          "cube": r["cube_s"]} for r in results],
        "write_amp": med(r["tail_written"] for r in results) / tail_bytes,
        "backfill_write_amp": med(r["bytes_before_tail"] + _dir_bytes(r["bulk_table"].path)[0]
                                  for r in results) / (2 * back_bytes),
        "files_written": med(_dir_bytes(r["lake"].path, ".parquet")[1]
                             + _dir_bytes(r["bulk_table"].path, ".parquet")[1] for r in results),
        "buckets_touched_ratio": sum(touched) / (len(touched) * cfg["buckets"]),
    })
    out.info["events_per_s"] = out.info["throughput_per_s"]

    with tr.span("gate"):
        cols = _state_columns(results[0]["lake"])
        live = oracle.cdc_live_rows(list(dirs.values()))
        full = oracle.state_digest(live, cols)
        back = oracle.state_digest(oracle.cdc_live_rows([dirs["backfill"]]), cols)
        exp = oracle.lake_cube_expectation(live, set(CODELIST))
        for k, r in enumerate(results):
            for name, table, want in (("backfill+tail", r["lake"], full),
                                      ("stream_backfill", r["bulk_table"], back)):
                got = table_sha256(table.read_live(), cols)
                out.check(f"{name}[{k}]", got == want, f"{got[:12]} vs oracle {want[:12]}")
            out.check(f"tail_triggers[{k}]", len(r["tail"]) == cfg["tail_files"],
                      f"{len(r['tail'])} triggers for {cfg['tail_files']} files")
            res = build_lake_cube(ctx.spark, r["lake"], language_codelist=codelist)
            got = {
                "observations": res["observations"].count(),
                "used_codes": res["used_codes"].count(),
                "unresolved": sorted(x[0] for x in res["resolution"].where("NOT resolved")
                                     .select("language").distinct().collect()),
            }
            for key, val in got.items():
                out.check(f"lake_cube.{key}[{k}]", val == exp[key], f"{val} vs {exp[key]}")
        out.info["oracle_live_rows"] = len(live)
    return out


# ----- analytics ---------------------------------------------------------------------------

ANALYTICS = {
    "fixture_scale": 0.5,  # tables.BASE_ROWS multiplier
    "prep_reps": 3,
    "nominal_pass_s": 6.5,
}
# The paper's cube / codelist / components pipelines as catalogue queries,
# and two ops-heavy kernels: MinHash-LSH dedup and embedding decontamination
# (the interpreted cosine fold). The other bench.py queries are left out: at
# these sizes each costs a near-fixed 0.5-3 s warm and as much again cold,
# and the whole 20-query suite would push one run past the per-run time the
# benchmark's run count allows.
ANALYTICS_QUERIES = [
    "cube_observations", "observation_uri", "used_codes", "codelist_annotate",
    "components_annotate", "codelist_resolution",
    "dedup_minhash_lsh", "embedding_decontam",
]


def analytics(ctx: Ctx) -> Outcome:
    """Read-only: the catalogue queries over seeded fixture tables. No merge
    runs, so an ingest change should leave it flat."""
    from table2qb_spark.entry_queries import ORACLES, QUERIES

    cfg = ANALYTICS
    out = Outcome()
    tr = ctx.tracer
    sf_dir = os.path.join(ctx.work, "analytics", "sf")

    for i in range(cfg["prep_reps"]):
        with tr.span("setup.prep", rep=i) as s:
            fixture = tables.build(ctx.seed, cfg["fixture_scale"])
            tables.write(fixture, sf_dir)
        out.prep_s.append(tr.dur(s))

    # the warm-up doubles as the result capture for the gate: every query
    # runs once and its rows are collected
    collected: dict[str, tuple] = {}
    with tr.span("setup.warmup") as w:
        for q in ANALYTICS_QUERIES:
            with tr.span(f"warm.entry_queries.{q}"):
                df = QUERIES[q](ctx.spark, sf_dir)
                collected[q] = (df.columns, [r.asDict() for r in df.collect()])
    out.warmup_s = tr.dur(w)

    per_op: dict[str, list[float]] = {}
    with tr.span("timed") as timed:
        for _ in range(_n_passes(ctx.seconds, cfg["nominal_pass_s"])):
            with tr.span("pass") as p:
                for q in ANALYTICS_QUERIES:
                    with tr.span(f"entry_queries.{q}") as s:
                        out.attempted += 1
                        # noop sink, as bench.py: materializes every output column
                        QUERIES[q](ctx.spark, sf_dir).write.format("noop").mode(
                            "overwrite").save()
                    per_op.setdefault(f"entry_queries.{q}", []).append(tr.dur(s))
            out.passes.append(tr.dur(p))
    out.timed_span = timed["id"]
    out.peak_rss_mb = ctx.peak_rss_mb()
    # each query's best pass, as bench.py takes min-of-N: these queries cost
    # a near-fixed 0.3-3 s of mostly driver work that still speeds up from
    # pass to pass as the JIT settles, and a one-off stall of the host in
    # one pass would otherwise set the figure
    best = {k: min(v) for k, v in per_op.items()}
    out.ops = list(best.values())
    out.work_s = sum(best.values())
    out.info.update({
        "passes": len(out.passes),
        "suite_s": out.work_s,
        "op_s": best,
        "throughput_per_s": len(best) / out.work_s,
    })

    with tr.span("gate"):
        qo = oracle.QueryOracle(sf_dir, list(fixture))
        try:
            for q in ANALYTICS_QUERIES:
                cols, rows = collected[q]
                why = qo.compare(ORACLES[q], cols, rows)
                out.check(f"query[{q}]", why is None, why or f"{len(rows)} rows")
        finally:
            qo.close()
    return out


WORKLOADS = {"ingest": ingest, "analytics": analytics}
