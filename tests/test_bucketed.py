"""Shuffle-free bucketed replay: equivalence with the shuffle merge and the
Python oracle; exactly-once resume; no-exchange plan audit."""

import pytest
from pyspark.sql import functions as F

from table2qb_spark.cdc.apply import ChangeLogReplayer
from table2qb_spark.cdc.bucketed import BucketedReplayer, write_bucketed_change_log
from table2qb_spark.cdc.verify import table_sha256
from table2qb_spark.datagen import changelog as gen
from table2qb_spark.lake.table import LakeTable

BASE_SCHEMA = [
    ("repo", "string"),
    ("path", "string"),
    ("commit", "string"),
    ("lang", "string"),
    ("content", "string"),
]
KEYS = ["repo", "path"]
COLS = [c for c, _ in BASE_SCHEMA]
N_BUCKETS = 4


@pytest.fixture(scope="module")
def logs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("bucketed")
    ev = gen.gen_change_log(
        spark, 2500, 10, 40, seed=5, dup_rate=0.04, schema_evolution_after=None
    )
    flat = str(root / "flat")
    bucketed = str(root / "bucketed")
    gen.write_change_log(ev, flat, n_files=6)
    write_bucketed_change_log(ev, bucketed, KEYS, N_BUCKETS)
    return flat, bucketed, root


def test_bucketed_equals_shuffle_merge(spark, tmp_path, logs):
    flat, bucketed, _ = logs
    t_ref = LakeTable.create(spark, str(tmp_path / "ref"), BASE_SCHEMA, KEYS, n_buckets=N_BUCKETS)
    ChangeLogReplayer(spark, t_ref, flat, batch_events=800).run()
    want = table_sha256(t_ref.read(), COLS)

    t = LakeTable.create(spark, str(tmp_path / "bkt"), BASE_SCHEMA, KEYS, n_buckets=N_BUCKETS)
    res = BucketedReplayer(spark, t, bucketed, batch_events=800).run()
    assert all(not r.get("skipped") for r in res)
    assert table_sha256(t.read(), COLS) == want


def test_bucketed_resume_and_idempotency(spark, tmp_path, logs):
    _, bucketed, _ = logs
    t = LakeTable.create(spark, str(tmp_path / "b2"), BASE_SCHEMA, KEYS, n_buckets=N_BUCKETS)
    r = BucketedReplayer(spark, t, bucketed, batch_events=800)
    r.run(max_batches=1)
    r2 = BucketedReplayer(spark, t, bucketed, batch_events=800)
    assert r2.last_applied_batch() == 0
    r2.run()
    sha = table_sha256(t.read(), COLS)
    res = BucketedReplayer(spark, t, bucketed, batch_events=800).run()
    assert res == []
    assert table_sha256(t.read(), COLS) == sha


def test_bucketed_plan_has_no_exchange_and_no_python(spark, tmp_path, logs):
    """THE point of the bucketed path: zero shuffle AND zero Python in the
    merge plan — the per-bucket winner selection is an un-partitioned window
    over a single-partition child, which plans as a local Sort + Window with
    no Exchange and no Arrow/pandas evaluation nodes."""
    from functools import reduce
    from pyspark.sql.window import Window

    _, bucketed, _ = logs
    t = LakeTable.create(spark, str(tmp_path / "b3"), BASE_SCHEMA, KEYS, n_buckets=N_BUCKETS)
    r = BucketedReplayer(spark, t, bucketed, batch_events=10_000)
    # reconstruct the merge DataFrame exactly as apply_range builds it
    value_cols = [c for c in COLS if c not in KEYS]
    key_cols = [F.col(k) for k in KEYS]
    w = Window.orderBy(*key_cols, F.col("__seq"), F.col("__pri"))
    children = []
    for b in r._event_buckets:
        ev = (
            spark.read.schema(r._events_schema)
            .parquet(f"{bucketed}/b={b}")
            .select(
                *KEYS,
                F.col("seq").cast("long").alias("__seq"),
                F.lit(1).alias("__pri"),
                F.col("op").alias("__op"),
                *[F.col(c) for c in value_cols],
            )
            .coalesce(1)
        )
        last = F.lead(F.lit(1)).over(w).isNull()
        for k in KEYS:
            last = last | ~F.lead(F.col(k)).over(w).eqNullSafe(F.col(k))
        winners = (
            ev.withColumn("__last", last)
            .where(F.col("__last") & (F.col("__op") != "D"))
            .select(*KEYS, *value_cols)
            .withColumn("__bucket", F.lit(b))
        )
        children.append(winners)
    merged = reduce(lambda a, c: a.unionByName(c), children)
    plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Window" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan


def test_pruned_cow_rewrites_only_overlapping_buckets(spark, tmp_path, logs):
    """Steady-state small batches: a seq range whose events live in ONE
    bucket must rewrite exactly that bucket; every other bucket's files carry
    forward untouched (footer-pruned copy-on-write)."""
    _, bucketed, _ = logs
    t = LakeTable.create(spark, str(tmp_path / "b4"), BASE_SCHEMA, KEYS, n_buckets=N_BUCKETS)
    BucketedReplayer(spark, t, bucketed, batch_events=10_000).run()
    before = {b: [e["path"] for e in ents] for b, ents in t.snapshot().files.items()}

    # a follow-on segment touching a single key -> a single bucket
    seg = spark.createDataFrame(
        [(10_000_000, "U", "repo-0", "src/f0.py", "cX", "python", "patched")],
        "seq long, op string, repo string, path string, commit string, lang string, content string",
    )
    seg_dir = str(tmp_path / "seg")
    write_bucketed_change_log(seg, seg_dir, KEYS, N_BUCKETS)
    r = BucketedReplayer(spark, t, seg_dir, batch_events=10_000)
    stats = r.apply_range("seg-0", 10_000_000, 10_000_000)
    assert stats["affected_buckets"] == 1

    after = {b: [e["path"] for e in ents] for b, ents in t.snapshot().files.items()}
    changed = [b for b in sorted(set(before) | set(after)) if before.get(b) != after.get(b)]
    assert len(changed) == 1
    # untouched buckets carried forward byte-identical; no rows lost anywhere
    for b in before:
        if b not in changed:
            assert after[b] == before[b]
    got = {
        (r_["repo"], r_["path"]): r_["content"]
        for r_ in t.read().where(F.col("repo") == "repo-0").collect()
    }
    assert got[("repo-0", "src/f0.py")] == "patched"


def test_range_with_no_events_commits_checkpoint_only(spark, tmp_path, logs):
    _, bucketed, _ = logs
    t = LakeTable.create(spark, str(tmp_path / "b5"), BASE_SCHEMA, KEYS, n_buckets=N_BUCKETS)
    BucketedReplayer(spark, t, bucketed, batch_events=10_000).run()
    rows_before = t.read().count()
    files_before = t.snapshot().files
    r = BucketedReplayer(spark, t, bucketed, batch_events=10_000)
    stats = r.apply_range("empty-range", 50_000_000, 60_000_000)
    assert stats["affected_buckets"] == 0
    assert t.read().count() == rows_before
    assert t.snapshot().files == files_before


def test_layout_mismatch_is_rejected(spark, tmp_path, logs):
    flat, _, root = logs
    ev = spark.read.parquet(flat)
    wrong = str(tmp_path / "wrong_layout")
    write_bucketed_change_log(ev, wrong, KEYS, N_BUCKETS * 2)
    t = LakeTable.create(spark, str(tmp_path / "b6"), BASE_SCHEMA, KEYS, n_buckets=N_BUCKETS)
    with pytest.raises(ValueError, match="n_buckets"):
        BucketedReplayer(spark, t, wrong)


def test_layout_key_columns_mismatch_is_rejected(spark, tmp_path, logs):
    """Same bucket COUNT but a different bucket FUNCTION (other key columns)
    misplaces rows just as silently — the layout check must catch it."""
    flat, _, _ = logs
    ev = spark.read.parquet(flat)
    wrong = str(tmp_path / "wrong_keys")
    write_bucketed_change_log(ev, wrong, ["repo", "commit"], N_BUCKETS)
    t = LakeTable.create(spark, str(tmp_path / "b7"), BASE_SCHEMA, KEYS, n_buckets=N_BUCKETS)
    with pytest.raises(ValueError, match="key_columns"):
        BucketedReplayer(spark, t, wrong)


def test_statless_file_degrades_only_its_own_bucket(spark, tmp_path, logs):
    """A parquet file without min/max seq stats must widen only ITS bucket's
    footer range — every other bucket keeps exact pruning (previously one
    stat-less file disabled pruning globally)."""
    import os
    import pyarrow.parquet as pq
    from table2qb_spark.cdc.bucketed import _bucket_seq_index

    _, bucketed, _ = logs
    # copy the log, rewriting bucket 0's files WITHOUT statistics
    import shutil

    nostat = str(tmp_path / "nostat")
    shutil.copytree(bucketed, nostat)
    b0 = os.path.join(nostat, "b=0")
    for fn in os.listdir(b0):
        if fn.endswith(".parquet"):
            tbl = pq.read_table(os.path.join(b0, fn))
            pq.write_table(tbl, os.path.join(b0, fn), write_statistics=False)
        elif fn.endswith(".crc"):
            # stale Hadoop checksum sidecars from the copy would fail the read
            os.unlink(os.path.join(b0, fn))

    t = LakeTable.create(spark, str(tmp_path / "b8"), BASE_SCHEMA, KEYS, n_buckets=N_BUCKETS)
    r = BucketedReplayer(spark, t, nostat, batch_events=10_000)
    idx = _bucket_seq_index(nostat, r._event_buckets, "seq")
    assert idx[0] == (-(2**62), 2**62)  # degraded: must assume it spans all
    for b in r._event_buckets:
        if b != 0:
            assert idx[b][0] > -(2**62) and idx[b][1] < 2**62  # exact ranges
    # a seq range beyond every real footer range touches ONLY the degraded
    # bucket — buckets 1..N-1 are still pruned
    assert r.buckets_in_range(90_000_000, 99_000_000) == [0]


def test_status_rate_counts_only_rows_with_events(spark, tmp_path, logs, capsys):
    """cdc-status --metrics: bucketed replay rows carry seconds but no event
    count, so the overall rate sums events and seconds over the rows that
    have both — a bucketed row must not dilute the batch rows' rate."""
    import json
    import os

    from table2qb_spark.main import main

    _, bucketed, _ = logs
    t = LakeTable.create(spark, str(tmp_path / "t"), BASE_SCHEMA, KEYS, n_buckets=N_BUCKETS)
    BucketedReplayer(spark, t, bucketed, batch_events=1000).run(max_batches=1)
    ledger = os.path.join(t.path, "_meta", "metrics.jsonl")
    with open(ledger) as f:
        (bucketed_row,) = [json.loads(x) for x in f if x.strip()]
    assert bucketed_row["mode"] == "bucketed" and "batch_events" not in bucketed_row
    batch_row = {
        "batch": 1, "commit_id": "cdc-00000001", "seq_start": 1000,
        "seq_end": 1999, "batch_events": 600, "upserts": 550, "deletes": 50,
        "buckets_touched": 4, "seconds": 2.0, "events_per_sec": 500.0,
        "lag_events": 0, "dlq_events": 0, "ts": 0.0,
    }
    with open(ledger, "a") as f:
        f.write(json.dumps(batch_row) + "\n")

    assert main(["cdc-status", "--table", t.path, "--metrics"]) == 0
    ingest = json.loads(capsys.readouterr().out)["ingest"]
    assert ingest["batches"] == 2
    assert ingest["events_applied"] == 600
    assert ingest["overall_events_per_sec"] == 300.0
