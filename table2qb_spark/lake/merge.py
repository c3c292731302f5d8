"""MERGE upsert into a LakeTable — the CDC apply primitive.

Semantics (north rule): key-partitioned MERGE on the table's key columns with
insert/update/delete ops —

    MERGE INTO t USING batch ON t.key = batch.key
      WHEN MATCHED AND batch.op = 'D' THEN DELETE
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED AND batch.op != 'D' THEN INSERT *

Physical design — **union-aggregate merge**: instead of (dedup-shuffle the
batch) + (key-shuffle both join sides) + (bucket repartition), the current
rows are unioned UNDER the batch at an always-losing sequence number
(``-1``, or their stored ``_seq`` for seq-guarded tables) and one
``groupBy(key).agg(max(struct(seq, op, ...)))`` picks the winner per key:

    winner(key) = max over {current row @ seq=-1} ∪ {batch events @ seq}

This folds in-batch dedup AND the merge join into ONE hash aggregate with
map-side partial aggregation (hot keys combine locally before the exchange),
so the whole merge is: scan -> one key-hash shuffle -> one bucket
repartition -> write. Winners with op='D' are dropped (or tombstoned when
the table has a ``_deleted`` column).

**One pipeline.** Every merge here and in ``lake/mor.py`` runs the same
steps; only the winner step differs per case:

1. prepare (``_prepare``): commit-id skip, the snapshot or branch head, the
   key/value/``_seq``/``_deleted`` columns, the missing-column check and the
   cast of the batch to the table's declared types;
2. batch stats (``_Stats``): count, deletes and ``max(__seq)`` — per bucket
   when the touched set is needed, by an explicit pass, or riding the
   merge's own write via ``pyspark.sql.Observation`` (no extra pass; but
   Observations never fire inside streaming foreachBatch, so
   ``force_stats_pass`` takes the explicit pass);
3. winners — the case's own step, below;
4. output columns (``_output``): keep ``_seq``, tombstone deletes or drop
   them;
5. write + commit (``_commit``): fill in emptied buckets, record
   ``max_seq``, ``commit_files``, the returned stats dict.

Winner steps (the ``strategy`` in the returned stats) and where each is
selected:

- **late-materialization** (``merge_upsert``: empty table, no
  ``two_phase_dedup``, size hint at most ``LATE_MAT_MAX_EVENTS``): a narrow
  (keys, seq, op) phase picks each key's winning seq — content bytes are
  never read — then the winning seqs broadcast back against the full scan
  so only winner rows carry payload through the bucket exchange. ~2x the
  single-pass throughput at every core count (BENCH.md).
- **single-pass** (``merge_upsert``: non-empty table, or
  ``two_phase_dedup`` on an empty one; batch not small vs the table; CDF
  off): one bucket exchange and a bucket-partitioned window winner
  (``key_group_last``, shared with ``cdc/bucketed.py``), in ONE Spark
  action with the stats observed.
- **pruned** (``merge_upsert``: batch below ``PRUNE_THRESHOLD`` of the
  table's rows, by size hint or by the explicit stats pass): steady-state
  CDC. The per-bucket stats pass finds the touched buckets; only those
  buckets' files are read and rewritten (copy-on-write), through the hash
  aggregate. At 100 TB this is the default — batch cost scales with batch
  locality, not table size.
- **agg-cdf** (``merge_upsert``: ``cdf.enabled`` table, batch not small):
  the same aggregate over every bucket, keeping the before image for the
  change feed.
- **patch** / **patch-pruned** (``merge_patch``): the ``cdc/patch.py``
  fold, pruned by the same rule.
- **mor** (``lake/mor.py::merge_mor``): in-batch dedup plus a seq-guard
  join, with its own append-plus-equality-delete commit.

Session-state caveat (Spark 4.1): the first ``Observation`` use materializes
``SparkSession.observationManager`` (a lazy val, NOT java-Serializable).
Harmless for DataFrame jobs, but an MLlib model whose ``trainingSummary``
holds the session (e.g. ``LogisticRegressionModel.transform``) will then fail
Task-not-serializable in the same session. Workaround for ML-after-merge
callers: save/load the model (drops the summary) before ``transform`` — our
own fit path (``ops/classifier.py``) only lifts coefficients, so it is immune.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from table2qb_spark.cdc.dedup import dedup_max_seq
from table2qb_spark.lake.table import LakeTable, Snapshot, key_bucket_expr

# Batches larger than this fraction of the table's rows skip the pruning
# pre-pass (they would touch ~every bucket anyway).
PRUNE_THRESHOLD = 0.2
# Late materialization broadcasts one winning seq per distinct key: at an
# initial load of HUNDREDS of millions of keys that exceeds Spark's broadcast
# limits (512M rows / 8 GB) and the driver's memory, so batches hinted
# larger than this fall back to the single-pass shuffle (or, better, the
# bucketed zero-broadcast layout in cdc/bucketed.py).
LATE_MAT_MAX_EVENTS = 100_000_000


# ----- the shared pipeline ---------------------------------------------------


@dataclass
class _Merge:
    """One merge's prepared inputs (see ``_prepare``)."""

    table: LakeTable
    snap: Snapshot
    commit_id: str
    keys: list[str]
    data_cols: list[str]
    value_cols: list[str]
    delete_op: str
    batch: DataFrame  # keys, __seq, __pri, __op, values — declared types
    summary_update: dict | None
    publish: bool
    branch: str | None
    t0: float

    # seq-guarded tables carry ``_seq`` (stored per-row sequence): an incoming
    # row wins only when its seq >= the stored one — out-of-order delivery
    # ACROSS batches is safe. ``_deleted`` adds tombstones (logical deletes)
    # so a late lower-seq update cannot resurrect a deleted key. The batch
    # replayer needs neither (its seq ranges are totally ordered); the
    # streaming path uses both. Read converged state via read_live().
    @property
    def seq_guard(self) -> bool:
        return "_seq" in self.data_cols

    @property
    def tombstones(self) -> bool:
        return "_deleted" in self.data_cols

    @property
    def table_rows(self) -> int:
        return int(self.snap.summary.get("row_count", 0) or 0)

    @property
    def hint(self) -> str:
        return f"{self.snap.snapshot_id + 1:08d}"

    def bucket(self) -> Column:
        return key_bucket_expr(self.keys, self.snap.n_buckets)

    def read(self, buckets: list[int] | None = None) -> DataFrame:
        """The state the merge builds on: main, or the branch head."""
        return self.table.read(
            snapshot_id=None if self.branch is None else self.snap.snapshot_id,
            buckets=buckets,
        )


def _prepare(
    table: LakeTable,
    batch_df: DataFrame,
    commit_id: str,
    op_col: str,
    seq_col: str,
    delete_op: str,
    summary_update: dict | None,
    publish: bool,
    branch: str | None = None,
) -> _Merge | None:
    """None when ``commit_id`` is already applied (on main, or on
    ``branch``): the idempotent skip every merge starts with."""
    if table.has_commit(commit_id) or (
        branch is not None and table._branch_has_commit(branch, commit_id)
    ):
        return None

    t0 = time.time()
    snap = (
        table.snapshot(table.branch_head(branch))
        if branch is not None
        else table.snapshot()
    )
    keys = snap.key_columns
    decl = {c["name"]: c["type"] for c in snap.current_schema()}
    value_cols = [
        c for c in decl if c not in keys and c not in ("_seq", "_deleted")
    ]
    required = list(dict.fromkeys(keys + value_cols + [op_col, seq_col]))
    missing = [c for c in required if c not in batch_df.columns]
    if missing:
        raise ValueError(f"Batch is missing columns {missing}")
    # Align batch columns to the table's DECLARED types at ingest (a batch
    # built from inferred-schema sources arrives as e.g. bigint where the
    # table declares int; writing it verbatim plants parquet files whose
    # physical type contradicts the table schema — every later read fails
    # with PARQUET_COLUMN_DATA_TYPE_MISMATCH). Cast is a no-op when types
    # already match; under ANSI mode (Spark 4 default) a narrowing overflow
    # fails THIS write loudly instead of corrupting the table.
    batch = batch_df.select(
        *[F.col(k).cast(decl[k]).alias(k) for k in keys],
        F.col(seq_col).cast("long").alias("__seq"),
        F.lit(1).alias("__pri"),  # seq ties: batch beats stored (_contest)
        F.col(op_col).alias("__op"),
        *[F.col(c).cast(decl[c]).alias(c) for c in value_cols],
    )
    return _Merge(
        table, snap, commit_id, keys, list(decl), value_cols, delete_op,
        batch, summary_update, publish, branch, t0,
    )


def _stats_aggs(delete_op: str) -> list[Column]:
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("__op") == delete_op, 1).otherwise(0)).alias("dels"),
        F.max("__seq").alias("max_seq"),
    ]


class _Stats:
    """Batch count, deletes and max seq, summed over aggregate rows (one
    row, or one per touched bucket when ``buckets`` is set)."""

    def __init__(self, rows, buckets: list[int] | None = None):
        self.n = sum(int(r["n"] or 0) for r in rows)
        self.dels = sum(int(r["dels"] or 0) for r in rows)
        # a bucket whose events all have null seq yields max_seq=None
        self.max_seq = max(
            (r["max_seq"] for r in rows if r["max_seq"] is not None),
            default=None,
        )
        self.buckets = buckets

    @classmethod
    def of(cls, m: _Merge, by_bucket: bool = False) -> "_Stats":
        """The explicit pre-pass: narrow (Catalyst prunes the scan to keys,
        seq and op), per bucket when the touched set is needed."""
        if not by_bucket:
            return cls(m.batch.agg(*_stats_aggs(m.delete_op)).collect())
        rows = (
            m.batch.groupBy(m.bucket().alias("__bucket"))
            .agg(*_stats_aggs(m.delete_op))
            .collect()
        )
        return cls(rows, sorted(r["__bucket"] for r in rows))


def _observe(m: _Merge, df: DataFrame) -> tuple[DataFrame, Observation]:
    """The stats riding along ``df``'s next action (no extra pass)."""
    observation = Observation(f"merge-{m.commit_id}")
    return df.observe(observation, *_stats_aggs(m.delete_op)), observation


def _contest(m: _Merge, current: DataFrame, live_op: str) -> DataFrame:
    """Current rows unioned under the batch. They enter the contest below
    every batch event: at their stored _seq (guarded tables) or at -1 (seq
    ranges are totally ordered, any batch event is newer), and at
    ``__pri`` 0 so an incoming event whose seq EQUALS the stored row's
    _seq deterministically wins (including deletes — 'D' would otherwise
    lose a lexicographic tie to 'U'). Tombstoned rows re-enter as deletes
    so they keep winning over nothing and stay tombstones; live rows enter
    as ``live_op``."""
    cur_seq = F.col("_seq") if m.seq_guard else F.lit(-1).cast("long")
    cur_op = (
        F.when(
            F.coalesce(F.col("_deleted"), F.lit(False)), F.lit(m.delete_op)
        ).otherwise(F.lit(live_op))
        if m.tombstones
        else F.lit(live_op)
    )
    return current.select(
        *m.keys,
        cur_seq.alias("__seq"),
        F.lit(0).alias("__pri"),
        cur_op.alias("__op"),
        *[F.col(c) for c in m.value_cols],
    ).unionByName(m.batch)


def key_group_last(keys: list[str], partition_by: str | None = None) -> Column:
    """True on the last row of each key group under (keys, __seq, __pri)
    order — the window winner. Ordering stops at (__seq, __pri): equal
    (key, seq) beyond __pri is an exact duplicate delivery (seq unique per
    key), and content-bearing payload structs as sort keys measured 2x
    slower; scalar per-key leads likewise beat a struct lead.

    Null-safe group-end detection: lead(lit(1)) is NULL only at the
    partition's last row (lead(key).isNull() would also fire mid-stream
    when the NEXT key is genuinely NULL), and eqNullSafe treats NULL keys
    as a real group — lead(k) != k evaluates to NULL for them, silently
    keeping/dropping whole NULL-key groups."""
    order = [*(F.col(k) for k in keys), F.col("__seq"), F.col("__pri")]
    w = (Window.partitionBy(partition_by) if partition_by else Window).orderBy(
        *order
    )
    last = F.lead(F.lit(1)).over(w).isNull()
    for k in keys:
        last = last | ~F.lead(F.col(k)).over(w).eqNullSafe(F.col(k))
    return last


def _window_winners(m: _Merge, df: DataFrame) -> DataFrame:
    """ONE wide shuffle total. The bucket is a pure function of the keys, so
    repartitioning by __bucket co-locates every key's rows; a
    bucket-partitioned window then takes the max row per key with NO
    further exchange (the window's required clustering is already
    satisfied), and the output is bucket-aligned so the write needs no
    second repartition either. vs the aggregate form this halves shuffled
    bytes — the scarce resource when 4N cores share one memory system — and
    skips the hash table (mostly-distinct keys make partial aggregation
    pure overhead on big batches)."""
    bucketed = df.withColumn("__bucket", m.bucket()).repartition(
        m.snap.n_buckets, F.col("__bucket")
    )
    return bucketed.withColumn(
        "__last", key_group_last(m.keys, "__bucket")
    ).where(F.col("__last"))


def _output(m: _Merge, winners: DataFrame) -> DataFrame:
    """Winners (keys, __seq, __op, values) as table rows plus ``__bucket``:
    ``_seq`` kept on guarded tables, delete winners tombstoned or dropped."""
    cols = list(m.keys) + m.value_cols
    if m.seq_guard:
        winners = winners.withColumn("_seq", F.col("__seq"))
        cols.append("_seq")
    if m.tombstones:
        winners = winners.withColumn("_deleted", F.col("__op") == m.delete_op)
        cols.append("_deleted")
    else:
        winners = winners.where(F.col("__op") != m.delete_op)
    if "__bucket" in winners.columns:
        return winners.select(*cols, "__bucket")
    return winners.select(*cols).withColumn("__bucket", m.bucket())


def _result(
    m: _Merge, n_affected: int, stats: _Stats, strategy: str, **extra
) -> dict:
    return {
        "skipped": False,
        "commit_id": m.commit_id,
        "affected_buckets": n_affected,
        "upserts": stats.n - stats.dels,
        "deletes": stats.dels,
        **extra,
        "strategy": strategy,
        "seconds": time.time() - m.t0,
    }


def _commit(
    m: _Merge,
    merged: DataFrame | None,
    stats: _Stats | Observation,
    strategy: str,
    affected: list[int] | None = None,
    repartition: bool = True,
    summary_extra: dict | None = None,
) -> dict:
    """Write ``merged`` (already bucket-aligned unless ``repartition``) and
    commit it copy-on-write over ``affected`` — by default every bucket
    that held files. ``merged=None`` commits the exactly-once marker alone
    (a batch that touches no bucket)."""
    new_files = (
        {} if merged is None
        else m.table.write_data_files(
            merged, snapshot_hint=m.hint, repartition=repartition
        )
    )
    if isinstance(stats, Observation):  # filled in by the write's action
        stats = _Stats([stats.get])
    if affected is None:
        affected = sorted(set(new_files) | {int(b) for b in m.snap.files})
    # buckets that lost all rows still count as replaced (their old files go)
    for b in affected:
        new_files.setdefault(b, [])
    su = {**(m.summary_update or {}), **(summary_extra or {})}
    if merged is not None:
        su.setdefault("max_seq", stats.max_seq)
    m.table.commit_files(
        m.commit_id, affected, new_files, su,
        base_snapshot_id=m.snap.snapshot_id, publish=m.publish,
        branch=m.branch,
    )
    return _result(m, len(affected), stats, strategy)


# ----- winner steps ------------------------------------------------------------


def _cdf_changes(
    agged, keys: list[str], data_cols: list[str], value_cols: list[str],
    tombstones: bool, delete_op: str,
):
    """Change-feed rows derived from the SAME aggregate that decides the
    merge winners (``__p`` = winning payload, ``__b`` = the current row's
    payload or NULL): op/before/after exactly as the post-hoc snapshot
    diff would classify them, at zero extra table reads. Keys the batch
    did not win (untouched rows, stale seq-guarded events) emit nothing.
    See lake/cdf.py for the full capture/read contract."""
    p_won = F.col("__p.__pri") == 1

    def image(src: str):
        fields = []
        for c in data_cols:
            if c in keys:
                fields.append(F.col(c).alias(c))
            elif c == "_seq":
                fields.append(F.col(f"{src}.__seq").alias("_seq"))
            elif c == "_deleted":
                fields.append(
                    (F.col(f"{src}.__op") == delete_op).alias("_deleted")
                )
            else:
                fields.append(F.col(f"{src}.{c}").alias(c))
        return F.struct(*fields)

    before = F.when(F.col("__b").isNotNull(), image("__b"))
    if tombstones:
        # tombstone tables keep a physical row for deletes: the feed mirrors
        # the physical model (what read() and therefore the diff see)
        after = image("__p")
        op = F.when(F.col("__b").isNull(), F.lit("c")).otherwise(F.lit("u"))
    else:
        after_live = F.col("__p.__op") != delete_op
        after = F.when(after_live, image("__p"))
        op = (
            F.when(after_live & F.col("__b").isNull(), F.lit("c"))
            .when(after_live, F.lit("u"))
            .when(F.col("__b").isNotNull(), F.lit("d"))
        )
    return (
        agged.where(p_won)
        .select(op.alias("op"), *keys, before.alias("before"),
                after.alias("after"))
        .where(F.col("op").isNotNull())
    )


def _late_materialization(m: _Merge, force_stats_pass: bool) -> dict:
    """Backfill/initial-replay fast path (empty table, plain batch). The
    wide exchange is the DRAM-bandwidth bottleneck at high core counts, and
    most of its bytes are payload columns (content) for rows that LOSE the
    merge. Phase 1 shuffles only (keys, seq, op) — an order-of-magnitude
    narrower row — to pick each key's winning seq; phase 2 broadcast-joins
    the winning seqs back against the batch scan, so only winner rows
    (1/dup-factor of the batch) carry their payload through the bucket
    exchange. Duplicate deliveries of a winning seq both pass the join; the
    bucket window keeps exactly one.

    seq values need only be unique PER KEY (the merge contract): a foreign
    key's event sharing a winning seq value passes the join too, but the
    bucket window re-picks the max per key among fetched rows. Delete
    winners MUST be fetched too (not pre-filtered out of the broadcast): a
    key's winning seq is its MAX seq, so with every winner seq present the
    window's per-key max is always the true winner, and the output step
    drops the delete-winner keys. Excluding delete winners instead would
    resurrect a deleted key whose lower-seq update collides with another
    key's winning seq.

    Seq-guarded/tombstone tables qualify too when EMPTY: with no current
    rows the guard reduces to in-batch max-seq-wins, and delete winners
    become tombstone rows instead of being dropped — so the streaming
    path's initial backfill (force_stats_pass, empty table) also takes this
    path, with the explicit narrow stats pass standing in for the
    Observation."""
    narrow = m.batch.select(*m.keys, "__seq", "__op")
    if force_stats_pass:
        stats = _Stats.of(m)
    else:
        narrow, stats = _observe(m, narrow)
    # NO distinct on the build side: two keys sharing a winning seq value
    # put two wseq=s rows in the build relation, so probe rows with that
    # seq match twice — but the duplicates are IDENTICAL rows and the
    # bucket window's last-row detection keeps exactly one (same as
    # duplicate deliveries). Cross-key collisions are rare, while a
    # distinct costs a whole extra shuffle + stage on the critical path.
    win_seqs = narrow.groupBy(*m.keys).agg(F.max("__seq").alias("__wseq")).select(
        "__wseq"
    )
    fetched = m.batch.join(
        F.broadcast(win_seqs), m.batch["__seq"] == F.col("__wseq"), "inner"
    ).drop("__wseq")
    return _commit(
        m, _output(m, _window_winners(m, fetched)), stats,
        "late-materialization", repartition=False,
    )


def merge_patch(
    table: LakeTable,
    batch_df: DataFrame,
    commit_id: str,
    op_col: str = "op",
    seq_col: str = "seq",
    summary_update: dict | None = None,
    publish: bool = True,
) -> dict:
    """Apply one change batch under PARTIAL-UPDATE semantics (the
    ``cdc/patch.py`` merge engine, wired to the lake): a ``U`` payload's
    null column means "leave the stored value", an ``I`` replaces the whole
    row (its nulls are real), a final ``D`` removes the key, and a
    post-delete ``U`` revives onto an empty row. For full-row-image streams
    use :func:`merge_upsert` — this engine exists for MySQL
    ``binlog_row_image=MINIMAL`` / Mongo ``$set``-shaped logs where
    last-row-wins would null every untouched column. Ops are the engine
    vocabulary I/U/D (the patch algebra's boundary logic is defined on it).

    Physical shape mirrors the upsert merge's union-aggregate design:
    current rows union UNDER the batch as row images — live rows as ``I``,
    tombstones as ``D``, at seq ``-1`` (their stored ``_seq`` on
    seq-guarded tables) — then ONE map-side-combined ``groupBy(key)``
    (``cdc.patch.patch_fold``) folds merge + in-batch patch resolution,
    then the bucket repartition for the write — scan, one key shuffle, one
    bucket shuffle. Steady-state batches prune to touched buckets exactly
    like ``merge_upsert`` (same narrow stats pre-pass, same
    ``PRUNE_THRESHOLD``). Idempotent via commit manifests; exactly-once
    replay composes because ``patch_merge``'s base-as-insert algebra IS
    this union (tests prove resume == one-shot).

    Seq-guard/tombstone semantics come FREE from the algebra: a tombstone
    re-enters as a ``D`` row image at its stored ``_seq``, so it shadows
    every older (late/redelivered) event and stays a physical ``_deleted``
    row unless a NEWER event revives the key — on tombstone tables dead
    keys are kept as null-payload tombstone rows (what the seq-guarded
    ``read_live`` contract expects) instead of dropped.

    Late-event contract (authoritative-state-wins, the same as the
    seq-guarded upsert merge): an event below the stored row image's seq is
    superseded WHOLESALE — in particular a late ``I`` does NOT back-fill
    columns the folded state never set (the fold cannot distinguish
    "never patched" from "explicitly null"). Total-order patch semantics
    require in-order delivery across batches, which the batch replayer's
    disjoint ascending seq ranges guarantee; within a batch any order is
    fine (the fold is order-free).

    Change-data-feed note: the patch engine does NOT capture a CDF feed on
    ``cdf.enabled`` tables (no ``cdf_sid`` marker is set) — readers fall
    back to the snapshot diff, which is correct for these COW rewrites
    (see ``lake/cdf.py``'s not-captured list).
    """
    m = _prepare(
        table, batch_df, commit_id, op_col, seq_col, "D", summary_update,
        publish,
    )
    if m is None:
        return {"skipped": True, "commit_id": commit_id}

    # Narrow stats pre-pass (keys/op/seq only — Catalyst prunes the scan):
    # touched buckets + event counts in one tiny aggregate, same shape the
    # upsert merge uses for its pruned strategy.
    stats = _Stats.of(m, by_bucket=True)
    use_pruning = m.table_rows > 0 and stats.n < PRUNE_THRESHOLD * m.table_rows
    if not stats.buckets:
        return _commit(m, None, stats, "patch-pruned", affected=[])

    from table2qb_spark.cdc.patch import patch_fold, resolve_patch_col

    # stored state re-enters as its own row image: live rows are
    # authoritative inserts, tombstones are deletes at their guard seq
    both = _contest(m, m.read(stats.buckets if use_pruning else None), "I")
    folded = patch_fold(
        both, m.keys, seq_col="__seq", op_col="__op", value_cols=m.value_cols
    )
    # dead keys on tombstone tables stay as physical tombstone rows (null
    # payload — no candidate survives the final D boundary by construction)
    winners = folded.select(
        *m.keys,
        F.col("__last.s").alias("__seq"),
        F.col("__last.o").alias("__op"),
        *[resolve_patch_col(c) for c in m.value_cols],
    )
    return _commit(
        m, _output(m, winners), stats,
        "patch-pruned" if use_pruning else "patch",
        affected=stats.buckets if use_pruning else None,
    )


def merge_upsert(
    table: LakeTable,
    batch_df: DataFrame,
    commit_id: str,
    op_col: str = "op",
    seq_col: str = "seq",
    delete_op: str = "D",
    two_phase_dedup: bool = False,
    summary_update: dict | None = None,
    batch_size_hint: int | None = None,
    force_stats_pass: bool = False,
    publish: bool = True,
    branch: str | None = None,
) -> dict:
    """Apply one change batch. Returns merge stats. Idempotent: a commit_id
    already present in the snapshot history is skipped outright.

    ``publish=False`` STAGES the commit (write-audit-publish): the snapshot
    header + manifests are written but VERSION never moves and no commit
    marker lands — audit via ``read(snapshot_id=...)``, then
    ``table.publish_snapshot`` / ``table.discard_snapshot``.
    ``batch_size_hint``: approximate event count (e.g. the seq-range width) —
    picks pruned vs single-pass without counting the batch.
    ``force_stats_pass``: always run the explicit stats pre-pass (required
    inside streaming foreachBatch, where Observation metrics never fire).
    ``branch``: merge onto that branch's head (reads the BRANCH state, not
    main) and stage the result as a branch-owned snapshot — the audit-branch
    workflow; ``table.fast_forward`` publishes the chain."""
    m = _prepare(
        table, batch_df, commit_id, op_col, seq_col, delete_op, summary_update,
        publish, branch,
    )
    if m is None:
        return {"skipped": True, "commit_id": commit_id}
    if two_phase_dedup:
        # explicit salted pre-combine for single-key bursts, then the main agg
        m.batch = dedup_max_seq(m.batch, m.keys, seq_col="__seq", two_phase=True)

    if m.table_rows == 0 and not two_phase_dedup and (
        batch_size_hint is None or batch_size_hint <= LATE_MAT_MAX_EVENTS
    ):
        return _late_materialization(m, force_stats_pass)

    # Change-data-feed capture (lake/cdf.py, opt-in table property): the
    # winner aggregate below also keeps the current row's payload per key,
    # so before/after images cost zero extra table reads; the aggregate is
    # persisted once and both the feed and the data files derive from it.
    # Late-materialization backfills skip capture (the feed would force a
    # second pass over the whole batch) — readers fall back to the diff.
    # Branch commits skip it too: the feed's cdf_sid contract names the
    # CHILD snapshot id, which on a branch is a free slot unknown until the
    # header lands — consumers of a fast-forwarded chain fall back to the
    # (composing) snapshot diff for those steps.
    from table2qb_spark.lake.cdf import cdf_enabled, write_change_feed

    cdf_on = cdf_enabled(m.snap) and branch is None

    # Stats and strategy are DECOUPLED (round 4): force_stats_pass (inside
    # streaming foreachBatch, where Observation metrics never fire) forces
    # an explicit narrow stats pre-pass — NOT the pruned strategy. The old
    # coupling forced the two-shuffle aggregate path onto backlog-sized
    # triggers where the one-shuffle window merge is right (measured +2.4s
    # on a 1M-event incremental trigger). The pre-pass itself costs ~0.3s:
    # Catalyst prunes its scan to (keys, seq, op) only. A bonus: the TRUE
    # batch size from the pass now picks the strategy — streaming triggers
    # carry no batch_size_hint, so they previously could never prune.
    stats = _Stats.of(m, by_bucket=True) if force_stats_pass else None
    n_batch = batch_size_hint if stats is None else stats.n
    use_pruning = (
        m.table_rows > 0
        and n_batch is not None
        and n_batch < PRUNE_THRESHOLD * m.table_rows
    )
    if use_pruning:
        if stats is None:
            stats = _Stats.of(m, by_bucket=True)
        if not stats.buckets:
            return _commit(
                m, None, stats, "pruned", affected=[],
                # captured-and-empty: readers skip, never diff
                summary_extra=(
                    {"cdf_rows": 0, "cdf_sid": m.snap.snapshot_id + 1}
                    if cdf_on else None
                ),
            )
        current = m.read(stats.buckets)
    else:
        if stats is None:
            m.batch, stats = _observe(m, m.batch)
        current = m.read()
    both = _contest(m, current, "U")

    if not (use_pruning or cdf_on):
        return _commit(
            m, _output(m, _window_winners(m, both)), stats, "single-pass",
            repartition=False,
        )

    # pruned/steady-state: small dup-heavy batches benefit from map-side
    # partial aggregation (ONE hash aggregate = in-batch dedup + merge
    # decision), then a bucket repartition for the write. With CDF on, a
    # second per-key struct keeps the CURRENT row's payload — the before
    # image — and the aggregate is persisted so the feed write and the data
    # write are two cheap reads of one computation. __pri sits right after
    # __seq in the payload so seq ties resolve as in _contest.
    payload = F.struct(
        F.col("__seq"), F.col("__pri"), F.col("__op"),
        *[F.col(c) for c in m.value_cols],
    )
    agg_cols = [F.max(payload).alias("__p")]
    if cdf_on:
        agg_cols.append(F.max(F.when(F.col("__pri") == 0, payload)).alias("__b"))
    agged = both.groupBy(*m.keys).agg(*agg_cols)
    summary_extra = None
    if cdf_on:
        agged = agged.persist()
        changes = _cdf_changes(
            agged, m.keys, m.data_cols, m.value_cols, m.tombstones, m.delete_op
        )
        rel, n_changes = write_change_feed(m.table, changes, m.hint)
        summary_extra = {"cdf_dir": rel, "cdf_rows": n_changes,
                         "cdf_sid": m.snap.snapshot_id + 1}
    winners = agged.select(
        *m.keys,
        F.col("__p.__seq").alias("__seq"),
        F.col("__p.__op").alias("__op"),
        *[F.col(f"__p.{c}").alias(c) for c in m.value_cols],
    )
    try:
        return _commit(
            m, _output(m, winners), stats,
            "pruned" if use_pruning else "agg-cdf",
            affected=stats.buckets if use_pruning else None,
            summary_extra=summary_extra,
        )
    finally:
        if cdf_on:
            agged.unpersist()
