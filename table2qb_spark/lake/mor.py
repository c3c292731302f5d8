"""MERGE-ON-READ upsert — equality-delete files instead of bucket rewrites.

The copy-on-write merge (lake/merge.py) rewrites every touched bucket's
bytes per batch: write amplification = bucket-size / batch-locality, which
at 100 TB with update-heavy, key-scattered streams means rewriting
gigabytes to apply kilobytes. Merge-on-read inverts the trade (Iceberg v2
equality deletes / Delta deletion-vector territory, re-expressed over this
lake format):

- the batch's winning rows are APPENDED as new data files (O(batch) bytes
  written, whatever they touch);
- each update/delete also lands one row in a per-bucket EQUALITY-DELETE
  file ``(key columns, _below_seq)``: copies of that key with
  ``_seq < _below_seq`` are dead;
- ``LakeTable.read`` masks dead rows with ONE aggregate over the delete set
  (bounded by updates-since-last-compaction, never table size) + one
  equi-join — every consumer (diff, verify, export, compaction, the prep
  composite) reads through the same path, so they are MOR-correct for free;
- ``compact()`` reads the masked state and rewrites buckets copy-on-write,
  which CLEARS their delete files — the steady state is "MOR absorbs the
  write-heavy hours, compaction folds the debt away off-peak".

Semantic deltas vs the COW merge (both documented, both tested):

- **same-seq redelivery resolves by DROP, not overwrite**: the seq guard
  keeps an incoming winner only when ``seq > stored seq``. The merge
  contract makes seq unique per key, so an equal-seq arrival is the same
  event redelivered (identical content) and dropping it yields the same
  state the COW tie-overwrite does.
- **deletes on tombstone-less tables** need no data row at all: the delete
  entry carries ``_below_seq = seq + 1`` so every copy at or below the
  delete's seq is masked, while a later re-insert (higher seq) survives.

Scale/cost shape per batch: one narrow in-batch dedup aggregate; one
COLUMN-PRUNED read of the touched buckets' (keys, _seq) for the cross-batch
seq guard (kilobytes per row read, vs the COW merge reading AND rewriting
full payloads); one bucket-partitioned append write sized by the batch.
Reads then pay the mask join until compaction — the classic MOR contract.

Reference analog: none (table2qb is a whole-file converter); this is the
north rule's CDC surface at the write-amplification limit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from table2qb_spark.cdc.dedup import dedup_max_seq
from table2qb_spark.lake.merge import (
    _output,
    _prepare,
    _result,
    _Stats,
    _stats_aggs,
)
from table2qb_spark.lake.table import LakeTable, key_left_join


def merge_mor(
    table: LakeTable,
    batch_df: DataFrame,
    commit_id: str,
    op_col: str = "op",
    seq_col: str = "seq",
    delete_op: str = "D",
    summary_update: dict | None = None,
    publish: bool = True,
    branch: str | None = None,
) -> dict:
    """Apply one change batch merge-on-read. Same idempotency (commit_id
    skip), concurrency (base_snapshot_id), stats and ``branch`` contract as
    ``merge_upsert``, and the same prepare/stats/output steps
    (``lake/merge.py``); only the winners and the commit are its own.
    Requires a seq-guarded table (``_seq`` column): the read-time mask is
    versioned by sequence number."""
    m = _prepare(
        table, batch_df, commit_id, op_col, seq_col, delete_op, summary_update,
        publish, branch,
    )
    if m is None:
        return {"skipped": True, "commit_id": commit_id}
    if not m.seq_guard:
        raise ValueError(
            "merge-on-read needs a seq-guarded table (_seq column): the "
            "equality-delete mask is versioned by sequence number "
            "(create_stream_table declares it)"
        )

    # touched buckets: the narrow per-bucket stats pass (bounded by n_buckets)
    touched = _Stats.of(m, by_bucket=True).buckets
    if not touched:
        # empty batch still commits (exactly-once marker for the range)
        table.commit_appends(
            commit_id, [], {}, {}, summary_update,
            base_snapshot_id=m.snap.snapshot_id, publish=publish,
            branch=branch,
        )
        return _result(m, 0, _Stats([]), "mor")

    winners = dedup_max_seq(
        m.batch.drop("__pri"), m.keys, seq_col="__seq"
    ).withColumn("__bucket", m.bucket())
    # cross-batch seq guard: current per-key max LIVE seq in the touched
    # buckets — a column-pruned (keys + _seq) masked read, never the payload
    cur_max = (
        m.read(touched)
        .select(*m.keys, F.col("_seq").alias("__cur_seq"))
        .groupBy(*m.keys)
        .agg(F.max("__cur_seq").alias("__cur_seq"))
    )
    kept = (
        key_left_join(winners, cur_max, m.keys)
        .where(F.col("__cur_seq").isNull() | (F.col("__seq") > F.col("__cur_seq")))
        .persist()  # three consumers below: counts, data write, delete write
    )
    try:
        got = kept.agg(
            *_stats_aggs(delete_op),
            F.sum(F.col("__cur_seq").isNotNull().cast("int")).alias("existed"),
        ).collect()[0]
        stats = _Stats([got])
        new_files = (
            table.write_data_files(_output(m, kept), m.hint) if stats.n else {}
        )

        # equality-delete entries: one per kept winner whose key EXISTED
        # (each masks exactly one then-live copy — the row-count invariant).
        # Tombstone-less deletes mask their own seq too (no data row lands).
        dels = kept.where(F.col("__cur_seq").isNotNull()).select(
            *m.keys,
            (
                F.col("__seq")
                + (
                    F.lit(0)
                    if m.tombstones
                    else F.when(F.col("__op") == delete_op, 1).otherwise(0)
                )
            ).alias("_below_seq"),
            "__bucket",
        )
        new_deletes = table.write_delete_files(dels, m.hint) if stats.n else {}

        su = dict(summary_update or {})
        su.setdefault("max_seq", stats.max_seq)
        table.commit_appends(
            commit_id,
            touched,
            new_files,
            new_deletes,
            su,
            base_snapshot_id=m.snap.snapshot_id,
            publish=publish,
            branch=branch,
        )
    finally:
        kept.unpersist()
    return _result(m, len(touched), stats, "mor", updates=int(got["existed"] or 0))
