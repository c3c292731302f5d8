"""CDC replay engine: ordered change-log tail -> lake MERGE upserts.

The replayer consumes the change log in **sequence-number ranges** (not file
order — delivery order is irrelevant, seq is authoritative; events inside a
range are deduped max-seq-wins, ranges are disjoint so cross-range ordering
is total). Each range becomes one MERGE commit with:

- commit_id = ``cdc-{batch_index:08d}`` — the idempotent commit manifest:
  replaying from ANY earlier checkpoint re-issues commits that the snapshot
  chain already contains and they are skipped, so the final state converges
  (north-rule exactly-once).
- a checkpoint record in the snapshot summary (last_batch, max_seq) — resume
  reads the current snapshot and continues from the next range;
- a metrics row (events, upserts, deletes, buckets touched, seconds,
  events/sec, lag) appended to ``_meta/metrics.jsonl`` — per-batch
  throughput/lag observability.

Batch-loop vs Structured Streaming: the loop IS ``foreachBatch`` semantics
with deterministic batch boundaries (seq ranges instead of arrival time),
which is what makes replay reproducible. A readStream front-end wrapping the
same ``apply_batch`` lives in table2qb_spark.cdc.streaming.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from table2qb_spark.cdc.schema_evolution import reconcile_and_flatten
from table2qb_spark.lake.merge import merge_patch, merge_upsert
from table2qb_spark.lake.mor import merge_mor
from table2qb_spark.lake.table import LakeTable


def _leaf_column_index(md, name: str) -> int:
    """Index of a TOP-LEVEL column among the parquet file's FLATTENED leaf
    columns (row-group statistics are leaf-indexed: an Arrow field index is
    wrong as soon as any struct column precedes the target)."""
    for i in range(md.num_columns):
        if md.schema.column(i).path == name:
            return i
    return -1


def malformed_reason_expr(
    op_col: str,
    seq_col: str,
    key_cols: list[str],
    valid_ops: tuple[str, ...] = ("I", "U", "D"),
):
    """Null iff the event is well-formed; else the first failing check
    ('null_seq' | 'bad_op' | 'null_key:<col>'). Shared by the batch
    replayer's DLQ and the streaming front-end so both ingest paths
    quarantine by identical rules."""
    reason = F.when(F.col(seq_col).isNull(), F.lit("null_seq")).when(
        F.col(op_col).isNull() | ~F.col(op_col).isin(*valid_ops),
        F.lit("bad_op"),
    )
    for k in key_cols:
        reason = reason.when(F.col(k).isNull(), F.lit(f"null_key:{k}"))
    return reason


def merge_for(merge_engine: str = "upsert", merge_on_read: bool = False):
    """The merge an ingest front-end applies, validated before any I/O so a
    bad combination fails fast. "upsert" = full-row-image last-writer-wins
    (``merge_upsert``, or ``merge_mor``'s appends + equality deletes with
    ``merge_on_read``); "patch" = partial-update per-column
    last-non-null-wins (``merge_patch``) for MINIMAL-row-image /
    $set-shaped logs. Patch applies per-bucket COW rewrites, so it composes
    with staging but not with merge-on-read (equality deletes mask whole
    superseded ROWS — a partial payload has no full row to append).

    Returns ``merge(table, batch, commit_id, *, op_col, seq_col,
    summary_update, publish=True, **upsert_options)``; the upsert-only
    options (size hint, two-phase dedup, forced stats pass) are dropped
    for patch and MOR, whose stats passes are explicit already."""
    if merge_engine not in ("upsert", "patch"):
        raise ValueError(f"Unknown merge_engine {merge_engine!r}")
    if merge_engine == "patch" and merge_on_read:
        raise ValueError("merge_engine='patch' requires copy-on-write "
                         "(merge-on-read appends full row images)")
    if merge_engine == "upsert" and not merge_on_read:
        return merge_upsert
    engine = merge_mor if merge_on_read else merge_patch

    def merge(table, batch, commit_id, *, op_col, seq_col, summary_update,
              publish=True, **_upsert_options):
        return engine(table, batch, commit_id, op_col=op_col, seq_col=seq_col,
                      summary_update=summary_update, publish=publish)

    return merge


def record_metrics(
    table: LakeTable,
    batch: int,
    commit_id: str,
    t0: float,
    stats: dict,
    counts: bool = True,
    source: str | None = None,
    seq_range: tuple[int, int] | None = None,
    lag_events: int | None = None,
    **tail,
) -> dict:
    """Append one ingest front-end's per-batch metrics row to the table's
    ``_meta/metrics.jsonl`` (read by ``cdc-status --metrics``) and return
    it. ``stats`` is the merge's result; ``counts`` adds its event counts;
    events/sec is over the seq range when one is given, else over the
    applied events; ``tail`` fields close the row."""
    elapsed = time.time() - t0
    n_events = int(stats.get("upserts", 0) or 0) + int(stats.get("deletes", 0) or 0)
    row: dict = {"batch": batch, "commit_id": commit_id}
    if source is not None:
        row["source"] = source
    if seq_range is not None:
        row["seq_start"], row["seq_end"] = seq_range
    if counts:
        row["batch_events"] = n_events
        row["upserts"] = stats.get("upserts", 0)
        row["deletes"] = stats.get("deletes", 0)
    row["buckets_touched"] = stats.get("affected_buckets", 0)
    row["seconds"] = round(elapsed, 3)
    rated = n_events if seq_range is None else seq_range[1] - seq_range[0] + 1
    row["events_per_sec"] = round(rated / elapsed, 1) if elapsed else None
    if lag_events is not None:
        row["lag_events"] = lag_events
    row.update(tail)
    with open(os.path.join(table.path, "_meta", "metrics.jsonl"), "a",
              encoding="utf-8") as f:
        f.write(json.dumps(row) + "\n")
    return row


@dataclass
class BatchResult:
    batch_index: int
    commit_id: str
    events: int
    skipped: bool
    stats: dict


class ChangeLogReplayer:
    def __init__(
        self,
        spark: SparkSession,
        table: LakeTable,
        events: DataFrame | str,
        seq_col: str = "seq",
        op_col: str = "op",
        batch_events: int = 1_000_000,
        two_phase_dedup: bool = False,
        payload_col: str = "payload_json",
        events_format: str = "parquet",
        dlq_dir: str | None = None,
        valid_ops: tuple[str, ...] = ("I", "U", "D"),
        merge_on_read: bool = False,
        stage: bool = False,
        merge_engine: str = "upsert",
    ):
        # merge-on-read: append winners + equality-delete files instead of
        # rewriting touched buckets (lake/mor.py) — the update-heavy-stream
        # write-amplification escape; pair with periodic cdc-compact
        self._merge = merge_for(merge_engine, merge_on_read)
        self.spark = spark
        self.table = table
        self._events_path = events if isinstance(events, str) else None
        if isinstance(events, str):
            # parquet is the production layout; json/csv cover hand-rolled or
            # exported logs (csv needs header+inferSchema for seq as a number)
            if events_format == "parquet":
                self.events = spark.read.parquet(events)
            elif events_format == "json":
                self.events = spark.read.json(events)
            elif events_format == "csv":
                self.events = spark.read.option("header", True).option(
                    "inferSchema", True
                ).csv(events)
            else:
                raise ValueError(f"Unknown events_format {events_format!r}")
        else:
            self.events = events
        self.seq_col = seq_col
        self.op_col = op_col
        self.batch_events = batch_events
        self.two_phase_dedup = two_phase_dedup
        self.payload_col = payload_col
        self.dlq_dir = dlq_dir
        self.valid_ops = tuple(valid_ops)
        # write-audit-publish: stage the batch's snapshot (header+manifests,
        # no VERSION swap, no commit marker) for audit before publish.
        # Schema-evolution commits (additive metadata) still publish
        # immediately — only the DATA batch is gated.
        self.stage = stage
        self.metrics_path = os.path.join(table.path, "_meta", "metrics.jsonl")

    # ----- checkpointing -----------------------------------------------------

    def last_applied_batch(self) -> int:
        return int(self.table.snapshot().summary.get("last_batch", -1))

    def seq_bounds(self) -> tuple[int, int]:
        """Global [min, max] of the seq column. For a directory input this is
        a driver-side parquet-FOOTER read (metadata only — at 100 TB a data
        scan just to find the range is wrong; a production log keeps this in
        its manifest). Falls back to a Spark aggregate for DataFrame inputs
        or stat-less files."""
        fb = self._footer_bounds()
        if fb is not None:
            return fb
        r = self.events.agg(
            F.min(self.seq_col).alias("lo"), F.max(self.seq_col).alias("hi")
        ).collect()[0]
        return int(r["lo"]), int(r["hi"])

    def _footer_bounds(self) -> tuple[int, int] | None:
        if self._events_path is None or not os.path.isdir(self._events_path):
            return None
        import pyarrow.parquet as pq

        lo = hi = None
        for root, _dirs, files in os.walk(self._events_path):
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(root, fn)).metadata
                ci = _leaf_column_index(md, self.seq_col)
                if ci < 0:
                    return None
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(ci).statistics
                    if st is None or not st.has_min_max:
                        return None  # any stat-less file -> exact Spark agg
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
        if lo is None:
            return None
        return int(lo), int(hi)

    def batch_range(self, batch_index: int, lo: int) -> tuple[int, int]:
        start = lo + batch_index * self.batch_events
        return start, start + self.batch_events - 1

    # ----- dead-letter queue ----------------------------------------------------

    def _quarantine(
        self, batch: DataFrame, batch_index: int, commit_id: str
    ) -> tuple[DataFrame, int]:
        """Split a batch slice into (valid, quarantined). A malformed change
        event — unknown/null ``op``, null key column, null ``seq`` — would
        otherwise be either silently mis-applied (an op outside the
        vocabulary falls through merge's delete test and UPSERTS; a
        null-keyed event becomes a live (null, ..) row) or silently dropped
        (a null seq matches no batch range, ever). With ``dlq_dir`` set they
        are written to ``dlq_dir/<commit_id>/`` with a ``dlq_reason`` column
        and excluded from the merge.

        Exactly-once: the DLQ write is mode=overwrite keyed by commit_id, so
        a crash-rerun of an uncommitted batch rewrites the same directory
        (never duplicates), and a replay skipping an already-committed batch
        never touches its DLQ dir. Null-seq events belong to NO seq range,
        so batch 0 claims them (a resume past batch 0 does not re-scan
        them — their quarantine already happened in the original run).
        Reported count is a parquet-footer read, not a second scan. The
        streaming front-end quarantines per micro-batch with the same
        ``malformed_reason_expr`` (no batch-0 special case there: its
        micro-batches are file-sliced, so null-seq rows do arrive)."""
        reason = malformed_reason_expr(
            self.op_col,
            self.seq_col,
            self.table.snapshot().key_columns,
            self.valid_ops,
        )
        if batch_index == 0:
            batch = batch.unionByName(
                self.events.where(F.col(self.seq_col).isNull())
            )
        out = os.path.join(self.dlq_dir, commit_id)
        batch.where(reason.isNotNull()).withColumn(
            "dlq_reason", reason
        ).write.mode("overwrite").parquet(out)
        from table2qb_spark.ops.prep import _parquet_rows

        return batch.where(reason.isNull()), _parquet_rows(out)

    # ----- single batch --------------------------------------------------------

    def apply_batch(self, batch_index: int, lo: int, hi_total: int) -> BatchResult:
        commit_id = f"cdc-{batch_index:08d}"
        start, end = self.batch_range(batch_index, lo)
        if self.table.has_commit(commit_id):
            return BatchResult(batch_index, commit_id, 0, True, {})
        t0 = time.time()
        batch = self.events.where(
            (F.col(self.seq_col) >= start) & (F.col(self.seq_col) <= end)
        )
        dlq_events = 0
        if self.dlq_dir is not None:
            batch, dlq_events = self._quarantine(batch, batch_index, commit_id)
        # per-row invariant (BASELINE input_hint): content sha256 computed at
        # ingest and stored alongside the row, so state verification never
        # needs to re-read content
        schema_names = {c["name"] for c in self.table.snapshot().current_schema()}
        if "content_sha" in schema_names and "content" in batch.columns:
            batch = batch.withColumn("content_sha", F.sha2(F.col("content"), 256))
        # schema evolution first (metadata-only commits), then flat MERGE
        batch = reconcile_and_flatten(self.table, batch, commit_id, self.payload_col)
        stats = self._merge(
            self.table,
            batch,
            commit_id,
            op_col=self.op_col,
            seq_col=self.seq_col,
            # max_seq is NOT pinned to the range end here: merge records the
            # actually-observed max sequence (ops truth); resume keys off
            # last_batch, which is range-based
            summary_update={"last_batch": batch_index, "range_end": end},
            publish=not self.stage,
            two_phase_dedup=self.two_phase_dedup,
            batch_size_hint=end - start + 1,
        )
        metrics = record_metrics(
            self.table, batch_index, commit_id, t0, stats,
            seq_range=(start, end), lag_events=max(0, hi_total - end),
            dlq_events=dlq_events, ts=time.time(),
        )
        n_events = metrics["batch_events"]
        return BatchResult(batch_index, commit_id, n_events, False, metrics)

    # ----- full replay -----------------------------------------------------------

    def run(self, max_batches: int | None = None) -> list[BatchResult]:
        """Replay from the current checkpoint to the end of the log. In
        ``stage`` mode at most ONE batch is applied regardless of
        ``max_batches``: a second batch would have to merge against state
        the unpublished first batch hasn't made visible (its snapshot slot
        is held), so staged ingest is publish-one-audit-one by design."""
        if self.stage:
            max_batches = 1 if max_batches is None else min(1, max_batches)
        lo, hi = self.seq_bounds()
        n_batches = (hi - lo) // self.batch_events + 1
        first = self.last_applied_batch() + 1
        results = []
        for i in range(first, n_batches):
            if max_batches is not None and len(results) >= max_batches:
                break
            results.append(self.apply_batch(i, lo, hi))
        return results

    def metrics(self) -> list[dict]:
        if not os.path.exists(self.metrics_path):
            return []
        with open(self.metrics_path) as f:
            return [json.loads(line) for line in f if line.strip()]
