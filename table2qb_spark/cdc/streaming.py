"""Structured Streaming front-end for the CDC engine.

``readStream`` over the change-log directory -> ``foreachBatch`` -> the SAME
``merge_upsert`` + schema-reconcile path the batch replayer uses. Streaming
micro-batches are arrival-defined rather than seq-defined, so exactly-once
relies on the same two mechanisms, composed:

- Structured Streaming's checkpointLocation gives at-least-once redelivery of
  each micro-batch with a stable ``batch_id``;
- our commit manifest (commit_id = ``stream-{app_id}-{batch_id}``) makes the
  MERGE idempotent, upgrading the sink to exactly-once (the classic
  foreachBatch idempotent-sink pattern). The ``app_id`` is a uuid minted once
  per checkpoint directory and persisted inside it — the Delta
  txnAppId+txnVersion pattern — so batch_id restarting at 0 under a NEW
  checkpoint (checkpoint loss, or a second stream into the same table) mints
  fresh commit ids instead of colliding with already-applied ones and being
  silently dropped as "redelivered".

Late/out-of-order data: sequence numbers are authoritative — an event whose
key already has a row with a HIGHER seq in the lake must not regress it, and
a delete must not be resurrected by a late lower-seq update. Streaming
tables therefore carry two bookkeeping columns the merge understands:
``_seq`` (seq-guarded updates: incoming wins only when s.seq >= t._seq) and
``_deleted`` (tombstones instead of physical deletes). The batch replayer
doesn't need either because its seq-ranges are totally ordered. No
event-time watermark is needed: dedup keys on seq, not time (SURVEY.md
§2.7). Read the converged state with ``table.read_live()``.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from table2qb_spark.cdc.apply import malformed_reason_expr, merge_for, record_metrics
from table2qb_spark.cdc.schema_evolution import reconcile_and_flatten
from table2qb_spark.lake.table import LakeTable

BOOKKEEPING_COLUMNS = [("_seq", "long"), ("_deleted", "boolean")]


def checkpoint_app_id(checkpoint_dir: str) -> str:
    """Stable per-checkpoint identity: minted on first use, persisted in the
    checkpoint dir, reread on resume. Namespaces commit ids so two different
    checkpoints (= two different streams / a rebuilt checkpoint) can never
    collide on batch_id."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    marker = os.path.join(checkpoint_dir, "table2qb_app_id")
    if os.path.exists(marker):
        with open(marker) as f:
            return f.read().strip()
    app_id = uuid.uuid4().hex[:12]
    tmp = f"{marker}.tmp.{app_id}"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(app_id)
        f.flush()
        os.fsync(f.fileno())
    try:
        # true O_EXCL: the FIRST writer wins and the marker never changes
        # afterwards (os.rename would let a late racer silently REPLACE the
        # marker, orphaning commit ids already minted under the first id)
        os.link(tmp, marker)
    except FileExistsError:
        pass
    finally:
        os.unlink(tmp)
    with open(marker) as f:  # all racers reread the single persisted id
        return f.read().strip()


def create_stream_table(
    spark: SparkSession,
    path: str,
    schema: list[tuple[str, str]],
    key_columns: list[str],
    n_buckets: int = 64,
    properties: dict | None = None,
) -> LakeTable:
    """Create a lake table with the streaming bookkeeping columns appended
    (seq-guard + tombstones; see module docstring)."""
    return LakeTable.create(
        spark,
        path,
        list(schema) + BOOKKEEPING_COLUMNS,
        key_columns,
        n_buckets,
        properties=properties,
    )


def auto_max_files_per_trigger(
    spark: SparkSession,
    events_dir: str,
    target_events: int | None = None,
    default: int = 8,
) -> int:
    """Size micro-batches by EVENTS, not file count (round-3 verdict #8: the
    stream/batch throughput gap is per-trigger fixed cost — measured ~9s for
    an incremental 1M-event merge trigger vs 5.5s for the whole 2M backlog
    as ONE late-materialized backfill trigger). Estimates events/file from
    the parquet footers (metadata-only count — no data scan) and returns the
    file count whose trigger carries >= ``target_events`` (default 8M, env
    SPARK_GRAFT_STREAM_TRIGGER_EVENTS). The merge is shuffle-based, not
    in-memory, so large triggers cost no executor memory; small triggers are
    for checkpoint granularity / latency, which a backlog catch-up doesn't
    need. At production scale a micro-batch is 10^8 events. (Default raised
    4M -> 8M in round 6: each trigger's seq-guarded COW merge pays a fixed
    union + winner pass + full bucket write regardless of trigger size, so
    halving the trigger count on a 20M-event backlog measured 66.3 s ->
    56.7 s A/B on the same box — the same fixed-cost argument as the
    original 4M sizing, one doubling further; latency-sensitive deployments
    override via the env knob.)"""
    if target_events is None:
        target_events = int(
            os.environ.get("SPARK_GRAFT_STREAM_TRIGGER_EVENTS", 8_000_000)
        )
    try:
        import pyarrow.parquet as pq

        # Footer-only count (same pattern as prep._parquet_rows): Spark's
        # count() would RE-SCAN the whole backlog before streaming even
        # starts (aggregate pushdown is off by default) — a pyarrow
        # read_metadata touches only the footers.
        files = (
            [
                os.path.join(events_dir, f)
                for f in os.listdir(events_dir)
                if f.endswith(".parquet")
            ]
            if os.path.isdir(events_dir)
            else []
        )
        n_files = len(files)
        total = sum(pq.read_metadata(f).num_rows for f in files)
        if total <= 0 or n_files <= 0:
            return default
        per_file = max(1, total // n_files)
        return max(1, min(n_files, -(-target_events // per_file)))
    except Exception:
        return default


def start_stream(
    spark: SparkSession,
    table: LakeTable,
    events_dir: str,
    checkpoint_dir: str,
    schema_ddl: str | None = None,
    seq_col: str = "seq",
    op_col: str = "op",
    max_files_per_trigger: int | str = 8,
    payload_col: str = "payload_json",
    watermark_prefilter: bool = False,
    dlq_dir: str | None = None,
    merge_on_read: bool = False,
    merge_engine: str = "upsert",
):
    """Start the streaming ingest. Returns the StreamingQuery.

    ``merge_engine="patch"``: partial-update per-column semantics
    (lake.merge.merge_patch) instead of full-row-image last-writer-wins.
    foreachBatch-safe (explicit stats aggregate, no Observation). On
    SEQ-GUARDED tables, late/redelivered events are superseded WHOLESALE
    (no corruption): an event re-delivered in a later micro-batch enters
    the fold BELOW the stored row image's ``_seq`` and is shadowed by the
    patch algebra's boundary logic — but a genuinely late FIRST delivery
    is discarded the same way, so final state depends on trigger/file
    boundaries; total-order patch semantics still require in-order
    delivery across triggers (a late ``I`` does not back-fill
    never-patched columns; see ``merge_patch``'s docstring). Incompatible
    with merge_on_read (partial payloads have no full row image to append
    as MOR winners).

    ``merge_on_read``: apply micro-batches via lake/mor.py (append winners +
    equality-delete files) instead of the COW merge — the right mode for
    update-heavy streams where per-trigger bucket rewrites dominate; pair
    with periodic cdc-compact. Needs a seq-guarded table (merge_mor checks).

    ``dlq_dir``: quarantine malformed events (bad op / null key / null seq
    — ``cdc.apply.malformed_reason_expr``, the same rules as the batch
    replayer's DLQ) to ``dlq_dir/<commit_id>/`` per micro-batch instead of
    merging them; adds ``dlq_events`` to the metrics row. Exactly-once: the
    quarantine write happens before the merge commit and is
    mode=overwrite keyed by the micro-batch commit_id, so a crash-redelivery
    rewrites the same directory and an already-committed micro-batch is
    skipped before any write.

    ``watermark_prefilter``: drop duplicate/stale events IN the stream with
    the stateful per-key high-watermark operator (cdc/stateful.py) before
    they reach the merge sink — worth its stateful shuffle on
    redelivery-heavy sources. ROW state is identical either way (dropped
    events were provably losing the seq-guarded merge); the one divergence
    is SCHEMA metadata: an evolution payload carried ONLY by dropped
    stale/duplicate events does not evolve the table on this path — the
    column lands with the next winning event that carries it. Leave the
    prefilter off when stale events may be the sole carriers of schema
    changes.

    ``max_files_per_trigger``: an int, or ``"auto"`` to size triggers to
    ~4M events (env SPARK_GRAFT_STREAM_TRIGGER_EVENTS) from the backlog's
    parquet footers (see auto_max_files_per_trigger)."""
    merge = merge_for(merge_engine, merge_on_read)
    if max_files_per_trigger == "auto":
        max_files_per_trigger = auto_max_files_per_trigger(spark, events_dir)
    reader = spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger)
    if schema_ddl:
        reader = reader.schema(schema_ddl)
    else:
        static = spark.read.parquet(events_dir)
        reader = reader.schema(static.schema)
    stream = reader.parquet(events_dir)
    if watermark_prefilter:
        from table2qb_spark.cdc.stateful import watermark_filter

        # The prefilter is only state-preserving on seq-guarded tables (see
        # docstring): on a plain table the merge unions current rows at
        # seq=-1, so a late lower-seq event WOULD win there — dropping it in
        # the stream would change final row state.
        schema_names = {c["name"] for c in table.snapshot().current_schema()}
        if "_seq" not in schema_names or "_deleted" not in schema_names:
            raise ValueError(
                "watermark_prefilter requires a seq-guarded stream table "
                "(create it via create_stream_table: missing _seq/_deleted "
                "bookkeeping columns)"
            )
        stream = watermark_filter(
            stream, table.snapshot().key_columns, seq_col=seq_col
        )
    app_id = checkpoint_app_id(checkpoint_dir)

    def apply_micro_batch(batch_df: DataFrame, batch_id: int) -> None:
        commit_id = f"stream-{app_id}-{batch_id:08d}"
        if table.has_commit(commit_id):
            return  # redelivered micro-batch: exactly-once skip
        t0 = time.time()
        # per-row invariant parity with ChangeLogReplayer (BASELINE
        # input_hint): content sha256 computed at ingest when the table
        # declares the column and the stream doesn't carry it
        schema_names = {c["name"] for c in table.snapshot().current_schema()}
        if (
            "content_sha" in schema_names
            and "content_sha" not in batch_df.columns
            and "content" in batch_df.columns
        ):
            batch_df = batch_df.withColumn(
                "content_sha", F.sha2(F.col("content"), 256)
            )
        dlq_events = 0
        if dlq_dir is not None:
            from table2qb_spark.ops.prep import _parquet_rows

            reason = malformed_reason_expr(
                op_col, seq_col, table.snapshot().key_columns
            )
            out_dir = os.path.join(dlq_dir, commit_id)
            batch_df.where(reason.isNotNull()).withColumn(
                "dlq_reason", reason
            ).write.mode("overwrite").parquet(out_dir)
            dlq_events = _parquet_rows(out_dir)
            batch_df = batch_df.where(reason.isNull())
        flat = reconcile_and_flatten(table, batch_df, commit_id, payload_col)
        # MOR and patch run explicit stats passes; the upsert is told to,
        # because Observation metrics never fire inside foreachBatch
        stats = merge(
            table,
            flat,
            commit_id,
            op_col=op_col,
            seq_col=seq_col,
            summary_update={"stream_batch": batch_id},
            force_stats_pass=True,
        )
        # per-micro-batch metrics row, same file/shape as the batch
        # replayer's (cdc/apply.py) so `cdc-status --table` reads both
        # ingest paths; north_star: "per-partition throughput/lag metrics
        # emitted per micro-batch"
        record_metrics(
            table, batch_id, commit_id, t0, stats, source="stream",
            max_seq=(table.snapshot().summary or {}).get("max_seq"),
            dlq_events=dlq_events, ts=time.time(),
        )

    return (
        stream.writeStream.foreachBatch(apply_micro_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_stream_to_completion(
    spark: SparkSession,
    table: LakeTable,
    events_dir: str,
    checkpoint_dir: str,
    **kwargs,
) -> None:
    """availableNow trigger: process the whole backlog as a stream, then stop."""
    q = start_stream(spark, table, events_dir, checkpoint_dir, **kwargs)
    q.awaitTermination()
