"""spark-submit entry point.

Launch (cluster):
    spark-submit --py-files table2qb_spark.zip main.py <task> [args]
Launch (sandbox):
    python -m table2qb_spark.main <task> [args]

Tasks mirror the reference CLI (src/table2qb/cli/tasks.clj: list, describe,
csvw, exec) plus the CDC engine commands:

  list                        list available pipelines/tasks
  exec <pipeline>             run a pipeline, serialize its RDF to ONE file
                              (--output-file; TriG blocks with --graph)
  csvw <pipeline>             run a pipeline, CSVW artifacts only
  codelist-pipeline           codelist CSV -> annotated table + metadata
  components-pipeline         components CSV -> annotated table + metadata
  cube-pipeline               observations CSV -> cube tables + metadata
  cdc-init                    create the lake table
  cdc-replay                  replay a change log into the lake (resumable)
  cdc-stream                  same via Structured Streaming (availableNow)
  cdc-status                  checkpoint/lineage/metrics summary
  datagen                     write a deterministic synthetic change log
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from table2qb_spark.session import get_spark

BASE_SCHEMA = [
    ("repo", "string"),
    ("path", "string"),
    ("commit", "string"),
    ("lang", "string"),
    ("content", "string"),
]

PIPELINES = {
    "codelist-pipeline": "Generates a codelist from a CSV file describing its members",
    "components-pipeline": "Generates component specifications",
    "cube-pipeline": "Generates cube RDF-shaped tables for the given input CSV",
}


class _Parser(argparse.ArgumentParser):
    """Reference-parity argument errors (test/table2qb/main_test.clj:42-47):
    a missing required argument prints 'Missing required argument' to stderr
    and exits non-zero."""

    def error(self, message: str) -> "NoReturn":  # noqa: F821
        if "arguments are required" in message:
            missing = message.split(":", 1)[1].strip()
            message = f"Missing required argument: {missing}"
        self.print_usage(sys.stderr)
        print(f"error: {message}", file=sys.stderr)
        raise SystemExit(2)


def _require_file(path: str, what: str) -> None:
    import os

    if not os.path.exists(path):
        print(f"error: {what} not found: {path}", file=sys.stderr)
        raise SystemExit(1)


def cmd_list(_args) -> int:
    for name, desc in PIPELINES.items():
        print(f"{name}\t{desc}")
    return 0


EXEC_REQUIRED_ARGS = {
    "codelist-pipeline": ["codelist-csv", "codelist-name", "codelist-slug"],
    "components-pipeline": ["input-csv"],
    "cube-pipeline": ["input-csv", "dataset-name", "dataset-slug", "column-config"],
}


def cmd_exec(args) -> int:
    """Reference-parity `exec` / `csvw` tasks (src/table2qb/cli/tasks.clj:
    217-251): ``exec <pipeline> --output-file out.nt`` runs the pipeline and
    serializes its RDF graph to ONE file — csv2rdf minimal mode re-expressed
    as the distributed triples sink plus the driver-side single-file rewrite
    (N-Triples; TriG graph blocks when --graph is given, the reference's
    named-graph form). ``csvw <pipeline> --output-directory d`` writes the
    CSVW artifacts only (no RDF), as in the reference."""
    import os
    import tempfile
    from types import SimpleNamespace

    is_csvw = args.task == "csvw"
    pipeline = args.pipeline
    if pipeline not in EXEC_REQUIRED_ARGS:
        print(f"error: unknown pipeline {pipeline!r}; one of "
              f"{', '.join(EXEC_REQUIRED_ARGS)}", file=sys.stderr)
        return 2
    required = EXEC_REQUIRED_ARGS[pipeline]
    ap = argparse.ArgumentParser(prog=f"{args.task} {pipeline}", add_help=False)
    for a in required:
        ap.add_argument(f"--{a}")
    ap.add_argument("--base-uri", default="http://gss-data.org.uk/")
    ap.add_argument("--output-directory")
    ap.add_argument("--output-file")
    ap.add_argument("--graph", default=None)
    try:
        pa, unknown = ap.parse_known_args(args.rest)
    except SystemExit:
        return 2
    if unknown:
        print(f"error: unknown arguments: {' '.join(unknown)}", file=sys.stderr)
        return 2
    missing = [a for a in required if getattr(pa, a.replace("-", "_")) is None]
    if is_csvw and not pa.output_directory:
        missing.append("output-directory")
    if not is_csvw and not pa.output_file:
        missing.append("output-file")
    if missing:
        # message-parity with the reference CLI (main_test.clj:44-47)
        print("Missing required argument: "
              + ", ".join("--" + m for m in missing), file=sys.stderr)
        return 2

    outdir = pa.output_directory or tempfile.mkdtemp(prefix="table2qb_exec_")
    rdf_dir = None if is_csvw else os.path.join(outdir, "_rdf")
    ns = SimpleNamespace(
        output_directory=outdir, rdf_output=rdf_dir, graph=pa.graph,
        trig_output=None, base_uri=pa.base_uri,
        **{a.replace("-", "_"): getattr(pa, a.replace("-", "_")) for a in required},
    )
    handler = {
        "codelist-pipeline": cmd_codelist,
        "components-pipeline": cmd_components,
        "cube-pipeline": cmd_cube,
    }[pipeline]
    rc = handler(ns)
    if rc != 0 or is_csvw:
        return rc
    from table2qb_spark.pipelines.rdf import nquads_to_trig

    n = nquads_to_trig(rdf_dir, pa.output_file)
    print(f"{pa.output_file}\t{n} statements")
    return 0


def cmd_describe(args) -> int:
    # reference parity: tasks.clj `describe` prints a pipeline's parameters
    params = {
        "codelist-pipeline": ["codelist-csv", "codelist-name", "codelist-slug", "base-uri", "output-directory", "rdf-output", "graph", "trig-output"],
        "components-pipeline": ["input-csv", "base-uri", "output-directory", "rdf-output", "graph", "trig-output"],
        "cube-pipeline": ["input-csv", "dataset-name", "dataset-slug", "column-config", "base-uri", "output-directory", "rdf-output", "graph", "trig-output"],
    }
    if args.pipeline not in PIPELINES:
        print(f"error: unknown pipeline {args.pipeline}", file=sys.stderr)
        return 2
    print(PIPELINES[args.pipeline])
    for p in params[args.pipeline]:
        print(f"  --{p}")
    return 0


def _display_table(rows, header=None) -> None:
    """Reference-parity table printer (cli/tasks.clj display-table): every
    column padded to its longest cell (header included), cells joined by one
    space; nothing printed for an empty row set."""
    rows = [[str(c) for c in r] for r in rows]
    if not rows:
        return
    all_rows = ([list(header)] if header else []) + rows
    widths = [max(len(r[i]) for r in all_rows) for i in range(len(all_rows[0]))]
    for r in all_rows:
        print(" ".join(c.ljust(w) for c, w in zip(r, widths)).rstrip())


def _pr_str(v) -> str:
    """Clojure pr-str for the EDN values a URI map holds (strings and
    vectors of strings) — the display form of the defaults table."""
    if isinstance(v, (list, tuple)):
        return "[" + " ".join(_pr_str(x) for x in v) + "]"
    return json.dumps(v)


# Task registry for `help` (reference: resources/table2qb-config.edn
# :table2qb.main/tasks plus this engine's CDC/prep surface).
TASK_DESCRIPTIONS = {
    "help": ("Displays usage information for a task", "Usage: table2qb help [task-name]"),
    "list": ("Lists the available pipelines", "Usage: table2qb list"),
    "describe": ("Describes a named pipeline", "Usage: table2qb describe pipeline-name"),
    "csvw": ("Executes a named pipeline and outputs CSVW", "Usage table2qb csvw pipeline-name args"),
    "exec": ("Executes a named pipeline", "Usage: table2qb exec pipeline-name args"),
    "uris": None,  # special-cased: prints its own usage + pipeline list
    "codelist-pipeline": ("Generates a codelist from a CSV file describing its members", "Usage: table2qb codelist-pipeline --codelist-csv F --codelist-name N --codelist-slug S"),
    "components-pipeline": ("Generates component specifications", "Usage: table2qb components-pipeline --input-csv F"),
    "cube-pipeline": ("Generates cube RDF-shaped tables for the given input CSV", "Usage: table2qb cube-pipeline --input-csv F --dataset-name N --dataset-slug S --column-config C"),
    "prep-data": ("Runs the training-data preparation composite", "Usage: table2qb prep-data --input DIR --output DIR [stages...]"),
    "cdc-init": ("Creates a lake table", "Usage: table2qb cdc-init --table DIR --buckets N [--seq-guarded] [--cdf] [--bloom-cols a,b [--bloom-bits M] [--bloom-hashes K]]"),
    "cdc-lookup": ("Point-reads one primary key (bucket + stats/bloom pruned)", "Usage: table2qb cdc-lookup --table DIR --key repo=R,path=P [--snapshot REF]"),
    "cdc-inspect": ("Prints a metadata table: snapshots, files, refs or properties", "Usage: table2qb cdc-inspect --table DIR --what snapshots|files|refs|properties [--snapshot REF] [--limit N]"),
    "cdc-sql": ("Runs ad-hoc Spark SQL over lake tables registered as time-travelable views (plus _files/_snapshots/_refs/_properties metadata views)", "Usage: table2qb cdc-sql --table name=DIR[@REF] [--table ...] --query SQL [--where name=PRED] [--limit N] [--output PATH [--output-format parquet|csv|jsonl]] [--explain]"),
    "cdc-replay": ("Replays a change log into the lake (resumable)", "Usage: table2qb cdc-replay --table DIR --events DIR [--dlq DIR] [--merge-on-read] [--stage] [--merge-engine upsert|patch]"),
    "cdc-publish": ("Publishes a staged snapshot (write-audit-publish)", "Usage: table2qb cdc-publish --table DIR [--snapshot N]"),
    "cdc-discard": ("Discards a staged snapshot without publishing", "Usage: table2qb cdc-discard --table DIR --snapshot N"),
    "cdc-stream": ("Replays a change log via Structured Streaming", "Usage: table2qb cdc-stream --table DIR --events DIR --checkpoint DIR [--dlq DIR] [--merge-on-read] [--max-files-per-trigger N|auto] [--merge-engine upsert|patch]"),
    "cdc-status": ("Prints checkpoint/lineage/metrics summary", "Usage: table2qb cdc-status --table DIR [--metrics]"),
    "cdc-hotkeys": ("Reports the hottest merge keys in a change-event source (skew diagnostic)", "Usage: table2qb cdc-hotkeys --events PATH --keys repo,path [--top 20] [--events-format parquet|json|csv]"),
    "cdc-schema": ("Prints the table schema; --history adds version-by-version column lineage", "Usage: table2qb cdc-schema --table DIR [--history]"),
    "cdc-alter": ("Explicit schema DDL: add/rename/drop columns, widen types; or set table properties (metadata-only commit)", "Usage: table2qb cdc-alter --table DIR [--add n:t,...] [--rename a=b,...] [--drop a,b] [--widen n=long,...] [--set-property k=v,...]"),
    "cdc-delete": ("Row-level DELETE by predicate: copy-on-write bucket rewrite, Iceberg-v2-style position-delete files, or auto (measured matched-fraction choice)", "Usage: table2qb cdc-delete --table DIR --where PRED [--strategy cow|positional|auto] [--positional-max-fraction R] [--dry-run] [--commit-id ID]"),
    "cdc-update": ("Row-level UPDATE by predicate: copy-on-write bucket rewrite or merge-on-read (position-delete old copies + append rewritten rows); key columns immutable", "Usage: table2qb cdc-update --table DIR --where PRED --set col=EXPR [--set col=EXPR ...] [--strategy cow|mor] [--dry-run] [--commit-id ID]"),
    "cdc-merge-into": ("SQL MERGE: join a source on the key columns; WHEN MATCHED update/delete, WHEN NOT MATCHED insert (copy-on-write, touched buckets only)", "Usage: table2qb cdc-merge-into --table DIR --source PATH [--update col=EXPR ... | --update-all] [--delete-where PRED] [--no-insert] [--update-where PRED] [--insert-where PRED] [--commit-id ID]"),
    "cdc-fsck": ("Checks table integrity: manifests, file references, live-row arithmetic, markers, schema ids; --deep audits parquet footers distributed", "Usage: table2qb cdc-fsck --table DIR [--deep]"),
    "cdc-profile": ("Profiles columns (nulls, distinct, min/max) in one scan; time-travelable", "Usage: table2qb cdc-profile --table DIR [--columns a,b] [--snapshot REF] [--exact]"),
    "cdc-check": ("Evaluates declarative constraint rules; exit 0 iff all pass (WAP publish gate)", "Usage: table2qb cdc-check --table DIR --rule R [--rule R ...] [--snapshot REF]"),
    "cdc-compact": ("Compacts small files per bucket", "Usage: table2qb cdc-compact --table DIR [--sort-by COLS | --zorder COLS] [--max-records-per-file N] [--purge-below-seq N] [--min-delete-ratio R]"),
    "cdc-rebucket": ("Re-hashes the table into a new bucket count (bucket evolution; one distributed rewrite)", "Usage: table2qb cdc-rebucket --table DIR --buckets N [--sort-by COLS] [--max-records-per-file N]"),
    "cdc-expire": ("Expires old snapshots", "Usage: table2qb cdc-expire --table DIR --keep-last N"),
    "cdc-diff": ("Diffs two snapshots", "Usage: table2qb cdc-diff --table DIR --from-snapshot REF [--to-snapshot REF] [--envelope] (REF = snapshot id or tag)"),
    "cdc-replicate": ("Lake-to-lake replication: bootstrap a mirror (optionally with its own bucket count), then each run applies one coalesced change envelope since the target's cursor — O(changed rows) per sync, exactly-once, schema ADDs mirrored", "Usage: table2qb cdc-replicate --source DIR --target DIR [--buckets N] [--full-resync]"),
    "cdc-materialize": ("Incrementally-maintained materialized aggregate view: bootstrap count(*)/sum(EXPR) per group from one scan, then refresh at O(changes) cost from the snapshot envelope — cursor and state move in one atomic commit", "Usage: table2qb cdc-materialize --view DIR [--source DIR --group-by COLS --agg NAME=count(*)|NAME=sum(EXPR) ... [--buckets N]] [--full-refresh]"),
    "cdc-clone": ("Zero-copy shallow clone: a new writable table referencing the source snapshot's data files in place (O(metadata); COW divergence; clone from a tag so source expiry cannot reclaim referenced files)", "Usage: table2qb cdc-clone --source DIR --dest DIR [--snapshot REF]"),
    "cdc-subscribe": ("Checkpointed outbound changelog tail: bootstrap the full state as op='r' envelope rows, then emit one Debezium-envelope directory per committed snapshot, cursor-resumable (expired cursor fails loudly like a purged binlog)", "Usage: table2qb cdc-subscribe --table DIR --out DIR [--checkpoint DIR] [--from-snapshot REF] [--coalesce] [--format parquet|jsonl] [--follow [--poll-seconds S] [--max-polls K]]"),
    "cdc-rollback": ("Rolls the table back to an earlier snapshot (metadata-only; undone commits replay unless --keep-commit-markers)", "Usage: table2qb cdc-rollback --table DIR (--to-snapshot REF | --as-of TS) [--keep-commit-markers]"),
    "cdc-tag": ("Creates/deletes/lists named snapshot refs (tags pin snapshots against expiry and are accepted wherever a snapshot id is)", "Usage: table2qb cdc-tag --table DIR [--create NAME [--snapshot REF] [--force] | --delete NAME]"),
    "cdc-branch": ("Creates/deletes/lists writable branch refs and fast-forwards a branch's staged chain onto main (audit-branch WAP over chains)", "Usage: table2qb cdc-branch --table DIR [--create NAME [--snapshot REF] | --delete NAME | --ff NAME]"),
    "cdc-dlq": ("Inspects the dead-letter queue (reason breakdown) or re-drives repairable rows back into the table exactly once", "Usage: table2qb cdc-dlq --table DIR --dlq DIR [--redrive]"),
    "cdc-verify": ("Prints a distributed content digest of the table", "Usage: table2qb cdc-verify --table DIR"),
    "cdc-export": ("Exports table state (current or a snapshot) to parquet/CSV/JSONL", "Usage: table2qb cdc-export --table DIR --out DIR [--snapshot REF] [--buckets 0,1] [--columns a,b] [--format parquet|csv|jsonl] [--shards N --shard-key COL]"),
    "datagen": ("Writes a deterministic synthetic change log", "Usage: table2qb datagen --out DIR --events-n N"),
}


def _usage_lines() -> list[str]:
    return (
        ["Usage: table2qb task-name [args]", "Available tasks are:", ""]
        + list(TASK_DESCRIPTIONS)
        + ["", "Use table2qb help task-name for more information about a task"]
    )


def cmd_help(args) -> int:
    """Reference-parity `help` task (cli/tasks.clj:78-84): no argument
    prints usage + the task list; `help <task>` prints that task's
    description; an unknown task errors with the task list."""
    name = args.task_name
    if name is None:
        for line in _usage_lines():
            print(line)
        return 0
    if name not in TASK_DESCRIPTIONS:
        print(f"Unknown task name {name}", file=sys.stderr)
        for t in ["Available tasks are:", ""] + list(TASK_DESCRIPTIONS):
            print(t, file=sys.stderr)
        return 2
    if name == "uris":
        return _uris_usage()
    desc, usage = TASK_DESCRIPTIONS[name]
    print(desc)
    print(usage)
    return 0


def _uris_usage() -> int:
    print("Usage: table2qb uris pipeline-name [uri-templates]")
    print()
    print("Lists and describes the URI templates used by a named pipeline")
    print(
        "If an EDN file containing overriding URI definitions is provided, "
        "the resolved URIs that would be used by the pipeline will be displayed"
    )
    print()
    print("Available pipelines")
    print()
    for p in PIPELINES:
        print(p)
    return 0


def cmd_uris(args) -> int:
    """Reference-parity `uris` task (cli/tasks.clj:311-328): without an
    overrides file, prints the pipeline's default URI templates (pr-str
    form) plus its $(template) and {csvw} variable docs; with an EDN
    overrides file, prints the RESOLVED templates the pipeline would use
    (merge semantics: unknown keys ignored — functions/uris.merge_uris)."""
    from table2qb_spark.functions.uris import merge_uris
    from table2qb_spark.pipelines.templates import (
        CSVW_VARS,
        PIPELINE_URIS,
        TEMPLATE_VARS,
        read_edn_uris,
    )

    if args.pipeline is None:
        return _uris_usage()
    if args.pipeline not in PIPELINE_URIS:
        print(f"Unknown pipeline {args.pipeline}", file=sys.stderr)
        for line in ["Available pipelines", ""] + list(PIPELINES):
            print(line, file=sys.stderr)
        return 2
    base = PIPELINE_URIS[args.pipeline]
    if args.uri_templates is not None:
        _require_file(args.uri_templates, "uri-templates file")
        resolved = merge_uris(base, read_edn_uris(args.uri_templates))
        _display_table(
            [[f"  :{k}", v if isinstance(v, str) else _pr_str(v)]
             for k, v in resolved.items()],
            ["Name", "Template"],
        )
        return 0
    print("URIs:")
    _display_table(
        [[f"    :{k}", _pr_str(v)] for k, v in base.items()], ["Name", "Default"]
    )
    print()
    print("Template variables:")
    _display_table(
        [[f"    $({k})", d] for k, d in TEMPLATE_VARS[args.pipeline].items()],
        ["Name", "Description"],
    )
    print()
    print("CSVW variables:")
    _display_table(
        [[f"    {{{k}}}", d] for k, d in CSVW_VARS[args.pipeline].items()],
        ["Name", "Description"],
    )
    return 0


def cmd_compact(args) -> int:
    from table2qb_spark.lake.compact import compact
    from table2qb_spark.lake.table import LakeTable

    _require_table(args.table)
    spark = get_spark("cdc-compact")
    table = LakeTable(spark, args.table)
    try:
        res = compact(
            table,
            purge_below_seq=args.purge_below_seq,
            sort_by=args.sort_by.split(",") if args.sort_by else None,
            max_records_per_file=args.max_records_per_file,
            zorder=args.zorder.split(",") if args.zorder else None,
            zorder_bits=args.zorder_bits,
            min_delete_ratio=args.min_delete_ratio,
        )
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    print(json.dumps(res))
    return 0


def cmd_rebucket(args) -> int:
    from table2qb_spark.lake.rebucket import rebucket
    from table2qb_spark.lake.table import ConcurrentCommitError, LakeTable

    _require_table(args.table)
    spark = get_spark("cdc-rebucket")
    table = LakeTable(spark, args.table)
    try:
        res = rebucket(
            table,
            args.buckets,
            sort_by=args.sort_by.split(",") if args.sort_by else None,
            max_records_per_file=args.max_records_per_file,
        )
    except (ValueError, ConcurrentCommitError) as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    print(json.dumps(res))
    return 0


def cmd_expire(args) -> int:
    from table2qb_spark.lake.expire import expire_snapshots
    from table2qb_spark.lake.table import LakeTable

    _require_table(args.table)
    spark = get_spark("cdc-expire")
    table = LakeTable(spark, args.table)
    res = expire_snapshots(
        table, keep_last=args.keep_last, older_than_ms=args.older_than_ms
    )
    print(json.dumps(res))
    return 0


def cmd_diff(args) -> int:
    from table2qb_spark.lake.diff import snapshot_diff
    from table2qb_spark.lake.table import LakeTable

    _require_table(args.table)
    spark = get_spark("cdc-diff")
    table = LakeTable(spark, args.table)
    try:
        frm = table.resolve_ref(args.from_snapshot)
        to = (table.resolve_ref(args.to_snapshot)
              if args.to_snapshot is not None else None)
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    if args.envelope:
        from table2qb_spark.lake.cdf import changes_between
        from table2qb_spark.lake.diff import snapshot_diff_envelope

        try:
            # feed-aware: O(changed rows) when the range is covered by
            # captured change feeds, diff fallback per feed-less run
            d = changes_between(table, frm, to, coalesce=True)
        except ValueError:
            # range outside the published forward ancestry (e.g. a staged
            # or rolled-back endpoint): the raw diff handles any pair
            d = snapshot_diff_envelope(table, frm, to)
        kind_col = "op"
    else:
        d = snapshot_diff(table, frm, to)
        kind_col = "change_type"
    if args.out:
        d.write.mode("overwrite").parquet(args.out)
        print(args.out)
    else:
        counts = {r[kind_col]: r["count"] for r in d.groupBy(kind_col).count().collect()}
        print(json.dumps({"from": frm,
                          "to": (to if to is not None
                                 else table.current_snapshot_id()),
                          "changes": counts}))
    return 0


def cmd_cdc_replicate(args) -> int:
    """Lake-to-lake replication (lake/replicate.py): bootstrap the target
    on first call, then each run applies one coalesced envelope since the
    target's repl_cursor — O(changed rows) per sync, exactly-once by the
    target's own commit markers, schema ADDs mirrored automatically."""
    from table2qb_spark.lake.replicate import replicate

    _require_table(args.source)
    spark = get_spark("cdc-replicate")
    try:
        r = replicate(spark, args.source, args.target,
                      n_buckets=args.buckets, full_resync=args.full_resync)
    except (ValueError, FileNotFoundError) as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    print(json.dumps(r))
    return 0


def cmd_cdc_materialize(args) -> int:
    """Incrementally-maintained materialized aggregate view
    (lake/materialize.py): with --group-by/--agg, bootstrap a new view
    table from one full scan; without them, refresh an existing view at
    O(changes) cost — one coalesced envelope diff since the view's cursor,
    per-group delta, state merge, cursor riding in the same commit."""
    from table2qb_spark.lake.materialize import create_view, refresh_view

    _require_table(args.source) if args.source else None
    spark = get_spark("cdc-materialize")
    try:
        if args.group_by or args.agg:
            if not (args.source and args.group_by and args.agg):
                print("error: creating a view needs --source, --group-by "
                      "and at least one --agg", file=sys.stderr)
                return 1
            r = create_view(
                spark, args.source, args.view,
                group=[g.strip() for g in args.group_by.split(",")],
                agg_specs=args.agg, n_buckets=args.buckets,
            )
        else:
            r = refresh_view(spark, args.view, full=args.full_refresh)
    except (ValueError, FileNotFoundError) as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    print(json.dumps(r))
    return 0


def cmd_cdc_clone(args) -> int:
    """Zero-copy shallow clone (lake/clone.py): new independently writable
    table referencing the source snapshot's data files in place —
    O(metadata), no data copied. Clone from a TAG and keep the tag alive:
    expiring the source can delete files a clone still references (the
    Delta/Iceberg shallow-clone caveat, documented in lake/clone.py)."""
    from table2qb_spark.lake.clone import clone_table

    _require_table(args.source)
    spark = get_spark("cdc-clone")
    try:
        r = clone_table(spark, args.source, args.dest,
                        snapshot_ref=args.snapshot)
    except (ValueError, FileNotFoundError) as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    print(json.dumps(r))
    return 0


def cmd_cdc_subscribe(args) -> int:
    """Checkpointed outbound changelog tail (lake/subscribe.py): bootstrap
    the full state as op='r' rows on first call (unless --from-snapshot),
    then emit one Debezium-envelope directory per committed snapshot (or
    one coalesced diff with --coalesce), advancing the cursor after each
    step lands — crash between data and cursor re-emits that step into the
    same directory idempotently."""
    from table2qb_spark.lake.subscribe import (
        CursorExpiredError, subscribe_follow, subscribe_once,
    )
    from table2qb_spark.lake.table import LakeTable

    _require_table(args.table)
    spark = get_spark("cdc-subscribe")
    table = LakeTable(spark, args.table)
    checkpoint = args.checkpoint or os.path.join(args.out, "_checkpoint")
    try:
        frm = (table.resolve_ref(args.from_snapshot)
               if args.from_snapshot is not None else None)
        if args.follow:
            r = subscribe_follow(
                table, args.out, checkpoint,
                poll_seconds=args.poll_seconds, max_polls=args.max_polls,
                from_snapshot=frm, coalesce=args.coalesce, fmt=args.format,
            )
        else:
            r = subscribe_once(
                table, args.out, checkpoint,
                from_snapshot=frm, coalesce=args.coalesce, fmt=args.format,
            )
    except (ValueError, CursorExpiredError) as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    print(json.dumps(r))
    return 0


def cmd_rollback(args) -> int:
    from table2qb_spark.lake.table import LakeTable

    _require_table(args.table)
    spark = get_spark("cdc-rollback")
    table = LakeTable(spark, args.table)
    try:
        to = (table.resolve_ref(args.to_snapshot)
              if args.to_snapshot is not None else None)
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    if args.as_of is not None:
        if to is not None:
            print("error: --to-snapshot and --as-of are mutually exclusive",
                  file=sys.stderr)
            return 2
        to = table.snapshot_as_of(_parse_ts_ms(args.as_of)).snapshot_id
    if to is None:
        print("error: one of --to-snapshot / --as-of is required",
              file=sys.stderr)
        return 2
    try:
        snap = table.rollback(
            to, reset_commit_markers=not args.keep_commit_markers
        )
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    print(json.dumps({
        "snapshot": snap.snapshot_id,
        "rolled_back_to": to,
        "rows": snap.summary.get("row_count"),
    }))
    return 0


def cmd_publish(args) -> int:
    """Publish a staged snapshot (write-audit-publish). Metadata-only: no
    Spark session — the audit itself already ran (cdc-verify / cdc-export /
    any read at the staged snapshot id)."""
    from table2qb_spark.lake.table import ConcurrentCommitError, LakeTable

    _require_table(args.table)
    table = LakeTable(None, args.table)
    sid = args.snapshot
    if sid is None:
        staged = table.staged_snapshots()
        if not staged:
            print("error: no staged snapshots", file=sys.stderr)
            return 1
        sid = staged[0]
    try:
        snap = table.publish_snapshot(sid)
    except (ValueError, FileNotFoundError, ConcurrentCommitError) as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    print(json.dumps({
        "published": sid,
        "commit_id": snap.commit_id,
        "rows": snap.summary.get("row_count"),
    }))
    return 0


def cmd_discard(args) -> int:
    from table2qb_spark.lake.table import ConcurrentCommitError, LakeTable

    _require_table(args.table)
    table = LakeTable(None, args.table)
    try:
        table.discard_snapshot(args.snapshot)
    except (ValueError, FileNotFoundError, ConcurrentCommitError) as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    print(json.dumps({"discarded": args.snapshot}))
    return 0


def cmd_tag(args) -> int:
    """Named snapshot refs (Iceberg tags): create/delete/list. Metadata-only
    — no Spark session is started; a tag pins its snapshot against
    cdc-expire and is accepted anywhere a snapshot id is (cdc-export
    --snapshot, cdc-diff --from/--to-snapshot, cdc-rollback --to-snapshot,
    prep-data --snapshot/--since-snapshot)."""
    from table2qb_spark.lake.table import LakeTable

    _require_table(args.table)
    table = LakeTable(None, args.table)  # tag ops never read data
    try:
        if args.create:
            sid = (table.resolve_ref(args.snapshot)
                   if args.snapshot is not None else None)
            doc = table.create_tag(args.create, snapshot_id=sid,
                                   force=args.force)
            print(json.dumps(doc))
        elif args.delete:
            table.delete_tag(args.delete)
            print(json.dumps({"deleted": args.delete}))
        else:
            print(json.dumps(table.list_tags()))
    except (ValueError, FileNotFoundError) as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    return 0


def cmd_branch(args) -> int:
    """Writable branch refs (Iceberg branches): create/delete/list/
    fast-forward. create/delete/list are metadata-only (no Spark session);
    --ff publishes the branch's staged chain onto main stepwise (each step
    the proven publish sequence; resumable after a crash). Branch heads are
    accepted anywhere a snapshot ref is (resolve_ref reads both ref kinds),
    so `cdc-export --snapshot NAME` audits a branch before fast-forwarding."""
    from table2qb_spark.lake.table import ConcurrentCommitError, LakeTable

    _require_table(args.table)
    table = LakeTable(None, args.table)  # ref ops never read data
    try:
        if args.create:
            sid = (table.resolve_ref(args.snapshot)
                   if args.snapshot is not None else None)
            print(json.dumps(table.create_branch(args.create, snapshot_id=sid)))
        elif args.delete:
            table.delete_branch(args.delete)
            print(json.dumps({"deleted": args.delete}))
        elif args.ff:
            snap = table.fast_forward(args.ff)
            print(json.dumps({
                "fast_forwarded": args.ff,
                "snapshot_id": snap.snapshot_id,
                "row_count": snap.summary.get("row_count"),
            }))
        else:
            refs = table.list_tags()
            out = {}
            for name, doc in refs.items():
                if doc.get("type") != "branch":
                    continue
                out[name] = dict(doc, chain=table.branch_chain(name))
            print(json.dumps(out))
    except (ValueError, FileNotFoundError, ConcurrentCommitError) as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    return 0


def cmd_dlq(args) -> int:
    """Dead-letter-queue ops (cdc/dlq.py): report the reason breakdown of
    pending quarantine dirs, or --redrive the repairable (null_seq) rows
    back into the table with fresh sequence numbers, exactly once."""
    from table2qb_spark.cdc.dlq import dlq_report, redrive
    from table2qb_spark.lake.table import LakeTable

    _require_table(args.table)
    spark = get_spark("cdc-dlq")
    if args.redrive:
        out = redrive(spark, LakeTable(spark, args.table), args.dlq)
    else:
        out = dlq_report(spark, args.dlq)
    print(json.dumps(out))
    return 0


def cmd_cdc_verify(args) -> int:
    """Order-insensitive sha256 of the table's (live) state — the replay /
    resume convergence probe, as a CLI."""
    from table2qb_spark.cdc.verify import table_sha256
    from table2qb_spark.lake.table import LakeTable

    _require_table(args.table)
    spark = get_spark("cdc-verify")
    table = LakeTable(spark, args.table)
    df = table.read_live() if args.live else table.read()
    print(json.dumps({
        "sha256": table_sha256(df),
        "rows": df.count(),
        "snapshot": table.current_snapshot_id(),
    }))
    return 0


def cmd_prep_data(args) -> int:
    from table2qb_spark.ops.prep import run_prep

    _require_file(args.documents, "documents parquet")
    spark = get_spark("prep-data")
    def _lang_floats(spec: str) -> dict[str, float]:
        out = {}
        for part in spec.split(","):
            lang, v = part.split("=", 1)
            out[lang.strip()] = float(v)
        return out

    fractions = _lang_floats(args.sample) if args.sample else None
    mixture = _lang_floats(args.mixture) if args.mixture else None
    if args.as_of is not None:
        if args.snapshot is not None:
            print("error: --snapshot and --as-of are mutually exclusive",
                  file=sys.stderr)
            return 1
        from table2qb_spark.lake.table import LakeTable

        if not LakeTable.exists(args.documents):
            print("error: --as-of requires --documents to be a CDC lake "
                  "table root", file=sys.stderr)
            return 1
        args.snapshot = LakeTable(spark, args.documents).snapshot_as_of(
            _parse_ts_ms(args.as_of)
        ).snapshot_id
    if args.since_snapshot is not None:
        from table2qb_spark.lake.table import LakeTable

        if not LakeTable.exists(args.documents):
            print("error: --since-snapshot requires --documents to be a CDC "
                  "lake table root", file=sys.stderr)
            return 1
    quality_model = None
    if args.quality_model:
        _require_file(args.quality_model, "quality model")
        with open(args.quality_model) as f:
            quality_model = json.load(f)
    # --snapshot / --since-snapshot accept tag names (lake refs) as well as
    # numeric ids; resolve them against the lake table before run_prep
    for attr in ("snapshot", "since_snapshot"):
        v = getattr(args, attr)
        if v is None or isinstance(v, int):
            continue
        if str(v).isdigit():
            setattr(args, attr, int(v))
            continue
        from table2qb_spark.lake.table import LakeTable

        if not LakeTable.exists(args.documents):
            print(f"error: a tag ref for --{attr.replace('_', '-')} requires "
                  "--documents to be a CDC lake table root", file=sys.stderr)
            return 1
        try:
            setattr(args, attr,
                    LakeTable(spark, args.documents).resolve_ref(v))
        except ValueError as e:
            print(f"error: {e}", file=sys.stderr)
            return 1
    report = run_prep(
        spark, args.documents, args.out,
        benchmark_path=args.benchmark,
        min_quality=args.min_quality, min_tokens=args.min_tokens,
        fractions=fractions, seq_len=args.seq_len, seed=args.seed,
        scrub_pii=args.scrub_pii, gopher_gates=args.gopher_gates,
        near_dedup_threshold=args.near_dedup,
        embeddings_path=args.semantic_dedup,
        semantic_threshold=args.semantic_threshold,
        existing_path=args.dedup_against,
        snapshot_id=args.snapshot,
        since_snapshot=args.since_snapshot,
        mixture_weights=mixture,
        source_cap=args.cap_source,
        max_bits_per_bigram=args.max_bits_per_bigram,
        bigram_vocab_k=args.bigram_vocab_k,
        c4_line_filter=args.c4_lines,
        url_col=args.url_col,
        quality_model=quality_model,
        quality_keep=args.quality_keep,
        c4_min_words=args.c4_min_words,
    )
    print(json.dumps(report))
    return 0


def _maybe_trig(args, res) -> None:
    """--trig-output: driver-side rewrite of the N-Quads/N-Triples part-file
    directory into ONE TriG file (reference byte-format parity, tasks.clj:
    243-251)."""
    trig = getattr(args, "trig_output", None)
    if not trig:
        return
    if not args.rdf_output:
        raise SystemExit("--trig-output requires --rdf-output")
    from table2qb_spark.pipelines.rdf import nquads_to_trig

    nquads_to_trig(res["rdf_output"], trig)


def cmd_codelist(args) -> int:
    from table2qb_spark.pipelines.codelist import codelist_pipeline

    _require_file(args.codelist_csv, "codelist CSV")
    spark = get_spark("codelist-pipeline")
    res = codelist_pipeline(
        spark, args.output_directory, args.codelist_csv, args.codelist_name,
        args.codelist_slug, args.base_uri, rdf_output=args.rdf_output,
        rdf_graph=args.graph,
    )
    _maybe_trig(args, res)
    print(res["metadata_file"])
    return 0


def cmd_components(args) -> int:
    from table2qb_spark.pipelines.components import components_pipeline

    _require_file(args.input_csv, "input CSV")
    spark = get_spark("components-pipeline")
    res = components_pipeline(
        spark, args.output_directory, args.input_csv, args.base_uri,
        rdf_output=args.rdf_output, rdf_graph=args.graph,
    )
    _maybe_trig(args, res)
    print(res["metadata_file"])
    return 0


def cmd_cube(args) -> int:
    from table2qb_spark.config.columns import load_column_configuration
    from table2qb_spark.pipelines.cube import cube_pipeline

    _require_file(args.input_csv, "input CSV")
    _require_file(args.column_config, "column configuration")
    spark = get_spark("cube-pipeline")
    cols = load_column_configuration(args.column_config)
    res = cube_pipeline(
        spark, args.output_directory, args.input_csv, args.dataset_name,
        args.dataset_slug, cols, args.base_uri, rdf_output=args.rdf_output,
        rdf_graph=args.graph,
    )
    _maybe_trig(args, res)
    print(res["metadata_file"])
    return 0


def cmd_cdc_init(args) -> int:
    from table2qb_spark.lake.table import LakeTable

    spark = get_spark("cdc-init")
    properties = {}
    if getattr(args, "bloom_cols", None):
        from table2qb_spark.lake import bloom

        properties[bloom.PROP_COLUMNS] = args.bloom_cols
        if getattr(args, "bloom_bits", None):
            properties[bloom.PROP_BITS] = int(args.bloom_bits)
        if getattr(args, "bloom_hashes", None):
            properties[bloom.PROP_HASHES] = int(args.bloom_hashes)
    if getattr(args, "cdf", False):
        properties["cdf.enabled"] = "true"
    if getattr(args, "seq_guarded", False):
        from table2qb_spark.cdc.streaming import create_stream_table

        create_stream_table(
            spark, args.table, BASE_SCHEMA, ["repo", "path"], args.buckets,
            properties=properties,
        )
    else:
        LakeTable.create(
            spark, args.table, BASE_SCHEMA, ["repo", "path"], args.buckets,
            properties=properties,
        )
    print(f"created {args.table}")
    return 0


def cmd_cdc_lookup(args) -> int:
    from table2qb_spark.lake.table import LakeTable

    spark = get_spark("cdc-lookup")
    if not LakeTable.exists(args.table):
        print(f"error: no lake table at {args.table} (run cdc-init first)",
              file=sys.stderr)
        return 1
    t = LakeTable(spark, args.table)
    from table2qb_spark.lake.skipping import parse_predicates

    key_values = {}
    for col, op, v in parse_predicates(args.key):
        if op != "=":
            print(f"error: --key takes equality predicates only ({col}{op}{v})",
                  file=sys.stderr)
            return 1
        key_values[col] = v
    sid = t.resolve_ref(args.snapshot) if args.snapshot else None
    report: dict = {}
    try:
        rows = t.lookup(key_values, snapshot_id=sid, prune_report=report).collect()
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    print(json.dumps({
        "rows": [r.asDict(recursive=True) for r in rows],
        "files_scanned": report.get("files_kept"),
        "files_in_bucket": report.get("files_total"),
    }, indent=2, default=str))
    return 0


def cmd_cdc_inspect(args) -> int:
    from table2qb_spark.lake import inspect as meta
    from table2qb_spark.lake.table import LakeTable

    spark = get_spark("cdc-inspect")
    if not LakeTable.exists(args.table):
        print(f"error: no lake table at {args.table} (run cdc-init first)",
              file=sys.stderr)
        return 1
    t = LakeTable(spark, args.table)
    what = args.what
    if what == "snapshots":
        df = meta.snapshots_df(t).orderBy("snapshot_id")
    elif what == "files":
        df = meta.files_df(t, args.snapshot or None).orderBy("bucket", "path")
    elif what == "refs":
        df = meta.refs_df(t).orderBy("name")
    elif what == "properties":
        df = meta.properties_df(t)
    else:  # pragma: no cover — argparse choices guard this
        print(f"error: unknown metadata table {what}", file=sys.stderr)
        return 1
    df.show(n=args.limit, truncate=False)
    return 0


def cmd_cdc_sql(args) -> int:
    """Ad-hoc Spark SQL over lake tables (lake/sql.py): each --table
    name=DIR[@REF] registers a masked time-travelable read as view `name`
    plus name_files/name_snapshots/name_refs/name_properties metadata
    views; the query runs with full Catalyst pushdown through the views.
    --where name=PRED adds manifest-level file skipping to a view's scan
    (same grammar as cdc-export --where; results unaffected, only dead
    I/O). Default output: JSON lines to stdout, capped at --limit;
    --output writes the FULL result distributed (parquet/csv/jsonl);
    --explain prints the physical plan instead of executing."""
    from pyspark.errors import AnalysisException

    from table2qb_spark.lake.sql import register_lake_views

    spark = get_spark("cdc-sql")
    where = {}
    for w in args.where or []:
        name, eq, pred = w.partition("=")
        if not eq:
            print(f"error: bad --where {w!r}: expected name=PRED",
                  file=sys.stderr)
            return 1
        where[name] = pred
    try:
        register_lake_views(spark, args.table, where=where)
        df = spark.sql(args.query)
    except (ValueError, AnalysisException) as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    if args.explain:
        df.explain("formatted")
        return 0
    if args.output:
        from table2qb_spark.ops.prep import _parquet_rows

        rows = None
        if args.output_format == "parquet":
            df.write.mode("overwrite").parquet(args.output)
            rows = _parquet_rows(args.output)
        elif args.output_format == "jsonl":
            df.write.mode("overwrite").json(args.output)
        else:
            df.write.mode("overwrite").option("header", "true").csv(
                args.output
            )
        print(json.dumps({
            "out": args.output, "format": args.output_format, "rows": rows,
        }))
        return 0
    shown = df.limit(args.limit + 1).collect()
    for r in shown[: args.limit]:
        print(json.dumps(r.asDict(recursive=True), default=str))
    if len(shown) > args.limit:
        print(f"(truncated at --limit {args.limit}; use --output for the "
              "full result)", file=sys.stderr)
    return 0


def cmd_cdc_replay(args) -> int:
    from table2qb_spark.cdc.apply import ChangeLogReplayer
    from table2qb_spark.lake.table import LakeTable

    _require_table(args.table)
    spark = get_spark("cdc-replay")
    table = LakeTable(spark, args.table)
    replayer = ChangeLogReplayer(
        spark, table, args.events, batch_events=args.batch_events,
        two_phase_dedup=args.salted_dedup, events_format=args.events_format,
        dlq_dir=args.dlq, merge_on_read=args.merge_on_read, stage=args.stage,
        merge_engine=args.merge_engine,
    )
    results = replayer.run(max_batches=args.max_batches)
    applied = [r for r in results if not r.skipped]
    out = {
        "batches_applied": len(applied),
        "batches_skipped": len(results) - len(applied),
        "rows": table.row_count(),
        "snapshot": table.current_snapshot_id(),
    }
    if args.stage:
        out["staged_snapshots"] = table.staged_snapshots()
    if args.dlq is not None:
        out["dlq_events"] = sum(
            r.stats.get("dlq_events", 0) for r in applied
        )
    print(json.dumps(out))
    return 0


def cmd_cdc_hotkeys(args) -> int:
    """Skew diagnostic: top-k hottest merge keys in a change-event source —
    the report read before picking --salted-dedup / n_salt for a stream
    whose key distribution is unknown."""
    from table2qb_spark.cdc.dedup import hot_keys

    spark = get_spark("cdc-hotkeys")
    if args.events_format == "parquet":
        ev = spark.read.parquet(args.events)
    elif args.events_format == "json":
        ev = spark.read.json(args.events)
    elif args.events_format == "csv":
        ev = spark.read.options(header=True, inferSchema=True).csv(args.events)
    else:
        print(f"error: unknown events format {args.events_format!r}",
              file=sys.stderr)
        return 1
    keys = [k.strip() for k in args.keys.split(",") if k.strip()]
    missing = [k for k in keys if k not in ev.columns]
    if not keys or missing:
        print(f"error: key columns not in events: {missing or '(none given)'}",
              file=sys.stderr)
        return 1
    for r in hot_keys(ev, keys, top_k=args.top).collect():
        print(json.dumps(r.asDict()))
    return 0


def cmd_cdc_stream(args) -> int:
    from table2qb_spark.cdc.streaming import run_stream_to_completion
    from table2qb_spark.lake.table import LakeTable

    _require_table(args.table)
    spark = get_spark("cdc-stream")
    table = LakeTable(spark, args.table)
    mft = args.max_files_per_trigger
    run_stream_to_completion(
        spark, table, args.events, args.checkpoint, dlq_dir=args.dlq,
        merge_on_read=args.merge_on_read,
        merge_engine=args.merge_engine,
        max_files_per_trigger=mft if mft == "auto" else int(mft),
    )
    print(json.dumps({"rows": table.row_count(), "snapshot": table.current_snapshot_id()}))
    return 0


def _require_table(path: str):
    from table2qb_spark.lake.table import LakeTable

    if not LakeTable.exists(path):
        print(f"error: no lake table at {path} (run cdc-init first)", file=sys.stderr)
        raise SystemExit(2)


def cmd_cdc_status(args) -> int:
    from table2qb_spark.lake.table import LakeTable

    _require_table(args.table)
    spark = get_spark("cdc-status")
    table = LakeTable(spark, args.table)
    snap = table.snapshot()
    out = {
        "snapshot": snap.snapshot_id,
        "schema_version": snap.schema_version,
        "columns": [c["name"] for c in snap.current_schema()],
        "summary": snap.summary,
        "commits": snap.n_commits,
        "buckets_with_data": len(snap.files),
    }
    staged = table.staged_snapshots()
    if staged:
        out["staged_snapshots"] = staged
    # merge-on-read debt: equality-delete files/rows accumulated since the
    # last compaction (the read-time mask cost; cdc-compact folds it away)
    del_files = del_rows = 0
    for b in snap.files:
        for e in snap.delete_files(b):
            del_files += 1
            del_rows += int(e.get("rows", 0) or 0)
    if del_files:
        out["mor_delete_files"] = del_files
        out["mor_delete_rows"] = del_rows
    # DLQ observability: total quarantined events across both ingest paths
    # (batch + stream metrics rows share the file); omitted when no ingest
    # ever ran with a DLQ.
    metrics_path = os.path.join(args.table, "_meta", "metrics.jsonl")
    rows = []
    if os.path.exists(metrics_path):
        with open(metrics_path) as f:
            rows = [json.loads(line) for line in f if line.strip()]
        dlq = [r["dlq_events"] for r in rows if "dlq_events" in r]
        if dlq:
            out["dlq_events_total"] = sum(dlq)
    if args.metrics and rows:
        # ingest-health rollup from the per-batch metrics ledger (driver-side
        # file read — the ledger is O(batches), never O(rows))
        def pct(vals, q):
            vals = sorted(vals)
            return vals[min(len(vals) - 1, int(q * (len(vals) - 1) + 0.5))]

        secs = [r["seconds"] for r in rows if r.get("seconds")]
        eps = [r["events_per_sec"] for r in rows if r.get("events_per_sec")]
        ev = sum(int(r.get("batch_events", 0) or 0) for r in rows)
        # the rate sums events and seconds over the SAME rows: bucketed
        # replay rows carry seconds but no event count
        counted = [r for r in rows if "batch_events" in r and r.get("seconds")]
        counted_secs = sum(r["seconds"] for r in counted)
        out["ingest"] = {
            "batches": len(rows),
            "stream_batches": sum(1 for r in rows if r.get("source") == "stream"),
            "events_applied": ev,
            "overall_events_per_sec": (
                round(sum(int(r["batch_events"] or 0) for r in counted)
                      / counted_secs, 1)
                if counted_secs else None
            ),
            "batch_seconds_p50": pct(secs, 0.5) if secs else None,
            "batch_seconds_p95": pct(secs, 0.95) if secs else None,
            "events_per_sec_p50": pct(eps, 0.5) if eps else None,
            "last_lag_events": rows[-1].get("lag_events"),
        }
    print(json.dumps(out, indent=2))
    return 0


def cmd_cdc_fsck(args) -> int:
    """Table integrity check (lake/fsck.py): metadata invariants driver-side
    (O(snapshots + buckets) — the same metadata I/O a commit pays), --deep
    adds a DISTRIBUTED footer-vs-manifest row-count audit. Read-only."""
    from table2qb_spark.lake.fsck import fsck
    from table2qb_spark.lake.table import LakeTable

    _require_table(args.table)
    spark = get_spark("cdc-fsck")
    result = fsck(LakeTable(spark, args.table), deep=args.deep)
    print(json.dumps(result, indent=2))
    return 0 if result["ok"] else 1


def cmd_cdc_profile(args) -> int:
    """Column profiling over the lake's masked, time-travelable read
    (lake/quality.py): one scan, every column's null/distinct/min/max
    together. Drift between snapshots = two profile calls."""
    from table2qb_spark.lake.quality import profile_columns
    from table2qb_spark.lake.table import LakeTable

    _require_table(args.table)
    spark = get_spark("cdc-profile")
    t = LakeTable(spark, args.table)
    sid = t.resolve_ref(args.snapshot) if args.snapshot else None
    cols = [c.strip() for c in args.columns.split(",")] if args.columns else None
    try:
        rows = profile_columns(
            t.read(snapshot_id=sid), cols, exact_distinct=args.exact
        ).collect()
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    print(json.dumps([r.asDict() for r in rows], indent=2, default=str))
    return 0


def cmd_cdc_check(args) -> int:
    """Declarative constraint checks (lake/quality.py) as a publish gate:
    exit 0 iff every rule passed — the WAP composition is
    ``cdc-replay --stage`` -> ``cdc-check --snapshot <staged>`` ->
    ``cdc-publish`` iff this returned 0."""
    from table2qb_spark.lake.quality import check_constraints
    from table2qb_spark.lake.table import LakeTable

    _require_table(args.table)
    spark = get_spark("cdc-check")
    t = LakeTable(spark, args.table)
    sid = t.resolve_ref(args.snapshot) if args.snapshot else None
    try:
        rows = check_constraints(t.read(snapshot_id=sid), args.rule).collect()
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    out = [r.asDict() for r in rows]
    print(json.dumps(out, indent=2, default=str))
    return 0 if all(r["passed"] for r in out) else 1


def cmd_cdc_alter(args) -> int:
    """Explicit DDL on the lake table (payload-driven evolution handles the
    CDC stream's ADD/RENAME automatically; this is the operator surface for
    deliberate DROP / WIDEN / ADD / RENAME — one metadata-only commit)."""
    from table2qb_spark.lake.table import LakeTable

    _require_table(args.table)

    def _pairs(spec: str | None) -> dict:
        out = {}
        for part in (spec or "").split(","):
            part = part.strip()
            if part:
                if "=" not in part:
                    raise ValueError(f"expected a=b, got {part!r}")
                a, b = part.split("=", 1)
                out[a.strip()] = b.strip()
        return out

    def _typed(spec: str | None) -> list:
        out = []
        for part in (spec or "").split(","):
            part = part.strip()
            if part:
                if ":" not in part:
                    raise ValueError(f"expected name:type, got {part!r}")
                n, t = part.split(":", 1)
                out.append((n.strip(), t.strip()))
        return out

    spark = get_spark("cdc-alter")
    t = LakeTable(spark, args.table)
    try:
        props = _pairs(getattr(args, "set_property", None))
        if props:
            snap = t.set_properties(props)
        else:
            snap = t.evolve_schema(
                add_columns=_typed(args.add),
                rename_columns=_pairs(args.rename),
                drop_columns=[
                    c.strip() for c in (args.drop or "").split(",") if c.strip()
                ],
                widen_columns=_pairs(args.widen),
            )
    except ValueError as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    print(json.dumps({
        "snapshot": snap.snapshot_id,
        "schema_version": snap.schema_version,
        "columns": snap.current_schema(),
        "properties": snap.properties,
    }, indent=2))
    return 0


def cmd_cdc_delete(args) -> int:
    """Predicate DELETE (lake/dml.py): COW rewrites only touched buckets;
    positional appends position-delete files (no data rewritten — the
    100 TB shape for small deletes). Idempotent by --commit-id."""
    from pyspark.errors import AnalysisException

    from table2qb_spark.lake.dml import delete_where
    from table2qb_spark.lake.table import LakeTable

    _require_table(args.table)
    spark = get_spark("cdc-delete")
    t = LakeTable(spark, args.table)
    cid = args.commit_id or f"delete-{t.current_snapshot_id()}"
    try:
        result = delete_where(
            t, args.where, cid, strategy=args.strategy,
            positional_max_fraction=args.positional_max_fraction,
            dry_run=args.dry_run,
        )
    except (ValueError, AnalysisException) as e:
        # AnalysisException: the predicate references a column the table
        # doesn't have, or isn't valid Spark SQL — a user error, not a bug
        print(f"error: {e}", file=sys.stderr)
        return 1
    print(json.dumps(result, indent=2))
    return 0


def cmd_cdc_update(args) -> int:
    """Predicate UPDATE (lake/dml.py, copy-on-write): SET col=expr over
    matching rows; only touched buckets rewrite. Key columns immutable."""
    from pyspark.errors import AnalysisException

    from table2qb_spark.lake.dml import update_where
    from table2qb_spark.lake.table import LakeTable

    _require_table(args.table)
    assignments = {}
    # repeatable flag, one col=EXPR each — the EXPR may contain commas
    # (function calls), so no comma-splitting here
    for part in args.set or []:
        part = part.strip()
        if part:
            if "=" not in part:
                print(f"error: expected col=EXPR, got {part!r}", file=sys.stderr)
                return 1
            c, e = part.split("=", 1)
            assignments[c.strip()] = e.strip()
    if not assignments:
        print("error: --set requires at least one col=EXPR", file=sys.stderr)
        return 1
    spark = get_spark("cdc-update")
    t = LakeTable(spark, args.table)
    cid = args.commit_id or f"update-{t.current_snapshot_id()}"
    try:
        result = update_where(
            t, args.where, assignments, cid,
            strategy=args.strategy, dry_run=args.dry_run,
        )
    except (ValueError, AnalysisException) as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    print(json.dumps(result, indent=2))
    return 0


def cmd_cdc_merge_into(args) -> int:
    """Generic MERGE INTO (lake/dml.py): source rows joined on the table's
    key columns; per-clause intent instead of a CDC op/seq envelope. COW —
    only source-touched buckets rewrite."""
    from pyspark.errors import AnalysisException

    from table2qb_spark.lake.dml import merge_into
    from table2qb_spark.lake.table import LakeTable

    _require_table(args.table)
    assignments = {}
    for part in args.update or []:
        part = part.strip()
        if part:
            if "=" not in part:
                print(f"error: expected col=EXPR, got {part!r}", file=sys.stderr)
                return 1
            c, e = part.split("=", 1)
            assignments[c.strip()] = e.strip()
    update = "*" if args.update_all else (assignments or None)
    delete = args.delete_where
    if delete and delete.strip().lower() == "true":
        delete = True
    spark = get_spark("cdc-merge-into")
    source = getattr(spark.read, args.source_format)(args.source)
    t = LakeTable(spark, args.table)
    cid = args.commit_id or f"merge-{t.current_snapshot_id()}"
    try:
        result = merge_into(
            t,
            source,
            cid,
            when_matched_update=update,
            when_matched_delete=delete or False,
            when_not_matched_insert=not args.no_insert,
            update_condition=args.update_where,
            insert_condition=args.insert_where,
        )
    except (ValueError, AnalysisException) as e:
        print(f"error: {e}", file=sys.stderr)
        return 1
    print(json.dumps(result, indent=2))
    return 0


def cmd_cdc_schema(args) -> int:
    """Schema-evolution audit: the table's current column set and, with
    --history, every schema version with per-column lineage — columns are
    tracked by immutable id, so a rename shows as the same id under a new
    name (the column-id mapping read() uses to stitch old files onto the
    current schema)."""
    from table2qb_spark.lake.table import LakeTable

    _require_table(args.table)
    spark = get_spark("cdc-schema")
    snap = LakeTable(spark, args.table).snapshot()
    out: dict = {
        "snapshot": snap.snapshot_id,
        "schema_version": snap.schema_version,
        "columns": snap.current_schema(),
    }
    if args.history:
        versions = sorted(snap.schemas, key=int)
        out["versions"] = {v: snap.schemas[v] for v in versions}
        # per-column lineage across versions, keyed by immutable id
        lineage: dict[int, dict] = {}
        for v in versions:
            for c in snap.schemas[v]:
                ent = lineage.setdefault(
                    c["id"], {"names": [], "first_version": int(v)}
                )
                if not ent["names"] or ent["names"][-1] != c["name"]:
                    ent["names"].append(c["name"])
        out["column_lineage"] = {
            str(cid): {
                "first_version": ent["first_version"],
                "names": ent["names"],
                "renamed": len(ent["names"]) > 1,
            }
            for cid, ent in sorted(lineage.items())
        }
    print(json.dumps(out, indent=2))
    return 0


def _parse_ts_ms(spec: str) -> int:
    """A --as-of value: integer epoch millis, or an ISO 8601 date/datetime
    (naive values are taken as UTC — the engine's session timezone)."""
    try:
        return int(spec)
    except ValueError:
        pass
    from datetime import datetime, timezone

    dt = datetime.fromisoformat(spec)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1000)


def cmd_cdc_export(args) -> int:
    """Dump the lake table state — current or time-travel (--snapshot),
    optionally bucket-pruned and column-pruned — to parquet or CSV. The
    read path is LakeTable.read (schema-version-mapped, column-id renames
    applied), so an export at --snapshot N reproduces exactly what the
    table looked like then. The reported row count comes from parquet
    footers (metadata-only); CSV exports report rows=null rather than
    paying a second pass."""
    from table2qb_spark.lake.table import LakeTable
    from table2qb_spark.ops.prep import _parquet_rows

    _require_table(args.table)
    spark = get_spark("cdc-export")
    table = LakeTable(spark, args.table)
    if args.as_of is not None:
        if args.snapshot is not None:
            print("error: --snapshot and --as-of are mutually exclusive",
                  file=sys.stderr)
            return 1
        args.snapshot = table.snapshot_as_of(_parse_ts_ms(args.as_of)).snapshot_id
    elif args.snapshot is not None:
        try:
            args.snapshot = table.resolve_ref(args.snapshot)
        except ValueError as e:
            print(f"error: {e}", file=sys.stderr)
            return 1
    buckets = (
        [int(b) for b in args.buckets.split(",")] if args.buckets else None
    )
    prune: dict = {}
    df = table.read(
        snapshot_id=args.snapshot, buckets=buckets,
        where=args.where, prune_report=prune if args.where else None,
    )
    if args.columns:
        df = df.select(*[c.strip() for c in args.columns.split(",")])
    if args.shards:
        # deterministic training-shard layout: md5-draw shard + in-shard
        # position (ops/sampling.assign_shards), written as shard=K
        # partition dirs — the same export re-shards identically on any
        # engine at any parallelism
        from table2qb_spark.ops.sampling import assign_shards

        if not args.shard_key:
            print("error: --shards requires --shard-key", file=sys.stderr)
            return 1
        if args.shard_key not in df.columns:
            print(f"error: --shard-key {args.shard_key!r} not in export "
                  f"columns {df.columns}", file=sys.stderr)
            return 1
        df = assign_shards(df, args.shards, args.shard_key)
    rows = None
    if args.format == "parquet":
        w = df.write.mode("overwrite")
        if args.shards:
            w = w.partitionBy("shard")
        w.parquet(args.out)
        rows = _parquet_rows(args.out)
    elif args.format == "jsonl":
        # JSON Lines — the training-pipeline interchange format (one JSON
        # object per line; Spark's json sink IS jsonl). Shard dirs apply
        # as for parquet; no footer metadata, so rows stays null.
        w = df.write.mode("overwrite")
        if args.shards:
            w = w.partitionBy("shard")
        w.json(args.out)
    else:
        # CSV has no footer metadata; counting would cost a second pass
        # over the export, so rows stays null (same principle as prep's
        # footer-only report counts).
        df.write.mode("overwrite").option("header", "true").csv(args.out)
    print(json.dumps({
        "out": args.out,
        "format": args.format,
        "rows": rows,
        "snapshot": (args.snapshot if args.snapshot is not None
                     else table.current_snapshot_id()),
        "buckets": buckets,
        "shards": args.shards,
        **({"where": args.where, "files_pruned":
            prune.get("files_total", 0) - prune.get("files_kept", 0),
            "files_total": prune.get("files_total", 0)} if args.where else {}),
    }))
    return 0


def cmd_datagen(args) -> int:
    from table2qb_spark.datagen import changelog as gen

    spark = get_spark("datagen")
    ev = gen.gen_change_log(spark, args.events_n, args.repos, args.paths_per_repo, seed=args.seed)
    gen.write_change_log(ev, args.out, n_files=args.files)
    print(args.out)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = _Parser(prog="table2qb_spark")
    sub = p.add_subparsers(dest="task", required=True, parser_class=_Parser)

    sub.add_parser("list").set_defaults(fn=cmd_list)

    c = sub.add_parser("help")
    c.add_argument("task_name", nargs="?")
    c.set_defaults(fn=cmd_help)

    c = sub.add_parser("uris")
    c.add_argument("pipeline", nargs="?")
    c.add_argument("uri_templates", nargs="?")
    c.set_defaults(fn=cmd_uris)

    # reference-CLI task forms: exec (pipeline -> single RDF file),
    # csvw (pipeline -> CSVW artifacts only); pipeline-specific options are
    # parsed inside cmd_exec for message-parity with the reference
    for task in ("exec", "csvw"):
        c = sub.add_parser(task)
        c.add_argument("pipeline", nargs="?")
        c.add_argument("rest", nargs=argparse.REMAINDER)
        c.set_defaults(fn=cmd_exec)

    c = sub.add_parser("describe")
    c.add_argument("pipeline")
    c.set_defaults(fn=cmd_describe)

    c = sub.add_parser("cdc-compact")
    c.add_argument("--table", required=True)
    c.add_argument("--purge-below-seq", type=int, default=None)
    c.add_argument("--sort-by", default=None, help="sorted rewrite: comma-separated cluster columns (tight file stats for data skipping)")
    c.add_argument("--max-records-per-file", type=int, default=None)
    c.add_argument("--zorder", default=None,
                   help="z-ordered rewrite: comma-separated columns — "
                        "Morton-curve clustering over quantile ranks, so "
                        "reads prune files on predicates over ANY listed "
                        "column (mutually exclusive with --sort-by)")
    c.add_argument("--zorder-bits", type=int, default=8,
                   help="rank bits per z-order column (ncols x bits <= 32)")
    c.add_argument("--min-delete-ratio", type=float, default=None,
                   help="merge-on-read debt targeting: rewrite only buckets "
                        "whose equality-delete rows / data rows >= RATIO "
                        "(metadata-only selection from manifest stats)")
    c.set_defaults(fn=cmd_compact)

    c = sub.add_parser("cdc-rebucket")
    c.add_argument("--table", required=True)
    c.add_argument("--buckets", type=int, required=True,
                   help="new bucket count: one distributed full rewrite; "
                        "historical snapshots keep their old layout "
                        "(time travel unaffected)")
    c.add_argument("--sort-by", default=None,
                   help="cluster within the new buckets during the same "
                        "rewrite (comma-separated columns)")
    c.add_argument("--max-records-per-file", type=int, default=None)
    c.set_defaults(fn=cmd_rebucket)

    c = sub.add_parser("cdc-expire")
    c.add_argument("--table", required=True)
    c.add_argument("--keep-last", type=int, default=2)
    c.add_argument("--older-than-ms", type=int, default=None)
    c.set_defaults(fn=cmd_expire)

    c = sub.add_parser("cdc-diff")
    c.add_argument("--table", required=True)
    c.add_argument("--from-snapshot", required=True, metavar="REF",
                   help="snapshot id or tag name")
    c.add_argument("--to-snapshot", default=None, metavar="REF",
                   help="snapshot id or tag name (default: current)")
    c.add_argument("--out", default=None,
                   help="write the change rows as parquet instead of printing counts")
    c.add_argument("--envelope", action="store_true",
                   help="outbound CDC: emit Debezium-shaped change events "
                        "(op c/u/d, before/after row-image structs, key "
                        "columns flattened, snapshot source metadata) "
                        "instead of flat post-image rows")
    c.set_defaults(fn=cmd_diff)

    c = sub.add_parser("cdc-replicate")
    c.add_argument("--source", required=True, help="source table directory")
    c.add_argument("--target", required=True,
                   help="mirror table directory (created on first call)")
    c.add_argument("--buckets", type=int, default=None,
                   help="target bucket count (create only; default: "
                        "source's — a mirror may size its own layout)")
    c.add_argument("--full-resync", action="store_true",
                   help="reconcile from a full source read (expired "
                        "cursor recovery; also deletes target keys the "
                        "source no longer has)")
    c.set_defaults(fn=cmd_cdc_replicate)

    c = sub.add_parser("cdc-materialize")
    c.add_argument("--view", required=True,
                   help="view table directory (created on first call)")
    c.add_argument("--source", default=None,
                   help="source lake table (create only; persisted in the "
                        "view's properties afterwards)")
    c.add_argument("--group-by", default=None, metavar="COLS",
                   help="comma-separated group columns (create only)")
    c.add_argument("--agg", action="append", default=None,
                   metavar="NAME=count(*)|NAME=sum(EXPR)",
                   help="aggregate spec, repeatable (create only); "
                        "count(*) and sum(EXPR) are self-maintainable — "
                        "min/max need --full-refresh semantics and are "
                        "out of scope")
    c.add_argument("--buckets", type=int, default=16,
                   help="view table bucket count (create only)")
    c.add_argument("--full-refresh", action="store_true",
                   help="rebuild from a full scan (expired cursor, or to "
                        "squash float-sum drift)")
    c.set_defaults(fn=cmd_cdc_materialize)

    c = sub.add_parser("cdc-clone")
    c.add_argument("--source", required=True, help="source table directory")
    c.add_argument("--dest", required=True, help="new table directory")
    c.add_argument("--snapshot", default=None, metavar="REF",
                   help="source snapshot id or tag (default: current); "
                        "clone from a TAG so source expiry cannot reclaim "
                        "the referenced files")
    c.set_defaults(fn=cmd_cdc_clone)

    c = sub.add_parser("cdc-subscribe")
    c.add_argument("--table", required=True)
    c.add_argument("--out", required=True,
                   help="subscription output root: bootstrap_<sid>/ and "
                        "step_<from>_<to>/ envelope directories land here")
    c.add_argument("--checkpoint", default=None,
                   help="cursor directory (default: <out>/_checkpoint); one "
                        "subscriber per checkpoint dir")
    c.add_argument("--from-snapshot", default=None, metavar="REF",
                   help="start streaming from this snapshot id/tag instead "
                        "of bootstrapping the full state (first call only)")
    c.add_argument("--coalesce", action="store_true",
                   help="one (cursor, current] diff per poll instead of one "
                        "step per committed snapshot (collapses "
                        "intermediate versions)")
    c.add_argument("--format", default="parquet",
                   choices=["parquet", "jsonl"])
    c.add_argument("--follow", action="store_true",
                   help="poll loop instead of a single pass")
    c.add_argument("--poll-seconds", type=float, default=10.0)
    c.add_argument("--max-polls", type=int, default=None,
                   help="stop after N polls (default: forever)")
    c.set_defaults(fn=cmd_cdc_subscribe)

    c = sub.add_parser("cdc-rollback")
    c.add_argument("--table", required=True)
    c.add_argument("--to-snapshot", default=None, metavar="REF",
                   help="snapshot id or tag name")
    c.add_argument("--as-of", default=None, metavar="TS",
                   help="roll back to the latest snapshot at or before TS "
                        "(epoch millis or ISO 8601)")
    c.add_argument("--keep-commit-markers", action="store_true",
                   help="keep the undone commits marked as applied (replays "
                        "will exactly-once-SKIP them; default un-marks them "
                        "so a replay re-applies the undone batches)")
    c.set_defaults(fn=cmd_rollback)

    c = sub.add_parser("cdc-tag")
    c.add_argument("--table", required=True)
    c.add_argument("--create", default=None, metavar="NAME")
    c.add_argument("--delete", default=None, metavar="NAME")
    c.add_argument("--snapshot", default=None, metavar="REF",
                   help="snapshot to tag (default: current)")
    c.add_argument("--force", action="store_true",
                   help="move an existing tag instead of failing")
    c.set_defaults(fn=cmd_tag)

    c = sub.add_parser("cdc-branch")
    c.add_argument("--table", required=True)
    c.add_argument("--create", default=None, metavar="NAME")
    c.add_argument("--delete", default=None, metavar="NAME")
    c.add_argument("--ff", default=None, metavar="NAME",
                   help="fast-forward main to this branch's head")
    c.add_argument("--snapshot", default=None, metavar="REF",
                   help="snapshot to branch from (default: current)")
    c.set_defaults(fn=cmd_branch)

    c = sub.add_parser("cdc-dlq")
    c.add_argument("--table", required=True)
    c.add_argument("--dlq", required=True)
    c.add_argument("--redrive", action="store_true",
                   help="re-apply repairable rows with fresh seqs")
    c.set_defaults(fn=cmd_dlq)

    c = sub.add_parser("cdc-verify")
    c.add_argument("--table", required=True)
    c.add_argument("--live", action="store_true",
                   help="hash the live view (tombstones excluded)")
    c.set_defaults(fn=cmd_cdc_verify)

    c = sub.add_parser("cdc-export")
    c.add_argument("--table", required=True)
    c.add_argument("--out", required=True)
    c.add_argument("--snapshot", default=None, metavar="REF",
                   help="time-travel: export the table as of this snapshot "
                        "id or tag name")
    c.add_argument("--as-of", default=None, metavar="TS",
                   help="time-travel by timestamp: epoch millis or ISO 8601 "
                        "(naive = UTC); exports the latest snapshot "
                        "committed at or before TS")
    c.add_argument("--buckets", default=None,
                   help="comma-separated bucket ids (prunes the read)")
    c.add_argument("--columns", default=None,
                   help="comma-separated column projection")
    c.add_argument("--where", default=None,
                   help="predicate conjunction over table columns, e.g. "
                        "'repo=org/repo-00003' or 'lang=py,commit>=c900' "
                        "(ops: = < <= > >=) — prunes whole files via the "
                        "manifest min/max stats before filtering")
    c.add_argument("--format", choices=["parquet", "csv", "jsonl"], default="parquet")
    c.add_argument("--shards", type=int, default=None,
                   help="deterministic training-shard export: add md5-drawn "
                        "shard + in-shard pos columns and write shard=K "
                        "partition dirs (parquet)")
    c.add_argument("--shard-key", default=None,
                   help="column the shard draw is keyed on (required with "
                        "--shards)")
    c.set_defaults(fn=cmd_cdc_export)

    c = sub.add_parser("prep-data")
    c.add_argument("--documents", required=True,
                   help="input documents parquet, or a CDC lake table root "
                        "(VERSION pointer detected; reads live state)")
    c.add_argument("--near-dedup", type=float, default=None, metavar="JACCARD",
                   help="also near-dedup: LSH candidates verified by n-gram "
                        "jaccard at this threshold, transitive groups, keep "
                        "one doc per group")
    c.add_argument("--gopher-gates", action="store_true",
                   help="apply the standard Gopher/C4 page-quality "
                        "thresholds (mean word length, symbol ratio, "
                        "bullet/ellipsis lines, lorem ipsum)")
    c.add_argument("--quality-model", default=None, metavar="FILE",
                   help="model-based quality gate: JSON "
                        "{weights, intercept, num_buckets} from "
                        "ops.classifier.fit_quality_classifier; docs "
                        "scoring below --quality-keep drop")
    c.add_argument("--quality-keep", type=float, default=0.5,
                   help="keep threshold for --quality-model (default 0.5)")
    c.add_argument("--url-col", default=None, metavar="COL",
                   help="URL-level dedup first: canonicalize COL (case/"
                        "www./default-port/tracking-param/fragment "
                        "normalization) and keep one doc per canonical URL "
                        "before any content stage")
    c.add_argument("--c4-lines", action="store_true",
                   help="C4 LINE-level cleaning before dedup: keep only "
                        "lines with terminal punctuation, >= --c4-min-words "
                        "words and no 'javascript'; docs with no surviving "
                        "line are dropped")
    c.add_argument("--c4-min-words", type=int, default=5)
    c.add_argument("--out", required=True)
    c.add_argument("--benchmark", default=None,
                   help="benchmark corpus parquet for n-gram decontamination")
    c.add_argument("--min-quality", type=float, default=0.0)
    c.add_argument("--min-tokens", type=int, default=5)
    c.add_argument("--sample", default=None,
                   help="per-language keep fractions, e.g. en=0.5,de=0.25")
    c.add_argument("--mixture", default=None,
                   help="per-language epoch weights (up- AND down-sampling "
                        "with repetition), e.g. en=1.5,de=2.0,fr=0.25; "
                        "output rows carry an epoch copy index; strata not "
                        "listed are dropped")
    c.add_argument("--seq-len", type=int, default=1024)
    c.add_argument("--seed", type=int, default=42)
    c.add_argument("--scrub-pii", action="store_true",
                   help="redact emails/IPs/phone numbers with typed tokens")
    c.add_argument("--semantic-dedup", default=None, metavar="EMB_PARQUET",
                   help="also SemDeDup against a (doc_id, embedding) "
                        "parquet: collapse docs whose embeddings share an "
                        "epsilon-neighborhood (catches paraphrases)")
    c.add_argument("--semantic-threshold", type=float, default=0.95,
                   help="cosine threshold for --semantic-dedup")
    c.add_argument("--dedup-against", default=None, metavar="CORPUS_PARQUET",
                   help="incremental-ingest mode: treat --documents as a "
                        "NEW batch and drop content already present in this "
                        "existing corpus (cross-corpus anti-join dedup; "
                        "plain parquet or a lake table root)")
    c.add_argument("--snapshot", default=None, metavar="REF",
                   help="when --documents is a CDC lake table root, prep "
                        "that snapshot's live state (time-travel) instead "
                        "of the current one — a snapshot id or tag name")
    c.add_argument("--as-of", default=None, metavar="TS",
                   help="time-travel by timestamp instead of snapshot id: "
                        "epoch millis or ISO 8601 (naive = UTC)")
    c.add_argument("--max-bits-per-bigram", type=float, default=None,
                   metavar="BITS",
                   help="CCNet-style LM gate: drop docs whose mean "
                        "-log2 P(w2|w1) under a corpus-fit bigram model "
                        "exceeds BITS (noisy/OOV-heavy text)")
    c.add_argument("--bigram-vocab-k", type=int, default=5000,
                   help="vocabulary size for --max-bits-per-bigram")
    c.add_argument("--cap-source", type=int, default=None, metavar="N",
                   help="domain balancing: cap each source's contribution "
                        "at ~N docs (deterministic per-source downsample; "
                        "sources under the cap pass through untouched)")
    c.add_argument("--since-snapshot", default=None, metavar="REF",
                   help="incremental prep (lake input only): prep ONLY the "
                        "documents inserted/updated since this snapshot "
                        "(bucket-pruned snapshot diff), not the whole "
                        "corpus; pair with --dedup-against to skip "
                        "re-ingested identical content")
    c.set_defaults(fn=cmd_prep_data)

    c = sub.add_parser("codelist-pipeline")
    c.add_argument("--codelist-csv", required=True)
    c.add_argument("--codelist-name", required=True)
    c.add_argument("--codelist-slug", required=True)
    c.add_argument("--base-uri", default="http://gss-data.org.uk/")
    c.add_argument("--output-directory", required=True)
    c.add_argument("--rdf-output", default=None,
                   help="also write the table as N-Triples (distributed part files)")
    c.add_argument("--graph", default=None,
                   help="named-graph URI: emit N-Quads in this graph "
                        "(the reference's TriG --graph, as the line-oriented "
                        "distributed serialization)")
    c.add_argument("--trig-output", default=None,
                   help="also rewrite the RDF output directory into ONE TriG "
                        "file (reference byte-format parity; driver-side "
                        "post-pass, requires --rdf-output)")
    c.set_defaults(fn=cmd_codelist)

    c = sub.add_parser("components-pipeline")
    c.add_argument("--input-csv", required=True)
    c.add_argument("--base-uri", default="http://gss-data.org.uk/")
    c.add_argument("--output-directory", required=True)
    c.add_argument("--rdf-output", default=None,
                   help="also write the table as N-Triples (distributed part files)")
    c.add_argument("--graph", default=None,
                   help="named-graph URI: emit N-Quads in this graph "
                        "(the reference's TriG --graph, as the line-oriented "
                        "distributed serialization)")
    c.add_argument("--trig-output", default=None,
                   help="also rewrite the RDF output directory into ONE TriG "
                        "file (reference byte-format parity; driver-side "
                        "post-pass, requires --rdf-output)")
    c.set_defaults(fn=cmd_components)

    c = sub.add_parser("cube-pipeline")
    c.add_argument("--input-csv", required=True)
    c.add_argument("--dataset-name", required=True)
    c.add_argument("--dataset-slug", required=True)
    c.add_argument("--column-config", required=True)
    c.add_argument("--base-uri", default="http://gss-data.org.uk/")
    c.add_argument("--output-directory", required=True)
    c.add_argument("--rdf-output", default=None,
                   help="also write observation triples as N-Triples part files")
    c.add_argument("--graph", default=None,
                   help="named-graph URI: emit N-Quads in this graph "
                        "(the reference's TriG --graph, as the line-oriented "
                        "distributed serialization)")
    c.add_argument("--trig-output", default=None,
                   help="also rewrite the RDF output directory into ONE TriG "
                        "file (reference byte-format parity; driver-side "
                        "post-pass, requires --rdf-output)")
    c.set_defaults(fn=cmd_cube)

    c = sub.add_parser("cdc-init")
    c.add_argument("--table", required=True)
    c.add_argument("--buckets", type=int, default=64)
    c.add_argument("--seq-guarded", action="store_true",
                   help="declare the _seq/_deleted bookkeeping columns "
                        "(out-of-order safety across batches; required for "
                        "cdc-replay --merge-on-read and cdc-stream tables)")
    c.add_argument("--bloom-cols",
                   help="comma-separated columns to build per-file bloom "
                        "filters for (equality-predicate file skipping; "
                        "lake/bloom.py)")
    c.add_argument("--bloom-bits", type=int,
                   help="bloom size in bits (default 8192)")
    c.add_argument("--bloom-hashes", type=int,
                   help="bloom probes per value (default 4)")
    c.add_argument("--cdf", action="store_true",
                   help="capture a per-commit change feed at merge time "
                        "(lake/cdf.py) so cdc-materialize / cdc-replicate "
                        "/ cdc-subscribe / cdc-diff --envelope read "
                        "O(changed rows) instead of diffing snapshots")
    c.set_defaults(fn=cmd_cdc_init)

    c = sub.add_parser("cdc-lookup")
    c.add_argument("--table", required=True)
    c.add_argument("--key", required=True,
                   help="comma-separated col=value equality predicates; must "
                        "cover every key column (bucket-function routing)")
    c.add_argument("--snapshot", help="snapshot id or tag (time travel)")
    c.set_defaults(fn=cmd_cdc_lookup)

    c = sub.add_parser("cdc-inspect")
    c.add_argument("--table", required=True)
    c.add_argument("--what", required=True,
                   choices=["snapshots", "files", "refs", "properties"])
    c.add_argument("--snapshot", help="snapshot id or tag (files only)")
    c.add_argument("--limit", type=int, default=100)
    c.set_defaults(fn=cmd_cdc_inspect)

    c = sub.add_parser("cdc-sql")
    c.add_argument("--table", action="append", required=True,
                   metavar="NAME=DIR[@REF]",
                   help="register lake table DIR (at snapshot/tag REF) as "
                        "view NAME; repeatable — joins across tables are "
                        "ordinary Spark joins")
    c.add_argument("--query", required=True, help="Spark SQL to run")
    c.add_argument("--where", action="append", metavar="NAME=PRED",
                   help="manifest-level file skipping for view NAME "
                        "(simple conjunction, e.g. t=repo=alpha,seq>=9); "
                        "repeatable")
    c.add_argument("--limit", type=int, default=100,
                   help="stdout row cap (default 100); --output is uncapped")
    c.add_argument("--output", help="write the full result here instead of "
                                    "printing rows")
    c.add_argument("--output-format", default="parquet",
                   choices=["parquet", "csv", "jsonl"])
    c.add_argument("--explain", action="store_true",
                   help="print the physical plan instead of executing")
    c.set_defaults(fn=cmd_cdc_sql)

    c = sub.add_parser("cdc-replay")
    c.add_argument("--table", required=True)
    c.add_argument("--events", required=True)
    c.add_argument("--events-format", default="parquet",
                   choices=["parquet", "json", "csv"])
    c.add_argument("--batch-events", type=int, default=1_000_000)
    c.add_argument("--max-batches", type=int, default=None)
    c.add_argument("--salted-dedup", action="store_true")
    c.add_argument("--dlq", default=None, metavar="DIR",
                   help="quarantine malformed events (bad op / null key / "
                        "null seq) to DIR/<commit_id>/ instead of "
                        "mis-applying or dropping them")
    c.add_argument("--merge-on-read", action="store_true",
                   help="append winners + equality-delete files instead of "
                        "rewriting touched buckets (O(batch) write "
                        "amplification; reads pay a mask join until "
                        "cdc-compact folds the deletes away; needs a "
                        "seq-guarded table)")
    c.add_argument("--stage", action="store_true",
                   help="write-audit-publish: apply ONE batch as a STAGED "
                        "snapshot (invisible to readers, no commit marker); "
                        "audit it with cdc-verify/cdc-export --snapshot N, "
                        "then cdc-publish or cdc-discard")
    c.add_argument("--merge-engine", default="upsert",
                   choices=["upsert", "patch"],
                   help="upsert = full-row-image last-writer-wins (default); "
                        "patch = partial-update per-column last-non-null-"
                        "wins for MINIMAL-row-image / $set-shaped logs "
                        "(an update's null column means 'unchanged'; "
                        "copy-on-write only)")
    c.set_defaults(fn=cmd_cdc_replay)

    c = sub.add_parser("cdc-publish")
    c.add_argument("--table", required=True)
    c.add_argument("--snapshot", type=int, default=None,
                   help="staged snapshot id (default: the oldest staged)")
    c.set_defaults(fn=cmd_publish)

    c = sub.add_parser("cdc-discard")
    c.add_argument("--table", required=True)
    c.add_argument("--snapshot", type=int, required=True,
                   help="staged snapshot id to drop (audit rejected it); "
                        "the batch replays cleanly later")
    c.set_defaults(fn=cmd_discard)

    c = sub.add_parser("cdc-stream")
    c.add_argument("--table", required=True)
    c.add_argument("--events", required=True)
    c.add_argument("--checkpoint", required=True)
    c.add_argument("--dlq", default=None, metavar="DIR",
                   help="quarantine malformed events per micro-batch "
                        "(same rules as cdc-replay --dlq)")
    c.add_argument("--merge-on-read", action="store_true",
                   help="apply micro-batches merge-on-read (append winners "
                        "+ equality-delete files; see cdc-replay "
                        "--merge-on-read)")
    c.add_argument("--max-files-per-trigger", default="8",
                   metavar="N|auto",
                   help="micro-batch size in backlog files; 'auto' sizes "
                        "triggers to ~4M events from the parquet footers "
                        "(env SPARK_GRAFT_STREAM_TRIGGER_EVENTS)")
    c.add_argument("--merge-engine", default="upsert",
                   choices=["upsert", "patch"],
                   help="upsert = full-row-image last-writer-wins (default); "
                        "patch = partial-update per-column last-non-null-"
                        "wins (see cdc-replay --merge-engine; out-of-order "
                        "safe on seq-guarded stream tables)")
    c.set_defaults(fn=cmd_cdc_stream)

    c = sub.add_parser("cdc-status")
    c.add_argument("--table", required=True)
    c.add_argument("--metrics", action="store_true",
                   help="add an ingest-health rollup from the per-batch "
                        "metrics ledger (batch counts, overall/percentile "
                        "throughput, last lag)")
    c.set_defaults(fn=cmd_cdc_status)

    c = sub.add_parser("cdc-schema")
    c.add_argument("--table", required=True)
    c.add_argument("--history", action="store_true",
                   help="include every schema version and per-column-id "
                        "lineage (renames)")
    c.set_defaults(fn=cmd_cdc_schema)

    c = sub.add_parser("cdc-profile")
    c.add_argument("--table", required=True)
    c.add_argument("--columns", help="comma-separated subset; default all columns")
    c.add_argument("--snapshot", help="snapshot id or tag (time travel)")
    c.add_argument("--exact", action="store_true",
                   help="exact distinct counts (one extra shuffle per column) "
                        "instead of the single-pass HLL approximation")
    c.set_defaults(fn=cmd_cdc_profile)

    c = sub.add_parser("cdc-check")
    c.add_argument("--table", required=True)
    c.add_argument("--rule", action="append", required=True,
                   help="not_null:col | unique:c1,c2 | accepted:col:v1|v2 | "
                        "check:<sql bool expr>; repeatable")
    c.add_argument("--snapshot", help="snapshot id or tag (time travel)")
    c.set_defaults(fn=cmd_cdc_check)

    c = sub.add_parser("cdc-fsck")
    c.add_argument("--table", required=True)
    c.add_argument("--deep", action="store_true",
                   help="also verify every referenced parquet footer's row "
                        "count against the manifest (distributed)")
    c.set_defaults(fn=cmd_cdc_fsck)

    c = sub.add_parser("cdc-alter")
    c.add_argument("--table", required=True)
    c.add_argument("--add", help="comma-separated name:type to add")
    c.add_argument("--rename", help="comma-separated old=new")
    c.add_argument("--drop", help="comma-separated column names to drop")
    c.add_argument("--widen", help="comma-separated name=type (lossless "
                                   "promotions: int-family->long, "
                                   "float->double)")
    c.add_argument("--set-property",
                   help="comma-separated key=value table properties "
                        "(e.g. cdf.enabled=true turns change-feed capture "
                        "on for an existing table); takes precedence over "
                        "the DDL flags in one invocation")
    c.set_defaults(fn=cmd_cdc_alter)

    c = sub.add_parser("cdc-delete")
    c.add_argument("--table", required=True)
    c.add_argument("--where", required=True,
                   help="predicate: simple conjunction (repo=alpha,seq>=9) "
                        "gets file skipping; anything else is Spark SQL")
    c.add_argument("--strategy", choices=["cow", "positional", "auto"],
                   default="cow",
                   help="cow rewrites touched buckets; positional appends "
                        "position-delete files (no data rewrite); auto "
                        "measures the matched fraction (one pruned count "
                        "vs manifest live rows) and picks per statement")
    c.add_argument("--positional-max-fraction", type=float, default=0.10,
                   help="auto threshold: matched/live fraction at or below "
                        "this appends position deletes, above rewrites COW "
                        "(default 0.10)")
    c.add_argument("--dry-run", action="store_true",
                   help="report matched rows / buckets / resolved strategy "
                        "without writing or committing")
    c.add_argument("--commit-id", help="idempotency key (replay-safe)")
    c.set_defaults(fn=cmd_cdc_delete)

    c = sub.add_parser("cdc-update")
    c.add_argument("--table", required=True)
    c.add_argument("--where", required=True)
    c.add_argument("--set", action="append",
                   help="col=EXPR (repeatable; EXPR is Spark SQL over the "
                        "row's columns)")
    c.add_argument("--strategy", choices=["cow", "mor"], default="cow",
                   help="cow rewrites touched buckets; mor appends "
                        "position-deletes for the old copies + the "
                        "rewritten rows as new files (O(matched) writes)")
    c.add_argument("--dry-run", action="store_true",
                   help="report matched rows / buckets without writing "
                        "or committing")
    c.add_argument("--commit-id", help="idempotency key (replay-safe)")
    c.set_defaults(fn=cmd_cdc_update)

    c = sub.add_parser("cdc-merge-into")
    c.add_argument("--table", required=True)
    c.add_argument("--source", required=True,
                   help="path to the source rows (joined on the table's "
                        "key columns)")
    c.add_argument("--source-format", default="parquet",
                   choices=["parquet", "json", "csv"])
    g = c.add_mutually_exclusive_group()
    g.add_argument("--update", action="append",
                   help="WHEN MATCHED THEN UPDATE col=EXPR (repeatable; "
                        "source columns are src_<name> in EXPR)")
    g.add_argument("--update-all", action="store_true",
                   help="WHEN MATCHED set every non-key column from the "
                        "source's same-named column")
    c.add_argument("--delete-where",
                   help="WHEN MATCHED AND <pred> THEN DELETE (evaluated "
                        "before the update clause); 'true' deletes every "
                        "matched row")
    c.add_argument("--no-insert", action="store_true",
                   help="drop unmatched source rows instead of inserting")
    c.add_argument("--update-where",
                   help="extra condition on the update clause")
    c.add_argument("--insert-where",
                   help="extra condition on the insert clause")
    c.add_argument("--commit-id", help="idempotency key (replay-safe)")
    c.set_defaults(fn=cmd_cdc_merge_into)

    c = sub.add_parser("cdc-hotkeys")
    c.add_argument("--events", required=True)
    c.add_argument("--keys", required=True,
                   help="comma-separated merge key columns, e.g. repo,path")
    c.add_argument("--top", type=int, default=20)
    c.add_argument("--events-format", default="parquet",
                   choices=["parquet", "json", "csv"])
    c.set_defaults(fn=cmd_cdc_hotkeys)

    c = sub.add_parser("datagen")
    c.add_argument("--out", required=True)
    c.add_argument("--events-n", type=int, default=1_000_000)
    c.add_argument("--repos", type=int, default=1000)
    c.add_argument("--paths-per-repo", type=int, default=500)
    c.add_argument("--files", type=int, default=32)
    c.add_argument("--seed", type=int, default=42)
    c.set_defaults(fn=cmd_datagen)

    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
