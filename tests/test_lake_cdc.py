"""Lake table + CDC replay tests: merge semantics, exactly-once replay,
schema evolution, checkpoint resume — verified against the single-threaded
Python oracle (FIXTURES.md §7)."""

import os

import pytest
from pyspark.sql import functions as F

from table2qb_spark.cdc.apply import ChangeLogReplayer
from table2qb_spark.cdc.verify import table_sha256
from table2qb_spark.datagen import changelog as gen
from table2qb_spark.datagen.oracle import replay_oracle, table_sha256 as oracle_sha
from table2qb_spark.lake.merge import merge_upsert
from table2qb_spark.lake.table import LakeTable

BASE_SCHEMA = [
    ("repo", "string"),
    ("path", "string"),
    ("commit", "string"),
    ("lang", "string"),
    ("content", "string"),
]
KEYS = ["repo", "path"]


def make_table(spark, tmp_path, n_buckets=8):
    return LakeTable.create(
        spark, str(tmp_path / "t"), BASE_SCHEMA, KEYS, n_buckets=n_buckets
    )


def batch_df(spark, rows):
    return spark.createDataFrame(
        rows, "seq long, op string, repo string, path string, commit string, lang string, content string"
    )


class TestLakeTable:
    def test_create_read_empty(self, spark, tmp_path):
        t = make_table(spark, tmp_path)
        assert t.read().count() == 0
        assert t.read().columns == [c for c, _ in BASE_SCHEMA]

    def test_merge_insert_update_delete(self, spark, tmp_path):
        t = make_table(spark, tmp_path)
        b1 = batch_df(
            spark,
            [
                (1, "I", "r1", "a.py", "c1", "python", "v1"),
                (2, "I", "r1", "b.py", "c2", "python", "v1"),
                (3, "I", "r2", "a.py", "c3", "go", "v1"),
            ],
        )
        merge_upsert(t, b1, "b1")
        assert t.read().count() == 3

        b2 = batch_df(
            spark,
            [
                (4, "U", "r1", "a.py", "c4", "python", "v2"),
                (5, "D", "r1", "b.py", None, None, None),
                (6, "I", "r3", "x.py", "c6", "rust", "v1"),
            ],
        )
        merge_upsert(t, b2, "b2")
        state = {(r["repo"], r["path"]): r["content"] for r in t.read().collect()}
        assert state == {("r1", "a.py"): "v2", ("r2", "a.py"): "v1", ("r3", "x.py"): "v1"}

    def test_max_seq_wins_within_batch(self, spark, tmp_path):
        t = make_table(spark, tmp_path)
        b = batch_df(
            spark,
            [
                (1, "I", "r1", "a.py", "c1", "python", "old"),
                (9, "U", "r1", "a.py", "c9", "python", "new"),
                (5, "U", "r1", "a.py", "c5", "python", "mid"),
                # duplicate delivery of seq 9
                (9, "U", "r1", "a.py", "c9", "python", "new"),
                (3, "I", "r1", "del.py", "c3", "python", "x"),
                (7, "D", "r1", "del.py", None, None, None),
            ],
        )
        stats = merge_upsert(t, b, "b1")
        rows = t.read().collect()
        assert len(rows) == 1
        assert rows[0]["content"] == "new"
        assert stats["deletes"] == 1

    def test_batch_types_cast_to_declared_schema(self, spark, tmp_path):
        # A batch built from an inferred-schema source arrives as bigint
        # where the table declares int; the merge must align to the DECLARED
        # type at ingest — writing it verbatim would plant INT64 parquet in
        # an int table and break every later read (KD001). Both the empty-
        # table backfill fast path and the incremental path are exercised.
        t = LakeTable.create(
            spark, str(tmp_path / "t"),
            [("repo", "string"), ("path", "string"), ("n", "int")],
            KEYS, n_buckets=2,
        )
        mk = lambda rows: spark.createDataFrame(
            rows, "seq bigint, op string, repo string, path string, n bigint"
        )
        merge_upsert(t, mk([(1, "I", "r1", "a.py", 10)]), "b1")   # backfill
        merge_upsert(t, mk([(2, "U", "r1", "a.py", 20),
                            (3, "I", "r1", "b.py", 30)]), "b2")   # incremental
        out = t.read()
        assert dict(out.dtypes)["n"] == "int"
        assert {(r["path"], r["n"]) for r in out.collect()} == {
            ("a.py", 20), ("b.py", 30)
        }
        # merge-on-read shares the same prepare step: its appended winners
        # must land as int too, or the next read_live() fails
        from table2qb_spark.cdc.streaming import create_stream_table
        from table2qb_spark.lake.mor import merge_mor

        st = create_stream_table(
            spark, str(tmp_path / "mor"),
            [("repo", "string"), ("path", "string"), ("n", "int")],
            KEYS, n_buckets=2,
        )
        merge_mor(st, mk([(1, "I", "r1", "a.py", 10)]), "b1")
        merge_mor(st, mk([(2, "U", "r1", "a.py", 20),
                          (3, "I", "r1", "b.py", 30)]), "b2")
        live = st.read_live()
        assert dict(live.dtypes)["n"] == "int"
        assert {(r["path"], r["n"]) for r in live.collect()} == {
            ("a.py", 20), ("b.py", 30)
        }

    def test_commit_idempotency(self, spark, tmp_path):
        t = make_table(spark, tmp_path)
        b = batch_df(spark, [(1, "I", "r1", "a.py", "c1", "python", "v1")])
        s1 = merge_upsert(t, b, "b1")
        sha_after = table_sha256(t.read())
        s2 = merge_upsert(t, b, "b1")  # replay of the same commit
        assert not s1.get("skipped") and s2.get("skipped")
        assert table_sha256(t.read()) == sha_after

    def test_time_travel(self, spark, tmp_path):
        t = make_table(spark, tmp_path)
        merge_upsert(t, batch_df(spark, [(1, "I", "r1", "a.py", "c", "py", "v1")]), "b1")
        sid = t.current_snapshot_id()
        merge_upsert(t, batch_df(spark, [(2, "U", "r1", "a.py", "c", "py", "v2")]), "b2")
        assert t.read().collect()[0]["content"] == "v2"
        assert t.read(snapshot_id=sid).collect()[0]["content"] == "v1"

    def test_schema_evolution_add_and_rename(self, spark, tmp_path):
        t = make_table(spark, tmp_path)
        merge_upsert(t, batch_df(spark, [(1, "I", "r1", "a.py", "c", "py", "v1")]), "b1")
        t.evolve_schema(add_columns=[("license", "string")])
        # old files readable, new column null
        rows = t.read().collect()
        assert rows[0]["license"] is None
        # write with the new column
        b = spark.createDataFrame(
            [(2, "I", "r2", "b.py", "c", "py", "v1", "mit")],
            "seq long, op string, repo string, path string, commit string, lang string, content string, license string",
        )
        merge_upsert(t, b, "b2")
        state = {(r["repo"], r["path"]): r["license"] for r in t.read().collect()}
        assert state == {("r1", "a.py"): None, ("r2", "b.py"): "mit"}
        # rename: metadata-only, both old and new files still readable
        t.evolve_schema(rename_columns={"license": "licence"})
        rows = {(r["repo"], r["path"]): r["licence"] for r in t.read().collect()}
        assert rows[("r2", "b.py")] == "mit"
        # idempotent replay of the same rename
        t.evolve_schema(rename_columns={"license": "licence"})

    def test_bucket_pruning_reads_only_affected(self, spark, tmp_path):
        t = make_table(spark, tmp_path, n_buckets=16)
        rows = [
            (i, "I", f"r{i % 5}", f"f{i}.py", "c", "py", f"v{i}") for i in range(1, 51)
        ]
        merge_upsert(t, batch_df(spark, rows), "b1")
        snap = t.snapshot()
        all_buckets = sorted(int(b) for b in snap.files)
        some = all_buckets[:2]
        pruned = t.read(buckets=some).count()
        total = t.read().count()
        assert 0 < pruned < total == 50


class TestReplayVsOracle:
    N_EVENTS = 3000
    N_REPOS = 12
    PATHS = 40

    @pytest.fixture(scope="class")
    def fixtures(self, spark, tmp_path_factory):
        root = tmp_path_factory.mktemp("cdc")
        events = gen.gen_change_log(
            spark, self.N_EVENTS, self.N_REPOS, self.PATHS, seed=42, dup_rate=0.05
        )
        events_path = str(root / "events")
        gen.write_change_log(events, events_path, n_files=8)
        return root, events_path

    def expected_state(self, spark, events_path):
        ev = [r.asDict() for r in spark.read.parquet(events_path).collect()]
        # oracle treats duplicate (same-seq) deliveries as one event
        seen, uniq = set(), []
        for e in sorted(ev, key=lambda x: x["seq"]):
            if e["seq"] in seen:
                continue
            seen.add(e["seq"])
            uniq.append(e)
        return replay_oracle([], uniq)

    def test_replay_matches_oracle(self, spark, tmp_path, fixtures):
        _, events_path = fixtures
        t = LakeTable.create(
            spark, str(tmp_path / "lake"), BASE_SCHEMA, KEYS, n_buckets=8
        )
        r = ChangeLogReplayer(spark, t, events_path, batch_events=500)
        results = r.run()
        assert all(not b.skipped for b in results)

        expected = self.expected_state(spark, events_path)
        cols = [c["name"] for c in t.snapshot().current_schema()]
        got_rows = [r.asDict() for r in t.read().collect()]
        exp_rows = list(expected.values())
        assert len(got_rows) == len(exp_rows)
        assert table_sha256(t.read(), cols) == oracle_sha(exp_rows, cols)
        # schema evolution happened: license column exists and is populated
        assert "license" in cols
        assert any(r.get("license") for r in got_rows)
        # metrics emitted per batch
        ms = r.metrics()
        assert len(ms) == len(results)
        assert all(m["events_per_sec"] > 0 for m in ms)

    def test_seq_bounds_footer_path_matches_spark_agg(self, spark, tmp_path, fixtures):
        """seq_bounds for a directory input is a driver-side parquet-footer
        read; it must equal the exact Spark aggregate, and a DataFrame input
        (no path) must fall back to the aggregate."""
        _, events_path = fixtures
        t = LakeTable.create(
            spark, str(tmp_path / "lake_sb"), BASE_SCHEMA, KEYS, n_buckets=8
        )
        r = ChangeLogReplayer(spark, t, events_path, batch_events=500)
        fb = r._footer_bounds()
        assert fb is not None  # datagen parquet carries min/max stats
        from pyspark.sql import functions as F

        agg = (
            spark.read.parquet(events_path)
            .agg(F.min("seq").alias("lo"), F.max("seq").alias("hi"))
            .collect()[0]
        )
        assert fb == (int(agg["lo"]), int(agg["hi"])) == r.seq_bounds()
        r_df = ChangeLogReplayer(
            spark, t, spark.read.parquet(events_path), batch_events=500
        )
        assert r_df._footer_bounds() is None
        assert r_df.seq_bounds() == fb

    def test_resume_from_any_checkpoint_converges(self, spark, tmp_path, fixtures):
        _, events_path = fixtures
        # full replay reference state
        t_full = LakeTable.create(
            spark, str(tmp_path / "full"), BASE_SCHEMA, KEYS, n_buckets=8
        )
        ChangeLogReplayer(spark, t_full, events_path, batch_events=500).run()
        cols = [c["name"] for c in t_full.snapshot().current_schema()]
        want = table_sha256(t_full.read(), cols)

        for k in (1, 3, 5):  # three distinct checkpoints
            t = LakeTable.create(
                spark, str(tmp_path / f"cp{k}"), BASE_SCHEMA, KEYS, n_buckets=8
            )
            rep = ChangeLogReplayer(spark, t, events_path, batch_events=500)
            rep.run(max_batches=k)  # stop at checkpoint k
            # resume (fresh replayer object, state only from the table)
            rep2 = ChangeLogReplayer(spark, t, events_path, batch_events=500)
            assert rep2.last_applied_batch() == k - 1
            rep2.run()
            assert table_sha256(t.read(), cols) == want
            # a second full replay over the converged table is all-skips
            res = ChangeLogReplayer(spark, t, events_path, batch_events=500).run()
            assert res == [] or all(b.skipped for b in res)
            assert table_sha256(t.read(), cols) == want


class TestRound2Semantics:
    def test_equal_seq_incoming_wins_including_delete(self, spark, tmp_path):
        """Seq ties: the incoming event beats the stored row ('incoming wins
        when its seq >= the stored one'), even for deletes, which would lose
        a lexicographic op tie ('D' < 'U') without the priority field."""
        from table2qb_spark.cdc.streaming import create_stream_table

        t = create_stream_table(spark, str(tmp_path / "t"), BASE_SCHEMA, KEYS, n_buckets=4)
        b1 = batch_df(
            spark,
            [
                (5, "I", "r1", "a.py", "c1", "python", "v1"),
                (5, "I", "r1", "b.py", "c1", "python", "keep"),
            ],
        )
        merge_upsert(t, b1, "b1")
        # same seq, update payload: incoming must win deterministically
        merge_upsert(
            t, batch_df(spark, [(5, "U", "r1", "a.py", "c2", "python", "v2")]), "b2"
        )
        state = {(r["repo"], r["path"]): r["content"] for r in t.read_live().collect()}
        assert state[("r1", "a.py")] == "v2"
        # same seq, delete: incoming delete must win too
        merge_upsert(
            t, batch_df(spark, [(5, "D", "r1", "a.py", None, None, None)]), "b3"
        )
        state = {(r["repo"], r["path"]): r["content"] for r in t.read_live().collect()}
        assert ("r1", "a.py") not in state and ("r1", "b.py") in state

    def test_concurrent_commit_is_detected(self, spark, tmp_path):
        """Optimistic concurrency: a commit computed against a base snapshot
        that another commit has since superseded must raise, not clobber."""
        from table2qb_spark.lake.table import ConcurrentCommitError

        t = make_table(spark, tmp_path)
        merge_upsert(t, batch_df(spark, [(1, "I", "r1", "a.py", "c", "py", "v1")]), "b1")
        stale_base = t.current_snapshot_id()
        merge_upsert(t, batch_df(spark, [(2, "U", "r1", "a.py", "c", "py", "v2")]), "b2")
        with pytest.raises(ConcurrentCommitError):
            t.commit_files("late", [], {}, base_snapshot_id=stale_base)
        # and the interleaved commit's state is intact
        assert t.read().collect()[0]["content"] == "v2"

    def test_snapshot_header_is_o1_per_commit(self, spark, tmp_path):
        """Scalability of the metadata: snapshot headers must not accumulate
        per-commit state (file lists live in manifests, commit ids in marker
        files), so header size stays flat as commits pile up."""
        import json as _json

        t = make_table(spark, tmp_path)
        sizes = []
        for i in range(1, 7):
            merge_upsert(
                t,
                batch_df(spark, [(i, "U", "r1", "a.py", "c", "py", f"v{i}")]),
                f"b{i}",
                batch_size_hint=1,
            )
            hdr = t._read_header(t.current_snapshot_id())
            assert "files" not in hdr and "applied_commits" not in hdr
            sizes.append(len(_json.dumps(hdr)))
        assert max(sizes) - min(sizes) < 64  # flat, not O(commits)
        assert t.snapshot().n_commits == 7  # __create__ + 6 merges

    def test_marker_crash_window_heals(self, spark, tmp_path):
        """Simulate a crash between VERSION swap and marker write: deleting
        the newest marker must not re-open the commit for replay."""
        t = make_table(spark, tmp_path)
        merge_upsert(t, batch_df(spark, [(1, "I", "r1", "a.py", "c", "py", "v1")]), "b1")
        os.unlink(t._marker_path("b1"))
        assert t.has_commit("b1")  # healed from the current header
        assert os.path.exists(t._marker_path("b1"))

    def test_null_key_rows_single_pass(self, spark, tmp_path):
        """NULL key columns form a real group: the last-writer-wins window
        must neither drop adjacent non-null-key winners (lead(k) != k is NULL
        at the group boundary) nor keep duplicate NULL-key rows."""
        t = make_table(spark, tmp_path, n_buckets=1)
        b = batch_df(
            spark,
            [
                (1, "I", "r1", None, "c1", "py", "v1"),
                (2, "U", "r1", None, "c2", "py", "v2"),
                (3, "I", "r1", "a.py", "c3", "py", "x"),
                (4, "I", "r2", None, "c4", "py", "y"),
            ],
        )
        stats = merge_upsert(t, b, "b1")  # empty table -> late-materialization
        assert stats["strategy"] == "late-materialization"
        state = {(r["repo"], r["path"]): r["content"] for r in t.read().collect()}
        assert state == {
            ("r1", None): "v2",
            ("r1", "a.py"): "x",
            ("r2", None): "y",
        }
        # non-empty table without a size hint -> the general single-pass
        # window path must handle NULL keys identically
        b2 = batch_df(
            spark,
            [
                (5, "U", "r1", None, "c5", "py", "v3"),
                (6, "U", "r2", None, "c6", "py", "y2"),
            ],
        )
        stats2 = merge_upsert(t, b2, "b2")
        assert stats2["strategy"] == "single-pass"
        state = {(r["repo"], r["path"]): r["content"] for r in t.read().collect()}
        assert state == {
            ("r1", None): "v3",
            ("r1", "a.py"): "x",
            ("r2", None): "y2",
        }

    def test_late_mat_cross_key_seq_collision_with_delete(self, spark, tmp_path):
        """Seqs are only unique PER KEY. Key rB's true winner is a DELETE at
        seq 12, but rB also has a lower-seq update whose seq collides with
        rA's winning seq — the late-materialization fetch must still fetch
        rB's delete winner so the key stays dead (not resurrected by the
        collided update)."""
        t = make_table(spark, tmp_path, n_buckets=2)
        b = batch_df(
            spark,
            [
                (10, "U", "rA", "a.py", "c", "py", "va"),
                (10, "U", "rB", "b.py", "c", "py", "vb-old"),
                (12, "D", "rB", "b.py", "c", "py", None),
            ],
        )
        stats = merge_upsert(t, b, "b1")
        assert stats["strategy"] == "late-materialization"
        assert stats["upserts"] == 2 and stats["deletes"] == 1
        state = {(r["repo"], r["path"]): r["content"] for r in t.read().collect()}
        assert state == {("rA", "a.py"): "va"}

    def test_null_key_rows_pruned_path(self, spark, tmp_path):
        t = make_table(spark, tmp_path, n_buckets=1)
        rows = [(i, "I", f"r{i}", f"f{i}.py", "c", "py", "v") for i in range(1, 40)]
        merge_upsert(t, batch_df(spark, rows), "seed")
        b = batch_df(
            spark,
            [
                (100, "I", "r1", None, "c1", "py", "v1"),
                (101, "U", "r1", None, "c2", "py", "v2"),
            ],
        )
        stats = merge_upsert(t, b, "b1", batch_size_hint=2)
        assert stats["strategy"] == "pruned"
        got = [
            r["content"]
            for r in t.read().where(F.col("path").isNull()).collect()
        ]
        assert got == ["v2"]

    def test_header_creation_is_exclusive(self, spark, tmp_path):
        """Two writers racing on the same snapshot id: the loser must get
        ConcurrentCommitError even if it passed the base-snapshot check —
        a foreign header for our target id must never be overwritten."""
        from table2qb_spark.lake.table import ConcurrentCommitError, _atomic_write
        import json as _json

        t = make_table(spark, tmp_path)
        merge_upsert(t, batch_df(spark, [(1, "I", "r1", "a.py", "c", "py", "v1")]), "b1")
        nxt = t.current_snapshot_id() + 1
        # simulate the racing winner: its header exists, VERSION not yet swapped
        foreign = t._read_header(t.current_snapshot_id())
        foreign["snapshot_id"] = nxt
        foreign["commit_id"] = "racer-wins"
        _atomic_write(t._snapshot_path(nxt), _json.dumps(foreign))
        with pytest.raises(ConcurrentCommitError, match="racer-wins"):
            t.commit_files("loser", [], {}, base_snapshot_id=t.current_snapshot_id())
        # ...but our OWN crashed predecessor's orphan (same commit_id) is
        # reclaimed: the retry of the identical idempotent commit succeeds
        os.unlink(t._snapshot_path(nxt))
        orphan = dict(foreign)
        orphan["commit_id"] = "retry-me"
        _atomic_write(t._snapshot_path(nxt), _json.dumps(orphan))
        t.commit_files("retry-me", [], {}, base_snapshot_id=t.current_snapshot_id())
        assert t.snapshot().commit_id == "retry-me"

    def test_legacy_applied_commits_backfill(self, spark, tmp_path):
        """Pre-marker-format tables keep exactly-once across the upgrade:
        commit ids recorded only in the legacy inline applied_commits list
        must still be recognized (and backfilled as markers)."""
        from table2qb_spark.lake.table import _atomic_write
        import json as _json
        import shutil

        t = make_table(spark, tmp_path)
        merge_upsert(t, batch_df(spark, [(1, "I", "r1", "a.py", "c", "py", "v1")]), "b1")
        # rewrite the current header in the legacy format: inline
        # applied_commits, and wipe the marker directory entirely
        sid = t.current_snapshot_id()
        d = t._read_header(sid)
        d["applied_commits"] = ["__create__", "b1", "historic-7"]
        _atomic_write(t._snapshot_path(sid), _json.dumps(d))
        shutil.rmtree(os.path.join(t.path, "_meta", "commits"))
        assert t.has_commit("historic-7")  # from the legacy list
        assert t.has_commit("b1")
        assert not t.has_commit("never-applied")
        # markers were backfilled: marker-only lookup now succeeds too
        assert os.path.exists(t._marker_path("historic-7"))

    def test_batch_missing_op_or_seq_gets_clean_error(self, spark, tmp_path):
        t = make_table(spark, tmp_path)
        bad = spark.createDataFrame(
            [("r1", "a.py", "c", "py", "v1")],
            "repo string, path string, commit string, lang string, content string",
        )
        with pytest.raises(ValueError, match="missing columns.*op.*seq"):
            merge_upsert(t, bad, "bad")


class TestPerBucketManifests:
    def test_commit_writes_only_touched_buckets_manifests(self, spark, tmp_path):
        """Metadata I/O is O(touched buckets): a commit touching one bucket
        writes exactly one new per-bucket manifest; every untouched bucket's
        pointer (path AND row count) carries forward verbatim."""
        import glob

        t = make_table(spark, tmp_path, n_buckets=16)
        rows = [(i, "I", f"r{i % 7}", f"f{i}.py", "c", "py", "v") for i in range(1, 60)]
        merge_upsert(t, batch_df(spark, rows), "seed")
        before_ptr = dict(t.snapshot().manifest_pointers)
        mb_before = set(glob.glob(os.path.join(t.path, "_meta", "mb-*.json")))

        # one-key update -> one touched bucket
        merge_upsert(
            t,
            batch_df(spark, [(100, "U", "r1", "f1.py", "c", "py", "v2")]),
            "one",
            batch_size_hint=1,
        )
        after_ptr = dict(t.snapshot().manifest_pointers)
        mb_after = set(glob.glob(os.path.join(t.path, "_meta", "mb-*.json")))
        changed = [b for b in after_ptr if before_ptr.get(b) != after_ptr.get(b)]
        assert len(changed) == 1
        for b in before_ptr:
            if b not in changed:
                assert after_ptr[b] == before_ptr[b]  # pointer reuse, no rewrite
        assert len(mb_after - mb_before) == 1  # exactly one new bucket manifest
        # row counts in the manifest list stay consistent with the data
        assert t.snapshot().summary["row_count"] == t.read().count() == 59

    def test_schema_evolution_reuses_all_bucket_manifests(self, spark, tmp_path):
        import glob

        t = make_table(spark, tmp_path)
        merge_upsert(t, batch_df(spark, [(1, "I", "r1", "a.py", "c", "py", "v1")]), "b1")
        mb_before = set(glob.glob(os.path.join(t.path, "_meta", "mb-*.json")))
        ptr_before = dict(t.snapshot().manifest_pointers)
        t.evolve_schema(add_columns=[("license", "string")])
        assert set(glob.glob(os.path.join(t.path, "_meta", "mb-*.json"))) == mb_before
        assert dict(t.snapshot().manifest_pointers) == ptr_before

    def test_legacy_monolithic_manifest_still_reads_and_upgrades(self, spark, tmp_path):
        """A round-2 table (one m{N}.json holding every bucket's file list)
        must load as-is and be split into per-bucket manifests on its first
        new commit."""
        import json as _json
        from table2qb_spark.lake.table import _atomic_write

        t = make_table(spark, tmp_path, n_buckets=4)
        merge_upsert(
            t,
            batch_df(spark, [(i, "I", f"r{i}", f"f{i}.py", "c", "py", "v") for i in range(1, 9)]),
            "b1",
        )
        # rewrite the current manifest in the legacy monolithic format (at
        # the path the HEADER references — attempt-unique since round 3)
        snap = t.snapshot()
        files = {b: list(es) for b, es in snap.files.items()}
        manifest_rel = t._read_header(snap.snapshot_id)["manifest"]
        _atomic_write(
            os.path.join(t.path, manifest_rel), _json.dumps({"files": files})
        )
        legacy = t.snapshot()
        assert legacy.manifest_pointers is None
        assert {b: list(es) for b, es in legacy.files.items()} == files
        assert t.read().count() == 8
        # next commit upgrades: per-bucket pointers exist afterwards
        merge_upsert(t, batch_df(spark, [(20, "U", "r1", "f1.py", "c", "py", "v2")]), "b2")
        assert t.snapshot().manifest_pointers is not None
        assert t.read().count() == 8


class TestMergeStrategyEquivalence:
    """Fuzz: every merge path (late-materialization, single-pass window,
    pruned copy-on-write, each with and without the forced stats pass; the
    CDF aggregate; the patch engine; merge-on-read; one-shot and seq-split
    two-batch replays) must converge to the IDENTICAL live state, which
    must equal the single-threaded Python oracle. Events honor the merge
    contract (seq unique per key; exact duplicates allowed) but are
    adversarial otherwise: NULL-able keys, deletes, heavy cross-key seq
    collisions, random arrival order."""

    def _events(self, seed: int):
        import random

        rng = random.Random(seed)
        keys = [
            (f"r{i % 5}", None if i % 7 == 0 else f"f{i % 11}.py")
            for i in range(20)
        ]
        next_seq = {k: 0 for k in keys}
        events = []
        for i in range(150):
            k = rng.choice(keys)
            # seqs advance per key by 1..3 from a SHARED small range so the
            # same seq value is almost always some other key's winner too
            next_seq[k] += rng.randint(1, 3)
            op = "D" if rng.random() < 0.25 else ("I" if rng.random() < 0.5 else "U")
            events.append(
                (next_seq[k], op, k[0], k[1], f"c{i}", "py", f"v{i}-{k[0]}")
            )
        # exact duplicate deliveries (contract-legal): re-deliver ~10% verbatim
        events += [events[rng.randrange(len(events))] for _ in range(15)]
        rng.shuffle(events)  # arrival order is irrelevant; seq is authoritative
        return events

    def _oracle_sha(self, events, cols):
        uniq, seen = [], set()
        for e in sorted(events, key=lambda x: x[0]):
            if (x := (e[2], e[3], e[0])) in seen:
                continue
            seen.add(x)
            uniq.append(
                dict(zip(["seq", "op", "repo", "path", "commit", "lang", "content"], e))
            )
        return oracle_sha(list(replay_oracle([], uniq).values()), cols)

    @pytest.mark.parametrize("seed", [3, 11])
    def test_all_strategies_converge(self, spark, tmp_path, seed):
        from table2qb_spark.cdc.streaming import create_stream_table
        from table2qb_spark.lake.merge import merge_patch
        from table2qb_spark.lake.mor import merge_mor

        # padding keys make batch 2 of a split small against the table, so
        # the forced stats pass picks the pruned path
        pad = [
            (1, "I", f"r{j % 5}", f"pad{j}.py", f"p{j}", "py", f"pad-{j}")
            for j in range(600)
        ]
        events = self._events(seed) + pad
        cols = [c for c, _ in BASE_SCHEMA]
        expected = self._oracle_sha(events, cols)
        mid = sorted({e[0] for e in events})[len({e[0] for e in events}) // 2]
        first = batch_df(spark, [e for e in events if e[0] <= mid])
        second = batch_df(spark, [e for e in events if e[0] > mid])
        shas = {}

        def plain(name):
            return LakeTable.create(
                spark, str(tmp_path / name), BASE_SCHEMA, KEYS, n_buckets=4
            )

        def stream_table(name, **props):
            return create_stream_table(
                spark, str(tmp_path / name), BASE_SCHEMA, KEYS, n_buckets=4,
                properties=props or None,
            )

        t = plain("lm")
        s = merge_upsert(t, batch_df(spark, events), "b")
        assert s["strategy"] == "late-materialization"
        shas["late-mat"] = table_sha256(t.read(), cols)

        # the salted pre-combine (the CLI's --salted-dedup) skips late-mat
        t = plain("sp")
        s = merge_upsert(t, batch_df(spark, events), "b", two_phase_dedup=True)
        assert s["strategy"] == "single-pass"
        shas["two-phase+single-pass"] = table_sha256(t.read(), cols)

        # split replay: batch 1 (late-mat, empty table) then batch 2 into the
        # non-empty table — with no size hint it takes the single-pass path,
        # with a tiny hint the PRUNED one
        for name, hint, strategy in (
            ("split+single-pass", None, "single-pass"),
            ("split+pruned", 1, "pruned"),
        ):
            t = plain(name)
            merge_upsert(t, first, "b1")
            s = merge_upsert(t, second, "b2", batch_size_hint=hint)
            assert s["strategy"] == strategy
            shas[name] = table_sha256(t.read(), cols)

        # seq-guarded tombstone tables, read live
        t = stream_table("lm-forced")
        s = merge_upsert(t, batch_df(spark, events), "b", force_stats_pass=True)
        assert s["strategy"] == "late-materialization"
        shas["forced+late-mat"] = table_sha256(t.read_live(), cols)

        t = stream_table("pr-forced")
        merge_upsert(t, first, "b1", force_stats_pass=True)
        s = merge_upsert(t, second, "b2", force_stats_pass=True)
        assert s["strategy"] == "pruned"
        shas["forced+pruned"] = table_sha256(t.read_live(), cols)

        t = stream_table("cdf", **{"cdf.enabled": "true"})
        merge_upsert(t, first, "b1")
        s = merge_upsert(t, second, "b2")
        assert s["strategy"] == "agg-cdf"
        shas["agg-cdf"] = table_sha256(t.read_live(), cols)

        # full row images: the patch fold reduces to last-row-wins
        t = stream_table("patch")
        merge_patch(t, first, "b1")
        merge_patch(t, second, "b2")
        shas["patch"] = table_sha256(t.read_live(), cols)

        t = stream_table("mor")
        merge_mor(t, first, "b1")
        s = merge_mor(t, second, "b2")
        assert s["strategy"] == "mor"
        shas["mor"] = table_sha256(t.read_live(), cols)

        assert set(shas.values()) == {expected}, shas


class TestEventsFormats:
    def test_json_change_log_replays_identically(self, spark, tmp_path):
        """A JSON-exported change log replays to the same table state as the
        parquet layout (footer bounds fall back to the Spark aggregate)."""
        ev = gen.gen_change_log(spark, 600, 6, 20, seed=11, dup_rate=0.0)
        pq_path, js_path = str(tmp_path / "pq"), str(tmp_path / "js")
        gen.write_change_log(ev, pq_path, n_files=4)
        spark.read.parquet(pq_path).write.mode("overwrite").json(js_path)

        t1 = LakeTable.create(spark, str(tmp_path / "t1"), BASE_SCHEMA, KEYS, n_buckets=4)
        ChangeLogReplayer(spark, t1, pq_path, batch_events=300).run()
        t2 = LakeTable.create(spark, str(tmp_path / "t2"), BASE_SCHEMA, KEYS, n_buckets=4)
        r2 = ChangeLogReplayer(spark, t2, js_path, batch_events=300, events_format="json")
        assert r2._footer_bounds() is None  # json: no parquet footers
        r2.run()
        cols = [c["name"] for c in t1.snapshot().current_schema()]
        assert table_sha256(t1.read(), cols) == table_sha256(t2.read(), cols)


def test_late_mat_on_empty_seq_guarded_tombstone_table(spark, tmp_path):
    """The streaming path's initial backfill (empty table, force_stats_pass,
    _seq guard + tombstones) takes late-materialization: winners carry their
    _seq, delete winners become tombstone rows, and a later lower-seq update
    cannot resurrect the key."""
    from table2qb_spark.cdc.streaming import create_stream_table

    t = create_stream_table(
        spark, str(tmp_path / "st"), BASE_SCHEMA, KEYS, n_buckets=4
    )
    b = batch_df(
        spark,
        [
            (5, "U", "r1", "a.py", "c", "py", "v5"),
            (3, "U", "r1", "a.py", "c", "py", "v3"),
            (7, "D", "r2", "b.py", None, None, None),
            (6, "I", "r2", "b.py", "c", "py", "v6"),
        ],
    )
    stats = merge_upsert(t, b, "s0", force_stats_pass=True)
    assert stats["strategy"] == "late-materialization"
    rows = {(r["repo"], r["path"]): r for r in t.read().collect()}
    assert rows[("r1", "a.py")]["content"] == "v5"
    assert rows[("r1", "a.py")]["_seq"] == 5
    assert rows[("r2", "b.py")]["_deleted"] is True  # tombstone, not dropped
    live = {(r["repo"], r["path"]) for r in t.read_live().collect()}
    assert live == {("r1", "a.py")}
    # late lower-seq update arrives after the tombstone: key stays dead
    late = batch_df(spark, [(4, "U", "r2", "b.py", "c", "py", "zombie")])
    merge_upsert(t, late, "s1", force_stats_pass=True)
    assert {(r["repo"], r["path"]) for r in t.read_live().collect()} == {("r1", "a.py")}


def test_footer_bounds_with_struct_column_before_seq(spark, tmp_path):
    """Row-group statistics are LEAF-indexed: a struct column preceding seq
    must not make _footer_bounds read another column's min/max."""
    df = spark.createDataFrame(
        [((f"s{i}", i * 1000), i + 50, "U") for i in range(10)],
        "meta struct<src:string, ts:long>, seq long, op string",
    )
    path = str(tmp_path / "nested_ev")
    df.coalesce(1).write.parquet(path)
    t = make_table(spark, tmp_path)
    r = ChangeLogReplayer(spark, t, path, batch_events=100)
    assert r._footer_bounds() == (50, 59)  # NOT meta.ts's (0, 9000)


class TestDistributedDigest:
    def test_spark_and_oracle_digests_match(self, spark):
        """The distributed aggregate digest equals the single-threaded oracle
        digest on the same rows — and stays identical under any row order."""
        rows = [
            {"repo": "r1", "path": "a.py", "content": "x"},
            {"repo": "r2", "path": "b.py", "content": None},
            {"repo": "r3", "path": "c.py", "content": "z" * 100},
        ]
        cols = ["repo", "path", "content"]
        df = spark.createDataFrame(
            [(r["repo"], r["path"], r["content"]) for r in rows], cols
        )
        assert table_sha256(df, cols) == oracle_sha(rows, cols)
        assert table_sha256(df.orderBy(F.desc("repo")), cols) == oracle_sha(
            list(reversed(rows)), cols
        )

    def test_digest_plan_is_one_aggregate_no_collect(self, spark):
        """O(1) driver memory: the digest is a single partial+final aggregate
        over the scan — no Sort, no per-row collect (round-3 verdict #7)."""
        df = spark.range(1000).selectExpr("cast(id as string) AS repo", "'p' AS path")
        from table2qb_spark.cdc.verify import _chunk_sum_exprs, row_sha_expr

        agg = df.agg(F.count("*").alias("n"), *_chunk_sum_exprs(row_sha_expr(df.columns)))
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Sort" not in plan, plan
        assert plan.count("HashAggregate") >= 2 or "SortAggregate" not in plan

    def test_empty_table_digest_matches_oracle(self, spark):
        df = spark.createDataFrame([], "repo string, path string")
        assert table_sha256(df) == oracle_sha([], ["repo", "path"])


class TestConcurrentCommitSafety:
    def test_losing_writer_cannot_corrupt_winners_files(self, spark, tmp_path):
        """Two writers race from the same base snapshot: the loser raises
        ConcurrentCommitError and the winner's committed state stays fully
        readable — the loser's already-written files are disjoint orphans."""
        from table2qb_spark.lake.table import ConcurrentCommitError

        t = make_table(spark, tmp_path, n_buckets=2)
        merge_upsert(t, batch_df(spark, [(1, "I", "r1", "a.py", "c", "py", "v1")]), "seed")
        base = t.snapshot()

        # writer A (wins): full write + commit
        dfa = batch_df(spark, [(2, "U", "r1", "a.py", "c", "py", "A")]).selectExpr(
            "repo", "path", "commit", "lang", "content"
        )
        from table2qb_spark.lake.table import key_bucket_expr

        dfa = dfa.withColumn("__bucket", key_bucket_expr(KEYS, base.n_buckets))
        files_a = t.write_data_files(dfa, snapshot_hint="race")
        # writer B prepares its files BEFORE A commits (the race window)
        dfb = batch_df(spark, [(3, "U", "r1", "a.py", "c", "py", "B")]).selectExpr(
            "repo", "path", "commit", "lang", "content"
        ).withColumn("__bucket", key_bucket_expr(KEYS, base.n_buckets))
        files_b = t.write_data_files(dfb, snapshot_hint="race")
        t.commit_files("wa", sorted(files_a), files_a, {}, base_snapshot_id=base.snapshot_id)
        with pytest.raises(ConcurrentCommitError):
            t.commit_files("wb", sorted(files_b), files_b, {}, base_snapshot_id=base.snapshot_id)
        # winner's data intact and readable
        assert {r["content"] for r in t.read().collect()} == {"A"}
        assert not t.has_commit("wb")  # loser never marked applied

    def test_stalled_writer_cannot_clobber_after_reclaim(self, spark, tmp_path, monkeypatch):
        """A writer that stalls between its exclusive header link and the
        VERSION swap for longer than the orphan grace can be usurped: another
        writer reclaims the snapshot id and commits. When the stalled writer
        resumes it must NOT publish — blindly swapping VERSION would regress
        past the usurper's commit, and writing its marker would record its
        commit_id applied although its rows were replaced (a redelivery
        would then be silently skipped)."""
        import os as _os
        from table2qb_spark.lake import table as table_mod
        from table2qb_spark.lake.table import ConcurrentCommitError, LakeTable

        t = make_table(spark, tmp_path, n_buckets=2)
        merge_upsert(t, batch_df(spark, [(1, "I", "r1", "a.py", "c", "py", "v1")]), "b1")
        monkeypatch.setenv("SPARK_GRAFT_ORPHAN_GRACE_SEC", "0")

        real_excl = table_mod._exclusive_write
        state = {"fired": False}

        def stalling_excl(path, data):
            real_excl(path, data)
            base = _os.path.basename(path)
            if not state["fired"] and base.startswith("v") and base.endswith(".json"):
                # simulate the >grace stall right after the header link:
                # a second writer reclaims the id and fully commits
                state["fired"] = True
                t2 = LakeTable(spark, str(tmp_path / "t"))
                merge_upsert(
                    t2,
                    batch_df(spark, [(2, "U", "r1", "a.py", "c", "py", "usurper")]),
                    "b-usurper",
                )

        monkeypatch.setattr(table_mod, "_exclusive_write", stalling_excl)
        with pytest.raises(ConcurrentCommitError, match="reclaimed"):
            merge_upsert(
                t, batch_df(spark, [(2, "U", "r1", "a.py", "c", "py", "stalled")]), "b-stalled"
            )
        # the usurper's state is current and undisturbed
        assert {r["content"] for r in t.read().collect()} == {"usurper"}
        assert t.has_commit("b-usurper")
        # the stalled writer was NOT marked applied: its redelivery re-applies
        assert not t.has_commit("b-stalled")

    def test_foreign_orphan_reclaimed_after_grace(self, spark, tmp_path, monkeypatch):
        """A crashed foreign writer's orphan header (written, VERSION never
        swapped) blocks other writers only within the grace period; after it
        the id is reclaimed and the table makes progress."""
        import json as _json
        from table2qb_spark.lake.table import ConcurrentCommitError, _exclusive_write

        t = make_table(spark, tmp_path, n_buckets=2)
        merge_upsert(t, batch_df(spark, [(1, "I", "r1", "a.py", "c", "py", "v1")]), "b1")
        nxt = t.current_snapshot_id() + 1
        hdr = t._read_header(t.current_snapshot_id())
        orphan = dict(hdr)
        orphan["snapshot_id"] = nxt
        orphan["commit_id"] = "crashed-foreign-commit"
        _exclusive_write(t._snapshot_path(nxt), _json.dumps(orphan))

        b = batch_df(spark, [(2, "U", "r1", "a.py", "c", "py", "v2")])
        monkeypatch.setenv("SPARK_GRAFT_ORPHAN_GRACE_SEC", "3600")
        with pytest.raises(ConcurrentCommitError, match="grace"):
            merge_upsert(t, b, "b2")
        monkeypatch.setenv("SPARK_GRAFT_ORPHAN_GRACE_SEC", "0")  # orphan is dead
        merge_upsert(t, b, "b2")
        assert {r["content"] for r in t.read().collect()} == {"v2"}


class TestDeadLetterQueue:
    def test_malformed_events_quarantined_not_applied(self, spark, tmp_path):
        t = make_table(spark, tmp_path)
        events = batch_df(
            spark,
            [
                (1, "I", "r1", "a.py", "c1", "py", "v1"),
                (2, "X", "r1", "b.py", "c2", "py", "v1"),     # bad op
                (3, "I", None, "c.py", "c3", "py", "v1"),     # null key
                (4, None, "r1", "d.py", "c4", "py", "v1"),    # null op
                (None, "I", "r1", "e.py", "c5", "py", "v1"),  # null seq
                (5, "U", "r1", "a.py", "c6", "py", "v2"),
            ],
        )
        dlq = str(tmp_path / "dlq")
        r = ChangeLogReplayer(
            spark, t, events, batch_events=1000, dlq_dir=dlq
        )
        results = r.run()
        assert sum(x.stats.get("dlq_events", 0) for x in results) == 4
        state = {(row["repo"], row["path"]): row["content"] for row in t.read().collect()}
        # only the two valid events reached the table: upsert won on a.py,
        # none of b/c/d/e landed
        assert state == {("r1", "a.py"): "v2"}
        bad = spark.read.parquet(os.path.join(dlq, "cdc-00000000"))
        reasons = {row["path"]: row["dlq_reason"] for row in bad.collect()}
        assert reasons == {
            "b.py": "bad_op",
            "c.py": "null_key:repo",
            "d.py": "bad_op",
            "e.py": "null_seq",
        }

    def test_dlq_rerun_skips_committed_and_does_not_duplicate(self, spark, tmp_path):
        t = make_table(spark, tmp_path)
        events = batch_df(
            spark,
            [
                (1, "I", "r1", "a.py", "c1", "py", "v1"),
                (2, "X", "r1", "b.py", "c2", "py", "v1"),
            ],
        )
        dlq = str(tmp_path / "dlq")
        ChangeLogReplayer(spark, t, events, batch_events=1000, dlq_dir=dlq).run()
        # re-replay: committed batch is skipped, DLQ dir untouched
        res2 = ChangeLogReplayer(spark, t, events, batch_events=1000, dlq_dir=dlq).run()
        assert all(x.skipped for x in res2)
        bad = spark.read.parquet(os.path.join(dlq, "cdc-00000000"))
        assert bad.count() == 1

    def test_dlq_off_preserves_previous_behavior(self, spark, tmp_path):
        """Without dlq_dir, a bad-op event falls through merge's delete test
        and upserts (the pre-DLQ contract this feature exists to fix)."""
        t = make_table(spark, tmp_path)
        events = batch_df(
            spark, [(1, "X", "r1", "b.py", "c2", "py", "v1")]
        )
        ChangeLogReplayer(spark, t, events, batch_events=1000).run()
        assert t.read().count() == 1


class TestSnapshotAsOf:
    def test_resolution_and_errors(self, spark, tmp_path):
        t = make_table(spark, tmp_path)
        merge_upsert(t, batch_df(spark, [
            (1, "U", "r1", "p1", "c1", "py", "a"),
        ]), "b1")
        merge_upsert(t, batch_df(spark, [
            (2, "U", "r1", "p1", "c2", "py", "b"),
        ]), "b2")
        hist = t.history()
        assert len(hist) == 3  # create + 2 merges
        s2, s3 = hist[1], hist[2]
        # exact commit ts resolves to that snapshot
        assert t.snapshot_as_of(s2.timestamp_ms).snapshot_id in (
            s2.snapshot_id,
            # ms-equal commits legitimately resolve to the later one
            *( [s3.snapshot_id] if s3.timestamp_ms == s2.timestamp_ms else [] ),
        )
        # far future -> current; in-between -> earlier snapshot
        assert t.snapshot_as_of(s3.timestamp_ms + 10**9).snapshot_id == s3.snapshot_id
        if s3.timestamp_ms > s2.timestamp_ms:
            assert t.snapshot_as_of(
                s3.timestamp_ms - 1
            ).snapshot_id == s2.snapshot_id
        # before table creation -> loud error
        with pytest.raises(ValueError, match="no snapshot at or before"):
            t.snapshot_as_of(hist[0].timestamp_ms - 1)


class TestDlqRedrive:
    def _quarantined(self, spark, tmp_path):
        t = make_table(spark, tmp_path)
        events = batch_df(
            spark,
            [
                (1, "I", "r1", "a.py", "c1", "py", "v1"),
                (None, "I", "r1", "e.py", "c5", "py", "v1"),  # repairable
                (None, "I", "r2", "f.py", "c6", "go", "v1"),  # repairable
                (2, "X", "r1", "b.py", "c2", "py", "v1"),     # bad op: terminal
                (3, "I", None, "c.py", "c3", "py", "v1"),     # null key: terminal
            ],
        )
        dlq = str(tmp_path / "dlq")
        ChangeLogReplayer(spark, t, events, batch_events=1000, dlq_dir=dlq).run()
        return t, dlq

    def test_report_then_redrive(self, spark, tmp_path):
        from table2qb_spark.cdc.dlq import dlq_report, pending_dirs, redrive

        t, dlq = self._quarantined(spark, tmp_path)
        rep = dlq_report(spark, dlq)
        assert rep["rows"] == 4 and rep["pending_dirs"] == 1
        assert rep["by_reason"]["null_seq"] == 2

        r = redrive(spark, t, dlq)
        assert r["redriven"] == 2 and r["still_bad"] == 2
        state = {(x["repo"], x["path"]) for x in t.read().collect()}
        # the two null-seq inserts landed; the terminal rows did not
        assert ("r1", "e.py") in state and ("r2", "f.py") in state
        assert ("r1", "b.py") not in state and (None, "c.py") not in state
        # consumed dirs archived; terminal rows in an unrepairable dir
        assert pending_dirs(dlq) == []
        assert dlq_report(spark, dlq)["pending_dirs"] == 0
        unrep = [d for d in os.listdir(dlq) if d.startswith("unrepairable-")]
        assert len(unrep) == 1
        bad = spark.read.parquet(os.path.join(dlq, unrep[0]))
        assert {row["dlq_reason"] for row in bad.collect()} == {
            "bad_op", "null_key:repo"
        }

    def test_redrive_is_idempotent_and_exactly_once(self, spark, tmp_path):
        from table2qb_spark.cdc.dlq import redrive

        t, dlq = self._quarantined(spark, tmp_path)
        r1 = redrive(spark, t, dlq)
        assert not r1["skipped"] and r1["redriven"] == 2
        rows_after = t.read().count()
        # re-run on the drained queue: no-op
        r2 = redrive(spark, t, dlq)
        assert r2 == {"redriven": 0, "still_bad": 0, "pending_dirs": 0}
        assert t.read().count() == rows_after
        # crash simulation: un-archive the consumed dir (merge committed,
        # archive "lost") — the re-run marker-skips the merge, no dup rows
        for d in os.listdir(dlq):
            if d.endswith(".redriven"):
                os.rename(os.path.join(dlq, d),
                          os.path.join(dlq, d[: -len(".redriven")]))
        r3 = redrive(spark, t, dlq)
        assert r3["skipped"] and r3["redriven"] == 2  # counted, not re-applied
        assert t.read().count() == rows_after

    def test_redrive_latest_wins_vs_existing_key(self, spark, tmp_path):
        from table2qb_spark.cdc.dlq import redrive

        t = make_table(spark, tmp_path)
        events = batch_df(
            spark,
            [
                (7, "I", "r1", "a.py", "c1", "py", "v-old"),
                (None, "U", "r1", "a.py", "c2", "py", "v-dlq"),
            ],
        )
        dlq = str(tmp_path / "dlq")
        ChangeLogReplayer(spark, t, events, batch_events=1000, dlq_dir=dlq).run()
        assert t.read().collect()[0]["content"] == "v-old"
        redrive(spark, t, dlq)
        # re-driven row got a seq ABOVE max_seq(7), so it wins the merge
        assert t.read().collect()[0]["content"] == "v-dlq"

    def test_cli(self, spark, tmp_path, capsys):
        import json as _json

        from table2qb_spark.main import main

        t, dlq = self._quarantined(spark, tmp_path)
        assert main(["cdc-dlq", "--table", str(t.path), "--dlq", dlq]) == 0
        rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert rep["rows"] == 4
        assert main(["cdc-dlq", "--table", str(t.path), "--dlq", dlq,
                     "--redrive"]) == 0
        out = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert out["redriven"] == 2 and out["still_bad"] == 2
