"""Versioned Parquet table: commit atomicity, time travel, schema
enforcement, and reference-exact idempotent-append semantics."""

from __future__ import annotations

import os

import pytest

from end_to_end_data_engineering_project_with_databricks_spark.sources import versioned as V


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "vt")


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, n int")


def test_append_and_time_travel(spark, root):
    assert V.append(_df(spark, [("a", 1), ("b", 2)]), root) == 1
    assert V.append(_df(spark, [("c", 3)]), root) == 2
    assert V.read(spark, root).count() == 3
    assert V.read(spark, root, version=1).count() == 2
    assert sorted(r.k for r in V.read(spark, root, version=1).collect()) == ["a", "b"]
    assert V.list_versions(root) == [1, 2]


def test_read_missing_version_and_empty_table(spark, root):
    with pytest.raises(FileNotFoundError):
        V.read(spark, root)
    V.append(_df(spark, [("a", 1)]), root)
    with pytest.raises(ValueError):
        V.read(spark, root, version=7)


def test_schema_enforcement(spark, root):
    V.append(_df(spark, [("a", 1)]), root)
    bad = spark.createDataFrame([("a", 1.5)], "k string, n double")
    with pytest.raises(V.SchemaMismatchError):
        V.append(bad, root)
    # column order is irrelevant (names+types are the contract)
    reordered = spark.createDataFrame([(5, "e")], "n int, k string").select("n", "k")
    V.append(reordered, root)
    assert V.read(spark, root).count() == 2


def test_uncommitted_data_files_are_invisible(spark, root):
    V.append(_df(spark, [("a", 1)]), root)
    # simulate a crashed writer: data files exist, no manifest references them
    orphan = os.path.join(root, V._DATA_DIR, "orphan")
    _df(spark, [("zz", 99)]).write.parquet(orphan)
    assert V.read(spark, root).count() == 1  # snapshot isolation


def test_merge_upsert_updates_inserts_and_rewrites_only_touched_files(spark, root):
    # two separate single-file commits -> CoW granularity is deterministic
    V.append(_df(spark, [("a", 1), ("b", 2)]).coalesce(1), root)
    V.append(_df(spark, [("c", 3), ("d", 4)]).coalesce(1), root)
    before = set(V._read_manifest(root, 2)["files"])
    # update 'c' (in commit 2's files) and insert 'e'; commit 1 untouched
    v = V.merge_upsert(_df(spark, [("c", 30), ("e", 5)]), root, key="k")
    assert v == 3
    rows = {r.k: r.n for r in V.read(spark, root).collect()}
    assert rows == {"a": 1, "b": 2, "c": 30, "d": 4, "e": 5}
    after = V._read_manifest(root, 3)["files"]
    kept = [f for f in after if f in before]
    # commit 1's files survive by path (copy-on-write at file granularity)
    commit1_files = set(V._read_manifest(root, 1)["files"])
    assert commit1_files <= set(kept)
    # commit 2's files (contained matched key 'c') were rewritten
    commit2_files = set(V._read_manifest(root, 2)["files"]) - commit1_files
    assert not commit2_files & set(after)
    # time travel still sees the pre-merge snapshot
    assert V.read(spark, root, version=2).count() == 4


def test_merge_upsert_on_empty_table_and_dup_source(spark, root):
    # first merge on an empty table is just a commit; intra-batch dup keys collapse
    V.merge_upsert(_df(spark, [("a", 1), ("a", 2)]), root, key="k")
    assert V.read(spark, root).count() == 1
    # merge with no matched keys rewrites nothing, only inserts
    before = set(V._read_manifest(root, 1)["files"])
    V.merge_upsert(_df(spark, [("b", 9)]), root, key="k")
    after = set(V._read_manifest(root, 2)["files"])
    assert before <= after
    assert sorted(r.k for r in V.read(spark, root).collect()) == ["a", "b"]


def test_merge_upsert_schema_enforcement(spark, root):
    V.append(_df(spark, [("a", 1)]), root)
    bad = spark.createDataFrame([("a", 1.5)], "k string, n double")
    with pytest.raises(V.SchemaMismatchError):
        V.merge_upsert(bad, root, key="k")


def test_delete_where_rewrites_only_touched_files(spark, root):
    V.append(_df(spark, [("a", 1), ("b", 2)]).coalesce(1), root)
    V.append(_df(spark, [("c", 3), ("d", 4)]).coalesce(1), root)
    v = V.delete_where(spark, root, "n = 3")
    assert v == 3
    rows = {r.k: r.n for r in V.read(spark, root).collect()}
    assert rows == {"a": 1, "b": 2, "d": 4}
    # commit 1's file untouched; commit 2's file rewritten without 'c'
    commit1 = set(V._read_manifest(root, 1)["files"])
    after = set(V._read_manifest(root, 3)["files"])
    assert commit1 <= after
    assert not (set(V._read_manifest(root, 2)["files"]) - commit1) & after
    # deleting every row of a file drops it with no rewrite
    V.delete_where(spark, root, "k IN ('a', 'b')")
    assert {r.k for r in V.read(spark, root).collect()} == {"d"}
    # pre-delete snapshots still readable
    assert V.read(spark, root, version=2).count() == 4


def test_delete_where_keys_distributed_anti_join(spark, root):
    """delete_where_keys matches delete_where semantics with the key set
    as a DataFrame (VERDICT r6 item 3 — no driver collect / isin
    literals): same file-granularity CoW, NULL keys never match, and a
    key absent from the table is a no-op for every row."""
    V.append(_df(spark, [("a", 1), ("b", 2)]).coalesce(1), root)
    V.append(_df(spark, [("c", 3), ("d", 4)]).coalesce(1), root)
    keys = spark.createDataFrame([("c",), ("zz",), (None,)], "k string")
    v = V.delete_where_keys(spark, root, keys, key_col="k")
    assert v == 3
    rows = {r.k: r.n for r in V.read(spark, root).collect()}
    assert rows == {"a": 1, "b": 2, "d": 4}
    # commit 1's file untouched (its keys don't appear in the key set)
    commit1 = set(V._read_manifest(root, 1)["files"])
    after = set(V._read_manifest(root, 3)["files"])
    assert commit1 <= after
    # deleting every remaining key of a file drops it with no rewrite
    V.delete_where_keys(
        spark, root, spark.createDataFrame([("a",), ("b",)], "k string"), key_col="k"
    )
    assert {r.k for r in V.read(spark, root).collect()} == {"d"}
    # pre-delete snapshots still readable (time travel intact)
    assert V.read(spark, root, version=2).count() == 4


def test_delete_where_null_predicate_keeps_rows(spark, root):
    df = spark.createDataFrame([("a", 1), ("b", None)], "k string, n int")
    V.append(df, root)
    V.delete_where(spark, root, "n < 0")  # NULL predicate -> keep, like SQL DELETE
    assert V.read(spark, root).count() == 2


def test_compact_binpacks_small_files_without_changing_data(spark, root):
    for i in range(5):
        V.append(_df(spark, [(f"k{i}", i)]).coalesce(1), root)
    assert len(V._read_manifest(root, 5)["files"]) == 5
    v = V.compact(spark, root)
    assert v == 6
    files = V._read_manifest(root, 6)["files"]
    assert len(files) == 1  # tiny files -> one output file
    rows = {r.k: r.n for r in V.read(spark, root).collect()}
    assert rows == {f"k{i}": i for i in range(5)}
    # idempotent: a second compact is a no-op and commits nothing
    assert V.compact(spark, root) == 6
    # pre-compaction snapshot unchanged
    assert V.read(spark, root, version=5).count() == 5


def test_idempotent_append_reference_semantics(spark, root):
    first = _df(spark, [("a", 1), ("a", 2), ("b", 3)])  # intra-batch dup on 'a'
    V.idempotent_append(first, root, key="k")
    # (a) first load appends all rows, intra-batch dups included
    assert V.read(spark, root).count() == 3
    # (b) identical re-run appends zero
    V.idempotent_append(first, root, key="k")
    assert V.read(spark, root).count() == 3
    # (c) overlapping batch appends only unseen keys
    V.idempotent_append(_df(spark, [("b", 9), ("c", 4)]), root, key="k")
    assert V.read(spark, root).count() == 4
    # (d) extension: intra-batch dedup drops in-batch duplicates
    V.idempotent_append(
        _df(spark, [("d", 1), ("d", 2)]), root, key="k", intra_batch_dedup=True
    )
    assert V.read(spark, root).count() == 5
    # every state remains time-travelable
    assert [V.read(spark, root, version=v).count() for v in V.list_versions(root)] == [
        3,
        3,
        4,
        5,
    ]


def test_concurrent_appends_both_commit(spark, root):
    import threading

    V.append(_df(spark, [("seed", 0)]), root)
    errs = []

    def worker(tag):
        try:
            V.append(_df(spark, [(tag, 1)]).coalesce(1), root)
        except Exception as ex:  # pragma: no cover
            errs.append(ex)

    threads = [threading.Thread(target=worker, args=(f"w{i}",)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    # every writer won some version; no commit lost, no duplicate version
    assert V.list_versions(root) == [1, 2, 3, 4, 5]
    rows = sorted(r.k for r in V.read(spark, root).collect())
    assert rows == ["seed", "w0", "w1", "w2", "w3"]


def test_merge_lost_race_retries_on_new_head(spark, root, monkeypatch):
    """A competing append commits between the merge's build and its
    manifest create: the merge loses the O_EXCL race, recomputes its
    touched files on the new head and commits one version later."""
    V.append(_df(spark, [("a", 1), ("b", 2)]).coalesce(1), root)  # v1
    merge_heads = []
    replace_files = V._replace_files

    def racing_replace_files(head, op, removed, added):
        manifest = replace_files(head, op, removed, added)
        if op == "MERGE":
            merge_heads.append(head["version"])
            if len(merge_heads) == 1:
                V.append(_df(spark, [("c", 3), ("x", 7)]).coalesce(1), root)  # v2
        return manifest

    monkeypatch.setattr(V, "_replace_files", racing_replace_files)
    v = V.merge_upsert(_df(spark, [("a", 10), ("c", 30), ("d", 4)]), root, key="k")
    assert merge_heads == [1, 2]  # built on v1, lost, rebuilt on v2
    assert v == 3 and V.list_versions(root) == [1, 2, 3]
    # the competing rows survive and the retried merge saw them: the
    # competitor's 'c' is updated, not duplicated
    rows = sorted(map(tuple, V.read(spark, root).collect()))
    assert rows == [("a", 10), ("b", 2), ("c", 30), ("d", 4), ("x", 7)]
    assert V._read_manifest(root, 3)["operation"] == "MERGE"


def test_schema_evolution_adds_columns_nulls_for_old_files(spark, root):
    V.append(_df(spark, [("a", 1)]), root)
    wider = spark.createDataFrame([("b", 2, "x")], "k string, n int, extra string")
    # without opting in, widening is still rejected
    with pytest.raises(V.SchemaMismatchError):
        V.append(wider, root)
    V.append(wider, root, evolve_schema=True)
    rows = {r.k: (r.n, r.extra) for r in V.read(spark, root).collect()}
    # pre-evolution rows read the new column as NULL
    assert rows == {"a": (1, None), "b": (2, "x")}
    # narrower-than-table appends are fine post-evolution when evolving
    # (missing column in the batch -> nulls), but type changes never are
    retyped = spark.createDataFrame([("c", 3.5, "y")], "k string, n double, extra string")
    with pytest.raises(V.SchemaMismatchError):
        V.append(retyped, root, evolve_schema=True)
    # time travel preserves each version's data
    assert V.read(spark, root, version=1).columns == ["k", "n"]
    assert len(V.read(spark, root, version=2).columns) == 3


def test_stats_based_data_skipping(spark, root):
    # three single-file commits with disjoint key ranges + recorded stats
    for lo in (0, 100, 200):
        df = spark.createDataFrame(
            [(lo + i, f"r{lo + i}") for i in range(10)], "id long, payload string"
        ).coalesce(1)
        V.append(df, root, stats_cols=["id"])
    m = V._read_manifest(root, 3)
    assert len(m["files"]) == 3 and len(m["stats"]) == 3
    # a range inside the middle commit prunes to exactly one file
    assert len(V.prune_files(m, ("id", 103, 107))) == 1
    # unbounded-low range keeps the first two files
    assert len(V.prune_files(m, ("id", None, 150))) == 2
    # pruned read is still row-exact
    rows = sorted(r.id for r in V.read(spark, root, where=("id", 103, 107)).collect())
    assert rows == [103, 104, 105, 106, 107]
    # files without stats are conservatively kept, and the row filter
    # keeps results exact
    nostats = spark.createDataFrame(
        [(500, "x")], "id long, payload string"
    ).coalesce(1)
    V.append(nostats, root)  # no stats_cols
    m4 = V._read_manifest(root, 4)
    assert len(V.prune_files(m4, ("id", 103, 107))) == 2  # 1 pruned-in + 1 statless
    rows = sorted(r.id for r in V.read(spark, root, where=("id", 103, 107)).collect())
    assert rows == [103, 104, 105, 106, 107]
    # compaction drops rewritten files' stats but keeps correctness
    V.compact(spark, root)
    rows = sorted(r.id for r in V.read(spark, root, where=("id", 205, 209)).collect())
    assert rows == [205, 206, 207, 208, 209]


def test_merge_and_delete_work_with_relative_root(spark, tmp_path, monkeypatch):
    """Regression: with a RELATIVE root, manifest file paths (derived from
    root) and _metadata.file_path (always absolute) never compared equal,
    so MERGE/DELETE kept the rewritten files in the new manifest and
    silently duplicated rows.  All entrypoints now abspath the root."""
    monkeypatch.chdir(tmp_path)
    rel = "rel_vt"
    V.append(_df(spark, [("a", 1), ("b", 2)]), rel)
    V.merge_upsert(_df(spark, [("a", 10), ("c", 3)]), rel, key="k")
    got = {r.k: r.n for r in V.read(spark, rel).collect()}
    assert got == {"a": 10, "b": 2, "c": 3}  # no duplicated 'a'
    V.delete_where(spark, rel, "k = 'b'")
    got = {r.k: r.n for r in V.read(spark, rel).collect()}
    assert got == {"a": 10, "c": 3}
    # manifest must reference only absolute, live files
    head = V._read_manifest(os.path.abspath(rel), V.list_versions(rel)[-1])
    assert all(os.path.isabs(f) for f in head["files"])


def test_table_changes_append_merge_delete(spark, root):
    """CDF contract: appends -> inserts; MERGE -> delete(pre) + insert(post)
    with CoW-rewritten co-located rows cancelling; DELETE -> deletes."""
    V.append(_df(spark, [("a", 1), ("b", 2)]).coalesce(1), root)          # v1
    V.append(_df(spark, [("c", 3)]).coalesce(1), root)                    # v2
    ch = V.table_changes(spark, root, 1, 2).collect()
    assert {(r.k, r.n, r._change_type) for r in ch} == {("c", 3, "insert")}

    # MERGE updates 'a' (same file as untouched 'b' -> CoW rewrite of both)
    V.merge_upsert(_df(spark, [("a", 10), ("d", 4)]), root, key="k")      # v3
    ch = {(r.k, r.n, r._change_type) for r in V.table_changes(spark, root, 2, 3).collect()}
    assert ch == {("a", 1, "delete"), ("a", 10, "insert"), ("d", 4, "insert")}
    # 'b' was rewritten but unchanged -> must NOT appear in the feed

    V.delete_where(spark, root, "n = 3")                                  # v4
    ch = {(r.k, r.n, r._change_type) for r in V.table_changes(spark, root, 3, 4).collect()}
    assert ch == {("c", 3, "delete")}

    # cumulative feed across versions composes (v1 -> latest)
    ch = {(r.k, r.n, r._change_type) for r in V.table_changes(spark, root, 1).collect()}
    assert ("a", 1, "delete") in ch and ("a", 10, "insert") in ch


def test_table_changes_compact_is_silent(spark, root):
    """OPTIMIZE-style rewrites are dataChange=false: zero feed rows."""
    for i in range(4):
        V.append(_df(spark, [(f"k{i}", i)]).coalesce(1), root)
    v = V.compact(spark, root)
    assert V.table_changes(spark, root, v - 1, v).count() == 0


def test_table_changes_bad_version(spark, root):
    # no commits: the head-relative feed has no head, same error as read
    with pytest.raises(FileNotFoundError):
        V.table_changes(spark, root, 1)
    V.append(_df(spark, [("a", 1)]), root)
    import pytest as _pt

    with _pt.raises(ValueError):
        V.table_changes(spark, root, 1, 9)


def test_timestamp_time_travel(spark, root):
    import time as _time

    V.append(_df(spark, [("a", 1)]), root)
    t_between = _time.time()
    _time.sleep(0.05)
    V.append(_df(spark, [("b", 2)]), root)

    assert V.version_at_timestamp(root, t_between) == 1
    assert V.read(spark, root, timestamp=t_between).count() == 1
    assert V.read(spark, root, timestamp=_time.time()).count() == 2
    # before the first commit: no snapshot existed
    with pytest.raises(ValueError):
        V.version_at_timestamp(root, t_between - 3600)
    # version and timestamp are mutually exclusive
    with pytest.raises(ValueError):
        V.read(spark, root, version=1, timestamp=t_between)


def test_vacuum_reclaims_unreferenced_files_and_truncates_log(spark, root):
    V.append(_df(spark, [("a", 1), ("b", 2)]), root)
    V.merge_upsert(_df(spark, [("a", 10)]), root, key="k")  # CoW rewrite -> v1 file orphaned at v2
    head_rows = sorted(tuple(r) for r in V.read(spark, root).collect())

    n_files_before = sum(len(fs) for _, _, fs in os.walk(os.path.join(root, "data")))
    stats = V.vacuum(root, retain_last=1, min_age_seconds=0)
    assert stats["manifests_deleted"] == 1
    assert stats["data_files_deleted"] >= 1
    n_files_after = sum(len(fs) for _, _, fs in os.walk(os.path.join(root, "data")))
    assert n_files_after < n_files_before

    # the head snapshot is untouched; time travel to the vacuumed version errors
    assert sorted(tuple(r) for r in V.read(spark, root).collect()) == head_rows
    assert V.list_versions(root) == [2]
    with pytest.raises(ValueError):
        V.read(spark, root, version=1)


def test_vacuum_age_window_protects_fresh_files(spark, root):
    V.append(_df(spark, [("a", 1)]), root)
    V.delete_where(spark, root, "k = 'a'")  # v1's file becomes unreferenced
    # an hour-long window: everything here is seconds old -> nothing deleted
    stats = V.vacuum(root, retain_last=1, min_age_seconds=3600)
    assert stats["data_files_deleted"] == 0
    assert V.read(spark, root).count() == 0


def test_vacuum_keeps_files_shared_across_retained_versions(spark, root):
    V.append(_df(spark, [("a", 1)]), root)   # v1
    V.append(_df(spark, [("b", 2)]), root)   # v2 references v1's file too
    stats = V.vacuum(root, retain_last=2, min_age_seconds=0)
    assert stats == {"manifests_deleted": 0, "data_files_deleted": 0}
    assert V.read(spark, root, version=1).count() == 1
    assert V.read(spark, root, version=2).count() == 2


def test_cluster_zorder_prunes_and_preserves_data(spark, root):
    import random

    rng = random.Random(7)
    rows = [(f"k{i}", rng.randrange(1000)) for i in range(4000)]
    df = spark.createDataFrame(rows, "k string, n int").repartition(8)
    V.append(df, root)
    v = V.cluster(spark, root, ["n"], bits=4, target_file_bytes=8 * 1024)
    manifest = V._read_manifest(root, v)
    assert manifest["clustered_by"] == ["n"]
    n_files = len(manifest["files"])
    assert n_files > 2  # the tiny target forced a multi-file layout
    # data skipping: a narrow range must open a strict subset of files
    kept = V.prune_files(manifest, ("n", 100, 150))
    assert 0 < len(kept) < n_files
    # and results are exact regardless of layout
    got = sorted(
        (r.k, r.n) for r in V.read(spark, root, where=("n", 100, 150)).collect()
    )
    want = sorted((k, n) for k, n in rows if 100 <= n <= 150)
    assert got == want
    # clustering is layout-only: the full snapshot is unchanged
    assert V.read(spark, root).count() == len(rows)


def test_cluster_two_columns_localizes_both(spark, root):
    import random

    rng = random.Random(11)
    rows = [(rng.randrange(1000), float(rng.randrange(10000))) for _ in range(4000)]
    df = spark.createDataFrame(rows, "a int, b double").repartition(8)
    V.append(df, root)
    v = V.cluster(spark, root, ["a", "b"], bits=4, target_file_bytes=8 * 1024)
    manifest = V._read_manifest(root, v)
    n_files = len(manifest["files"])
    assert n_files > 3
    # BOTH columns must prune: that is the point of z-order vs a sort
    kept_a = V.prune_files(manifest, ("a", 0, 120))
    kept_b = V.prune_files(manifest, ("b", 0.0, 1200.0))
    assert len(kept_a) < n_files
    assert len(kept_b) < n_files


def test_history_records_operations(spark, root):
    V.append(_df(spark, [("a", 1), ("b", 2)]).coalesce(1), root)
    V.merge_upsert(_df(spark, [("b", 20), ("c", 3)]), root, key="k")
    V.delete_where(spark, root, "k = 'a'")
    h = {r.version: r for r in V.history(spark, root).collect()}
    assert [h[v].operation for v in sorted(h)] == ["APPEND", "MERGE", "DELETE"]
    assert h[1].n_added == h[1].n_files and h[1].n_removed == 0
    # CoW commits both add and remove files
    assert h[2].n_added >= 1 and h[2].n_removed >= 1
    assert all(r.committed_at is not None for r in h.values())


def test_restore_is_metadata_only_and_preserves_history(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from end_to_end_data_engineering_project_with_databricks_spark.sources import versioned as V
    from end_to_end_data_engineering_project_with_databricks_spark.sources.readers import load_table

    root = str(tmp_path / "t")
    n = load_table(spark, sf_dir, "nation")
    V.append(n.filter(F.col("n_nationkey") < 10), root)
    V.append(n.filter(F.col("n_nationkey") >= 10), root)
    head = V.restore(spark, root, version=1)
    assert head == 3
    # head snapshot == v1 snapshot, and v2 still time-travelable
    assert sorted(map(tuple, V.read(spark, root).collect())) == sorted(
        map(tuple, V.read(spark, root, version=1).collect())
    )
    assert V.read(spark, root, version=2).count() == n.count()
    # metadata-only: restore added no data files
    m1, m3 = V._read_manifest(root, 1), V._read_manifest(root, 3)
    assert m3["files"] == m1["files"]
    assert m3["operation"] == "RESTORE" and m3["restored_version"] == 1
    # restoring a vacuumed-away snapshot must fail loudly
    V.vacuum(root, retain_last=1, min_age_seconds=0.0)
    import pytest as _pytest

    with _pytest.raises((FileNotFoundError, ValueError)):
        V.restore(spark, root, version=2)
