"""Versioned-table contract: time travel, snapshot isolation, commit CAS,
and manifest-over-listing reads."""

from __future__ import annotations

import os

import pytest
import pyspark.sql.functions as F

from tests.conftest import SF_SMALL
from wheels_in_motion_analytics_spark.sources.versioned import (
    VersionConflict,
    commit,
    current_version,
    read_version,
)


@pytest.fixture()
def orders(spark):
    from wheels_in_motion_analytics_spark.tables import table

    return table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )


def test_time_travel_reads_each_version(spark, orders, tmp_path):
    root = str(tmp_path / "t")
    first = orders.limit(100)
    commit(first, root, mode="overwrite")
    commit(orders.limit(250).subtract(first), root, mode="append")
    assert current_version(root) == 2
    assert read_version(spark, root, 1).count() == 100
    assert read_version(spark, root, 2).count() == 250
    assert read_version(spark, root).count() == 250  # latest


def test_overwrite_does_not_disturb_old_snapshots(spark, orders, tmp_path):
    root = str(tmp_path / "t")
    commit(orders, root, mode="overwrite")
    v1_total = read_version(spark, root, 1).agg(F.sum("o_orderkey")).first()[0]
    commit(orders.withColumn("o_orderkey", F.col("o_orderkey") * 0), root, mode="overwrite")
    # v2 sees zeroed keys; v1 is byte-stable
    assert read_version(spark, root, 2).agg(F.sum("o_orderkey")).first()[0] == 0
    assert read_version(spark, root, 1).agg(F.sum("o_orderkey")).first()[0] == v1_total


def test_commit_cas_rejects_stale_writer(spark, orders, tmp_path):
    root = str(tmp_path / "t")
    commit(orders.limit(10), root, mode="overwrite")
    with pytest.raises(VersionConflict):
        commit(orders.limit(5), root, mode="append", expected_version=0)
    assert current_version(root) == 1


def test_publish_race_loser_raises_and_first_entry_stands(tmp_path, monkeypatch):
    """Two writers racing for one log entry: an existence pre-check cannot
    see the other writer (forced here by patching ``os.path.exists`` to
    return False), so the publish itself must refuse to replace the entry."""
    from wheels_in_motion_analytics_spark.sources.versioned import (
        branch_base_version,
        create_branch,
    )

    root = str(tmp_path / "t")
    create_branch(root, "fix", at=1)
    with monkeypatch.context() as m:
        m.setattr(os.path, "exists", lambda path: False)
        with pytest.raises(VersionConflict):
            create_branch(root, "fix", at=2)
    assert branch_base_version(root, "fix") == 1
    assert [f for f in os.listdir(os.path.join(root, "branches", "fix", "_log"))] == ["v1.json"]


def test_read_version_uses_recorded_schema_and_runs_no_job(spark, orders, tmp_path):
    """Every manifest records the table schema, so a snapshot read is built
    without a footer-inference job."""
    from wheels_in_motion_analytics_spark.sources.versioned import _manifest

    root = str(tmp_path / "t")
    commit(orders.limit(20), root, mode="overwrite")
    commit(orders.limit(5), root, mode="append")
    assert _manifest(root, 2)["schema"] == _manifest(root, 1)["schema"]
    sc = spark.sparkContext
    sc.setJobGroup("read_version_build", "snapshot read build")
    try:
        df = read_version(spark, root)
    finally:
        sc.setJobGroup("", "")
    assert not sc.statusTracker().getJobIdsForGroup("read_version_build")
    assert [f.name for f in df.schema.fields] == orders.columns
    assert df.count() == 25


def test_orphan_files_invisible_to_readers(spark, orders, tmp_path):
    """Files in the data dir without a manifest entry (failed commit
    leftovers) must not surface in reads."""
    root = str(tmp_path / "t")
    commit(orders.limit(50), root, mode="overwrite")
    orphan_dir = os.path.join(root, "data", "v999")
    orders.limit(7).write.parquet(orphan_dir)
    assert read_version(spark, root).count() == 50


def test_compaction_shrinks_files_preserves_content_and_history(
    spark, orders, tmp_path
):
    from wheels_in_motion_analytics_spark.sources.versioned import (
        compact,
        manifest_file_count,
    )

    root = str(tmp_path / "c")
    # 5 micro-appends, 2 files each → 10 small files
    for i in range(5):
        batch = orders.where(F.col("o_orderkey") % 5 == i).repartition(2)
        commit(batch, root, mode="append" if i else "overwrite")
    v_before = current_version(root)
    files_before = manifest_file_count(root)
    assert files_before == 10
    rows_before = sorted(
        read_version(spark, root).collect(), key=lambda r: r.o_orderkey
    )

    v_after = compact(spark, root, target_files=2)
    assert v_after == v_before + 1
    assert manifest_file_count(root) == 2
    rows_after = sorted(
        read_version(spark, root).collect(), key=lambda r: r.o_orderkey
    )
    assert rows_before == rows_after
    # history intact: the pre-compaction version still reads its 10 files
    assert manifest_file_count(root, v_before) == 10
    assert read_version(spark, root, v_before).count() == len(rows_before)


@pytest.mark.slow
def test_branch_merge_surfaces_conflicts_and_branch_wins(spark, tmp_path):
    """Three-way merge with a genuine divergence: both main and branch
    rewrite the same key after the fork — the key must surface as a
    conflict and the merged state must carry the BRANCH's value
    (documented branch-wins resolution); keys touched on only one side
    merge cleanly."""
    import pyspark.sql.functions as F

    from wheels_in_motion_analytics_spark.sources.versioned import (
        commit,
        create_branch,
        merge_branch,
    )

    root = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a", 100), (2, "b", 200), (3, "c", 300)], "k INT, name STRING, v INT"
    )
    commit(base, root, mode="overwrite")
    create_branch(root, "fix")
    # main rewrites k=1 and adds k=4
    commit(
        spark.createDataFrame(
            [(1, "a", 111), (2, "b", 200), (3, "c", 300), (4, "d", 400)],
            "k INT, name STRING, v INT",
        ),
        root,
        mode="overwrite",
    )
    # branch rewrites k=1 (conflict with main) and k=3 (clean), drops k=2
    import os

    commit(
        spark.createDataFrame(
            [(1, "a", 999), (3, "c", 333)], "k INT, name STRING, v INT"
        ),
        os.path.join(root, "branches", "fix"),
        mode="overwrite",
    )
    merged, conflicts = merge_branch(spark, root, "fix", "k")
    assert [r.k for r in conflicts.collect()] == [1]
    state = {r.k: (r.name, r.v) for r in merged.collect()}
    assert state == {
        1: ("a", 999),  # conflict: branch wins
        3: ("c", 333),  # branch-only change applied
        4: ("d", 400),  # main-only addition kept
        # 2 deleted by the branch
    }


@pytest.mark.slow
def test_deletion_vectors_leave_data_files_immutable(spark, tmp_path):
    """Two delete commits must add only sidecar key files: the data-file
    list is identical across the version chain, the MoR read applies the
    accumulated vectors, and time travel to v1 still sees every row."""
    import os

    from wheels_in_motion_analytics_spark.sources.versioned import (
        _manifest,
        commit,
        commit_delete,
        read_version_mor,
    )

    root = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(1, 11)], "k INT, v INT"
    )
    commit(base, root, mode="overwrite")
    commit_delete(spark.createDataFrame([(2,), (4,)], "k INT"), root, "k")
    commit_delete(spark.createDataFrame([(9,)], "k INT"), root, "k")
    assert _manifest(root, 3)["files"] == _manifest(root, 1)["files"]
    assert sorted(r.k for r in read_version_mor(spark, root).collect()) == [
        1, 3, 5, 6, 7, 8, 10,
    ]
    # time travel: v1 (pre-delete) is intact, v2 sees only the first DV
    assert len(read_version_mor(spark, root, 1).collect()) == 10
    assert sorted(r.k for r in read_version_mor(spark, root, 2).collect()) == [
        1, 3, 5, 6, 7, 8, 9, 10,
    ]


@pytest.mark.slow
def test_plain_read_version_applies_deletion_vectors(spark, tmp_path):
    """read_version on a MoR DELETE version must not resurrect deleted
    rows: it delegates to the merge-on-read path when the manifest carries
    deletion vectors (round-3 advice)."""
    from wheels_in_motion_analytics_spark.sources.versioned import commit_delete

    root = str(tmp_path / "tbl")
    base = spark.createDataFrame([(i, i * 10) for i in range(1, 6)], "k INT, v INT")
    commit(base, root, mode="overwrite")
    commit_delete(spark.createDataFrame([(3,)], "k INT"), root, "k")
    assert sorted(r.k for r in read_version(spark, root).collect()) == [1, 2, 4, 5]
    # pre-delete version still reads the full file list
    assert len(read_version(spark, root, version=1).collect()) == 5


def test_change_feed_reads_only_incremental_files(spark, orders, tmp_path):
    from wheels_in_motion_analytics_spark.sources.versioned import (
        change_feed,
        commit_delete,
    )

    root = str(tmp_path / "cdf")
    lo = orders.where(F.col("o_orderkey") <= 1000)
    hi = orders.where(F.col("o_orderkey") > 1000)
    commit(lo, root, mode="overwrite")
    commit(hi, root, mode="append")
    commit_delete(
        orders.where(F.col("o_orderkey") % 7 == 0).select("o_orderkey"),
        root,
        "o_orderkey",
    )
    feed = change_feed(spark, root, 1, 3)
    by = {
        (r["commit_version"], r["change_type"]): r["n"]
        for r in feed.groupBy("commit_version", "change_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert by[(1, "insert")] == lo.count()
    assert by[(2, "insert")] == hi.count()
    assert by[(3, "delete")] == orders.where(F.col("o_orderkey") % 7 == 0).count()
    # v2's slice of the feed reads ONLY the appended files — key ranges prove
    # the initial load never re-enters the feed
    v2_keys = feed.where(
        (F.col("commit_version") == 2) & (F.col("change_type") == "insert")
    )
    assert v2_keys.agg(F.min("row_key")).collect()[0][0] > 1000


def test_change_feed_rejects_mid_chain_overwrite(spark, orders, tmp_path):
    from wheels_in_motion_analytics_spark.sources.versioned import change_feed

    root = str(tmp_path / "cdf_ow")
    commit(orders.limit(100), root, mode="overwrite")
    commit(orders.limit(10), root, mode="overwrite")
    with pytest.raises(ValueError, match="overwrite"):
        change_feed(spark, root, 1, 2).collect()


def test_vacuum_reclaims_only_pre_horizon_files(spark, orders, tmp_path):
    from wheels_in_motion_analytics_spark.sources.versioned import (
        _data_dir,
        _manifest,
        vacuum,
    )

    root = str(tmp_path / "vac")
    commit(orders.where(F.col("o_orderkey") <= 500), root, mode="overwrite")
    commit(orders.where(F.col("o_orderkey") > 500), root, mode="append")
    commit(orders, root, mode="overwrite")  # v3 re-snapshots everything
    v1_files = set(_manifest(root, 1)["files"])
    v2_files = set(_manifest(root, 2)["files"])
    v3_files = set(_manifest(root, 3)["files"])
    audit = vacuum(root, retain_from=3)
    assert audit["reclaimed"] == len((v1_files | v2_files) - v3_files) > 0
    for f in v1_files:
        assert not os.path.exists(os.path.join(_data_dir(root), f))
    for f in v3_files:
        assert os.path.exists(os.path.join(_data_dir(root), f))
    # retained horizon still time-travels; pre-horizon does not
    assert read_version(spark, root, version=3).count() == orders.count()
    with pytest.raises(Exception):
        read_version(spark, root, version=1)


def test_vacuum_keeps_dv_sidecars_of_retained_versions(spark, orders, tmp_path):
    from wheels_in_motion_analytics_spark.sources.versioned import (
        _data_dir,
        _manifest,
        commit_delete,
        vacuum,
    )

    root = str(tmp_path / "vac_dv")
    commit(orders, root, mode="overwrite")
    commit_delete(
        orders.where(F.col("o_orderkey") % 5 == 0).select("o_orderkey"),
        root,
        "o_orderkey",
    )
    expected = read_version(spark, root, version=2).count()
    vacuum(root, retain_from=2)
    m2 = _manifest(root, 2)
    for f in m2.get("deletes", []):
        assert os.path.exists(os.path.join(_data_dir(root), f))
    # MoR read of the retained head still applies the vectors
    assert read_version(spark, root, version=2).count() == expected


@pytest.mark.parametrize("chain", [
    # (kind, predicate_mod) sequences; append slices are disjoint by
    # orderkey band, deletes hit arbitrary keys — replaying the feed must
    # reconstruct the MoR snapshot for ANY such chain
    ["a0", "a1", "d3", "a2", "d5"],
    ["a0", "d2", "d3", "a1"],
    ["a0", "a1", "a2"],
])
@pytest.mark.slow
def test_change_feed_replay_reconstructs_mor_snapshot(spark, orders, tmp_path, chain):
    from wheels_in_motion_analytics_spark.sources.versioned import (
        change_feed,
        commit_delete,
        read_version,
    )

    root = str(tmp_path / "replay")
    bands = 3
    first = True
    for step in chain:
        kind, arg = step[0], int(step[1])
        if kind == "a":
            band = orders.where(F.col("o_orderkey") % bands == arg % bands)
            commit(band, root, mode="overwrite" if first else "append")
            first = False
        else:
            commit_delete(
                orders.where(F.col("o_orderkey") % arg == 0).select("o_orderkey"),
                root,
                "o_orderkey",
            )
    head = len(chain)
    feed = change_feed(spark, root, 1, head)
    # Replay IN COMMIT ORDER — deletion vectors are sequence-scoped (a
    # delete only tombstones rows inserted before it), so the consumer
    # folds events version by version instead of one global anti-join.
    events = sorted(
        (r.commit_version, r.change_type, r.row_key) for r in feed.collect()
    )
    state: list[int] = []
    for _, change_type, key in events:
        if change_type == "insert":
            state.append(key)
        else:
            state = [k for k in state if k != key]
    snapshot = sorted(
        r["o_orderkey"] for r in read_version(spark, root, head).collect()
    )
    assert sorted(state) == snapshot and len(snapshot) > 0


@pytest.mark.slow
def test_cow_update_rewrites_only_matching_files(spark, orders, tmp_path):
    """Copy-on-write UPDATE: (a) files without matches carry into the new
    manifest under the SAME entry (byte-identical by construction), (b)
    the new snapshot equals applying the update to the old snapshot, (c)
    the old version still reads back pre-update (snapshot isolation)."""
    import hashlib

    from wheels_in_motion_analytics_spark.sources.versioned import (
        _data_dir,
        _manifest,
        update_copy_on_write,
    )

    root = str(tmp_path / "t")
    commit(
        orders.repartition(4, F.pmod(F.col("o_orderkey"), F.lit(4))),
        root,
        mode="overwrite",
    )
    before = read_version(spark, root, version=1).collect()
    m1 = _manifest(root, 1)
    digests = {}
    for rel in m1["files"]:
        with open(os.path.join(_data_dir(root), rel), "rb") as fh:
            digests[rel] = hashlib.md5(fh.read()).hexdigest()

    def pred(df):
        return F.pmod(df["o_orderkey"], F.lit(4)) == 1

    def bump(df):
        return df.withColumn(
            "o_totalprice",
            F.when(pred(df), df["o_totalprice"] + 1.0).otherwise(
                df["o_totalprice"]
            ),
        )

    audit = update_copy_on_write(spark, root, pred, bump)
    assert 0 < audit["n_files_rewritten"] < audit["n_files_total"]
    m2 = _manifest(root, 2)
    kept = set(m1["files"]) & set(m2["files"])
    assert kept, "some files must carry forward"
    for rel in kept:
        with open(os.path.join(_data_dir(root), rel), "rb") as fh:
            assert hashlib.md5(fh.read()).hexdigest() == digests[rel]
    # semantics: new snapshot == update applied to old snapshot
    want = {
        (r.o_orderkey, round(r.o_totalprice + 1.0, 2))
        if r.o_orderkey % 4 == 1
        else (r.o_orderkey, round(r.o_totalprice, 2))
        for r in before
    }
    got = {
        (r.o_orderkey, round(r.o_totalprice, 2))
        for r in read_version(spark, root).collect()
    }
    assert got == want
    # isolation: v1 unchanged
    assert {
        (r.o_orderkey, round(r.o_totalprice, 2))
        for r in read_version(spark, root, version=1).collect()
    } == {(r.o_orderkey, round(r.o_totalprice, 2)) for r in before}


@pytest.mark.slow
def test_change_feed_rejects_update_and_branch_base_commits(spark, orders, tmp_path):
    """A feed range spanning a COW ``update`` commit (or any mode the feed
    cannot express) must raise a clear ValueError, not fall into the
    delete branch and die on a zero-path parquet read (r4 advisor)."""
    from wheels_in_motion_analytics_spark.sources.versioned import (
        change_feed,
        update_copy_on_write,
    )

    root = str(tmp_path / "cdf_upd")
    commit(orders.limit(100), root, mode="overwrite")
    update_copy_on_write(
        spark,
        root,
        lambda df: df["o_orderkey"] % 2 == 0,
        lambda df: df.withColumn("o_totalprice", df["o_totalprice"] + 1.0),
    )
    with pytest.raises(ValueError, match="'update'"):
        change_feed(spark, root, 1, 2)

    import json as _json

    from wheels_in_motion_analytics_spark.sources.versioned import _log_dir

    root2 = str(tmp_path / "cdf_alien")
    commit(orders.limit(10), root2, mode="overwrite")
    # a future commit kind carrying a 'deletes' key must NOT be misread as
    # a delete commit
    alien = {"version": 2, "mode": "reorg", "files": [], "deletes": ["x.parquet"]}
    with open(os.path.join(_log_dir(root2), "v2.json"), "w") as fh:
        _json.dump(alien, fh)
    with pytest.raises(ValueError, match="'reorg'"):
        change_feed(spark, root2, 1, 2)


def test_cow_update_reclaims_stage_dir_on_version_conflict(spark, orders, tmp_path):
    """Losing the CAS race must not orphan staged rewrites in the data dir
    (vacuum only reclaims manifest-referenced files), and the cleanup must
    leave the winning writer's v2 files in place."""
    from wheels_in_motion_analytics_spark.sources.versioned import (
        _data_dir,
        update_copy_on_write,
    )

    root = str(tmp_path / "cow_race")
    commit(orders.limit(200), root, mode="overwrite")

    def racing_update(df):
        # a concurrent writer commits v2 between our base read and our
        # manifest publish — exactly the CAS race the cleanup must survive
        if current_version(root) == 1:
            commit(orders.limit(5), root, mode="append")
        return df

    with pytest.raises(VersionConflict):
        update_copy_on_write(
            spark,
            root,
            lambda df: df["o_orderkey"] >= 0,
            racing_update,
        )
    staged = [f for _, _, names in os.walk(_data_dir(root)) for f in names]
    assert not [f for f in staged if f.startswith("rw")]
    assert read_version(spark, root, 2).count() == 205


@pytest.mark.parametrize("chain", [
    # a<band>=append band, d<mod>=DV-delete keys %mod==0, c=compact
    # (re-baselines the DV chain), u<mod>=COW-update keys %mod==1.
    # Grammar constraint honored: 'u' only when no deletion vectors are
    # live (update_copy_on_write rejects DV chains by contract).
    ["a0", "u3", "a1", "d5", "c", "u4", "a2", "d3"],
    ["a0", "a0", "d2", "c", "u2", "d7", "a1", "c", "u5"],
    ["a1", "c", "c", "u2", "u3", "a2", "d2", "d3", "c", "u7"],
])
@pytest.mark.slow
def test_mixed_chain_matches_sequential_model(spark, orders, tmp_path, chain):
    """Model-based chain invariant over the FULL lifecycle — append,
    MoR delete, compact and COW update interleaved: after every step the
    MoR read of the head must equal a row-multiset model maintained in
    plain Python, and every historical version must stay time-travelable
    to its recorded model state (immutability under later commits)."""
    from wheels_in_motion_analytics_spark.sources.versioned import (
        commit_delete,
        compact,
        read_version,
        update_copy_on_write,
    )

    root = str(tmp_path / "mixed")
    base = {
        r.o_orderkey: int(r.o_totalprice * 100 + 0.5)
        for r in orders.collect()
    }
    bands = 3
    model: list[tuple[int, int]] = []
    history: list[list[tuple[int, int]]] = []
    first = True
    for step in chain:
        kind, arg = step[0], int(step[1]) if len(step) > 1 else 0
        if kind == "a":
            band = orders.where(F.col("o_orderkey") % bands == arg % bands)
            commit(band, root, mode="overwrite" if first else "append")
            if first:
                model = []
            first = False
            model = model + [
                (k, c) for k, c in sorted(base.items()) if k % bands == arg % bands
            ]
        elif kind == "d":
            commit_delete(
                orders.where(F.col("o_orderkey") % arg == 0).select("o_orderkey"),
                root,
                "o_orderkey",
            )
            model = [(k, c) for k, c in model if k % arg != 0]
        elif kind == "c":
            compact(spark, root)
        else:  # u<mod>: +1 cent to keys % mod == 1 via file-level COW
            update_copy_on_write(
                spark,
                root,
                lambda df, m=arg: F.col("o_orderkey") % m == 1,
                lambda df, m=arg: df.withColumn(
                    "o_totalprice",
                    F.when(
                        F.col("o_orderkey") % m == 1,
                        F.col("o_totalprice") + 0.01,
                    ).otherwise(F.col("o_totalprice")),
                ),
            )
            model = [
                (k, c + 1 if k % arg == 1 else c) for k, c in model
            ]
        history.append(sorted(model))
        got = sorted(
            (r.o_orderkey, int(r.o_totalprice * 100 + 0.5))
            for r in read_version(spark, root).collect()
        )
        assert got == sorted(model), f"head mismatch after {step}"
    # historical versions must still reconstruct their recorded states
    for v, snap in enumerate(history, start=1):
        got = sorted(
            (r.o_orderkey, int(r.o_totalprice * 100 + 0.5))
            for r in read_version(spark, root, v).collect()
        )
        assert got == snap, f"time travel to v{v} drifted after later commits"


def test_compact_and_mor_preserve_evolved_columns(spark, tmp_path):
    """Schema evolution survives maintenance: (a) compact() after an
    evolved append rewrites under the UNION schema (legacy rows
    NULL-filled, evolved values intact — the plain read silently dropped
    the column, losing data), (b) a merge-schema read over a
    deletion-vector chain keeps the evolved column on every group."""
    from wheels_in_motion_analytics_spark.sources.versioned import (
        commit_delete,
        compact,
    )

    root = str(tmp_path / "evo")
    v1 = spark.range(5).select(F.col("id").alias("k"), F.lit(10).alias("a"))
    commit(v1, root, mode="overwrite")
    v2 = spark.range(5, 8).select(
        F.col("id").alias("k"), F.lit(20).alias("a"), F.lit(99).alias("extra")
    )
    commit(v2, root, mode="append")

    compact(spark, root)
    post = read_version(spark, root, merge_schema=True)
    assert "extra" in post.columns
    vals = {(r.k, r["extra"]) for r in post.collect()}
    assert vals == {(i, None) for i in range(5)} | {(i, 99) for i in range(5, 8)}

    # DV chain over the evolved table: merge-schema MoR read keeps the column
    commit_delete(
        spark.range(1).select(F.col("id").alias("k")), root, "k"
    )
    mor = read_version(spark, root, merge_schema=True)
    assert "extra" in mor.columns
    got = {(r.k, r["extra"]) for r in mor.collect()}
    assert got == {(i, None) for i in range(1, 5)} | {(i, 99) for i in range(5, 8)}


def test_cow_update_predicate_on_evolved_column(spark, tmp_path):
    """A COW UPDATE whose predicate references a post-evolution column must
    treat pre-evolution files under SQL semantics — the column reads as
    typed NULL, so no match, file carried forward byte-identical — instead
    of dying with an unresolved-column error; rewritten files upgrade to
    the union schema."""
    from wheels_in_motion_analytics_spark.sources.versioned import (
        _manifest,
        update_copy_on_write,
    )

    root = str(tmp_path / "cowevo")
    commit(
        spark.range(5).select(F.col("id").alias("k"), F.lit(10).alias("a")),
        root,
        mode="overwrite",
    )
    commit(
        spark.range(5, 8).select(
            F.col("id").alias("k"), F.lit(20).alias("a"), F.lit(99).alias("extra")
        ),
        root,
        mode="append",
    )
    v1_files = set(_manifest(root, 1)["files"])
    res = update_copy_on_write(
        spark,
        root,
        lambda df: F.col("extra") == 99,
        lambda df: df.withColumn("a", F.col("a") + 1),
    )
    assert res["n_rows_updated"] == 3
    # every v1 (pre-evolution) file carried forward untouched
    assert v1_files <= set(_manifest(root, res["version"])["files"])
    got = sorted(
        (r.k, r.a, r["extra"])
        for r in read_version(spark, root, merge_schema=True).collect()
    )
    assert got == [(i, 10, None) for i in range(5)] + [
        (i, 21, 99) for i in range(5, 8)
    ]


def test_branch_merge_across_schema_evolution(spark, tmp_path):
    """Merging a pre-evolution branch into a post-evolution main must keep
    the evolved column, NULL-fill it on the branch side, and must NOT
    classify base rows as changed merely because the column appeared."""
    from wheels_in_motion_analytics_spark.sources.versioned import (
        create_branch,
        merge_branch,
    )

    root = str(tmp_path / "brevo")
    commit(
        spark.range(5).select(F.col("id").alias("k"), F.lit(10).alias("a")),
        root,
        mode="overwrite",
    )
    create_branch(root, "b", at=1)
    commit(
        spark.range(5, 8).select(
            F.col("id").alias("k"), F.lit(20).alias("a"), F.lit(7).alias("extra")
        ),
        root,
        mode="append",
    )
    merged, conflicts = merge_branch(spark, root, "b", "k")
    assert "extra" in merged.columns
    assert conflicts.count() == 0  # nothing actually changed on either side
    got = sorted((r.k, r.a, r["extra"]) for r in merged.collect())
    assert got == [(i, 10, None) for i in range(5)] + [
        (i, 20, 7) for i in range(5, 8)
    ]


def test_vacuum_pins_branch_fork_points(spark, tmp_path):
    """A vacuum whose horizon passes a live branch's fork point must keep
    the fork version's manifest and file refs (the branch stays readable),
    while still reclaiming versions no branch pins."""
    from wheels_in_motion_analytics_spark.sources.versioned import (
        create_branch,
        read_branch,
        vacuum,
    )

    root = str(tmp_path / "vacbr")
    commit(spark.range(5).select(F.col("id").alias("k")), root, mode="overwrite")
    create_branch(root, "b", at=1)
    commit(spark.range(9).select(F.col("id").alias("k")), root, mode="overwrite")
    commit(spark.range(7).select(F.col("id").alias("k")), root, mode="overwrite")
    audit = vacuum(root, retain_from=3)
    # v2 (pinned by nothing) reclaimed; v1 pinned by the branch
    assert audit["dropped_versions"] == 1
    assert read_branch(spark, root, "b").count() == 5
    with pytest.raises(Exception):
        read_version(spark, root, 2)


@pytest.mark.parametrize("chain", [
    # e<band> = append band WITH a new o_flag column (schema evolution)
    ["a0", "e1", "c", "u3", "d5", "a2"],
    ["a0", "d2", "c", "e1", "u2", "c", "d3", "e2"],
])
@pytest.mark.slow
def test_mixed_chain_with_schema_evolution(spark, orders, tmp_path, chain):
    """The lifecycle model test with SCHEMA EVOLUTION interleaved: evolved
    appends add o_flag; every later maintenance op (compact, COW update,
    MoR delete) must preserve the evolved column and NULL-fill legacy
    rows — the session's probes showed compact/COW/merge previously lost
    or crashed on exactly these interleavings."""
    from wheels_in_motion_analytics_spark.sources.versioned import (
        commit_delete,
        compact,
        read_version,
        update_copy_on_write,
    )

    root = str(tmp_path / "evochain")
    base = {
        r.o_orderkey: int(r.o_totalprice * 100 + 0.5) for r in orders.collect()
    }
    bands = 3
    model: list[tuple[int, int, object]] = []  # (key, cents, flag)
    first = True
    for step in chain:
        kind, arg = step[0], int(step[1]) if len(step) > 1 else 0
        if kind in ("a", "e"):
            band = orders.where(F.col("o_orderkey") % bands == arg % bands)
            if kind == "e":
                band = band.withColumn("o_flag", F.lit(arg))
            commit(band, root, mode="overwrite" if first else "append")
            if first:
                model = []
            first = False
            model = model + [
                (k, c, arg if kind == "e" else None)
                for k, c in sorted(base.items())
                if k % bands == arg % bands
            ]
        elif kind == "d":
            commit_delete(
                orders.where(F.col("o_orderkey") % arg == 0).select("o_orderkey"),
                root,
                "o_orderkey",
            )
            model = [(k, c, f) for k, c, f in model if k % arg != 0]
        elif kind == "c":
            compact(spark, root)
        else:  # u<mod>
            update_copy_on_write(
                spark,
                root,
                lambda df, m=arg: F.col("o_orderkey") % m == 1,
                lambda df, m=arg: df.withColumn(
                    "o_totalprice",
                    F.when(
                        F.col("o_orderkey") % m == 1,
                        F.col("o_totalprice") + 0.01,
                    ).otherwise(F.col("o_totalprice")),
                ),
            )
            model = [
                (k, c + 1 if k % arg == 1 else c, f) for k, c, f in model
            ]
        head = read_version(spark, root, merge_schema=True)
        has_flag = "o_flag" in head.columns
        got = sorted(
            (
                r.o_orderkey,
                int(r.o_totalprice * 100 + 0.5),
                r["o_flag"] if has_flag else None,
            )
            for r in head.collect()
        )
        assert got == sorted(model), f"head mismatch after {step}"
