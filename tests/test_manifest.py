"""Manifest-log table properties (M208): optimistic-concurrency
conflict detection, snapshot isolation / time travel, overwrite
semantics, and reader invisibility of uncommitted staging data."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from insight_spark.operators.manifest import (
    ConflictError,
    latest_version,
    log_append,
    log_overwrite,
    log_versions,
    read_snapshot,
)
from insight_spark.sources import load_table

SF_DIR = "/root/testdata/sf0.001"


def _orders(spark, lo, hi):
    return (
        load_table(spark, SF_DIR, "orders")
        .filter((F.col("o_orderkey") > lo) & (F.col("o_orderkey") <= hi))
        .select("o_orderkey", "o_totalprice")
    )


def test_append_and_time_travel(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    a = _orders(spark, 0, 100)
    b = _orders(spark, 100, 200)
    assert log_append(a, tbl, expected_version=0) == 1
    assert log_append(b, tbl, expected_version=1) == 2
    assert log_versions(tbl) == [1, 2]
    n_a, n_b = a.count(), b.count()
    # snapshot isolation: v1 readable and UNCHANGED after v2 committed
    assert read_snapshot(spark, tbl, 1).count() == n_a
    assert read_snapshot(spark, tbl, 2).count() == n_a + n_b
    # latest == v2
    assert read_snapshot(spark, tbl).count() == n_a + n_b
    # row-level fidelity, not just counts
    keys_v1 = {r["o_orderkey"] for r in read_snapshot(spark, tbl, 1).collect()}
    assert keys_v1 == {r["o_orderkey"] for r in a.collect()}


def test_conflict_detection_is_a_hard_property(spark, tmp_path):
    """Every writer basing on a stale version MUST get ConflictError,
    and the losing writer's staged files must stay invisible."""
    tbl = str(tmp_path / "tbl")
    log_append(_orders(spark, 0, 50), tbl, expected_version=0)
    base = latest_version(tbl)  # both writers read v1
    log_append(_orders(spark, 50, 100), tbl, expected_version=base)
    n_after_winner = read_snapshot(spark, tbl).count()
    for _ in range(3):  # repeated stale writers: always rejected
        with pytest.raises(ConflictError):
            log_append(_orders(spark, 100, 150), tbl, expected_version=base)
    # table state untouched by the losers
    assert latest_version(tbl) == base + 1
    assert read_snapshot(spark, tbl).count() == n_after_winner


def test_overwrite_drops_history_from_latest_only(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    log_append(_orders(spark, 0, 100), tbl)
    log_overwrite(_orders(spark, 200, 250), tbl)
    assert latest_version(tbl) == 2
    # latest sees ONLY the overwrite's rows
    keys = {r["o_orderkey"] for r in read_snapshot(spark, tbl).collect()}
    assert keys == {
        r["o_orderkey"] for r in _orders(spark, 200, 250).collect()
    }
    # time travel still serves the pre-overwrite snapshot
    assert read_snapshot(spark, tbl, 1).count() == _orders(
        spark, 0, 100
    ).count()
    # overwrite also conflict-checks
    with pytest.raises(ConflictError):
        log_overwrite(_orders(spark, 0, 10), tbl, expected_version=1)


def test_uncommitted_staging_is_invisible(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    log_append(_orders(spark, 0, 100), tbl)
    n = read_snapshot(spark, tbl).count()
    # simulate a writer that staged data but crashed before commit
    _orders(spark, 100, 200).write.parquet(
        os.path.join(tbl, "data", "orphan_stage")
    )
    assert read_snapshot(spark, tbl).count() == n, (
        "readers must trust the manifest only — staged-but-uncommitted "
        "files are invisible"
    )


def test_fresh_table_read_raises(spark, tmp_path):
    with pytest.raises(ValueError):
        read_snapshot(spark, str(tmp_path / "nope"))


def test_delete_rewrites_only_touched_files(spark, tmp_path):
    """COW delete must carry untouched files by IDENTICAL PATH (zero
    IO) and rewrite only files containing matches."""
    import json

    from insight_spark.operators.manifest import log_delete

    tbl = str(tmp_path / "tbl")
    lo = _orders(spark, 0, 100).coalesce(1)  # file A: keys 1..100
    hi = _orders(spark, 600, 700).coalesce(1)  # file B: keys 601..700
    log_append(lo, tbl)
    log_append(hi, tbl)
    m2 = json.load(
        open(os.path.join(tbl, "_manifest", "v000002.json"))
    )
    v3 = log_delete(
        spark, tbl, F.col("o_orderkey") > 600, expected_version=2
    )
    m3 = json.load(
        open(os.path.join(tbl, "_manifest", f"v{v3:06d}.json"))
    )
    # file A (no match) carried over by identical path; file B rewritten
    lo_files = [f for f in m2["files"] if f not in m3["files"]]
    kept = [f for f in m2["files"] if f in m3["files"]]
    assert m3["kept"] == len(kept) >= 1, m3
    assert m3["rewrote"] == len(lo_files) >= 1, m3
    # deleted rows gone, everything else intact, pre-delete readable
    assert read_snapshot(spark, tbl, v3).count() == lo.count()
    assert read_snapshot(spark, tbl, 2).count() == lo.count() + hi.count()
    # delete conflict-checks like any commit
    from insight_spark.operators.manifest import ConflictError as CE

    with pytest.raises(CE):
        log_delete(spark, tbl, F.col("o_orderkey") > 0, expected_version=2)


def test_merge_rewrites_only_matched_files(spark, tmp_path):
    """COW MERGE: files without a matched key carry over by path;
    matched rows replaced (not duplicated); inserts land once."""
    import json

    from insight_spark.operators.manifest import ConflictError, log_merge

    tbl = str(tmp_path / "tbl")
    lo = _orders(spark, 0, 100).coalesce(1)
    hi = _orders(spark, 600, 700).coalesce(1)
    log_append(lo, tbl)
    log_append(hi, tbl)
    # updates touch only the hi file; inserts are brand-new keys
    updates = _orders(spark, 600, 650).withColumn(
        "o_totalprice", F.col("o_totalprice") * 10
    )
    inserts = _orders(spark, 900, 920)
    v3 = log_merge(
        spark, updates.unionByName(inserts), tbl, key="o_orderkey"
    )
    m2 = json.load(open(os.path.join(tbl, "_manifest", "v000002.json")))
    m3 = json.load(open(os.path.join(tbl, "_manifest", f"v{v3:06d}.json")))
    assert m3["rewrote"] == 1 and m3["kept"] == 1, m3
    kept = [f for f in m2["files"] if f in m3["files"]]
    assert len(kept) == 1  # the lo file, untouched by path
    snap = read_snapshot(spark, tbl, v3)
    n_lo, n_hi = lo.count(), hi.count()
    n_upd, n_ins = updates.count(), inserts.count()
    assert snap.count() == n_lo + n_hi + n_ins  # replaced, not added
    # matched rows carry the NEW values
    got = {
        r["o_orderkey"]: r["o_totalprice"]
        for r in snap.filter(
            (F.col("o_orderkey") > 600) & (F.col("o_orderkey") <= 650)
        ).collect()
    }
    want = {r["o_orderkey"]: r["o_totalprice"] for r in updates.collect()}
    assert got == want and len(got) == n_upd
    # pre-merge snapshot untouched; stale merge conflicts
    assert read_snapshot(spark, tbl, 2).count() == n_lo + n_hi
    with pytest.raises(ConflictError):
        log_merge(spark, inserts, tbl, key="o_orderkey", expected_version=2)


def test_zone_map_prunes_and_stays_conservative(spark, tmp_path):
    """Pruned reads must return exactly the filtered rows while
    scanning only intersecting files; files WITHOUT stats must be
    scanned conservatively (correctness over skipping)."""
    from insight_spark.operators.manifest import read_snapshot_pruned

    tbl = str(tmp_path / "tbl")
    log_append(
        _orders(spark, 0, 100).coalesce(1), tbl, stats_cols=["o_orderkey"]
    )
    log_append(
        _orders(spark, 100, 200).coalesce(1), tbl, stats_cols=["o_orderkey"]
    )
    # third file appended WITHOUT stats — must always be scanned
    log_append(_orders(spark, 200, 300).coalesce(1), tbl)
    df, n_scan, n_total = read_snapshot_pruned(
        spark, tbl, [("o_orderkey", 1, 100)]
    )
    assert n_total == 3
    assert n_scan == 2, "file1 (match) + file3 (no stats, conservative)"
    assert df.count() == _orders(spark, 0, 100).count()
    # disjoint probe: only the stats-less file is scanned, zero rows
    df2, n_scan2, _ = read_snapshot_pruned(
        spark, tbl, [("o_orderkey", 5000, 6000)]
    )
    assert n_scan2 == 1
    assert df2.count() == 0  # table holds keys <= 300 only
    # stats carry forward across later commits
    import json

    m3 = json.load(open(os.path.join(tbl, "_manifest", "v000003.json")))
    assert len(m3["stats"]) == 2


def test_checkpoint_bounds_tail_replay(spark, tmp_path):
    from insight_spark.operators.manifest import (
        checkpoint_versions,
        read_snapshot_via_checkpoint,
        write_checkpoint,
    )

    tbl = str(tmp_path / "tbl")
    log_append(_orders(spark, 0, 100), tbl)
    log_append(_orders(spark, 100, 200), tbl)
    write_checkpoint(tbl)  # at v2
    log_append(_orders(spark, 200, 300), tbl)
    assert checkpoint_versions(tbl) == [2]
    # read AT the checkpoint: zero tail manifests
    df2, n2 = read_snapshot_via_checkpoint(spark, tbl, 2)
    assert n2 == 0
    assert df2.count() == _orders(spark, 0, 200).count()
    # read past it: exactly the tail after the checkpoint
    df3, n3 = read_snapshot_via_checkpoint(spark, tbl)
    assert n3 == 1
    assert df3.count() == _orders(spark, 0, 300).count()
    # idempotent re-checkpoint
    write_checkpoint(tbl, 2)
    assert checkpoint_versions(tbl) == [2]


def test_shallow_clone_is_zero_copy_and_diverges(spark, tmp_path):
    import json

    from insight_spark.operators.manifest import log_clone

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    log_append(_orders(spark, 0, 100).coalesce(1), src)
    log_clone(src, dst)
    m_src = json.load(open(os.path.join(src, "_manifest", "v000001.json")))
    m_dst = json.load(open(os.path.join(dst, "_manifest", "v000001.json")))
    # zero-copy: identical file list, path for path; nothing staged
    assert m_dst["files"] == m_src["files"]
    assert os.listdir(os.path.join(dst, "data")) == []
    # divergence: clone appends never reach the source
    log_append(_orders(spark, 600, 650).coalesce(1), dst)
    n_src = _orders(spark, 0, 100).count()
    assert read_snapshot(spark, src).count() == n_src
    assert (
        read_snapshot(spark, dst).count()
        == n_src + _orders(spark, 600, 650).count()
    )
    # a second clone into the same destination conflicts
    from insight_spark.operators.manifest import ConflictError as CE

    with pytest.raises(CE):
        log_clone(src, dst)


def test_compact_preserves_bytes_and_history(spark, tmp_path):
    from insight_spark.operators.manifest import log_compact

    tbl = str(tmp_path / "tbl")
    log_append(_orders(spark, 0, 100).coalesce(1), tbl)
    log_append(_orders(spark, 100, 200).coalesce(1), tbl)
    before = {
        (r["o_orderkey"], r["o_totalprice"])
        for r in read_snapshot(spark, tbl).collect()
    }
    v3 = log_compact(spark, tbl, target_files=1)
    after = {
        (r["o_orderkey"], r["o_totalprice"])
        for r in read_snapshot(spark, tbl, v3).collect()
    }
    assert after == before  # byte-identical data, new layout
    import json

    m3 = json.load(open(os.path.join(tbl, "_manifest", f"v{v3:06d}.json")))
    assert len(m3["files"]) == 1 and m3["compacted_from"] == 2
    # fragmented history still time-travels
    assert read_snapshot(spark, tbl, 2).count() == len(before)


def test_restore_is_metadata_only_and_keeps_history(spark, tmp_path):
    from insight_spark.operators.manifest import log_restore

    tbl = str(tmp_path / "tbl")
    v1 = log_append(_orders(spark, 0, 50), tbl, expected_version=0)
    v2 = log_append(_orders(spark, 50, 100), tbl, expected_version=v1)
    log_overwrite(_orders(spark, 100, 120), tbl, expected_version=v2)

    import json

    files_before = {
        f
        for v in log_versions(tbl)
        for f in json.load(
            open(os.path.join(tbl, "_manifest", f"v{v:06d}.json"))
        )["files"]
    }
    v4 = log_restore(tbl, to_version=v2)
    assert v4 == 4
    # metadata-only: the restore added ZERO data files
    m4 = json.load(open(os.path.join(tbl, "_manifest", "v000004.json")))
    assert m4["added"] == []
    assert set(m4["files"]) <= files_before
    # restored content == v2 content
    assert sorted(
        r["o_orderkey"] for r in read_snapshot(spark, tbl).collect()
    ) == sorted(r["o_orderkey"] for r in read_snapshot(spark, tbl, v2).collect())
    # history intact: the bad v3 is still time-travel readable
    assert read_snapshot(spark, tbl, 3).count() == 20
    # restoring an unknown version refuses
    with pytest.raises(ValueError):
        log_restore(tbl, to_version=99)


def test_isolated_writers_overlap_hard_fails_disjoint_retries(spark, tmp_path):
    from insight_spark.operators.manifest import log_append_isolated

    tbl = str(tmp_path / "tbl")
    v1 = log_append_isolated(
        _orders(spark, 0, 50), tbl, ["p0"], expected_version=0
    )
    # winner commits v2 on partition p1
    log_append_isolated(_orders(spark, 50, 80), tbl, ["p1"], expected_version=v1)
    # overlapping stale writer (p1) must hard-fail, not silently retry
    with pytest.raises(ConflictError):
        log_append_isolated(
            _orders(spark, 80, 90), tbl, ["p1"], expected_version=v1
        )
    # disjoint stale writer (p2) retries and lands as v3
    v3 = log_append_isolated(
        _orders(spark, 90, 100), tbl, ["p2"], expected_version=v1
    )
    assert v3 == 3 == latest_version(tbl)
    # nothing lost: v3 holds all three landed writers' rows
    assert read_snapshot(spark, tbl).count() == 50 + 30 + 10
    # a prior PLAIN append (no partition declaration) blocks retry
    log_append(_orders(spark, 100, 110), tbl, expected_version=v3)
    with pytest.raises(ConflictError):
        log_append_isolated(
            _orders(spark, 110, 120), tbl, ["p9"], expected_version=v3
        )


def test_publish_set_pins_versions_and_rejects_unknown(spark, tmp_path):
    from insight_spark.operators.manifest import publish_set, read_set

    t1 = str(tmp_path / "t1")
    t2 = str(tmp_path / "t2")
    meta = str(tmp_path / "meta")
    v1 = log_append(_orders(spark, 0, 30), t1, expected_version=0)
    w1 = log_append(_orders(spark, 30, 60), t2, expected_version=0)
    s1 = publish_set(meta, {t1: v1, t2: w1})
    # t1 moves on; set s1 must still resolve to the OLD t1
    log_append(_orders(spark, 60, 90), t1, expected_version=v1)
    tables = read_set(spark, meta, s1)
    assert tables[t1].count() == 30
    assert tables[t2].count() == 30
    # pinning a version that doesn't exist refuses
    with pytest.raises(ValueError):
        publish_set(meta, {t1: 99})


def test_partitioned_append_layout_mixing_fails_at_commit(spark, tmp_path):
    """ADVICE r11 guard: a partitioned append onto a table whose
    committed manifests carry a different leaf-file schema (plain
    appends keep all columns in the bytes; partitioned appends move
    the partition columns into the path) must fail AT COMMIT — the
    table-level schema would otherwise misdescribe the earlier files.
    Same-layout partitioned appends stay allowed; plain appends keep
    their additive-evolution freedom."""
    orders = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    a = orders.filter(F.col("o_orderkey") <= 100)
    b = orders.filter(
        (F.col("o_orderkey") > 100) & (F.col("o_orderkey") <= 200)
    )

    # plain then partitioned: leaf schema shrinks -> commit refused
    tbl = str(tmp_path / "mixed")
    log_append(a, tbl)
    with pytest.raises(ValueError, match="partitioned append"):
        log_append(b, tbl, partition_by=["o_orderstatus"])
    assert latest_version(tbl) == 1  # nothing committed by the failure

    # partitioned then SAME-layout partitioned: fine
    tbl2 = str(tmp_path / "parts")
    log_append(a, tbl2, partition_by=["o_orderstatus"])
    log_append(b, tbl2, partition_by=["o_orderstatus"])
    got = read_snapshot(spark, tbl2)
    assert got.count() == a.count() + b.count()


def _ten_rows(spark):
    return spark.range(10).select(F.col("id").alias("x")).repartition(2)


@pytest.mark.parametrize("name", ["plain", "with space", "pct%41"])
def test_file_matches_survive_percent_encoding(spark, tmp_path, name):
    """``input_file_name()`` percent-encodes a space or ``%`` in the
    path; delete, merge and stats still match those rows to the
    manifest's files."""
    from insight_spark.operators.manifest import (
        _read_manifest,
        log_delete,
        log_merge,
    )

    tbl = str(tmp_path / name / "tbl")
    log_append(_ten_rows(spark), tbl)
    log_delete(spark, tbl, F.col("x") < 3)
    assert read_snapshot(spark, tbl).count() == 7
    updates = spark.range(5, 7).select(F.col("id").alias("x"))
    log_merge(spark, updates, tbl, key="x")
    assert read_snapshot(spark, tbl).count() == 7

    stats_tbl = str(tmp_path / name / "stats")
    log_append(_ten_rows(spark), stats_tbl, stats_cols=["x"])
    man = _read_manifest(stats_tbl, 1)
    assert sorted(man["stats"]) == sorted(man["files"])


def test_file_uri_table_dir_round_trips(spark, tmp_path, monkeypatch):
    """A ``file://`` table dir commits its files to the table's own
    ``_manifest``, not to a relative ``file:`` dir under the cwd."""
    cwd = tmp_path / "cwd"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    tbl = (tmp_path / "tbl").as_uri()
    assert log_append(_ten_rows(spark), tbl) == 1
    got = read_snapshot(spark, tbl)
    assert sorted(r["x"] for r in got.collect()) == list(range(10))
    assert log_versions(str(tmp_path / "tbl")) == [1]
    assert os.listdir(cwd) == []


@pytest.mark.parametrize("uri", ["hdfs://nn:8020/t", "s3a://bucket/t"])
def test_non_local_table_dir_is_refused_before_any_write(
    spark, tmp_path, monkeypatch, uri
):
    """Only the local O_EXCL create is an atomic put-if-absent, so a
    remote scheme is refused before a data file is staged."""
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="put-if-absent"):
        log_append(_ten_rows(spark), uri, expected_version=0)
    with pytest.raises(ValueError, match="put-if-absent"):
        log_append(_ten_rows(spark), uri)
    assert os.listdir(tmp_path) == []


def test_vacuum_keeps_files_of_a_partitioned_table(spark, tmp_path):
    """A partitioned stage nests its files one dir per value; vacuum
    keeps the ones a retained version references."""
    from insight_spark.operators.manifest import vacuum

    tbl = str(tmp_path / "tbl")
    rows = spark.range(10).select((F.col("id") % 2).alias("b"), "id")
    log_append(rows, tbl, partition_by=["b"])
    log_append(rows, tbl, partition_by=["b"])
    audit = vacuum(tbl, retain_from_version=1)
    assert audit["files_removed"] == 0 and audit["files_kept"] >= 2
    assert read_snapshot(spark, tbl).count() == 20
