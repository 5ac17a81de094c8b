"""Sink emulations (A6-A8, A10) and the multimodal pipeline (J8)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from insight_spark.operators.multimodal import (
    attach_media_columns,
    decode_media,
)
from insight_spark.sources import load_table
from insight_spark.sources.sinks import (
    foreach_batch_additive_merge,
    foreach_batch_upsert,
    search_term_lookup,
    write_jdbc_standin,
    write_search_index,
)
from tests.conftest import SF_DIR, drain_kn_stream, file_scans


def test_search_index_sink_and_lookup(spark, tmp_path):
    docs = load_table(spark, SF_DIR, "documents")
    tables = write_search_index(spark, docs, str(tmp_path), n_buckets=4)
    postings = spark.table(tables["postings"])
    one = search_term_lookup(spark, tables["postings"], "the").collect()
    assert len(one) == 1
    posting = one[0]["posting"]
    assert posting == sorted(posting), "posting list must be sorted"
    assert one[0]["df"] == len(posting)
    # every posted doc really contains the term
    docs_with_the = {
        r["doc_id"]
        for r in docs.filter(F.col("text").contains("the")).collect()
    }
    assert set(posting) <= docs_with_the
    # completion suggester: top-k prefix matches ranked by df read
    # back from the persisted suggest table
    from insight_spark.sources.sinks import suggest_lookup

    sug = suggest_lookup(spark, tables["suggest"], "th", k=5).collect()
    assert 0 < len(sug) <= 5
    assert all(r["term"].startswith("th") for r in sug)
    dfs = [r["df"] for r in sug]
    assert dfs == sorted(dfs, reverse=True)
    # df values must match the postings table's
    post_df = {
        r["term"]: r["df"]
        for r in postings.filter(F.col("term").startswith("th")).collect()
    }
    assert all(post_df[r["term"]] == r["df"] for r in sug)
    import pytest

    with pytest.raises(ValueError):
        suggest_lookup(spark, tables["suggest"], "t")
    spark.sql(f"DROP TABLE IF EXISTS {tables['docs']}")
    spark.sql(f"DROP TABLE IF EXISTS {tables['postings']}")
    spark.sql(f"DROP TABLE IF EXISTS {tables['suggest']}")


def test_index_lookups_are_one_task_and_match_bucketed_scans(spark, tmp_path):
    """A lookup on the written index is a one-task scan of 1 of the 8
    bucket files under Spark's default scan mode, and returns the same
    rows as the 8-task bucketed scan."""
    from insight_spark.engine import conf_override
    from insight_spark.sources.sinks import suggest_lookup

    docs = load_table(spark, SF_DIR, "documents")
    tables = write_search_index(
        spark, docs, str(tmp_path), n_buckets=8, table_prefix="lookup_fanout"
    )
    sug, post = tables["suggest"], tables["postings"]
    lookups = [  # (name, table read, lookup, expect rows)
        ("suggest_th", sug, lambda: suggest_lookup(spark, sug, "th"), True),
        ("suggest_the", sug, lambda: suggest_lookup(spark, sug, "the"), True),
        ("search_the", post, lambda: search_term_lookup(spark, post, "the"), True),
        ("search_absent", post, lambda: search_term_lookup(spark, post, "zzqx"), False),
    ]
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for name, table, lookup, expect_rows in lookups:
        with conf_override(
            spark, {"spark.sql.sources.bucketing.autoBucketedScan.enabled": "false"}
        ):
            bucketed = lookup().collect()
        rows = lookup().collect()
        assert rows == bucketed, name
        assert bool(rows) == expect_rows, name
        df = lookup()
        group = f"lookup_fanout_{name}"
        sc.setJobGroup(group, name)
        try:
            assert len(df.toPandas()) == len(rows), name
        finally:
            sc.setJobGroup(None, None)
        jobs = tracker.getJobIdsForGroup(group)
        tasks = [
            tracker.getStageInfo(st).numTasks
            for j in jobs
            for st in tracker.getJobInfo(j).stageIds
        ]
        assert (len(jobs), tasks) == (1, [1]), (name, jobs, tasks)
        (scan,) = file_scans(df)
        scanned = scan.metrics().apply("numOutputRows").value()
        assert scanned < spark.table(table).count() / 4, (name, scanned)
    for table in tables.values():
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_search_index_tables_hold_one_file_per_bucket(spark, tmp_path):
    """Each bucketed index table is written as at most one part file per
    bucket, so a bucket-pruned lookup opens one file."""
    from insight_spark.pipelines import prepare_corpus
    from tests.conftest import SF_DIR_T2

    docs = prepare_corpus(load_table(spark, SF_DIR_T2, "documents"))
    tables = write_search_index(spark, docs, str(tmp_path), n_buckets=8)
    for table in tables.values():
        parts = [f for f in os.listdir(tmp_path / table) if f.startswith("part-")]
        buckets = {f.rsplit("_", 1)[1].split(".")[0] for f in parts}
        assert len(parts) == len(buckets) <= 8, (table, sorted(parts))


@pytest.mark.parametrize("uri", [False, True], ids=["path", "file_uri"])
def test_jdbc_standin_writes_ddl(spark, tmp_path, monkeypatch, uri):
    """The DDL lands next to the parquet payload for a plain path and
    for its ``file://`` URI alike — never under the working dir."""
    cwd, out = tmp_path / "cwd", tmp_path / "out"
    cwd.mkdir()
    monkeypatch.chdir(cwd)
    profile = (
        load_table(spark, SF_DIR, "documents")
        .groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
    )
    write_jdbc_standin(
        profile, out.as_uri() if uri else str(out), "lang_profile"
    )
    ddl = (out / "lang_profile" / "_ddl.sql").read_text()
    assert "CREATE TABLE lang_profile" in ddl and "n_docs bigint" in ddl
    assert spark.read.parquet(str(out / "lang_profile")).count() == (
        profile.count()
    )
    assert os.listdir(cwd) == []


def test_jdbc_roundtrip_keeps_derby_log_out_of_the_cwd(tmp_path):
    """Embedded Derby writes ``derby.log`` into the JVM's working
    directory unless ``derby.stream.error.file`` names a file, and it
    reads that property once, when it boots.  So the query runs in a
    fresh JVM whose working directory is a tmp dir: the log lands
    under the query's own scratch dir, and nothing in the cwd."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cwd, scratch = tmp_path / "cwd", tmp_path / "scratch"
    cwd.mkdir()
    script = (
        "from pyspark.sql import SparkSession\n"
        "import __spark_entry__ as entry\n"
        "spark = SparkSession.builder.master('local[1]')"
        ".config('spark.ui.enabled', 'false').getOrCreate()\n"
        f"df = entry.queries()['jdbc_roundtrip'](spark, {SF_DIR!r})\n"
        "assert df.count() == 100\n"
        "spark.stop()\n"
    )
    path = os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")]))
    env = {**os.environ, "PYTHONPATH": path, "SPARK_GRAFT_SCRATCH": str(scratch)}
    subprocess.run(
        [sys.executable, "-c", script], cwd=cwd, env=env, check=True, timeout=300
    )
    assert "derby.log" not in os.listdir(cwd)
    rt_dir = scratch / "sources_rt" / os.path.basename(SF_DIR) / "derby"
    assert (rt_dir / "derby.log").is_file()


def test_foreach_batch_upsert_idempotent(spark, tmp_path):
    out = str(tmp_path / "serving_out")
    upsert = foreach_batch_upsert(out, ["user_id"])
    ev = load_table(spark, SF_DIR, "events")
    b1 = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    upsert(b1, 0)
    upsert(b1, 1)  # replay: same batch again must not duplicate keys
    served = spark.read.parquet(os.path.join(out, "serving"))
    assert served.count() == b1.count()
    assert served.select("user_id").distinct().count() == b1.count()


def _served_bytes(out: str) -> dict[str, bytes]:
    serving = os.path.join(out, "serving")
    return {
        f: open(os.path.join(serving, f), "rb").read() for f in os.listdir(serving)
    }


def _leftovers(out: str) -> list[str]:
    return [d for d in os.listdir(out) if d.startswith(("_staging", "_serving_prev"))]


#: Both foreachBatch sinks over a ``(user_id, n)`` batch.  They share
#: one commit protocol, so each commit-protocol test below runs both.
_SINKS = {
    "upsert": lambda out: foreach_batch_upsert(out, ["user_id"]),
    "additive": lambda out: foreach_batch_additive_merge(out, ["user_id"], ["n"]),
}


def test_foreach_batch_upsert_failed_staged_write(spark, tmp_path):
    """A batch whose staged write fails raises; the committed serving
    copy stays byte-identical and no staged dir is left behind."""
    ev = load_table(spark, SF_DIR, "events")
    b1 = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    # the assertion fails inside the write job's tasks, after the
    # staged dir was created
    poisoned = b1.withColumn(
        "n",
        F.coalesce(F.assert_true(F.col("user_id") < 0).cast("long"), "n"),
    )
    for name, make_sink in _SINKS.items():
        out = str(tmp_path / f"serving_failed_stage_{name}")
        sink = make_sink(out)
        sink(b1, 0)
        before = _served_bytes(out)
        with pytest.raises(Exception, match="is not true"):
            sink(poisoned, 1)
        assert _served_bytes(out) == before, name
        assert not _leftovers(out), name


def test_foreach_batch_upsert_recovers_interrupted_swap(spark, tmp_path):
    """A swap that died after moving ``serving`` aside is rolled back by
    the next batch, which then merges onto the restored table: the
    result equals an uninterrupted run, not a re-seed from one batch."""
    ev = load_table(spark, SF_DIR, "events")
    per_user = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    b0 = per_user.filter(F.col("user_id") % 2 == 0)
    b1 = per_user.filter(F.col("user_id") % 2 == 1)
    want = sorted(tuple(r) for r in per_user.collect())
    for sink_name, make_sink in _SINKS.items():
        runs, leftovers = {}, []
        for name in ("clean", "interrupted"):
            out = str(tmp_path / f"serving_{name}_{sink_name}")
            sink = make_sink(out)
            sink(b0, 0)
            if name == "interrupted":
                os.rename(
                    os.path.join(out, "serving"), os.path.join(out, "_serving_prev")
                )
            sink(b1, 1)
            served = spark.read.parquet(os.path.join(out, "serving"))
            runs[name] = sorted(tuple(r) for r in served.collect())
            leftovers += _leftovers(out)
        assert runs["interrupted"] == runs["clean"] == want, sink_name
        assert not leftovers, sink_name


def test_foreach_batch_upsert_discards_stale_prev(spark, tmp_path):
    """A ``_serving_prev`` left beside a committed ``serving`` (a swap
    that died before its delete) is discarded, not restored."""
    ev = load_table(spark, SF_DIR, "events")
    b1 = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    b2 = b1.withColumn("n", F.col("n") + F.lit(1)).limit(5)
    first = {r["user_id"]: r["n"] for r in b1.collect()}
    second = {r["user_id"]: r["n"] for r in b2.collect()}
    stale = spark.createDataFrame([(-1, 99)], "user_id bigint, n bigint")
    for name, make_sink in _SINKS.items():
        out = str(tmp_path / f"serving_stale_prev_{name}")
        sink = make_sink(out)
        sink(b1, 0)
        stale.write.parquet(os.path.join(out, "_serving_prev"))
        sink(b2, 1)
        served = spark.read.parquet(os.path.join(out, "serving"))
        got = {r["user_id"]: r["n"] for r in served.collect()}
        want = dict(first)
        for k, n in second.items():
            want[k] = n if name == "upsert" else want[k] + n
        assert got == want, name
        assert not _leftovers(out), name


def test_foreach_batch_upsert_on_uri_out_dir(spark, tmp_path):
    """ADVICE r13: on a URI out_dir (file:// here; hdfs:// / s3a:// on
    a cluster) a later micro-batch must still merge onto the earlier
    ones — the serving dir's existence is asked of its Hadoop
    FileSystem, not of os.path, which sees no URI as a directory."""
    ev = load_table(spark, SF_DIR, "events")
    per_user = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    want = sorted(tuple(r) for r in per_user.collect())
    for name, make_sink in _SINKS.items():
        out_path = tmp_path / f"serving_uri_{name}"
        sink = make_sink(out_path.as_uri())
        sink(per_user.filter(F.col("user_id") % 2 == 0), 0)
        sink(per_user.filter(F.col("user_id") % 2 == 1), 1)
        served = spark.read.parquet(out_path.as_uri() + "/serving")
        assert sorted(tuple(r) for r in served.collect()) == want, name
        assert not _leftovers(str(out_path)), name


def test_foreach_batch_upsert_no_silent_reseed(spark, tmp_path):
    """ADVICE r12: a serving dir that EXISTS but cannot be read (e.g.
    half-destroyed by an aborted overwrite) must fail the batch loudly,
    not be treated as first-batch and silently re-seeded from one
    micro-batch."""
    ev = load_table(spark, SF_DIR, "events")
    b1 = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    for name, make_sink in _SINKS.items():
        out = str(tmp_path / f"serving_damaged_{name}")
        sink = make_sink(out)
        sink(b1, 0)
        serving = os.path.join(out, "serving")
        for f in os.listdir(serving):  # keep the dir, destroy its contents
            os.unlink(os.path.join(serving, f))
        with pytest.raises(Exception):
            sink(b1, 1)


def test_foreach_batch_upsert_merge_semantics(spark, tmp_path):
    """The single-task merge keeps the upsert contract: a batch row
    replaces the served row, a key only served survives, duplicate
    batch keys collapse to one of the batch's rows for that key, and
    the served table keeps the batch's column order and types (the key
    sits mid-row here, so a key-first rebuild would show)."""
    out = str(tmp_path / "serving_merge")
    upsert = foreach_batch_upsert(out, ["user_id"])

    def frame(rows):
        return spark.createDataFrame(
            rows, "name string, user_id bigint, amount string"
        ).withColumn("amount", F.col("amount").cast("decimal(12,2)"))

    upsert(frame([("a", 1, "1.00"), ("b", 2, "2.00"), ("c", 3, "3.00")]), 0)
    batch = frame([("x", 2, "20.00"), ("y", 2, "21.00"), ("z", 4, "40.00")])
    upsert(batch, 1)

    served = spark.read.parquet(os.path.join(out, "serving"))
    assert [(f.name, f.dataType) for f in served.schema] == [
        (f.name, f.dataType) for f in batch.schema
    ]
    rows = {r["user_id"]: (r["name"], str(r["amount"])) for r in served.collect()}
    assert served.count() == len(rows) == 4
    assert rows[1] == ("a", "1.00") and rows[3] == ("c", "3.00")
    assert rows[2] in {("x", "20.00"), ("y", "21.00")}
    assert rows[4] == ("z", "40.00")


def test_foreach_batch_upsert_new_checkpoint_merges_onto_served(spark, tmp_path):
    """The upsert needs no fence: a stream with a new checkpoint, whose
    batch ids restart at 0, merges onto the table an earlier stream
    served rather than being skipped or re-seeding it."""
    out = str(tmp_path / "serving_out")
    upsert = foreach_batch_upsert(out, ["k"])
    for run, rows in (("a", [("a", 1), ("b", 1)]), ("b", [("a", 100)])):
        ins, ckpt = (str(tmp_path / f"{n}_{run}") for n in ("in", "ckpt"))
        drain_kn_stream(spark, [rows], ins, ckpt, upsert)
    served = spark.read.parquet(os.path.join(out, "serving")).collect()
    assert sorted((r["k"], r["n"]) for r in served) == [("a", 100), ("b", 1)]


def test_foreach_batch_upsert_merges_without_a_shuffle(spark, tmp_path):
    """A batch merged onto an existing serving dir is one job of one
    stage: the single partition ahead of the merge needs no shuffle, so
    one task reads the served copy and the batch, merges and writes."""
    out = str(tmp_path / "serving_one_stage")
    upsert = foreach_batch_upsert(out, ["user_id"])

    def batch(lo, hi):
        return spark.range(lo, hi, 1, numPartitions=2).select(
            F.col("id").alias("user_id"), (F.col("id") * 10).alias("n")
        )

    upsert(batch(0, 20), 0)
    sc = spark.sparkContext
    group = "upsert_one_stage"
    sc.setJobGroup(group, "upsert merge onto a served copy")
    try:
        upsert(batch(10, 30), 1)
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = [st for j in jobs for st in tracker.getJobInfo(j).stageIds]
    assert (len(jobs), len(stages)) == (1, 1), (jobs, stages)
    served = spark.read.parquet(os.path.join(out, "serving")).collect()
    assert sorted((r["user_id"], r["n"]) for r in served) == [
        (i, i * 10) for i in range(30)
    ]


def test_foreach_batch_upsert_refuses_uncommitted_serving_dir(spark, tmp_path):
    """A serving dir that keeps its part files but lost its ``_SUCCESS``
    marker (an overwrite whose job died after moving some parts) must
    fail the batch, not be merged onto."""
    ev = load_table(spark, SF_DIR, "events")
    b1 = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    for name, make_sink in _SINKS.items():
        out = str(tmp_path / f"serving_uncommitted_{name}")
        sink = make_sink(out)
        sink(b1, 0)
        os.unlink(os.path.join(out, "serving", "_SUCCESS"))
        with pytest.raises(RuntimeError, match="_SUCCESS"):
            sink(b1, 1)


def test_multimodal_plumbing(spark):
    docs = load_table(spark, SF_DIR, "documents")
    media = attach_media_columns(docs)
    decoded = decode_media(media)
    rows = decoded.collect()
    assert len(rows) == docs.count()
    assert {r["mime"] for r in rows} == {"image/png", "audio/wav", "video/mp4"}
    r0 = {r["doc_id"]: r for r in rows}[0]
    assert r0["width"] == 16 + r0["n_bytes"] % 64


def test_soundex_known_values(spark):
    """H3 second half: Spark soundex (no DuckDB equivalent — unit-tested
    against published soundex codes instead of an oracle)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("Robert",), ("Rupert",), ("Ashcraft",), ("Tymczak",), ("Pfister",)],
        "name string",
    )
    got = {r["name"]: r["sx"] for r in df.select("name", F.soundex("name").alias("sx")).collect()}
    assert got == {
        "Robert": "R163",
        "Rupert": "R163",
        "Ashcraft": "A261",
        "Tymczak": "T522",
        "Pfister": "P236",
    }


def test_payload_entropy_arrow(spark):
    """L4 mapInArrow: entropy in [0, 8], deterministic, one row per item."""
    from insight_spark.operators.multimodal import (
        attach_media_columns,
        payload_entropy_arrow,
    )
    from insight_spark.sources import load_table

    docs = load_table(spark, SF_DIR, "documents").limit(50)
    media = attach_media_columns(docs)
    out = payload_entropy_arrow(media)
    rows = {r["doc_id"]: r["byte_entropy"] for r in out.collect()}
    assert len(rows) == 50
    assert all(0.0 <= v <= 8.0 for v in rows.values())
    rows2 = {r["doc_id"]: r["byte_entropy"] for r in out.collect()}
    assert rows == rows2


def test_bmp_roundtrip_varied_shapes():
    """Width values exercising every row-padding remainder (w*3 % 4)."""
    from insight_spark.operators.codecs import decode_bmp, encode_bmp

    for w in (1, 2, 3, 4, 5, 8, 13, 16):
        for h in (1, 3, 7):
            for px in (0, 1, 127, 250, 255):
                assert decode_bmp(encode_bmp(w, h, px)) == (w, h, float(px))


def test_bmp_rejects_non_bmp():
    import pytest as _pytest

    from insight_spark.operators.codecs import decode_bmp

    with _pytest.raises(ValueError):
        decode_bmp(b"PNG\x00" + b"\x00" * 64)


def test_wav_roundtrip_and_chunk_walk():
    from insight_spark.operators.codecs import decode_wav, encode_wav

    samples = [0, 1, -1, 32767, -32768, 1234]
    b = encode_wav(samples, 44100)
    assert decode_wav(b) == (1, 44100, len(samples), 0)
    # odd-sized extra chunk before data: word-aligned chunk walk
    import struct

    extra = struct.pack("<4sI", b"LIST", 3) + b"abc\x00"
    b2 = b[:12] + extra + b[12:]
    riff_len = struct.unpack_from("<I", b2, 4)[0]  # stale, decoder ignores
    assert decode_wav(b2) == (1, 44100, len(samples), 0)


def test_real_decode_pipeline_end_to_end(spark):
    """Synth -> parse through mapInPandas; BMP dims and WAV samples
    match the synthesis formulas for every row."""
    from insight_spark.operators.multimodal import (
        attach_real_media_columns,
        decode_media_real,
    )
    from insight_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = decode_media_real(attach_real_media_columns(docs)).collect()
    assert len(out) == docs.count()
    for r in out:
        d = r["doc_id"]
        if d % 3 == 0:
            assert (r["width"], r["height"]) == (8 + d % 16, 4 + d % 8)
            assert r["mean_luma"] == float((d * 37 + 11) % 251)
        elif d % 3 == 1:
            assert r["n_samples"] == 32 + d % 64
            assert r["first_sample"] == (d * 31) % 4096 - 2048
        else:  # video: real Y4M as of r5
            n = 2 + d % 4
            assert (r["width"], r["height"]) == (8 + (d % 4) * 2, 4 + (d % 3) * 2)
            assert r["n_samples"] == n
            want = sum((d * 29 + f * 13) % 256 for f in range(n)) / n
            assert abs(r["mean_luma"] - want) < 1e-6


def test_orc_roundtrip_with_pushdown(spark, tmp_path):
    """ORC sink + scan (A-family): values round-trip and filters push
    down to the ORC reader just like parquet."""
    import contextlib
    import io

    from insight_spark.sources import load_table, read_orc

    orders = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    path = str(tmp_path / "orders_orc")
    orders.write.mode("overwrite").partitionBy("o_orderstatus").orc(path)
    back = read_orc(spark, path)
    assert back.count() == orders.count()
    a = {tuple(r) for r in orders.collect()}
    b = {
        (r["o_orderkey"], r["o_custkey"], r["o_totalprice"], r["o_orderstatus"])
        for r in back.collect()
    }
    assert a == b
    filtered = back.filter(F.col("o_orderkey") < 100)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        filtered.explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "o_orderkey" in plan


def test_binary_file_source_reads_and_prunes(spark, tmp_path):
    """A11: binaryFile scan returns whole-file bytes; pathGlobFilter
    prunes non-matching files at listing time."""
    from insight_spark.operators.codecs import encode_wav
    from insight_spark.sources import read_binary_files

    wav = encode_wav([0, 1000, -1000, 500], sample_rate=8000)
    (tmp_path / "a.wav").write_bytes(wav)
    (tmp_path / "b.wav").write_bytes(wav)
    (tmp_path / "notes.txt").write_bytes(b"not media")

    df = read_binary_files(spark, str(tmp_path), glob="*.wav")
    assert set(df.columns) == {
        "path", "modificationTime", "length", "content"
    }
    rows = df.orderBy("path").collect()
    assert len(rows) == 2 and all(
        bytes(r["content"]) == wav for r in rows
    )

    everything = read_binary_files(spark, str(tmp_path))
    assert everything.count() == 3


def test_resize_bmp_roundtrip_invariants():
    """NN resize of a constant-fill BMP preserves fill exactly at any
    (source, target) dimension pairing, including pad-heavy odd widths;
    output re-decodes to the target dims."""
    from insight_spark.operators.codecs import decode_bmp, encode_bmp, resize_bmp

    for w, h in [(1, 1), (3, 5), (10, 6), (17, 3)]:
        src = encode_bmp(w, h, 77)
        for w2, h2 in [(1, 1), (2, 7), (16, 8), (5, 5)]:
            assert decode_bmp(resize_bmp(src, w2, h2)) == (w2, h2, 77.0)


def test_resize_bmp_picks_real_pixels():
    """Non-constant source: resize to 1x1 must pick the NN source pixel
    (row 0 / col 0), not an average or a padding byte."""
    from insight_spark.operators.codecs import decode_bmp, resize_bmp
    import struct

    # 2x1 image, pixels: left=10, right=200 (bottom-up row order)
    row = bytes([10, 10, 10, 200, 200, 200]) + b"\x00\x00"  # stride pad
    offset = 54
    header = struct.pack("<2sIHHI", b"BM", offset + len(row), 0, 0, offset)
    info = struct.pack("<IiiHHIIiiII", 40, 2, 1, 1, 24, 0, len(row),
                       2835, 2835, 0, 0)
    src = header + info + row
    assert decode_bmp(resize_bmp(src, 1, 1)) == (1, 1, 10.0)


def test_wav_frames_tail_and_values():
    from insight_spark.operators.codecs import encode_wav, wav_frames

    samples = [i * 3 - 100 for i in range(37)]
    frames = wav_frames(encode_wav(samples, 8000), 16)
    assert [(i, n) for i, n, _ in frames] == [(0, 16), (1, 16), (2, 5)]
    assert [f[2] for f in frames] == [samples[0], samples[16], samples[32]]


def test_y4m_roundtrip_varied_shapes():
    """Every (w, h, frame-count) combination the synthesizer emits,
    plus mixed lumas — the mean must be the exact frame-luma average
    (chroma planes skipped)."""
    from insight_spark.operators.codecs import (
        decode_y4m,
        encode_y4m,
        y4m_frame_lumas,
    )

    for w in (8, 10, 12, 14):
        for h in (4, 6, 8):
            for lumas in ([0], [255, 0], [1, 2, 3, 4, 5]):
                b = encode_y4m(w, h, lumas)
                gw, gh, gn, gm = decode_y4m(b)
                assert (gw, gh, gn) == (w, h, len(lumas))
                assert gm == sum(lumas) / len(lumas)
                assert y4m_frame_lumas(b) == [float(x) for x in lumas]


def test_y4m_rejects_bad_input():
    import pytest as _pytest

    from insight_spark.operators.codecs import decode_y4m, encode_y4m

    with _pytest.raises(ValueError):
        decode_y4m(b"RIFF....WAVE\n")
    good = encode_y4m(8, 4, [10, 20])
    with _pytest.raises(ValueError):
        decode_y4m(good[:40] + b"XXXXXX" + good[46:])  # corrupt marker


def test_video_frames_real_sampling(spark):
    """The video frame-sampler must emit exactly the even-indexed
    frames with their constant-plane means."""
    from insight_spark.operators.multimodal import (
        attach_real_media_columns,
        video_frames_real,
    )
    from insight_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    vids = attach_real_media_columns(docs).filter(F.col("mime") == "video/y4m")
    got = {
        (r["doc_id"], r["frame_idx"]): r["mean_luma"]
        for r in video_frames_real(vids, every=2).collect()
    }
    ids = [r["doc_id"] for r in docs.select("doc_id").collect() if r["doc_id"] % 3 == 2]
    want = {
        (d, f): float((d * 29 + f * 13) % 256)
        for d in ids
        for f in range(0, 2 + d % 4, 2)
    }
    assert got == want


def test_avro_codec_spec_invariants():
    """Container layout checks beyond self-round-trip: magic, metadata
    keys, sync repetition, zigzag-varint edge values."""
    from insight_spark.operators.avro_codec import (
        make_schema,
        read_avro_bytes,
        write_avro_bytes,
        _read_long,
        _write_long,
    )

    for n in (0, 1, -1, 63, 64, -64, -65, 2**40, -(2**40), 2**62):
        data = _write_long(n)
        got, pos = _read_long(data, 0)
        assert got == n and pos == len(data), n

    sch = make_schema("t", [("k", "long"), ("s", "string"), ("x", "double")])
    rows = [(i, f"v{i}", i / 4) for i in range(100)]
    b = write_avro_bytes(rows, sch)
    assert b[:4] == b"Obj\x01"
    assert b"avro.schema" in b and b"avro.codec" in b
    s2, got = read_avro_bytes(b)
    assert got == rows
    assert [f["name"] for f in s2["fields"]] == ["k", "s", "x"]
    # corrupting the sync must be detected
    import pytest as _pytest

    bad = b[:-1] + bytes([b[-1] ^ 0xFF])
    with _pytest.raises(ValueError):
        read_avro_bytes(bad)
