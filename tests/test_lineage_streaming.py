"""Lineage/resume semantics (injected mid-job interruption) and the
Structured Streaming wrapper."""

import os

import pyspark.sql.functions as F
import pytest

from my_ocr_spark.operators.lineage import (
    completed_buckets, lineage_rows, read_lineage_manifests,
    write_with_lineage,
)


def _bucket_files(out, bucket):
    d = os.path.join(out, f"_bucket={bucket}")
    return {n: os.stat(os.path.join(d, n)).st_mtime_ns
            for n in os.listdir(d)}


def _recomputed(spark, out):
    """(doc_count, checksum) per bucket, from the committed parquet."""
    return {r[0]: (r[1], r[2]) for r in
            spark.read.parquet(out).groupBy("_bucket").agg(
                F.count("*"),
                F.bit_xor(F.xxhash64("url", "text"))).collect()}


def test_lineage_rows_cover_all_docs(spark, docs_df):
    rows = lineage_rows(docs_df).collect()
    assert sum(r["doc_count"] for r in rows) == docs_df.count()
    assert all(r["byte_count"] > 0 for r in rows)


def test_lineage_checksum_detects_mutation(spark, docs_df):
    one = docs_df.coalesce(1)
    base = lineage_rows(one).collect()[0]
    mutated = one.withColumn(
        "text", F.when(F.col("url").endswith("/p/1"),
                       F.concat(F.col("text"), F.lit("!")))
                 .otherwise(F.col("text")))
    after = lineage_rows(mutated).collect()[0]
    assert base["checksum"] != after["checksum"]
    assert base["doc_count"] == after["doc_count"]


def test_write_with_lineage_resume(spark, docs_df, tmp_path):
    out = str(tmp_path / "sink")
    df = docs_df.select("url", "warc_ts", "text", "lang")
    # full run
    r1 = write_with_lineage(df, out, n_buckets=4)
    assert sorted(r1["written"]) == [0, 1, 2, 3] and r1["skipped"] == []
    total = spark.read.parquet(out).count()
    assert total == df.count()
    # simulate mid-job kill: delete two bucket manifests (data may be
    # partial or stale — resume must rewrite exactly those buckets)
    for b in (1, 3):
        os.remove(os.path.join(out, "_lineage", f"bucket={b}.json"))
    assert completed_buckets(out) == {0, 2}
    kept = {b: _bucket_files(out, b) for b in (0, 2)}
    r2 = write_with_lineage(df, out, n_buckets=4)
    assert sorted(r2["written"]) == [1, 3] and sorted(r2["skipped"]) == [0, 2]
    # committed buckets are not rewritten: same files, same mtimes
    assert {b: _bucket_files(out, b) for b in (0, 2)} == kept
    # idempotent: same rows, same manifests
    assert spark.read.parquet(out).count() == df.count()
    manifests = {m["bucket"]: m for m in read_lineage_manifests(out)}
    assert set(manifests) == {0, 1, 2, 3}
    assert sum(m["doc_count"] for m in manifests.values()) == df.count()
    # third run: everything skipped
    r3 = write_with_lineage(df, out, n_buckets=4)
    assert r3["written"] == []


def test_write_with_lineage_kill_between_write_and_commit(
        spark, docs_df, tmp_path, monkeypatch):
    out = str(tmp_path / "sink")
    df = docs_df.select("url", "warc_ts", "text", "lang")

    def killed(src, dst):
        raise KeyboardInterrupt("killed before the manifest commit")

    # the data write completes, the first manifest rename dies
    with monkeypatch.context() as m:
        m.setattr(os, "replace", killed)
        with pytest.raises(KeyboardInterrupt):
            write_with_lineage(df, out, n_buckets=4)
    assert spark.read.parquet(out).count() == df.count()
    assert completed_buckets(out) == set()
    assert read_lineage_manifests(out) == []
    # resume: no bucket was committed, so every bucket is rewritten
    r = write_with_lineage(df, out, n_buckets=4)
    assert r == {"written": [0, 1, 2, 3], "skipped": []}
    manifests = {m["bucket"]: (m["doc_count"], m["checksum"])
                 for m in read_lineage_manifests(out)}
    assert manifests == _recomputed(spark, out)
    assert sum(n for n, _ in manifests.values()) == df.count()


def test_write_with_lineage_rewrite_drops_stale_rows(spark, docs_df,
                                                     tmp_path):
    """A rewritten bucket holds only this run's rows, even when it is
    empty now and an earlier run left rows in it."""
    out = str(tmp_path / "sink")
    df = docs_df.select("url", "text")
    write_with_lineage(df, out, n_buckets=4)
    only0 = (df.withColumn("b", F.pmod(F.xxhash64("url"), F.lit(4)))
               .filter("b = 0").drop("b"))
    r = write_with_lineage(only0, out, n_buckets=4, resume=False)
    assert r == {"written": [0, 1, 2, 3], "skipped": []}
    assert spark.read.parquet(out).count() == only0.count()
    manifests = {m["bucket"]: (m["doc_count"], m["checksum"])
                 for m in read_lineage_manifests(out)}
    assert manifests == {**_recomputed(spark, out), 1: (0, 0), 2: (0, 0),
                         3: (0, 0)}


def test_write_with_lineage_leaves_session_conf(spark, docs_df, tmp_path):
    """Dynamic partition overwrite is a writer option, not a session
    setting that leaks into every later overwrite."""
    key = "spark.sql.sources.partitionOverwriteMode"
    out = str(tmp_path / "sink")
    df = docs_df.select("url", "text")
    spark.conf.set(key, "static")
    try:
        write_with_lineage(df, out, n_buckets=2)
        assert spark.conf.get(key) == "static"
        # a static-overwrite session still replaces only pending buckets
        kept = _bucket_files(out, 0)
        os.remove(os.path.join(out, "_lineage", "bucket=1.json"))
        assert write_with_lineage(df, out, n_buckets=2)["written"] == [1]
        assert spark.conf.get(key) == "static"
        assert _bucket_files(out, 0) == kept
    finally:
        spark.conf.unset(key)


def test_write_with_lineage_jobs_independent_of_buckets(
        spark, docs_df, tmp_path):
    """One write and one stats pass for all pending buckets, not a write
    and a stats job per bucket."""
    sc = spark.sparkContext
    df = docs_df.select("url", "text")
    jobs = {}
    for n in (4, 16):
        group = f"lineage-jobs-{n}"
        sc.setJobGroup(group, group)
        try:
            r = write_with_lineage(df, str(tmp_path / f"sink{n}"),
                                   n_buckets=n)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert r["written"] == list(range(n))
        jobs[n] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs[4] == jobs[16] <= 3, jobs


def test_streaming_extract_matches_batch(spark, docs_df, tmp_path):
    from my_ocr_spark.streaming import streaming_extract
    from my_ocr_spark.operators.extract import extract_docs

    src = str(tmp_path / "stream_src")
    docs_df.write.parquet(src)
    sdf = streaming_extract(spark, src, max_files_per_trigger=2)
    assert sdf.isStreaming
    q = (sdf.writeStream.format("memory").queryName("ext_stream")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["url"] + "|" + str(r["warc_ts"]): r["text"]
           for r in spark.sql("select url, warc_ts, text "
                              "from ext_stream").collect()}
    want = {r["url"] + "|" + str(r["warc_ts"]): r["text"]
            for r in extract_docs(docs_df).select("url", "warc_ts",
                                                  "text").collect()}
    assert got == want  # streaming output byte-identical to batch


def test_windowed_event_agg_batch_mode(spark):
    import datetime as dt
    from my_ocr_spark.streaming import windowed_event_agg

    rows = [(dt.datetime(2024, 1, 1, h, m), "click", 1.0)
            for h in (0, 1) for m in (5, 55)]
    df = spark.createDataFrame(rows, ["ts", "event_type", "value"])
    out = windowed_event_agg(df).collect()
    assert {(r["window_start"].hour, r["n"]) for r in out} == {(0, 2), (1, 2)}


def test_session_window_stream_matches_batch(spark, tmp_path):
    """session_event_agg under readStream/availableNow produces the same
    closed sessions as the batch run of the same expression (and the
    batch expression is oracle-verified by session_window_native)."""
    import datetime as dt

    from my_ocr_spark.streaming import session_event_agg

    base = dt.datetime(2024, 1, 1)
    closer = base + dt.timedelta(days=1)  # pushes the watermark forward
    rows = []
    for u in range(5):
        # two sessions per user: a burst, a >=30min gap, another burst
        for m in (0, 5, 10):
            rows.append((u, base + dt.timedelta(minutes=m + u), 1.0))
        for m in (90, 95):
            rows.append((u, base + dt.timedelta(minutes=m + u), 1.0))
        rows.append((u, closer, 1.0))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    src = str(tmp_path / "sess_src")
    df.write.parquet(src)

    batch = {(r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
             for r in session_event_agg(df, watermark="0 seconds").collect()}
    closed = {k: v for k, v in batch.items() if k[1] < closer}
    assert len(batch) == 15 and len(closed) == 10  # 3 sessions x 5 users
    assert set(closed.values()) == {2, 3}

    stream = (spark.readStream.schema(df.schema).parquet(src))
    q = (session_event_agg(stream, watermark="0 seconds")
         .writeStream.format("memory").queryName("sess_stream")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["user_id"], r["session_start"], r["session_end"]): r["n_events"]
           for r in spark.sql("select * from sess_stream").collect()}
    # append mode emits exactly the sessions whose end precedes the final
    # watermark (the day-later closer burst stays open and unemitted) —
    # and those match the batch computation exactly
    assert got == closed
