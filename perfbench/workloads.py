"""The benchmark's workloads, driven through the package's public
functions only.

A workload is built from its generated inputs (reading them and computing
what verification expects is untimed) and has ``iteration``, one timed
pass from first read to committed and verified output, and ``traced``,
the per-layer measurements of the traced run.
"""

from __future__ import annotations

import bisect
import itertools
import json
import os
import shlex
import shutil
import signal
import time

import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import harness
import verify
from my_ocr_spark.kernel.extract import extract_main_text
from my_ocr_spark.kernel.htmlparse import MAX_BLOCKS_PER_DOC
from my_ocr_spark.operators.dedup import (exact_dup_groups,
                                          minhash_band_rows,
                                          minhash_lsh_candidates,
                                          minhash_then_verify,
                                          remove_duplicate_spans)
from my_ocr_spark.operators.extract import extract_docs, latest_snapshot
from my_ocr_spark.operators.lineage import write_with_lineage
from my_ocr_spark.session import get_spark
from my_ocr_spark.sources.catalog import read_table
from my_ocr_spark.streaming import streaming_extract

N_BUCKETS = 16          # the CLI extract default
THRESHOLD = 0.7         # minhash_then_verify's default
DRAIN_TIMEOUT_S = 60.0  # a landed file not committed by then has failed
WARM_ROWS_PER_CORE = 2  # input rows per core of the set-up's warm-up
# the traced thin_commit run lands STREAM_FILES of its input files into
# streaming_extract, one at a time at STREAM_FILES_PER_S, after a warm-up
# stream of STREAM_WARM_FILES landed at once. A micro-batch of one file
# takes ~0.7 s on 4 cores, so the next file lands after the last commit
STREAM_FILES = 10
STREAM_WARM_FILES = 2
STREAM_FILES_PER_S = 1.0


def _mb(n_bytes: float) -> float:
    return n_bytes / 2 ** 20


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def wquantile(vals: list[float], q: float,
              weights: list[float] | None = None) -> float:
    """The q-quantile of vals, each counted with its weight."""
    pairs = sorted(zip(vals, weights or [1.0] * len(vals)))
    total = sum(w for _, w in pairs)
    acc = 0.0
    for v, w in pairs:
        acc += w
        if acc >= q * total:
            return v
    return pairs[-1][0]


class Run:
    """State of one benchmark run: its directories, tracer and session."""

    def __init__(self, workload: str, seed: int, work: str, run_id: str,
                 tracer: harness.Tracer):
        self.workload, self.seed = workload, seed
        self.dir = os.path.join(work, "runs", run_id)
        self.tracer = tracer
        self.spark = None
        self._n = 0
        os.makedirs(self.dir, exist_ok=True)

    def path(self, name: str) -> str:
        self._n += 1
        return os.path.join(self.dir, f"{self._n:03d}-{name}")

    def start_session(self, warmup, event_log: str | None = None) -> tuple:
        """Launches a new JVM through get_spark, then runs ``warmup()``:
        (start_s, warmup_s). The event log, when asked for, is turned on
        through the launch's submit arguments."""
        from pyspark import SparkContext

        if SparkContext._gateway is not None:
            raise RuntimeError("a JVM of an earlier session is still up")
        args = ["--conf", "spark.ui.showConsoleProgress=false"]
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            for k, v in (("enabled", "true"), ("compress", "false"),
                         ("rolling.enabled", "false"),
                         ("dir", "file://" + event_log)):
                args += ["--conf", f"spark.eventLog.{k}={v}"]
        args.append("pyspark-shell")
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench",
                               master=f"local[{harness.CORES}]",
                               shuffle_partitions=harness.CORES)
        t1 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.sc = (self.spark.sparkContext if self.tracer.enabled
                          else None)
        with self.tracer.span("session.warmup", "session"):
            warmup()
        return t1 - t0, time.perf_counter() - t1

    def stop_session(self) -> None:
        """Stops the session and its JVM, and waits until every process
        the run started has ended, so the next session launches anew."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()  # flushes the event log
            self.spark = None
            self.tracer.sc = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()  # the gateway exits when its stdin closes
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.time() + 30
        while harness.descendants() and time.time() < deadline:
            time.sleep(0.1)
        for pid in harness.descendants():
            os.kill(pid, signal.SIGKILL)
        while harness.descendants():
            time.sleep(0.1)


class Workload:
    layers: tuple = ()      # package layers the workload runs
    # nominal seconds of one pass on a 4-core host: a run makes
    # max(1, round(seconds / pass_s)) passes, the same number on every run
    pass_s: float
    group_alias: dict = {}  # job group renames for the event log

    def __init__(self, run: Run, inputs: str):
        self.run, self.inputs = run, inputs

    warm_rows = None        # a few input rows for the warm-up's UDF
    warm_op = None          # the first UDF operator: DataFrame -> DataFrame

    def warmup(self) -> None:
        """The set-up's warm-up in a newly launched JVM: the workload's
        first UDF operator over ``warm_rows`` in CORES partitions, noop
        sink. It starts a Python worker on every core; the rest of the
        path compiles in the first pass, as in a newly started process.
        A warm-up of the whole path costs 11-18 s cold, too much to pay
        in every set-up. Its jobs go to the "session" job group."""
        df = self.run.spark.createDataFrame(self.warm_rows.to_pandas())
        self.warm_op(df.repartition(harness.CORES)).write.format("noop") \
            .mode("overwrite").save()

    def after_event_log(self, m: dict, tasks: dict) -> None:
        """Per-layer metrics that need the event log."""


# --- thin_commit -------------------------------------------------------------

class ThinCommit(Workload):
    """read_table -> latest_snapshot -> extract_docs -> sortWithinPartitions
    -> write_with_lineage, the CLI extract command."""

    layers = ("sources", "operators.extract", "operators.lineage",
              "streaming")
    # the first pass after a set-up takes ~18 s, later ones 9-13 s. The
    # later passes are its 49 small lineage jobs and spread twice as much
    # over a shared host as the first, so a run makes only the first
    pass_s = 20.0

    def __init__(self, run: Run, inputs: str):
        super().__init__(run, inputs)
        t = pq.read_table(inputs, columns=["url", "warc_ts", "html", "lang"])
        # thin pages only: a block bomb would make set-up time depend on
        # the seed
        thin = t.filter(pc.less(pc.binary_length(t.column("html")), 16384))
        self.warm_rows = thin.slice(0, WARM_ROWS_PER_CORE * harness.CORES)
        latest: dict = {}
        for url, ts, html in zip(t.column("url").to_pylist(),
                                 t.column("warc_ts").to_pylist(),
                                 t.column("html").to_pylist()):
            if url not in latest or ts > latest[url][0]:
                latest[url] = (ts, html)
        self.htmls = t.column("html").to_pylist()
        self.n_docs = t.num_rows
        self.html_mb = _mb(sum(len(h) for h in self.htmls))
        self.urls = set(latest)
        self.sample = {u: verify.kernel_row(extract_main_text(latest[u][1]))
                       for u in verify.sample_keys(self.urls, run.seed)}

    def verify(self, out: str) -> dict:
        spark = self.run.spark
        manifests, commit_times = {}, []
        mdir = os.path.join(out, "_lineage")
        for name in os.listdir(mdir):
            if name.startswith("bucket=") and name.endswith(".json"):
                p = os.path.join(mdir, name)
                with open(p) as f:
                    m = json.load(f)
                manifests[m["bucket"]] = (m["doc_count"], m["checksum"])
                commit_times.append((os.stat(p).st_mtime, m["doc_count"]))
        recomputed = {
            r[0]: (r[1], r[2] or 0) for r in
            spark.read.parquet(out).groupBy("_bucket").agg(
                F.count("*"),
                F.expr("bit_xor(xxhash64(url, text))")).collect()}
        data = pads.dataset(out, format="parquet", partitioning="hive",
                            ignore_prefixes=[".", "_lineage", "_SUCCESS"])
        t = data.to_table(columns=["url", "_bucket", "parse_ok",
                                   "n_blocks"])
        rows = list(zip(t.column("url").to_pylist(),
                        t.column("_bucket").to_pylist(),
                        t.column("parse_ok").to_pylist()))
        got = {r["url"]: verify.output_row(r) for r in data.to_table(
            columns=["url", *verify.KERNEL_FIELDS],
            filter=pads.field("url").isin(list(self.sample))).to_pylist()}
        attempted, failed, problems = verify.check_commit(
            self.urls, manifests, recomputed, rows, self.sample, got)
        n_blocks = t.column("n_blocks").to_pylist()
        return {"attempted": attempted, "failed": failed,
                "problems": problems, "commit_times": commit_times,
                "block_cap_hits": sum(n >= MAX_BLOCKS_PER_DOC
                                      for n in n_blocks),
                "parse_fail": sum(not r[2] for r in rows)}

    def _commit(self, out: str, group: str | None) -> None:
        run, tr = self.run, self.run.tracer
        with tr.span("sources.read_table", "sources", group):
            docs = read_table(run.spark, self.inputs)
        with tr.span("operators.extract.latest_snapshot",
                     "operators.extract", group):
            snap = latest_snapshot(docs)
        with tr.span("operators.extract.extract_docs",
                     "operators.extract", group):
            ext = extract_docs(snap).sortWithinPartitions("url")
        with tr.span("operators.lineage.write_with_lineage",
                     "operators.lineage", group):
            write_with_lineage(ext, out, key_col="url",
                               payload_col="text", n_buckets=N_BUCKETS)

    warm_op = staticmethod(extract_docs)

    def iteration(self, group: str | None = None) -> dict:
        tr = self.run.tracer
        out = self.run.path("commit")
        landed = time.time()
        t0 = time.perf_counter()
        with tr.span("e2e", "bench", group):
            self._commit(out, group)
            with tr.span("verify", "bench", group):
                res = self.verify(out)
        wall = time.perf_counter() - t0
        ages = [(c - landed) * 1000 for c, _ in res["commit_times"]]
        weights = [n for _, n in res["commit_times"]]
        res.update(wall=wall, docs=self.n_docs, mb=self.html_mb,
                   fresh_p50=wquantile(ages, 0.5, weights),
                   fresh_p90=wquantile(ages, 0.9, weights))
        shutil.rmtree(out, ignore_errors=True)
        return res

    def traced(self, m: dict) -> dict:
        """Isolated layer calls, each over materialized input, noop sink
        unless the layer is the sink."""
        run, tr = self.run, self.run.tracer
        spark = run.spark
        sc = spark.sparkContext
        last = self.iteration(group="e2e")
        m["kernel.block_cap_hits"] = last["block_cap_hits"]
        m["kernel.parse_fail"] = last["parse_fail"]
        _kernel_probe(m, self.htmls)

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        with tr.span("sources.scan", "sources"):
            noop(read_table(spark, self.inputs))
        m["sources.scan_s"] = tr.duration("sources.scan")
        m["sources.splits"] = read_table(
            spark, self.inputs).rdd.getNumPartitions()
        m["sources.input_mb"] = _mb(_du(self.inputs))

        with tr.span("operators.extract.latest_snapshot_only",
                     "operators.extract"):
            noop(latest_snapshot(read_table(spark, self.inputs)))
        m["operators.extract.latest_snapshot_s"] = tr.duration(
            "operators.extract.latest_snapshot_only")
        snap_path, ext_path = run.path("snap"), run.path("extracted")
        with tr.span("stage.snapshot", "bench"):
            snap = latest_snapshot(read_table(spark, self.inputs))
            snap.write.parquet(snap_path)
        n_snap = spark.read.parquet(snap_path).count()
        m["operators.extract.snapshot_rows_dropped"] = self.n_docs - n_snap
        with tr.span("operators.extract.extract_docs_only",
                     "operators.extract"):
            noop(extract_docs(spark.read.parquet(snap_path)))
        ext_s = tr.duration("operators.extract.extract_docs_only")
        m["operators.extract.extract_docs_s"] = ext_s
        m["operators.extract.width_retention"] = (
            n_snap / ext_s / (harness.CORES * m["kernel.docs_per_s_1core"]))

        with tr.span("stage.extracted", "bench"):
            (extract_docs(spark.read.parquet(snap_path))
             .sortWithinPartitions("url").write.parquet(ext_path))
        out = run.path("lineage")
        with tr.span("operators.lineage.write_only", "operators.lineage"):
            write_with_lineage(spark.read.parquet(ext_path), out,
                               key_col="url", payload_col="text",
                               n_buckets=N_BUCKETS)
        m["operators.lineage.write_s"] = tr.duration(
            "operators.lineage.write_only")
        m["operators.lineage.jobs"] = len(
            sc.statusTracker().getJobIdsForGroup("operators.lineage"))
        m["operators.lineage.bytes_written_mb"] = _mb(_du(out))
        self.committed_rows = n_snap
        stream = self._stream_layer(m)
        for k in ("attempted", "failed"):
            last[k] += stream[k]
        last["problems"] = last["problems"] + stream["problems"]
        return last

    def _stream_layer(self, m: dict) -> dict:
        """streaming_extract over the first input files that hold only
        thin pages and share no url with an earlier one: a warm-up stream,
        then a paced one whose micro-batches give the streaming.* metrics.
        Every landed file must be committed exactly once, with all its
        rows."""
        files = sorted(f for f in os.listdir(self.inputs)
                       if f.endswith(".parquet"))
        tables = {f: pq.read_table(os.path.join(self.inputs, f),
                                   columns=["url", "html"]) for f in files}
        usable, seen = [], set()
        for f, t in tables.items():
            urls = set(t.column("url").to_pylist())
            if (not urls & seen and pc.max(pc.binary_length(
                    t.column("html"))).as_py() < 16384):
                usable.append(f)
                seen |= urls
        landed = {f: tables[f].column("url").to_pylist()
                  for f in usable[:STREAM_FILES]}
        htmls = {u: h for f in landed for u, h in zip(
            landed[f], tables[f].column("html").to_pylist())}
        sample = {u: verify.kernel_row(extract_main_text(htmls[u]))
                  for u in verify.sample_keys(htmls, self.run.seed)}
        warm = _stream(self.run, self.inputs,
                       {f: landed[f] for f in usable[:STREAM_WARM_FILES]},
                       paced=False)
        shutil.rmtree(warm["base"], ignore_errors=True)
        st = _stream(self.run, self.inputs, landed, paced=True)
        res = _verify_stream(self.run.spark, st, landed, sample)
        trig = [p["durationMs"]["triggerExecution"] for p in st["progress"]]
        m["streaming.batches"] = len(trig)
        m["streaming.batch_p50_ms"] = wquantile(trig, 0.5)
        m["streaming.batch_p90_ms"] = wquantile(trig, 0.9)
        m["streaming.overhead_p50_ms"] = wquantile(
            [p["durationMs"]["triggerExecution"]
             - p["durationMs"].get("addBatch", 0) for p in st["progress"]],
            0.5)
        m["streaming.gen_lag_ms_max"] = st["lag"] * 1000
        m["streaming.backlog_files_max"] = st["backlog"]
        # a streaming query's jobs carry its run id as their job group
        self.group_alias = {st["run_id"]: "streaming"}
        shutil.rmtree(st["base"], ignore_errors=True)
        return res

    def after_event_log(self, m: dict, tasks: dict) -> None:
        m["operators.lineage.scan_amplification"] = (
            harness.rows_scanned(tasks, "operators.lineage")
            / self.committed_rows)


def _stream(run: Run, inputs: str, landed: dict, paced: bool) -> dict:
    """Starts streaming_extract over an empty directory with a parquet
    sink and a checkpoint, lands the files of ``landed`` (name -> urls)
    from ``inputs`` (one every 1/STREAM_FILES_PER_S seconds when
    ``paced``, else all at once), waits until their rows are processed or
    the drain times out, and stops the query."""
    base = run.path("stream")
    src, stage = os.path.join(base, "src"), os.path.join(base, "stage")
    os.makedirs(src)
    os.makedirs(stage)
    files = list(landed)
    for f in files:  # hard links: landing moves them, not the inputs
        os.link(os.path.join(inputs, f), os.path.join(stage, f))
    # rows processed once the first k files are: done files = bisect
    cum = list(itertools.accumulate(len(landed[f]) for f in files))
    st = {"base": base, "sink": os.path.join(base, "sink"),
          "ckpt": os.path.join(base, "ckpt"), "lag": 0.0, "backlog": 0}

    def done(q) -> int:
        rows = sum(p["numInputRows"] for p in q.recentProgress)
        return bisect.bisect_right(cum, rows)

    with run.tracer.span("streaming.streaming_extract", "streaming"):
        q = (streaming_extract(run.spark, src).writeStream
             .format("parquet").option("checkpointLocation", st["ckpt"])
             .option("path", st["sink"]).start())
        try:
            _wait_idle(q)
            t0 = time.time() + 0.1
            for i, f in enumerate(files):
                due = t0 + i / STREAM_FILES_PER_S if paced else t0
                time.sleep(max(0.0, due - time.time()))
                os.replace(os.path.join(stage, f), os.path.join(src, f))
                st["lag"] = max(st["lag"], time.time() - due)
                st["backlog"] = max(st["backlog"], i + 1 - done(q))
            deadline = time.time() + DRAIN_TIMEOUT_S
            while (done(q) < len(files) and time.time() < deadline
                   and q.exception() is None):
                time.sleep(0.05)
            st["progress"] = [p for p in q.recentProgress
                              if p["numInputRows"] > 0]
            st["run_id"] = str(q.runId)
        finally:
            q.stop()
    return st


def _wait_idle(q, timeout: float = 60.0) -> None:
    """Until the query has made its first (empty) trigger."""
    deadline = time.time() + timeout
    while time.time() < deadline and q.exception() is None:
        if "Waiting for data" in q.status["message"]:
            return
        time.sleep(0.05)
    raise RuntimeError(f"stream did not start: {q.status}")


def _verify_stream(spark, st: dict, landed: dict, sample: dict) -> dict:
    """The files each committed micro-batch read, from the checkpoint's
    source log and the sink's commit log, and the rows in the sink."""
    batches: dict = {}
    seen = set()
    sdir = os.path.join(st["ckpt"], "sources", "0")
    for name in os.listdir(sdir):
        if name.startswith("."):
            continue
        with open(os.path.join(sdir, name)) as f:
            for line in f.read().splitlines()[1:]:
                e = json.loads(line)
                key = (e["path"], e["batchId"])
                if key in seen:  # also listed in a compacted log file
                    continue
                seen.add(key)
                batches.setdefault(e["batchId"], []).append(
                    os.path.basename(e["path"]))
    mdir = os.path.join(st["sink"], "_spark_metadata")
    committed = {int(n.split(".")[0]) for n in os.listdir(mdir)
                 if not n.startswith(".")}
    sink_df = spark.read.parquet(st["sink"])
    sink_urls = [r[0] for r in sink_df.select("url").collect()]
    got = {r["url"]: verify.output_row(r.asDict()) for r in
           sink_df.filter(F.col("url").isin(list(sample)))
           .select("url", *verify.KERNEL_FIELDS).collect()}
    attempted, failed, problems = verify.check_stream(
        landed, batches, committed, sink_urls, sample, got)
    return {"attempted": attempted, "failed": failed, "problems": problems}


def _kernel_probe(m: dict, htmls: list) -> None:
    """extract_main_text in this process over the workload's pages."""
    t0 = time.perf_counter()
    for h in htmls:
        extract_main_text(h)
    dt = time.perf_counter() - t0
    m["kernel.docs_per_s_1core"] = len(htmls) / dt
    m["kernel.mb_per_s_1core"] = _mb(sum(len(h) for h in htmls)) / dt


# --- neardup_curate ----------------------------------------------------------

class NeardupCurate(Workload):
    """exact_dup_groups, minhash_then_verify and remove_duplicate_spans
    over an extracted-text table, each written to parquet."""

    layers = ("operators.dedup",)
    # the first pass after a set-up takes ~24 s, the second ~13 s; their
    # median over a run spreads less than either
    pass_s = 10.0

    def __init__(self, run: Run, inputs: str):
        super().__init__(run, inputs)
        t = pq.read_table(inputs, columns=["doc_id", "text"])
        self.warm_rows = t.slice(0, WARM_ROWS_PER_CORE * harness.CORES)
        self.texts = dict(zip(t.column("doc_id").to_pylist(),
                              t.column("text").to_pylist()))
        self.n_docs = len(self.texts)
        self.text_mb = _mb(sum(len(s.encode()) for s in self.texts.values()))

    def _curate(self, out: str) -> None:
        run, tr = self.run, self.run.tracer
        with tr.span("sources.read_table", "sources"):
            df = read_table(run.spark, self.inputs)
        with tr.span("operators.dedup.exact_dup_groups", "operators.dedup"):
            exact_dup_groups(df, "url", "text").write.parquet(
                os.path.join(out, "exact"))
        with tr.span("operators.dedup.minhash_then_verify",
                     "operators.dedup"):
            minhash_then_verify(df, "doc_id", "text",
                                threshold=THRESHOLD).write.parquet(
                os.path.join(out, "pairs"))
        with tr.span("operators.dedup.remove_duplicate_spans",
                     "operators.dedup"):
            remove_duplicate_spans(df, "doc_id", "text").write.parquet(
                os.path.join(out, "spans"))

    def _done(self, out: str) -> None:
        # the operators cache intermediates keyed by plan; a later pass
        # must not find them warm
        self.run.spark.catalog.clearCache()
        shutil.rmtree(out, ignore_errors=True)

    def warm_op(self, df):
        return minhash_band_rows(df, "doc_id", "text")

    def iteration(self) -> dict:
        tr = self.run.tracer
        out = self.run.path("dedup")
        landed = time.time()
        t0 = time.perf_counter()
        with tr.span("e2e", "bench"):
            self._curate(out)
            committed = time.time()
            with tr.span("verify", "bench"):
                res = self.verify(out)
        wall = time.perf_counter() - t0
        age = (committed - landed) * 1000
        res.update(wall=wall, docs=self.n_docs, mb=self.text_mb,
                   fresh_p50=age, fresh_p90=age)
        self._done(out)
        return res

    def verify(self, out: str) -> dict:
        exact = pq.read_table(os.path.join(out, "exact"), columns=["n_dups"])
        pairs = pq.read_table(os.path.join(out, "pairs"))
        spans = pq.read_table(os.path.join(out, "spans"), columns=[
            "doc_id", "n_words", "n_removed", "n_kept"])
        pair_rows = list(zip(*(pairs.column(c).to_pylist()
                               for c in ("doc1", "doc2", "jaccard"))))
        span_rows = list(zip(*(spans.column(c).to_pylist() for c in (
            "doc_id", "n_words", "n_removed", "n_kept"))))
        attempted, failed, problems = verify.check_neardup(
            self.n_docs, exact.column("n_dups").to_pylist(), pair_rows,
            self.texts, span_rows, THRESHOLD, self.run.seed)
        return {"attempted": attempted, "failed": failed,
                "problems": problems, "verified_pairs": len(pair_rows)}

    def traced(self, m: dict) -> dict:
        tr, spark = self.run.tracer, self.run.spark
        last = self.iteration()
        m["operators.dedup.exact_s"] = tr.duration(
            "operators.dedup.exact_dup_groups")
        m["operators.dedup.minhash_verify_s"] = tr.duration(
            "operators.dedup.minhash_then_verify")
        m["operators.dedup.span_remove_s"] = tr.duration(
            "operators.dedup.remove_duplicate_spans")
        with tr.span("count.candidates", "bench"):
            df = read_table(spark, self.inputs)
            cands = minhash_lsh_candidates(df, "doc_id", "text").count()
            hot = (minhash_band_rows(df, "doc_id", "text")
                   .groupBy("band", "band_hash").count()
                   .filter(F.col("count") > gen.BUCKET_CAP).count())
            spark.catalog.clearCache()
        m["operators.dedup.candidates"] = cands
        m["operators.dedup.verified_pairs"] = last["verified_pairs"]
        m["operators.dedup.verify_yield"] = (last["verified_pairs"]
                                             / max(cands, 1))
        m["operators.dedup.hot_buckets"] = hot
        return last


WORKLOADS = {"thin_commit": ThinCommit, "neardup_curate": NeardupCurate}
