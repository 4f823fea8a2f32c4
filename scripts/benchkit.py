"""The measurement harness the bench scripts share.

* ``run_child`` — run a measurement subprocess and return the JSON
  object it printed, tolerating a JVM that fails in its shutdown hooks.
* ``run_extraction`` — one timed ``extract_docs`` run in a fresh
  local[cores] JVM (a JVM's core count is fixed at SparkContext
  creation, so every level of a ladder is its own process). The child
  is this file run as a script.
* ``host_ceiling(work_fn)`` — the Spark-free host probe: how much
  per-core throughput independent processes keep at 1/8/32 wide.

Child usage (normally launched by ``run_extraction``):

    python scripts/benchkit.py <cores> <cc|fat|bombs> <sf_dir> <copies>
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import subprocess
import sys
import threading
import time

# repo root derived from this file's location, so the scripts and their
# children work from any checkout
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def run_child(argv: list[str], label: str, cwd: str = REPO,
              env: dict | None = None) -> dict:
    """Run ``argv`` and return the last JSON object on its stdout.

    The exit code is not checked once a measurement was printed: a JVM
    that dies in its shutdown hooks (observed: DAGScheduler.stop raising
    inside SparkContext.stop) turns a finished run into returncode 1,
    and the printed line is the ground truth. The scan runs in reverse
    and skips lines that are not JSON objects — a stray late warning, or
    a bare scalar such as ``NaN`` that is valid JSON too."""
    p = subprocess.run(argv, capture_output=True, text=True, timeout=1800,
                       cwd=cwd, env=env)
    for line in reversed(p.stdout.splitlines()):
        try:
            parsed = json.loads(line)
        except ValueError:
            continue
        if isinstance(parsed, dict):
            return parsed
    raise RuntimeError(f"{label}: no JSON measurement on stdout "
                       f"(rc={p.returncode}); stderr tail: "
                       f"{p.stderr[-2000:]}")


def run_extraction(cores: int, corpus: str, sf_dir: str, copies: int,
                   arrow: int | None = None) -> dict:
    """Time ``extract_docs`` over ``corpus`` at local[cores] in a fresh
    JVM. ``arrow`` sets the Arrow batch rows (session default if None).

    GC threads are pinned: without it the saturated 32-thread level pays
    GC-vs-task contention that the 8-thread level does not, depressing
    measured efficiency."""
    env = dict(os.environ, SPARK_GRAFT_JAVA_OPTS="-XX:ParallelGCThreads=4")
    if arrow:
        env["SPARK_GRAFT_ARROW_BATCH"] = str(arrow)
    return run_child([sys.executable, os.path.abspath(__file__), str(cores),
                      corpus, sf_dir, str(copies)],
                     f"local[{cores}] {corpus}", env=env)


def md5_work(_) -> None:
    """Generic pure-CPU probe work: hashlib md5, no JVM, no Arrow, no
    shared state."""
    import hashlib

    h = b"x" * 1000
    for _ in range(1_000_000):
        h = hashlib.md5(h).digest()


def host_ceiling(work_fn) -> dict:
    """Spark-free controlled experiment: N independent PROCESSES (fork
    pool, best-of-2 per width) each run ``work_fn`` once, at N=1/8/32.
    The 8→32 wall ratio is the hard ceiling for ANY job's 8→32 scaling
    efficiency on this host — if independent processes can't scale, no
    engine can. A real 4N-executor cluster adds machines instead of
    saturating one, so the ceiling there is ~1.0."""
    walls = {}
    for n in (1, 8, 32):
        best = float("inf")
        for _ in range(2):
            t0 = time.perf_counter()
            with mp.Pool(n) as p:
                p.map(work_fn, range(n))
            best = min(best, time.perf_counter() - t0)
        walls[n] = best
    return {
        "wall_1": round(walls[1], 3),
        "wall_8": round(walls[8], 3),
        "wall_32": round(walls[32], 3),
        "retention_8": round(walls[1] / walls[8], 4),
        "retention_32": round(walls[1] / walls[32], 4),
        "ceiling_8_32": round(walls[8] / walls[32], 4),
    }


def _bombs(spark, schema):
    """30 multi-MB HTML bombs on ONE mega-host: block bombs over
    MAX_BLOCKS_PER_DOC, 60k-deep nesting bombs over MAX_PATH_SEGMENTS,
    single-block megatext."""
    import datetime

    from my_ocr_spark.fixtures import make_html_bomb

    ts = datetime.datetime(2024, 6, 1)
    rows = []
    for i in range(30):
        kind, size = [("blocks", 100_000), ("deep", 60_000),
                      ("megatext", 4_000_000)][i % 3]
        rows.append((f"https://megahost.example/bomb/{i}", ts,
                     make_html_bomb(kind, size, seed=100 + i).encode(),
                     "", "en"))
    return spark.createDataFrame(rows, schema=schema)


def _peak_rss(stop: threading.Event, peak: list) -> None:
    """Host-wide RSS high-water mark: the bench box runs only this job."""
    while not stop.is_set():
        total = 0
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1])
                except OSError:
                    pass
        peak[0] = max(peak[0], total * 4096 / 1e6)
        time.sleep(0.3)


def _extraction_child(cores: str, corpus: str, sf_dir: str,
                      copies: str) -> None:
    from my_ocr_spark.plans.flagship import (
        build_amplified_corpus, synthesize_fat_docs, time_extraction,
    )
    from my_ocr_spark.session import get_spark

    spark = get_spark(app_name=f"bench-{corpus}-{cores}",
                      master=f"local[{cores}]", shuffle_partitions=int(cores))
    spark.sparkContext.setLogLevel("ERROR")
    if corpus == "fat":
        docs = synthesize_fat_docs(spark, sf_dir, copies=int(copies))
    else:
        docs = build_amplified_corpus(spark, sf_dir, int(copies))
    if corpus == "bombs":
        docs = docs.unionByName(_bombs(spark, docs.schema))
    stop, peak = threading.Event(), [0.0]
    sampler = threading.Thread(target=_peak_rss, args=(stop, peak),
                               daemon=True)
    sampler.start()
    m = time_extraction(docs)
    stop.set()
    sampler.join()
    # print BEFORE stop: a JVM that dies in its shutdown hooks must not
    # discard a completed measurement (see run_child)
    print(json.dumps({
        "cores": int(cores),
        "arrow_batch": int(spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch")),
        **m, "peak_rss_mb": round(peak[0])}), flush=True)
    try:
        spark.stop()
    except Exception:
        pass


if __name__ == "__main__":
    _extraction_child(*sys.argv[1:])
