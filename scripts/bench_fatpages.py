"""Realistic-page-size extraction bench (fat pages).

The headline bench corpus averages ~0.9 KB/page, which under-represents
real Common-Crawl pages (tens of KB) and over-weights Arrow per-batch
fixed costs. This bench runs the SAME extraction job over
``synthesize_fat_docs`` (log-normal html size: mean ~60 KB, multi-MB
tail, 4 MB cap) and reports docs/s + MB/s:

1. an Arrow-batch sweep at local[32] (maxRecordsPerBatch is Spark's
   only knob, but the real constraint is BYTES/batch — fat pages want
   far fewer rows per batch than 1 KB pages), then
2. the standard N vs 4N ladder (local[8] vs local[32], fresh JVM per
   level) at the chosen batch size, with TWO paired Spark-free host
   probes per ladder (``benchkit.host_ceiling``):

   - the generic md5 work, and
   - WORKLOAD-MATCHED kernel work (``fat_kernel_ceiling``):
     independent processes running the actual ``extract_main_text``
     kernel over a deterministic fat-page mix. Fat-page parsing is
     memory-bandwidth-bound (multi-hundred-KB strings blow the L2 the
     md5 probe lives in), so the md5 probe OVERSTATES the achievable
     8→32 retention for this job; the kernel probe is the honest
     ceiling. Measured on a 32-core host: md5 ceiling ~0.89, kernel-on-
     fat-pages ceiling ~0.73 — no engine overhead involved in the gap.

Usage: python scripts/bench_fatpages.py [sf_dir] [copies] [ladders]
"""

from __future__ import annotations

import json
import statistics
import sys

from benchkit import host_ceiling, md5_work, run_extraction

# what each run line reports
_KEYS = ("cores", "arrow_batch", "n_docs", "mb", "wall_sec",
         "docs_per_sec", "mb_per_sec")

_PAGES: list[bytes] = []
_PASSES = 48


def _make_fat_page(target_bytes: int, seed: int) -> bytes:
    """Deterministic fat page with the synthesizer's block structure:
    10-word paragraphs, body repeated to ~target size, real template."""
    from my_ocr_spark.plans.flagship import _HTML_PREFIX, _HTML_SUFFIX
    words = [f"tok{(seed * 31 + i) % 1499}" for i in range(200)]
    unit = "".join(" ".join(words[i:i + 10]) + " </p><p>"
                   for i in range(0, 200, 10))
    k = max(1, target_bytes // len(unit))
    return (_HTML_PREFIX + unit * k + _HTML_SUFFIX).encode("utf-8")


def _kernel_work(worker_id: int) -> int:
    from my_ocr_spark.kernel.extract import extract_main_text
    n = 0
    for _ in range(_PASSES):
        for p in _PAGES:
            extract_main_text(p)
            n += 1
    return n


def fat_kernel_ceiling() -> dict:
    """The host probe with workload-matched work: each process parses
    the same ~1.7 MB fat-page mix x _PASSES through the real kernel, so
    ceiling_8_32 here is the hard bound a fat-page extraction stage can
    reach on this host. The pages are built before the pool forks."""
    if not _PAGES:
        sizes = [15_000, 40_000, 60_000, 60_000, 90_000,
                 150_000, 300_000, 1_000_000]
        _PAGES.extend(_make_fat_page(s, i) for i, s in enumerate(sizes))
    return {"probe": "kernel_fat_pages", **host_ceiling(_kernel_work)}


def run_level(cores: int, sf_dir: str, copies: int, arrow: int) -> dict:
    r = run_extraction(cores, "fat", sf_dir, copies, arrow)
    return {k: r[k] for k in _KEYS}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    copies = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    ladders = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    # at ~60 KB mean page size these are ~0.5 / 2 / 8 MB Arrow batches;
    # partitions are parallelism*16, so rows/partition stays above the
    # largest batch only at the smallest sizes — the sweep's point is
    # bytes-per-batch, not rows.
    sweep = []
    for arrow in (8, 32, 128):
        r = run_level(32, sf_dir, copies, arrow)
        sweep.append(r)
        print(json.dumps(r), flush=True)
    best = max(sweep, key=lambda r: r["mb_per_sec"])
    arrow = best["arrow_batch"]
    print(json.dumps({"chosen_arrow_batch": arrow}), flush=True)

    runs, probes, kprobes = [], [], []
    for _ in range(ladders):
        probes.append(host_ceiling(md5_work))
        print(json.dumps(probes[-1]), flush=True)
        kprobes.append(fat_kernel_ceiling())
        print(json.dumps(kprobes[-1]), flush=True)
        ladder = {c: run_level(c, sf_dir, copies, arrow) for c in (8, 32)}
        for c in (8, 32):
            print(json.dumps(ladder[c]), flush=True)
        runs.append(ladder)
    effs = sorted((r[32]["docs_per_sec"] / r[8]["docs_per_sec"]) / 4.0
                  for r in runs)
    eff = statistics.median(effs)
    ceil = statistics.median(p["ceiling_8_32"] for p in probes)
    kceil = statistics.median(p["ceiling_8_32"] for p in kprobes)
    print(json.dumps({
        "eff_8_32_median": round(eff, 3), "effs": [round(e, 3)
                                                   for e in effs],
        "md5_ceiling_8_32": round(ceil, 3),
        "kernel_ceiling_8_32": round(kceil, 3),
        "normalized_vs_kernel": round(eff / kceil, 3) if kceil else None,
    }), flush=True)


if __name__ == "__main__":
    main()
