"""Adversarial-skew extraction stress bench (SURVEY.md §7.3 risk 2).

Measures the flagship extraction stage on the SAME uniform amplified
corpus twice — once as-is, once with a handful of multi-MB HTML bombs
(block bombs over MAX_BLOCKS_PER_DOC, 60k-deep nesting bombs over
MAX_PATH_SEGMENTS, single-block megatext) all parked on ONE mega-host —
and reports wall / docs/s / MB/s / host-wide peak RSS for both. The
claim under test: the kernel's skew caps make adversarial pages degrade
throughput roughly in proportion to their BYTES (graceful), not stall a
straggler task or blow executor memory (the uncapped deep-nesting path
table alone would be ~40 GB for one page).

Each config runs in a fresh local[32] JVM (``benchkit.run_extraction``;
the bomb corpus is its ``bombs`` kind).

Usage: python scripts/bench_stress.py [sf_dir] [copies]
"""

from __future__ import annotations

import json
import sys

from benchkit import run_extraction

# what each run line reports besides its mode
_KEYS = ("n_docs", "mb", "wall_sec", "docs_per_sec", "mb_per_sec",
         "peak_rss_mb")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    copies = int(sys.argv[2]) if len(sys.argv) > 2 else 200
    out = []
    for mode, corpus in (("uniform", "cc"), ("skewed", "bombs")):
        r = run_extraction(32, corpus, sf_dir, copies)
        out.append({"mode": mode, **{k: r[k] for k in _KEYS}})
        print(json.dumps(out[-1]), flush=True)
    u, s = out
    extra_mb = s["mb"] - u["mb"]
    print(json.dumps({
        "bytes_added_pct": round(100 * extra_mb / u["mb"], 1),
        "wall_added_pct": round(
            100 * (s["wall_sec"] - u["wall_sec"]) / u["wall_sec"], 1),
        "bomb_mb_per_sec": round(
            extra_mb / max(s["wall_sec"] - u["wall_sec"], 1e-9), 1),
        "peak_rss_delta_mb": s["peak_rss_mb"] - u["peak_rss_mb"],
    }), flush=True)


if __name__ == "__main__":
    main()
