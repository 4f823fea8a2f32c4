"""Output checks for each workload. Pure functions over plain Python
values, so they can be tested without Spark; the workloads gather the
values from the committed output.

Each check returns (attempted, failed, problems): operations attempted,
operations that failed, and a short description of each kind of failure.
"""

from __future__ import annotations

import random

from my_ocr_spark.kernel.textstats import word_shingles

KERNEL_FIELDS = ("title", "text", "spans", "n_blocks", "n_kept", "parse_ok")
SAMPLE = 32


def sample_keys(keys, seed: int, n: int = SAMPLE) -> list:
    """A seeded sample of ``keys`` (order-independent)."""
    keys = sorted(keys)
    return random.Random(seed).sample(keys, min(n, len(keys)))


def kernel_row(res: dict) -> dict:
    """extract_main_text's result in the shape of an output row."""
    out = {k: res[k] for k in KERNEL_FIELDS}
    out["spans"] = [tuple(s) for s in res["spans"]]
    return out


def output_row(row: dict) -> dict:
    """An output row (spans as structs) in the shape of kernel_row."""
    out = {k: row[k] for k in KERNEL_FIELDS}
    out["spans"] = [(s["start"], s["end"], s["block_id"])
                    for s in row["spans"] or []]
    return out


def _sample_failures(expected: dict, got: dict) -> set:
    """Keys of the sample whose output row is absent or differs."""
    return {k for k, want in expected.items() if got.get(k) != want}


def check_commit(expected_urls: set, manifests: dict, recomputed: dict,
                 rows: list[tuple], sample_expected: dict,
                 sample_got: dict) -> tuple[int, int, list]:
    """A lineage-committed extraction output.

    ``manifests`` and ``recomputed`` map bucket -> (doc_count, checksum),
    from the _lineage manifests and from the committed parquet.
    ``rows`` holds (url, bucket, parse_ok) for every committed row. A
    document fails if it is missing, duplicated, unexpected, has
    parse_ok false, lies in a bucket whose manifest disagrees with its
    data, or differs from the kernel in the sample."""
    problems = []
    seen: dict[str, int] = {}
    bad: set = set()
    for url, bucket, ok in rows:
        seen[url] = seen.get(url, 0) + 1
        if not ok:
            bad.add(url)
    if bad:
        problems.append(f"{len(bad)} rows with parse_ok false")
    dup = {u for u, n in seen.items() if n > 1}
    missing = expected_urls - seen.keys()
    extra = seen.keys() - expected_urls
    for name, s in (("duplicated", dup), ("missing", missing),
                    ("unexpected", extra)):
        if s:
            problems.append(f"{len(s)} {name} urls")
    bad_buckets = {b for b in manifests.keys() | recomputed.keys()
                   if manifests.get(b) != recomputed.get(b)}
    if bad_buckets:
        problems.append(f"buckets {sorted(bad_buckets)} disagree with "
                        "their manifests")
    in_bad = {url for url, bucket, _ in rows if bucket in bad_buckets}
    mismatch = _sample_failures(sample_expected, sample_got)
    if mismatch:
        problems.append(f"{len(mismatch)} sampled rows differ from the "
                        "kernel")
    failed = bad | dup | missing | extra | in_bad | mismatch
    committed = sum(n for n, _ in manifests.values())
    n_failed = max(len(failed), abs(committed - len(expected_urls)))
    if committed != len(expected_urls):
        problems.append(f"manifests commit {committed} docs, expected "
                        f"{len(expected_urls)}")
    return len(expected_urls), min(n_failed, len(expected_urls)), problems


def check_stream(landed: dict, batches: dict, committed: set,
                 sink_urls: list, sample_expected: dict,
                 sample_got: dict) -> tuple[int, int, list]:
    """A streaming extraction into a parquet sink.

    ``landed`` maps each landed file name to its urls; ``batches`` maps
    micro-batch id -> file names it read; ``committed`` holds the ids of
    batches the sink committed. A file fails unless exactly one committed
    batch read it and each of its urls is in the sink exactly once and,
    if sampled, matches the kernel."""
    problems = []
    reads: dict[str, int] = {}
    for b, files in batches.items():
        if b in committed:
            for f in files:
                reads[f] = reads.get(f, 0) + 1
    counts: dict[str, int] = {}
    for u in sink_urls:
        counts[u] = counts.get(u, 0) + 1
    mismatch = _sample_failures(sample_expected, sample_got)
    failed = set()
    for f, urls in landed.items():
        if reads.get(f, 0) != 1:
            failed.add(f)
        elif any(counts.get(u, 0) != 1 or u in mismatch for u in urls):
            failed.add(f)
    not_landed = set(reads) - landed.keys()
    if not_landed:
        problems.append(f"{len(not_landed)} committed files never landed")
    if failed:
        problems.append(f"{len(failed)} landed files not committed "
                        "exactly once with all their rows")
    return len(landed), min(len(landed), len(failed) + len(not_landed)), \
        problems


def check_neardup(n_docs: int, exact_sizes: list[int], pairs: list[tuple],
                  texts: dict, span_rows: list[tuple], threshold: float,
                  seed: int) -> tuple[int, int, list]:
    """Exact groups, verified near-duplicate pairs and span removal.

    Exact-group sizes must sum to ``n_docs``; a seeded sample of pairs
    (doc1, doc2, jaccard) must have a recomputed shingle Jaccard at or
    above ``threshold``, equal to the reported one; span removal must
    return each document once with n_words = n_removed + n_kept. A
    document fails if it is in a failing pair or span row, or is missing
    from the span output."""
    problems = []
    failed: set = set()
    size_gap = abs(sum(exact_sizes) - n_docs)
    if size_gap:
        problems.append(f"exact groups cover {sum(exact_sizes)} of "
                        f"{n_docs} docs")
    for d1, d2, jac in sample_keys(pairs, seed, 200):
        a = word_shingles(texts[d1])
        b = word_shingles(texts[d2])
        sa, sb = set(a), set(b)
        union = len(sa | sb)
        want = len(sa & sb) / union if union else 1.0
        if want < threshold or abs(want - jac) > 1e-9:
            failed.update((d1, d2))
    if failed:
        problems.append(f"{len(failed)} docs in pairs below the threshold "
                        "or with a wrong Jaccard")
    seen: dict = {}
    for doc, n_words, n_removed, n_kept in span_rows:
        seen[doc] = seen.get(doc, 0) + 1
    wrong = ({d for d, n in seen.items() if n != 1}
             | (texts.keys() - seen.keys())
             | {doc for doc, n_words, n_removed, n_kept in span_rows
                if n_words != n_removed + n_kept or n_removed < 0})
    if wrong:
        problems.append(f"{len(wrong)} docs missing, repeated or with "
                        "inconsistent counts in the span output")
    failed |= wrong
    return n_docs, min(n_docs, max(len(failed), size_gap)), problems
