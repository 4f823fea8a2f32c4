"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes
byte-identical parquet files. Inputs are written once per (workload,
seed, sizes) under the benchmark's work directory and reused by later runs (a
``_DONE`` marker holding the input properties is written last, so a
half-written input is regenerated).

The program under test only ever sees the parquet files written here.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import json
import os
import random
import shutil
import statistics
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

BUCKET_CAP = 512            # minhash_lsh_candidates' default hot-bucket cap
MAX_BLOCKS = 20000          # MAX_BLOCKS_PER_DOC in kernel/htmlparse.py


@dataclasses.dataclass(frozen=True)
class Sizes:
    """Input sizes of one workload pass."""

    thin_pages: int = 4000      # distinct urls; ~5% get a later re-crawl
    thin_files: int = 64
    thin_bombs: int = 1         # pages over MAX_BLOCKS, at seeded positions
    neardup_texts: int = 1300
    # rank-size (Zipf) law of near-duplicate cluster sizes: HEAD/k^A,
    # truncated at 2. The head cluster is large enough that its LSH
    # buckets exceed BUCKET_CAP and are dropped; the tail's are joined.
    neardup_head: int = 800


RUN = Sizes()
RECRAWL_SHARE = 0.05
NEARDUP_FILES = 8
NEARDUP_WORDS = 160
NEARDUP_ZIPF_A = 2.5

BASE_TS = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

DOCS_ARROW_SCHEMA = pa.schema([
    pa.field("url", pa.string(), nullable=False),
    pa.field("warc_ts", pa.timestamp("us", tz="UTC"), nullable=False),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])

TEXTS_ARROW_SCHEMA = pa.schema([
    pa.field("doc_id", pa.int64(), nullable=False),
    pa.field("url", pa.string(), nullable=False),
    pa.field("text", pa.string()),
])


def _vocab() -> tuple[list[str], list[float]]:
    """2000 pronounceable words with Zipf(1) cumulative weights; fixed,
    independent of the seed."""
    cons, vow = "bcdfghklmnprstvz", "aeiou"
    sylls = [c + v for c in cons for v in vow]
    rng = random.Random(0)
    words: list[str] = []
    seen = set()
    while len(words) < 2000:
        w = "".join(rng.choice(sylls) for _ in range(rng.randint(1, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    cum, acc = [], 0.0
    for i in range(len(words)):
        acc += 1.0 / (i + 1)
        cum.append(acc)
    return words, cum


_WORDS, _CUM = _vocab()


def _words(rng: random.Random, n: int) -> list[str]:
    return rng.choices(_WORDS, cum_weights=_CUM, k=n)


def _sentence(rng: random.Random, lo: int, hi: int) -> str:
    s = " ".join(_words(rng, rng.randint(lo, hi)))
    return s[:1].upper() + s[1:] + rng.choice("...!?")


def _paragraph(rng: random.Random, n_sent: int) -> str:
    return " ".join(_sentence(rng, 6, 14) for _ in range(n_sent))


_NAV = ("Home", "About", "Blog", "Docs", "Pricing", "Contact", "Login")
_FOOTER = ('<footer><a href="/privacy">Privacy</a> | <a href="/terms">'
           'Terms</a><p>(c) 2024 Example Corp. All rights reserved.</p>'
           '</footer></body></html>')


def _page(title: str, nav: str, body: str) -> str:
    return ("<!DOCTYPE html><html><head><title>" + title + "</title>"
            "<script>var x=1;</script></head><body><header><nav><ul>" + nav
            + "</ul></nav></header><main><article><h1>" + title + "</h1>"
            + body + "</article></main>" + _FOOTER)


def _nav(rng: random.Random) -> str:
    return "".join(f'<li><a href="/{x.lower()}">{x}</a></li>'
                   for x in rng.sample(_NAV, rng.randint(3, 6)))


def thin_html(rng: random.Random) -> tuple[str, str]:
    """(~1 KB CC-style page, its visible text)."""
    title = _sentence(rng, 3, 6)
    paras = [_paragraph(rng, rng.randint(1, 3))
             for _ in range(rng.randint(2, 3))]
    if rng.random() < 0.3:
        paras[-1] += f' See <a href="/ref">{_words(rng, 1)[0]}</a> too.'
    body = "".join(f"<p>{p}</p>" for p in paras)
    return _page(title, _nav(rng), body), title + " " + " ".join(paras)


def bomb_html(rng: random.Random) -> tuple[str, str]:
    """A block bomb: one ~1.2 KB unit of 10-word paragraphs repeated until
    the page holds more than MAX_BLOCKS blocks (about 1.5 MB)."""
    words = _words(rng, rng.randint(150, 250))
    chunks = [" ".join(words[i:i + 10]) for i in range(0, len(words), 10)]
    unit = "".join(f"<p>{c}.</p>" for c in chunks)
    k = 1 + (MAX_BLOCKS + 1000) // len(chunks)
    return _page(_sentence(rng, 3, 6), _nav(rng), unit * k), " ".join(words)


def _quantiles(vals: list[float]) -> dict:
    qs = statistics.quantiles(vals, n=10)
    return {"p10": round(qs[0], 1), "p50": round(statistics.median(vals), 1),
            "p90": round(qs[-1], 1), "max": round(max(vals), 1)}


def _docs_table(rows: list[tuple]) -> pa.Table:
    url, ts, html, text, lang = zip(*rows)
    return pa.table([list(url), list(ts), list(html), list(text), list(lang)],
                    schema=DOCS_ARROW_SCHEMA)


def _write_files(table: pa.Table, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    for f in range(n_files):
        lo, hi = n * f // n_files, n * (f + 1) // n_files
        pq.write_table(table.slice(lo, hi - lo),
                       os.path.join(out_dir, f"part-{f:05d}.parquet"))


def _url(rng: random.Random, seed: int, i: int) -> str:
    host = min(int(rng.paretovariate(1.2)), 500)
    return f"https://h{host}.example/s{seed}/p{i}"


def gen_thin(seed: int, out_dir: str, sz: Sizes) -> dict:
    rng = random.Random(seed)
    bombs = set(rng.sample(range(sz.thin_pages), sz.thin_bombs))
    rows, recrawl = [], []
    for i in range(sz.thin_pages):
        url = _url(rng, seed, i)
        html, text = bomb_html(rng) if i in bombs else thin_html(rng)
        ts = BASE_TS + dt.timedelta(seconds=i)
        rows.append((url, ts, html.encode(), text, "en"))
        if i not in bombs and rng.random() < RECRAWL_SHARE:
            html2, text2 = thin_html(rng)
            recrawl.append((url, ts + dt.timedelta(days=3), html2.encode(),
                            text2, "en"))
    # re-crawls land in later files, as a later crawl would
    _write_files(_docs_table(rows + recrawl), out_dir, sz.thin_files)
    sizes = [len(r[2]) / 1024 for r in rows + recrawl]
    return {"rows": len(rows) + len(recrawl), "urls": len(rows),
            "files": sz.thin_files, "block_bombs": sz.thin_bombs,
            "recrawl_share": round(len(recrawl) / len(rows), 4),
            "page_kb": _quantiles(sizes),
            "html_mb": round(sum(sizes) / 1024, 2)}


def cluster_sizes(head: int) -> list[int]:
    """Near-duplicate cluster sizes: head/k^A for k = 1, 2, ... while >= 2."""
    sizes, k = [], 1
    while True:
        s = int(head / k ** NEARDUP_ZIPF_A)
        if s < 2:
            return sizes
        sizes.append(s)
        k += 1


def _variant(rng: random.Random, base: list[str]) -> list[str]:
    """A near copy: each word replaced with probability 3%; half the
    members are exact copies."""
    if rng.random() < 0.5:
        return list(base)
    return [_words(rng, 1)[0] if rng.random() < 0.03 else w for w in base]


def gen_neardup(seed: int, out_dir: str, sz: Sizes) -> dict:
    """An extracted-text table: near-duplicate clusters of Zipf sizes plus
    singletons, shuffled, sz.neardup_texts rows in total."""
    rng = random.Random(seed)
    sizes = cluster_sizes(sz.neardup_head)
    texts: list[str] = []
    # every text has the same length, so the work of a pass does not
    # depend on which seed drew a long text for the head cluster
    for s in sizes:
        base = _words(rng, NEARDUP_WORDS)
        texts.extend(" ".join(_variant(rng, base)) for _ in range(s))
    while len(texts) < sz.neardup_texts:
        texts.append(" ".join(_words(rng, NEARDUP_WORDS)))
    rng.shuffle(texts)
    table = pa.table([list(range(len(texts))),
                      [f"https://h{i % 97}.example/s{seed}/t{i}"
                       for i in range(len(texts))], texts],
                     schema=TEXTS_ARROW_SCHEMA)
    _write_files(table, out_dir, NEARDUP_FILES)
    return {"rows": len(texts), "files": NEARDUP_FILES,
            "clusters": len(sizes), "clustered_texts": sum(sizes),
            "cluster_size": {"max": sizes[0], "p50": statistics.median(sizes),
                             "min": sizes[-1]},
            "clusters_over_bucket_cap": sum(s > BUCKET_CAP for s in sizes),
            "share_clusters_over_bucket_cap":
                round(sum(s > BUCKET_CAP for s in sizes) / len(sizes), 4),
            "text_mb": round(sum(len(t) for t in texts) / 2 ** 20, 2)}


GENERATORS = {"thin_commit": gen_thin, "neardup_curate": gen_neardup}


def ensure_inputs(workload: str, seed: int, root: str,
                  sz: Sizes = RUN) -> tuple[str, dict]:
    """Input directory and properties for (workload, seed, sizes),
    generating them unless a complete earlier copy exists."""
    tag = zlib.crc32(repr(sz).encode())
    out = os.path.join(root, f"{workload}-s{seed}-{tag:08x}")
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        with open(done) as f:
            return os.path.join(out, "data"), json.load(f)
    shutil.rmtree(out, ignore_errors=True)
    props = GENERATORS[workload](seed, os.path.join(out, "data"), sz)
    with open(done, "w") as f:
        json.dump(props, f)
    return os.path.join(out, "data"), props
