"""Deterministic synthetic fixture corpus (FIXTURES.md §1–2), seed=42.

Generates the Common-Crawl-style input table from BASELINE.json's
``input_hint`` — ``(url string, warc_ts timestamp, html binary, text string,
lang string)`` — plus goldens produced by the SAME pure kernel the Spark UDF
calls (byte-identical by construction; the invariant under test is
Spark-pipeline vs kernel parity). Mirrors the reference's checked-in toy
golden datasets (``tests/data/ocr_toy_dataset`` etc. — SURVEY.md §5).

No external data; no wall-clock (timestamps derived from row index).
"""

from __future__ import annotations

import datetime as _dt
import random

from my_ocr_spark.kernel.extract import extract_main_text
from my_ocr_spark.kernel.htmlparse import parse_blocks

_WORDS = (
    "data spark table query join filter window batch stream merge sort "
    "column row value group order part key hash scan vector agg line "
    "document content extract page block text span parse engine shuffle "
    "partition cluster executor broadcast salt skew lineage resume snapshot"
).split()

_ZH = "数据 内容 提取 页面 文本 分析 处理 系统 分布 式".split()
_DE = "der die und ist nicht das inhalt seite daten analyse".split()
_ES = "el la los que es una contenido página datos análisis".split()
_FR = "le la les est une dans contenu page données analyse".split()

_NAV_ITEMS = ("Home", "About", "Products", "Blog", "Contact", "Login",
              "Careers", "Pricing", "Docs", "Support")


def _sentence(rng: random.Random, words, n_lo=6, n_hi=16) -> str:
    n = rng.randint(n_lo, n_hi)
    toks = [rng.choice(words) for _ in range(n)]
    s = " ".join(toks)
    return s[0].upper() + s[1:] + rng.choice([".", ".", ".", "!", "?"])


def _paragraph(rng: random.Random, words, n_sent_lo=2, n_sent_hi=6) -> str:
    return " ".join(_sentence(rng, words)
                    for _ in range(rng.randint(n_sent_lo, n_sent_hi)))


def _lang_words(lang: str):
    return {"zh": _ZH, "de": _DE + _WORDS, "es": _ES + _WORDS,
            "fr": _FR + _WORDS}.get(lang, _WORDS)


def make_html(rng: random.Random, lang: str, pathological: bool) -> str:
    words = _lang_words(lang)
    title = _sentence(rng, words, 3, 7)
    nav = "".join(
        f'<li><a href="/{x.lower()}">{x}</a></li>'
        for x in rng.sample(_NAV_ITEMS, rng.randint(4, 8))
    )
    n_paras = rng.randint(1, 8)
    paras = []
    for pi in range(n_paras):
        roll = rng.random()
        if roll < 0.08:  # content table
            cells = "".join(
                f"<td>{_sentence(rng, words, 5, 10)}</td>"
                for _ in range(rng.randint(2, 3)))
            paras.append(f"<table><tr>{cells}</tr></table>")
            continue
        if roll < 0.16:  # content list
            items = "".join(
                f"<li>{_sentence(rng, words, 6, 12)}</li>"
                for _ in range(rng.randint(2, 4)))
            paras.append(f"<ul>{items}</ul>")
            continue
        if roll < 0.22:  # blockquote
            paras.append(f"<blockquote>{_paragraph(rng, words, 1, 2)}"
                         "</blockquote>")
            continue
        if roll < 0.30 and pi > 0:  # mid-article subheading
            paras.append(f"<h2>{_sentence(rng, words, 3, 6)}</h2>")
        p = _paragraph(rng, words)
        if rng.random() < 0.3:  # inline link inside content
            anchor = rng.choice(words)
            p += f' See <a href="/ref">{anchor}</a> for details.'
        paras.append(f"<p>{p}</p>")
    sidebar = "".join(
        f'<li><a href="/t/{i}">{_sentence(rng, words, 2, 4)}</a></li>'
        for i in range(rng.randint(3, 7))
    )
    footer_links = " | ".join(
        f'<a href="/f/{i}">{rng.choice(_NAV_ITEMS)}</a>' for i in range(5)
    )
    comment = "<!-- generated fixture page -->"
    script = "<script>var x = 1; function f(){return x;}</script>"
    style = "<style>.main { color: #222; } nav { display: flex; }</style>"
    body_main = "\n".join(paras)
    if pathological:
        mode = rng.choice(["huge", "deep", "empty"])
        if mode == "huge":
            body_main = "\n".join(
                f"<p>{_paragraph(rng, words, 8, 14)}</p>" for _ in range(400))
        elif mode == "deep":
            inner = f"<p>{_paragraph(rng, words)}</p>"
            for _ in range(120):
                inner = f"<div>{inner}</div>"
            body_main = inner
        else:
            body_main = ""
    return (
        "<!DOCTYPE html><html><head>"
        f"<title>{title}</title>{style}{script}</head><body>{comment}"
        f"<header><h1>{title}</h1><nav><ul>{nav}</ul></nav></header>"
        f'<main><article>{body_main}</article></main>'
        f"<aside><ul>{sidebar}</ul></aside>"
        f"<footer>{footer_links}<p>© 2024 Example Corp. All rights "
        "reserved.</p></footer></body></html>"
    )


def make_html_bomb(kind: str, size: int, seed: int = 7) -> str:
    """Adversarial page generator for skew/robustness stress (SURVEY.md
    §7.3 risk 2). Deterministic. Kinds:

    - ``"blocks"``: ``size`` flat ``<p>`` blocks — exceeds
      MAX_BLOCKS_PER_DOC at size>20000, exercising the block cap.
    - ``"deep"``: one paragraph nested ``size`` ``<div>`` levels deep —
      exercises the MAX_PATH_SEGMENTS O(depth^2) path-memory bound.
    - ``"megatext"``: a single ``<p>`` holding ~``size`` bytes of text —
      exercises single-block accumulation.
    """
    rng = random.Random(seed)
    if kind == "blocks":
        body = "\n".join(
            f"<p>{_sentence(rng, _WORDS, 4, 9)}</p>" for _ in range(size))
    elif kind == "deep":
        core = f"<p>{_paragraph(rng, _WORDS)}</p>"
        body = ("<div>" * size) + core + ("</div>" * size)
    elif kind == "megatext":
        sents = []
        n = 0
        while n < size:
            s = _sentence(rng, _WORDS, 8, 14)
            sents.append(s)
            n += len(s) + 1
        body = f"<p>{' '.join(sents)}</p>"
    else:  # pragma: no cover - caller error
        raise ValueError(f"unknown bomb kind: {kind}")
    return (
        "<!DOCTYPE html><html><head><title>bomb page</title></head>"
        f'<body><header><nav><ul><li><a href="/h">Home</a></li></ul>'
        f"</nav></header><main><article>{body}</article></main>"
        '<footer><p>© 2024 Example Corp. All rights reserved.</p>'
        "</footer></body></html>"
    )


_BASE_TS = _dt.datetime(2024, 1, 1, 0, 0, 0)


def gen_docs(n_docs: int = 500, seed: int = 42) -> list[dict]:
    """Rows of the CC-style table + golden extraction columns.

    Keys: url, warc_ts, html (bytes), text (raw visible text), lang,
    golden_text, golden_title, golden_spans, golden_n_blocks.
    Host ids Zipf-ish (FIXTURES.md: exercises host skew); ~5% duplicate urls
    with two warc_ts; ~2% pathological pages.
    """
    rng = random.Random(seed)
    rows: list[dict] = []
    hosts = [f"host{h}.example" for h in range(50)]
    # Zipf-ish weights 1/(h+1)^1.2
    weights = [1.0 / (h + 1) ** 1.2 for h in range(50)]
    for i in range(n_docs):
        host = rng.choices(hosts, weights=weights, k=1)[0]
        url = f"https://{host}/p/{i}"
        lang = rng.choices(["en", "zh", "de", "es", "fr"],
                           weights=[70, 10, 8, 7, 5], k=1)[0]
        pathological = rng.random() < 0.02
        html = make_html(rng, lang, pathological)
        html_bytes = html.encode("utf-8")
        # raw visible text (pre-extraction, like a WARC conversion)
        _, blocks = parse_blocks(html_bytes)
        raw_text = " ".join(b.text for b in blocks)
        golden = extract_main_text(html_bytes)
        ts = _BASE_TS + _dt.timedelta(seconds=i * 137 + (i % 7) * 11)
        rows.append({
            "url": url, "warc_ts": ts, "html": html_bytes,
            "text": raw_text, "lang": lang,
            "golden_text": golden["text"],
            "golden_title": golden["title"],
            "golden_spans": golden["spans"],
            "golden_n_blocks": golden["n_blocks"],
        })
        if rng.random() < 0.05:  # duplicate url, later snapshot
            html2 = make_html(rng, lang, False)
            hb2 = html2.encode("utf-8")
            _, blocks2 = parse_blocks(hb2)
            g2 = extract_main_text(hb2)
            rows.append({
                "url": url,
                "warc_ts": ts + _dt.timedelta(days=3, seconds=i % 43),
                "html": hb2,
                "text": " ".join(b.text for b in blocks2),
                "lang": lang,
                "golden_text": g2["text"],
                "golden_title": g2["title"],
                "golden_spans": g2["spans"],
                "golden_n_blocks": g2["n_blocks"],
            })
    return rows
