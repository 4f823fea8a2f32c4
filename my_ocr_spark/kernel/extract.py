"""Main-content extraction: block scoring + boilerplate strip + span emission.

Capability analog of the reference's detect-stage decode skeleton
(``mmocr/models/textdet/postprocess/wrapper.py:177-229``, ``db_decode``):

    score map → threshold → connected components → per-region score agg
    → filter(area/score) → polygonize → NMS

re-expressed over HTML text blocks:

    block features → keep/drop threshold classification → neighbor smoothing
    (the "dilate/connected-component" analog) → filter → emit text + spans

All decisions use integer/ratio thresholds with stable tie-breaks
(block_id ascending, mirroring poly_nms's stable score sort,
``wrapper.py:480``) so output is byte-identical across runs and engines.
"""

from __future__ import annotations

from my_ocr_spark.kernel.htmlparse import Block, parse_blocks

# Classification thresholds (fixed; the analog of db_decode's
# mask_thr/min_text_score/min_text_width defaults, wrapper.py:177-182).
MIN_BLOCK_CHARS = 25          # blocks shorter than this are not content alone
MAX_LINK_DENSITY = 0.33       # boilerplate threshold (Boilerpipe-style)
MIN_WORDS = 4
SHORT_KEEP_BETWEEN = True     # neighbor smoothing: keep short block between kept
BLOCK_SEP = "\n\n"            # separator between kept blocks in output text


def score_block(b: Block) -> float:
    """Content-ness score in [0, 1]. Deterministic pure arithmetic.

    Features mirror Boilerpipe's densitometric classifier: text length,
    link density, punctuation density, nav ancestry, heading bonus.
    """
    if b.n_chars == 0:
        return 0.0
    link_density = b.n_link_chars / b.n_chars
    punct_density = b.n_punct / b.n_words if b.n_words else 0.0
    s = 0.0
    if b.n_chars >= MIN_BLOCK_CHARS:
        s += 0.4
    if b.n_words >= MIN_WORDS:
        s += 0.2
    if link_density <= MAX_LINK_DENSITY:
        s += 0.3
    else:
        s -= 0.4
    if punct_density > 0.02:
        s += 0.1
    if b.in_nav_footer:
        s -= 0.6
    if b.is_heading and not b.in_nav_footer:
        s += 0.2
    if b.tag in ("li",) and link_density > 0.5:
        s -= 0.2
    return max(0.0, min(1.0, s))


KEEP_THRESHOLD = 0.5


def classify_blocks(blocks: list[Block]) -> list[bool]:
    """Threshold classification + neighbor smoothing.

    Smoothing is the analog of db_decode's dilation/connected-component
    grouping: a short low-scoring block sandwiched between two kept content
    blocks is content (e.g. a one-line paragraph between long ones).
    """
    # leaf-only: a block whose text is fully repeated by deeper kept blocks
    # would double content; our parser keeps each fragment in exactly one
    # block, so no dedup pass is needed.
    keep = [score_block(b) >= KEEP_THRESHOLD for b in blocks]
    if SHORT_KEEP_BETWEEN and len(blocks) >= 3:
        for i in range(1, len(blocks) - 1):
            if (not keep[i] and keep[i - 1] and keep[i + 1]
                    and not blocks[i].in_nav_footer
                    and blocks[i].n_chars > 0
                    and (blocks[i].n_link_chars / blocks[i].n_chars)
                    <= MAX_LINK_DENSITY):
                keep[i] = True
    return keep


def extract_main_text(html_bytes: bytes) -> dict:
    """Full extraction: html bytes → {title, text, spans, stats}.

    Returns a plain dict (arrow-friendly):
      title: str, text: str (extracted main content, blocks joined by
      BLOCK_SEP), spans: list[(start, end, block_id)], n_blocks: int,
      n_kept: int, parse_ok: bool.
    """
    try:
        title, blocks = parse_blocks(html_bytes)
        # quarantine signal: missing payload is not a successful parse
        # (the tolerant parser itself never raises on garbage)
        parse_ok = html_bytes is not None
    except Exception:  # parse_blocks shouldn't raise, but quarantine anyway
        title, blocks, parse_ok = "", [], False
    if not title:
        # Readability-style fallback: first heading block is the title
        for b in blocks:
            if b.is_heading:
                title = b.text
                break
    keep = classify_blocks(blocks)
    parts: list[str] = []
    spans: list[tuple[int, int, int]] = []
    pos = 0
    for b, k in zip(blocks, keep):
        if not k:
            continue
        if parts:
            pos += len(BLOCK_SEP)
        parts.append(b.text)
        spans.append((pos, pos + len(b.text), b.block_id))
        pos += len(b.text)
    return {
        "title": title,
        "text": BLOCK_SEP.join(parts),
        "spans": spans,
        "n_blocks": len(blocks),
        "n_kept": len(spans),
        "parse_ok": parse_ok,
    }
