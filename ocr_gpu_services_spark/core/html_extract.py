"""Main-content extraction from HTML: regex token scan + Boilerpipe-style
number-of-words / link-density block classification.

This is the HTML analogue of the reference's "extract the document's text"
primary path (docTR ``result.render()`` at
/root/reference/src/api/v1/routers/ocr.py:72-74): one canonical text string
per document plus a flat span list
(/root/reference/src/infrastructure/services/optional_services.py:33-42).

Design (public knowledge only):
* Parsing: one possessive regex (``_SCAN``) locates every markup token;
  a single fused loop (``_blocks_fused``) walks the tokens with local
  skip/link depth counters and collects a flat list of *text blocks*,
  flushed at block-level tag boundaries.  script/style bodies are CDATA
  (jumped to their close tag).  The stdlib ``html.parser`` twin lives
  test-side as the oracle (tests/test_core.py::
  test_fast_tokenizer_matches_stdlib).
* Boilerplate classification: the published Boilerpipe
  ``NumWordsRulesClassifier`` decision tree (Kohlschütter et al., WSDM 2010,
  "Boilerplate Detection using Shallow Text Features") over
  (words, link_density) of the previous/current/next block.  Deterministic,
  no floats beyond exact ratios.

Output: ``(text, spans)`` where spans are block spans
``(text, conf, x0, y0, x1, y1, kind='block')`` with x0/x1 = char offsets of
the block inside the final text and y0/y1 = block ordinal, so geometry stays
meaningful without a renderer.

Used verbatim by both the golden oracle and the Spark ``mapInArrow`` kernel —
that shared implementation is what makes byte-identity across parallelism
levels structural rather than coincidental.
"""

from __future__ import annotations

import re
from html import unescape

from .normalize import canonical_text
from .spans import Span

# Subtrees that never contribute content text.
SKIP_TAGS = {
    "script", "style", "noscript", "template", "head", "title",
    "nav", "footer", "aside", "form", "header", "button", "iframe",
    "svg", "select", "option", "object", "embed",
}

# Tags that terminate/open a text block.
BLOCK_TAGS = {
    "p", "div", "section", "article", "main", "body", "html",
    "ul", "ol", "li", "dl", "dt", "dd",
    "table", "thead", "tbody", "tfoot", "tr", "td", "th", "caption",
    "h1", "h2", "h3", "h4", "h5", "h6",
    "blockquote", "pre", "figure", "figcaption", "hr", "br",
    "address", "fieldset", "legend",
}

HEADING_TAGS = {"h1", "h2", "h3", "h4", "h5", "h6"}

_CDATA_CLOSE = {
    "script": re.compile(r"</\s*script[^>]*>", re.IGNORECASE),
    "style": re.compile(r"</\s*style[^>]*>", re.IGNORECASE),
}

# one scan token = comment | declaration/PI | complete tag.  The attr
# run uses a POSSESSIVE star (Python 3.11): the alternatives are
# mutually exclusive at every position (plain chars / slash / quoted
# string start on disjoint characters), so possessive matching accepts
# the identical language — but a failing tag (a '<name' with no
# terminating '>' in 4 KB of garbage) fails in linear time instead of
# exponentially re-splitting the run.  A fuzz probe caught the
# backtracking blowup: 4 KB of random bytes sniffed as HTML took >10 s
# per document with the old `(?:...)*` — a crawl-scale DoS, present
# since round 1 and never triggered by well-formed fixtures.
# '/' is consumed as attr content only when NOT followed by '>' —
# otherwise the greedy attr run would swallow the self-close slash of
# '<iframe/>' and the skip-tag depth counter would never come back
# down.  The comment alternative is first (a comment may contain '>')
# and swallows to EOF when unterminated, matching the old find-based
# behavior.  groups: (1)=closing '/', (2)=tag name, (3)=self-close '/'
_SCAN = re.compile(
    r"<!--.*?(?:-->|$)"
    r"|<(?:"
    r"[!?][^>]*>"
    r"|(/)?([a-zA-Z][-.a-zA-Z0-9:_]*)"
    r"(?:[^<>'\"/]+|/(?!>)|\"[^\"]*\"|'[^']*')*+"
    r"(/)?>"
    r")",
    re.DOTALL,
)

# the fused loop's CDATA branch closes the element as a skip tag (it
# decrements skip_depth without checking SKIP_TAGS), so every CDATA
# element must be a skip tag or a later close of it would end an
# enclosing skipped subtree early and leak its content
assert _CDATA_CLOSE.keys() <= SKIP_TAGS


def _is_content(prev, curr, nxt) -> bool:
    """Boilerpipe NumWordsRulesClassifier (published decision tree).

    prev/curr/nxt are (words, link_density) tuples; prev/nxt may be (0, 0.0)
    at the edges.
    """
    p_words, p_ld = prev
    c_words, c_ld = curr
    n_words, _ = nxt
    if c_ld > 0.333333:
        return False
    if p_ld <= 0.555556:
        if c_words <= 16 and n_words <= 15 and p_words <= 4:
            return False
        return True
    # high-link-density predecessor
    if c_words <= 40 and n_words <= 17:
        return False
    return True


def _blocks_fused(raw: str) -> list[tuple[str, int, float, str]]:
    """Tokenize ``raw`` and collect its text blocks in ONE loop with local
    state: ``(text, words, link_density, tag)`` per nonempty block.

    Repeated C-level ``_SCAN.search(raw, pos)`` calls locate every markup
    token; text between tokens (including a bare '<' that opens no tag)
    is data.  CDATA bodies (script/style) are jumped by moving ``pos``
    past the close tag and resuming the search THERE — a plain
    ``finditer`` is wrong here because a match that starts inside the
    jumped region but ends past it would swallow real markup after the
    CDATA close (``<script><p x='</script><b>z</b>'>`` lost the <b>).

    Semantics match a block extractor driven by the stdlib ``html.parser``
    with ``convert_charrefs=True``: comments/declarations/PIs are silent,
    tag names lowercase, quoted '>' in attributes tolerated.  Pinned
    block-for-block against that independent twin over the whole tiny
    corpus plus edge cases
    (tests/test_core.py::test_fast_tokenizer_matches_stdlib).  Profiling
    put per-event hook dispatch at a third of HTML-route CPU; this loop
    has no hooks and no per-block object.

    Two algebraic shortcuts (exact, not approximations):
    * pieces are ``collapse_ws`` outputs (nonempty, single internal
      spaces, no edge whitespace), so the per-flush
      ``collapse_ws(" ".join(parts))`` is the identity and is skipped;
    * ``len(text.split())`` therefore equals the sum of per-piece token
      counts, accumulated at data time (``len(toks)``) instead of
      re-scanning the joined block.
    """
    blocks: list[tuple[str, int, float, str]] = []
    skip_depth = 0
    link_depth = 0
    cur_tag = "body"
    parts: list[str] = []
    link_chars = total_chars = words = 0

    def flush(next_tag: str) -> None:
        nonlocal parts, link_chars, total_chars, words, cur_tag
        if parts:
            blocks.append((" ".join(parts), words,
                           link_chars / total_chars, cur_tag))
            parts = []
            link_chars = total_chars = words = 0
        cur_tag = next_tag

    search = _SCAN.search
    pos = 0
    n = len(raw)
    while pos < n:
        m = search(raw, pos)
        if m is None:
            break
        s = m.start()
        if s > pos and not skip_depth:
            d = raw[pos:s]
            toks = (unescape(d) if "&" in d else d).split()
            if toks:
                piece = " ".join(toks)
                parts.append(piece)
                ln = len(piece)
                total_chars += ln
                if link_depth:
                    link_chars += ln
                words += len(toks)
        pos = m.end()
        close, name, selfclose = m.group(1, 2, 3)
        if name is None:                        # comment/declaration/PI
            continue
        tag = name.lower()
        if close:
            # handle_endtag
            if tag in SKIP_TAGS:
                if skip_depth:
                    skip_depth -= 1
            elif not skip_depth:
                if tag == "a" and link_depth:
                    link_depth -= 1
                if tag in BLOCK_TAGS:
                    flush(cur_tag)
        elif selfclose:
            # handle_startendtag: starttag then endtag (skip tags net out)
            if tag not in SKIP_TAGS and not skip_depth:
                if tag in BLOCK_TAGS:
                    flush(tag if tag not in ("br", "hr") else cur_tag)
                    flush(cur_tag)
        else:
            # handle_starttag
            if tag in SKIP_TAGS:
                skip_depth += 1
            elif not skip_depth:
                if tag == "a":
                    link_depth += 1
                if tag in BLOCK_TAGS:
                    flush(tag if tag not in ("br", "hr") else cur_tag)
            cd = _CDATA_CLOSE.get(tag)
            if cd is not None:                  # CDATA content element
                # script/style are SKIP_TAGS (asserted at import), so
                # the body is dropped and only the position jump matters
                mc = cd.search(raw, pos)
                if mc is None:
                    pos = n
                else:
                    # the endtag of a SKIP_TAG
                    if skip_depth:
                        skip_depth -= 1
                    pos = mc.end()
    if pos < n and not skip_depth:
        d = raw[pos:]
        toks = (unescape(d) if "&" in d else d).split()
        if toks:
            piece = " ".join(toks)
            parts.append(piece)
            ln = len(piece)
            total_chars += ln
            if link_depth:
                link_chars += ln
            words += len(toks)
    flush(cur_tag)
    return blocks


def extract_html(payload: bytes) -> tuple[str, list[Span]]:
    """Extract main content text + block spans from raw HTML bytes."""
    blocks = _blocks_fused(payload.decode("utf-8", errors="replace"))
    feats = [(w, ld) for (_, w, ld, _) in blocks]
    kept: list[tuple[str, str]] = []
    for i, (text, words, ld, tag) in enumerate(blocks):
        prev = feats[i - 1] if i > 0 else (0, 0.0)
        nxt = feats[i + 1] if i + 1 < len(blocks) else (0, 0.0)
        # headings are kept when low-link-density: they label the content
        # that follows (reference keeps all rendered text; we only drop
        # boilerplate).
        if tag in HEADING_TAGS:
            if ld <= 0.333333 and i + 1 < len(blocks) and _is_content(
                (words, ld), feats[i + 1],
                feats[i + 2] if i + 2 < len(blocks) else (0, 0.0),
            ):
                kept.append((text, tag))
            continue
        if _is_content(prev, (words, ld), nxt):
            kept.append((text, tag))

    spans: list[Span] = []
    offset = 0
    parts: list[str] = []
    for idx, (text, tag) in enumerate(kept):
        norm = canonical_text(text)
        parts.append(norm)
        spans.append(Span(
            text=norm, conf=1.0,
            x0=float(offset), y0=float(idx),
            x1=float(offset + len(norm)), y1=float(idx),
            kind="block",
        ))
        offset += len(norm) + 2  # the "\n\n" joiner
    return canonical_text("\n\n".join(parts)), spans
