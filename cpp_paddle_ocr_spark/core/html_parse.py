"""Candidate-block proposal: DOM-lite parse of an HTML document.

The analog of ``BoxesFromBitmap`` contour enumeration
(``src/postprocess_op.cpp:255-331``): walk the tag stream once, emit candidate
blocks in document order (the reference emits boxes in ``findContours`` order
and never re-sorts on the live path — SURVEY.md §2.6 O1), capped at
``MAX_CANDIDATES`` (``src/postprocess_op.cpp:260``).

No external HTML library: a single-pass regex tokenizer with depth counters.
Malformed HTML degrades gracefully (unmatched closes are ignored; unclosed
opens leak depth, which only widens skip/hint regions — never crashes, per the
error-row policy P9, ``src/ocr_worker.cpp:192-206``).

A block records, per visible character, its byte... char offset into the
*decoded, possibly truncated* document string, so detected spans can be mapped
back to source coordinates (the ``FilterTagDetRes`` rescale+clamp analog,
``src/postprocess_op.cpp:333-362``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from ..config import MAX_CANDIDATES

# Tags whose open OR close starts a new candidate block (block-level elements).
BLOCK_TAGS = frozenset(
    """p div h1 h2 h3 h4 h5 h6 li br hr td th tr table ul ol dl dt dd
    section article main header footer nav aside blockquote pre figure
    figcaption form fieldset address body html title option select""".split()
)

# Content inside these is invisible: skip entirely.
SKIP_TAGS = frozenset("script style noscript template svg head iframe".split())

# Ancestor tags that mark a boilerplate region.
HINT_TAGS = frozenset("nav footer aside".split())

# class=/id= substrings that mark a boilerplate region.
HINT_ATTR_RE = re.compile(
    r"""(?:class|id)\s*=\s*["']?[^"'>]*?(?:nav|menu|footer|header|sidebar|
    advert|banner|promo|comment|related|share|social|breadcrumb|widget|
    \bad\b|\bads\b)""",
    re.IGNORECASE | re.VERBOSE,
)

VOID_TAGS = frozenset(
    "br hr img input meta link area base col embed source track wbr".split()
)

# The tag tokenizer captures the optional close-slash and tag name in the
# same pass (groups 1/2) — the separate _TAG_NAME_RE.match per tag measured
# ~5% of kernel time. The third alternative matches exactly the strings
# `<[^>]*>` did: every sub-pattern before `[^>]*` is optional.
_TAG_RE = re.compile(
    r"<!--.*?(?:-->|$)|<!\[CDATA\[.*?(?:\]\]>|$)"
    r"|<(/?)\s*([a-zA-Z][a-zA-Z0-9:-]*)?[^>]*>",
    re.DOTALL,
)


@dataclass(slots=True)
class Block:
    """One candidate block: contiguous visible text between block boundaries."""

    block_id: int
    #: (start, end) char spans of the text nodes in the decoded document.
    segments: list[tuple[int, int]] = field(default_factory=list)
    #: per-segment link flag (text was inside an ``<a>``)
    seg_link: list[bool] = field(default_factory=list)
    #: block sits under a nav/footer/ad/... ancestor
    hint: bool = False

    def text(self, doc: str) -> str:
        return "".join(doc[s:e] for s, e in self.segments)

    @property
    def start(self) -> int:
        return self.segments[0][0]

    @property
    def end(self) -> int:
        return self.segments[-1][1]


def parse_blocks(doc: str) -> list[Block]:
    """Single pass over ``doc`` emitting candidate blocks in document order."""
    blocks: list[Block] = []
    cur: Block | None = None
    pos = 0
    a_depth = 0
    skip_depth = 0
    hint_tag_depth = 0  # depth inside HINT_TAGS elements
    hint_attr_depth = 0  # depth inside elements whose class/id matched
    # Stack of (tag, attr_hinted) so closes pop the right hint flags; we use
    # counters keyed by tag name to survive malformed nesting.
    open_hint_attr: dict[str, int] = {}

    def flush() -> None:
        nonlocal cur
        if cur is not None and cur.segments:
            blocks.append(cur)
        cur = None

    def add_text(s: int, e: int) -> None:
        nonlocal cur
        if skip_depth > 0 or s >= e:
            return
        if cur is None and not doc[s:e].strip():
            return  # don't open a block on pure whitespace
        if cur is None:
            if len(blocks) >= MAX_CANDIDATES:
                return
            cur = Block(
                block_id=len(blocks),
                hint=(hint_tag_depth > 0 or hint_attr_depth > 0),
            )
        cur.segments.append((s, e))
        cur.seg_link.append(a_depth > 0)

    lower_memo: dict[str, str] = {}
    for m in _TAG_RE.finditer(doc):
        ms, me = m.span()
        if pos < ms:
            add_text(pos, ms)
        pos = me
        close_slash, raw_name = m.group(1, 2)
        if raw_name is None:
            continue  # comment / CDATA / doctype / nameless tag
        name = lower_memo.get(raw_name)
        if name is None:
            name = lower_memo[raw_name] = raw_name.lower()
        closing = close_slash == "/"
        if name in SKIP_TAGS:
            if closing:
                if skip_depth > 0:
                    skip_depth -= 1
            else:
                skip_depth += 1
            flush()
            continue
        if name == "a":
            if closing:
                if a_depth > 0:
                    a_depth -= 1
            else:  # doc[pos-2:pos] is the tag's last two chars (pos = end)
                a_depth = a_depth + 1 if doc[pos - 2 : pos] != "/>" else a_depth
            continue
        if name in BLOCK_TAGS:
            flush()
            if name in HINT_TAGS:
                if closing:
                    if hint_tag_depth > 0:
                        hint_tag_depth -= 1
                else:
                    hint_tag_depth += 1
            if name in VOID_TAGS:
                continue
        if not closing:
            # a class=/id= hint needs an '=' in the tag; str.find over the
            # region skips the regex (and the tag slice) for the attribute-
            # free majority of tags
            if (
                doc.find("=", ms, pos) != -1
                and HINT_ATTR_RE.search(doc[ms:pos])
                and name not in VOID_TAGS
            ):
                hint_attr_depth += 1
                open_hint_attr[name] = open_hint_attr.get(name, 0) + 1
                if name in BLOCK_TAGS:
                    flush()  # hint takes effect from this element on
        else:
            n = open_hint_attr.get(name, 0)
            if n > 0:
                open_hint_attr[name] = n - 1
                if hint_attr_depth > 0:
                    hint_attr_depth -= 1
        if len(blocks) >= MAX_CANDIDATES and cur is None:
            break

    add_text(pos, len(doc))
    flush()
    return blocks[:MAX_CANDIDATES]
