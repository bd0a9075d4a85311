"""DOM block segmentation over stdlib ``html.parser``.

Web analogue of the reference's layout-analysis candidate proposal:

* MSER text-block proposal (``/root/reference/src/martial_arts_ocr/imaging``
  → ``utils/image/layout/filters/text_filter.py:49-76 detect_mser``) — here,
  block-level elements with text become candidate blocks;
* the nontext pre-mask (``utils/image/preprocessing/textmask.py:6-50``) —
  here, ``<script>/<style>/<noscript>/<template>`` subtrees are stripped
  before proposal;
* figure detection anchors (``utils/image/layout/detectors/figure.py:51-121``)
  — ``<figure>/<img>/<svg>/<table>`` produce figure-region candidates.

Output is a flat list of :class:`Block` records in document order, each with
a char-span into the emitted text stream — the web analogue of a pixel bbox
(SURVEY.md §1.2).
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from html.parser import HTMLParser

# Tags whose subtree is never content (reference nontext mask analogue).
SKIP_SUBTREE = {"script", "style", "noscript", "template", "iframe", "object"}

# Elements that open a new text block.
BLOCK_TAGS = {
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "td", "th",
    "blockquote", "pre", "article", "section", "main", "aside", "nav",
    "header", "footer", "figure", "figcaption", "title", "caption",
    "dt", "dd", "tr", "table", "ul", "ol", "body",
}

HEADING_TAGS = {"h1", "h2", "h3", "h4", "h5", "h6", "title"}

# Chrome ancestors: being inside one of these is structural evidence of
# boilerplate (DOM-tree classifier feature, SURVEY §2.10 D6).
CHROME_TAGS = {"nav", "footer", "header", "aside"}

# class/id substrings that mark chrome (public heuristic à la boilerpipe /
# readability; analogous to the reference's text-like rejection reasons,
# text_filter.py:366-400).
CHROME_CLASS_RE = re.compile(
    r"(?:^|[\s_-])(?:nav|menu|footer|header|banner|cookie|consent|sidebar|"
    r"breadcrumb|share|social|advert|ads?|promo|related|comment|widget|"
    r"skip|masthead|copyright)(?:$|[\s_-])",
    re.IGNORECASE,
)

_WS_RE = re.compile(r"\s+")
_SPACE_RE = re.compile(r"[ \t\r\f\v]+")
_MULTI_WS_RE = re.compile(r"[\t\r\f\v]|  ")
_FIGURE_TAGS = frozenset({"figure", "table", "svg"})
_VOID_TAGS = frozenset({"br", "img", "hr", "meta", "link", "input"})

# node_path depth cap (browser DOM depth limits are ~512; real pages sit
# well under 100) — see _path for the DoS rationale
_MAX_PATH_DEPTH = 128

# one dict lookup replacing the per-tag set-membership cascade in
# handle_starttag (built FROM the sets above, so they stay the source of
# truth); bit values are local to this table
_F_CHROME, _F_FIGURE, _F_BLOCK, _F_VOID = 1, 2, 4, 8
_TAG_FLAGS: dict[str, int] = {}
for _t in (CHROME_TAGS | _FIGURE_TAGS | BLOCK_TAGS | _VOID_TAGS):
    _TAG_FLAGS[_t] = (
        (_F_CHROME if _t in CHROME_TAGS else 0)
        | (_F_FIGURE if _t in _FIGURE_TAGS else 0)
        | (_F_BLOCK if _t in BLOCK_TAGS else 0)
        | (_F_VOID if _t in _VOID_TAGS else 0)
    )


@dataclass(slots=True)
class Block:
    """One candidate text block (web bbox = char span + node path)."""

    block_id: int
    tag: str
    node_path: str
    depth: int
    start: int          # char offset of block text in the page text stream
    text: str = ""
    n_anchor_chars: int = 0
    n_text_nodes: int = 0
    in_chrome_tag: bool = False      # inside nav/footer/header/aside
    chrome_class: bool = False       # self-or-ancestor class/id matches chrome
    is_heading: bool = False
    is_list_item: bool = False
    is_figure: bool = False          # figure/table subtree
    caption: str = ""                # figcaption / img alt / table caption
    parent_path: str = ""
    sibling_sig: str = ""            # tag+class signature for sibling-panel detection

    @property
    def end(self) -> int:
        return self.start + len(self.text)

    @property
    def n_chars(self) -> int:
        return len(self.text)

    @property
    def link_density(self) -> float:
        return self.n_anchor_chars / len(self.text) if self.text else 0.0


@dataclass(slots=True)
class _Frame:
    tag: str
    path: str
    cls: str               # raw class attr; sibling_sig built lazily per block
    chrome_tag: bool
    chrome_class: bool
    figure: bool


class _BlockParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[Block] = []
        self.stack: list[_Frame] = []
        self.skip_depth = 0
        self.cursor = 0                 # char position in the page text stream
        self.cur: Block | None = None
        # raw text of the OPEN block accumulates here and is joined once at
        # _flush: `cur.text += data` on an attribute is O(len(block)²) in
        # CPython (the in-place concat fast path covers locals only) — a
        # 2 MiB single-block flood took 60 s through that path
        self.cur_parts: list[str] = []
        self.anchor_depth = 0
        self.tag_counts: dict[str, int] = {}
        self.figure_stack: list[Block] = []
        self._id = 0

    # -- helpers -----------------------------------------------------------
    def _path(self, tag: str) -> str:
        n = self.tag_counts.get(tag, 0) + 1
        self.tag_counts[tag] = n
        if not self.stack:
            return f"{tag}[{n}]"
        parent = self.stack[-1].path
        if len(self.stack) >= _MAX_PATH_DEPTH:
            # DoS bound: a 2 MiB page of nothing but '<div>' would otherwise
            # build O(depth²) total path chars. Past real-DOM depth the path
            # stops growing (frames beyond the cap share the capped
            # ancestor's path string — O(1) by reference); segmentation
            # itself is unaffected.
            return parent
        return f"{parent}/{tag}[{n}]"

    def _flush(self) -> None:
        """Close the current block if it holds any text.

        Whitespace is normalized per line, but newlines (from ``<br>``) are
        preserved so the cleanup chain's hyphen/soft-wrap line merges (T3/T4)
        can see the original line structure.
        """
        if self.cur is None:
            return
        raw = "".join(self.cur_parts)
        self.cur_parts.clear()
        if "\n" not in raw:                 # fast path: single-line block
            norm = (_SPACE_RE.sub(" ", raw) if _MULTI_WS_RE.search(raw)
                    else raw).strip()
        else:
            lines = [
                _SPACE_RE.sub(" ", ln).strip() if _MULTI_WS_RE.search(ln)
                else ln.strip()
                for ln in raw.split("\n")
            ]
            norm = "\n".join(ln for ln in lines if ln).strip()
        if norm:
            # recompute anchor chars against the normalized text proportionally
            self.cur.text = norm
            self.blocks.append(self.cur)
            self.cursor = self.cur.start + len(norm) + 1  # +1 block separator
        self.cur = None

    def _open_block(self, tag: str, frame: _Frame) -> None:
        self._flush()
        self._id += 1
        self.cur = Block(
            block_id=self._id,
            tag=tag,
            node_path=frame.path,
            depth=len(self.stack),
            start=self.cursor,
            in_chrome_tag=frame.chrome_tag,
            chrome_class=frame.chrome_class,
            is_heading=tag in HEADING_TAGS,
            is_list_item=tag in {"li", "dt", "dd"},
            is_figure=frame.figure,
            parent_path=self.stack[-2].path if len(self.stack) >= 2 else "",
            sibling_sig=f"{frame.tag}.{frame.cls.strip()}",
        )

    # -- HTMLParser hooks ---------------------------------------------------
    def handle_starttag(self, tag, attrs):
        if tag in SKIP_SUBTREE:
            self.skip_depth += 1
            return
        if self.skip_depth:
            return
        parent = self.stack[-1] if self.stack else None
        cls = idv = alt = None
        if attrs:
            for k, v in attrs:
                if k == "class":
                    cls = v
                elif k == "id":
                    idv = v
                elif k == "alt":
                    alt = v
        chrome_cls = parent.chrome_class if parent else False
        if not chrome_cls and (cls or idv):
            chrome_cls = bool(
                CHROME_CLASS_RE.search(f"{cls or ''} {idv or ''}")
            )
        flags = _TAG_FLAGS.get(tag, 0)
        chrome_tag = (parent.chrome_tag if parent else False) or bool(
            flags & _F_CHROME
        )
        figure = (parent.figure if parent else False) or bool(
            flags & _F_FIGURE
        )
        path = self._path(tag)
        frame = _Frame(tag, path, cls or "", chrome_tag, chrome_cls, figure)
        self.stack.append(frame)

        if tag == "a":
            self.anchor_depth += 1
        elif tag == "br":
            if self.cur is not None:
                self.cur_parts.append("\n")
        elif tag == "img":
            alt = (alt or "").strip()
            if alt and self.figure_stack:
                self.figure_stack[-1].caption = (
                    self.figure_stack[-1].caption or alt
                )
        if flags & _F_BLOCK:
            self._open_block(tag, frame)
            if tag == "figure":
                self.figure_stack.append(self.cur)
        # void elements never get an endtag from some generators; pop now
        if flags & _F_VOID:
            self.stack.pop()

    def handle_startendtag(self, tag, attrs):
        self.handle_starttag(tag, attrs)
        # SKIP_SUBTREE start incremented skip_depth; the end call balances it.
        # Without this, a self-closing <iframe/> / <script/> silently drops
        # every block after it.
        if tag not in _VOID_TAGS:
            self.handle_endtag(tag)

    def handle_endtag(self, tag):
        if tag in SKIP_SUBTREE:
            if self.skip_depth:
                self.skip_depth -= 1
            return
        if self.skip_depth:
            return
        if tag == "figcaption" and self.cur is not None and self.figure_stack:
            cap = _WS_RE.sub(" ", "".join(self.cur_parts)).strip()
            if cap:
                self.figure_stack[-1].caption = cap
        if tag in BLOCK_TAGS:
            self._flush()
            if tag == "figure" and self.figure_stack:
                fig = self.figure_stack.pop()
                # the <figure>'s own block is discarded by _flush when the
                # element has no direct text — its img-alt/figcaption
                # caption would be lost (review-found). Transfer it to the
                # nearest emitted block inside the figure subtree, which
                # is what forms the region.
                if fig.caption and not fig.text:
                    for b in reversed(self.blocks):
                        if b.start < fig.start:
                            break
                        if b.is_figure and not b.caption:
                            b.caption = fig.caption
                            break
        # pop matching frame (lenient to tag soup); well-formed HTML always
        # hits the top-of-stack fast path. anchor_depth is maintained AT
        # the pop so an unclosed <a> swept away by an outer close tag
        # releases its anchor state — the old explicit decrement on
        # </a> alone leaked anchor_depth forever on tag soup and rejected
        # every later block as a link farm (review-found).
        stack = self.stack
        if stack:
            if stack[-1].tag == tag:
                if tag == "a" and self.anchor_depth:
                    self.anchor_depth -= 1
                stack.pop()
            else:
                for i in range(len(stack) - 2, -1, -1):
                    if stack[i].tag == tag:
                        swept_a = sum(1 for f in stack[i:] if f.tag == "a")
                        if swept_a:
                            self.anchor_depth = max(
                                0, self.anchor_depth - swept_a
                            )
                        del stack[i:]
                        break

    def handle_data(self, data):
        if self.skip_depth or not data:
            return
        if self.cur is None:
            if not data.strip():
                return
            # bare text outside any block tag: synthesize an implicit block
            frame = self.stack[-1] if self.stack else _Frame(
                "body", "body[1]", "", False, False, False
            )
            self._open_block(frame.tag if frame.tag in BLOCK_TAGS else "div", frame)
        self.cur_parts.append(data)
        self.cur.n_text_nodes += 1
        if self.anchor_depth:
            # len(" ".join(split())) == len(_WS_RE.sub(" ", ...).strip()):
            # both collapse \s+ runs to one space and drop the ends
            parts = data.split()
            self.cur.n_anchor_chars += (
                sum(map(len, parts)) + len(parts) - 1 if parts else 0
            )

    def close(self):
        super().close()
        self._flush()


def segment_blocks(html_text: str, engine: str = "fast") -> list[Block]:
    """Parse page text into document-ordered candidate blocks.

    ``engine``: "fast" (regex tokenizer, kernel/fast_html.py — default) or
    "stdlib" (html.parser). Both drive the same handlers; equivalence is
    enforced by tests/test_fast_html_equivalence.py.
    """
    p = _BlockParser()
    try:
        if engine == "fast":
            from .fast_html import tokenize_into

            tokenize_into(p, html_text)
            p._flush()
        else:
            p.feed(html_text)
            p.close()
    except Exception:
        # tag-soup repair analogue (reference deskew N3): parsers are
        # lenient, but guard hard failures — salvage what was parsed.
        p._flush()
    return p.blocks
