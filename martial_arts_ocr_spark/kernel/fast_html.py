"""Fast HTML tokenizer — drop-in driver for the block segmenter.

``html.parser``'s generic tokenizer is ~40% of kernel time. This module
tokenizes with one compiled regex and drives the SAME ``_BlockParser``
handlers (html_blocks.py), so all block/chrome/figure semantics live in
exactly one place. It is the default engine of ``segment_blocks``; the
stdlib path stays selectable with ``segment_blocks(..., engine="stdlib")``
as the reference that an A/B test over fixtures + fuzz corpora holds it
equal to (tests/test_fast_html_equivalence.py).

Behaviors replicated from html.parser (convert_charrefs=True):
* charrefs decoded in text data and attribute values;
* comments / CDATA / processing instructions / doctype skipped;
* ``<`` that does not open a valid construct is literal text;
* attribute parsing: double/single/unquoted values, valueless attrs.
"""

from __future__ import annotations

import re
from html import unescape

# start/end tag patterns; comments/CDATA/decls/PIs are handled by direct
# substring scans (first-char dispatch — see tokenize_into). Semantics are
# identical to the previous single-alternation token regex; equivalence with
# stdlib html.parser stays pinned by tests/test_fast_html_equivalence.py.
_OPEN_RE = re.compile(
    r"<([a-zA-Z][a-zA-Z0-9:._-]*)"
    # Narrower than html.parser on purpose — any reject falls to the exact
    # stdlib-tolerant mirror below, so narrowing is always equivalence-safe.
    # The attrs group is ATOMIC ((?>...)): stdlib's anchorless parse is
    # greedy with no give-back, while this regex's REQUIRED trailing '>'
    # would otherwise backtrack into attr decompositions stdlib never makes
    # (empty bare values, re-split attr boundaries — soak-found). Exclusions
    # beyond the stdlib classes close greedy-path mismatches:
    #   * attr names must not start with '/' or '=' ('<p />', '<g C =">"');
    #   * bare values must not start with a quote or '=' (unterminated
    #     quotes, '<D x==\'>\'').
    r"((?>(?:\s+[^<>\s\"'/=][^<>\s=/]*"
    r"(?:\s*=+\s*(?:\"[^\"]*\"|'[^']*'|(?!['\"=])[^\s>]*))?)*))"
    r"\s*(/)?>"
)
_CLOSE_RE = re.compile(r"</([a-zA-Z][a-zA-Z0-9:._-]*)\s*>")

_ATTR_RE = re.compile(
    r"([^<>\s\"'/][^<>\s=/]*)"
    r"(?:\s*=+\s*(?:\"([^\"]*)\"|'([^']*)'|((?!['\"])[^\s>]*)))?"
)

# only these attributes influence segmentation — skip attr parsing unless
# the raw attr string can contain one (cheap substring prefilter over the
# LOWERCASED raw string: html.parser lowercases attr names, so 'Class='
# must trigger parsing too — review-found parity bug, now fuzz-covered)
_INTERESTING = ("class", "id", "alt")

_RAWTEXT_END = {
    "script": re.compile(r"</script\s*>", re.I),
    "style": re.compile(r"</style\s*>", re.I),
}

# --- stdlib-tolerant fallback (html/parser.py:36-54,300-405 mirrors) --------
# The strict _OPEN_RE/_CLOSE_RE cover well-formed tags; when they fail on a
# `<letter` / `</` construct, html.parser still often recognizes a tag via
# its *_tolerant regexes (junk attrs `<A,>`, spaced close `</ p>`, ignored
# trailing junk `</p x>`). These mirrors keep the fast engine event-for-event
# identical on that tail; they are exact copies of the stdlib patterns.
_TAGFIND_TOL = re.compile(r"([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*")
_ATTRFIND_TOL = re.compile(
    r"((?<=[\'\"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*"
    r"(\'[^\']*\'|\"[^\"]*\"|(?![\'\"])[^>\s]*))?(?:\s|/(?!>))*"
)
_LOCATE_START_TOL = re.compile(
    r"<[a-zA-Z][^\t\n\r\f />\x00]*"
    r"(?:[\s/]*(?:(?<=['\"\s/])[^\s/>][^\s/=>]*"
    r"(?:\s*=+\s*(?:'[^']*'|\"[^\"]*\"|(?!['\"])[^>\s]*)\s*)?(?:\s|/(?!>))*)*)?"
    r"\s*"
)
_ENDTAGFIND_TOL = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
# comment / marked-section closers (_markupbase.py:12-18 exact copies)
_COMMENT_CLOSE = re.compile(r"--\s*>")
_MARKED_CLOSE = re.compile(r"]\s*]\s*>")
_MS_MARKED_CLOSE = re.compile(r"]\s*>")
_DECLNAME = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")


def _incomplete_at_eof(handler, html_text: str, i: int,
                       memo: dict | None = None) -> int:
    """goahead()'s k<0-with-end branch (html/parser.py:183-196): the
    construct can never complete — emit a data chunk and resume after it.

    ``memo`` (shared per tokenize_into call) records that a forward scan
    for '>' failed: the scan position only moves forward, so one failure
    means every later scan fails too. Without this, a flood of unclosed
    constructs ('<!--' * 500k) rescans the tail per occurrence — O(n²)
    on attacker-controlled input (html.parser itself has this flaw)."""
    if memo is not None and memo.get("no_gt"):
        k = -1
    else:
        k = html_text.find(">", i + 1)
        if k < 0 and memo is not None:
            memo["no_gt"] = True
    if k < 0:
        k = html_text.find("<", i + 1)
        if k < 0:
            k = i + 1
    else:
        k += 1
    data = html_text[i:k]
    handler.handle_data(unescape(data) if "&" in data else data)
    return k


def _tolerant_starttag(handler, html_text: str, i: int,
                       memo: dict | None = None) -> int:
    """parse_starttag + check_for_whole_start_tag mirror; returns new pos."""
    n = len(html_text)
    m = _LOCATE_START_TOL.match(html_text, i)
    j = m.end()
    nxt = html_text[j:j + 1]
    if nxt == ">":
        endpos = j + 1
    elif nxt == "/":
        if html_text.startswith("/>", j):
            endpos = j + 2
        else:
            return _incomplete_at_eof(handler, html_text, i, memo)
    elif nxt == "" or nxt in (
        "abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    ):
        return _incomplete_at_eof(handler, html_text, i, memo)
    else:
        endpos = j if j > i else i + 1

    tm = _TAGFIND_TOL.match(html_text, i + 1)
    tag = tm.group(1).lower()
    k = tm.end()
    attrs: list[tuple[str, str | None]] = []
    while k < endpos:
        am = _ATTRFIND_TOL.match(html_text, k)
        if not am:
            break
        attrname, rest, attrvalue = am.group(1, 2, 3)
        if not rest:
            attrvalue = None
        elif (attrvalue[:1] == "'" == attrvalue[-1:]
              or attrvalue[:1] == '"' == attrvalue[-1:]):
            attrvalue = attrvalue[1:-1]
        if attrvalue:
            attrvalue = unescape(attrvalue)
        attrs.append((attrname.lower(), attrvalue))
        k = am.end()
    end = html_text[k:endpos].strip()
    if end not in (">", "/>"):
        # junk start tag → raw data, NOT unescaped (parse_starttag:331)
        handler.handle_data(html_text[i:endpos])
        return endpos
    if end.endswith("/>"):
        handler.handle_startendtag(tag, attrs)
        return endpos
    handler.handle_starttag(tag, attrs)
    if tag in ("script", "style"):
        rem = _RAWTEXT_END[tag].search(html_text, endpos)
        if rem is None:
            handler.handle_endtag(tag)
            return n
        handler.handle_endtag(tag)
        return rem.end()
    return endpos


def _tolerant_endtag(handler, html_text: str, i: int,
                     memo: dict | None = None) -> int:
    """parse_endtag mirror for inputs _CLOSE_RE rejects; returns new pos."""
    if memo is not None and memo.get("no_gt"):
        gt = -1
    else:
        gt = html_text.find(">", i + 1)
        if gt < 0 and memo is not None:
            memo["no_gt"] = True
    if gt < 0:
        return _incomplete_at_eof(handler, html_text, i, memo)
    gtpos = gt + 1
    m = _ENDTAGFIND_TOL.match(html_text, i)
    if m is not None:
        handler.handle_endtag(m.group(1).lower())
        return gtpos
    nm = _TAGFIND_TOL.match(html_text, i + 2)
    if nm is None:
        if html_text.startswith("</>", i):
            return i + 3
        # bogus comment: dropped, consumed through the next '>'
        pos = html_text.find(">", i + 2)
        if pos == -1:
            return _incomplete_at_eof(handler, html_text, i, memo)
        return pos + 1
    handler.handle_endtag(nm.group(1).lower())
    # trailing junk between name and '>' is consumed and ignored
    return html_text.find(">", nm.end()) + 1


def _parse_attrs(raw: str) -> list[tuple[str, str | None]]:
    out = []
    for m in _ATTR_RE.finditer(raw):
        name = m.group(1).lower()
        val = m.group(2) or m.group(3) or m.group(4)
        if val is not None and "&" in val:
            val = unescape(val)
        out.append((name, val))
    return out


def tokenize_into(handler, html_text: str) -> None:
    """Feed start/end/data events into a _BlockParser-compatible handler."""
    pos = 0
    n = len(html_text)
    find = html_text.find
    handle_data = handler.handle_data
    handle_starttag = handler.handle_starttag
    handle_endtag = handler.handle_endtag
    open_match = _OPEN_RE.match
    close_match = _CLOSE_RE.match
    # forward-scan failure memo (see _incomplete_at_eof): a failed
    # tail-search can never succeed later, so each is recorded once —
    # keeps flood inputs ('<!--' * 500k) linear instead of quadratic
    memo: dict = {}
    while pos < n:
        lt = find("<", pos)
        if lt == -1:
            data = html_text[pos:]
            if data:
                handle_data(unescape(data) if "&" in data else data)
            break
        if lt > pos:
            data = html_text[pos:lt]
            handle_data(unescape(data) if "&" in data else data)
        c = html_text[lt + 1] if lt + 1 < n else ""
        if c.isalpha():                       # start tag
            if not ("a" <= c <= "z" or "A" <= c <= "Z"):
                # non-ASCII letter: html.parser treats '<' as literal text
                handle_data("<")
                pos = lt + 1
                continue
            m = open_match(html_text, lt)
            if m is None:
                # junk-tolerant tail (html.parser still sees a tag here)
                pos = _tolerant_starttag(handler, html_text, lt, memo)
                continue
            tag = m.group(1).lower()
            raw_attrs = m.group(2)
            if raw_attrs:
                ra = raw_attrs.lower()
                attrs = (
                    _parse_attrs(raw_attrs)
                    if any(k in ra for k in _INTERESTING)
                    else []
                )
            else:
                attrs = []
            if m.group(3):
                handler.handle_startendtag(tag, attrs)
            else:
                handle_starttag(tag, attrs)
                if tag in ("script", "style"):
                    # rawtext elements (html.parser CDATA mode): content is
                    # not tokenized; scan straight to the closing tag
                    end = _RAWTEXT_END[tag].search(html_text, m.end())
                    if end is None:
                        handle_endtag(tag)
                        break
                    handle_endtag(tag)
                    pos = end.end()
                    continue
            pos = m.end()
        elif c == "/":                        # end tag
            m = close_match(html_text, lt)
            if m is None:
                pos = _tolerant_endtag(handler, html_text, lt, memo)
                continue
            handle_endtag(m.group(1).lower())
            pos = m.end()
        elif c == "!":                        # comment / CDATA / decl
            if html_text.startswith("<!--", lt):
                m = (None if memo.get("no_comment_close")
                     else _COMMENT_CLOSE.search(html_text, lt + 4))
                if m is None:
                    memo["no_comment_close"] = True
                    # unterminated comment: goahead's recovery branch
                    pos = _incomplete_at_eof(handler, html_text, lt, memo)
                else:
                    pos = m.end()
            elif html_text.startswith("<![", lt):
                # _markupbase.parse_marked_section mirror (:141-162)
                if lt + 3 >= n:                 # _scan_name i==n → incomplete
                    pos = _incomplete_at_eof(handler, html_text, lt, memo)
                    continue
                nm = _DECLNAME.match(html_text, lt + 3)
                if nm is None:
                    # stdlib raises here; segment_blocks salvages the flush
                    raise AssertionError("unknown marked-section keyword")
                if nm.end() == n:
                    pos = _incomplete_at_eof(handler, html_text, lt, memo)
                    continue
                name = nm.group().strip().lower()
                if name in ("temp", "cdata", "ignore", "include", "rcdata"):
                    m = (None if memo.get("no_marked_close")
                         else _MARKED_CLOSE.search(html_text, lt + 3))
                    if m is None:
                        memo["no_marked_close"] = True
                elif name in ("if", "else", "endif"):
                    m = (None if memo.get("no_ms_marked_close")
                         else _MS_MARKED_CLOSE.search(html_text, lt + 3))
                    if m is None:
                        memo["no_ms_marked_close"] = True
                else:
                    raise AssertionError("unknown marked-section keyword")
                pos = (m.end() if m
                       else _incomplete_at_eof(handler, html_text, lt, memo))
            else:
                i = -1 if memo.get("no_gt") else find(">", lt + 2)
                if i == -1:                   # '<!' with no '>' → literal '<'
                    memo["no_gt"] = True
                    handle_data("<")
                    pos = lt + 1
                else:
                    pos = i + 1
        elif c == "?":                        # processing instruction
            i = -1 if memo.get("no_gt") else find(">", lt + 2)
            if i == -1:
                memo["no_gt"] = True
                handle_data("<")
                pos = lt + 1
            else:
                pos = i + 1
        else:                                 # literal '<'
            handle_data("<")
            pos = lt + 1
