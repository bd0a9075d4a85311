"""Extractor A — text/link-density heuristic boilerplate scoring.

Web graft of the reference's text-likeness rejection filter
(``/root/reference/utils/image/layout/filters/text_filter.py:100-275
candidate_diagnostics`` + ``:366-400 _legacy_rejection_reason`` +
``:402-454 text_like_metrics``): a candidate is scored on several
independent features, each failure appends a named rejection reason, and
the verdict is accept/reject plus a confidence. Pixel features (ink
density, component stats, projection regularity) become text features
(text length, link density, stopword ratio, punctuation ratio, sibling-link
farm shape). Size/aspect pre-gates (``text_filter.py:166-171``) become
length pre-gates.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from .html_blocks import Block

# Public-corpus English stopwords (short list is enough for density scoring).
STOPWORDS = frozenset(
    "the a an and or but of to in on for with at by from as is are was were "
    "be been it its this that these those he she they we you i not no do "
    "does did have has had will would can could should may might their there "
    "his her our your my".split()
)

_WORD_RE = re.compile(r"[A-Za-z']+")
_PUNCT_RE = re.compile(r"[^\w\s]", re.UNICODE)
_JA_RE = re.compile(r"[぀-ヿ㐀-䶿一-鿿･-ﾟ]")

# Boilerplate phrase markers (web analogue of typewriter-artifact indicator
# regexes, ocr/postprocessor.py:243-257).
BOILER_PHRASES_RE = re.compile(
    r"(?:accept (?:all )?cookies|cookie (?:policy|settings)|skip to "
    r"(?:main )?content|all rights reserved|privacy policy|terms of "
    r"(?:use|service)|sign (?:in|up)|subscribe to our|©|&copy;)",
    re.IGNORECASE,
)

MIN_BLOCK_CHARS = 3          # size pre-gate (text_filter.py:166-171 analogue)

# every BOILER_PHRASES_RE alternative contains one of these substrings —
# C-level scans of the (already lowered) text gate the regex
_BOILER_GUARDS = ("cookie", "skip to", "rights reserved", "privacy",
                  "terms of", "sign ", "subscribe", "©", "&copy;")


@dataclass(slots=True)
class Verdict:
    """Per-block accept/reject decision with diagnostics."""

    accept: bool
    confidence: float
    reasons: tuple[str, ...] = ()
    score: float = 0.0


# punct chars counted by C-level translate-delete on ASCII text: the table
# deletes every ASCII ordinal the punct regex does NOT match, so
# len(translate(...)) == len(findall(...)) by construction
_ASCII_NONPUNCT_DEL = {
    i: None for i in range(128) if not _PUNCT_RE.match(chr(i))
}


def _raw_features(text: str, lowered: str, is_ascii: bool):
    """Shared counting core: (n, n_words, n_stop, word_chars, n_punct, n_ja)."""
    n = len(text)
    words = _WORD_RE.findall(lowered)
    n_words = len(words)
    n_stop = sum(map(STOPWORDS.__contains__, words)) if n_words else 0
    word_chars = sum(map(len, words)) if n_words else 0
    if is_ascii:
        n_punct = len(text.translate(_ASCII_NONPUNCT_DEL))
        n_ja = 0          # ja class is entirely non-ASCII
    else:
        n_punct = len(_PUNCT_RE.findall(text))
        n_ja = len(_JA_RE.findall(text))
    return n, n_words, n_stop, word_chars, n_punct, n_ja


def _boiler_phrase(text: str, lowered: str) -> bool:
    return bool(
        any(g in lowered for g in _BOILER_GUARDS)
        and BOILER_PHRASES_RE.search(text)
    )


def score_block(b: Block) -> Verdict:
    """Accept/reject one block by density features.

    Mirrors the reference's reject-with-reason style: every failed rule
    appends a reason; acceptance requires no hard-reject rule fired.
    """
    text = b.text
    if len(text) < MIN_BLOCK_CHARS:         # pre-gate before feature work
        return Verdict(False, 0.95, ("too_short",))
    lowered = text.lower()
    n, n_words, n_stop, _wc, n_punct, n_ja = _raw_features(
        text, lowered, text.isascii()
    )
    link_density = b.link_density
    stopword_ratio = (n_stop / n_words) if n_words else 0.0
    punct_ratio = (n_punct / n) if n else 0.0
    ja_ratio = (n_ja / n) if n else 0.0
    reasons: list[str] = []

    # hard rejections (density analogues of text_filter hard rules)
    if link_density > 0.66:
        reasons.append("link_farm")
    if n < 200 and _boiler_phrase(text, lowered):
        reasons.append("boilerplate_phrase")
    if punct_ratio > 0.5 and ja_ratio < 0.05:
        reasons.append("punct_noise")
    if n_words == 0 and ja_ratio < 0.05:
        reasons.append("no_words")

    # additive content score (weights mirror _candidate_scores structure,
    # text_filter.py:464-555: several bounded feature terms summed)
    score = 0.0
    score += min(n / 200.0, 1.0) * 0.35
    score += (1.0 - min(link_density / 0.66, 1.0)) * 0.30
    content_lang = max(stopword_ratio, ja_ratio * 2.0)
    score += min(content_lang / 0.4, 1.0) * 0.25
    score += (1.0 - min(punct_ratio / 0.5, 1.0)) * 0.10

    if reasons:
        return Verdict(False, min(0.5 + 0.1 * len(reasons), 0.95),
                       tuple(reasons), round(score, 6))
    # soft threshold: short low-signal blocks rejected unless heading/list
    if score < 0.35 and not (b.is_heading or b.is_list_item):
        return Verdict(False, 0.6, ("low_density_score",), round(score, 6))
    return Verdict(True, min(0.5 + score / 2.0, 0.99), (), round(score, 6))
