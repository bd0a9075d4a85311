"""Terminology extraction + macron-normalization candidates.

* Terminology join (J4): the reference scans text against a built-in
  Japanese martial-arts dictionary, emitting every occurrence with position
  and context (``/root/reference/src/martial_arts_ocr/japanese/processor.py:
  1099-1129``; dictionary ``utils/text/text_utils.py:445-537``). In Spark
  this becomes a broadcast-join against the exploded token table; inside the
  kernel it is a longest-match-first scan.

* Macron candidates (J5): review-only normalization suggestions — romaji
  variants missing macrons ("Daito-ryu" → "Daitō-ryū") matched with
  word-boundary regexes, deduplicated by (span, observed, candidate),
  ambiguous when one span maps to 2+ canonicals; never mutates text
  (``utils/text/macron_candidates.py:114-217``).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

# Dictionary of Japanese martial-arts terms (standard vocabulary, public
# knowledge; same coverage areas as text_utils.py:445-537). kanji →
# (romaji, english, category). Longest-match-first scan disambiguates
# overlaps (空手道 before 空手 before 手).
TERM_DICT: dict[str, tuple[str, str, str]] = {
    "空手道": ("karate-dō", "way of karate", "martial_arts"),
    "合気道": ("aikidō", "aikido", "martial_arts"),
    "居合道": ("iaidō", "iaido", "martial_arts"),
    "武士道": ("bushidō", "way of the warrior", "philosophy"),
    "武道": ("budō", "martial way", "martial_arts"),
    "武術": ("bujutsu", "martial art", "martial_arts"),
    "空手": ("karate", "karate", "martial_arts"),
    "柔道": ("jūdō", "judo", "martial_arts"),
    "剣道": ("kendō", "kendo", "martial_arts"),
    "柔術": ("jūjutsu", "jujutsu", "martial_arts"),
    "乱取り": ("randori", "free practice", "training"),
    "組手": ("kumite", "sparring", "training"),
    "稽古": ("keiko", "practice", "training"),
    "練習": ("renshū", "practice", "training"),
    "道場": ("dōjō", "dojo", "place"),
    "先生": ("sensei", "teacher", "person"),
    "師範": ("shihan", "master instructor", "person"),
    "弟子": ("deshi", "student", "person"),
    "黒帯": ("kuro-obi", "black belt", "rank"),
    "免許": ("menkyo", "license", "rank"),
    "礼儀": ("reigi", "etiquette", "etiquette"),
    "木刀": ("bokutō", "wooden sword", "weapon"),
    "竹刀": ("shinai", "bamboo sword", "weapon"),
    "薙刀": ("naginata", "naginata", "weapon"),
    "道着": ("dōgi", "practice uniform", "clothing"),
    "着物": ("kimono", "kimono", "clothing"),
    "武士": ("bushi", "warrior", "historical"),
    "忍者": ("ninja", "ninja", "historical"),
    "浪人": ("rōnin", "masterless samurai", "historical"),
    "将軍": ("shōgun", "shogun", "historical"),
    "大名": ("daimyō", "feudal lord", "historical"),
    "投げ": ("nage", "throw", "technique"),
    "蹴り": ("keri", "kick", "technique"),
    "突き": ("tsuki", "thrust", "technique"),
    "研究": ("kenkyū", "research", "academic"),
    "歴史": ("rekishi", "history", "academic"),
    "文化": ("bunka", "culture", "academic"),
    "伝統": ("dentō", "tradition", "academic"),
    "型": ("kata", "form", "training"),
    "形": ("kata", "form", "training"),
    "段": ("dan", "dan rank", "rank"),
    "級": ("kyū", "kyu grade", "rank"),
    "帯": ("obi", "belt", "rank"),
    "侍": ("samurai", "samurai", "historical"),
    "刀": ("katana", "sword", "weapon"),
    "剣": ("ken", "sword", "weapon"),
    "技": ("waza", "technique", "technique"),
    "流": ("ryū", "school/style", "school"),
    "派": ("ha", "faction/group", "school"),
    "心": ("kokoro", "heart/mind", "philosophy"),
    "気": ("ki", "spirit/energy", "philosophy"),
    "和": ("wa", "harmony", "philosophy"),
    "礼": ("rei", "bow/respect", "etiquette"),
    "杖": ("jō", "staff", "weapon"),
    "棒": ("bō", "staff", "weapon"),
    "袴": ("hakama", "hakama", "clothing"),
    "手": ("te", "hand", "body"),
    "足": ("ashi", "foot/leg", "body"),
    "腰": ("koshi", "hip/waist", "body"),
    "肩": ("kata", "shoulder", "body"),
    "生徒": ("seito", "student", "person"),
    "道衣": ("dōi", "practice jacket", "clothing"),
    "古典": ("koten", "classical", "academic"),
    "現代": ("gendai", "modern", "academic"),
}

# terms sorted longest-first; one alternation regex gives the same
# longest-match-first semantics as a per-position length-descending scan
# (Python re picks the first matching alternative at each position).
_TERMS_BY_LEN = sorted(TERM_DICT, key=lambda t: (-len(t), t))
_TERMS_RE = re.compile("|".join(re.escape(t) for t in _TERMS_BY_LEN))


@dataclass(frozen=True)
class TermHit:
    term: str
    romaji: str
    translation: str
    category: str
    pos: int


def overall_translation(segment_texts: list[str]) -> str:
    """L7/L8 (japanese/processor.py:860-1008, 1041-1067): per-segment
    dictionary translation joined with spaces; untranslated segments keep
    their original text (the reference's offline degradation — Argos is
    absent there and here). A segment translates only when it is exactly a
    dictionary term."""
    parts = []
    for t in segment_texts:
        info = TERM_DICT.get(t)
        parts.append(info[1] if info else t)
    return " ".join(p for p in parts if p)


def extract_terms(text: str) -> list[TermHit]:
    """Longest-match-first dictionary scan; all non-overlapping occurrences
    with positions (J4, japanese/processor.py:1099-1129)."""
    hits: list[TermHit] = []
    for m in _TERMS_RE.finditer(text):
        term = m.group(0)
        r, tr, cat = TERM_DICT[term]
        hits.append(TermHit(term, r, tr, cat, m.start()))
    return hits


# ---------------------------------------------------------------------------
# Macron candidates (J5)
# ---------------------------------------------------------------------------

# canonical → plain-ascii variants (macron dropped / hyphen-space variants),
# standard romanization variants of common terms
# (same shape as macron_candidates.py:57-111 DEFAULT_GLOSSARY).
MACRON_GLOSSARY: dict[str, tuple[str, ...]] = {
    "koryū": ("koryu",),
    "budō": ("budo",),
    "Daitō-ryū": ("Daito-ryu", "Daito ryu", "Daitoryu", "Daitō ryu"),
    "jūjutsu": ("jujutsu", "ju-jutsu"),
    "dōjō": ("dojo",),
    "ryūha": ("ryuha",),
    "sōke": ("soke",),
    "iaidō": ("iaido",),
    "aikijūjutsu": ("aikijujutsu", "aiki-jujutsu"),
    "jūdō": ("judo",),
    "kendō": ("kendo",),
    "sensei": (),
}


@dataclass(frozen=True)
class MacronCandidate:
    observed: str
    candidate: str
    start: int
    end: int
    context: str
    ambiguous: bool = False


# one combined alternation (longest variants first so e.g. "Daito ryu"
# wins over a hypothetical shorter prefix); variant→canonicals resolved by
# case-folded lookup — a variant may map to 2+ canonicals, which is what
# the ambiguity flag marks. 17 separate scans → 1 (14% of kernel → ~1%).
_VARIANT_TO_CANONICALS: dict[str, tuple[str, ...]] = {}
for _canonical, _variants in sorted(MACRON_GLOSSARY.items()):
    for _v in _variants:
        key = _v.lower()
        _VARIANT_TO_CANONICALS[key] = _VARIANT_TO_CANONICALS.get(key, ()) + (
            _canonical,
        )
_ALL_VARIANTS_RE = re.compile(
    r"(?<![A-Za-zÀ-ž])(?:"
    + "|".join(
        re.escape(v)
        for v in sorted(_VARIANT_TO_CANONICALS, key=lambda v: (-len(v), v))
    )
    + r")(?![A-Za-zÀ-ž])",
    re.IGNORECASE,
)
# case-sensitive twin, scanned over text.lower(): equivalent matches (the
# variants are already lowercase) without the regex engine's per-char case
# folding. Used only when len(lower) == len(text) — then every char lowers
# 1:1 (each lowers to ≥1 chars, total equal ⇒ each exactly 1), so match
# spans on the lowered string index the original string directly.
_ALL_VARIANTS_CS_RE = re.compile(_ALL_VARIANTS_RE.pattern)

_CONTEXT_CHARS = 32

# cheap C-scan gate: every variant contains one of these substrings
# (case-folded), so a doc without any cannot produce a candidate
_VARIANT_GUARDS = tuple({v.lower()[:5] for v in _VARIANT_TO_CANONICALS})


def find_macron_candidates(text: str) -> list[MacronCandidate]:
    """Span-anchored, deduplicated, ambiguity-marked suggestions; never
    mutates text (macron_candidates.py:114-217 semantics)."""
    lowered = text.lower()
    if not any(g in lowered for g in _VARIANT_GUARDS):
        return []
    raw: list[MacronCandidate] = []
    if len(lowered) == len(text):
        # offsets align 1:1 (see _ALL_VARIANTS_CS_RE note) — scan the
        # lowered text case-sensitively, slice spans from the original
        matches = ((text[m.start():m.end()], m)
                   for m in _ALL_VARIANTS_CS_RE.finditer(lowered))
    else:
        matches = ((m.group(0), m) for m in _ALL_VARIANTS_RE.finditer(text))
    for observed, m in matches:
        for canonical in _VARIANT_TO_CANONICALS.get(observed.lower(), ()):
            if observed == canonical:
                continue
            lo = max(0, m.start() - _CONTEXT_CHARS)
            hi = min(len(text), m.end() + _CONTEXT_CHARS)
            raw.append(MacronCandidate(
                observed, canonical, m.start(), m.end(), text[lo:hi]
            ))
    # dedup by (span, observed, candidate); stable order by (start, end, cand)
    seen: set[tuple] = set()
    deduped: list[MacronCandidate] = []
    for c in sorted(raw, key=lambda c: (c.start, c.end, c.candidate)):
        key = (c.start, c.end, c.observed, c.candidate)
        if key not in seen:
            seen.add(key)
            deduped.append(c)
    # ambiguity: same span → 2+ distinct canonicals
    span_counts: dict[tuple[int, int], set[str]] = {}
    for c in deduped:
        span_counts.setdefault((c.start, c.end), set()).add(c.candidate)
    return [
        MacronCandidate(c.observed, c.candidate, c.start, c.end, c.context,
                        len(span_counts[(c.start, c.end)]) > 1)
        for c in deduped
    ]
