"""Pure-Python references the benchmark checks the program's outputs
against. Nothing here imports the package: each definition is written
from the documented contract, so a regression in the engine cannot also
move its own reference.

- triple precision/recall against the fixture goldens (kg_curate);
- the ingest gate (stopword-vote language, token count, digit ratio),
  the exact-dedup fingerprint and exact character-5-gram jaccard, with
  an exact all-pairs join at a jaccard threshold (kg_curate and
  stream_ingest).
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict
from decimal import ROUND_HALF_UP, Decimal

# Spark's regex class \s (java.util.regex, ASCII): [ \t\n\x0B\f\r]
_WS = re.compile(r"[ \t\n\x0b\f\r]+")
_DIGIT = re.compile(r"[0-9]")

STOPWORDS = {
    "en": {"the", "of", "and", "to", "in", "a", "is", "that", "for", "it"},
    "es": {"el", "la", "de", "que", "y", "en", "un", "es", "se", "no"},
    "fr": {"le", "la", "de", "et", "les", "des", "en", "un", "du", "une"},
}


def precision_recall(got: set, gold: set) -> tuple[float, float]:
    tp = len(got & gold)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(gold) if gold else 0.0
    return precision, recall


def normalize(text: str) -> str:
    """lower, trim spaces, collapse whitespace runs to one space."""
    return _WS.sub(" ", text.lower().strip(" "))


def fingerprint(text: str) -> str:
    """Exact-dedup key: md5 hex of the normalized text."""
    return hashlib.md5(normalize(text).encode("utf-8")).hexdigest()


def passes_gate(
    text: str,
    allowed_langs: tuple[str, ...] = ("en",),
    min_tokens: int = 5,
    max_digit_ratio: float = 0.3,
) -> bool:
    """The curation gate: predicted language (most stopword hits; a tie
    goes to the lexicographically largest code) in ``allowed_langs``,
    at least ``min_tokens`` whitespace tokens, and a digit share (rounded
    half-up to 4 places) at most ``max_digit_ratio``."""
    tokens = _WS.split(text.strip(" "))
    lowered = [t.lower() for t in tokens]
    lang = max(
        (sum(t in words for t in lowered), code) for code, words in STOPWORDS.items()
    )[1]
    ratio = Decimal(len(_DIGIT.findall(text))) / Decimal(max(len(text), 1))
    ratio = ratio.quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
    return (
        lang in allowed_langs
        and len(tokens) >= min_tokens
        and ratio <= Decimal(str(max_digit_ratio))
    )


def shingles(text: str, n: int = 5) -> frozenset[str]:
    """Distinct character n-grams of the normalized text; a text shorter
    than n is its own single shingle."""
    t = normalize(text)
    if len(t) < n:
        return frozenset([t])
    return frozenset(t[i : i + n] for i in range(len(t) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


def near_pairs(sets: dict[str, frozenset], threshold: float) -> set[tuple[str, str]]:
    """Every pair (a, b), a < b, whose jaccard is at or above
    ``threshold``: exact, by prefix filtering. Tokens are ordered
    rarest first; two sets that reach the threshold share a token
    within each one's first ``|x| - ceil(threshold * |x|) + 1`` tokens,
    and their sizes lie within a factor ``threshold`` of each other.
    Every candidate pair is verified with the exact jaccard."""
    df = Counter(t for v in sets.values() for t in v)
    rank = {t: r for r, (t, _) in enumerate(sorted(df.items(), key=lambda kv: (kv[1], kv[0])))}
    size = {k: len(v) for k, v in sets.items()}
    index: dict[int, list[str]] = defaultdict(list)
    out = set()
    # shortest first: the index then holds only sets no longer than this one
    for a in sorted(sets, key=lambda k: (size[k], k)):
        toks = sorted(rank[t] for t in sets[a])
        cands: set[str] = set()
        for t in toks[: size[a] - math.ceil(threshold * size[a]) + 1]:
            cands.update(index[t])
            index[t].append(a)
        for b in cands:
            if size[b] >= threshold * size[a] and jaccard(sets[a], sets[b]) >= threshold:
                out.add((min(a, b), max(a, b)))
    return out
