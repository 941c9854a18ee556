"""Text-quality scorer — byte-parity port of reference
internal/quality/quality.go:25-398.

Scores extracted text in [0,1]; ``needs_ocr`` below 0.50, ``maybe_ocr``
below 0.70 (quality.go:176-177). All thresholds, penalties and bonuses
are the reference's exactly. Where the Go code indexes string BYTES
(``trimmed[1] == '.'``, ``len(s) < 5``, ``len(text) > 100``) we encode
to UTF-8 and use byte semantics to match.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from . import runes


@dataclass
class Decision:
    quality: float
    needs_ocr: bool
    maybe_ocr: bool = False
    reasons: list[str] = field(default_factory=list)
    word_count: int = 0


def count_words(s: str) -> int:
    """quality.go:17-23 — TrimSpace then strings.Fields (Unicode ws)."""
    s = runes.trim_space(s)
    if s == "":
        return 0
    return len(runes.fields(s))


def _normalize(s: str) -> str:
    """quality.go:188-208."""
    s = s.replace("\r\n", "\n").replace("\r", "\n")
    lines = s.split("\n")
    lines = [" ".join(runes.fields(line)) for line in lines]
    s = "\n".join(lines)
    while "\n\n\n\n" in s:
        s = s.replace("\n\n\n\n", "\n\n")
    return runes.trim_space(s)


def _split_lines(s: str) -> list[str]:
    """quality.go:210-223 — trimmed non-empty lines."""
    if runes.trim_space(s) == "":
        return []
    out = []
    for ln in s.split("\n"):
        ln = runes.trim_space(ln)
        if ln != "":
            out.append(ln)
    return out


def _line_stats(lines: list[str]) -> tuple[float, float]:
    """quality.go:225-242 — avg rune length, ratio of lines < 15 runes."""
    if not lines:
        return 0.0, 0.0
    short = 0
    total = 0
    for ln in lines:
        n = len(ln)
        total += n
        if n < 15:
            short += 1
    return total / len(lines), short / len(lines)


def _unique_word_ratio(s: str) -> float:
    """quality.go:244-254."""
    ws = runes.fields(s.lower())
    if not ws:
        return 0.0
    return len(set(ws)) / len(ws)


def _has_repeated_char_patterns(s: str) -> bool:
    """quality.go:256-278 — 5+ consecutive identical runes (byte-length
    guard on the input, as in Go)."""
    if len(s.encode("utf-8")) < 5:
        return False
    consecutive = 1
    last = None
    for ch in s:
        if ch == last:
            consecutive += 1
            if consecutive >= 5:
                return True
        else:
            consecutive = 1
            last = ch
    return False


def _scrambled_ratio(s: str) -> float:
    """quality.go:280-296 — fraction of single-rune words."""
    words = runes.fields(s)
    if not words:
        return 0.0
    single = sum(1 for w in words if len(w) == 1)
    return single / len(words)


_BULLET_FIRST = frozenset("•◦▪–-")


def _bullet_ratio(lines: list[str]) -> float:
    """quality.go:331-363 — note the Go byte-index semantics: the '.'
    check reads BYTE 1 of the trimmed line."""
    if not lines:
        return 0.0
    bullets = 0
    for line in lines:
        trimmed = runes.trim_space(line)
        if not trimmed:
            continue
        first = trimmed[0]
        if first in _BULLET_FIRST:
            bullets += 1
            continue
        tb = trimmed.encode("utf-8")
        if len(tb) > 2 and runes.is_digit(first) and tb[1] == 0x2E:
            bullets += 1
            continue
        if len(tb) > 2 and runes.is_letter(first) and tb[1] == 0x2E:
            bullets += 1
    return bullets / len(lines)


_MATH_SYMBOLS = [
    "=", "≈", "≠", "±", "×", "÷", "∑",
    "∫", "∂", "√",
    "α", "β", "γ", "θ", "λ", "π", "σ",
    "Δ", "Ω",
    "∈", "∉", "⊂", "⊃", "∪", "∩", "∀",
    "∃",
]


def _has_equation_like(text: str) -> bool:
    """quality.go:366-398 — byte-length thresholds as in Go."""
    count = 0
    for sym in _MATH_SYMBOLS:
        if sym in text:
            count += 1
            if count >= 3:
                return True
    nbytes = len(text.encode("utf-8"))
    if nbytes > 100 and text.count("=") > 5:
        return True
    braces = text.count("{") + text.count("[") + text.count("(")
    if nbytes > 100 and braces > 10:
        return True
    return False


def score(text: str, min_words: int) -> Decision:
    """quality.go:25-186 — the weighted-penalty scorer."""
    clean = _normalize(text)
    wc = count_words(clean)

    total = float(len(clean))
    if total == 0:
        return Decision(quality=0.0, needs_ocr=True, maybe_ocr=False,
                        reasons=["empty_text"], word_count=0)

    # Single pass over the text for all five char-class counters (the
    # scorer is on the per-page hot path).
    n_alpha = n_digit = n_punct = n_space = n_garbage = 0
    _is_letter = runes.is_letter
    _is_digit = runes.is_digit
    _is_punct = runes.is_punct
    _ws = runes.WS_SET
    _is_ctrl = runes.is_control
    for ch in clean:
        if _is_letter(ch):
            n_alpha += 1
        elif _is_digit(ch):
            n_digit += 1
        elif _is_punct(ch):
            n_punct += 1
        if ch in _ws:
            n_space += 1
        if ch == "�" or (_is_ctrl(ch) and ch not in "\n\t"):
            n_garbage += 1
    alpha = float(n_alpha)
    digits = float(n_digit)
    punct = float(n_punct)
    spaces = float(n_space)
    garbage = float(n_garbage)

    alpha_ratio = alpha / total
    digit_ratio = digits / total
    punct_ratio = punct / total
    space_ratio = spaces / total
    garbage_ratio = garbage / total

    lines = _split_lines(clean)
    line_count = len(lines)
    avg_line_len, short_line_ratio = _line_stats(lines)

    unique_word_ratio = _unique_word_ratio(clean)
    repeated_chars = _has_repeated_char_patterns(clean)
    scrambled_ratio = _scrambled_ratio(clean)

    bullet_ratio = _bullet_ratio(lines)
    has_equations = _has_equation_like(clean)

    s = 1.0
    reasons: list[str] = []

    if wc < min_words:
        penalty = 0.45
        if wc < min_words // 2:
            penalty = 0.60
        if bullet_ratio > 0.3 or has_equations:
            penalty *= 0.5
        s -= penalty
        reasons.append("low_word_count")

    if alpha_ratio < 0.25:
        penalty = 0.35
        if alpha_ratio < 0.15:
            penalty = 0.50
        if digit_ratio > 0.20:
            penalty *= 0.6
        s -= penalty
        reasons.append("low_alpha_ratio")

    if garbage_ratio > 0.01:
        s -= min(0.50, garbage_ratio * 50)
        reasons.append("garbage_chars")

    if line_count > 0 and short_line_ratio > 0.75 and avg_line_len < 12 \
            and alpha_ratio < 0.40:
        s -= 0.25
        reasons.append("fragmented_lines")

    if wc > 50 and unique_word_ratio < 0.20:
        s -= 0.15
        reasons.append("low_unique_words")

    if repeated_chars:
        s -= 0.20
        reasons.append("repeated_patterns")

    if scrambled_ratio > 0.30:
        s -= 0.25
        reasons.append("scrambled_text")

    if punct_ratio > 0.50 and alpha_ratio < 0.20:
        s -= 0.20
        reasons.append("excessive_punctuation")

    if space_ratio > 0.60 or (wc > 10 and space_ratio < 0.05):
        s -= 0.15
        reasons.append("abnormal_spacing")

    if digit_ratio > 0.25 and alpha_ratio > 0.15 and wc >= min_words // 2:
        s += 0.10
        reasons.append("numeric_heavy")

    if alpha_ratio > 0.60 and wc >= min_words and unique_word_ratio > 0.30:
        s += 0.10
        reasons.append("good_prose")

    if bullet_ratio > 0.2 or has_equations:
        s += 0.15
        reasons.append("structured_content")

    if alpha_ratio > 0.40 and digit_ratio > 0.10 and wc >= min_words:
        s += 0.10
        reasons.append("mixed_content")

    s = max(0.0, min(1.0, s))

    needs = s < 0.50
    maybe = (not needs) and s < 0.70

    return Decision(quality=s, needs_ocr=needs, maybe_ocr=maybe,
                    reasons=reasons, word_count=wc)
