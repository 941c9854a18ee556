"""Go-compatible rune classification and string helpers.

The reference engine is Go; several of its classifications differ from
Python's str methods on edge codepoints, so we implement explicit
character-class tables instead of using ``str.isalpha``/``isdigit``/
``isspace`` (SURVEY.md §7 hard-part 1):

- ``unicode.IsLetter``  -> Unicode general category L* (Python isalpha
  matches, but we pin via unicodedata to be explicit).
- ``unicode.IsDigit``   -> category Nd ONLY (Python ``str.isdigit`` also
  accepts No/superscripts — deliberately not used).
- ``unicode.IsPunct``   -> category P*.
- ``unicode.IsSpace``   -> the Unicode White_Space property (Python
  ``str.isspace`` additionally accepts U+001C..001F — not used).
- ``unicode.IsControl`` -> category Cc only.
- ``strings.Fields``    -> split on White_Space runs.
- ``strings.TrimSpace`` -> trim White_Space (NOT Python ``str.strip``).
- ``extract.BuildCounts`` (reference internal/extract/result.go:32-50)
  -> word split on EXACTLY {' ', '\\n', '\\t', '\\r'}; char count =
  Unicode codepoints.
"""

from __future__ import annotations

import unicodedata

# Unicode White_Space property (= Go unicode.IsSpace): the full fixed
# codepoint set (Zs/Zl/Zp categories + the non-Z whitespace controls).
WS_SET = frozenset(
    "\t\n\v\f\r \x85\xa0 "
    "          "
    "     　"
)

# Hot path: per-char unicodedata.category calls dominate kernel time,
# so precompute the general-category initial for ASCII (plus an exact
# Nd flag) once at import; non-ASCII falls back to unicodedata.
_ASCII_CAT = [unicodedata.category(chr(c)) for c in range(128)]
_ASCII_LETTER = [c[0] == "L" for c in _ASCII_CAT]
_ASCII_DIGIT = [c == "Nd" for c in _ASCII_CAT]
_ASCII_PUNCT = [c[0] == "P" for c in _ASCII_CAT]


# C-level helpers built from the verified set: str.strip(chars) /
# str.translate are exact over an explicit character set, unlike
# str.split()/str.strip() whose default whitespace includes
# U+001C..001F (not White_Space).
_WS_STR = "".join(sorted(WS_SET))
_WS_TO_SPACE = {ord(c): " " for c in WS_SET}


def is_letter(ch: str) -> bool:
    o = ord(ch)
    if o < 128:
        return _ASCII_LETTER[o]
    return unicodedata.category(ch)[0] == "L"


def is_digit(ch: str) -> bool:
    o = ord(ch)
    if o < 128:
        return _ASCII_DIGIT[o]
    return unicodedata.category(ch) == "Nd"


def is_punct(ch: str) -> bool:
    o = ord(ch)
    if o < 128:
        return _ASCII_PUNCT[o]
    return unicodedata.category(ch)[0] == "P"


def is_control(ch: str) -> bool:
    o = ord(ch)
    if o < 128:
        return o < 0x20 or o == 0x7F
    return unicodedata.category(ch) == "Cc"


def fields(s: str) -> list[str]:
    """Go strings.Fields: split around runs of White_Space.

    Fast path: pure-ASCII-whitespace text splits directly; otherwise
    map every White_Space char to ' ' first (C-level translate) so
    the split set is exactly White_Space.
    """
    if s.isascii():
        # ASCII ∩ White_Space = {\t,\n,\v,\f,\r,space} = str.split()'s
        # ASCII behavior minus \x1c-\x1f, which we must not split on.
        if "\x1c" in s or "\x1d" in s or "\x1e" in s or "\x1f" in s:
            return list(filter(None, s.translate(_WS_TO_SPACE).split(" ")))
        return s.split()
    return list(filter(None, s.translate(_WS_TO_SPACE).split(" ")))


def trim_space(s: str) -> str:
    """Go strings.TrimSpace (Unicode White_Space on both ends)."""
    return s.strip(_WS_STR)


def trim_right(s: str, cutset: str) -> str:
    n = len(s)
    while n > 0 and s[n - 1] in cutset:
        n -= 1
    return s[:n]


def trim_left(s: str, cutset: str) -> str:
    i = 0
    while i < len(s) and s[i] in cutset:
        i += 1
    return s[i:]


_BC_TO_SPACE = {ord("\n"): " ", ord("\t"): " ", ord("\r"): " "}


def build_counts(text: str) -> tuple[int, int]:
    """Reference internal/extract/result.go:32-50.

    Word split on exactly {space, \\n, \\t, \\r} — deliberately NOT the
    Unicode-whitespace split used by quality.CountWords; char count is
    Unicode codepoints (Go len([]rune(text))). Implemented with
    C-level translate+split over exactly that 4-char set.
    """
    char_count = len(text)
    parts = text.translate(_BC_TO_SPACE).split(" ")
    word_count = len(parts) - parts.count("")
    return word_count, char_count


def go_quote(s: str) -> str:
    """Go %q / strconv.Quote — enough of it for the router's error
    message (no extractor registered for mime=%q extension=%q,
    reference internal/extract/registry.go:62)."""
    out = ['"']
    for ch in s:
        if ch == '"':
            out.append('\\"')
        elif ch == "\\":
            out.append("\\\\")
        elif ch == "\n":
            out.append("\\n")
        elif ch == "\t":
            out.append("\\t")
        elif ch == "\r":
            out.append("\\r")
        elif " " <= ch <= "~":
            out.append(ch)
        elif ord(ch) < 0x10000:
            out.append("\\u%04x" % ord(ch))
        else:
            out.append("\\U%08x" % ord(ch))
    out.append('"')
    return "".join(out)
