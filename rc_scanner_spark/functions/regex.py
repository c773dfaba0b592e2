"""Multi-regex search as Catalyst expressions.

Reference semantics (filter_.py:110-112): apply each compiled Python
regex with ``re.search`` (unanchored) to the fetched text and return
the *sub-list of patterns that matched* — not a boolean.  The match
message needs to know which patterns hit (scanner.py:148-151).

Spark mapping: one ``rlike`` per pattern (each regex compiled once,
JVM-side, inside whole-stage codegen), concatenated into an array of
the pattern strings that hit.  The reference documents linear cost in
the number of patterns (examples/filterlist.py:27-29) — the same holds
here, but vectorized and parallel across partitions.

Python ``re`` flags are translated to Java-regex inline flags
(e.g. ``re.I`` -> ``(?i)``); Python-only constructs are rejected so a
bad pattern fails at query-build time, not per-row at run time.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# Python re flag -> Java inline-flag letter.  re.UNICODE maps to
# Java's (?U) = UNICODE_CHARACTER_CLASS (which also implies
# UNICODE_CASE): Python str patterns set UNICODE implicitly, so \w,
# \b, \d and (?i) case folding are Unicode-aware — Java defaults to
# ASCII classes, and silently dropping the flag (the old behavior)
# missed matches on any non-ASCII text.  Java's lowercase (?u) is only
# UNICODE_CASE and would NOT fix the character classes.
_FLAG_LETTERS = (
    (re.IGNORECASE, "i"),
    (re.MULTILINE, "m"),
    (re.DOTALL, "s"),
    (re.UNICODE, "U"),
    (re.VERBOSE, "x"),
)

# Constructs valid in Python re but not in java.util.regex.
_UNSUPPORTED = (
    r"(?P<",  # named group, Python syntax (Java uses (?<name>))
    r"(?P=",  # named back-reference
    r"(?#",   # comment group
    r"(?(",   # conditional group (?(id)yes|no) — Java has no equivalent
)

# Residual dialect gaps that are NOT detected (documented trade-off):
# - octal escapes: Python requires \0dd or a back-reference-ambiguous
#   \ddd; Java reads \0dd only — patterns relying on bare \ddd octals
#   already mean "back-reference" in both and are rare enough that we
#   pass them through;
# - atomic groups (?>...) and possessive quantifiers (a*+): Java-native
#   and Python >= 3.11 — accepted, semantics agree where Python
#   accepts them;
# - \b inside a character class is backspace in both dialects — fine.


class RegexDialectError(ValueError):
    """Pattern uses Python-only syntax that java.util.regex lacks."""


def _map_end_anchor(pattern: str) -> str:
    """Python ``\\Z`` means absolute end-of-string; Java's absolute
    anchor is ``\\z`` (Java's ``\\Z`` stops before a final line
    terminator, which is Python ``\\Z``'s behavior only sans newline).
    Walk escape-aware so a literal backslash (``\\\\``) followed by Z
    is left alone."""
    out: list[str] = []
    i = 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\" and i + 1 < len(pattern):
            nxt = pattern[i + 1]
            out.append("\\z" if nxt == "Z" else ch + nxt)
            i += 2
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def translate_pattern(pattern: str | re.Pattern[str]) -> str:
    """Translate a Python regex (optionally pre-compiled with flags)
    into an equivalent java.util.regex pattern string.

    Mirrors how the reference compiles patterns eagerly at filter
    definition time (examples/filterlist.py:31-32) so errors surface
    before any data flows.
    """
    flags = 0
    if isinstance(pattern, re.Pattern):
        flags = pattern.flags
        pattern = pattern.pattern
    for bad in _UNSUPPORTED:
        if bad in pattern:
            raise RegexDialectError(
                f"pattern {pattern!r} uses Python-only construct {bad!r}"
            )
    pattern = _map_end_anchor(pattern)
    prefix = "".join(
        letter for flag, letter in _FLAG_LETTERS if flags & flag
    )
    # NOTE: bare-string patterns (no compiled flags) pass through
    # unchanged — their \w/\b stay Java-ASCII, a documented residual
    # dialect gap; compile the pattern to opt into Python's Unicode
    # class semantics.
    return f"(?{prefix}){pattern}" if prefix else pattern


def regex_hits(text: Column, patterns: list[str | re.Pattern[str]]) -> Column:
    """Array of the (translated) pattern strings that match ``text``.

    Spark-first form of Filter.search_regexes (filter_.py:110-112):
    each pattern is a literal, so the JVM compiles it once per query,
    and the whole expression stays inside whole-stage codegen — no
    Python in the hot path.
    """
    if not patterns:
        return F.array().cast("array<string>")
    translated = [translate_pattern(p) for p in patterns]
    pieces = [
        F.when(text.rlike(p), F.array(F.lit(p))).otherwise(
            F.array().cast("array<string>")
        )
        for p in translated
    ]
    out = pieces[0]
    for piece in pieces[1:]:
        out = F.concat(out, piece)
    return out


def regex_matches(
    text: Column, patterns: list[str | re.Pattern[str]]
) -> list[tuple[str, Column]]:
    """Per-pattern (translated pattern string, boolean rlike) pairs.

    The scalar building block behind ``regex_hits``: consumers that
    only need *derived strings* (a joined hit list, a match message, a
    hit count) should combine these booleans with ``concat_ws``/
    ``when`` instead of materializing the array.  Rationale, measured
    at sf0.1: the array form inlined into several projection columns
    defeats codegen subexpression elimination (the ``transform`` HOF
    is codegen-fallback), ballooning the generated code — one executor
    core then spends ~1 s Janino-compiling it while every sibling task
    blocks on the codegen cache lock.  The all-scalar form stays small
    and fully codegen-friendly; each regex is evaluated once per row.
    """
    return [(p, text.rlike(p)) for p in (translate_pattern(q) for q in patterns)]
