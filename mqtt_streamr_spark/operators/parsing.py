"""Strict JSON-completeness validation, entirely in Catalyst expressions.

The reference's parse step is ``JSON.parse(payload)`` inside a try/catch
(bin/mqtt-streamr.js:149-155): a payload is valid only if it is EXACTLY
one JSON value (plus surrounding whitespace). Spark's ``try_parse_json``
(and ``from_json``) stop at the end of the first complete value and
silently IGNORE trailing content — ``'{"a":1} {"b":2}'`` parses to
``{"a":1}``, ``'0\\n0'`` to ``0``. That is both a fidelity break (the
reference dead-letters those messages) and silent data mangling (the
second half of the payload vanishes). Probing Spark 4.1's parser shows
this is the ONLY leniency: single quotes, unquoted keys, comments,
trailing commas, leading zeros, NaN/Infinity are all already rejected,
matching JS ``JSON.parse``. (Duplicate object keys, which JS accepts
with the last value winning, need ``spark.sql.variant.allowDuplicateKeys``
— set in ``session.get_spark``.)

``strict_json_complete`` closes the gap without leaving the JVM. Both
checks run over the payload trimmed of JSON whitespace:

- scalar roots: one anchored regex (the JSON scalar grammar is regular);
- container roots: one ``rlike`` certificate, then an exact fallback for
  the rows it does not clear. The certificate matches one bracketed
  group spanning the whole trimmed text, nested at most 8 deep. It is
  built level by level as
  ``[\\[{](?:[^\\[\\]{}"]++|<string literal>|<one level less>)*+[\\]}]``:
  runs of filler, whole string literals (the only place a bracket is not
  structural) or a nested group, between an opener and a closer of
  either type. The fallback is the exact path: the text must end with a
  closer, and over its structural brackets — extracted by ONE
  ``regexp_replace`` that drops string literals and filler — the depth
  must return to zero exactly once and end at zero (an ``aggregate``
  scan). No UDF, no Python.

Why a certificate match is sound: ``try_parse_json`` has already
certified that the payload STARTS with one valid JSON value V, so within
V strings are well formed and brackets pair up by type. The
certificate's tokenization is forced by each first character (quote ->
string literal, bracket -> group, anything else -> filler), so on V it
counts exactly the structural brackets and its outermost group ends at
the first depth-zero return, which is V's last character. The match
requires that character to be the last of the trimmed text, i.e.
nothing follows V. Closers of either type may match because V's
brackets already pair up by type. A non-match proves nothing: those
rows (trailing content, or nesting deeper than 8) take the exact
fallback. Every quantifier is possessive — backtracking could not change
the outcome — and Java runs possessive loops iteratively, so only the
nesting recurses: a 200k-element array and a 1 MB string are checked
without a stack overflow.
Anchors are ``\\A``/``\\z``: Java's ``$`` also matches before a final
U+2028/U+2029/U+0085, which JSON does not count as whitespace.

Cost, per 100k benchmark payloads (~100-char events, 4 local threads,
noop write, median of 7, two alternating runs): ``try_parse_json``
alone 285-345 ms; the strict check adds 115-136 ms with this certificate,
against 342-472 ms with the previous collapse-then-balanced-regex
certificate (a ``regexp_replace`` plus a 4,841-character type-matched
regex on every row). The streaming pipeline applies the check by
default (``PipelineSpec.strict_parse``) because the reference contract
is strict, with the flag as the opt-out for callers who prefer the raw
``try_parse_json`` leniency.

Soundness of the exact fallback: a complete container payload's last
trimmed character is always its root closer; conversely if trailing
content exists, either its collapsed form contributes a structural
bracket (caught by the depth facts — brackets inside UNTERMINATED
trailing strings are deliberately kept by the single-pass collapse and
can only add crossings/depth) or it ends in a non-bracket character
(caught by the ends-with test on the raw trimmed text).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

# JSON whitespace is exactly space/tab/newline/carriage-return (RFC 8259;
# JS JSON.parse matches) — NOT \f or unicode spaces
# (trim itself is done with btrim over this exact char set)
_JSON_WS = " \t\n\r"

# one JSON string literal, unrolled (runs of plain characters between
# escapes) and possessive throughout: the alternatives are disjoint, so
# backtracking is pure cost, and Java runs possessive loops without
# recursing per character — a greedy (\\.|[^"\\])* group recurses once
# per character and overflows the stack on a long string. Valid strings
# never contain raw newlines, so default non-DOTALL '.' is safe
_STRING = r'"[^"\\]*+(?:\\.[^"\\]*+)*+"'

# one complete JSON scalar over the trimmed payload (Java regex). \A..\z,
# not ^..$: Java's $ also matches before a final U+2028/U+2029/U+0085,
# which is not JSON whitespace and so survives the trim
_SCALAR = (r'\A(?:-?(?:0|[1-9][0-9]*+)(?:\.[0-9]++)?(?:[eE][+-]?[0-9]++)?'
           r'|true|false|null|' + _STRING + r')\z')

# single collapse pass of the exact fallback: drop complete string
# literals (the only place brackets are not structural) AND every
# non-bracket character, leaving only the structural brackets. An
# UNTERMINATED trailing string fails the first alternative, so its
# quote/content fall to the char class and any bracket inside it is
# kept — sound, because an unterminated string can only occur in
# trailing junk, where a spurious bracket only pushes the depth facts
# further from "complete".
_STRING_OR_FILLER = _STRING + r"|[^\[\]{}]"

# one certificate level: an opener, then possessive runs of filler,
# string literals or the next level down, then a closer of either type
# (try_parse_json has already checked that the types pair up)
_CERT_LEVEL = r'[\[{](?:[^\[\]{}"]++|' + _STRING + r'%s)*+[\]}]'


def _certificate(max_depth: int) -> str:
    """The depth-bounded completeness certificate, built level by level.
    Possessive throughout: the tokenization is forced by each first
    character, so backtracking could never change the outcome; only the
    nesting (at most ``max_depth``) recurses."""
    level = _CERT_LEVEL % ""
    for _ in range(max_depth - 1):
        level = _CERT_LEVEL % ("|" + level)
    return r"\A" + level + r"\z"


# depth 8 covers essentially all real payloads (bench's events nest <=3);
# deeper payloads stay CORRECT via the exact aggregate scan, just slower
_CERT = _certificate(8)


def strict_json_complete(payload: Column) -> Column:
    """TRUE iff the payload is exactly one JSON value + whitespace.

    Completeness only: combine with ``try_parse_json(payload) IS NOT
    NULL`` (which validates the structure of the leading value) for full
    ``JSON.parse`` parity. On a NULL payload returns NULL, which the
    conjunction with the parse check collapses to false.
    """
    def _exact_scan(brackets):
        # Exact depth facts (given try_parse_json certified the LEADING
        # value, and ends-with-closer already held on the raw text): the
        # root closes where depth over the structural brackets first
        # returns to 0, so "closes exactly at the end" == exactly one
        # zero-crossing AND final depth 0. HOF aggregate — the one
        # non-codegen expression here — reached only for rows the
        # bounded-depth certificate can't clear.
        init = F.struct(F.lit(0).alias("depth"), F.lit(0).alias("zeros"))

        def step(acc, c):
            depth = acc["depth"] + F.when(c.isin("{", "["), 1) \
                .otherwise(-1)
            zeros = acc["zeros"] + F.when(depth == 0, 1).otherwise(0)
            return F.struct(depth.alias("depth"), zeros.alias("zeros"))

        state = F.aggregate(F.split(brackets, ""), init,
                            lambda acc, c: F.when(c == "", acc)
                            .otherwise(step(acc, c)))
        return (state["zeros"] == 1) & (state["depth"] == 0)

    def _container_ok(t):
        # CaseWhen branches evaluate lazily — a complete payload of depth
        # <= 8 pays ONE codegen'd rlike over the trimmed text. A row the
        # certificate does not clear (trailing content, or deeper nesting)
        # takes the exact path: it must end with a closer, and the depth
        # facts must hold over its structural brackets. The collapse is
        # deliberately NOT let-bound: a let (element_at(transform(array(
        # col)))) is itself a higher-order function and would force the
        # whole tree out of whole-stage codegen.
        brackets = F.regexp_replace(t, _STRING_OR_FILLER, "")
        return F.when(t.rlike(_CERT), F.lit(True)).otherwise(
            F.substring(t, -1, 1).isin("}", "]") & _exact_scan(brackets))

    # btrim with an explicit char set is a simple scan (the r8 regex trim
    # + let-binding measured 3x the cost of re-running btrim per use)
    t = F.btrim(payload, F.lit(_JSON_WS))
    return F.when(
        F.substring(t, 1, 1).isin("{", "["), _container_ok(t),
    ).otherwise(t.rlike(_SCALAR))
