"""PII redaction rewrite (F11) as pure Spark built-ins.

Semantics re-derived from the reference algorithm
(phone_transcript_redaction.py:38-114), NOT copied: every ``{...}`` group has
each space-separated word inside replaced by ``REDACTED`` with braces
preserved; a brace-convention violation (a segment between two ``{`` whose
``}``-split does not yield exactly 2 parts) poisons the WHOLE transcript
(reference deletes the output file, :69-72,94-98) — callers must drop every
turn of a diary containing any violated line.

Quirks preserved for parity:
* word counting inside braces splits on single literal space, so a brace
  group ending in ``}`` counts the brace-bearing token as a word
  (reference :85-90 counts words of the raw tail including its ``}``),
* a line with no ``{`` passes through unchanged,
* output is built with a trailing ``{`` per inner group then the tail
  (:63,81), reproducing the reference's exact spacing.

The pandas oracle's ``_redaction_violated`` / ``_redact_valid_line`` are the
Python statement of the rule; tests/test_naming.py fuzzes these expressions
against them.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .text_metrics import substr_count

#: the brace-convention violations, found anywhere in the line: an inner
#: ``{`` group (one followed by another ``{``) holding no ``}`` or two or
#: more, and a final group not ending in ``}`` that holds no ``}`` (a
#: trailing lone ``{`` included) or two or more — the reference accepts any
#: final group ending in ``}``. A prefix before the first ``{`` is unchecked.
#: Quantifiers sit only on character classes, which Java matches in a loop:
#: a repeated group recurses per iteration and overflows the thread stack
#: on a line of a few thousand groups. \z, not $, which also matches before
#: a final line terminator (a raw line ending in "}}\r" would pass).
_VIOLATION_RE = "\\{[^{}]*(\\{|\\z|\\}[^{}]*\\}[^{]*(\\{|[^{}]\\z))"


def violated_line(col: Column) -> Column:
    """F11 violation flag as a pure JVM predicate (whole-stage codegen);
    a line without ``{`` never reaches the regex."""
    return F.coalesce(col.contains("{") & col.rlike(_VIOLATION_RE), F.lit(False))


def redacted_line(col: Column) -> Column:
    """The redacted line; NULL when ``violated_line`` holds.

    The line is split on ``{`` and rejoined with ``{``: part 0 passes
    through, every later part becomes one ``REDACTED`` per space-separated
    word before its ``}``, then ``}`` and the text after it. The rewrite
    sits behind ``contains(col, '{')``, so lines without a brace never
    reach the interpreted lambda."""

    def part(p: Column, i: Column) -> Column:
        # a part ending in '}' counts the words of the whole part: the same
        # count for an inner part (exactly one '}'), the lax final group
        # for the last one
        words = F.when(p.endswith("}"), p).otherwise(F.substring_index(p, "}", 1))
        return F.when(i == 0, p).otherwise(
            F.concat(
                F.repeat(F.lit("REDACTED "), substr_count(words, " ")),
                F.lit("REDACTED}"),
                F.substring_index(p, "}", -1),
            )
        )

    rewritten = F.array_join(F.transform(F.split(col, "\\{", -1), part), "{")
    return F.when(
        col.contains("{"), F.when(~violated_line(col), rewritten)
    ).otherwise(col)
