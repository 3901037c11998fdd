"""Transcript normalization + shingling as pure native Column expressions.

Everything here stays inside whole-stage codegen — no Python runs per
row. Reference semantics covered:

- "remove stick": keep the longest ``|``-separated part of the title.
  The reference implementation iterates *characters* by accident
  (``create_silver_label.py:144-153`` — ``for t in title``), so we
  implement the documented intent (split on ``|``, keep longest part),
  as SURVEY.md §2.2 P3 prescribes.
- whitespace / NBSP cleanup (``create_silver_label.py:333-334``).
- computed-column concat ``title (date)`` (``create_silver_label.py:155-157``).
- char k-shingling for MinHash (SURVEY.md §2.11 X6: explode over an
  inline substring sequence, no UDTF).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

NBSP = "\u00a0"


def longest_pipe_part(col: Column) -> Column:
    """Longest ``|``-separated segment (ties -> first). Native aggregate()."""
    parts = F.split(col, r"\|")
    return F.aggregate(
        parts,
        F.lit(""),
        lambda acc, x: F.when(F.length(F.trim(x)) > F.length(acc), F.trim(x)).otherwise(acc),
    )


def normalize_text(col: Column, strip_boilerplate: bool = True) -> Column:
    """Canonical transcript form fed to shingling / exact dedup.

    lower -> (longest |-part) -> NBSP->space -> non [a-z0-9 ] -> space
    -> collapse whitespace -> trim. Deterministic, codegen-friendly.
    """
    c = F.lower(col)
    if strip_boilerplate:
        c = longest_pipe_part(c)
    c = F.regexp_replace(c, NBSP, " ")
    c = F.regexp_replace(c, "[^a-z0-9 ]", " ")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


def char_shingles(col: Column, k: int) -> Column:
    """Distinct char k-shingles as array<string>; whole string if len < k.

    Built from ``transform(sequence(...))`` so the work is JVM-side.
    """
    n = F.length(col)
    full = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n - F.lit(k - 1)),
            lambda i: F.substr(col, i, F.lit(k)),
        )
    )
    # Short strings -> [whole string]; empty -> [].
    return F.when(n >= k, full).otherwise(
        F.when(n > 0, F.array(col)).otherwise(F.array().cast("array<string>"))
    )


def shingle_count(col: Column, k: int) -> Column:
    return F.size(char_shingles(col, k))


def word_tokens(col: Column) -> Column:
    """Whitespace word tokens of an already-normalized string."""
    return F.filter(F.split(col, " "), lambda w: F.length(w) > 0)
