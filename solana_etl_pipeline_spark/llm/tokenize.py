"""THE word-tokenization convention, shared by every text path.

One convention, three implementations, pinned to each other:

* :func:`words` — the Spark expression (JVM codegen), a split of
  :func:`normalized` (which the regex shingler in ``llm.dedup`` reads
  directly),
* :func:`py_words` — the Python twin for the Arrow/pandas-UDF paths
  (MinHash/SimHash signatures, n-gram reports) and the plain-Python
  shingle reference,
* :func:`words_sql` — the DuckDB snippet every oracle embeds.

Convention: ``lowercase → collapse ASCII whitespace runs
([ \\t\\n\\r\\f]+) to one space → trim spaces → split on the single
literal space``. Null / empty / whitespace-only text tokenizes to
``['']`` (one empty word) — callers that explode filter that
degenerate token; callers that count sizes get 1, matching the
oracles' ``coalesce(text, '')`` rows.

Why this exact shape (formerly COVERAGE.md convention 1, now enforced
by the whitespace-hostile documents in tests/test_hostile_fixture.py):

* An explicit character class instead of ``\\s``: Java regex (Spark),
  RE2 (DuckDB) and Python ``re`` disagree on ``\\s`` membership
  (``\\x0B`` is whitespace to Java and Python but not RE2), so the
  class is spelled out once and is byte-identical in all three
  engines. Vertical tab is a word character everywhere — consistent,
  which is the requirement.
* Collapse-then-split-on-literal-space instead of splitting on the
  run regex: engines disagree on trailing-separator fields (Spark's
  ``split`` keeps trailing empties at its default ``limit=-1``;
  ``str.split`` in Python drops nothing; DuckDB keeps them), so
  ``'a\\t'`` would tokenize to ``['a', '']`` in one engine and
  ``['a']`` in another. After collapsing runs and trimming, the text
  contains no edge separators and single-space split is unambiguous.
* The trim must name its character set (``trim(x, ' ')`` in DuckDB,
  space-only ``trim``/``strip(' ')`` in Spark/Python): DuckDB's bare
  ``trim`` strips Unicode whitespace (U+3000, NBSP) that the other
  two engines keep as word characters.

KNOWN ENGINE DIVERGENCES (documented, excluded from the fuzz): two
Unicode special-casing rules DuckDB's ``lower`` does not apply:

* U+0130 'İ' — Java and Python lowercase it to ``'i' + U+0307``
  (combining dot above, per UnicodeData SpecialCasing); DuckDB
  yields plain ``'i'``.
* Context-sensitive FINAL SIGMA — Java and Python lowercase a
  word-final U+03A3 'Σ' to U+03C2 'ς' (``'aΣ' → 'aς'``); DuckDB
  always yields U+03C3 'σ'. Isolated 'Σ' (no preceding cased
  letter) lowers to 'σ' in all three. Literal 'ς' round-trips
  identically everywhere.

Text containing these will tokenize to different byte sequences in
the oracle than in the engine. No other divergent code point
surfaced in a 400-sample sweep over the whitespace zoo + cased
exotics (ß ς ǅ Ａ Ⅷ ﬁ Ж all agree) plus the Hypothesis fuzz in
tests/test_properties.py (which found final sigma); fixtures avoid
both.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Whitespace-run pattern as seen by Java/RE2 (escape sequences are
#: interpreted by the target regex engine, not by Python).
WS_RUN = "[ \\t\\n\\r\\f]+"

_WS_RUN_RE = re.compile("[ \t\n\r\f]+")


def normalized(text: Column) -> Column:
    """The text :func:`words` splits: lowercased, whitespace runs
    collapsed to one space, trimmed — words joined by single spaces."""
    return F.trim(
        F.regexp_replace(F.lower(F.coalesce(text, F.lit(""))), WS_RUN, " ")
    )


def words(text: Column) -> Column:
    """Canonical token array for a text column (see module doc)."""
    return F.split(normalized(text), " ")


def py_words(t: "str | None") -> list[str]:
    """Python twin of :func:`words` for the Arrow paths.

    ``strip(' ')`` after the collapse matches Spark's space-only
    ``trim``; ``''.split(' ')`` yields ``['']`` exactly like Spark's
    ``split('', ' ')``.
    """
    return _WS_RUN_RE.sub(" ", (t or "").lower()).strip(" ").split(" ")


def words_sql(col: str = "text") -> str:
    """DuckDB mirror of :func:`words` (the oracle side of the pair).

    DuckDB's default-conforming string literals pass the backslash
    escapes through to RE2 uninterpreted, so the pattern RE2 compiles
    is byte-identical to the one Java compiles for :func:`words`.

    ``trim(x, ' ')`` with the EXPLICIT character set: DuckDB's
    one-argument ``trim`` strips *Unicode* whitespace (U+3000, NBSP,
    …) while Spark's ``trim`` and Python's ``strip(' ')`` strip only
    ASCII space — found by the three-engine tokenizer fuzz
    (tests/test_properties.py), where a trailing ideographic space
    produced different final tokens per engine.
    """
    return (
        "string_split(trim(regexp_replace(lower(coalesce("
        + col
        + ", '')), '[ \\t\\n\\r\\f]+', ' ', 'g'), ' '), ' ')"
    )
