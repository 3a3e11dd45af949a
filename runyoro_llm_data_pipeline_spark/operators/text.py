"""Text normalization operators (P1/P2/P3/P4 of SURVEY.md §2.2).

Reimplements the reference's two cleaners as vectorized operators:

* ``clean_text_initial`` (``scripts/core_components.py:118-123``):
  HTML-entity unescape + whitespace collapse + strip.
* ``clean_and_preprocess_text`` (``scripts/text_processing.py:15-40``):
  entity unescape; delete every char not in ``[\\w\\s.,?!'’\\-–—]`` under
  UNICODE semantics; tabs→space; CRLF/CR→LF; strip. **This is the function
  the per-turn equality invariant depends on** — it must match the Python
  original byte-for-byte.

Two execution paths per cleaner:

1. ``*_col`` — pure JVM column expressions (whole-stage codegen, zero
   Python). Java regex needs the ``(?U)`` flag to give ``\\w``/``\\s`` the
   same Unicode semantics as CPython's ``re.UNICODE``; equivalence is pinned
   by golden tests over the reference micro-corpus (FIXTURES.md §5) plus
   property tests.
2. ``*_pandas`` — an Arrow-batched pandas UDF that runs the *identical*
   CPython regex, guaranteed bit-identical to the reference by construction.
   Kept as the strict-compatibility fallback; ~the cost of one Arrow
   round-trip per batch.

The engine's hot path uses (1).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# exact pattern from scripts/text_processing.py:31-33
_ALLOWED_PUNCT = ".,?!'’-–—"
_PY_PATTERN = re.compile(rf"[^\w\s{re.escape(_ALLOWED_PUNCT)}]", flags=re.UNICODE)
# Java-side emulation of CPython's Unicode classes. (?U)\w/\s are NOT
# byte-identical to CPython's: Java \w additionally matches combining marks
# (Mn/Mc/Me), which CPython strips; and CPython \s / str.strip() treat the
# file/group/record/unit separators U+001C-001F as whitespace, which the
# Unicode White_Space property (Java's (?U)\s) does not. Hence:
#   CPython \w  ≡  [\p{L}\p{N}_]
#   CPython \s  ≡  [(?U)\s \x1C-\x1F]
# Pinned by the golden corpus + hypothesis property test
# (tests/test_text_normalization.py).
#
# Known residual divergence: codepoints ASSIGNED AFTER the JVM's Unicode
# table version (JDK 17 ships Unicode 13; CPython 3.11 ships 14 — e.g.
# U+0870 Arabic Ext-B) classify as non-word on the JVM and word in
# CPython. For corpora that can contain bleeding-edge codepoints,
# normalize ``text`` with ``functions.clean_text_exact`` (bit-exact by
# construction) before ingest and apply with ``normalize_text=False``.
_J_WS = r"\s\x1C-\x1F"
_JAVA_PATTERN = rf"(?U)[^\p{{L}}\p{{N}}_{_J_WS}.,?!'’\-–—]"
# Python str.strip() removes exactly the CPython-whitespace set.
_JAVA_STRIP = rf"(?U)^[{_J_WS}]+|(?U)[{_J_WS}]+$"


def clean_and_preprocess_text_py(text) -> str:
    """Reference-identical scalar (scripts/text_processing.py:15-40);
    used by tests as the golden oracle and by the pandas fallback."""
    if not isinstance(text, str):
        return ""
    text = text.replace("&amp;", "&").replace("&lt;", "<").replace("&gt;", ">")
    text = _PY_PATTERN.sub("", text)
    text = text.replace("\t", " ")
    text = text.replace("\r\n", "\n").replace("\r", "\n")
    return text.strip()


def clean_and_preprocess_text_col(col: Column) -> Column:
    """JVM fast path of P2. Null input → null (callers decide null policy;
    the reference returns "" for non-strings — use ``coalesce(..., lit(""))``
    for that exact behavior via ``clean_and_preprocess_text_col_strict``)."""
    c = col
    c = F.replace(c, F.lit("&amp;"), F.lit("&"))
    c = F.replace(c, F.lit("&lt;"), F.lit("<"))
    c = F.replace(c, F.lit("&gt;"), F.lit(">"))
    c = F.regexp_replace(c, _JAVA_PATTERN, "")
    c = F.replace(c, F.lit("\t"), F.lit(" "))
    c = F.replace(c, F.lit("\r\n"), F.lit("\n"))
    c = F.replace(c, F.lit("\r"), F.lit("\n"))
    c = F.regexp_replace(c, _JAVA_STRIP, "")
    return c


def clean_and_preprocess_text_col_strict(col: Column) -> Column:
    """Exact reference behavior incl. the non-string guard
    (scripts/text_processing.py:23-24): null → ''."""
    return F.coalesce(clean_and_preprocess_text_col(col), F.lit(""))


_PANDAS_UDF = None


def clean_and_preprocess_text_pandas(col: Column) -> Column:
    """Arrow-batched fallback running the reference's exact CPython regex
    (lazy UDF construction — pandas_udf needs an active session)."""
    global _PANDAS_UDF
    if _PANDAS_UDF is None:

        def _clean(s: pd.Series) -> pd.Series:
            return s.map(clean_and_preprocess_text_py)

        _PANDAS_UDF = F.pandas_udf(_clean, "string")
    return _PANDAS_UDF(col)


def clean_text_initial_py(text) -> str:
    """Reference scalar (scripts/core_components.py:118-123)."""
    if not isinstance(text, str):
        return ""
    text = text.replace("&amp;", "&").replace("&lt;", "<").replace("&gt;", ">")
    text = " ".join(text.split())
    return text.strip()


def clean_text_initial_col(col: Column) -> Column:
    """P1 JVM path: unescape entities, collapse any whitespace run to one
    space, strip. ``" ".join(text.split())`` ≡ collapse-CPython-ws + strip
    (same U+001C-001F caveat as above)."""
    c = col
    c = F.replace(c, F.lit("&amp;"), F.lit("&"))
    c = F.replace(c, F.lit("&lt;"), F.lit("<"))
    c = F.replace(c, F.lit("&gt;"), F.lit(">"))
    c = F.regexp_replace(c, rf"(?U)[{_J_WS}]+", " ")
    c = F.regexp_replace(c, r"^ +| +$", "")
    return c


def non_empty_text(col: Column) -> Column:
    """P4/P5 predicate: drop empty/whitespace-only payloads
    (scripts/text_processing.py:77-79, scripts/train_llm.py:161)."""
    return col.isNotNull() & (F.length(F.regexp_replace(col, r"(?U)\s", "")) > 0)


def min_length_filter(col: Column, n: int = 10) -> Column:
    """P6: ``len(text) > 10`` (scripts/train_llm.py:162)."""
    return F.length(col) > n
