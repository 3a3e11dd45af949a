"""P2 normalization golden tests (FIXTURES.md §5): the JVM column path and
the Arrow pandas path must each match the reference's exact CPython
semantics (``/root/reference/scripts/text_processing.py:15-40``) —
byte-for-byte, since the per-turn equality invariant lives here.

Corpus: the reference's 12-sentence Runyoro micro-corpus
(``/root/reference/test_training_fix.py:18-31``) plus adversarial cases:
HTML entities, tab/CRLF mixes, emoji/symbols (stripped), Unicode letters,
apostrophe/dash family (kept), whitespace edges.
"""

import hypothesis.strategies as st
from hypothesis import HealthCheck, given, settings
from pyspark.sql import functions as F

from runyoro_llm_data_pipeline_spark.operators.text import (
    clean_and_preprocess_text_col,
    clean_and_preprocess_text_col_strict,
    clean_and_preprocess_text_pandas,
    clean_and_preprocess_text_py,
    clean_text_initial_col,
    clean_text_initial_py,
)

RUNYORO_CORPUS = [
    "Runyoro ni rurimi rw'abantu b'omu Bunyoro.",
    "Abantu b'omu Bunyoro ni abairu.",
    "Omu Bunyoro hari ebintu bingi ebirungi.",
    "Runyoro rurimi rw'abantu b'omu kitongole kya Bunyoro.",
    "Abantu b'omu Bunyoro barikukora emirimu mingi.",
    "Ebyokurya by'omu Bunyoro birungi muno.",
    "Ente z'omu Bunyoro nungi muno.",
    "Omwaka gunu tugyenda kusoma Runyoro.",
    "Runyoro ni rurimi rwa Uganda.",
    "Ninyenda kusoma Runyoro buri eizooba.",
    "Ebitabo bya Runyoro biri bingi.",
    "Ninyenda kwongyera kumanya Runyoro.",
]

ADVERSARIAL = [
    "Q&amp;A session &lt;tag&gt; done",
    "tabs\there\tand\tthere",
    "line1\r\nline2\rline3\nline4",
    "emoji 🙂 stripped «guillemets» too",
    "keep '’-–— these, drop @#$%^&*()[]{}",
    "  leading and trailing   ",
    "\t\r\n mixed \t edges \r\n",
    "naïve café résumé — überschön",  # unicode letters must survive
    "中文字符 and かな together",
    "semi;colon:colon \"quotes\" (parens)",
    "a&amp;&amp;b double entity",
    "",
    "   ",
    "&lt;&gt;&amp;",
    "dots... bangs!! quests??",
    # regression: combining marks (Mc/Mn/Me) are NOT CPython \w — Java
    # (?U)\w would keep them; found by hypothesis (U+1C24 LEPCHA YA)
    "mark ᰤ é (e + ́ combining) ḱ",
    # regression: U+001C-1F are CPython whitespace but not Unicode
    # White_Space — strip/collapse must treat them as space
    "\x1cfield\x1dgroup\x1erecord\x1funit\x1c",
    "①②③ numero ² superscript",  # No-category numerals are \w in both
]

CORPUS = RUNYORO_CORPUS + ADVERSARIAL


def _spark_apply(spark, fn_col, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    return [
        r["o"] for r in df.select("i", fn_col(F.col("t")).alias("o")).orderBy("i").collect()
    ]


def test_jvm_path_matches_cpython_on_corpus(spark):
    got = _spark_apply(spark, clean_and_preprocess_text_col, CORPUS)
    want = [clean_and_preprocess_text_py(t) for t in CORPUS]
    assert got == want


def test_strict_jvm_path_matches_cpython_on_corpus_and_null(spark):
    """The strict column adds the reference's non-string guard: a null
    text normalizes to ``""``, as ``clean_and_preprocess_text_py(None)``
    does."""
    texts = CORPUS + [None]
    got = _spark_apply(spark, clean_and_preprocess_text_col_strict, texts)
    assert got == [clean_and_preprocess_text_py(t) for t in texts]
    assert got[-1] == ""


def test_pandas_path_matches_cpython_on_corpus(spark):
    got = _spark_apply(spark, clean_and_preprocess_text_pandas, CORPUS)
    want = [clean_and_preprocess_text_py(t) for t in CORPUS]
    assert got == want


def test_clean_text_initial_matches(spark):
    got = _spark_apply(spark, clean_text_initial_col, CORPUS)
    want = [clean_text_initial_py(t) for t in CORPUS]
    assert got == want


def test_runyoro_corpus_is_fixpoint():
    """The reference corpus is already clean — normalization must be
    identity on it (the invariant that makes replay text-stable)."""
    for t in RUNYORO_CORPUS:
        assert clean_and_preprocess_text_py(t) == t


# Ranges long-assigned (pre-Unicode-7), identical between CPython 3.11's
# Unicode 14 tables and JDK 17's Unicode 13 tables. Codepoints added in
# newer Unicode versions (e.g. U+0870, Arabic Ext-B, Unicode 14) classify
# differently across the two runtimes — that irreducible version skew is
# documented in operators/text.py; users needing bit-parity on bleeding-
# edge codepoints use the pandas path (property-tested unrestricted below).
_STABLE_RANGES = [
    (0x00, 0x7E), (0xA0, 0x2AF), (0x370, 0x3FF), (0x400, 0x4FF),
    (0x590, 0x5EA), (0x620, 0x64A), (0x1C00, 0x1C4F), (0x2000, 0x206F),
    (0x3040, 0x30FF), (0x4E00, 0x4FFF), (0x1F300, 0x1F5FF),
]
_STABLE_ALPHABET = "".join(
    chr(c) for lo, hi in _STABLE_RANGES for c in range(lo, hi + 1)
)


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.lists(
        st.text(alphabet=_STABLE_ALPHABET, max_size=60),
        min_size=1,
        max_size=8,
    )
)
def test_property_jvm_equals_cpython(shared_spark_holder, texts):
    spark = shared_spark_holder
    got = _spark_apply(spark, clean_and_preprocess_text_col, texts)
    want = [clean_and_preprocess_text_py(t) for t in texts]
    assert got == want


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)),
            max_size=60,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_property_pandas_equals_cpython_unrestricted(shared_spark_holder, texts):
    """The Arrow path runs the reference's exact CPython regex — bit-parity
    must hold for ANY codepoint, including post-Unicode-13 additions."""
    spark = shared_spark_holder
    got = _spark_apply(spark, clean_and_preprocess_text_pandas, texts)
    want = [clean_and_preprocess_text_py(t) for t in texts]
    assert got == want
