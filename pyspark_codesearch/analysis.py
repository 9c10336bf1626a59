"""Tokenizer / analyzer — ONE spec, four implementations, parity-tested.

Semantics (the engine's analyzer, mirroring the reference's declared ES
analyzer ``paper_analyzer`` = standard tokenizer + lowercase + ``_english_``
stopwords — reference data_pipeline/es_indexer.py:69-76 — extended with
code-aware splitting per BASELINE.json input_hint):

0. NFC-normalize (decomposed "café" == precomposed "café" — a real
   multilingual corpus mixes forms; ES normalizes at the char-filter
   layer). JVM path: java.text.Normalizer via the checked-in 1 KB Java
   UDF jar (jars/SparkGraftNfc.java); pandas: Series.str.normalize;
   python: unicodedata; DuckDB: nfc_normalize.
1. CJK segmentation, UAX#29-style (what ES ``standard`` does):
   - Han ideographs and Hiragana: one token PER CHARACTER (Lucene
     StandardTokenizer emits IDEOGRAPHIC/HIRAGANA single-char tokens)
   - Katakana and Hangul: runs stay together (WB13 chains Katakana;
     Hangul LV/LVT syllables chain) but split from ADJACENT other-script
     letters ("wifiワイファイ" -> ``wifi`` + ``ワイファイ``)
   Covered blocks: Hiragana (minus combining voicing marks), CJK Unified
   + Ext A + compat + supplementary-plane Ext B..G, Katakana + phonetic
   ext, Hangul syllables + jamo + compat jamo + jamo ext A/B, and the
   ideographic iteration marks 々 〻 and 〇 (Han-script Lm/Nl — per-char
   like Han; kana iteration marks ゝゞ / ヽヾ ride their blocks' ranges).
2. split CamelCase boundaries      ``fooBar`` -> ``foo Bar``,
                                   ``HTTPServer`` -> ``HTTP Server``
   (ASCII-only by design: camelCase is an ASCII identifier convention)
3. split letter<->digit boundaries ``utf8`` -> ``utf 8``, ``2fa`` -> ``2 fa``
4. lowercase
5. split on any run of characters outside Unicode Letter/Number classes
   (underscores, punctuation, whitespace, symbols, combining marks):
   "café" -> ``café``, "Москва-сити" -> ``москва``/``сити``
6. drop empty tokens and the 33 classic Lucene English stopwords

Implementations (ALL must agree; see tests/test_analysis.py):

- :func:`tokens_col`     — pure Column expression (JVM, whole-stage codegen)
                           + the one-call JVM NFC UDF; the fast path used
                           by the index build
- :func:`tokenize_pandas_udf` — Arrow-vectorized pandas UDF (the north-rule
                           mandated form; same output)
- :func:`tokenize_py`    — pure python (shared by the rank-identity oracle)
- :func:`duckdb_tokens_expr` — DuckDB SQL snippet (used by oracle_sql())
"""

from __future__ import annotations

import os
import re
import unicodedata
from weakref import WeakKeyDictionary, WeakSet

from pyspark.sql import Column
from pyspark.sql import functions as F

# the 33 classic Lucene `_english_` stopwords (reference es_indexer.py:69-76)
ENGLISH_STOPWORDS: tuple[str, ...] = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these", "they", "this",
    "to", "was", "will", "with",
)
_STOP_SET = frozenset(ENGLISH_STOPWORDS)

# ------------------------------------------------------------ CJK segmentation
# Character-class bodies are built from python escapes, so the SAME pattern
# string (actual UTF-8 chars, incl. surrogate pairs for the supplementary
# planes) feeds Java regex, python re, pandas, and DuckDB's RE2 — all three
# engines match ranges by code point.
_HAN_HIRA = (
    "ぁ-ゖゝ-ゟ"            # Hiragana (not ゙-゜ marks)
    "々〇〻"                # ideographic iteration marks + 〇 (Lm/Nl, Han script)
    "㐀-䶿一-鿿豈-﫿"  # Han: Ext A, Unified, compat
    "\U00020000-\U0002fa1f\U00030000-\U0003134f"  # Han: Ext B..F+compat, Ext G
)
_KATAKANA = "ァ-ヺー-ヿㇰ-ㇿ"  # incl. ー, phonetic ext
_HANGUL = "가-힣ᄀ-ᇿㄱ-ㆎꥠ-꥿ힰ-퟿"

# (pattern, java_replacement, python/duckdb_replacement); the per-char
# class matches ONE char per hit, the run classes a whole run — each hit
# is wrapped in spaces, and spaces are separators for the final split, so
# this IS the token boundary insertion. ONE fused alternation (the three
# script classes are disjoint, so one scan over content is semantically
# identical to three sequential passes — and the analyzer sits in the
# index-build hot path, where the three separate regexp_replace passes
# cost ~20% of build wall at sf0.1).
_CJK_RULES: tuple[tuple[str, str, str], ...] = (
    (f"([{_HAN_HIRA}]|[{_KATAKANA}]+|[{_HANGUL}]+)", " $1 ", " \\1 "),
)

# (pattern, java_replacement, python/duckdb_replacement)
_BOUNDARY_RULES: tuple[tuple[str, str, str], ...] = (
    (r"([a-z])([A-Z])", r"$1 $2", r"\1 \2"),
    (r"([A-Z]+)([A-Z][a-z])", r"$1 $2", r"\1 \2"),
    (r"([A-Za-z])([0-9])", r"$1 $2", r"\1 \2"),
    (r"([0-9])([A-Za-z])", r"$1 $2", r"\1 \2"),
)
_ALL_RULES = _CJK_RULES + _BOUNDARY_RULES
# one split SPEC, two regex dialects (parity-tested across all four impls):
# Java and RE2 express "outside Letter/Number" as [^\p{L}\p{N}]+; python re
# has no \p classes, but \w == Unicode L* + N* + '_' (str.isalnum + _), so
# [\W_]+ is the same character set. Combining marks (Mn) are separators —
# harmless after step 0: NFC composes the common sequences first.
_SPLIT_PATTERN_JAVA = r"[^\p{L}\p{N}]+"
_SPLIT_PATTERN_PY = r"[\W_]+"


# --------------------------------------------------------------- NFC (JVM UDF)
_NFC_JAR = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "jars", "spark-graft-nfc.jar"
)
_NFC_UDF = "spark_graft_nfc"
_nfc_ready: WeakSet = WeakSet()
# failed registrations retry up to _NFC_MAX_ATTEMPTS times per session
# (a transient ADD JAR hiccup must not pin the session to the Arrow
# fallback forever), then stick with a warning
_NFC_MAX_ATTEMPTS = 3
_nfc_attempts: WeakKeyDictionary = WeakKeyDictionary()


def _nfc_pandas_col(c: Column) -> Column:
    """Arrow fallback: NFC via pandas (used when no active session exists
    at column-construction time or the Java UDF cannot register)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s):
        return s.map(lambda t: t if t is None or t.isascii() else unicodedata.normalize("NFC", t))

    return _nfc(c)


def ensure_nfc_udf(spark) -> bool:
    """Register the JVM NFC UDF on this session (idempotent). Returns
    True when call_udf('spark_graft_nfc', ...) is usable. Failures are
    retried up to _NFC_MAX_ATTEMPTS times (transient ADD JAR hiccups
    must not silently pin the session to the Arrow fallback), then the
    session sticks with the fallback and a one-time warning."""
    if spark in _nfc_ready:
        return True
    attempts = _nfc_attempts.get(spark, 0)
    if attempts >= _NFC_MAX_ATTEMPTS:
        return False
    try:
        from pyspark.sql.types import StringType

        spark.sql(f"ADD JAR '{_NFC_JAR}'")
        spark.udf.registerJavaFunction(_NFC_UDF, "SparkGraftNfc", StringType())
        _nfc_ready.add(spark)
        return True
    except Exception as e:
        _nfc_attempts[spark] = attempts + 1
        if attempts + 1 >= _NFC_MAX_ATTEMPTS:
            import warnings

            warnings.warn(
                f"JVM NFC UDF registration failed {attempts + 1}x ({e!r}); "
                "this session uses the Arrow pandas NFC fallback",
                stacklevel=2,
            )
        return False


def nfc_col(col: Column | str) -> Column:
    """NFC-normalize a string column. JVM-side (java.text.Normalizer via
    the checked-in jars/spark-graft-nfc.jar, one ScalaUDF call — no
    python boundary, with an isNormalized quick-check so ASCII/NFC input
    is pass-through); Arrow pandas fallback otherwise. The UDF is
    registered on the active session, so build the column in the session
    that owns its DataFrame (a streaming ``foreachBatch`` frame belongs
    to a cloned session, where the name would not resolve)."""
    from pyspark.sql import SparkSession

    c = F.col(col) if isinstance(col, str) else col
    spark = SparkSession.getActiveSession() or getattr(
        SparkSession, "_instantiatedSession", None
    )
    if spark is not None and ensure_nfc_udf(spark):
        return F.call_udf(_NFC_UDF, c)
    return _nfc_pandas_col(c)


# ---------------------------------------------------------------- column expr
def tokens_col(col: Column | str, *, keep_stopwords: bool = False) -> Column:
    """array<string> of analyzed tokens, as a pure Column expression.

    Stays inside whole-stage codegen — the only non-codegen call is the
    single JVM NFC UDF. This is the index-build hot path.
    """
    c = nfc_col(col)
    for pat, java_rep, _ in _ALL_RULES:
        c = F.regexp_replace(c, pat, java_rep)
    arr = F.split(F.lower(c), _SPLIT_PATTERN_JAVA)
    if keep_stopwords:
        return F.filter(arr, lambda x: x != F.lit(""))
    stop = [F.lit(s) for s in ENGLISH_STOPWORDS]
    return F.filter(arr, lambda x: (x != F.lit("")) & ~x.isin(*stop))


# ---------------------------------------------------------------- pandas UDF
def tokenize_series(s, *, keep_stopwords: bool = False):
    """pandas Series[str] -> Series[list[str]] — vectorized .str ops only."""
    s = s.fillna("")
    s = s.map(lambda t: t if t.isascii() else unicodedata.normalize("NFC", t))
    for pat, _, py_rep in _ALL_RULES:
        s = s.str.replace(pat, py_rep, regex=True)
    toks = s.str.lower().str.split(_SPLIT_PATTERN_PY, regex=True)
    if keep_stopwords:
        return toks.map(lambda ts: [t for t in ts if t])
    return toks.map(lambda ts: [t for t in ts if t and t not in _STOP_SET])


def tokenize_pandas_udf():
    """Arrow-vectorized pandas UDF: str -> array<string>."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def _tok(s):
        return tokenize_series(s)

    return _tok


# ---------------------------------------------------------------- pure python
_PY_RULES = [(re.compile(p), r) for p, _, r in _ALL_RULES]
_PY_SPLIT = re.compile(_SPLIT_PATTERN_PY)


def tokenize_py(text: str, *, keep_stopwords: bool = False) -> list[str]:
    """Pure-python implementation — imported by the oracle AND the tests."""
    if not text:
        return []
    if not text.isascii():
        text = unicodedata.normalize("NFC", text)
    for pat, rep in _PY_RULES:
        text = pat.sub(rep, text)
    toks = _PY_SPLIT.split(text.lower())
    if keep_stopwords:
        return [t for t in toks if t]
    return [t for t in toks if t and t not in _STOP_SET]


# ---------------------------------------------------------------- duckdb SQL
def duckdb_tokens_expr(col_sql: str, *, keep_stopwords: bool = False) -> str:
    """DuckDB SQL expression producing the same array<string> of tokens."""
    e = f"nfc_normalize({col_sql})"
    for pat, _, rep in _ALL_RULES:
        e = f"regexp_replace({e}, '{pat}', '{rep}', 'g')"
    e = f"string_split_regex(lower({e}), '{_SPLIT_PATTERN_JAVA}')"
    if keep_stopwords:
        return f"list_filter({e}, t -> len(t) > 0)"
    stop_list = ", ".join(f"'{s}'" for s in ENGLISH_STOPWORDS)
    return f"list_filter({e}, t -> len(t) > 0 AND t NOT IN ({stop_list}))"
