"""Vectorized scalar transforms: lang normalization + content sha256.

The reference's entire scalar-transform surface is per-record Java inside the
plugins (null replacement / newline scrub / decimal rounding,
hdata-jdbc/.../reader/jdbc/JDBCReader.java:125-151; type coercion,
hdata-core/.../util/TypeConvertUtils.java:15-42). We keep the hot path on the
JVM: built-in Catalyst expressions first (`F.sha2`, CASE maps — whole-stage
codegen), with Arrow-vectorized `pandas_udf` twins for the two north-star
UDFs (sha256(content), lang normalization). There is deliberately NO
row-at-a-time Python UDF anywhere in this package; tests audit that.
"""

from __future__ import annotations

import hashlib
import string

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from hdata_spark.fixtures import LANG_VARIANTS

# variant (lowercased) -> canonical, e.g. {"py": "python", "golang": "go"}
_LANG_MAP: dict[str, str] = {
    v.lower(): canonical
    for canonical, variants in LANG_VARIANTS.items()
    for v in variants
}


def normalize_lang_col(col: Column) -> Column:
    """Canonicalize a lang label with a literal CASE map (JVM, codegen).

    Unknown labels pass through lowercased; null stays null. An ASCII label
    (as many bytes as characters) is lowercased by `translate(A-Z, a-z)`,
    which on ASCII text is the whole case mapping; only other labels go
    through `lower()`, whose first call in a JVM pays ~1.3 s to initialize
    ICU case mapping.
    """
    trimmed = F.trim(col)
    low = F.when(
        F.octet_length(trimmed) == F.length(trimmed),
        F.translate(trimmed, string.ascii_uppercase, string.ascii_lowercase),
    ).otherwise(F.lower(trimmed))
    case = None
    for variant, canonical in sorted(_LANG_MAP.items()):
        cond = low == F.lit(variant)
        case = F.when(cond, F.lit(canonical)) if case is None else case.when(
            cond, F.lit(canonical)
        )
    return case.otherwise(low)


def _make_normalize_lang_pudf():
    """Factory so the UDF body is a `<locals>` function: cloudpickle then
    serializes it BY VALUE to the Python workers. A module-level UDF pickles
    by REFERENCE (`hdata_spark.functions.text.<name>`), which breaks the
    moment the executing cluster's workers lack this package on their
    PYTHONPATH — exactly the spark-submit --py-files / external-driver
    situation. The closure captures a plain dict copy, never the module."""
    lang_map = dict(_LANG_MAP)

    @pandas_udf(StringType())
    def normalize_lang(s: pd.Series) -> pd.Series:
        low = s.str.strip().str.lower()
        return low.map(lang_map).fillna(low)

    return normalize_lang


normalize_lang_pudf = _make_normalize_lang_pudf()
"""Arrow-vectorized twin of normalize_lang_col (parity-tested against it)."""


def scrub_newlines(col: Column, replacement: str = " ") -> Column:
    """Replace \\r\\n / \\n / \\r in a string column with a token.

    Reference parity: the JDBC reader's newline scrub for text-sink safety
    (hdata-jdbc/.../reader/jdbc/JDBCReader.java:133-134) — a row whose value
    embeds a newline would corrupt a line-oriented sink. JVM regexp, codegen.
    """
    return F.regexp_replace(col, "\r\n|\r|\n", replacement)


# GPT-2-style pre-tokenizer split pattern, LOOKAHEAD-FREE so the identical
# pattern runs on Java regex (Spark) and RE2 (DuckDB) with the same
# leftmost-first alternation semantics: contraction suffixes, space-prefixed
# letter runs, digit runs, punctuation runs, whitespace runs. ASCII classes
# (not \p{L}) to dodge unicode-class dialect differences.
BPE_SPLIT_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def bpe_token_count(col: Column) -> Column:
    """BPE-ish token count: number of pre-tokenizer segments of the text —
    the standard training-cost estimator (GPT-2 pre-tokenization splits,
    before merges; merges only split further, so this lower-bounds and
    tracks real BPE token counts). Codegen'd regexp_count, zero Python."""
    return F.regexp_count(col, F.lit(BPE_SPLIT_PATTERN)).cast("long")


def normalize_special_float(col: Column, convert_null: bool = False) -> Column:
    """NaN / Infinity -> 0.0 for a float/double column (optionally NULL too).

    Reference parity: hdata-hive/.../plugin/hive/HiveTypeUtils.java:87-132
    (convertHiveSpecialValue — "NaN"/"Infinity" become 0 for numeric types).
    Pure codegen'd CASE; no UDF.
    """
    bad = F.isnan(col) | (F.abs(col) == F.lit(float("inf")))
    if convert_null:
        bad = bad | col.isNull()
    return F.when(bad, F.lit(0.0)).otherwise(col)


def parse_int_empty_zero(col: Column, target: str = "bigint") -> Column:
    """Typed string->int parse where empty string means 0.

    Reference parity: hdata-hive/.../plugin/hive/HiveTypeUtils.java:40-58
    (toJavaObjectSpecial — "" parses to 0 for int/bigint instead of failing).
    Non-numeric non-empty strings still raise under ANSI mode, exactly like
    the reference's Integer.parseInt.
    """
    return (
        F.when(col == "", F.lit(0).cast(target)).otherwise(col.cast(target))
    )


def _make_sha256_pudf():
    """By-value pickling factory — see _make_normalize_lang_pudf."""

    @pandas_udf(StringType())
    def sha256_hex(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: None
            if x is None
            else hashlib.sha256(str(x).encode()).hexdigest()
        )

    return sha256_hex


sha256_pudf = _make_sha256_pudf()
"""Arrow-vectorized sha256 (query doc_content_hashes)."""
