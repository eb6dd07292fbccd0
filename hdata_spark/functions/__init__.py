from hdata_spark.functions.text import (
    normalize_lang_col,
    normalize_lang_pudf,
    sha256_pudf,
)
