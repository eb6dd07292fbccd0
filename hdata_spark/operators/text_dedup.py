"""Document deduplication family: exact, MinHash+LSH, SimHash, n-gram Jaccard.

The reference has no dedup (single-source pass-through mover); these are the
operators a training-data pipeline layers on top of the same engine. Design
rules that make them survive 100 TB:

- everything is JVM-side higher-order functions (``transform`` / ``filter`` /
  ``aggregate`` over arrays) inside whole-stage codegen — no Python in the
  per-row path;
- candidate generation is always a *bucketed equi-join* (LSH band hash /
  simhash chunk), never an all-pairs cross join: the shuffle is keyed by
  bucket, so the cost is sum over buckets of |bucket|^2, not n^2;
- hash functions are engine-portable (md5 hex strings), so every operator has
  a bit-identical DuckDB oracle.

MinHash here uses the lexicographic MIN of ``md5(perm || ':' || shingle)``
hex digests as the per-permutation signature: md5 is uniform on hex strings,
so the lexicographic min over a set is a valid min-wise hash (same collision
probability ~ Jaccard similarity as integer minhash), while staying exactly
reproducible in ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

N_PERMS = 8        # minhash permutations
LSH_BANDS = 4      # bands of N_PERMS // LSH_BANDS rows each
# Corpus-scale simhash geometry (round-3 default; was 32 bits / 4 byte-chunks):
# 64-bit hash split into 4 chunks of 16 bits. Chunk width sets bucket
# sparsity (2^16 = 65536 buckets per chunk arm instead of 256 — per-bucket
# quadratic expansion shrinks by 256x at the same corpus size); chunk COUNT
# sets the exact-recall radius (complete for hamming <= n_chunks - 1 = 3,
# the default radius). The legacy 32/4 geometry remains available by
# parameter and is oracle-tested alongside.
SIMHASH_BITS = 64
SIMHASH_CHUNKS = 4
#: Default per-bucket cap: a bucket keeps its first N docs by id, bounding
#: the quadratic expansion on pathological buckets (identical boilerplate
#: docs). None = uncapped exact contract.
SIMHASH_MAX_BUCKET_IDS = 1000


def tokens_col(text: Column) -> Column:
    return F.split(F.lower(F.trim(text)), " ")


def word_shingles(toks: Column, k: int = 3) -> Column:
    """k-word shingle array from a TOKEN-ARRAY column (order-preserving,
    with duplicates).

    `toks` must be a materialized column/attribute, not a `split(...)`
    expression: the lambda references it k+1 times per step, and inside an
    interpreted higher-order function an inlined split would re-tokenize
    the text ~k*n_shingles times per row (measured 40x slowdown).
    """
    return F.transform(
        F.sequence(F.lit(0), F.size(toks) - k),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j + 1) for j in range(k)]
        ),
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perms: int = N_PERMS,
) -> DataFrame:
    """(id, mh0..mh{n_perms-1}) for docs with >= 3 tokens.

    All N_PERMS min-hashes are folded in ONE `aggregate` pass over the
    shingle array (per shingle: N_PERMS md5s, element-wise `least` into the
    accumulator). The naive per-permutation formulation (N_PERMS separate
    `array_min(transform(...))` columns) is catastrophically worse in a way
    the logical plan hides: higher-order functions are interpreted
    (CodegenFallback), and CollapseProject inlines the shingle-building
    subtree into EVERY minhash column — tokenize+shingle runs 8x per row.
    The `.repartition` after the fold is a deliberate materialization
    barrier: downstream projections (band hashing) reference the signature
    array many times, and without a physical boundary Catalyst would inline
    — and re-run — the whole fold per reference. The exchange moves only
    (id, 8x32-hex) ≈ 300 B/row, at any scale.

    Docs shorter than one shingle are dropped BEFORE shingling (ANSI mode:
    `sequence(0, negative)` would descend through index 0).
    """
    sh = (
        # Repartition first: it distributes a small single-file scan across
        # all tasks AND pre-partitions by id so the min-aggregation below
        # needs NO further shuffle. Tokens are materialized into their own
        # projection so the shingle lambda references an ATTRIBUTE — see
        # word_shingles' contract.
        df.filter(F.size(tokens_col(F.col(text_col))) >= 3)
        .repartition(F.col(id_col))
        .select(id_col, tokens_col(F.col(text_col)).alias("_toks"))
        .select(id_col, F.explode(word_shingles(F.col("_toks"))).alias("_s"))
    )
    # One row per shingle, then N_PERMS md5 COLUMNS + min() aggregates: md5
    # and min are regular codegen'd expressions, so the hot loop lives in
    # whole-stage codegen. The tempting array formulation —
    # `array_min(transform(shingles, md5))` per permutation, or one
    # `aggregate(...)` fold — runs INTERPRETED (higher-order functions are
    # CodegenFallback) and measured ~20x slower for the same hash count;
    # only the shingle construction itself stays a (once-per-row) transform.
    hashed = sh.select(
        id_col,
        *[
            F.md5(F.concat(F.lit(f"{p}:"), F.col("_s"))).alias(f"h{p}")
            for p in range(n_perms)
        ],
    )
    return hashed.groupBy(id_col).agg(
        *[F.min(f"h{p}").alias(f"mh{p}") for p in range(n_perms)]
    )


def lsh_bands(
    sig: DataFrame,
    id_col: str = "doc_id",
    n_perms: int = N_PERMS,
    n_bands: int = LSH_BANDS,
) -> DataFrame:
    """Explode signatures into (id, band_idx, band_sig) — the LSH bucket key."""
    if n_perms % n_bands:
        raise ValueError(f"n_perms={n_perms} not divisible by n_bands={n_bands}")
    r = n_perms // n_bands
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws("|", *[F.col(f"mh{b * r + i}") for i in range(r)])
                ).alias("band_sig"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select(id_col, F.explode(bands).alias("band")).select(
        id_col, F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_sig").alias("band_sig"),
    )


MAX_BUCKET_IDS = 200


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_ids: int = MAX_BUCKET_IDS,
    n_perms: int = N_PERMS,
    n_bands: int = LSH_BANDS,
) -> DataFrame:
    """Near-dup candidate pairs: docs sharing >= 1 LSH band bucket.

    ``n_perms``/``n_bands`` default to the fixture-scale 8/4; at corpus scale
    raise them (e.g. 128/16 — r = n_perms/n_bands rows per band sets the
    similarity threshold ~ (1/n_bands)^(1/r)). The banding math below is
    fully parameter-driven; nothing assumes the defaults.

    Pair generation is GROUP-side, not a self-join: one shuffle keyed on
    (band_idx, band_sig) collects each bucket's sorted id list, and pairs
    are expanded with array higher-order functions inside the reduce task.
    The signature pipeline (shingle -> 8x md5 -> bands) therefore runs
    exactly ONCE — a self-join re-computes it per side (no ReusedExchange
    across alias subtrees; measured 2x+ slower) — and the shuffle carries
    only (id, band), never payloads or the n^2 pair space.

    ``max_bucket_ids`` caps a bucket at its first N sorted ids: a bucket of
    k identical-signature docs expands to k(k-1)/2 pairs, so an unbounded
    giant duplicate cluster would explode one task. 200 keeps every doc of
    a cluster attached to the same candidate component (what dedup needs)
    while bounding a bucket's expansion at ~20k pairs.
    Returns (doc_a, doc_b, n_shared_bands), doc_a < doc_b.
    """
    bands = lsh_bands(
        minhash_signatures(df, text_col, id_col, n_perms=n_perms),
        id_col, n_perms=n_perms, n_bands=n_bands,
    )
    return band_pairs(bands, id_col=id_col, max_bucket_ids=max_bucket_ids)


def band_pairs(
    bands: DataFrame,
    id_col: str = "doc_id",
    max_bucket_ids: int = MAX_BUCKET_IDS,
) -> DataFrame:
    """Group-side pair expansion over a (id, band_idx, band_sig) frame —
    the shared tail of minhash_lsh_candidates and the incremental index.

    One shuffle keyed on the bucket; each bucket's sorted id list (capped at
    max_bucket_ids) expands to pairs inside the reduce task. Returns
    (doc_a, doc_b, n_shared_bands), doc_a < doc_b.
    """
    # Stage break before the bucket aggregation: collect_list is an
    # ObjectHashAggregate, which cannot whole-stage-codegen — WITHOUT this
    # exchange the ENTIRE upstream signature pipeline (shingles, 8x md5)
    # lands in the same stage and executes interpreted (~10x slower,
    # measured 9.3s -> 0.5s at sf0.1). The repartition keeps the md5 stage
    # codegen'd and aligns partitioning with the groupBy key, so the agg
    # itself adds no second shuffle.
    bands = bands.repartition(F.col("band_idx"), F.col("band_sig"))
    buckets = (
        bands.groupBy("band_idx", "band_sig")
        .agg(
            F.slice(
                F.array_sort(F.collect_list(id_col)), 1, max_bucket_ids
            ).alias("ids")
        )
        .filter(F.size("ids") >= 2)
    )
    ids = F.col("ids")
    pairs = F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count("*").alias("n_shared_bands"))
    )


# ---------------------------------------------------------------- simhash

_HEX = "0123456789abcdef"


def _bit_term_spark(b: int) -> str:
    # shiftleft is a pure bitwise op in Spark (no ANSI overflow check), so
    # bit 63 lands on the sign bit as plain two's complement.
    return f"(CASE WHEN s{b} > 0 THEN shiftleft(1L, {b}) ELSE 0L END)"


def _bit_term_sql(b: int) -> str:
    # DuckDB's << overflows at bit 63; spell min-long arithmetically.
    if b == 63:
        return f"(CASE WHEN s{b} > 0 THEN (-9223372036854775807 - 1)::BIGINT ELSE 0 END)"
    return f"(CASE WHEN s{b} > 0 THEN (1::BIGINT << {b}) ELSE 0 END)"


def simhash_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bits: int = SIMHASH_BITS,
) -> DataFrame:
    """n_bits-wide SimHash per doc from token md5s (explode -> signed sums).

    Bit b of the hash is 1 iff the sum over tokens of (+1 if bit b of
    md5(token) set else -1) is positive. The whole computation is one
    explode + one hash aggregate (map-side combinable) — linear shuffle.
    n_bits <= 64 (bit 63 occupies the BIGINT sign bit; XOR/bit_count are
    bitwise, so Hamming math is unaffected).

    .. versionchanged:: round 3 — default width 32 -> 64 (corpus-scale
       geometry; see SIMHASH_BITS).
    """
    if not 1 <= n_bits <= 64 or n_bits % 4:
        raise ValueError(f"n_bits must be a multiple of 4 in [4, 64]: {n_bits}")
    tok = df.select(
        id_col, F.explode(tokens_col(F.col(text_col))).alias("tk")
    )
    h = tok.select(id_col, F.substring(F.md5("tk"), 1, n_bits // 4).alias("h"))
    sums = [
        F.expr(
            f"sum(CASE WHEN ((instr('{_HEX}', substr(h,{b // 4 + 1},1))-1)"
            f" div {2 ** (b % 4)}) % 2 = 1 THEN 1 ELSE -1 END)"
        ).alias(f"s{b}")
        for b in range(n_bits)
    ]
    agg = h.groupBy(id_col).agg(*sums)
    recon = " + ".join(_bit_term_spark(b) for b in range(n_bits))
    return agg.select(id_col, F.expr(f"CAST({recon} AS BIGINT)").alias("simhash"))


def simhash_sql_exprs(n_bits: int = SIMHASH_BITS) -> tuple[str, str]:
    """(select-list, reconstruction) SQL fragments shared with the oracle."""
    sel = ", ".join(
        f"sum(CASE WHEN ((strpos('{_HEX}', substr(h,{b // 4 + 1},1))-1)"
        f" // {2 ** (b % 4)}) % 2 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(n_bits)
    )
    recon = " + ".join(_bit_term_sql(b) for b in range(n_bits))
    return sel, recon


def simhash_chunk_sql_exprs(
    n_bits: int = SIMHASH_BITS, n_chunks: int = SIMHASH_CHUNKS
) -> list[str]:
    """Per-chunk value fragments for the oracle, built from the bit sums
    (never extracted from the packed hash — chunk 3 of a 64-bit hash spans
    the sign bit, where signed // and % diverge between engines). Each value
    is a plain non-negative INT < 2^(n_bits/n_chunks)."""
    w = n_bits // n_chunks
    return [
        " + ".join(
            f"(CASE WHEN s{c * w + i} > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(w)
        )
        for c in range(n_chunks)
    ]


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_ids: int | None = SIMHASH_MAX_BUCKET_IDS,
    n_bits: int = SIMHASH_BITS,
    n_chunks: int = SIMHASH_CHUNKS,
) -> DataFrame:
    """Pairs with simhash Hamming distance <= max_hamming.

    Candidate generation: split the n_bits hash into n_chunks equal chunks
    and bucket on chunk equality. By pigeonhole this is RECALL-COMPLETE only
    for distance <= n_chunks-1 (= 3 at the defaults); a wider radius (e.g.
    the oracle query's 6) keeps all chunk-collision candidates and filters
    exactly, so it is exact for <= n_chunks-1 and high-recall-but-incomplete
    above — pairs at distance n_chunks..max_hamming that differ in every
    chunk are missed. Callers that widen the radius accept that recall loss
    explicitly.

    Geometry (round 3; was 32 bits / 4 byte-chunks, uncapped): the default
    64/4 gives 16-bit chunks — 65536 buckets per chunk arm, so per-bucket
    density (and the quadratic expansion inside each bucket) drops 256x at
    the same corpus size — and ``max_bucket_ids`` now DEFAULTS to a cap
    (first N docs by id per bucket, the minhash-style bound), so a
    boilerplate-heavy corpus cannot detonate a single bucket. Pass
    ``max_bucket_ids=None`` for the uncapped exact-collision contract.

    Plan shape: the signature pipeline runs exactly ONCE — `simhash_df`'s
    output (a SLIM (id, simhash) frame, 16 B/row) is materialized via
    localCheckpoint, and the chunk-bucket candidate join is a codegen'd
    shuffled-hash SELF-join of that materialization. Measured against the
    alternatives at sf0.1: recompute-per-side self-join 2.7 s (Catalyst
    gives no ReusedExchange across alias subtrees), group-side pair
    expansion a la minhash 3.5 s (dense byte-chunk buckets + interpreted
    array-HOF pair expansion), materialized self-join 1.7 s. At production
    scale, stage the signature frame to the lake instead of executor blocks
    (the replay staging pattern); the join shape is unchanged.

    .. versionchanged:: round 2 — default max_hamming 6 -> 3 (the largest
       recall-complete radius at 4 chunks).
    .. versionchanged:: round 3 — default geometry 32/4 -> 64/4 with a
       default per-bucket cap of SIMHASH_MAX_BUCKET_IDS.
    """
    if n_bits % n_chunks:
        raise ValueError(f"n_chunks {n_chunks} must divide n_bits {n_bits}")
    w = n_bits // n_chunks
    sh = simhash_df(df, text_col, id_col, n_bits=n_bits).localCheckpoint(
        eager=False
    )
    chunks = sh.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        # unsigned shift + pmod: chunk n_chunks-1 of a
                        # 64-bit hash spans the SIGN bit, where signed
                        # div/% go wrong
                        F.pmod(
                            F.shiftrightunsigned(F.col("simhash"), w * c),
                            F.lit(1 << w),
                        ).alias("chunk_val"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("ch"),
    ).select(
        id_col, "simhash",
        F.col("ch.chunk_idx").alias("chunk_idx"),
        F.col("ch.chunk_val").alias("chunk_val"),
    )
    if max_bucket_ids is not None:
        w_ids = F.row_number().over(
            Window.partitionBy("chunk_idx", "chunk_val").orderBy(id_col)
        )
        chunks = chunks.withColumn("_rn", w_ids).filter(
            F.col("_rn") <= max_bucket_ids
        ).drop("_rn")
    chunks = chunks.repartition(F.col("chunk_idx"), F.col("chunk_val"))
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------- n-gram jaccard

def char_ngrams(text: Column, n: int = 3) -> Column:
    """Distinct character n-gram set of a string."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(text) - (n - 1)),
            lambda i: text.substr(i, F.lit(n)),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    min_jaccard: float = 0.5,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact Jaccard over distinct char n-grams for all id pairs in `df`.

    All-pairs by construction — the caller bounds the candidate set (e.g. an
    LSH prefilter, or a small doc subset); at scale this runs AFTER
    minhash_lsh_candidates as the exact re-rank stage.
    """
    g = df.filter(F.length(F.col(text_col)) >= n).select(
        id_col, char_ngrams(F.col(text_col), n).alias("grams")
    )
    a, b = g.alias("a"), g.alias("b")
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.round(
                F.size(F.array_intersect("a.grams", "b.grams"))
                / F.size(F.array_union("a.grams", "b.grams")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def ngram_jaccard_score(
    pairs: DataFrame,
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact char-n-gram Jaccard for GIVEN candidate pairs (doc_a, doc_b).

    The re-rank stage of the production dedup pipeline: candidates come from
    minhash_lsh_candidates (near-linear), so the quadratic exact measure
    only runs on plausible pairs. Two broadcast-friendly joins pull each
    side's gram set."""
    g = df.filter(F.length(F.col(text_col)) >= n).select(
        F.col(id_col), char_ngrams(F.col(text_col), n).alias("grams")
    )
    ga = g.select(F.col(id_col).alias("doc_a"), F.col("grams").alias("ga"))
    gb = g.select(F.col(id_col).alias("doc_b"), F.col("grams").alias("gb"))
    return (
        pairs.join(ga, "doc_a")
        .join(gb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.size(F.array_intersect("ga", "gb"))
                / F.size(F.array_union("ga", "gb")),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------- language id

# Characteristic character-trigram profiles (public-knowledge frequent
# trigrams per language); deterministic tiebreak order en > de > es > fr.
LANG_TRIGRAMS: dict[str, tuple[str, ...]] = {
    "en": ("the", "ing", "and", "ion", "ent", " th", "er "),
    "de": ("der", "sch", "ich", "ein", "und", "cht", "en "),
    "es": ("que", "los", "ado", " de", "nte", "era", "es "),
    "fr": ("les", "ait", "que", "eur", " de", "ent", "une"),
}


def _lang_argmax() -> Column:
    """Shared argmax-with-tiebreak over (s_en, s_de, s_es, s_fr) score
    columns: fixed priority en > de > es > fr on ties — both language-ID
    variants (and their generated oracle CASEs) use this one chain."""
    return (
        F.when(
            (F.col("s_en") >= F.col("s_de"))
            & (F.col("s_en") >= F.col("s_es"))
            & (F.col("s_en") >= F.col("s_fr")),
            F.lit("en"),
        )
        .when(
            (F.col("s_de") >= F.col("s_es")) & (F.col("s_de") >= F.col("s_fr")),
            F.lit("de"),
        )
        .when(F.col("s_es") >= F.col("s_fr"), F.lit("es"))
        .otherwise(F.lit("fr"))
    )


def _occurrence_count(text: Column, needle: str) -> Column:
    """Occurrences of `needle` in `text` via length arithmetic —
    (len(x) - len(replace(x, t, ''))) / len(t). Pure codegen'd string ops,
    bit-identical in ANSI SQL (no regex dialect differences)."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle))))
        / F.lit(len(needle))
    ).cast("long")


def lang_id_ngram_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Character-trigram language ID: per-language occurrence counts of a
    fixed frequent-trigram profile over the lowercased text, prediction =
    argmax with the en > de > es > fr tiebreak.

    Zero shuffle, zero explode: each score is a handful of replace/length
    expressions inside whole-stage codegen — the scale path for a
    corpus-wide pass. Complements `lang_id_scores` (function-word lexicon):
    trigrams see through missing stopwords (code-mixed or truncated docs).
    """
    low = F.lower(F.col(text_col))
    s = df.select(
        id_col,
        *[
            sum(
                (_occurrence_count(low, t) for t in tris),
                start=F.lit(0).cast("long"),
            ).alias(f"s_{lang}")
            for lang, tris in LANG_TRIGRAMS.items()
        ],
    )
    return s.withColumn("lang_pred", _lang_argmax())


def lang_id_ngram_oracle_sql(table: str = "documents") -> str:
    """DuckDB twin of lang_id_ngram_scores, generated from the SAME
    trigram profiles so the two can never drift."""
    score_sql = {
        lang: " + ".join(
            "(length(lower(text)) - length(replace(lower(text), "
            f"'{t}', ''))) // {len(t)}"
            for t in tris
        )
        for lang, tris in LANG_TRIGRAMS.items()
    }
    return f"""
    WITH s AS (
        SELECT doc_id,
               CAST({score_sql["en"]} AS BIGINT) AS s_en,
               CAST({score_sql["de"]} AS BIGINT) AS s_de,
               CAST({score_sql["es"]} AS BIGINT) AS s_es,
               CAST({score_sql["fr"]} AS BIGINT) AS s_fr
        FROM {table})
    SELECT doc_id, s_en, s_de, s_es, s_fr,
           CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
                WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_es >= s_fr THEN 'es'
                ELSE 'fr' END AS lang_pred
    FROM s
    """


# Tiny function-word lexicons; deterministic tiebreak order en > de > es > fr.
LANG_LEXICONS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "for", "that", "with"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "zu", "mit"),
    "es": ("el", "la", "de", "que", "y", "en", "es", "un", "por", "con"),
    "fr": ("le", "la", "et", "les", "des", "est", "une", "dans", "pour"),
}


def lang_id_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Stopword-hit language scores + argmax prediction (CASE tiebreak).

    N-gram-free heuristic language ID: per-language function-word hit counts
    over the token array (JVM `filter` + `array_contains`, zero shuffle),
    prediction = argmax with fixed priority en > de > es > fr on ties.
    """
    toks = tokens_col(F.col(text_col))
    score_cols = {}
    for lang, lex in LANG_LEXICONS.items():
        lex_arr = F.array(*[F.lit(w) for w in lex])
        score_cols[lang] = F.size(
            F.filter(toks, lambda t: F.array_contains(lex_arr, t))
        ).cast("long")
    s = df.select(
        id_col, *[c.alias(f"s_{lang}") for lang, c in score_cols.items()]
    )
    return s.withColumn("lang_pred", _lang_argmax())
