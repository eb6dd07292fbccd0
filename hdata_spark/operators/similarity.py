"""Embedding similarity search: brute-force cosine, IVF cells, LSH buckets.

Built entirely from JVM higher-order array functions (``zip_with`` +
``aggregate`` dot products inside codegen) — no Python per row, no UDF. The
three tiers trade recall for scan cost:

- ``cosine_topk``       : exact, query-side broadcast, O(n * q) — the baseline;
- ``ivf_assign/search`` : IVF — partition vectors into K cells by nearest
  centroid; queries scan ONE cell (~n/K of the data). At 100 TB the cell id
  becomes the table's partition key, so a query prunes to one partition;
- ``hyperplane_lsh_*``  : random-hyperplane signatures (hyperplanes = the
  first P data vectors, deterministic and engine-portable); near-dup pairs
  join on equal signature — a bucketed equi-join, never n^2.

Centroids come from ``kmeans_fit`` — a seeded deterministic Lloyd's
iteration (init = first n_cells vectors, exact fixed-point means) — so the
fit itself, not just the query shape, is engine-portable and the DuckDB
oracles stay exact. ``ivf_probe`` adds multi-probe (nprobe nearest cells per
query), the standard IVF recall lever. Hyperplanes for LSH remain the
leading vectors (deterministic by construction).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential double-precision dot product (bit-matches DuckDB list ops)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; a zero-norm side yields NULL (undefined) instead of
    an ANSI DIVIDE_BY_ZERO abort — dirty corpora must not kill the job.
    try_divide (not a when-guard) so each interpreted dot product is
    evaluated exactly once."""
    return F.try_divide(dot(a, b), F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def cosine_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
) -> DataFrame:
    """Exact top-k by cosine per query; queries broadcast (small side)."""
    sims = (
        vectors.crossJoin(F.broadcast(queries))
        .filter(F.col(id_col) != F.col(query_id_col))
        .select(
            query_id_col,
            id_col,
            F.round(cosine(F.col(query_vec_col), F.col(vec_col)), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


#: Fixed-point unit for k-means centroid means: coordinates are accumulated
#: as round(val * 1e7) BIGINTs, so the per-cell mean is an EXACT integer sum
#: (order-independent, overflow-safe to ~1e11 rows/cell) divided once in
#: double — bit-identical between Spark and the DuckDB oracle. The 1e-7
#: quantization is far below any clustering-relevant signal.
MEAN_UNIT = 10_000_000


def _check_n_cells(n_cells: int) -> None:
    # The packed-BIGINT argmax ordering reserves 20 low bits for the cell id
    # (see ivf_assign); a larger cell space would silently corrupt the
    # ordering instead of erroring.
    if n_cells >= 1 << 20:
        raise ValueError(
            f"n_cells must be < 2^20 (got {n_cells}): the packed argmax "
            "ordering allots 20 bits to the cell id"
        )


def seed_centroids(
    vectors: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic centroid seed: the first `n_cells` vectors by id."""
    _check_n_cells(n_cells)
    return vectors.filter(F.col(id_col) < n_cells).select(
        F.col(id_col).cast("int").alias("cell"), F.col(vec_col).alias("cv")
    )


def _mean_centroids_from_exploded(
    ex: DataFrame, cells: DataFrame, id_col: str
) -> DataFrame:
    """Per-cell elementwise mean via exact fixed-point sums (see MEAN_UNIT).

    Input is the SLIM pre-exploded (id, pos, val) frame joined to the (id,
    cell) assignment — the fit loop never touches the full-width embedding
    payload. Codegen'd integer agg with map-side combine (shuffle volume =
    n_cells * dim, independent of row count); the tiny (cell, pos, coord)
    result folds back to arrays with an interpreted HOF — fine on n_cells
    rows. A cell that attracted no vectors disappears (standard Lloyd's).
    The integer sum is order-independent, so the slim path is bit-identical
    to exploding the assigned full-width frame.
    """
    # Non-finite components (NaN / ±Inf from dirty embeddings) contribute 0
    # to the mean instead of aborting the ANSI cast to BIGINT — the same
    # dirty-corpus-must-not-kill-the-job contract as `cosine`'s try_divide.
    # The between() bound also keeps the fixed-point product far from BIGINT
    # overflow (1e10 * 1e7 = 1e17 < 2^63).
    val = F.col("val")
    finite = F.when(val.between(-1e10, 1e10), val).otherwise(F.lit(0.0))
    coords = (
        ex.join(cells.hint("shuffle_hash"), id_col)
        .select(
            "cell",
            "pos",
            F.round(finite * F.lit(float(MEAN_UNIT))).cast("long").alias("u"),
        )
        .groupBy("cell", "pos")
        .agg(F.sum("u").alias("su"), F.count("*").alias("n"))
        .select(
            "cell",
            "pos",
            (
                F.col("su").cast("double")
                / (F.col("n") * F.lit(MEAN_UNIT)).cast("double")
            ).alias("coord"),
        )
    )
    return coords.groupBy("cell").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "coord"))),
            lambda s: s["coord"],
        ).alias("cv")
    )


def kmeans_fit(
    vectors: DataFrame,
    n_cells: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Seeded deterministic Lloyd's fit -> (cell, cv) centroids.

    Init = first `n_cells` vectors by id (the seed — no RNG, so the fit is
    reproducible across engines and runs); each iteration assigns every
    vector to its max-rounded-cosine centroid (the same slim packed-BIGINT
    argmax as ivf_assign) and recomputes centroids as exact fixed-point
    elementwise means. Everything is order-independent, which is what makes
    the DuckDB oracle able to reproduce the fit bit-for-bit (the `emb_ivf_ann`
    driver check covers fit + assign + multi-probe search end to end).

    Scale shape: the corpus is exploded to slim (id, pos, val) rows ONCE and
    localCheckpoint'd; every iteration then runs entirely codegen'd over slim
    rows — scored-cells hash agg, packed argmax, fixed-point mean — with the
    full-width embedding payload never shuffled inside the loop (ivf_assign's
    payload join-back happens once, AFTER the fit, in the caller's final
    assign). Centroids are localCheckpoint'd per iteration so lineage stays
    one-pass deep. No driver collect anywhere. Measured (emb_ivf_ann end to
    end @ sf0.1, warm, min over repeats): 6.6 s interpreted-HOF form -> ~4 s
    this form; per-iteration fit cost ~1 s, nearly all fixed job-scheduling
    latency at this tiny n (2k vectors) — the compute win grows with n.
    """
    _check_n_cells(n_cells)
    from hdata_spark.sinks.snapshot import _no_aqe

    # The iteration bodies are small fixed-shape jobs (slim rows, known
    # sizes): AQE's per-exchange materialize-and-replan is pure latency here
    # (the fixed-shape merge lesson — sinks/snapshot._no_aqe), and turning it
    # off also makes the hash(id) co-partitioning below survive verbatim, so
    # the scored agg, the argmax, and the mean's id-join all run WITHOUT an
    # exchange: one shuffle total (the upfront repartition) plus the tiny
    # (cell, pos) aggs per iteration. Checkpoints are EAGER so every fit job
    # actually executes inside this scope.
    with _no_aqe(vectors.sparkSession):
        ex = (
            _explode_vectors(vectors, id_col, vec_col)
            .repartition(F.col(id_col))
            .localCheckpoint(eager=True)
        )
        centroids = seed_centroids(vectors, n_cells, id_col, vec_col)
        for _ in range(n_iters):
            cells = _argmax_cell(
                _scored_from_exploded(ex, centroids, id_col), id_col
            )
            centroids = _mean_centroids_from_exploded(
                ex, cells, id_col
            ).localCheckpoint(eager=True)
    return centroids


def scored_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell, csim): cosine of every vector against every centroid —
    the n x n_cells hot loop of the IVF build/fit, in WHOLE-STAGE CODEGEN.

    The obvious form (`cosine(vec, cv)` on a broadcast cross join) runs the
    higher-order `aggregate(zip_with(...))` INTERPRETED (CodegenFallback),
    a ~10x constant factor paid n x n_cells times per fit iteration. This
    form posexplodes each side once and computes codegen'd sum-of-products:

        explode(vectors) ⋈_pos broadcast(explode(centroids))
          -> groupBy(id, cell): SUM(val*cval) [dot], SUM(val*val) [norm²]
          -> ⋈_cell broadcast(centroid norms)   [tiny, n_cells rows]

    Numerics match the interpreted form bit-for-bit in practice: posexplode
    emits coordinates in position order within one partition, the broadcast
    hash join preserves stream order, and the single partial HashAggregate
    per (id, cell) accumulates the double sum in that same sequential
    order — the exact summation the sequential HOF `dot` performs (and the
    DuckDB oracle's list_sum). Shuffle volume is n x n_cells slim rows with
    map-side combine. Measured on emb_ivf_ann @ sf0.1, warm, min over
    repeats on a noisy VM: 6.6 s interpreted -> ~4 s codegen end to end
    (the residual is per-job scheduling floor, not compute — the win grows
    with n, which is the 100-TB point).

    Contract deltas vs the HOF form (irrelevant for well-formed corpora,
    documented for honesty): a NULL coordinate is skipped by SUM instead of
    nulling the whole cosine, a vector/centroid dim mismatch silently
    inner-joins the common positions instead of null-padding, and a vector
    whose embedding is NULL or empty emits NO rows at all (posexplode yields
    nothing) — callers that must stay row-preserving re-attach such ids
    downstream (see ivf_assign's left join + sentinel cell).
    """
    ex = _explode_vectors(vectors, id_col, vec_col)
    return _scored_from_exploded(ex, centroids, id_col)


def _explode_vectors(vectors: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, pos, val): one slim row per vector coordinate (double-cast)."""
    return vectors.select(
        id_col, F.posexplode(F.col(vec_col)).alias("pos", "val")
    ).select(id_col, "pos", F.col("val").cast("double").alias("val"))


def _scored_from_exploded(
    ex: DataFrame, centroids: DataFrame, id_col: str
) -> DataFrame:
    """scored_cells over a pre-exploded (id, pos, val) frame — lets
    `kmeans_fit` explode the corpus ONCE and reuse it across iterations."""
    # ONE broadcast frame carries both the exploded coordinates AND the
    # per-cell norm (interpreted dot on n_cells rows — constant work, done
    # once inside the broadcast build): a separate norm broadcast + post-agg
    # join would cost an extra Spark job per fit iteration, pure fixed
    # latency. `max(nc)` rides the same HashAggregate (fixed-width,
    # constant per group) instead of a join-back.
    cex = centroids.select(
        "cell",
        F.sqrt(dot(F.col("cv"), F.col("cv"))).alias("nc"),
        F.posexplode(F.col("cv")).alias("pos", "cval"),
    ).select("cell", "pos", F.col("cval").cast("double").alias("cval"), "nc")
    sums = (
        ex.join(F.broadcast(cex), "pos")
        .groupBy(id_col, "cell")
        .agg(
            F.sum(F.col("val") * F.col("cval")).alias("dp"),
            F.sum(F.col("val") * F.col("val")).alias("vv"),
            F.max("nc").alias("nc"),
        )
    )
    return sums.select(
        id_col,
        "cell",
        F.try_divide(F.col("dp"), F.sqrt(F.col("vv")) * F.col("nc")).alias(
            "csim"
        ),
    )


def _argmax_cell(scored: DataFrame, id_col: str) -> DataFrame:
    """(id, cell): nearest cell per id from a (id, cell, csim) frame.

    max_by ordering must be a fixed-width type to stay a HashAggregate
    (struct orderings demote to SortAggregate), so (csim desc, cell asc) is
    packed into one BIGINT: csim is exact in 1e-9 units after round(.., 9),
    and cell < 2^20 by contract (_check_n_cells). Map-side partial agg
    collapses the n_cells candidate rows before the exchange. Undefined
    similarities (NULL from a zero norm, NaN from dirty embeddings) rank
    BELOW every real one instead of aborting the ANSI cast to BIGINT."""
    packed = (
        F.round(
            F.coalesce(F.nanvl(F.col("csim"), F.lit(-2.0)), F.lit(-2.0))
            * F.lit(1_000_000_000)
        ).cast("long")
        * F.lit(1 << 20)
        - F.col("cell")
    )
    rounded = scored.select(
        id_col, "cell", F.round(F.col("csim"), 9).alias("csim")
    )
    return rounded.groupBy(id_col).agg(
        F.max_by(F.col("cell"), packed).alias("cell")
    )


def ivf_assign(
    vectors: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Assign each vector to its nearest centroid's cell.

    `centroids` (cell, cv) comes from `kmeans_fit` (the real path) or
    defaults to the first-n seed (deterministic stand-in, kept for
    back-compat and as the k-means init). One codegen'd scored join
    (`scored_cells` — posexplode + broadcast pos-join + hash agg, NOT the
    interpreted HOF cosine) + per-vector argmax — the IVF build step. At
    cluster scale the output is written partitioned by `cell`, making
    search a partition-pruned scan.
    """
    if centroids is None:
        centroids = seed_centroids(vectors, n_cells, id_col, vec_col)
    else:
        _check_n_cells(n_cells)
    # SLIM argmax: the embedding payload never enters the aggregate. A
    # row_number window (or a first(embedding) agg) would push n_cells
    # copies of every embedding through a sort/immutable-buffer
    # SortAggregate; instead the agg sees only (id, cell, packed ordering)
    # — see _argmax_cell for the packed-BIGINT max_by contract.
    cells = _argmax_cell(
        scored_cells(vectors, centroids, id_col, vec_col), id_col
    )
    # Winners join back on the unique id alone (the LWW-dedup pattern):
    # shuffle_hash pins a sort-free join; each embedding crosses the wire
    # exactly once. LEFT join keeps ivf_assign row-preserving: a NULL/empty
    # embedding emits no scored_cells rows (posexplode yields nothing), so
    # its id never reaches the argmax — it lands in sentinel cell 0, which
    # is exactly where the interpreted-HOF form's coalesce(csim, -2)
    # ranking placed it (all cells tie at -2; the packed argmax breaks the
    # tie toward the smallest cell id).
    return vectors.select(id_col, vec_col).join(
        cells.hint("shuffle_hash"), id_col, "left"
    ).withColumn("cell", F.coalesce(F.col("cell"), F.lit(0)))


def ivf_probe(
    queries: DataFrame,
    centroids: DataFrame,
    nprobe: int = 2,
    query_id_col: str = "query_id",
    query_vec_col: str = "qv",
) -> DataFrame:
    """Multi-probe cell selection: the `nprobe` nearest cells per query.

    Returns one row per (query, probed cell) — feed straight into
    `ivf_search`, which unions the probed cells' candidates. nprobe > 1 is
    the standard IVF recall lever: a query near a cell boundary finds its
    true neighbors in the runner-up cell at the cost of scanning nprobe/K of
    the data instead of 1/K. The query side is tiny, so the row_number
    window here is driver-scale work, not a data shuffle.
    """
    scored = queries.crossJoin(F.broadcast(centroids)).select(
        *queries.columns,
        "cell",
        F.round(cosine(F.col(query_vec_col), F.col("cv")), 9).alias("_csim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("_csim").desc_nulls_last(), F.col("cell").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= nprobe)
        .drop("_rn", "_csim")
    )


def ivf_search(
    assigned: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """ANN search: scan only the probed cells, exact top-k inside their union.

    `queries` must carry (query_id, qv, cell) — one row per probed cell
    (single-probe: the query's own cell; multi-probe: `ivf_probe` output).
    The probe is an equi-join on `cell` — partition pruning at scale,
    bucketed shuffle here. Each vector lives in exactly one cell, so the
    multi-probe union never duplicates a candidate.
    """
    cands = assigned.join(
        F.broadcast(queries), on="cell"
    ).filter(F.col(id_col) != F.col(query_id_col))
    scored = cands.select(
        query_id_col,
        id_col,
        "cell",
        F.round(cosine(F.col("qv"), F.col(vec_col)), 6).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("cosine").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def hyperplane_signature(
    vectors: DataFrame,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-of-projection LSH signature (hyperplanes = first n_planes vectors).

    sig = sum_p 2^p * [dot(v, plane_p) > 0] — an integer bucket key. Cosine-
    similar vectors agree on most sign bits, so near-dups collide with high
    probability; collisions are verified exactly afterwards.
    """
    planes = vectors.filter(F.col(id_col) < n_planes).select(
        F.col(id_col).alias("plane"), F.col(vec_col).alias("pv")
    )
    # SLIM bit aggregation — only (id, plane, bit) enters the agg, so it
    # stays a HashAggregate with map-side combine; a first(embedding) here
    # would demote it to SortAggregate AND push n_planes copies of every
    # embedding through the exchange. The payload joins back on the unique
    # id (sort-free shuffle-hash), crossing the wire once.
    bits = (
        vectors.select(id_col, vec_col)
        .crossJoin(F.broadcast(planes))
        .select(
            id_col,
            "plane",
            F.when(dot(F.col(vec_col), F.col("pv")) > 0, F.lit(1))
            .otherwise(F.lit(0))
            .alias("bit"),
        )
        .groupBy(id_col)
        .agg(F.sum(F.expr("bit * CAST(pow(2, plane) AS BIGINT)")).alias("sig"))
    )
    return vectors.select(id_col, vec_col).join(
        bits.hint("shuffle_hash"), id_col, "inner"
    )


def lsh_near_dup_pairs(
    vectors: DataFrame,
    min_cosine: float = 0.3,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs: equal LSH signature AND exact cosine >= threshold.

    The candidate join is keyed on `sig` (256 buckets here) — per-bucket
    quadratic, globally near-linear. Exact cosine filters false collisions.
    The signature frame is materialized (localCheckpoint) so the SELF-join
    computes the hyperplane pipeline once, not once per side — the same
    measured pattern as simhash_near_pairs; at production scale stage it to
    the lake instead.
    """
    sig = hyperplane_signature(vectors, n_planes, id_col, vec_col).localCheckpoint(
        eager=False
    )
    a, b = sig.alias("a"), sig.alias("b")
    return (
        a.join(
            b,
            (F.col("a.sig") == F.col("b.sig"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("vec_a"),
            F.col(f"b.{id_col}").alias("vec_b"),
            F.col("a.sig").alias("sig"),
            F.round(cosine(F.col(f"a.{vec_col}"), F.col(f"b.{vec_col}")), 6).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= min_cosine)
    )
