"""Edge-case unit tests for the dedup/similarity operator family
(oracle parity at sf0.001 is covered by tests/test_oracle_parity.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hdata_spark.operators.similarity import cosine_topk, ivf_assign, ivf_search
from hdata_spark.operators.text_dedup import (
    lang_id_scores,
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_df,
    simhash_near_pairs,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_normalize_lang_col_matches_lower_and_the_pandas_twin(spark):
    """The ASCII fast path changes no label: `normalize_lang_col` equals
    `lower(trim(x))` followed by the variant map, and agrees with
    `normalize_lang_pudf`, on ASCII, padded, mixed-case, non-ASCII, null
    and empty labels."""
    from hdata_spark.functions.text import (
        _LANG_MAP,
        normalize_lang_col,
        normalize_lang_pudf,
    )

    labels = ["python", "Python", "  PY  ", "GoLang", "JavaScript", "c++",
              "Rust ", "ÉLIXIR", "İstanbul", "ΣΟΦΟΣ", " Ünïcode ", None, "", "  "]
    got = spark.createDataFrame([(x,) for x in labels], "lang string").select(
        "lang",
        normalize_lang_col(F.col("lang")).alias("col"),
        normalize_lang_pudf(F.col("lang")).alias("pudf"),
        F.lower(F.trim(F.col("lang"))).alias("low"),
    ).collect()
    assert [r["lang"] for r in got] == labels
    for r in got:
        expected = None if r["low"] is None else _LANG_MAP.get(r["low"], r["low"])
        assert r["col"] == expected == r["pudf"], r["lang"]
    assert [r["col"] for r in got][:4] == ["python", "python", "python", "go"]


def test_scrub_newlines(spark):
    """JDBC-reader newline scrub parity (JDBCReader.java:133-134)."""
    from hdata_spark.functions.text import scrub_newlines

    df = spark.createDataFrame(
        [("a\r\nb\nc\rd",), ("plain",), (None,)], "s string"
    )
    out = [r["t"] for r in df.select(scrub_newlines(F.col("s"), "|").alias("t")).collect()]
    assert out == ["a|b|c|d", "plain", None]


def test_minhash_short_docs_dropped_not_crashed(spark):
    d = _docs(spark, [(1, "one two"), (2, "a b c d e"), (3, ""), (4, None)])
    sig = minhash_signatures(d.filter(F.col("text").isNotNull()))
    ids = {r["doc_id"] for r in sig.collect()}
    assert ids == {2}  # only the >=3-token doc survives


def test_minhash_lsh_parameterized_16_8_matches_oracle(spark):
    """The banding math and oracle generation generalize past the 8/4
    defaults: 16 perms / 8 bands, value-checked against DuckDB at sf0.001."""
    import duckdb

    from hdata_spark.queries import minhash_lsh_oracle_sql

    sf = "/root/testdata/sf0.001"
    got = {
        (r["doc_a"], r["doc_b"], r["n_shared_bands"])
        for r in minhash_lsh_candidates(
            spark.read.parquet(f"{sf}/documents.parquet"),
            n_perms=16, n_bands=8,
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
    )
    want = set(
        map(tuple, con.execute(
            minhash_lsh_oracle_sql(n_perms=16, n_bands=8)
        ).fetchall())
    )
    con.close()
    assert got == want and len(want) > 0


def test_minhash_identical_docs_always_candidates(spark):
    text = "the quick brown fox jumps over the lazy dog"
    d = _docs(spark, [(1, text), (2, text), (3, "totally different words here now")])
    pairs = {
        (r["doc_a"], r["doc_b"], r["n_shared_bands"])
        for r in minhash_lsh_candidates(d).collect()
    }
    assert (1, 2, 4) in pairs  # identical docs share ALL 4 bands
    assert not any(p[:2] in {(1, 3), (2, 3)} for p in pairs)


def test_simhash_deterministic_and_bounded(spark):
    d = _docs(spark, [(1, "alpha beta gamma"), (2, "alpha beta gamma")])
    rows = simhash_df(d).collect()
    vals = {r["doc_id"]: r["simhash"] for r in rows}
    assert vals[1] == vals[2]
    assert -(2**63) <= vals[1] < 2**63  # 64-bit default; bit 63 = sign bit
    narrow = {r["doc_id"]: r["simhash"] for r in simhash_df(d, n_bits=32).collect()}
    assert 0 <= narrow[1] < 2**32  # legacy geometry still available


def test_simhash_geometries_agree_on_identical_docs(spark):
    """Both tested geometries (32/4 legacy, 64/8) find identical docs at
    hamming 0 and nothing across unrelated docs; the per-bucket cap bounds
    expansion without losing the identical pair."""
    d = _docs(
        spark,
        [(1, "spark engine test data"), (2, "spark engine test data"),
         (3, "completely unrelated content words")],
    )
    for n_bits, n_chunks in ((32, 4), (64, 8)):
        pairs = {
            (r["doc_a"], r["doc_b"]): r["hamming"]
            for r in simhash_near_pairs(
                d, max_hamming=0, n_bits=n_bits, n_chunks=n_chunks,
                max_bucket_ids=2,
            ).collect()
        }
        assert pairs.get((1, 2)) == 0, (n_bits, n_chunks)
        assert (1, 3) not in pairs


def test_simhash_bucket_cap_bounds_pairs(spark):
    """max_bucket_ids keeps only the first N ids per bucket: with N=2, a
    bucket of 4 identical docs yields exactly the (first, second) pair."""
    d = _docs(spark, [(i, "same exact text here") for i in range(1, 5)])
    pairs = {(r["doc_a"], r["doc_b"])
             for r in simhash_near_pairs(d, max_hamming=0, max_bucket_ids=2).collect()}
    assert pairs == {(1, 2)}
    uncapped = {(r["doc_a"], r["doc_b"])
                for r in simhash_near_pairs(d, max_hamming=0, max_bucket_ids=None).collect()}
    assert uncapped == {(a, b) for a in range(1, 5) for b in range(a + 1, 5)}


def test_simhash_identical_pairs_have_zero_hamming(spark):
    d = _docs(
        spark,
        [(1, "spark engine test data"), (2, "spark engine test data"),
         (3, "completely unrelated content words")],
    )
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"]
             for r in simhash_near_pairs(d, max_hamming=0).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs


def test_jaccard_identical_is_one(spark):
    d = _docs(spark, [(1, "abcdefgh"), (2, "abcdefgh"), (3, "zzzzyyyy")])
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
             for r in ngram_jaccard_pairs(d, min_jaccard=0.0).collect()}
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 3)] < 0.2


def test_lang_id_tiebreak_prefers_en(spark):
    # 'la' is in both es and fr lexicons; 'the' in en only. All-zero doc
    # must fall back to 'en' (first in the priority chain).
    d = _docs(spark, [(1, "qqq www eee"), (2, "la la la"), (3, "the the")])
    rows = {r["doc_id"]: r for r in lang_id_scores(d).collect()}
    assert rows[1]["lang_pred"] == "en"  # all scores 0 -> en wins tie
    assert rows[2]["lang_pred"] == "es"  # es before fr on tie
    assert rows[3]["lang_pred"] == "en"


def test_ivf_search_stays_in_cell_and_topk_exactness(spark):
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    assigned = ivf_assign(e, n_cells=8)
    q = assigned.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), "cell"
    )
    res = ivf_search(assigned, q, k=5)
    cells = {r["vec_id"]: r["cell"] for r in assigned.collect()}
    for r in res.collect():
        # every returned candidate lives in the query's own cell
        assert r["cell"] == cells[r["query_id"]]
    # per-query at most k results, descending cosine
    import collections

    by_q = collections.defaultdict(list)
    for r in res.collect():
        by_q[r["query_id"]].append(r["cosine"])
    for sims in by_q.values():
        assert len(sims) <= 5 and sims == sorted(sims, reverse=True)


def test_brute_force_topk_is_superset_reference(spark):
    """IVF recall sanity: the in-cell top-1 is <= brute-force top-1 cosine."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    bf = cosine_topk(e, q, k=1)
    bf_best = {r["query_id"]: r["cosine"] for r in bf.collect()}
    assigned = ivf_assign(e, n_cells=8)
    qc = assigned.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), "cell"
    )
    ivf_best = {r["query_id"]: r["cosine"]
                for r in ivf_search(assigned, qc, k=1).collect()}
    for qid, c in ivf_best.items():
        assert c <= bf_best[qid] + 1e-9


def test_kmeans_multiprobe_recall_beats_first_n_single_probe(spark):
    """The round-3 fit is not a stand-in: k-means centroids + nprobe=2
    multi-probe recall@5 vs brute force beats the first-16-centroid
    single-probe recall (measured 0.53 vs 0.45 on this fixture). Fully
    deterministic (seeded init, exact fixed-point means), so this is a
    stable assertion, not a flaky benchmark."""
    from hdata_spark.operators.similarity import ivf_probe, kmeans_fit

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    truth = {(r["query_id"], r["vec_id"]) for r in cosine_topk(e, q, k=5).collect()}

    def recall(res):
        got = {(r["query_id"], r["vec_id"]) for r in res.collect()}
        return len(got & truth) / len(truth)

    a_old = ivf_assign(e, n_cells=16)
    q_old = a_old.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"), "cell"
    )
    r_old = recall(ivf_search(a_old, q_old, k=5))

    cent = kmeans_fit(e, n_cells=16, n_iters=2)
    a_new = ivf_assign(e, n_cells=16, centroids=cent)
    r_new = recall(ivf_search(a_new, ivf_probe(q, cent, nprobe=2), k=5))
    assert r_new > r_old, f"kmeans nprobe=2 recall {r_new} <= first-n {r_old}"


def test_ivf_n_cells_guard(spark):
    """n_cells >= 2^20 would silently corrupt the packed argmax ordering;
    it must raise instead (ADVICE round 2)."""
    import pytest

    from hdata_spark.operators.similarity import kmeans_fit

    e = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="n_cells"):
        ivf_assign(e, n_cells=1 << 20)
    with pytest.raises(ValueError, match="n_cells"):
        kmeans_fit(e, n_cells=1 << 20)


def test_ivf_assign_preserves_null_and_empty_embeddings(spark):
    """ivf_assign is row-preserving: a NULL or empty embedding emits no
    scored_cells rows (posexplode yields nothing), but the id must still
    come back — in sentinel cell 0, matching where the interpreted-HOF
    form's coalesce(csim, -2) ranking placed such vectors."""
    rows = [
        (0, [1.0, 0.0]), (1, [0.0, 1.0]),   # centroids
        (2, None),                           # NULL embedding
        (3, []),                             # empty embedding
        (4, [0.0, 1.0]),                     # clean
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r["cell"] for r in ivf_assign(df, n_cells=2).collect()}
    assert set(out) == {0, 1, 2, 3, 4}
    assert out[2] == 0 and out[3] == 0
    assert out[4] == 1


def test_ivf_assign_survives_nan_and_zero_vectors(spark):
    """Dirty embeddings (NaN components, all-zero vectors) must not abort
    the ANSI cast in the packed argmax ordering — they rank below every real
    similarity and still get a deterministic cell."""
    rows = [
        (0, [1.0, 0.0]), (1, [0.0, 1.0]),      # centroids
        (4, [float("nan"), 1.0]),               # NaN component
        (5, [0.0, 0.0]),                        # zero norm
        (6, [1.0, 1.0]),                        # clean
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r["cell"] for r in ivf_assign(df, n_cells=2).collect()}
    assert set(out) == {0, 1, 4, 5, 6}
    assert out[6] == 0  # tie (cos=0.7071 to both) -> lowest cell wins
    assert out[4] == 0 and out[5] == 0  # undefined sims -> deterministic floor


def test_kmeans_fit_survives_nan_and_inf_components(spark):
    """Dirty embeddings must not abort the fit's ANSI cast to BIGINT in the
    fixed-point mean: NaN/±Inf components contribute 0, clean vectors still
    shape the centroids, and the fit stays deterministic."""
    from hdata_spark.operators.similarity import kmeans_fit

    rows = [
        (0, [1.0, 0.0]), (1, [0.0, 1.0]),            # seeds
        (2, [float("nan"), 1.0]),                     # NaN component
        (3, [float("inf"), 1.0]),                     # +Inf component
        (4, [1.0, float("-inf")]),                    # -Inf component
        (5, [0.9, 0.1]), (6, [0.1, 0.9]),             # clean
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = {r["cell"]: r["cv"] for r in kmeans_fit(df, n_cells=2, n_iters=2).collect()}
    assert set(cents) <= {0, 1} and len(cents) >= 1
    for cv in cents.values():
        assert all(v == v and abs(v) < 1e9 for v in cv), cv  # finite


def test_multimodal_downsample_and_resize_stub(spark):
    """Binary-in/binary-out plumbing: downsample keeps every stride-th byte;
    resize really works for PPM, and codec-less formats still raise."""
    import pytest as _pytest

    from hdata_spark.operators.multimodal import (
        downsample_payloads,
        decode_image,
        encode_ppm,
        resize_image,
        with_payload_from_text,
    )

    d = with_payload_from_text(_docs(spark, [(1, "abcdefgh")]))
    out = downsample_payloads(d, stride=2).collect()
    assert bytes(out[0]["payload"]) == b"aceg"
    # JPEG magic: no codec in this sandbox -> honest NotImplementedError
    with _pytest.raises(NotImplementedError):
        resize_image(b"\xff\xd8\xff\xe0...", 64, 64)
    # PPM roundtrip: encode -> resize -> decode, nearest-neighbor semantics
    import numpy as np

    arr = (np.arange(6 * 4 * 3) % 256).astype(np.uint8).reshape((4, 6, 3))
    small = resize_image(encode_ppm(arr), 3, 2)
    dec = decode_image(small)
    assert dec.shape == (2, 3, 3)
    assert (dec == arr[::2, ::2]).all()  # integer index map picks rows 0,2


def test_ppm_codec_p5_p6_and_headers():
    import numpy as np

    from hdata_spark.operators.multimodal import decode_image, encode_ppm

    gray = (np.arange(12) % 256).astype(np.uint8).reshape((3, 4))
    assert (decode_image(encode_ppm(gray)) == gray).all()
    # comments + extra whitespace in the header parse correctly
    payload = b"P5 # comment\n# another\n 4\t3 \n255\n" + bytes(range(12))
    dec = decode_image(payload)
    assert dec.shape == (3, 4) and dec[0, 0] == 0 and dec[2, 3] == 11
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_image(b"P5\n4 3\n255\n" + bytes(range(5)))  # truncated raster


def test_decode_image_stats_matches_fixture_arithmetic(spark):
    from hdata_spark.operators.multimodal import (
        decode_image_stats,
        with_ppm_payload,
    )

    docs = _docs(spark, [(i, "x") for i in range(7)])
    rows = {
        r["doc_id"]: r
        for r in decode_image_stats(with_ppm_payload(docs)).collect()
    }
    for i in range(7):
        w, h = 4 + i % 5, 3 + i % 4
        n = w * h * 3
        assert (rows[i]["width"], rows[i]["height"]) == (w, h)
        assert rows[i]["channels"] == 3
        assert rows[i]["n_pixel_bytes"] == n
        assert rows[i]["sum_byte"] == sum((i * 31 + 7 * j) % 256 for j in range(n))


def test_frame_sample_short_payloads_dropped(spark):
    from hdata_spark.operators.multimodal import frame_sample, with_payload_from_text

    d = with_payload_from_text(_docs(spark, [(1, "ab"), (2, "abcdefghij")]))
    rows = frame_sample(d, n_frames=4).collect()
    assert {r["doc_id"] for r in rows} == {2}
    by_idx = {r["frame_idx"]: r for r in rows}
    assert len(by_idx) == 4
    # 10 bytes -> steps of 2, last frame takes the remainder (4 bytes)
    assert by_idx[0]["frame_len"] == 2 and by_idx[3]["frame_len"] == 4
    assert by_idx[3]["byte_offset"] == 6


def test_bpe_token_count_segments(spark):
    """Pre-tokenizer segments: contractions split off, punctuation runs and
    space-prefixed words count separately."""
    from hdata_spark.functions.text import bpe_token_count

    d = spark.createDataFrame(
        [(1, "I'll go, won't you?"), (2, "abc 123"), (3, "")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["n"] for r in d.select(
        "doc_id", bpe_token_count(F.col("text")).alias("n")
    ).collect()}
    # I | 'll | _go | , | _won | 't | _you | ?  -> 8 segments
    assert out[1] == 8
    # abc | _123 -> 2
    assert out[2] == 2
    assert out[3] == 0
