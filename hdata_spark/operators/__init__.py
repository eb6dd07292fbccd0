from hdata_spark.operators.dedup import lww_latest, lww_latest_window
from hdata_spark.operators.similarity import cosine_topk, ivf_assign, ivf_search
from hdata_spark.operators.text_dedup import (
    lang_id_scores,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    ngram_jaccard_score,
    simhash_df,
    simhash_near_pairs,
)
