from .rollup import (  # noqa: F401
    series_rollup,
    daily_rollup,
    symbol_stats,
    dispersion_stats,
    latest_snapshot,
    conditional_counts,
)
from .resample import resample_series  # noqa: F401
from .dedup import dedup_by_key, dedup_by_key_agg  # noqa: F401
from .windows import sma, sma_chunked, rsi, daily_window_summary  # noqa: F401
from .topk import top_k, tail_limit, top_movers  # noqa: F401
from .joins import enrich, asof_join  # noqa: F401
from .text import (  # noqa: F401
    token_stats,
    quality_score,
    language_guess,
    fingerprint,
    kgram_bottomk_fingerprint,
    bpe_ish_tokens,
    token_ngrams,
    repetition_signals,
    chunk_documents,
    redact_pii,
)
from .corpus import top_ngrams, tf_idf_topk, decontaminate  # noqa: F401
from .sampling import stratified_sample, hash_split  # noqa: F401
from .dedup_similarity import (  # noqa: F401
    exact_dedup_groups,
    minhash_near_dup_pairs,
    exact_jaccard_pairs,
    simhash32,
    simhash_near_dup_pairs,
)
from .similarity import (  # noqa: F401
    brute_force_knn,
    lsh_knn,
    ivf_knn,
    embedding_near_dup_pairs,
)
from .extension import grouped_fold  # noqa: F401
