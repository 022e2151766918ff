from etl_pack_spark.operators.hashing import row_hash, with_row_hash  # noqa: F401
from etl_pack_spark.operators.dedup import (  # noqa: F401
    exact_dedup,
    incremental_filter,
    incremental_load,
    snapshot_hashes,
)
from etl_pack_spark.operators.neardup import (  # noqa: F401
    hamming_match_incremental,
    hamming_neardup_pairs,
    minhash_lsh_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
    simhash_signature,
    minhash_match_incremental,
)
from etl_pack_spark.operators.similarity import (  # noqa: F401
    cosine_neardup_pairs,
    cosine_topk,
    ivf_topk,
    lsh_neardup_pairs,
)
from etl_pack_spark.operators.sampling import (  # noqa: F401
    budget_select,
    budget_select_sql,
    domain_cap,
    domain_cap_sql,
    grouped_split_assign,
    grouped_split_sql,
    mixture_resample,
    split_assign,
    stratified_sample,
)
from etl_pack_spark.operators.textops import (  # noqa: F401
    fingerprint,
    language_id,
    lexicon_sentiment,
    redact_pii,
    text_signals,
    token_counts,
    unigram_logprob,
    ppl_bucket_split,
    ppl_bucket_split_sql,
)
from etl_pack_spark.operators.multimodal import (  # noqa: F401
    binarize_documents,
    byte_histogram,
    decode_image,
    audio_dhash,
    audio_features,
    image_dhash,
    bmp_decode,
    gif_decode,
    jpeg_decode,
    media_metadata,
    pixel_decode,
    ppm_decode,
    mp4_meta,
    wav_decode,
    pdf_images,
    pdf_text,
    png_decode,
    resize_image,
)
from etl_pack_spark.operators.quality import expect, profile  # noqa: F401
from etl_pack_spark.operators.skew import salted_join  # noqa: F401
from etl_pack_spark.operators.components import (  # noqa: F401
    cluster_dedup,
    connected_components,
    neardup_clusters,
)
from etl_pack_spark.operators.contamination import (  # noqa: F401
    contamination_report,
    decontaminate,
)
from etl_pack_spark.operators.packing import pack_sequences, pack_stats  # noqa: F401
from etl_pack_spark.operators.bpe import bpe_encode, train_bpe  # noqa: F401
from etl_pack_spark.operators.classify import nb_score, nb_train  # noqa: F401
from etl_pack_spark.operators.temporal import asof_join, range_join, rolling_aggregate  # noqa: F401
from etl_pack_spark.operators.cleaning import (  # noqa: F401
    c4_clean,
    dedup_lines,
    gopher_signals,
)
from etl_pack_spark.operators.quantize import (  # noqa: F401
    pq_encode,
    pq_topk,
    pq_train,
)
from etl_pack_spark.operators.retrieval import (  # noqa: F401
    bm25_topk,
    build_postings,
    term_stats,
)
from etl_pack_spark.operators.chunking import (  # noqa: F401
    chunk_documents,
    chunk_documents_sql,
)
from etl_pack_spark.operators.similarity import (  # noqa: F401
    assign_centroids,
    semantic_dedup,
    semantic_dedup_sql,
)
from etl_pack_spark.operators.substrings import (  # noqa: F401
    repeated_ngram_spans,
    repeated_ngram_spans_sql,
)
from etl_pack_spark.operators.cleaning import (  # noqa: F401
    html_clean_lines,
    html_strip,
    html_strip_sql,
)
from etl_pack_spark.operators.textops import (  # noqa: F401
    normalize_text,
    normalize_text_col,
    normalize_text_sql,
)
