"""cs533_big_data_data_mining_spark — a PySpark-native analytics engine.

Re-implements the complete capability surface of the reference
(dhoule/CS533-Big-Data-Data-Mining — an MPI C++ distributed DBSCAN
engine, PDSDBSCAN-D, Patwary et al. SC'12) as idiomatic PySpark
DataFrame operators, plus large-scale training-data-pipeline
extensions (dedup, similarity search, text analysis, multimodal
column plumbing).

Design stance (SURVEY.md §7): DataFrame/Arrow first; Catalyst plans
everything SQL-expressible; per-cell numeric kernels run in
``applyInPandas`` with NumPy; determinism and partition-count
invariance are hard requirements (the reference's known bug —
cluster count degrades with parallelism — is fixed by construction).
"""

from cs533_big_data_data_mining_spark.session import _install_worker_import_guard

# a no-op on the driver; in a PySpark worker, the first task that
# unpickles an engine kernel installs it for every later task
_install_worker_import_guard()

from cs533_big_data_data_mining_spark.operators.curate import (
    curate_corpus,
    curate_documents,
    curate_embeddings,
)
from cs533_big_data_data_mining_spark.operators.asof import asof_join
from cs533_big_data_data_mining_spark.operators.dbscan import dbscan, dbscan_stats
from cs533_big_data_data_mining_spark.operators.decontaminate import (
    decontaminate,
    decontaminate_bloom,
)
from cs533_big_data_data_mining_spark.operators.dedup import (
    bipartite_survivors,
    duplicated_spans,
    duplicated_spans_bipartite,
    exact_dedup,
    exact_dedup_bipartite,
    exact_dedup_bipartite_bloom,
    exact_history_bloom,
    minhash_dedup_pairs,
    paragraph_dedup,
    paragraph_dedup_bipartite,
    paragraph_dedup_bipartite_bloom,
    paragraph_history_bloom,
    remove_duplicated_spans,
    url_dedup,
    url_dedup_bipartite,
    url_dedup_bipartite_bloom,
    url_history_bloom,
    minhash_dedup_pairs_bipartite,
    ngram_jaccard_pairs,
    simhash64,
    simhash_neardup_pairs,
    span_dup_stats,
)
from cs533_big_data_data_mining_spark.operators.funnel import funnel_stages, retention_cohorts
from cs533_big_data_data_mining_spark.operators.joins import (
    bucketed_join,
    salted_join,
    write_bucketed,
)
from cs533_big_data_data_mining_spark.operators.neighbors import epsilon_join
from cs533_big_data_data_mining_spark.operators.packing import (
    chunk_documents,
    pack_sequences,
    shard_rows,
    write_training_shards,
)
from cs533_big_data_data_mining_spark.operators.sketches import (
    bloom_build,
    cms_build,
    cms_estimates,
    cms_load,
    cms_save,
    heavy_hitters,
)
from cs533_big_data_data_mining_spark.operators.classify import (
    lang_id_nb,
    langid_train,
    nb_classify,
    nb_train,
)
from cs533_big_data_data_mining_spark.operators.profile import (
    check_expectations,
    profile_numeric,
)
from cs533_big_data_data_mining_spark.operators.quality import (
    assign_split,
    balance_sources,
    dsir_logratio,
    dsir_resample,
    c4_filters,
    compression_ratio,
    fineweb_filters,
    gopher_repetition,
    gopher_rules,
    lm_perplexity,
    mix_to_budget,
    quantile_filter,
    quantile_filter_by,
    remove_boilerplate_lines,
    repetition_stats,
    sample_sources,
    temperature_fractions,
    temperature_weights,
    url_filter,
)
from cs533_big_data_data_mining_spark.operators.similarity import (
    assign_to_centroids,
    cosine_topk_bruteforce,
    knn_classify,
    label_centroids,
    embedding_neardup_pairs,
    ivf_index,
    ivf_load,
    ivf_save,
    ivf_topk,
    semdedup,
    semdedup_bipartite,
    semdedup_pairs_bipartite,
)
from cs533_big_data_data_mining_spark.operators.multimodal import (
    audio_stats,
    byte_histogram_features,
    decode_media,
    dhash64,
    documents_as_media,
    frame_sample_media,
    image_stats,
    phash_neardup_pairs,
    phash_neardup_pairs_bipartite,
    resize_image,
)
from cs533_big_data_data_mining_spark.operators.bpe import (
    bpe_decode,
    bpe_doc_token_counts,
    bpe_ids,
    bpe_special_ids,
    bpe_token_count,
    bpe_tokens,
    bpe_train,
    load_merges,
    merges_table,
)
from cs533_big_data_data_mining_spark.functions.text import clean_text, redact_pii
from cs533_big_data_data_mining_spark.functions.url import normalize_url, url_host
from cs533_big_data_data_mining_spark.operators.tfidf import tf_idf
from cs533_big_data_data_mining_spark.sources.documents import (
    jsonl_to_parquet,
    read_documents_jsonl,
    write_documents_jsonl,
)
from cs533_big_data_data_mining_spark.sources.warc import read_warc, warc_text
from cs533_big_data_data_mining_spark.sources.points import (
    as_points,
    read_points_bin,
    read_points_parquet,
    write_clusters,
)
from cs533_big_data_data_mining_spark.streaming.curate import curate_ingest
from cs533_big_data_data_mining_spark.streaming.sessions import sessionize

__version__ = "0.1.0"

__all__ = [
    "dbscan",
    "dbscan_stats",
    "as_points",
    "read_points_bin",
    "read_points_parquet",
    "write_clusters",
    "read_documents_jsonl",
    "write_documents_jsonl",
    "jsonl_to_parquet",
    "read_warc",
    "warc_text",
    "exact_dedup",
    "exact_dedup_bipartite",
    "exact_dedup_bipartite_bloom",
    "exact_history_bloom",
    "url_dedup",
    "url_dedup_bipartite",
    "url_dedup_bipartite_bloom",
    "url_history_bloom",
    "remove_duplicated_spans",
    "shard_rows",
    "write_training_shards",
    "normalize_url",
    "url_filter",
    "url_host",
    "gopher_rules",
    "gopher_repetition",
    "c4_filters",
    "compression_ratio",
    "fineweb_filters",
    "dsir_logratio",
    "dsir_resample",
    "mix_to_budget",
    "temperature_weights",
    "minhash_dedup_pairs",
    "minhash_dedup_pairs_bipartite",
    "bipartite_survivors",
    "ngram_jaccard_pairs",
    "paragraph_dedup",
    "paragraph_dedup_bipartite",
    "paragraph_dedup_bipartite_bloom",
    "paragraph_history_bloom",
    "simhash64",
    "simhash_neardup_pairs",
    "duplicated_spans",
    "duplicated_spans_bipartite",
    "span_dup_stats",
    "semdedup",
    "semdedup_bipartite",
    "semdedup_pairs_bipartite",
    "assign_to_centroids",
    "ivf_index",
    "ivf_save",
    "ivf_load",
    "lm_perplexity",
    "clean_text",
    "curate_corpus",
    "curate_documents",
    "curate_embeddings",
    "epsilon_join",
    "salted_join",
    "write_bucketed",
    "bucketed_join",
    "funnel_stages",
    "retention_cohorts",
    "cosine_topk_bruteforce",
    "embedding_neardup_pairs",
    "ivf_topk",
    "tf_idf",
    "asof_join",
    "pack_sequences",
    "chunk_documents",
    "knn_classify",
    "label_centroids",
    "lang_id_nb",
    "langid_train",
    "nb_classify",
    "nb_train",
    "redact_pii",
    "decontaminate",
    "decontaminate_bloom",
    "bloom_build",
    "repetition_stats",
    "balance_sources",
    "remove_boilerplate_lines",
    "sample_sources",
    "temperature_fractions",
    "quantile_filter_by",
    "assign_split",
    "quantile_filter",
    "cms_build",
    "cms_load",
    "cms_save",
    "cms_estimates",
    "heavy_hitters",
    "profile_numeric",
    "check_expectations",
    "decode_media",
    "image_stats",
    "audio_stats",
    "resize_image",
    "frame_sample_media",
    "byte_histogram_features",
    "documents_as_media",
    "sessionize",
    "curate_ingest",
    "__version__",
    "dhash64",
    "phash_neardup_pairs",
    "phash_neardup_pairs_bipartite",
    "bpe_train",
    "bpe_tokens",
    "bpe_token_count",
    "bpe_ids",
    "bpe_decode",
    "bpe_special_ids",
    "bpe_doc_token_counts",
    "merges_table",
    "load_merges",
]
