from gopensearch_spark.index.builder import (  # noqa: F401
    build_index,
    build_postings,
    compact_index,
    compact_streaming_index,
    current_generation,
    finalize_stats,
    fold_corpus_stats,
    read_corpus_stats,
    rebuild_term_dict,
    resolve_index_dir,
)
