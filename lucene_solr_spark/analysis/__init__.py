"""Analysis chains: a tokenizer plus a per-token function, run by one
batch driver (analysis/analyzer.py)."""

from lucene_solr_spark.analysis.analyzer import (  # noqa: F401
    analyze_batch_codes,
    analyze_batch_flat,
    analyze_text,
)
from lucene_solr_spark.analysis.stopwords import ENGLISH_STOP_WORDS  # noqa: F401
from lucene_solr_spark.analysis.tokenizer import (  # noqa: F401
    DEFAULT_MAX_TOKEN_LENGTH,
    tokenize,
)
