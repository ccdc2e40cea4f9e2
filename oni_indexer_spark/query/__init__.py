from oni_indexer_spark.query.bm25 import (  # noqa: F401
    fuzzy_topk,
    more_like_this,
    prefix_topk,
    search,
    snippet_topk,
    topk,
)
from oni_indexer_spark.query.facets import (  # noqa: F401
    facet_counts,
    facet_pivot,
    facet_query,
    facet_range,
    field_stats,
)
from oni_indexer_spark.query.grouping import group_topk  # noqa: F401
from oni_indexer_spark.query.paging import page  # noqa: F401
from oni_indexer_spark.query.rescore import boost_topk, rerank_topk  # noqa: F401
from oni_indexer_spark.query.suggest import spellcheck, suggest  # noqa: F401
from oni_indexer_spark.query.synonyms import synonym_topk  # noqa: F401
