"""Import every query module so REGISTRY is fully populated.

Imports are deliberately LOUD: a missing query module must fail collection,
not be silently swallowed (a round-1 try/except hid a dead import for a
module that never existed). REGISTRY iterates in registration order; callers
that need a stable order sort by name.
"""

from . import (  # noqa: F401
    corpus_quality,
    events_queries,
    feature_ops,
    graph,
    incremental,
    llm,
    llm_mix,
    relational,
    retrieval_graph,
    stats,
    streaming_queries,
    subqueries,
    tokenizer,
    tpch_more,
    tpch_rest,
)
from .registry import REGISTRY  # noqa: F401
