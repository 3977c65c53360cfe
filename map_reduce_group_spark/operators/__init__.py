"""Reusable operator library (the engine's public operator API).

Each module is independently importable; the registered queries in
``map_reduce_group_spark.plans`` are thin bindings of these operators to
the fixture tables.

Cache-lifetime contract (ADVICE r9): operators whose plans fan out over an
expensive head (dedup postings/members, importance feature frames,
market-basket order sets, the pipeline's exact-dedup survivors, …) persist
that head with ``MEMORY_AND_DISK`` *inside the returned plan*. The blocks
materialize on the caller's first action and stay cached until the caller
releases them — there is no consuming action inside the operator after
which it could unpersist. Long-lived sessions must therefore call
``spark.catalog.clearCache()`` (or ``unpersist()`` on the returned frame's
cached dependencies) between logical jobs, exactly as ``bench.py`` does
between queries. Plan-internal fanouts that need no caller-visible handle
use eager ``localCheckpoint`` instead (see operators/diagnostics.py). Those
blocks are NOT released by ``clearCache()``: building and collecting one
such query three times, clearing the cache after each, left
``getPersistentRDDs()`` at 1, 2, 3 — they stay until the session stops.
Tracking and releasing them is ROADMAP item 2.
"""

from map_reduce_group_spark.operators.asof import asof_join
from map_reduce_group_spark.operators.clusters import connected_components
from map_reduce_group_spark.operators.dedup import (
    exact_dedup_groups,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)
from map_reduce_group_spark.operators.similarity import (
    cosine_neardup_pairs,
    cosine_topk,
    ivf_topk,
)
from map_reduce_group_spark.operators.text import (
    bpe_ish_token_count,
    chunk_documents,
    fingerprint,
    predicted_lang,
    token_count,
    tokens,
)

__all__ = [
    "asof_join",
    "bpe_ish_token_count",
    "chunk_documents",
    "connected_components",
    "cosine_neardup_pairs",
    "cosine_topk",
    "exact_dedup_groups",
    "fingerprint",
    "ivf_topk",
    "minhash_lsh_pairs",
    "minhash_signatures",
    "ngram_jaccard_pairs",
    "predicted_lang",
    "simhash",
    "simhash_near_pairs",
    "token_count",
    "tokens",
]
