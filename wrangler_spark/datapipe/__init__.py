"""Beyond-reference operators for large-scale training-data pipelines.

Not present in the reference engine (SURVEY §2.12) — these are the
Spark-native extensions a 100 TB corpus pipeline needs: deduplication
(exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding cosine),
approximate nearest-neighbor search, text analysis (language-ID, quality
scores, token counts, fingerprints), event analytics (funnels,
retention, transitions, journeys), and multimodal binary-column
plumbing.

Everything is built from native Column expressions and shuffles only where
the algorithm requires it (LSH band joins, inverted-index joins); the only
Python-per-row paths are clearly-marked multimodal decode stubs.
"""

from wrangler_spark.datapipe import dedup, events, graph, maintenance, similarity, text  # noqa: F401
from wrangler_spark.datapipe.maintenance import compact_index  # noqa: F401
from wrangler_spark.datapipe._checkpoint import (  # noqa: F401
    checkpoint_scope,
    eager_checkpoint,
    live_count,
    persistent_rdd_ids,
    release,
    release_all,
    scope_count,
)
