"""heavykeeper_rs_spark — a from-scratch PySpark-native top-K /
approximate-aggregation library with the query capabilities of
pmcgleenon/heavykeeper-rs (see SURVEY.md for the structural analysis).

Public surface:

- kernel.HeavyKeeper / variants.BucketedTopK / variants.CuckooTopK —
  the three mergeable sketch layouts (vectorized NumPy kernels)
- operators.topk — distributed topk / topk_tokens / topk_by_group /
  estimate / contains_top_k over DataFrames
- operators.agg — generic mergeable-sketch runner + HLL, CountMin,
  Bloom, KLL, TDigest builders
- operators.dedup / operators.similarity / operators.multimodal —
  corpus-curation operators (exact + LSH dedup, ANN search, media
  plumbing)
- functions.text — JVM-side tokenization / domain / lang-id /
  quality / fingerprint columns
- plans.checkpoint — resumable per-partition lineage + metrics
- streaming.topk_stream — Structured Streaming front-end
- sources.synth — deterministic webtext / Zipf generators
"""

__version__ = "0.1.0"

from . import zipcache

# Spark workers re-read every zip archive on sys.path before each task
# unless this is installed; see zipcache.py
zipcache.install()

from .errors import (  # noqa: F401
    BuilderError,
    HeavyKeeperError,
    InvalidDecay,
    InvalidDepth,
    InvalidK,
    InvalidWidth,
    SketchCompatError,
)
from .kernel import HeavyKeeper, HKParams, TopKQueue  # noqa: F401
from .variants import BucketedTopK, CuckooTopK  # noqa: F401

from . import gcfreeze

# after the kernel imports, so numpy and pandas are in the frozen set
# that PySpark's per-task gc.collect() no longer walks; see gcfreeze.py
gcfreeze.install()
