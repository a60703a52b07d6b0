"""Large-scale training-data pipeline operators (project north star):
deduplication, decontamination, similarity search, text analysis,
temporal joins, sketches, multimodal plumbing — first-class
components designed for the 100 TB regime.
"""

from graphraft_spark.ops import (  # noqa: F401
    decontaminate,
    dedup,
    multimodal,
    similarity,
    sketches,
    temporal,
    text_analysis,
)
