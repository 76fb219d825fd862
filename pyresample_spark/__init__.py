"""pyresample_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of pytroll/pyresample.

Architecture (see SURVEY.md): every pyresample operation decomposes into
spatial join + aggregation + scalar projection math + filter, expressed as
declarative Spark DataFrame plans so Catalyst/Tungsten/AQE pick the
physical strategy. Geometry objects (areas, swaths) are small driver-side
structs; pixel data lives in long-format DataFrames keyed by (y, x) or a
flat cell id. UDFs appear only where a C library is genuinely required
(pyproj CRS transforms); everything else is built-in column expressions.

Scale stance: designed for 1000-executor clusters over ~100 TB. Joins are
cell-bucketed equi-joins (shuffle on the cell key, AQE skew handling),
small dimension sides are broadcast, filters are emitted as pushable
predicates, and aggregations rely on Catalyst's partial/final hash-agg.
"""

from pyresample_spark import pyworker
from pyresample_spark.geometry import (
    AreaDefinition,
    DynamicAreaDefinition,
    StackedAreaDefinition,
)
from pyresample_spark.session import get_spark

pyworker.install()

__all__ = [
    "AreaDefinition",
    "DynamicAreaDefinition",
    "StackedAreaDefinition",
    "get_spark",
]

__version__ = "0.1.0"
