"""mapnik_vector_tile_spark — a from-scratch PySpark-native spatial
tiling + join engine with the query/data-processing semantics of
mapycz/mapnik-vector-tile (XYZ/Web-Mercator tile assignment, buffered
clipping, Douglas-Peucker simplification to tile-local integer
coordinates, MVT layer/tile encoding, raster<->vector materialization),
re-expressed as DataFrame algebra + vectorized Arrow/pandas UDFs.

NOT a port: the reference is a header-only C++14 library
(src/vector_tile_*.hpp); here every tile is a group key, every
datasource query is predicate pushdown, and every encode is a grouped
Arrow batch. See SURVEY.md for the full operator mapping.
"""

__version__ = "0.1.0"

# Here, not in a submodule: unpickling any of the package's UDFs in a
# Spark Python worker imports this file, so every reused worker gets it.
from mapnik_vector_tile_spark import _zipimport

_zipimport.install()

from mapnik_vector_tile_spark.session import get_spark  # noqa: E402,F401
