"""Shared deterministic constants.

The aachen-like working bbox is the public extent of the reference's
test region (/root/reference/test/helpers.py:87-95). Every derived
constant is written out as an exact Python float literal so that the
Spark expressions and the DuckDB oracle SQL are built from the *same
bits* — all oracle-compared math is restricted to IEEE +,-,*,/ /
floor / %, which evaluate bit-identically in both engines.
"""

# Aachen-like region bbox, EPSG:4326 (reference test/helpers.py:89-94)
XMIN = 5.974861621856746
YMIN = 50.494369506836165
XMAX = 6.419306755066032
YMAX = 50.95013427734369

# Precomputed spans (embedded literally on both engine + oracle sides)
XSPAN = XMAX - XMIN
YSPAN = YMAX - YMIN

# Urban hot-spot (skew cluster) — square patch, side 0.02 deg
HOT_CX = 6.083
HOT_CY = 50.775
HOT_HALF = 0.01

# Geocoder LCG (classic glibc constants; exact in int64 for doc_id<=2^32)
LCG_A = 1103515245
LCG_C = 12345
LCG_M = 2147483648  # 2^31
HOT_MOD = 5  # doc_id % 5 == 0 -> hot-spot (20% of docs)

# Local analysis grid over the bbox (engine's join prefilter index).
# 128x128 cells; INV factors precomputed so both sides evaluate
# floor((lon - XMIN) * GRID_INV_X). Finer grid = thinner boundary band
# = fewer rows reaching the exact-PIP refinement UDF.
GRID_N = 128
GRID_INV_X = GRID_N / XSPAN
GRID_INV_Y = GRID_N / YSPAN

# Spatial-join prefilter grid (internal, decoupled from the oracle-
# facing GRID_N). A finer grid thins the boundary band that reaches the
# exact test but grows the broadcast candidate map, which is rebuilt,
# shipped and broadcast on every join call. Measured on a 4-core host
# (115 fixture zones, join + per-zone count, 13k-20M points): 128^2
# was the fastest of 64/128/256/512 at every point count — 19,043
# zone candidate rows (7,376 for the 24-vertex region) against
# 265,110 (115,135) at 512^2.
JOIN_GRID_N = 128
JOIN_GRID_INV_X = JOIN_GRID_N / XSPAN
JOIN_GRID_INV_Y = JOIN_GRID_N / YSPAN

# Raster workspace: W x H pixel grid over the bbox, tiled T x T.
RASTER_W = 512
RASTER_H = 512
TILE_SIZE = 64  # pixels per tile side -> 8x8 = 64 tiles
PIX_DX = XSPAN / RASTER_W
PIX_DY = YSPAN / RASTER_H

# Global equirectangular cell zoom used for the oracle-safe "tile"
# queries (the true Web-Mercator slippy index lives in kernels.tiling
# and is golden-tested against the reference, not oracle-compared
# because ln() differs by 1 ULP between DuckDB and the JVM).
CELL_ZOOM = 12
CELL_N = 1 << CELL_ZOOM  # 4096

# Web-Mercator constants for the true slippy kernels
EARTH_R = 6378137.0

# Value-field parameters (integer-valued so sums are exact and
# order-independent in float64 on both engines).
CLC_CLASSES = 44
ELEV_MOD = 97
