from data_pipelines_spark.functions.grid import (
    GRID_PRECISION,
    GRID_RESOLUTION,
    cell_wkt,
    restrict_area,
    round_grid_keys,
    snap_to_grid,
)
from data_pipelines_spark.functions.classify import (
    condition_severity,
    intensity_label,
    peak_timing_label,
    tendency_label,
)
from data_pipelines_spark.functions.geo import (
    haversine_km,
    parse_tile_name,
    pixel_area_km2,
)

__all__ = [
    "GRID_PRECISION",
    "GRID_RESOLUTION",
    "cell_wkt",
    "restrict_area",
    "round_grid_keys",
    "snap_to_grid",
    "condition_severity",
    "intensity_label",
    "peak_timing_label",
    "tendency_label",
    "haversine_km",
    "parse_tile_name",
    "pixel_area_km2",
]
