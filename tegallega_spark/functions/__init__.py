"""Scalar column-expression builders (SURVEY.md §2.8, F1-F15).

Everything here is a pure Column expression — JVM-side, whole-stage-codegen
friendly, no Python UDFs.  At 100 TB these run inside Tungsten codegen with
zero serialization overhead.
"""

from tegallega_spark.functions.geo import (  # noqa: F401
    haversine_km,
    haversine_m,
    lerp,
)
from tegallega_spark.functions.timecodec import (  # noqa: F401
    hhmm_to_seconds,
    gtfs_time_to_seconds,
    seconds_to_hhmmss,
)
from tegallega_spark.functions.ids import (  # noqa: F401
    shape_id_for,
    trip_id_train,
    trip_id_bus,
    trip_id_pbf,
    block_id_for,
    virtual_stop_id,
)
from tegallega_spark.functions.text import (  # noqa: F401
    simplify_name,
    detect_direction,
    extract_code,
    origin_dest_via,
)
