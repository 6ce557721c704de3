"""Column-level function library (no Python UDFs in the hot path).

Everything here returns pyspark Columns built from built-in functions /
higher-order functions so plans stay inside whole-stage codegen.
"""

from osmesa_spark.functions.maps import (  # noqa: F401
    map_entry,
    map_sum_agg,
    merge_counts,
    simplify_counts,
    sum_map_values,
)
from osmesa_spark.functions.tags import (  # noqa: F401
    is_area,
    is_building,
    is_coastline,
    is_interesting,
    is_landuse,
    is_linear,
    is_natural,
    is_new,
    is_other,
    is_poi,
    is_rail_feature,
    is_rail_line,
    is_railway,
    is_road,
    is_tagged,
    is_waterway,
    split_delimited_values,
)
from osmesa_spark.functions.text import (  # noqa: F401
    doc_fingerprint,
    hashtags,
    merge_sets,
    quality_score,
    token_count,
)
from osmesa_spark.functions.timeseq import (  # noqa: F401
    day_key,
    sequence_to_timestamp,
    timestamp_to_sequence,
)
