from vptstools_spark.functions.scalars import (  # noqa: F401
    datetime_to_proper8601,
    int_to_nodata,
    number_to_bool_str,
    check_source_file,
    source_str_to_map,
    round6,
)
from vptstools_spark.functions.paths import (  # noqa: F401
    parse_odim_filename,
    inventory_path_features,
    directory_col,
)
