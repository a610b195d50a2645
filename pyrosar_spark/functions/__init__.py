from pyrosar_spark.functions.temporal import (  # noqa: F401
    parse_date_col,
    seconds_col,
)
from pyrosar_spark.functions.naming import (  # noqa: F401
    outname_base_col,
    parse_datasetname_cols,
    hgt_tile_name,
    hemi_id,
)
