"""Physical-plan utilities: sizing, lineage, caching, explain checks."""

from rdsa_utils_spark.plans.tuning import (  # noqa: F401
    cache_time_df,
    cut_lineage,
    pin,
    set_df_columns_nullable,
    smart_coalesce,
)
