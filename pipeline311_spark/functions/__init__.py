"""Column-level functions: the reference's per-row cleaning kernel
(common.py:112-224 ``process_row``) decomposed into vectorized Spark
``Column`` expressions (SURVEY §2.3 P1-P19), plus timestamp and geometry
helpers.  No Python UDF: even NFKD->ASCII normalization (no Spark
builtin) runs in the JVM, via ICU4J from Spark's own classpath.
"""

from pipeline311_spark.functions.cleaning import (  # noqa: F401
    clean_cases,
    rename_projection,
    point_ewkt,
    clean_description,
    bounded_truncate,
    district_number,
    lower_trim,
    parent_id,
    private_flag,
    status_notes_col,
    text_field_guard,
)
from pipeline311_spark.functions.timeparse import (  # noqa: F401
    lenient_timestamp,
    to_local_string,
)
from pipeline311_spark.functions.text import (  # noqa: F401
    nfkd_ascii,
    ago_sanitize,
)
from pipeline311_spark.functions.geo import (  # noqa: F401
    parse_point_ewkt,
    esri_point_feature,
)
