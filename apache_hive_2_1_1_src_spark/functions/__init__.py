"""Hive function-catalog compatibility layer.

The reference registers 247 scalar/aggregate/table functions in
ql/src/java/org/apache/hadoop/hive/ql/exec/FunctionRegistry.java:183-520.
Nearly all map 1:1 to pyspark.sql.functions (SURVEY.md §2.5); this package
implements the gap set (✗/≈ entries) and the registration surface.
"""

from apache_hive_2_1_1_src_spark.functions.compat import (  # noqa: F401
    elt,
    field,
    nvl,
    parse_url,
    parse_url_tuple,
    register_hive_udfs,
    sum0,
)
from apache_hive_2_1_1_src_spark.functions.ngrams import (  # noqa: F401
    context_ngrams,
    ngrams,
)
