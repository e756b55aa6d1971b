"""Column-expression building blocks (all JVM-side, codegen-friendly).

These are the declarative equivalents of the reference's per-record Scala
logic; keeping them as pyspark.sql.functions expressions means Catalyst can
push/prune/fold them and whole-stage codegen keeps the hot path off Python.
"""

from snowplow_s3_loader_spark.functions.iglu import (  # noqa: F401
    iglu_schema_key,
    is_valid_iglu_uri,
)
from snowplow_s3_loader_spark.functions.timestamps import (  # noqa: F401
    enriched_collector_tstamp,
    tsv_field,
)
from snowplow_s3_loader_spark.functions.paths import partition_path  # noqa: F401
