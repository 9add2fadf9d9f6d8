"""TableIO — storage abstraction (SURVEY.md §7.1 step 4).

``SnapshotTable`` is the always-available parquet snapshot format;
``IcebergTable`` binds to a real Iceberg catalog when its runtime jar
is on the classpath.
"""

from etl_gmaps_spark.tableio.snapshot_table import (  # noqa: F401
    BucketHashMismatch,
    CommitConflict,
    CommitResult,
    EpochSet,
    FormatVersionMismatch,
    SnapshotTable,
    bucket_expr,
)
from etl_gmaps_spark.tableio.iceberg_table import IcebergTable, iceberg_available  # noqa: F401
