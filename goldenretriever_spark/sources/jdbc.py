"""JDBC scan (SURVEY S8): the reference reads its querylog/feedback tables
from Postgres (app/api/db_handler.py:45-71, one psycopg2 cursor on the
driver). The Spark-native equivalent is the built-in JDBC source with
PARALLEL partitioned reads — the cursor loop becomes numPartitions
range-partitioned scans pushed down to the database.

The read itself is stock
``spark.read.format("jdbc").options(**jdbc_options(...)).load()``; this
module builds its option map, which is unit-tested without a driver jar.
"""

from __future__ import annotations


def jdbc_options(
    url: str,
    table: str,
    user: str | None = None,
    password: str | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
    fetchsize: int = 10_000,
) -> dict[str, str]:
    """Build the JDBC reader option map (pure — unit-testable without a
    driver jar). With partition_column + bounds, Spark issues num_partitions
    range-sliced queries in parallel (the only way a JDBC scan scales);
    without them the read is a single task — fine for dim tables only."""
    opts = {"url": url, "dbtable": table, "fetchsize": str(fetchsize)}
    if user is not None:
        opts["user"] = user
    if password is not None:
        opts["password"] = password
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partition_column requires lower_bound and upper_bound")
        opts.update(
            partitionColumn=partition_column,
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions),
        )
    return opts

