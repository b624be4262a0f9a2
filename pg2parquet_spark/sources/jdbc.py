# The names perfbench/ still imports from here; they live in pgcopy. The
# benchmark PR (ROADMAP item 1) points perfbench at pgcopy and deletes this.
from pg2parquet_spark.sources.pgcopy import (  # noqa: F401
    ENUM_LABELS_SQL,
    PostgresConnection,
    rewrite_query_for_exotics,
)
