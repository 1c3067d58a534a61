"""Partitioned-layout helpers: scan pruning, static and dynamic.

Bucketing (functions/bucketing.py) removes the JOIN shuffle; partitioning
removes the SCAN. At 100 TB a fact table is laid out by a coarse
directory key (date / year / region), and two pruning paths keep queries
from reading it all:

- STATIC pruning: a literal predicate on the partition column resolves
  at plan time — the scan's ``PartitionFilters`` drops whole directories
  before any I/O is issued.
- DYNAMIC partition pruning (DPP): the predicate lives on a DIMENSION
  joined to the fact (the star-schema norm: ``WHERE dim.attr = …`` with
  ``fact JOIN dim ON key``). Spark plans a ``dynamicpruningexpression``
  on the fact scan: at runtime the dim side's qualifying keys become an
  IN-subquery filter on the fact's partition column — the fact reads
  only the partitions the dim filter selects, without the author ever
  repeating the predicate on the fact.

Both are proven by plan + result tests in
``tests/test_partition_pruning.py`` (the bucketing test's sibling).
Partition-column choice: low-cardinality, append-aligned (dates),
never a high-NDV key — a 100 TB table wants thousands of partitions,
not millions of tiny files (x24's compaction planner prices exactly
that failure mode).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame, table_name: str, part_col: str
) -> None:
    """Persist as a directory-partitioned managed table (one directory
    per distinct ``part_col`` value — keep it low-cardinality)."""
    df.write.mode("overwrite").partitionBy(part_col).saveAsTable(table_name)


def pruned_scan(spark: SparkSession, table_name: str, part_col: str, value) -> DataFrame:
    """Static pruning: the literal partition predicate resolves at plan
    time; ``PartitionFilters`` on the scan proves no other directory is
    read."""
    return spark.table(table_name).filter(F.col(part_col) == F.lit(value))


def dpp_join(
    spark: SparkSession,
    fact_table: str,
    dim: DataFrame,
    on: str,
) -> DataFrame:
    """Star join whose fact scan is runtime-pruned by the dim filter.

    The caller filters ``dim`` however it likes; Spark derives the fact's
    partition filter from the join at runtime (``dynamicpruningexpression``
    in the fact scan's PartitionFilters). Requires
    ``spark.sql.optimizer.dynamicPartitionPruning.enabled`` (default on).
    """
    return spark.table(fact_table).join(dim, on)
