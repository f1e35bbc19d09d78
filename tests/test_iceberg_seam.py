"""The Iceberg seam (SURVEY.md §7.3 #6, BASELINE.json's named table
format).

The engine talks to tables exclusively through the ``ParquetCatalog``
contract (sources/catalog.py): atomic overwrite-of-a-partition, tagged
append + rollback, snapshot read, table metadata with a fresh
``meta_version`` per write, append-only lineage rows. Those are exactly
the operations Iceberg provides transactionally —

    overwrite_partitions     -> df.writeTo(t).overwritePartitions()
    append_partitioned/table -> df.writeTo(t).append()  (one snapshot)
    remove_tagged            -> table rollback to the pre-append snapshot
    read/read_partitions     -> spark.read.format("iceberg") + partition
                                pruning from Iceberg metadata
    write_meta/meta_version  -> table properties / snapshot id as epoch
    lineage rows             -> snapshot summary entries

This sandbox ships no Iceberg runtime jar (no network; pip/apt installs
prohibited), so an ``IcebergCatalog`` subclass cannot be exercised here:
the test below runs ONLY when the jar is present, and otherwise skips
with that reason — documenting the seam instead of shipping dead code
that has never executed.
"""

import pytest


def _iceberg_available() -> bool:
    import os

    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    return any("iceberg" in f.lower() for f in os.listdir(jars))


@pytest.mark.skipif(
    not _iceberg_available(),
    reason="no Iceberg runtime jar in this environment; the catalog seam "
    "is documented in sources/catalog.py and this module's docstring",
)
def test_iceberg_catalog_roundtrip(spark, tmp_path):
    """With the jar on the classpath: create an Iceberg-backed catalog,
    write a partitioned table, overwrite one partition, and read it back
    partition-pruned — the same contract test_ingest exercises against
    ParquetCatalog."""
    spark.conf.set(
        "spark.sql.catalog.ms_ice", "org.apache.iceberg.spark.SparkCatalog"
    )
    spark.conf.set("spark.sql.catalog.ms_ice.type", "hadoop")
    spark.conf.set("spark.sql.catalog.ms_ice.warehouse", str(tmp_path))
    df = spark.range(10).withColumn("bucket", (spark.range(10)["id"] % 2))
    df.writeTo("ms_ice.db.t").partitionedBy("bucket").createOrReplace()
    got = spark.read.table("ms_ice.db.t").where("bucket = 1").count()
    assert got == 5
