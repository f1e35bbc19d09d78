"""Table catalog with an Iceberg-like contract over plain parquet dirs.

BASELINE.json mandates Iceberg tables; this sandbox has no Iceberg runtime
jar, so the engine talks to tables through this thin wrapper implementing
the operations the build/query paths need — atomic overwrite-of-a-partition,
append, snapshot-read, table-level metadata — with a parquet-directory
implementation (staging dir + atomic rename). With the Iceberg jar on the
classpath, ``IcebergCatalog`` (same interface, ``writeTo(...).
overwritePartitions()`` / ``spark.read.format("iceberg")``) drops in; all
engine logic is format-agnostic behind this seam (SURVEY.md §7.3 #6).

Layout:
    root/<table>/<part_col>=<value>/*.parquet     hive-style partitions
    root/<table>/_schema.json                     the table's read schema
    root/<table>/_meta.json                       table metadata (scalars)
    root/<table>/_lineage.jsonl                   append-only lineage rows

The catalog owns each table's read schema. Every write that creates or
replaces a table records it in ``_schema.json`` inside the staged
directory, so data and schema swap in the same rename; every read passes
it to ``spark.read.schema``, so no read runs Spark's footer-inference
job, and a table with zero data files reads as an empty frame. The
recorded schema is exactly what inference would return: file column
order, every field nullable, the partition column last with the type
Spark infers from its directory names (``bucket`` is ``int`` although
``pmod(xxhash64)`` writes ``bigint``). Appends must match the recorded
schema and raise otherwise. A table written without a sidecar is inferred
from its files once, on its first read or append, and its sidecar
recorded then. Staging and rename-aside dirs are ``<table>.__*``
siblings of the table, invisible to its readers.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType, DataType, IntegerType, LongType, MapType, StructField,
    StructType,
)

SCHEMA_FILE = "_schema.json"


def _nullable(dt: DataType) -> DataType:
    """``dt`` with every nested field/element/value nullable — what a
    parquet read reports whatever nullability was written."""
    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, _nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(
            _nullable(dt.keyType), _nullable(dt.valueType), True
        )
    return dt


def _read_schema(
    schema: StructType, part_col: str | None = None, values=()
) -> StructType:
    """The schema a parquet read of ``schema``-shaped rows returns: data
    columns in write order, all nullable, then ``part_col`` typed as
    Spark infers it from the ``values`` in its dir names — int when each
    fits, else long. The catalog partitions on integral columns only."""
    fields = [f for f in _nullable(schema).fields if f.name != part_col]
    if part_col is not None:
        wide = any(not -(1 << 31) <= int(v) < 1 << 31 for v in values)
        fields.append(
            StructField(part_col, LongType() if wide else IntegerType(), True)
        )
    return StructType(fields)


class ParquetCatalog:
    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- paths --------------------------------------------------------------

    def table_path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def partition_path(self, table: str, part_col: str, value) -> str:
        return os.path.join(self.table_path(table), f"{part_col}={value}")

    def exists(self, table: str) -> bool:
        return os.path.isdir(self.table_path(table))

    def _stage(self, table: str, kind: str = "stage") -> str:
        return self.table_path(table) + f".__{kind}_{uuid.uuid4().hex[:8]}"

    # -- schema -------------------------------------------------------------

    def _recorded(self, table: str) -> StructType | None:
        try:
            with open(os.path.join(self.table_path(table), SCHEMA_FILE)) as f:
                return StructType.fromJson(json.load(f))
        except FileNotFoundError:
            return None

    @staticmethod
    def _record(path: str, schema: StructType) -> None:
        tmp = os.path.join(path, f"._schema_{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            f.write(schema.json())
        os.replace(tmp, os.path.join(path, SCHEMA_FILE))

    def schema(self, spark: SparkSession, table: str) -> StructType:
        """The table's read schema. A table written without a sidecar is
        inferred from its files once and the result recorded."""
        schema = self._recorded(table)
        if schema is None:
            path = self.table_path(table)
            schema = spark.read.option("basePath", path).parquet(path).schema
            self._record(path, schema)
        return schema

    def _holds_files(self, table: str) -> bool:
        """Whether the table dir holds a data file (anything Spark would
        read: not ``_``/``.``-prefixed)."""
        return any(
            not fn.startswith(("_", "."))
            for _dir, _subdirs, files in os.walk(self.table_path(table))
            for fn in files
        )

    def _pin(
        self, spark: SparkSession, table: str, schema: StructType, stage: str
    ) -> None:
        """Gate an append on the table's recorded schema. A table without
        a sidecar that already holds files is bootstrapped from them
        (``schema``); one holding none takes ``schema``. On a mismatch
        the stage is dropped and nothing reaches the table."""
        recorded = self._recorded(table)
        if recorded is None and self._holds_files(table):
            recorded = self.schema(spark, table)
        if recorded is None:
            os.makedirs(self.table_path(table), exist_ok=True)
            self._record(self.table_path(table), schema)
        elif recorded.simpleString() != schema.simpleString():
            shutil.rmtree(stage, ignore_errors=True)
            raise ValueError(
                f"rows written to {table} have schema "
                f"{schema.simpleString()}, but the table records "
                f"{recorded.simpleString()}"
            )

    # -- writes -------------------------------------------------------------

    @staticmethod
    def _staged_values(stage: str, part_col: str) -> list[str]:
        prefix = f"{part_col}="
        return sorted(
            d[len(prefix):] for d in os.listdir(stage) if d.startswith(prefix)
        )

    def _write(
        self, df: DataFrame, stage: str, part_col: str | None = None
    ) -> StructType:
        """Write ``df`` to ``stage`` (hive-partitioned on ``part_col``)
        and record its read schema there; returns that schema."""
        writer = df.write.mode("overwrite")
        if part_col is not None:
            writer = writer.partitionBy(part_col)
        writer.parquet(stage)
        values = self._staged_values(stage, part_col) if part_col else ()
        schema = _read_schema(df.schema, part_col, values)
        self._record(stage, schema)
        return schema

    def _swap(self, table: str, stage: str | None, final: str) -> None:
        """Rename-aside swap of ``stage`` into ``final`` (``stage`` None:
        drop ``final``). The old dir moves aside before the new one moves
        in and is only deleted once the new one is live: a failed promote
        moves it back, and a killed process leaves it whole beside the
        table, never half-deleted."""
        old = self._stage(table, "old")
        if os.path.isdir(final):
            os.rename(final, old)
        try:
            if stage is not None:
                os.rename(stage, final)
        except BaseException:
            if os.path.isdir(old):
                os.rename(old, final)
            raise
        shutil.rmtree(old, ignore_errors=True)

    def overwrite_table(self, df: DataFrame, table: str) -> None:
        """Atomic full-table replace (stage + swap)."""
        stage = self._stage(table)
        self._write(df, stage)
        self._swap(table, stage, self.table_path(table))

    def overwrite_table_partitioned(
        self, df: DataFrame, table: str, part_col: str
    ) -> None:
        """Atomic full replace of a hive-partitioned table (stage + swap).
        Readers via read_partitions() then prune to the named dirs."""
        stage = self._stage(table)
        self._write(df, stage, part_col)
        self._swap(table, stage, self.table_path(table))

    def overwrite_partitions(
        self, df: DataFrame, table: str, part_col: str, values
    ) -> list:
        """Replace partitions ``values`` of a hive-partitioned table with
        ``df``'s rows: one staged partitioned write, then a swap per
        partition; a value ``df`` has no rows for loses its live dir.
        ``df``'s schema becomes the table's. Returns the values that
        hold rows now."""
        stage = self._stage(table)
        try:
            schema = self._write(df, stage, part_col)
            os.makedirs(self.table_path(table), exist_ok=True)
            self._record(self.table_path(table), schema)
            present = []
            for v in values:
                src = os.path.join(stage, f"{part_col}={v}")
                if os.path.isdir(src):
                    open(os.path.join(src, "_SUCCESS"), "a").close()
                    present.append(v)
                else:
                    src = None
                self._swap(
                    table, src, self.partition_path(table, part_col, v)
                )
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        return present

    def append_partitioned(
        self, df: DataFrame, table: str, part_col: str, tag: str | None = None
    ) -> list:
        """Append rows into an existing hive-partitioned table: one staged
        partitioned write, then per-file renames into the live partition
        dirs (unique names — concurrent readers never see partial files;
        Iceberg's snapshot append is the transactional version of this).
        ``tag`` marks every appended file so a failed multi-table append
        can be rolled back file-by-file (remove_tagged). Returns the
        partition values appended to."""
        stage = self._stage(table, "append")
        self._pin(
            df.sparkSession, table, self._write(df, stage, part_col), stage
        )
        tag = tag or uuid.uuid4().hex[:8]
        touched = self._staged_values(stage, part_col)
        for v in touched:
            src = os.path.join(stage, f"{part_col}={v}")
            dst = self.partition_path(table, part_col, v)
            os.makedirs(dst, exist_ok=True)
            for fn in os.listdir(src):
                if fn.startswith("part-"):
                    os.rename(
                        os.path.join(src, fn), os.path.join(dst, f"a{tag}-{fn}")
                    )
            open(os.path.join(dst, "_SUCCESS"), "a").close()
        shutil.rmtree(stage, ignore_errors=True)
        return touched

    def append_table(
        self, df: DataFrame, table: str, tag: str | None = None
    ) -> None:
        """Append rows to an unpartitioned table (staged write + renames)."""
        final = self.table_path(table)
        stage = self._stage(table, "append")
        self._pin(df.sparkSession, table, self._write(df, stage), stage)
        tag = tag or uuid.uuid4().hex[:8]
        for fn in os.listdir(stage):
            if fn.startswith("part-"):
                os.rename(
                    os.path.join(stage, fn), os.path.join(final, f"a{tag}-{fn}")
                )
        shutil.rmtree(stage, ignore_errors=True)

    def remove_tagged(self, table: str, tag: str) -> int:
        """Roll back a tagged append: delete every ``a{tag}-*`` file under
        the table (including partition subdirs). Returns files removed."""
        root = self.table_path(table)
        if not os.path.isdir(root):
            return 0
        prefix = f"a{tag}-"
        removed = 0
        for dirpath, _dirnames, filenames in os.walk(root):
            for fn in filenames:
                if fn.startswith(prefix):
                    os.remove(os.path.join(dirpath, fn))
                    removed += 1
        return removed

    def partition_complete(self, table: str, part_col: str, value) -> bool:
        p = self.partition_path(table, part_col, value)
        return os.path.isdir(p) and os.path.exists(os.path.join(p, "_SUCCESS"))

    # -- reads --------------------------------------------------------------

    def _reader(self, spark: SparkSession, table: str):
        return spark.read.schema(self.schema(spark, table)).option(
            "basePath", self.table_path(table)
        )

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        """Read a table under its recorded schema (no inference job; a
        table with zero data files reads as an empty frame)."""
        return self._reader(spark, table).parquet(self.table_path(table))

    def read_partitions(
        self, spark: SparkSession, table: str, part_col: str, values: list
    ) -> DataFrame:
        """Partition-pruned read: only the named partition dirs are listed —
        the on-disk realization of inverted-index term lookup."""
        paths = [
            self.partition_path(table, part_col, v)
            for v in values
            if os.path.isdir(self.partition_path(table, part_col, v))
        ]
        if not paths:
            raise FileNotFoundError(
                f"no partitions {values} in table {table}"
            )
        return self._reader(spark, table).parquet(*paths)

    # -- metadata / lineage ---------------------------------------------------

    def write_meta(self, table: str, meta: dict) -> None:
        """Atomic metadata write. Every write stamps a fresh
        ``meta_version`` (uuid): readers that cache derived state (e.g.
        Searcher's term->df map) key their cache on it — file stat
        (mtime, size) is NOT a safe epoch on coarse-timestamp filesystems,
        where two same-length rewrites within one tick would serve a
        stale cache."""
        os.makedirs(self.table_path(table), exist_ok=True)
        meta = dict(meta)
        meta["meta_version"] = uuid.uuid4().hex
        tmp = os.path.join(self.table_path(table), f"._meta_{uuid.uuid4().hex[:8]}")
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1)
        os.replace(tmp, os.path.join(self.table_path(table), "_meta.json"))

    def read_meta(self, table: str) -> dict:
        with open(os.path.join(self.table_path(table), "_meta.json")) as f:
            return json.load(f)

    def lineage_append(self, table: str, row: dict) -> None:
        os.makedirs(self.table_path(table), exist_ok=True)
        with open(os.path.join(self.table_path(table), "_lineage.jsonl"), "a") as f:
            f.write(json.dumps(row) + "\n")

    def lineage_rows(self, table: str) -> list[dict]:
        p = os.path.join(self.table_path(table), "_lineage.jsonl")
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return [json.loads(line) for line in f if line.strip()]
