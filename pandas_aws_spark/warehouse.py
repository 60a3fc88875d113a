"""Warehouse-table surface — the Spark-native re-expression of the
reference's ``pandas_aws/redshift.py`` ``RedshiftClient`` (all
file:line cites refer to ``/root/reference/pandas_aws/redshift.py``).

Capability map (SURVEY.md §2.2-§2.3):

=============================  =========================================
reference                      here
=============================  =========================================
``_validate_column_names``     :func:`normalize_column_names`
(redshift.py:88-100)           (lowercase, spaces->underscores,
                               reserved-word rejection)
``_to_redshift_types``         :func:`schema_to_ddl` — driven by
(redshift.py:102-114)          ``df.schema`` instead of dtype strings;
                               fixes the reference's int64->INTEGER and
                               float64->REAL narrowing bugs
``_create_redshift_table``     :meth:`WarehouseClient.create_table` —
(redshift.py:191-247)          DISTKEY -> CLUSTERED BY (bucketing),
                               SORTKEY -> SORTED BY / sortWithinPartitions,
                               audit column ``date_insert``
``upload_to_redshift``         :meth:`WarehouseClient.upload` — the
(redshift.py:249-334)          S3-staging + COPY pipeline collapses into
                               ``df.write.saveAsTable`` (executors write
                               the table files directly)
``get_df``                     :meth:`WarehouseClient.query_df` —
(redshift.py:417-448)          arbitrary SQL via ``spark.sql``; chunked
                               fetchmany becomes partitioned scan
``upsert_rows``                :meth:`WarehouseClient.upsert` — staged
(redshift.py:386-416)          delete+insert becomes anti-join + union
                               (last-write-wins; ALL update rows kept,
                               duplicates included — §3.4 semantics)
=============================  =========================================

Transactionality (reference R12): Redshift gave the reference
BEGIN/END atomicity (redshift.py:353-379). Plain-parquet Spark has
per-write atomicity only (file-commit protocol); the upsert here
stages the merged result at a fresh location and commits it with a
single ``ALTER TABLE .. SET LOCATION`` metadata operation (r10 — the
pre-r10 DROP-then-RENAME pair could crash between statements and leave
no table under the target name; now every crash point leaves the
target serving either the old or the new data in full). The residual
gap is that the ALTER's atomicity is the catalog's single-op
guarantee, not a multi-statement transaction. Full transactional
semantics need Delta/Iceberg
(jars not in this image — the client degrades gracefully, SURVEY §7).
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "RESERVED_WORDS",
    "add_reserved_words",
    "normalize_column_names",
    "schema_to_ddl",
    "WarehouseClient",
]

# ANSI/warehouse reserved words that may not be used as column names —
# the reference maintains the same kind of list (redshift.py:43-71,
# sourced from the public Redshift docs); this is the common ANSI core.
RESERVED_WORDS: set[str] = {
    "all", "and", "any", "as", "asc", "between", "by", "case", "cast",
    "check", "column", "constraint", "create", "cross", "current_date",
    "current_time", "current_timestamp", "default", "delete", "desc",
    "distinct", "drop", "else", "end", "except", "exists", "false",
    "for", "foreign", "from", "full", "group", "having", "in", "inner",
    "insert", "intersect", "into", "is", "join", "left", "like",
    "limit", "not", "null", "on", "or", "order", "outer", "primary",
    "references", "right", "select", "set", "table", "then", "to",
    "true", "union", "unique", "update", "user", "using", "values",
    "when", "where", "with",
}


def add_reserved_words(words: list[str]) -> None:
    """User-extensible reserved list (reference ``add_reserved_words``,
    redshift.py:79-86)."""
    RESERVED_WORDS.update(w.lower().strip() for w in words)


def normalize_column_names(df: DataFrame) -> DataFrame:
    """Lowercase, strip, spaces->underscores; reject reserved words.

    Reference parity: ``_validate_column_names`` (redshift.py:88-100).
    """
    new_names = []
    for c in df.columns:
        norm = c.strip().lower().replace(" ", "_")
        if norm in RESERVED_WORDS:
            raise ValueError(f"column name {c!r} normalizes to reserved word {norm!r}")
        new_names.append(norm)
    if len(set(new_names)) != len(new_names):
        raise ValueError(f"column names collide after normalization: {new_names}")
    return df.toDF(*new_names)


# Spark type -> warehouse DDL type. Fixes the reference's lossiness
# (redshift.py:105-108): int64 keeps BIGINT (not INTEGER), float64
# keeps DOUBLE PRECISION (not 4-byte REAL). Spark SQL has no
# ``DOUBLE PRECISION`` (PARSE_SYNTAX_ERROR at 'PRECISION'), so the
# spark dialect spells the same 8-byte type ``DOUBLE``.
_DDL_TYPES: list[tuple[type, str]] = [
    (T.LongType, "BIGINT"),
    (T.IntegerType, "INTEGER"),
    (T.ShortType, "SMALLINT"),
    (T.ByteType, "SMALLINT"),
    (T.DoubleType, "DOUBLE PRECISION"),
    (T.FloatType, "REAL"),
    (T.BooleanType, "BOOLEAN"),
    (T.TimestampType, "TIMESTAMP"),
    (T.DateType, "DATE"),
]


def _ddl_type(dt: T.DataType, dialect: str) -> str:
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    if isinstance(dt, T.DoubleType) and dialect == "spark":
        return "DOUBLE"
    for spark_t, ddl in _DDL_TYPES:
        if isinstance(dt, spark_t):
            return ddl
    if isinstance(dt, T.StringType):
        # reference falls back to VARCHAR(256) (redshift.py:113-114) —
        # a silent-truncation capacity bug; warehouse dialect widens to
        # the Redshift max, Spark dialect uses native STRING.
        return "VARCHAR(65535)" if dialect == "redshift" else "STRING"
    if dialect == "spark":
        return dt.simpleString().upper()  # arrays/maps/structs are native
    raise ValueError(f"no {dialect} DDL mapping for Spark type {dt}")


def schema_to_ddl(schema: T.StructType, dialect: str = "spark") -> str:
    """Column-list DDL from a Spark schema (reference
    ``_get_column_data_types``, redshift.py:116-122)."""
    return ", ".join(f"{f.name} {_ddl_type(f.dataType, dialect)}" for f in schema.fields)


class WarehouseClient:
    """Session-catalog warehouse client.

    Tables are external parquet tables rooted at ``warehouse_dir`` so
    repeated test runs never pollute the repo and DROP removes cleanly.
    On a real deployment the same API fronts a Hive metastore / Glue
    catalog, or a JDBC warehouse via :meth:`query_jdbc`.
    """

    def __init__(self, spark: SparkSession, warehouse_dir: str | None = None):
        self.spark = spark
        self.warehouse_dir = warehouse_dir or tempfile.mkdtemp(prefix="spark_warehouse_")

    def _loc(self, table: str) -> str:
        return f"{self.warehouse_dir}/{table}"

    # -- DDL (reference K8, redshift.py:191-247) ---------------------------

    def create_table(
        self,
        df: DataFrame,
        name: str,
        *,
        dist_key: str | None = None,
        n_buckets: int = 8,
        sort_key: list[str] | None = None,
        include_date_insert: bool = True,
        overwrite: bool = False,
    ) -> None:
        """Create an (empty) table from a DataFrame's schema.

        Physical layout hints map DISTKEY -> ``CLUSTERED BY`` bucketing
        (co-locates later joins on the key, the same goal as Redshift's
        DISTKEY, redshift.py:229-237) and SORTKEY -> ``SORTED BY``
        (zone-map locality, redshift.py:238-241).
        """
        df = normalize_column_names(df)
        schema = df.schema
        if include_date_insert:
            # audit column (reference redshift.py:218-219)
            schema = schema.add("date_insert", T.TimestampType())
        cols = schema_to_ddl(schema, dialect="spark")
        if overwrite:
            self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        clause = ""
        if dist_key:
            sort = f" SORTED BY ({', '.join(sort_key)})" if sort_key else ""
            clause = f" CLUSTERED BY ({dist_key}){sort} INTO {n_buckets} BUCKETS"
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {name} ({cols}) USING parquet{clause} "
            f"LOCATION '{self._loc(name)}'"
        )

    # -- load pipeline (reference K10, redshift.py:249-334) ----------------

    def upload(
        self,
        df: DataFrame,
        name: str,
        mode: str = "append",
        *,
        include_date_insert: bool = True,
        repartition_key: str | None = None,
        sort_key: list[str] | None = None,
    ) -> None:
        """Bulk-load a DataFrame into a catalog table.

        The reference's staging dance (gzip csv to S3 -> COPY,
        redshift.py:276-307) collapses: executors write table files
        directly. ``repartition_key``/``sort_key`` give the DISTKEY/
        SORTKEY physical layout without a bucketed metastore.
        """
        df = normalize_column_names(df)
        if include_date_insert:
            df = df.withColumn("date_insert", F.current_timestamp())
        if repartition_key:
            df = df.repartition(F.col(repartition_key))
        if sort_key:
            df = df.sortWithinPartitions(*sort_key)
        writer = df.write.mode(mode).option("path", self._loc(name))
        # Appending into a CLUSTERED BY target (create_table dist_key)
        # must declare the SAME bucket spec — Spark rejects a mismatched
        # saveAsTable outright, and files written without the spec would
        # be invalid bucket files for every later bucketed read.
        spec = self._bucket_spec(name)
        if spec is not None:
            n_buckets, bucket_cols, sort_cols = spec
            writer = writer.bucketBy(n_buckets, *bucket_cols)
            if sort_cols:
                writer = writer.sortBy(*sort_cols)
        writer.saveAsTable(name)

    # -- query (reference S7, redshift.py:417-448) -------------------------

    def query_df(self, sql: str, columns: dict[str, str] | None = None) -> DataFrame:
        """Arbitrary SQL -> DataFrame — the engine's primary query entry
        point. The reference's fetchmany chunk loop (redshift.py:434-439)
        disappears into partitioned, lazy execution; ``columns`` is the
        optional rename map (redshift.py:443-444)."""
        df = self.spark.sql(sql)
        if columns:
            for old, new in columns.items():
                df = df.withColumnRenamed(old, new)
        return df

    def query_jdbc(self, url: str, sql: str, **options) -> DataFrame:
        """Federated read from an external warehouse over JDBC (the
        'real Redshift' path). Partition with partitionColumn/lowerBound/
        upperBound/numPartitions instead of fetchmany chunking."""
        return (
            self.spark.read.format("jdbc")
            .option("url", url)
            .option("query", sql)
            .options(**options)
            .load()
        )

    # -- merge (reference M1-M4, redshift.py:336-416) ----------------------

    @staticmethod
    def merge_frames(target: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
        """Pure merge semantics of ``upsert_rows`` (redshift.py:386-416):
        delete target rows whose composite key appears in the update
        set, then insert ALL staged rows (duplicate keys in the update
        set all land — reference §3.4, replicated faithfully).

        = ``target ANTI JOIN updates ON keys  UNION ALL  updates``.
        """
        survivors = target.join(updates.select(*keys).distinct(), on=keys, how="left_anti")
        return survivors.unionByName(updates, allowMissingColumns=False)

    def upsert(self, updates: DataFrame, target_table: str, keys: list[str]) -> None:
        """Keyed last-write-wins merge into a catalog table.

        Commit protocol (r10, the pointer-swap idea genstore applies to
        the index artifacts, translated to the catalog world where
        ``spark.table(name)`` IS the pointer): the merged result is
        fully written to a fresh uuid'd stage location first, and the
        commit point is a SINGLE metadata operation — ``ALTER TABLE
        target SET LOCATION <stage>`` — after which cleanup (dropping
        the stage name, deleting the superseded directory) is garbage
        collection of inert objects. A crash before the ALTER leaves
        the target serving its old data plus an orphaned uuid'd stage
        (a retry stages fresh and converges); a crash after it leaves
        the target serving the new data. This replaces the pre-r10
        DROP-then-RENAME pair, whose between-statements crash left NO
        table under the target name. Residual caveat (module
        docstring): the ALTER's atomicity is the catalog's, not a
        multi-statement transaction — Delta/Iceberg would subsume it,
        their jars are absent here.

        Bucketed targets (r10 ADVICE): the ALTER retains the target's
        CLUSTERED BY metadata, so the stage MUST be written with the
        same bucket spec — an unbucketed stage passes the plain read
        but fails every later bucketed-scan read with
        ``INVALID_BUCKET_FILE``. The spec is read from the catalog and
        applied to the stage write, so upsert into a DISTKEY table
        (the reference's mainline layout, redshift.py:229-237) keeps
        its shuffle-free-join property through the merge.
        """
        updates = normalize_column_names(updates)
        target = self.spark.table(target_table)
        if "date_insert" in target.columns and "date_insert" not in updates.columns:
            # reference: staging table drops the audit col (M1,
            # redshift.py:336-346) and the insert re-defaults it —
            # fresh timestamp for every staged row.
            updates = updates.withColumn("date_insert", F.current_timestamp())
        merged = self.merge_frames(target, updates, keys)
        old_loc = self._table_location(target_table)
        stage = f"{target_table}__stage_{uuid.uuid4().hex[:8]}"
        stage_loc = self._loc(stage)
        # saveAsTable with an explicit path creates an EXTERNAL table:
        # dropping the stage NAME later leaves the data files the
        # target now points at.
        writer = merged.write.option("path", stage_loc)
        spec = self._bucket_spec(target_table)
        if spec is not None:
            n_buckets, bucket_cols, sort_cols = spec
            writer = writer.bucketBy(n_buckets, *bucket_cols)
            if sort_cols:
                writer = writer.sortBy(*sort_cols)
        writer.saveAsTable(stage)
        self.spark.sql(f"ALTER TABLE {target_table} SET LOCATION '{stage_loc}'")
        self.spark.catalog.refreshTable(target_table)
        self.spark.sql(f"DROP TABLE IF EXISTS {stage}")
        if old_loc:
            self._delete_dir(old_loc)

    def _bucket_spec(self, name: str) -> tuple[int, list[str], list[str]] | None:
        """The catalog's ``(n_buckets, bucket_cols, sort_cols)`` for
        ``name``, or None when the table is ABSENT or unbucketed.
        Metadata-only (DESCRIBE EXTENDED) — no Spark job.

        Only table-not-found is tolerated (r11 ADVICE): any other
        DESCRIBE failure re-raises, because treating a transient
        catalog error as 'unbucketed' would write a spec-less stage
        under a CLUSTERED BY target and silently reintroduce the
        INVALID_BUCKET_FILE failure the spec probe exists to prevent."""
        from pyspark.errors import AnalysisException

        try:
            rows = self.spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        except AnalysisException as e:
            cond = e.getCondition() if hasattr(e, "getCondition") else None
            if (cond and "TABLE_OR_VIEW_NOT_FOUND" in cond) or (
                cond is None and "TABLE_OR_VIEW_NOT_FOUND" in str(e)
            ):
                return None
            raise
        meta = {r["col_name"]: r["data_type"] for r in rows}
        n = meta.get("Num Buckets")
        if not n:
            return None

        def _cols(key: str) -> list[str]:
            raw = (meta.get(key) or "").strip().strip("[]")
            return [c.strip().strip("`") for c in raw.split(",") if c.strip()]

        return int(n), _cols("Bucket Columns"), _cols("Sort Columns")

    def _table_location(self, name: str) -> str | None:
        """Physical location of a catalog table ('' / None if absent)."""
        try:
            rows = self.spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
        except Exception:
            return None
        for r in rows:
            if r["col_name"] == "Location":
                return r["data_type"]
        return None

    def _delete_dir(self, uri: str) -> None:
        jvm = self.spark.sparkContext._jvm
        hconf = self.spark.sparkContext._jsc.hadoopConfiguration()
        path = jvm.org.apache.hadoop.fs.Path(uri)
        fs = path.getFileSystem(hconf)
        if fs.exists(path):
            fs.delete(path, True)

    def drop_table(self, name: str) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")

    # -- physical co-location (reference DISTKEY, redshift.py:229-237) -----

    def create_bucketed_table(
        self,
        df: DataFrame,
        name: str,
        bucket_key: str,
        *,
        n_buckets: int = 8,
        sorted_by_key: bool = True,
        mode: str = "overwrite",
    ) -> None:
        """Write ``df`` as a bucketed (and optionally per-bucket sorted)
        catalog table — the full Spark analogue of Redshift's
        DISTKEY+SORTKEY: two tables bucketed on the same key with the
        same bucket count join WITHOUT a shuffle (each bucket pair is a
        co-located task), which at fact-table scale removes the single
        largest exchange in the plan. ``tests/test_warehouse.py``
        proves the exchange-free join plan.
        """
        writer = df.write.mode(mode).option("path", self._loc(name)).bucketBy(
            n_buckets, bucket_key
        )
        if sorted_by_key:
            writer = writer.sortBy(bucket_key)
        writer.saveAsTable(name)
