"""Warehouse surface tests — DDL mapping, name normalization, upload,
query, and the upsert merge-semantics matrix from FIXTURES.md §A
(keyed replace, new-key insert, untouched preserved, duplicate keys)."""

from __future__ import annotations

from datetime import date, datetime
from decimal import Decimal

import pytest
from pyspark.sql import types as T

from pandas_aws_spark.warehouse import (
    WarehouseClient,
    add_reserved_words,
    normalize_column_names,
    schema_to_ddl,
)


@pytest.fixture()
def wc(spark, tmp_path):
    return WarehouseClient(spark, warehouse_dir=f"file://{tmp_path}/wh")


def test_normalize_column_names(spark):
    df = spark.createDataFrame([(1, "x")], schema=["Col One", "MiXeD"])
    out = normalize_column_names(df)
    assert out.columns == ["col_one", "mixed"]


def test_normalize_rejects_reserved(spark):
    df = spark.createDataFrame([(1,)], schema=["SELECT"])
    with pytest.raises(ValueError, match="reserved"):
        normalize_column_names(df)


def test_normalize_rejects_collisions(spark):
    df = spark.createDataFrame([(1, 2)], schema=["a b", "A_B"])
    with pytest.raises(ValueError, match="collide"):
        normalize_column_names(df)


def test_add_reserved_words(spark):
    add_reserved_words(["MyCustomWord"])
    df = spark.createDataFrame([(1,)], schema=["mycustomword"])
    with pytest.raises(ValueError, match="reserved"):
        normalize_column_names(df)


def test_schema_to_ddl_fixes_reference_lossiness():
    """int64 must map to BIGINT (not INTEGER) and float64 to DOUBLE
    PRECISION (not REAL) — the reference narrows both (redshift.py:105-108)."""
    schema = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.DoubleType()),
            T.StructField("c", T.TimestampType()),
            T.StructField("d", T.BooleanType()),
            T.StructField("e", T.StringType()),
            T.StructField("f", T.DecimalType(10, 2)),
        ]
    )
    ddl = schema_to_ddl(schema, dialect="redshift")
    assert "a BIGINT" in ddl
    assert "b DOUBLE PRECISION" in ddl
    assert "c TIMESTAMP" in ddl
    assert "d BOOLEAN" in ddl
    assert "e VARCHAR(65535)" in ddl
    assert "f DECIMAL(10,2)" in ddl
    spark_ddl = schema_to_ddl(schema, dialect="spark")
    assert "e STRING" in spark_ddl


def test_create_table_and_upload_and_query(spark, wc):
    df = spark.createDataFrame([(1, "a"), (2, "b")], schema="pk long, payload string")
    wc.create_table(df, "t_create", overwrite=True)
    cols = [f.name for f in spark.table("t_create").schema.fields]
    assert cols == ["pk", "payload", "date_insert"]

    wc.upload(df, "t_up", mode="overwrite")
    out = wc.query_df("SELECT pk, payload, date_insert FROM t_up ORDER BY pk")
    rows = out.collect()
    assert [(r.pk, r.payload) for r in rows] == [(1, "a"), (2, "b")]
    assert all(r.date_insert is not None for r in rows)
    wc.drop_table("t_create")
    wc.drop_table("t_up")


def test_query_df_rename_map(spark, wc):
    df = spark.createDataFrame([(1,)], schema="x long")
    wc.upload(df, "t_ren", mode="overwrite", include_date_insert=False)
    out = wc.query_df("SELECT x FROM t_ren", columns={"x": "y"})
    assert out.columns == ["y"]
    wc.drop_table("t_ren")


def test_upsert_semantics(spark, wc):
    """FIXTURES.md §A invariants: existing keys take updated payloads,
    new keys appended, untouched keys preserved."""
    target = spark.createDataFrame(
        [(1, "old1"), (2, "old2"), (3, "old3")], schema="pk long, payload string"
    )
    wc.upload(target, "t_merge", mode="overwrite", include_date_insert=False)
    updates = spark.createDataFrame(
        [(2, "NEW2"), (4, "NEW4")], schema="pk long, payload string"
    )
    wc.upsert(updates, "t_merge", keys=["pk"])
    rows = sorted((r.pk, r.payload) for r in spark.table("t_merge").collect())
    assert rows == [(1, "old1"), (2, "NEW2"), (3, "old3"), (4, "NEW4")]
    wc.drop_table("t_merge")


def test_upsert_duplicate_keys_all_inserted(spark, wc):
    """Reference §3.4: duplicate keys in the update batch ALL land."""
    target = spark.createDataFrame([(1, "old")], schema="pk long, payload string")
    wc.upload(target, "t_dup", mode="overwrite", include_date_insert=False)
    updates = spark.createDataFrame(
        [(1, "v1"), (1, "v2")], schema="pk long, payload string"
    )
    wc.upsert(updates, "t_dup", keys=["pk"])
    rows = sorted((r.pk, r.payload) for r in spark.table("t_dup").collect())
    assert rows == [(1, "v1"), (1, "v2")]
    wc.drop_table("t_dup")


def test_upsert_adds_audit_column_to_updates(spark, wc):
    target = spark.createDataFrame([(1, "old")], schema="pk long, payload string")
    wc.upload(target, "t_aud", mode="overwrite", include_date_insert=True)
    updates = spark.createDataFrame([(2, "new")], schema="pk long, payload string")
    wc.upsert(updates, "t_aud", keys=["pk"])
    rows = spark.table("t_aud").collect()
    assert all(r.date_insert is not None for r in rows)
    wc.drop_table("t_aud")


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts
    must sort-merge join with ZERO exchanges — the co-located join
    that removes the fact-table shuffle at scale."""
    from pandas_aws_spark.plans.inspect import num_shuffles, physical_plan
    from pandas_aws_spark.registry import load_table

    wh = WarehouseClient(spark, warehouse_dir=str(tmp_path / "wh"))
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    wh.create_bucketed_table(li, "li_bkt", "l_orderkey", n_buckets=4)
    wh.create_bucketed_table(
        orders.withColumnRenamed("o_orderkey", "l_orderkey"), "ord_bkt", "l_orderkey", n_buckets=4
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a non-broadcast join so the bucket co-location is what
        # the plan relies on
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("li_bkt").join(spark.table("ord_bkt"), "l_orderkey")
        agg = joined.groupBy("o_orderpriority").count()
        plan = physical_plan(joined)
        assert "SortMergeJoin" in plan
        assert num_shuffles(joined) == 0, plan
        # result sanity vs the plain join
        got = {r["o_orderpriority"]: r["count"] for r in agg.collect()}
        want = {
            r["o_orderpriority"]: r["count"]
            for r in li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
            .collect()
        }
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        wh.drop_table("li_bkt")
        wh.drop_table("ord_bkt")


def test_upsert_into_bucketed_target_keeps_bucket_files_valid(spark, wc):
    """r10 ADVICE: the upsert's ALTER TABLE SET LOCATION retains the
    target's CLUSTERED BY metadata, so the stage must be written with
    the SAME bucket spec — an unbucketed stage passed plain reads but
    failed every bucketed-scan read with INVALID_BUCKET_FILE. The
    regression probe is therefore a post-upsert co-located join (the
    read path that trusts bucket metadata), not a plain count."""
    from pandas_aws_spark.plans.inspect import num_shuffles

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "pk int, payload string"
    )
    wc.create_bucketed_table(df, "b_ups", "pk", n_buckets=4)
    upd = spark.createDataFrame([(1, "NEW1"), (99, "v99")], "pk int, payload string")
    wc.upsert(upd, "b_ups", keys=["pk"])
    # bucket spec survived the location swap
    assert wc._bucket_spec("b_ups") == (4, ["pk"], ["pk"])
    other = spark.createDataFrame([(1,), (99,), (5,)], "pk int")
    wc.create_bucketed_table(other, "b_probe", "pk", n_buckets=4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_ups").join(spark.table("b_probe"), "pk")
        # the whole point of keeping the spec: still a co-located join
        assert num_shuffles(joined) == 0
        rows = sorted((r.pk, r.payload) for r in joined.collect())
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert rows == [(1, "NEW1"), (5, "v5"), (99, "v99")]
    wc.drop_table("b_ups")
    wc.drop_table("b_probe")


def test_upload_appends_into_clustered_by_table(spark, wc):
    """create_table(dist_key=..) declares CLUSTERED BY in the catalog;
    a later upload must append with the matching bucket spec (Spark
    rejects a spec-less saveAsTable into a bucketed table outright)."""
    df = spark.createDataFrame([(i, i * 10) for i in range(8)], "k int, v int")
    wc.create_table(
        df, "b_load", dist_key="k", n_buckets=4, sort_key=["k"],
        include_date_insert=False, overwrite=True,
    )
    wc.upload(df, "b_load", include_date_insert=False)
    wc.upload(
        spark.createDataFrame([(100, 1000)], "k int, v int"),
        "b_load",
        include_date_insert=False,
    )
    assert spark.table("b_load").count() == 9
    assert wc._bucket_spec("b_load") == (4, ["k"], ["k"])
    wc.drop_table("b_load")


def test_upsert_crash_before_commit_keeps_target_serving(spark, wc, monkeypatch):
    """r10 upsert commit protocol: the commit point is the single
    ALTER TABLE .. SET LOCATION. Kill the writer right before it — the
    target must keep serving its OLD rows in full (the pre-r10
    DROP-then-RENAME pair left NO table at this crash point), and a
    retried upsert must converge despite the orphaned stage table."""
    target = spark.createDataFrame(
        [(1, "old1"), (2, "old2")], schema="pk long, payload string"
    )
    wc.upload(target, "t_crash", mode="overwrite", include_date_insert=False)
    updates = spark.createDataFrame([(2, "NEW2")], schema="pk long, payload string")

    real_sql = spark.sql

    def failing_sql(stmt, *a, **k):
        if stmt.strip().upper().startswith("ALTER TABLE T_CRASH SET LOCATION"):
            raise RuntimeError("injected crash before commit")
        return real_sql(stmt, *a, **k)

    monkeypatch.setattr(spark, "sql", failing_sql)
    with pytest.raises(RuntimeError, match="injected crash"):
        wc.upsert(updates, "t_crash", keys=["pk"])
    monkeypatch.undo()

    rows = sorted((r.pk, r.payload) for r in spark.table("t_crash").collect())
    assert rows == [(1, "old1"), (2, "old2")], "old generation must keep serving"

    # retry converges (fresh uuid stage; the orphan is inert)
    wc.upsert(updates, "t_crash", keys=["pk"])
    rows = sorted((r.pk, r.payload) for r in spark.table("t_crash").collect())
    assert rows == [(1, "old1"), (2, "NEW2")]
    wc.drop_table("t_crash")


def test_upsert_crash_after_commit_serves_new_rows(spark, wc, monkeypatch):
    """Crash AFTER the ALTER (during GC): the target serves the merged
    rows; the superseded directory and stage name are inert garbage."""
    from pandas_aws_spark.warehouse import WarehouseClient

    target = spark.createDataFrame([(1, "old")], schema="pk long, payload string")
    wc.upload(target, "t_gc", mode="overwrite", include_date_insert=False)
    updates = spark.createDataFrame([(1, "NEW")], schema="pk long, payload string")

    def boom(self, uri):
        raise RuntimeError("injected crash during gc")

    monkeypatch.setattr(WarehouseClient, "_delete_dir", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        wc.upsert(updates, "t_gc", keys=["pk"])
    monkeypatch.undo()

    rows = [(r.pk, r.payload) for r in spark.table("t_gc").collect()]
    assert rows == [(1, "NEW")]
    # next upsert still works and GCs normally
    wc.upsert(
        spark.createDataFrame([(2, "TWO")], schema="pk long, payload string"),
        "t_gc",
        keys=["pk"],
    )
    rows = sorted((r.pk, r.payload) for r in spark.table("t_gc").collect())
    assert rows == [(1, "NEW"), (2, "TWO")]
    wc.drop_table("t_gc")


# One sample value per DDL mapping: (spark type, value, redshift DDL).
# Every type _DDL_TYPES names must appear here (pinned below), plus the
# two mappings _ddl_type handles outside the table: decimal and string.
_DTYPE_CASES = {
    "long": (T.LongType(), 2**40 + 1, "BIGINT"),
    "int": (T.IntegerType(), 123456, "INTEGER"),
    "short": (T.ShortType(), 1234, "SMALLINT"),
    "byte": (T.ByteType(), 12, "SMALLINT"),
    "double": (T.DoubleType(), 0.1 + 1e-12, "DOUBLE PRECISION"),
    "float": (T.FloatType(), 1.5, "REAL"),
    "bool": (T.BooleanType(), True, "BOOLEAN"),
    "timestamp": (T.TimestampType(), datetime(2024, 1, 2, 3, 4, 5), "TIMESTAMP"),
    "date": (T.DateType(), date(2024, 1, 2), "DATE"),
    "decimal": (T.DecimalType(10, 2), Decimal("12.34"), "DECIMAL(10,2)"),
    "string": (T.StringType(), "x", "VARCHAR(65535)"),
}


def test_dtype_cases_cover_every_ddl_type():
    from pandas_aws_spark.warehouse import _DDL_TYPES

    covered = {type(dt) for dt, _, _ in _DTYPE_CASES.values()}
    assert {t for t, _ in _DDL_TYPES} <= covered


@pytest.mark.parametrize("case", sorted(_DTYPE_CASES))
def test_create_upload_upsert_query_roundtrip_per_dtype(spark, wc, case):
    """Each mapped type round-trips create_table -> upload -> upsert ->
    query_df in the spark dialect (Spark SQL rejects the Redshift
    spelling ``DOUBLE PRECISION``), while the redshift dialect strings
    stay pinned."""
    dt, value, redshift_ddl = _DTYPE_CASES[case]
    schema = T.StructType([T.StructField("pk", T.LongType()), T.StructField("v", dt)])
    assert schema_to_ddl(schema, dialect="redshift") == f"pk BIGINT, v {redshift_ddl}"

    name = f"t_dtype_{case}"
    df = spark.createDataFrame([(1, value), (2, value)], schema)
    wc.create_table(df, name, overwrite=True)
    wc.upload(df, name, mode="append")
    wc.upsert(spark.createDataFrame([(2, None), (3, value)], schema), name, keys=["pk"])
    rows = sorted(
        (r.pk, r.v) for r in wc.query_df(f"SELECT pk, v FROM {name}").collect()
    )
    assert rows == [(1, value), (2, None), (3, value)]
    wc.drop_table(name)
