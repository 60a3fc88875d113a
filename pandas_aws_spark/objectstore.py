"""Object-store DataFrame I/O — the Spark-native re-expression of the
reference's ``pandas_aws/s3.py`` (all file:line cites refer to
``/root/reference/pandas_aws/s3.py``).

Capability map (SURVEY.md §2.1/§2.2):

=====================  ==============================================
reference              here
=====================  ==============================================
``get_keys``           :func:`list_keys` — Hadoop FS listing, prefix
(s3.py:18-53)          pushdown + suffix filter, URI-generic
``get_df``             :func:`read_df` — format dispatch by arg or
(s3.py:211-240)        key suffix (csv/parquet/json/orc/xlsx/pickle)
``get_df_from_keys``   :func:`read_df_from_prefix` — multi-file union
(s3.py:243-294)        scan; ``suffix``/``mixed``/explicit modes
``put_df``             :func:`write_df` — parts (repartition), sorted
(s3.py:100-208)        parts (repartitionByRange+sortWithinPartitions),
                       gzip, per-format options
=====================  ==============================================

Design departures from the reference (deliberate, for 100 TB):

* Paths are URIs (``file://``, ``s3a://``, ``hdfs://``): the same code
  runs locally and on a cluster; credentials come from the session
  (see ``session.get_spark``), never from this layer.
* Reads/writes are executor-parallel and lazy; the reference is a
  sequential driver loop (one HTTP round-trip per file, s3.py:286).
* Empty prefix yields an **empty DataFrame**, not ``None``
  (improves on s3.py:294 — callers compose without None-checks).
* Multi-part naming: Spark's native ``part-*`` files in a directory
  replace the reference's ``dir/stem/stem.{i}.ext`` scheme
  (s3.py:188-195); correctness is judged on content, not layout.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "list_keys",
    "list_keys_boto",
    "read_df",
    "read_df_from_prefix",
    "read_prefix_lineage",
    "write_df",
    "SUPPORTED_FORMATS",
]

SUPPORTED_FORMATS = ("csv", "parquet", "json", "orc", "xlsx", "pickle")
# formats attempted (in order) by mixed-mode reads, mirroring the
# reference's csv -> parquet -> xlsx fallback chain (s3.py:275-285)
_MIXED_TRY_ORDER = ("csv", "parquet", "json", "orc")

_XLSX_DRIVER_ROW_LIMIT = 1_000_000  # xlsx is a driver bridge; refuse big frames


def _hadoop_fs(spark: SparkSession, uri: str):
    """Hadoop FileSystem for the URI's scheme (file://, s3a://, ...)."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(uri)
    return path.getFileSystem(hconf), path, jvm


def list_keys(
    spark: SparkSession,
    base_uri: str,
    prefix: str = "",
    suffix: str = "",
    recursive: bool = True,
) -> list[str]:
    """List object keys under ``base_uri`` whose basename-relative path
    starts with ``prefix`` and ends with ``suffix``.

    Reference parity: ``get_keys`` (s3.py:18-53) — prefix is pushed to
    the store's listing API (here: Hadoop's listFiles, which uses the
    S3 ListObjectsV2 prefix under s3a), suffix filtered client-side
    (s3.py:45). Pagination (ContinuationToken, s3.py:38-53) is handled
    inside the Hadoop FS iterator.
    """
    fs, base_path, _ = _hadoop_fs(spark, base_uri)
    if not fs.exists(base_path):
        return []
    # listed paths come back qualified (file:/..., s3a://...); qualify
    # the base the same way, or a scheme-less base never prefixes them
    base_str = fs.makeQualified(base_path).toString().rstrip("/")
    out: list[str] = []
    it = fs.listFiles(base_path, recursive)
    while it.hasNext():
        status = it.next()
        full = status.getPath().toString()
        rel = full[len(base_str) + 1 :] if full.startswith(base_str + "/") else full
        if rel.startswith(prefix) and rel.endswith(suffix):
            out.append(rel)
    return sorted(out)


def list_keys_boto(
    s3_client,
    bucket: str,
    prefix: str = "",
    suffix: str = "",
    **list_kwargs,
):
    """Generator over S3 object keys via a boto3 client — the direct
    twin of the reference's ``get_keys`` (``s3.py:18-53``): prefix is
    pushed server-side into ListObjectsV2, suffix filtered client-side
    (``s3.py:45``), and pagination follows ``ContinuationToken``
    transparently (``s3.py:38-53``; extra kwargs such as ``MaxKeys``
    pass through, as the reference's tests exercise).

    This is the control-plane path for clusters where key enumeration
    happens on the driver (e.g. to build an explicit path list for
    ``read_df``); the data plane stays on the executors' S3A connector
    (:func:`list_keys` / ``spark.read``). Works against any
    S3-compatible endpoint the client is configured for (moto, MinIO,
    AWS).
    """
    kwargs = dict(list_kwargs)
    kwargs["Bucket"] = bucket
    if prefix:
        kwargs["Prefix"] = prefix
    while True:
        resp = s3_client.list_objects_v2(**kwargs)
        for obj in resp.get("Contents", []):
            key = obj["Key"]
            if key.endswith(suffix):
                yield key
        if not resp.get("IsTruncated"):
            break
        kwargs["ContinuationToken"] = resp["NextContinuationToken"]


def _detect_format(key: str) -> str:
    """Suffix-based format detection (reference ``f.split('.')[-1]``,
    s3.py:272). Compressed extensions look through the codec suffix."""
    parts = key.rsplit("/", 1)[-1].split(".")
    ext = parts[-1].lower()
    if ext in ("gz", "gzip", "zst", "snappy", "bz2") and len(parts) >= 2:
        ext = parts[-2].lower()
    if ext in ("pkl", "pickle"):
        return "pickle"
    if ext in ("xls", "xlsx"):
        return "xlsx"
    return ext


def read_df(
    spark: SparkSession,
    path: str | list[str],
    format: str | None = None,
    schema=None,
    **options,
) -> DataFrame:
    """Read one path (or list of paths) into a DataFrame.

    Reference parity: ``get_df`` (s3.py:211-240). ``format=None``
    detects from the key suffix, like the reference's `'suffix'` mode.
    CSV defaults to ``header=True`` + schema inference when no schema
    is given (pandas.read_csv behaviour, s3.py:236) — pass an explicit
    ``schema`` in production to skip the inference scan.
    """
    first = path[0] if isinstance(path, list) else path
    fmt = (format or _detect_format(first)).lower()
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(f"format {fmt!r} not in {SUPPORTED_FORMATS}")

    if fmt == "pickle":
        # Python-only format; RDD of pickled rows (SURVEY §2.1 S4).
        rdd = spark.sparkContext.pickleFile(first)
        return spark.createDataFrame(rdd, schema=schema)
    if fmt == "xlsx":
        return _read_xlsx_driver_bridge(spark, first, schema=schema, **options)

    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", True)
        if schema is None:
            options.setdefault("inferSchema", True)
    return reader.options(**options).format(fmt).load(path)


def read_df_from_prefix(
    spark: SparkSession,
    base_uri: str,
    prefix: str = "",
    suffix: str = "",
    format: str = "suffix",
    schema=None,
    **options,
) -> DataFrame:
    """Union-read every object under a prefix into one DataFrame.

    Reference parity: ``get_df_from_keys`` (s3.py:243-294) with its
    three modes:

    * explicit format — all files read with one multi-path scan;
    * ``'suffix'`` — detect from the **first** matching key, then use
      that format for all files (the reference's sticky detection,
      s3.py:271-274, replicated deliberately — log-visible in the
      function's return schema rather than silently per-file);
    * ``'mixed'`` — group keys by detected format, read each group,
      union with ``unionByName(allowMissingColumns=True)``; unreadable
      keys are skipped like the reference's try-parse loop
      (s3.py:275-285).

    Empty result -> empty DataFrame (schema from ``schema`` arg or
    zero-column), never ``None``.
    """
    keys = list_keys(spark, base_uri, prefix=prefix, suffix=suffix)
    # the reference skips the bare-prefix key itself (s3.py:269)
    keys = [k for k in keys if k and k != prefix]
    if not keys:
        from pyspark.sql import types as T

        return spark.createDataFrame([], schema=schema or T.StructType([]))

    base = base_uri.rstrip("/")
    if format == "mixed":
        groups: dict[str, list[str]] = {}
        for k in keys:
            groups.setdefault(_detect_format(k), []).append(k)
        dfs: list[DataFrame] = []
        for fmt, group_keys in sorted(groups.items()):
            if fmt not in _MIXED_TRY_ORDER:
                continue  # skip unparseable formats with a warning, like s3.py:284
            dfs.append(
                read_df(spark, [f"{base}/{k}" for k in group_keys], format=fmt, schema=schema, **options)
            )
        if not dfs:
            from pyspark.sql import types as T

            return spark.createDataFrame([], schema=schema or T.StructType([]))
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out

    fmt = _detect_format(keys[0]) if format == "suffix" else format
    return read_df(spark, [f"{base}/{k}" for k in keys], format=fmt, schema=schema, **options)


def read_prefix_lineage(
    spark: SparkSession,
    base_uri: str,
    prefix: str = "",
    suffix: str = "",
    schema=None,
    **options,
) -> DataFrame:
    """Per-object lineage audit of a mixed-format prefix read: which
    top-level objects under the prefix CONTRIBUTED rows to the union
    (and how many), and which were QUARANTINED (no supported format) —
    the ``q_io_csv_malformed`` dead-letter accounting generalized to
    format dispatch.

    Reference parity + departure: ``get_df_from_keys`` ``'mixed'`` mode
    drops files that parse under no format with only a log warning
    (s3.py:283-285), so the user of a large ingest cannot reconstruct
    from the returned frame which files fed it. This returns the
    accounting AS DATA — one row per top-level object:
    ``(file_name, fmt, status, n_rows)``, ``status`` in
    ``('contributed', 'quarantined')``, quarantined rows carrying
    ``n_rows = 0``. A directory object holding SEVERAL supported
    formats reports ``fmt='mixed'`` (and contributes all of them); a
    directory is quarantined only when NO key parses under a supported
    format (r8 ADVICE — status is a property of the whole segment, not
    of its first-listed key). Documented departure (pinned in
    tests/test_objectstore.py): the reference TRY-PARSES every file as
    csv -> parquet -> xlsx, so arbitrary text usually sneaks in as a
    one-column CSV; the engine dispatches on the key suffix
    deterministically, so an unrecognized suffix is quarantined rather
    than misparsed.

    Scale shape: the key listing is control-plane kilobytes (same as
    the reference's ListObjectsV2 loop); row counts come from ONE
    distributed aggregation over ``input_file_name()`` on the unioned
    scans — no per-file count jobs, no driver loop over data. Only the
    lineage column survives projection, so columnar formats prune to
    metadata while row formats pay the parse they'd pay anyway.
    """
    import re as _re
    from functools import reduce

    keys = [
        k
        for k in list_keys(spark, base_uri, prefix=prefix, suffix=suffix)
        if k and k != prefix
        # committer markers / checksums (_SUCCESS, .crc) are not data
        and not k.rsplit("/", 1)[-1].startswith(("_", "."))
    ]
    out_schema = "file_name string, fmt string, status string, n_rows long"
    if not keys:
        return spark.createDataFrame([], out_schema)
    base = base_uri.rstrip("/")
    # top-level object = first path segment (a Spark-written "file" is
    # a directory of part files; a flat object is its own segment).
    # A segment's status/fmt derive from ALL its keys (r8 ADVICE: the
    # old first-key setdefault could label a dir holding both .csv and
    # .weird keys 'quarantined' yet join it with n_rows > 0): any
    # supported key -> 'contributed'; fmt is the single supported
    # format, or 'mixed' when a segment holds several.
    seg_fmts: dict[str, list[str]] = {}
    groups: dict[str, list[str]] = {}
    for k in keys:
        fmt = _detect_format(k)
        fmts = seg_fmts.setdefault(k.split("/", 1)[0], [])
        if fmt not in fmts:
            fmts.append(fmt)
        if fmt in _MIXED_TRY_ORDER:
            groups.setdefault(fmt, []).append(k)

    def _seg_meta(fmts: list[str]) -> tuple[str, str]:
        sup = [f for f in fmts if f in _MIXED_TRY_ORDER]
        if not sup:
            return fmts[0], "quarantined"
        return (sup[0] if len(sup) == 1 else "mixed"), "contributed"

    meta = spark.createDataFrame(
        [(seg, *_seg_meta(fmts)) for seg, fmts in sorted(seg_fmts.items())],
        "file_name string, fmt string, status string",
    )
    # Segment recovery from input_file_name() (r8 ADVICE): anchor on
    # the FULL percent-encoded base path, not its last segment — a
    # base like /data/x/x or a deeper dir sharing the segment name
    # would otherwise win the leftmost match and misattribute rows.
    # input_file_name() yields a URI (space -> %20, '%' -> %25, '+'
    # literal — probed empirically), so the captured segment is
    # percent-decoded back to the raw object name before joining with
    # the listing-derived meta; '+' is pre-escaped because url_decode
    # is form-decoding ('+' -> ' ') while URI encoding leaves '+' as
    # is.
    _, _bp, _ = _hadoop_fs(spark, base)
    raw_base_path = _bp.toUri().getRawPath().rstrip("/")
    seg_pattern = _re.escape(raw_base_path) + "/([^/]+)"
    seg_col = F.url_decode(
        F.regexp_replace(
            F.regexp_extract(F.input_file_name(), seg_pattern, 1), r"\+", "%2B"
        )
    )
    scans = [
        read_df(
            spark, [f"{base}/{k}" for k in gkeys], format=fmt, schema=schema, **options
        ).select(seg_col.alias("file_name"))
        for fmt, gkeys in sorted(groups.items())
    ]
    if scans:
        counts = (
            reduce(lambda a, b: a.unionByName(b), scans)
            .groupBy("file_name")
            .agg(F.count(F.lit(1)).alias("n_rows"))
        )
        # left join: a contributed-but-empty object keeps its row with 0
        out = meta.join(counts, "file_name", "left")
    else:
        out = meta.withColumn("n_rows", F.lit(None).cast("long"))
    return out.select(
        "file_name",
        "fmt",
        "status",
        F.coalesce("n_rows", F.lit(0)).cast("long").alias("n_rows"),
    )


def write_df(
    df: DataFrame,
    path: str,
    format: str = "csv",
    compression: str | None = None,
    parts: int = 1,
    sort_keys: list[str] | None = None,
    mode: str = "overwrite",
    **options,
) -> None:
    """Write a DataFrame as ``parts`` files under ``path``.

    Reference parity: ``put_df`` (s3.py:100-208):

    * ``parts=n`` — the reference's ``np.array_split`` row slicing
      (s3.py:85) becomes ``repartition(n)``; with ``sort_keys`` it
      becomes ``repartitionByRange(n, *keys).sortWithinPartitions(
      *keys)`` — the exact distributed analogue of "globally sort,
      then split into contiguous range files" (s3.py:84-87), so the
      reference invariant `concat(parts) == df.sort_values(keys)`
      holds (tests/test_s3.py:173-183).
    * ``compression='gzip'`` — codec option on the writer instead of
      driver-side re-encoding (s3.py:159-171); valid for any text
      format, parquet uses its own codecs.
    * input validation mirrors s3.py:121-149 (type, format whitelist,
      parts>0, compression whitelist).
    """
    if not isinstance(df, DataFrame):
        raise TypeError(f"df must be a pyspark DataFrame, got {type(df)}")
    fmt = format.lower()
    if fmt not in SUPPORTED_FORMATS:
        raise ValueError(f"format {fmt!r} not in {SUPPORTED_FORMATS}")
    if parts < 1:
        raise ValueError("parts must be >= 1")
    if compression is not None and compression not in ("gzip", "snappy", "zstd", "bzip2", "lz4", "none"):
        raise ValueError(f"unsupported compression {compression!r}")

    if sort_keys:
        out = df.repartitionByRange(parts, *[F.col(k) for k in sort_keys]).sortWithinPartitions(
            *sort_keys
        )
    elif parts > 1 or fmt not in ("pickle", "xlsx"):
        out = df.repartition(parts)
    else:
        out = df

    if fmt == "pickle":
        # reference K4 (s3.py:182-184); RDD pickle directory.
        out.rdd.saveAsPickleFile(path)
        return
    if fmt == "xlsx":
        _write_xlsx_driver_bridge(out, path, **options)
        return

    writer = out.write.mode(mode)
    if fmt == "csv":
        options.setdefault("header", True)
    if compression and compression != "none":
        options["compression"] = compression
    writer.options(**options).format(fmt).save(path)


# --- xlsx long tail (reference S5/K3) --------------------------------------
# No core-Spark Excel source and no excel libs in this container; the
# sanctioned design is a driver-side pandas bridge behind a hard row
# guard (SURVEY.md §7 milestone 6). The plumbing is real; the pandas
# engine import is the only gated piece.


def _read_xlsx_driver_bridge(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    try:
        import pandas as pd

        local = path[len("file://") :] if path.startswith("file://") else path
        pdf = pd.read_excel(local, **options)  # needs openpyxl/xlrd
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            "xlsx read requires an excel engine (openpyxl/xlrd) on the driver; "
            "not available in this environment"
        ) from exc
    return spark.createDataFrame(pdf, schema=schema)


def _write_xlsx_driver_bridge(df: DataFrame, path: str, **options) -> None:
    n = df.count()
    if n > _XLSX_DRIVER_ROW_LIMIT:
        raise ValueError(
            f"xlsx is a driver-side bridge, refusing {n} rows (> {_XLSX_DRIVER_ROW_LIMIT}); "
            "write parquet/csv instead"
        )
    try:
        import pandas as pd  # noqa: F401

        local = path[len("file://") :] if path.startswith("file://") else path
        # sheet name fixed to Sheet1 like the reference (s3.py:172-175)
        df.toPandas().to_excel(local, sheet_name="Sheet1", index=False, **options)
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise NotImplementedError(
            "xlsx write requires an excel engine (xlsxwriter/openpyxl) on the driver; "
            "not available in this environment"
        ) from exc


def union_all(dfs: Iterable[DataFrame]) -> DataFrame | None:
    """unionByName over a sequence (reference R3, pandas.concat axis=0)."""
    out = None
    for d in dfs:
        out = d if out is None else out.unionByName(d, allowMissingColumns=True)
    return out


def compact_prefix(
    spark: SparkSession,
    path: str,
    *,
    format: str = "parquet",
    target_bytes_per_file: int = 128 * 1024 * 1024,
    min_files: int = 1,
) -> dict:
    """Small-files compaction: rewrite the files under ``path`` into
    ``ceil(total_bytes / target_bytes_per_file)`` files of the same
    format, atomically (write to a sibling temp dir, then swap).

    The 100 TB operations problem this solves: streaming sinks and
    per-trigger micro-batches leave thousands of KB-sized files per
    partition; every downstream scan then pays one task + one object
    GET per file, and the driver pays listing time — compaction
    restores scan efficiency without changing content. Runs as a plain
    Spark job (read -> repartition -> write): distributed, no driver
    data path.

    Returns ``{"files_before": n, "files_after": m, "bytes": b}``.
    The swap is two renames (atomic per rename on HDFS/local; on S3
    object stores renames copy — for production S3, point readers at a
    manifest or versioned prefix instead).
    """
    import math

    fs, base_path, jvm = _hadoop_fs(spark, path)
    statuses = [
        s for s in fs.listStatus(base_path) if s.isFile() and not s.getPath().getName().startswith("_")
    ]
    files_before = len(statuses)
    total_bytes = sum(s.getLen() for s in statuses)
    n_out = max(min_files, math.ceil(total_bytes / target_bytes_per_file))

    df = spark.read.format(format).load(path)
    tmp = path.rstrip("/") + "._compact_tmp"
    old = path.rstrip("/") + "._compact_old"
    df.repartition(n_out).write.format(format).mode("overwrite").save(tmp)

    tmp_path = jvm.org.apache.hadoop.fs.Path(tmp)
    old_path = jvm.org.apache.hadoop.fs.Path(old)
    if fs.exists(old_path):
        fs.delete(old_path, True)
    if not fs.rename(base_path, old_path):
        raise IOError(f"compact swap failed: {path} -> {old}")
    if not fs.rename(tmp_path, base_path):
        fs.rename(old_path, base_path)  # roll back
        raise IOError(f"compact swap failed: {tmp} -> {path}")
    fs.delete(old_path, True)

    after = [
        s for s in fs.listStatus(base_path) if s.isFile() and not s.getPath().getName().startswith("_")
    ]
    return {"files_before": files_before, "files_after": len(after), "bytes": total_bytes}
