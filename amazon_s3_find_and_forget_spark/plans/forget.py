"""Forget phase: delete matching rows.

Two physical strategies, chosen by the caller:

1. ``forget_table`` — declarative anti-join over the whole table. One
   scan, predicates/joins handled by Catalyst, output is a new dataset.
   This is the scale path when rewriting the dataset wholesale is
   acceptable (e.g. compaction-style erasure).

2. ``forget_files`` — the reference's surgical one-in-one-out rewrite
   (backend/ecs_tasks/delete_files/main.py:132-265): only the files the
   Find phase flagged are touched; each is read, rewritten in memory
   with its schema preserved, and committed through one ``ObjectStore``
   protocol whatever the lake (``LocalObjectStore`` for local paths,
   ``S3ObjectStore`` for ``s3://``): property replay, integrity check,
   rollback on conflict, old-version purge. The job fails the object if
   zero rows were deleted (Find/Forget consistency check, main.py:182-187).
   Files are distributed one-per-task via ``mapInPandas`` over a paths
   DataFrame — the Spark scheduler replaces the reference's SQS + Fargate
   fleet (task retry, speculation, backpressure for free).

Null semantics: a NULL identifier never matches, so anti-join/filter
must KEEP null rows — ``forget_table`` wraps predicates in
``coalesce(pred, false)`` (a bare ``~isin`` would drop them).
"""

from __future__ import annotations

import os
from functools import reduce
from operator import or_

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..matches import ColumnGroup
# mode contract enforced driver-side (before any task launches) and
# again inside the file kernels (their own public contract) — ONE
# definition for all three sites
from ..sources import check_redact_columns as _check_redact_columns
from .find import null_safe_predicate

STATS_SCHEMA = (
    "file_path string, format string, processed_rows long, deleted_rows long, "
    "status string, error string"
)



def forget_table(
    df: DataFrame,
    groups: list[ColumnGroup],
    redact_columns: list[str] | None = None,
) -> DataFrame:
    """Survivors of the table after deleting every matching row (J3/P10).

    All groups are OR-combined into a single pass — semantically identical
    to the reference's sequential per-group filtering (a row is deleted if
    ANY group matches; parquet_handler.py:133-152) but one scan instead of
    N.

    With ``redact_columns`` matching rows are KEPT and the listed columns
    nulled instead (erase the identifying values, preserve the record) —
    still one map-only pass, no shuffle: each redacted column is a
    ``when(matched, NULL)`` projection over the same combined predicate.
    """
    _check_redact_columns(redact_columns)
    if not groups:
        return df
    combined = reduce(or_, [null_safe_predicate(g) for g in groups])
    if redact_columns is None:
        return df.where(~combined)
    # the match flag must be FROZEN before any column is rewritten:
    # redacting an identifier column first would make later columns'
    # lazily-resolved predicate see the already-nulled identifier and
    # stop matching — so project it once, redact against it, drop it
    flag = "__s3f2_matched__"
    out = df.withColumn(flag, F.coalesce(combined, F.lit(False)))
    matched = F.col(flag)
    for c in redact_columns:
        nulled = F.when(matched, F.lit(None)).otherwise(F.col(c))
        if "." in c:
            top, rest = c.split(".", 1)
            out = out.withColumn(top, F.col(top).withField(rest, nulled))
        else:
            out = out.withColumn(c, nulled)
    return out.drop(flag)


def groups_to_spec(groups: list[ColumnGroup]) -> list[dict]:
    """Serialize column groups for the executor-side file handlers."""
    spec = []
    for g in groups:
        if g.composite:
            spec.append(
                {
                    "Type": "Composite",
                    "Columns": list(g.columns),
                    "MatchIds": [tuple(v) for v in g.values],
                }
            )
        else:
            spec.append(
                {
                    "Type": "Simple",
                    "Column": g.columns[0],
                    "MatchIds": list(g.values),
                }
            )
    return spec


def _looks_not_found(e: Exception) -> bool:
    """Not-found across backends, classified PRECISELY — by exception
    type and the ClientError response code, never by substrings of the
    stringified message (a store bug raising KeyError deep inside, or a
    message merely mentioning '404', must NOT silently skip an object
    the job is legally required to erase). Reference analog:
    IgnoredObjectNotFoundError classification, main.py:214-222."""
    if isinstance(e, FileNotFoundError):
        return True
    try:
        code = str(e.response["Error"]["Code"])  # botocore ClientError
    except (AttributeError, TypeError, KeyError):
        return False
    return code in ("NoSuchKey", "NoSuchVersion", "NotFound", "404")


def _rewrite_bytes(
    data: bytes,
    path: str,
    fmt: str,
    spec: list[dict],
    redact_columns: list[str] | None,
) -> tuple[dict, bytes]:
    """Run the file kernel over an object's plaintext; returns its stats
    and the rewritten bytes. Parquet goes buffer to buffer; the JSON
    kernel picks gzip by file name, so it runs on a temp-file pair."""
    if fmt == "parquet":
        import pyarrow as pa

        from ..sources.parquet_file import rewrite_parquet_file

        sink = pa.BufferOutputStream()
        stats = rewrite_parquet_file(
            pa.BufferReader(data), sink, spec, redact_columns
        )
        return stats, sink.getvalue().to_pybytes()
    import tempfile

    from ..sources.jsonl_file import rewrite_json_file

    suffix = ".gz" if path.endswith(".gz") else ""
    with tempfile.TemporaryDirectory(prefix="s3f2-json-") as workdir:
        rp = os.path.join(workdir, "in" + suffix)
        wp = os.path.join(workdir, "out" + suffix)
        with open(rp, "wb") as f:
            f.write(data)
        stats = rewrite_json_file(rp, wp, spec, redact_columns)
        with open(wp, "rb") as f:
            return stats, f.read()


def _rewrite_one_store(
    path: str,
    fmt: str,
    spec: list[dict],
    ignore_not_found: bool,
    delete_old_versions: bool = True,
    kms=None,
    role_arn: str = "",
    store_factory=None,
    redact_columns: list[str] | None = None,
):
    """The reference's per-object commit protocol end to end
    (main.py:132-265; s3.py:61-98 properties replay, :301-341 integrity,
    :344-357 rollback, :244-281 version purge) through the ObjectStore
    seam — the one commit path for every lake, local or ``s3://``.

    Runs INSIDE the executor task: the store client is built here from
    the mapper's picklable ``role_arn`` string — per-task
    ``get_session(body["RoleArn"])`` parity (main.py:140,154) — so a
    cross-account mapper's credentials never ship from the driver.
    """
    from ..sources import cse
    from ..sources import object_store as ostore

    try:
        store = (store_factory or ostore.store_for_mapper)(role_arn or None)
        try:
            # the version must be captured WITH (or before) the read —
            # a listing taken after get_object would absorb a concurrent
            # write into from_version and the integrity check would
            # silently bless a rewrite computed from stale bytes
            getv = getattr(store, "get_object_and_version", None)
            if getv is not None:
                data, from_version = getv(path)
            else:
                chain = store.list_versions(path)
                from_version = chain[-1] if chain else "null"
                data = store.get_object(path)
        except Exception as e:  # noqa: BLE001
            if _looks_not_found(e):
                status = "skipped" if ignore_not_found else "failed"
                return (path, fmt, 0, 0, status, "ObjectNotFound")
            raise
        props = store.get_properties(path)
        metadata = dict(props.metadata or {})
        encrypted = cse.is_kms_cse_encrypted(metadata)
        if encrypted:
            # decrypt -> rewrite plaintext -> re-encrypt with a FRESH
            # data key (reference main.py:176-178, 199-201)
            if kms is None:
                raise ValueError(
                    "Object is CSE-KMS encrypted but no KMS client provided"
                )
            data = cse.decrypt_bytes(data, metadata, kms)
        stats, out_bytes = _rewrite_bytes(data, path, fmt, spec, redact_columns)
        if stats["DeletedRows"] == 0:
            # Find said this object matches but Forget deleted nothing —
            # fail the object rather than silently no-op (main.py:182-187)
            return (
                path,
                fmt,
                stats["ProcessedRows"],
                0,
                "failed",
                "Unprocessable: no rows deleted",
            )
        if encrypted:
            # the new envelope rides in the object metadata replayed by
            # save() (reference cse.py:57-84)
            out_bytes, props.metadata = cse.encrypt_bytes(
                out_bytes, metadata, kms
            )
        new_version = store.save(path, out_bytes, props)
        try:
            store.verify_version_integrity(path, from_version, new_version)
        except ostore.VersionConflictError as e:
            try:
                store.rollback_version(path, new_version)
            except Exception as re:  # noqa: BLE001
                return (
                    path, fmt, 0, 0, "rollback_failed",
                    f"{type(re).__name__}: {re}",
                )
            return (path, fmt, 0, 0, "failed", f"{type(e).__name__}: {e}")
        except Exception as e:  # noqa: BLE001
            # post-commit failure that is NOT a conflict: the rewrite IS
            # durable, so report the real row counts — a (0, 0, failed)
            # row would poison every retry with "no rows deleted"
            return (
                path, fmt, stats["ProcessedRows"], stats["DeletedRows"],
                "failed", f"PostCommit {type(e).__name__}: {e}",
            )
        if delete_old_versions:
            try:
                store.delete_old_versions(path, new_version)
            except Exception as e:  # noqa: BLE001 — same honest accounting
                return (
                    path, fmt, stats["ProcessedRows"], stats["DeletedRows"],
                    "failed", f"PostCommit {type(e).__name__}: {e}",
                )
        return (
            path,
            fmt,
            stats["ProcessedRows"],
            stats["DeletedRows"],
            "updated",
            None,
        )
    except Exception as e:  # noqa: BLE001 — per-object error isolation
        return (path, fmt, 0, 0, "failed", f"{type(e).__name__}: {e}")


def _local_store(_role_arn):
    from ..sources.object_store import LocalObjectStore

    return LocalObjectStore()


def _rewrite_one(
    path: str,
    fmt: str,
    spec: list[dict],
    ignore_not_found: bool,
    delete_old_versions: bool = True,
    kms=None,
    role_arn: str = "",
    store_factory=None,
    redact_columns: list[str] | None = None,
):
    """Pick the object's store and run the commit protocol on it: the
    injected ``store_factory`` if any, S3 (with the mapper's RoleArn)
    for ``s3://`` paths, the local filesystem otherwise.

    Spark's $path column names local objects as file:// URIs — the
    store gets the posix path, while the stats row keeps the URI.
    """
    if store_factory is None and not path.startswith("s3://"):
        store_factory = _local_store
    store_path = path[len("file:") :] if path.startswith("file:") else path
    row = _rewrite_one_store(
        store_path,
        fmt,
        spec,
        ignore_not_found,
        delete_old_versions,
        kms,
        role_arn,
        store_factory,
        redact_columns,
    )
    return (path,) + tuple(row[1:])


def forget_files(
    spark: SparkSession,
    files: list[str],
    groups: list[ColumnGroup],
    fmt: str = "parquet",
    ignore_not_found: bool = False,
    delete_old_versions: bool = True,
    kms=None,
    parallelism: int | None = None,
    role_arn: str = "",
    store_factory=None,
    redact_columns: list[str] | None = None,
) -> list[tuple]:
    """Rewrite each affected file on the cluster; returns stats rows.

    Eager by design: a deletion is an action, not a query — running it
    lazily would re-execute the side effect on every plan re-evaluation.
    One task per file (the reference's one-SQS-message-per-object,
    submit_query_results.py:42-54, without the queue).
    """
    _check_redact_columns(redact_columns)
    if not files:
        return []
    spec = groups_to_spec(groups)
    sc = spark.sparkContext
    slices = min(len(files), max(parallelism or sc.defaultParallelism, 1))
    rdd = sc.parallelize(files, numSlices=slices).map(
        lambda p: _rewrite_one(
            p,
            fmt,
            spec,
            ignore_not_found,
            delete_old_versions,
            kms,
            role_arn,
            store_factory,
            redact_columns,
        )
    )
    return rdd.collect()


def forget_files_df(
    spark: SparkSession,
    paths_df: DataFrame,
    groups: list[ColumnGroup],
    fmt: str = "parquet",
    ignore_not_found: bool = False,
    delete_old_versions: bool = True,
    kms=None,
    parallelism: int | None = None,
    role_arn: str = "",
    store_factory=None,
    redact_columns: list[str] | None = None,
) -> DataFrame:
    """Distributed Find->Forget handoff: rewrite every file in ``paths_df``
    without the path list ever materializing on the driver.

    ``forget_files`` round-trips the affected-path list through a driver
    collect — fine at the reference's 45k-object scenario, a driver-memory
    bottleneck at millions of objects. Here the Find output stays a
    DataFrame: repartition (paths only — a few bytes per row), rewrite
    per-partition via ``mapInPandas``, and return the per-file stats
    relation, eagerly localCheckpointed so the destructive side effect
    runs exactly once no matter how often the stats are consumed.
    Callers aggregate the stats distributively and collect only the
    per-status rollup.
    """
    _check_redact_columns(redact_columns)
    spec = groups_to_spec(groups)
    path_col = paths_df.columns[0]
    n = max(parallelism or spark.sparkContext.defaultParallelism, 1)

    def rewrite(batches):
        import pandas as pd

        cols = [
            "file_path", "format", "processed_rows", "deleted_rows",
            "status", "error",
        ]
        for pdf in batches:
            rows = [
                _rewrite_one(
                    p,
                    fmt,
                    spec,
                    ignore_not_found,
                    delete_old_versions,
                    kms,
                    role_arn,
                    store_factory,
                    redact_columns,
                )
                for p in pdf[path_col]
            ]
            yield pd.DataFrame(rows, columns=cols)

    out = paths_df.repartition(n).mapInPandas(rewrite, STATS_SCHEMA)
    return out.localCheckpoint(eager=True)


def stats_df(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    return spark.createDataFrame(rows, STATS_SCHEMA)
