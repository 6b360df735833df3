"""Forget safety envelope: version store, integrity check, rollback,
old-version deletion (local analog of reference s3.py:224-357)."""

import os
import shutil
import stat
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from amazon_s3_find_and_forget_spark.data_mappers import DataMapper
from amazon_s3_find_and_forget_spark.matches import QueueItem
from amazon_s3_find_and_forget_spark.plans.forget import _rewrite_one
from amazon_s3_find_and_forget_spark.sources import versions
from amazon_s3_find_and_forget_spark.sources.object_store import (
    LocalObjectStore,
    ObjectProperties,
)


def _write_parquet(path, ids):
    pq.write_table(pa.table({"customer_id": pa.array(ids, pa.int64())}), path)


def _read_ids(path):
    return pq.read_table(path).column("customer_id").to_pylist()


SPEC = [{"Type": "Simple", "Column": "customer_id", "MatchIds": [2, 3]}]


def test_commit_integrity_conflict(tmp_path):
    obj = str(tmp_path / "data.parquet")
    _write_parquet(obj, [1, 2, 3])
    snap = versions.snapshot(obj)
    # concurrent writer slips in between read and commit
    _write_parquet(obj, [1, 2, 3, 4])
    tmp = str(tmp_path / "tmp.parquet")
    _write_parquet(tmp, [1])
    with pytest.raises(versions.VersionIntegrityError):
        versions.commit(obj, tmp, snap)
    # object untouched by the failed commit
    assert _read_ids(obj) == [1, 2, 3, 4]


def test_rewrite_keeps_old_version_and_restores(tmp_path):
    obj = str(tmp_path / "data.parquet")
    _write_parquet(obj, [1, 2, 3])
    row = _rewrite_one(obj, "parquet", SPEC, False, delete_old_versions=False)
    assert row[4] == "updated" and row[3] == 2
    assert _read_ids(obj) == [1]
    vs = versions.list_versions(obj)
    assert len(vs) == 1
    versions.restore_version(obj)
    assert _read_ids(obj) == [1, 2, 3]
    assert versions.list_versions(obj) == []


def test_rewrite_purges_history_by_default(tmp_path):
    obj = str(tmp_path / "data.parquet")
    _write_parquet(obj, [1, 2, 3])
    # build up history first
    _rewrite_one(obj, "parquet", [{"Type": "Simple", "Column": "customer_id",
                                   "MatchIds": [3]}], False,
                 delete_old_versions=False)
    assert len(versions.list_versions(obj)) == 1
    # delete_old_versions=True purges prior versions on success
    row = _rewrite_one(obj, "parquet", SPEC, False, delete_old_versions=True)
    assert row[4] == "updated"
    assert versions.list_versions(obj) == []
    assert _read_ids(obj) == [1]


def test_rewrite_integrity_conflict_fails_object(tmp_path, monkeypatch):
    obj = str(tmp_path / "data.parquet")
    _write_parquet(obj, [1, 2, 3])

    real_snapshot = versions.snapshot

    def racing_snapshot(path):
        snap = real_snapshot(path)
        # concurrent writer right after the task captured its snapshot
        _write_parquet(path, [1, 2, 3, 4])
        return snap

    monkeypatch.setattr(versions, "snapshot", racing_snapshot)
    row = _rewrite_one(obj, "parquet", SPEC, False)
    assert row[4] == "failed"
    assert "VersionConflictError" in row[5]
    assert _read_ids(obj) == [1, 2, 3, 4]  # untouched
    assert not [f for f in os.listdir(tmp_path) if f.startswith(".s3f2tmp")]


def test_job_with_delete_old_versions_false(spark, tmp_path, sf_dir):
    from amazon_s3_find_and_forget_spark.jobs import run_job

    lake = tmp_path / "lineitem"
    lake.mkdir()
    shutil.copy(
        os.path.join(sf_dir, "lineitem.parquet"), lake / "part-0.parquet"
    )
    mapper = DataMapper(
        "lineitem",
        str(lake),
        ["l_orderkey"],
        format="parquet",
        delete_old_versions=False,
    )
    result = run_job(spark, [mapper], [QueueItem(match_id=1)])
    assert result.status == "COMPLETED"
    obj = str(lake / "part-0.parquet")
    assert len(versions.list_versions(obj)) == 1
    # history restorable: the deleted rows come back
    before = spark.read.parquet(obj).where("l_orderkey = 1").count()
    assert before == 0
    versions.restore_version(obj)
    after = spark.read.parquet(obj).where("l_orderkey = 1").count()
    assert after > 0


def test_object_not_found_skip_vs_fail(tmp_path):
    missing = str(tmp_path / "gone.parquet")
    # IgnoreObjectNotFoundExceptions=True -> skipped (main.py:213-241)
    row = _rewrite_one(missing, "parquet", SPEC, True)
    assert row[4] == "skipped" and row[5] == "ObjectNotFound"
    # default -> failed
    row = _rewrite_one(missing, "parquet", SPEC, False)
    assert row[4] == "failed" and row[5] == "ObjectNotFound"


def test_job_partial_failure_on_missing_object(spark, tmp_path, sf_dir):
    """File vanishing between Find and Forget -> FORGET_PARTIALLY_FAILED,
    unless the mapper opts into ignoring missing objects."""
    from amazon_s3_find_and_forget_spark.jobs import run_job
    from amazon_s3_find_and_forget_spark.plans import forget as forget_mod

    lake = tmp_path / "li"
    lake.mkdir()
    shutil.copy(os.path.join(sf_dir, "lineitem.parquet"), lake / "p.parquet")

    real = forget_mod.forget_files

    def vanishing_forget(spark_, files, groups, **kw):
        for f in files:
            local = f[len("file:"):] if f.startswith("file:") else f
            os.remove(local)
        return real(spark_, files, groups, **kw)

    forget_mod.forget_files = vanishing_forget
    # run_job imports forget_files inside the function -> patch module attr
    import amazon_s3_find_and_forget_spark.jobs as jobs_mod  # noqa: F401

    try:
        mapper = DataMapper("li", str(lake), ["l_orderkey"])
        r = run_job(spark, [mapper], [QueueItem(match_id=1)])
        assert r.status == "FORGET_PARTIALLY_FAILED"
        shutil.copy(os.path.join(sf_dir, "lineitem.parquet"), lake / "p.parquet")
        mapper2 = DataMapper(
            "li", str(lake), ["l_orderkey"], ignore_object_not_found=True
        )
        r2 = run_job(spark, [mapper2], [QueueItem(match_id=1)])
        assert r2.status == "COMPLETED"
        assert any(
            e["EventName"] == "ObjectUpdateSkipped" for e in r2.events
        )
    finally:
        forget_mod.forget_files = real


def test_gzip_parquet_input_rewrites_to_snappy(tmp_path):
    """Reference reads snappy/brotli/gzip parquet, writes snappy
    (docs/LIMITS.md:12-28)."""
    import pyarrow.parquet as pq_mod

    obj = str(tmp_path / "gz.parquet")
    pq.write_table(
        pa.table({"customer_id": pa.array([1, 2, 3], pa.int64())}),
        obj,
        compression="gzip",
    )
    row = _rewrite_one(obj, "parquet", SPEC, False)
    assert row[4] == "updated" and row[3] == 2
    meta = pq_mod.ParquetFile(obj).metadata
    assert meta.row_group(0).column(0).compression == "SNAPPY"
    assert _read_ids(obj) == [1]


# --------------------------------------------------------------------------
# one commit path: every local rewrite goes through LocalObjectStore
# --------------------------------------------------------------------------


def _data_files(root):
    """Every file a Parquet/JSON reader lists: names starting with '.'
    or '_' (version stores, temps, checksums, markers) excluded."""
    out = []
    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(x for x in dirs if x[0] not in "._")
        out.extend(
            os.path.relpath(os.path.join(d, f), root)
            for f in sorted(files)
            if f[0] not in "._"
        )
    return out


def _spark_lake(spark, path, n=40):
    spark.range(n).selectExpr("id AS customer_id", "id % 7 AS v").repartition(
        4
    ).write.parquet(path)


def test_injected_local_store_keeps_lake_readable(spark, tmp_path):
    """Two deletion jobs through an injected LocalObjectStore factory
    over a Spark-written lake: a rewrite must leave no file a reader
    lists as data, so the second job's Find and a plain re-read work."""
    from amazon_s3_find_and_forget_spark.api import Engine

    lake = str(tmp_path / "lake")
    _spark_lake(spark, lake)
    before = _data_files(lake)
    engine = Engine(
        spark,
        str(tmp_path / "state"),
        store_factory=lambda arn: LocalObjectStore(),
    )
    engine.put_data_mapper("t", {"Location": lake, "Columns": ["customer_id"]})
    for ids in ([1, 2], [3, 4]):
        engine.enqueue_matches([{"MatchId": i} for i in ids])
        job = engine.process_queue()
        assert job["JobStatus"] == "COMPLETED", job
        assert job["TotalObjectUpdateFailedCount"] == 0
    spark.catalog.clearCache()
    assert spark.read.parquet(lake).count() == 36
    assert _data_files(lake) == before


@pytest.mark.parametrize("injected", [False, True])
@pytest.mark.parametrize("mode", [0o644, 0o640])
def test_rewrite_keeps_file_mode(tmp_path, mode, injected):
    """The rewritten object keeps the replaced one's mode bits (the
    local analog of the reference's ACL replay, s3.py:61-98)."""
    obj = str(tmp_path / "data.parquet")
    _write_parquet(obj, [1, 2, 3])
    os.chmod(obj, mode)
    factory = (lambda arn: LocalObjectStore()) if injected else None
    row = _rewrite_one(obj, "parquet", SPEC, False, store_factory=factory)
    assert row[4] == "updated", row
    assert _read_ids(obj) == [1]
    assert stat.S_IMODE(os.stat(obj).st_mode) == mode


def test_spark_lake_with_crc_rewritten_twice(spark, tmp_path):
    """Spark's local writer leaves ``.part-*.crc`` checksums; a rewrite
    must drop the replaced object's, or Spark's next read of the new
    bytes fails its checksum."""
    from amazon_s3_find_and_forget_spark.jobs import run_job

    lake = str(tmp_path / "crc_lake")
    _spark_lake(spark, lake)
    crcs = [f for f in os.listdir(lake) if f.endswith(".crc")]
    assert any(f.startswith(".part-") for f in crcs)
    mapper = DataMapper("t", lake, ["customer_id"])
    left = 40
    for ids in ([5, 6], [7, 8]):
        result = run_job(spark, [mapper], [QueueItem(match_id=i) for i in ids])
        assert result.status == "COMPLETED", result.events
        left -= len(ids)
        spark.catalog.clearCache()
        got = {r.customer_id for r in spark.read.parquet(lake).collect()}
        assert len(got) == left and not got & set(ids)
        for path in result.file_stats:
            local = path[0][len("file:"):] if path[0].startswith("file:") else path[0]
            crc = os.path.join(
                os.path.dirname(local), f".{os.path.basename(local)}.crc"
            )
            assert not os.path.exists(crc)


def test_millisecond_archive_ids_list_and_restore_in_order(tmp_path):
    """Stores written before LocalObjectStore owned every local commit
    hold 15-digit millisecond ids; next to the store's 20-digit
    nanosecond ids they list oldest first and restore in time order."""
    obj = str(tmp_path / "data.parquet")
    _write_parquet(obj, [1, 2, 3, 4])
    tmp = str(tmp_path / ".tmp.parquet")
    _write_parquet(tmp, [1, 2, 3])
    # the id form the former posix commit path archived under
    legacy_id = f"{int(time.time() * 1000):015d}-{uuid.uuid4().hex[:8]}"
    versions.commit(obj, tmp, versions.snapshot(obj), archive_as=legacy_id)
    row = _rewrite_one(obj, "parquet", SPEC, False, delete_old_versions=False)
    assert row[4] == "updated", row
    chain = versions.list_versions(obj)
    assert len(chain) == 2 and chain[0] == legacy_id
    assert len(chain[1].split("-")[0]) == 20
    assert _read_ids(obj) == [1]
    versions.restore_version(obj)
    assert _read_ids(obj) == [1, 2, 3]
    versions.restore_version(obj)
    assert _read_ids(obj) == [1, 2, 3, 4]
    assert versions.list_versions(obj) == []


def test_local_store_sidecars(tmp_path):
    """Default properties write no sidecar; metadata lives where the CSE
    reader looks (``<obj>.s3meta.json``), the other fields in a hidden
    sidecar, and a field the new version drops is removed."""
    from amazon_s3_find_and_forget_spark.sources import cse

    obj = str(tmp_path / "data.parquet")
    _write_parquet(obj, [1, 2, 3])
    store = LocalObjectStore()
    store.save(obj, open(obj, "rb").read())
    assert sorted(os.listdir(tmp_path)) == [".s3f2versions", "data.parquet"]
    props = ObjectProperties(content_type="application/parquet", tags={"a": "b"})
    store.put_properties(obj, props)
    assert _data_files(str(tmp_path)) == ["data.parquet"]
    assert store.get_properties(obj) == props
    store.save(obj, b"v2", ObjectProperties(metadata={"k": "v"}))
    assert _data_files(str(tmp_path)) == [
        "data.parquet", "data.parquet.s3meta.json"
    ]
    assert cse.load_metadata(obj) == {"k": "v"}
    assert store.get_properties(obj) == ObjectProperties(metadata={"k": "v"})
    # the replaced version archived its own sidecar and restores it
    versions.restore_version(obj)
    restored = store.get_properties(obj)
    assert (restored.content_type, restored.tags) == (
        props.content_type, props.tags
    )
