"""The match manifest is written from the driver, and a deletion job
launches Spark work only for its Find and Forget.

The driver-written manifest must read back through ``spark.read.json``
exactly as Spark's own ``partitionBy("JobId", "DataMapperId")`` JSON
writer's output does, partition-value escaping included.
"""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from amazon_s3_find_and_forget_spark.api import Engine
from amazon_s3_find_and_forget_spark.data_mappers import DataMapper
from amazon_s3_find_and_forget_spark.jobs import run_job
from amazon_s3_find_and_forget_spark.matches import (
    QueueItem,
    build_manifest_df,
    manifest_rows,
    write_manifest,
)

MAPPER_IDS = ["o'brien x", "a/b", "k=v"]

ITEMS = [
    QueueItem(match_id="12345"),
    QueueItem(match_id=7),
    QueueItem(
        match_id=[
            {"Column": "last_name", "Value": "Doe"},
            {"Column": "first_name", "Value": "Jöhn \"J\"\n"},
        ],
        type="Composite",
        data_mappers=["m1"],
    ),
]


def _partition_dirs(root):
    return sorted(
        os.path.relpath(d, root)
        for d, _, files in os.walk(root)
        if any(f.endswith(".json") and not f.startswith(".") for f in files)
    )


def _sorted_rows(df):
    return sorted(
        (tuple(r[c] for c in sorted(df.columns)) for r in df.collect()),
        key=repr,
    )


@pytest.mark.parametrize(
    "mapper_id", MAPPER_IDS + ["".join(map(chr, range(1, 128))) + "é"]
)
def test_driver_manifest_reads_back_like_spark_written(
    spark, tmp_path, mapper_id
):
    job_id = "job-1"
    columns = ["customer_id", "email"]
    mdf = build_manifest_df(spark, job_id, mapper_id, columns, ITEMS)
    spark_dir, driver_dir = str(tmp_path / "spark"), str(tmp_path / "driver")
    mdf.write.partitionBy("JobId", "DataMapperId").json(spark_dir)
    write_manifest(manifest_rows(job_id, mapper_id, columns, ITEMS), driver_dir)

    # same directories: partition values escaped as Spark escapes them
    assert _partition_dirs(driver_dir) == _partition_dirs(spark_dir)
    want = spark.read.json(spark_dir)
    got = spark.read.json(driver_dir)
    assert got.schema == want.schema
    assert _sorted_rows(got) == _sorted_rows(want) == _sorted_rows(
        mdf.select(*want.columns)
    )
    # the object is renamed into place: no temp file is left behind
    assert not [
        f for _, _, files in os.walk(driver_dir) for f in files
        if f.startswith(".")
    ]


def _lake(root, name, ids):
    lake = os.path.join(root, name)
    os.makedirs(lake)
    pq.write_table(
        pa.table({"customer_id": pa.array(ids, pa.int64())}),
        os.path.join(lake, "f.parquet"),
    )
    return lake


def test_engine_records_and_removes_escaped_manifest_dirs(spark, tmp_path):
    engine = Engine(spark, str(tmp_path / "state"))
    for i, mid in enumerate(MAPPER_IDS):
        lake = _lake(str(tmp_path), f"lake{i}", [1, 2, 3])
        engine.put_data_mapper(
            mid, {"Location": lake, "Columns": ["customer_id"]}
        )
    engine.enqueue_matches([{"MatchId": 2}])
    job = engine.process_queue()
    assert job["JobStatus"] == "COMPLETED"

    mroot = os.path.join(engine.state_dir, "manifests")
    part_root = os.path.join(mroot, f"JobId={job['Id']}")
    assert job["Manifests"] == sorted(
        os.path.join(part_root, d)
        for d in ["DataMapperId=o%27brien x", "DataMapperId=a%2Fb",
                  "DataMapperId=k%3Dv"]
    )
    back = spark.read.json(mroot).collect()
    assert sorted(r.DataMapperId for r in back) == sorted(MAPPER_IDS)
    assert {r.QueryableMatchId for r in back} == {"2"}

    out = engine.delete_job(job["Id"])
    assert out["ManifestsRemoved"] == job["Manifests"]
    assert not os.path.exists(part_root)


def _group_jobs(spark, group):
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    return [
        store.job(j) for j in sorted(sc.statusTracker().getJobIdsForGroup(group))
    ]


def test_job_launches_spark_work_only_for_find_and_forget(spark, tmp_path):
    """Over a lake with more partition directories than the discovery
    threshold (32): the listing runs as at most one task per core, and
    writing the manifest adds no Spark job."""
    pristine = str(tmp_path / "pristine")
    for p in range(40):
        d = os.path.join(pristine, f"part={p}")
        os.makedirs(d)
        pq.write_table(
            pa.table({"customer_id": pa.array(
                [p * 10 + i for i in range(10)], pa.int64())}),
            os.path.join(d, "f.parquet"),
        )
    sc = spark.sparkContext
    runs = {}
    for name, manifest_dir in (("bare", None),
                               ("manifest", str(tmp_path / "manifests"))):
        lake = str(tmp_path / name)
        shutil.copytree(pristine, lake)
        group = f"job-budget-{name}"
        sc.setJobGroup(group, "job budget")
        try:
            result = run_job(
                spark,
                [DataMapper("m1", lake, ["customer_id"])],
                [QueueItem(match_id=17)],
                manifest_dir=manifest_dir,
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert result.status == "COMPLETED"
        runs[name] = _group_jobs(spark, group)

    assert os.listdir(str(tmp_path / "manifests"))
    assert [j.name() for j in runs["manifest"]] == [
        j.name() for j in runs["bare"]
    ]
    listings = [
        j for j in runs["manifest"]
        if j.description().isDefined()
        and j.description().get().startswith("Listing leaf files")
    ]
    assert listings
    tracker = sc.statusTracker()
    for j in listings:
        (stage,) = tracker.getJobInfo(j.jobId()).stageIds
        assert tracker.getStageInfo(stage).numTasks <= sc.defaultParallelism
