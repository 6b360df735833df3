"""Deletion-job benchmark: time-to-erasure, scan and rewrite volume.

Drives the user-facing path, ``api.Engine`` (``put_data_mapper`` ->
``enqueue_matches`` -> ``process_queue``), against a lake generated from
``--seed`` (see ``lakes.py``), one client in a closed loop: each job is
submitted only after the previous one returned, each over its own
disjoint match batch, until ``--seconds`` have been measured.

    python3 perfbench/run.py --workload needle_parquet --seed 1 \\
        --seconds 10 --trace 0

Run it from the repository root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs the same set-up, a few untraced jobs and a
few traced ones, and prints the per-layer metrics (see BENCHMARK.json).
Every run verifies the erasure with ``verify.py``, which reads the lake
with DuckDB and never through the engine. The last line of stdout is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.

Everything the run writes stays under ``.perfbench_work/`` (removed at
exit) and ``.perfbench_out/`` (span dumps) in the working directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time

import lakes
import verify

ROOT = os.getcwd()

MAPPER = {"Columns": ["l_orderkey"], "Format": "parquet",
          "PartitionKeys": ["ship_ym"]}

# name -> lineitem lake size, match-batch size (order keys per job) and
# warm-up jobs. The JIT keeps speeding up per-object code until ~10k
# objects have been scanned (measured: needle jobs settle from job ~5).
WORKLOADS = {
    "needle_parquet": dict(rows=5_000_000, objects=1079, batch=4, warmup=5),
    "sweep_parquet": dict(rows=4_000_000, objects=166, batch=5000, warmup=3),
}
# --scale tiny: toy lakes with the same shapes, for the smoke test
TINY = {
    "needle_parquet": dict(rows=40_000, objects=83, batch=4, warmup=1),
    "sweep_parquet": dict(rows=40_000, objects=83, batch=50, warmup=1),
}
# the JSON kernel's side lake in the traced run (gzip JSON Lines events)
JSON_LAKE = dict(rows=60_000, days=4, objects_per_day=2, users=3_000)
JSON_MATCHES = 100  # composite (user_id, event_type) matches

BATCHES = 24  # upper bound on jobs per run (warm-up included)
MIN_JOBS = 3
KERNEL_OBJECTS = 24  # objects re-rewritten in-process by the traced run
CHAIN_DOCS = 5_000  # corpus of the traced run's curation-chain pass
CHAIN_RUNS = 2  # evaluations of the chain; the first one warms up

E2E_UNITS = {
    "setup_s": "s",
    "job_s": "s",
    "objects_per_min": "obj/min",
    "scan_bytes_ratio": "ratio",
    "rewrite_bytes_ratio": "ratio",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "api.self_s": "s",
    "api.job_doc_bytes": "bytes",
    "jobs.self_s": "s",
    "jobs.events": "count",
    "jobs.failed_object_ratio": "ratio",
    "data_mappers.read_s": "s",
    "matches.groups_s": "s",
    "matches.manifest_s": "s",
    "matches.manifest_rows": "count",
    "find.s": "s",
    "find.input_bytes": "bytes",
    "find.records_read": "count",
    "find.tasks": "count",
    "find.executor_cpu_s": "s",
    "find.objects_matched": "count",
    "find.match_ratio": "ratio",
    "forget.s": "s",
    "forget.objects": "count",
    "forget.bytes_in": "bytes",
    "forget.bytes_out": "bytes",
    "forget.rows_processed": "count",
    "forget.rows_deleted": "count",
    "forget.delete_ratio": "ratio",
    "sources.rewrite_ms_per_object": "ms",
    "sources.rewrite_mb_per_s": "MB/s",
    "sources.json_rewrite_ms_per_object": "ms",
    "sources.json_rewrite_mb_per_s": "MB/s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "plan.exchanges": "count",
    "operators.chain_s": "s",
    "operators.executor_cpu_s": "s",
    "operators.shuffle_bytes": "bytes",
    "operators.exchanges": "count",
    "operators.rows_out": "count",
    "process.peak_rss_mb": "MB",
    "trace.overhead_s": "s",
    "verify.failures": "count",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def start_spark(work: str):
    """Local Spark on every core, with scratch space inside ``work``."""
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Python workers import the engine from the working tree
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    from amazon_s3_find_and_forget_spark import session

    spark = session.get_spark(
        app_name="perfbench",
        cpus=os.cpu_count() or 4,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def fresh_engine(spark, work: str, pristine: str):
    """A restored lake (hard links to the pristine objects) and an Engine
    over a fresh state dir with the workload's mapper registered."""
    from amazon_s3_find_and_forget_spark.api import Engine

    lake = os.path.join(work, "lake")
    lakes.link_copy(pristine, lake)
    engine = Engine(spark, os.path.join(work, "state"))
    engine.put_data_mapper("lake", {**MAPPER, "Location": lake})
    return engine, lake


def run_jobs(spark, engine, lake, batches, first, seconds,
             min_jobs=MIN_JOBS, tracer=None) -> list[dict]:
    """Closed loop: one job per batch until ``seconds`` have elapsed and
    at least ``min_jobs`` ran. Only ``process_queue`` is timed."""
    sc = spark.sparkContext
    out = []
    deadline = time.perf_counter() + seconds
    b = first
    while b < len(batches) and (
        len(out) < min_jobs or time.perf_counter() < deadline
    ):
        engine.enqueue_matches([{"MatchId": k} for k in batches[b]])
        before = lakes.snapshot(lake)
        group = f"job{b}"
        if tracer is None:
            sc.setJobGroup(group, "perfbench")
            t0 = time.perf_counter()
            job = engine.process_queue()
            dt = time.perf_counter() - t0
        else:
            tracer.job = group
            span = tracer.begin("api.process_queue", "api")
            t0 = time.perf_counter()
            try:
                job = engine.process_queue()
            finally:
                dt = time.perf_counter() - t0
                tracer.end(span)
        after = lakes.snapshot(lake)
        changed = [p for p, v in after.items() if before.get(p) != v]
        doc = os.path.join(engine.state_dir, "jobs", job["Id"] + ".json")
        out.append(
            {
                "batch": b,
                "group": group,
                "seconds": dt,
                "status": job["JobStatus"],
                "updated": job.get("TotalObjectUpdatedCount", 0),
                "failed": job.get("TotalObjectUpdateFailedCount", 0),
                "skipped": job.get("TotalObjectUpdateSkippedCount", 0),
                "events": len(job.get("Events", [])),
                "changed": [os.path.relpath(p, lake) for p in changed],
                "doc_bytes": os.path.getsize(doc),
                "lake_bytes": sum(v[1] for v in before.values()),
                "lake_objects": len(before),
                "bytes_in": sum(before[p][1] for p in changed if p in before),
                "bytes_out": sum(after[p][1] for p in changed),
            }
        )
        log(f"job {b}: {dt:.3f}s {job['JobStatus']} "
            f"updated={out[-1]['updated']}")
        b += 1
    sc.setJobGroup("perfbench-idle", "perfbench")
    return out


def attach_counters(spark, jobs: list[dict]) -> None:
    import counters

    counters.drain_listener_bus(spark)
    for j in jobs:
        j["spark"] = counters.read_group(spark, j["group"]).totals


def _descendants() -> set[int]:
    """Pids of every live descendant of this process."""
    parent = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    tree, frontier = set(), [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return tree


def peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of this process and every
    descendant: the JVM and its Python workers."""
    total_kb = 0
    for pid in _descendants() | {os.getpid()}:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop Spark, then wait until the JVM and every process it started
    (the Python worker daemon and its workers) have exited."""
    children = _descendants()
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while children and time.monotonic() < deadline:
        children = {p for p in children if _alive(p)}
        time.sleep(0.1)
    for pid in children:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def e2e_metrics(setup_s: float, jobs: list[dict]) -> dict:
    secs = [j["seconds"] for j in jobs]
    lake_bytes = sum(j["lake_bytes"] for j in jobs)
    return {
        "setup_s": setup_s,
        "job_s": statistics.median(secs),
        "objects_per_min": sum(j["updated"] for j in jobs) / sum(secs) * 60,
        "scan_bytes_ratio": sum(j["spark"]["input_bytes"] for j in jobs)
        / lake_bytes,
        "rewrite_bytes_ratio": sum(j["bytes_out"] for j in jobs) / lake_bytes,
    }


def _time_kernel(kernel, pairs, spec, kdir, tracer) -> dict:
    """Rewrite each (source object, relative name) pair in-process, on a
    copy; returns ms per object and MB/s over the bytes read."""
    name = "sources." + kernel.__name__
    spent = nbytes = 0.0
    for path, rel in pairs:
        suffix = ".gz" if rel.endswith(".gz") else ""
        src = os.path.join(kdir, "in" + suffix)
        dst = os.path.join(kdir, "out" + suffix)
        shutil.copyfile(path, src)
        t0 = time.time()
        stats = kernel(src, dst, spec)
        t1 = time.time()
        if not stats["DeletedRows"]:
            raise RuntimeError(f"{name} deleted nothing from {rel}")
        tracer.record(name, "sources", t0, t1)
        spent += t1 - t0
        nbytes += os.path.getsize(src)
    return {"ms": spent / len(pairs) * 1e3, "mb_s": nbytes / 1e6 / spent}


def time_kernels(work, seed, pristine, batches, jobs, tracer) -> dict:
    """The ``sources`` layer: Forget runs the rewrite kernels in Python
    workers, out of a driver-side wrapper's sight, so the traced run
    calls them in-process instead — the Parquet kernel on copies of the
    pristine versions of the objects the traced jobs rewrote, the JSON
    kernel on a seeded gzip JSON Lines events lake with composite
    (event_type, user_id) matches."""
    from amazon_s3_find_and_forget_spark.sources.jsonl_file import (
        rewrite_json_file,
    )
    from amazon_s3_find_and_forget_spark.sources.parquet_file import (
        rewrite_parquet_file,
    )

    kdir = os.path.join(work, "kernel")
    os.makedirs(kdir, exist_ok=True)
    tracer.job = "kernel"
    pq_runs = []
    for j in jobs:
        pairs = [(os.path.join(pristine, r), r) for r in j["changed"]]
        pq_runs.append(_time_kernel(
            rewrite_parquet_file, pairs[:KERNEL_OBJECTS],
            [{"Type": "Simple", "Column": "l_orderkey",
              "MatchIds": batches[j["batch"]]}],
            kdir, tracer,
        ))
    events = os.path.join(work, "events")
    gen = lakes.events_lake(events, seed, batches=1,
                            batch_size=JSON_MATCHES, **JSON_LAKE)
    js = _time_kernel(
        rewrite_json_file,
        [(p, os.path.relpath(p, events)) for p in lakes.data_files(events)],
        [{"Type": "Composite", "Columns": ["event_type", "user_id"],
          "MatchIds": [(e, u) for u, e in gen["batches"][0]]}],
        kdir, tracer,
    )
    return {
        "sources.rewrite_ms_per_object": statistics.median(
            r["ms"] for r in pq_runs),
        "sources.rewrite_mb_per_s": statistics.median(
            r["mb_s"] for r in pq_runs),
        "sources.json_rewrite_ms_per_object": js["ms"],
        "sources.json_rewrite_mb_per_s": js["mb_s"],
    }


def time_operators(spark, work, seed, tracer, docs=CHAIN_DOCS) -> dict:
    """Evaluate the text-curation chain (``text_curation_pipeline_v2``)
    to a collected result over a seeded corpus: the ``operators`` layer,
    which no deletion job reaches."""
    from amazon_s3_find_and_forget_spark.catalog import text as catalog_text

    corpus = os.path.join(work, "corpus")
    lakes.documents(corpus, seed, docs)
    runs = []
    for r in range(CHAIN_RUNS):
        tracer.job = f"operators{r}"
        span = tracer.begin("operators.text_curation_pipeline_v2",
                            "operators")
        try:
            df = catalog_text.q_text_curation_pipeline_v2(spark, corpus)
            rows = len(df.collect())
        finally:
            tracer.end(span)
        got = tracer.attach_spark_jobs(tracer.job)
        totals = got["operators.text_curation_pipeline_v2"].totals
        runs.append(
            {
                "operators.chain_s": span.end - span.start,
                "operators.executor_cpu_s": totals["executor_cpu_s"],
                "operators.shuffle_bytes": totals["shuffle_read_bytes"]
                + totals["shuffle_write_bytes"],
                "operators.rows_out": rows,
            }
        )
    out = {k: statistics.median(r[k] for r in runs[1:]) for k in runs[0]}
    # planned exchanges, from a plan not yet executed (an executed
    # adaptive plan prints its initial and final forms)
    out["operators.exchanges"] = count_exchanges(
        catalog_text.q_text_curation_pipeline_v2(spark, corpus))
    return out


def install_wrappers(tracer) -> None:
    from amazon_s3_find_and_forget_spark import api, matches
    from amazon_s3_find_and_forget_spark.data_mappers import DataMapper
    from amazon_s3_find_and_forget_spark.plans import find, forget

    tracer.wrap(api, "run_job", "jobs.run_job", "jobs")
    tracer.wrap(api, "fold_status", "jobs.fold_status", "jobs")
    tracer.wrap(api, "fold_counters", "jobs.fold_counters", "jobs")
    tracer.wrap(DataMapper, "read", "data_mappers.read", "data_mappers")
    tracer.wrap(matches, "build_column_groups", "matches.build_column_groups",
                "matches")
    tracer.wrap(matches, "build_manifest_df", "matches.build_manifest_df",
                "matches")
    tracer.wrap(matches, "write_manifest", "matches.write_manifest",
                "matches")
    tracer.wrap(find, "find_affected_files",
                "plans.find.find_affected_files", "plans.find",
                open_ended=True)
    tracer.wrap(forget, "forget_files", "plans.forget.forget_files",
                "plans.forget")
    tracer.wrap(forget, "forget_files_df", "plans.forget.forget_files_df",
                "plans.forget")


def count_exchanges(df) -> int:
    """Exchanges in the physical plan of ``df``, reused ones excluded."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        1 for line in plan.splitlines()
        if "Exchange" in line and "ReusedExchange" not in line
    )


def layer_metrics(spark, tracer, jobs, untraced, session_s) -> dict:
    """Per-layer numbers of the traced jobs, medians over jobs."""
    per_job = []
    manifests = tracer.calls.get("matches.build_manifest_df", [])
    finds = tracer.calls.get("plans.find.find_affected_files", [])
    forgets = tracer.calls.get("plans.forget.forget_files", [])
    for i, j in enumerate(jobs):
        by_span = tracer.attach_spark_jobs(j["group"])
        selft = tracer.self_times(j["group"])
        total = {}
        for g in by_span.values():
            for k, v in g.totals.items():
                total[k] = total.get(k, 0) + v
        find_c = by_span.get("plans.find.find_affected_files")
        find_t = find_c.totals if find_c else {}
        args, kwargs, stats = forgets[i]
        matched = len(args[1])
        processed = sum(r[2] for r in stats)
        deleted = sum(r[3] for r in stats)
        margs = manifests[i][0]
        mrows = sum(
            len(margs[3]) if it.type == "Simple" else 1 for it in margs[4]
        )
        attempted = j["updated"] + j["failed"] + j["skipped"]
        per_job.append(
            {
                "api.self_s": selft.get("api", 0.0),
                "api.job_doc_bytes": j["doc_bytes"],
                "jobs.self_s": selft.get("jobs", 0.0),
                "jobs.events": j["events"],
                "jobs.failed_object_ratio": j["failed"] / max(attempted, 1),
                "data_mappers.read_s": selft.get("data_mappers", 0.0),
                "matches.groups_s": sum(
                    s.end - s.start for s in tracer.spans
                    if s.job == j["group"]
                    and s.name == "matches.build_column_groups"
                ),
                "matches.manifest_s": sum(
                    s.end - s.start for s in tracer.spans
                    if s.job == j["group"]
                    and s.name in ("matches.build_manifest_df",
                                   "matches.write_manifest")
                ),
                "matches.manifest_rows": mrows,
                "find.s": selft.get("plans.find", 0.0),
                "find.input_bytes": find_t.get("input_bytes", 0),
                "find.records_read": find_t.get("records_read", 0),
                "find.tasks": find_t.get("tasks", 0),
                "find.executor_cpu_s": find_t.get("executor_cpu_s", 0.0),
                "find.objects_matched": matched,
                "find.match_ratio": matched / j["lake_objects"],
                "forget.s": selft.get("plans.forget", 0.0),
                "forget.objects": j["updated"],
                "forget.bytes_in": j["bytes_in"],
                "forget.bytes_out": j["bytes_out"],
                "forget.rows_processed": processed,
                "forget.rows_deleted": deleted,
                "forget.delete_ratio": deleted / max(processed, 1),
                "spark.jobs": sum(len(g.jobs) for g in by_span.values()),
                "spark.tasks": total.get("tasks", 0),
                "spark.executor_cpu_s": total.get("executor_cpu_s", 0.0),
                "spark.gc_s": total.get("gc_s", 0.0),
                "spark.shuffle_read_bytes": total.get("shuffle_read_bytes", 0),
                "spark.shuffle_write_bytes": total.get(
                    "shuffle_write_bytes", 0),
                "spark.spill_bytes": total.get("spill_bytes", 0),
                "plan.exchanges": count_exchanges(finds[i][2]),
                "trace.total_s": j["seconds"],
            }
        )
    out = {
        k: statistics.median(row[k] for row in per_job) for k in per_job[0]
    }
    out["trace.overhead_s"] = out.pop("trace.total_s") - statistics.median(
        j["seconds"] for j in untraced
    )
    out["session.start_s"] = session_s
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)  # the engine package, from the working tree
    size = dict((TINY if args.scale == "tiny" else WORKLOADS)[args.workload])
    batch, warmup = size.pop("batch"), size.pop("warmup")
    work = os.path.join(
        ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        session_t0, t0 = time.time(), time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t0

        pristine = os.path.join(work, "pristine")
        t1 = time.perf_counter()
        gen = lakes.lineitem_lake(pristine, args.seed, batches=BATCHES,
                                  batch_size=batch, **size)
        gen_s = time.perf_counter() - t1
        batches = gen["batches"]
        files = lakes.data_files(pristine)
        lake_bytes = sum(map(os.path.getsize, files))
        expectation = verify.Expectation(pristine, batches)

        # a fresh state dir and restored lake; warm-up jobs run first
        t2 = time.perf_counter()
        engine, lake = fresh_engine(spark, work, pristine)
        warm = run_jobs(spark, engine, lake, batches, 0, 0.0,
                        min_jobs=warmup)
        setup_s = session_s + gen_s + time.perf_counter() - t2
        first = len(warm)
        log(f"session {session_s:.2f}s gen {gen_s:.2f}s "
            f"expectation {t2 - t1 - gen_s:.2f}s setup {setup_s:.2f}s")

        tracer = None
        if args.trace:
            import spans

            untraced = run_jobs(spark, engine, lake, batches, first,
                                args.seconds / 2)
            tracer = spans.Tracer(spark)
            tracer.job = "setup"
            tracer.record("session.get_spark", "session", session_t0,
                          session_t0 + session_s)
            install_wrappers(tracer)
            try:
                jobs = run_jobs(spark, engine, lake, batches,
                                first + len(untraced), args.seconds / 2,
                                tracer=tracer)
            finally:
                tracer.uninstall()
            measured = untraced + jobs
        else:
            jobs = run_jobs(spark, engine, lake, batches, first,
                            args.seconds)
            measured = jobs
        applied = [j["batch"] for j in warm + measured]
        t3 = time.perf_counter()
        problems = verify.check(lake, expectation, applied)
        log(f"measured {len(measured)} jobs; verify "
            f"{time.perf_counter() - t3:.2f}s")

        failed_jobs = [
            j for j in warm + measured
            if j["status"] != "COMPLETED" or j["failed"]
        ]
        if args.trace:
            metrics = layer_metrics(spark, tracer, jobs, untraced, session_s)
            metrics.update(time_kernels(work, args.seed, pristine, batches,
                                        jobs, tracer))
            metrics.update(time_operators(
                spark, work, args.seed, tracer,
                CHAIN_DOCS if args.scale == "full" else 500,
            ))
            metrics["process.peak_rss_mb"] = peak_rss_mb()
            metrics["verify.failures"] = 1 if problems else 0
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            tracer.dump(os.path.join(
                ROOT, ".perfbench_out",
                f"trace-{args.workload}-{args.seed}.json",
            ))
            units = LAYER_UNITS
        else:
            attach_counters(spark, jobs)
            metrics = e2e_metrics(setup_s, jobs)
            units = E2E_UNITS
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # the parent, once empty
            os.rmdir(os.path.dirname(work))

    print(
        f"# workload={args.workload} seed={args.seed} trace={args.trace} "
        f"jobs={len(measured)} (K, one client, closed loop) "
        f"warmup_jobs={len(warm)}"
    )
    print(
        f"# lake: generator_version={lakes.GENERATOR_VERSION} "
        f"bytes={lake_bytes} objects={len(files)} "
        f"rows={expectation.rows}"
    )
    for p in problems:
        print(f"# verify: {p}")
    for name in units:
        print(f"{name} {metrics[name]:.6g} {units[name]}")
    print(json.dumps({
        "correct": not problems and not failed_jobs,
        "attempted": len(warm) + len(measured),
        "failed": len(failed_jobs) + (1 if problems else 0),
        "metrics": {
            name: {"value": metrics[name], "unit": units[name]}
            for name in units
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
