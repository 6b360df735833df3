"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Includes an end-to-end find+forget deletion job over a multi-file copy of
lineitem — the reference's whole reason to exist — plus the heaviest
analytic / dedup / similarity queries.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from amazon_s3_find_and_forget_spark import entry_queries  # noqa: E402
from amazon_s3_find_and_forget_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

BENCH_QUERIES = [
    "find_rows_simple",
    "forget_survivors_simple",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "events_hourly",
    "events_sessions",
    "dedup_exact_survivors",
    "dedup_minhash_survivors",
    "dedup_minhash_survivors_t08",
    "dedup_simhash_pairs",
    "text_quality",
    "text_lang_id",
    "similarity_cosine",
    "job_stats_fold",
    # round 13: DSIR Gumbel-top-k selection (fit + score + cut), the
    # round's new heavy text operator, timed where the driver measures
    "text_dsir_sample",
]

# The sf1 lane swaps the permuted-corpus SimHash row for the v2
# near-dup-corpus row (round-15, r14 verdict ask #1): the sf1
# dedup_simhash_pairs cell carried the round-14 record's only tripwire
# flag (4.386 s vs calibrated floor 2.058 on UNTOUCHED code — the same
# same-code JIT/weather banding that retired the sf10 sibling in round
# 14), and a floor-continuity cell that can only false-flag is
# measurement debt. documents_v2 exists in every derived lane dir, so
# the lane now measures SimHash on real near-dup structure at both
# scales; the permuted row still runs at sf0.1 (where its band is
# stable) and stays oracle-gated via dedup_simhash_complete. Archived
# sf1 floors: SCALE.md (round-15 entry).
SF1_QUERIES = [
    "dedup_simhash_pairs_v2" if q == "dedup_simhash_pairs" else q
    for q in BENCH_QUERIES
]


def ensure_sf1(base_dir: str) -> str | None:
    """Derive (once, ~7 s, cached by marker) the 10x-tiled sf1 dataset for
    the second bench lane. Shuffle-bound regressions (tpch_q5/q3, the
    dedup joins) only show where they actually bite — at the bigger
    scale — so BENCH records both lanes per round. Returns None (lane
    skipped) when disabled, when benching a non-standard dir, or when
    derivation fails."""
    if os.environ.get("SPARK_GRAFT_BENCH_SF1", "1") != "1":
        return None
    if os.path.basename(base_dir.rstrip("/")) != "sf0.1":
        return None  # only the standard lane gets a derived big sibling
    out = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/s3f2-sf1-bench")
    # marker is VERSIONED: bumping it invalidates lanes derived by an
    # older generator (v4: class-conditional marker vocabulary in tiled
    # documents copies, round 14 — keeps classifier/DSIR claims
    # assertable at lane scale; v3 was the multi-file/bounded-row-group
    # layout + the documents_v2 near-dup corpus, round 13)
    marker = os.path.join(out, "_complete_v4")
    if os.path.exists(marker):
        return out
    import subprocess

    tool = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "tools", "make_scale_data.py")
    try:
        subprocess.run(
            [sys.executable, tool, out, "--src", base_dir, "--mult", "10"],
            check=True, capture_output=True, timeout=600,
        )
        with open(marker, "w") as f:
            f.write("ok")
        return out
    except Exception as e:  # noqa: BLE001 — lane is optional
        print(f"# sf1 lane skipped: {type(e).__name__}: {e}", file=sys.stderr)
        return None


def ensure_sf10(sf1_dir: str | None) -> str | None:
    """Derive (once, ~45 s, cached by marker) the 100x dataset for the
    third lane by tiling the sf1 lane 10x further: 60M-row lineitem,
    500k-doc corpus, 200k embeddings (~1.5 GB parquet). The lane that
    converts 100-TB design claims from sf1 extrapolation into measured
    scaling exponents — round 12 it caught an O(len^2) expression
    blowup and a planner broadcast OOM that sf1 never exposed."""
    if os.environ.get("SPARK_GRAFT_BENCH_SF10", "1") != "1":
        return None
    if sf1_dir is None:
        return None  # sf10 tiles the sf1 lane; no sf1, no sf10
    out = os.environ.get("SPARK_GRAFT_SF10_DIR", "/tmp/s3f2-sf10-bench")
    marker = os.path.join(out, "_complete_v4")
    if os.path.exists(marker):
        return out
    import subprocess

    tool = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "tools", "make_scale_data.py")
    try:
        subprocess.run(
            [sys.executable, tool, out, "--src", sf1_dir, "--mult", "10"],
            check=True, capture_output=True, timeout=900,
        )
        with open(marker, "w") as f:
            f.write("ok")
        return out
    except Exception as e:  # noqa: BLE001 — lane is optional
        print(f"# sf10 lane skipped: {type(e).__name__}: {e}",
              file=sys.stderr)
        return None


# The sf10 lane runs the HEAVIES once each (min-of-1: the lane exists to
# catch scaling-shape breaks, not to band sub-second noise).
# dedup_minhash_survivors (t=0.5 legacy r=4 banding) is deliberately
# absent: measured at sf10, that layout generates 1.03e9 band-collision
# candidate pairs on this corpus (max bucket 16k docs) vs 598k pairs for
# the tuned t=0.8 layout — a pathological operating point, not a lane
# query; the analysis lives in SCALE.md.
# text_contamination is NOT here although it is a heavy: its catalog
# shape ends in a left-outer flag join that .count() lets Catalyst
# eliminate entirely, so a bench count would time a bare scan (the
# curation pipeline exercises the same screen through an inner join
# that cannot be eliminated).
SF10_QUERIES = [
    "tpch_q5",
    "dedup_minhash_survivors_t08",
    "dedup_simhash_pairs_v2",
    "dedup_clusters_minhash",
    "dedup_span_removal",
    "text_curation_pipeline",
    "text_curation_pipeline_v2",
    "text_stratified_sample",
    "text_dsir_sample",
    "text_llm_pipeline",
    # round 14: density-based pruning claims (Sorscher 2022) over the
    # 200k-vector corpus — k-means train + 3 prune passes + separation
    # aggregates; the claims must HOLD at scale, not just time
    "similarity_prototype_prune",
    # round 14: the composed embedding pipeline (exact PCA -> prune ->
    # SemDeDup, built TWICE for the determinism claim) at 200k vectors
    "similarity_llm_pipeline",
    # round 14: paragraph-level exact dedup (C4/Dolma granularity) over
    # the deterministically paragraph-ized 500k-doc corpus
    "dedup_paragraphs",
    # round 15: ExactSubstr (Lee et al. 2021) — variable-length verbatim
    # repeat removal via hash-counted + string-verified 20-token
    # windows; the tiled lane corpus is a worst case (nearly every
    # window duplicated ~100x), so this cell prices the verify phase's
    # duplicated-mass bound, not a sparse-dup best case
    "dedup_exact_substrings",
    # round 15: Bloom screening claims asserted at the decade — the
    # row builds the filter over 333k history docs, screens the 167k
    # arriving batch, and cross-checks against the exact screen
    "dedup_incremental_bloom",
]
# Round-13 lane additions:
# - dedup_simhash_pairs_v2 runs over the documents_v2 near-dup variant
#   corpus (linear pair mass by construction) so SimHash wall-clock
#   measures the engine, not the permuted corpus's output-quadratic
#   artifact. Lane-only: documents_v2 exists only in derived dirs.
#   The permuted-corpus dedup_simhash_pairs row was RETIRED round 14
#   (r13 verdict ask #4): its recorded spreads ([35.0, 11.9] closing,
#   [49.8, 37.1] dev — a 4x same-code JIT band) could only false-flag;
#   floors archived in SCALE.md.
# - dedup_clusters_minhash is the transitive-components soak at scale:
#   CC over the MinHash pair source that completes at 500k docs (the
#   exact n-gram pair source dedup_components gates on DNFs at sf10).
# - text_stratified_sample gives the lane a map-heavy text query whose
#   sf10 output is NON-empty (the curation pipeline's 0-row sf10 result
#   is semantically explained but a dead regression canary on its own).
# - text_curation_pipeline_v2 runs the SAME composed pipeline over the
#   v2 corpus, where the screen doesn't flag everything — a non-empty
#   curation canary. Since round 14 it is a gated catalog row
#   (corpus-adaptive: documents_v2 here, a synthesized SQL-replicable
#   near-dup variant in gate/sweep dirs).
# - text_dsir_sample soaks the round-13 DSIR fit+score+cut at 500k docs.
# - text_llm_pipeline soaks the composed decontaminate -> Gopher-filter
#   -> DSIR-select chain (sf1 9.9s -> sf10 26.4s, 2.7x for 10x; each
#   stage's gram/feature work is corpus-linear, the cut is k-bounded).


def _resolve_query(name: str):
    """Catalog lookup plus the lane-only rows: queries over corpora
    that exist only in derived scale dirs (``documents_v2``) are not in
    the sweep registry — see catalog/dedup.py — but both derived lanes
    time them."""
    if name == "dedup_simhash_pairs_v2":
        from amazon_s3_find_and_forget_spark.catalog.dedup import (
            q_dedup_simhash_pairs_v2,
        )

        return q_dedup_simhash_pairs_v2
    return entry_queries.QUERIES[name]


def bench_find_forget_job(spark, sf_dir: str = None) -> float:
    """End-to-end deletion job over a 16-file copy of lineitem."""
    from amazon_s3_find_and_forget_spark.data_mappers import DataMapper
    from amazon_s3_find_and_forget_spark.jobs import run_job
    from amazon_s3_find_and_forget_spark.matches import QueueItem

    workdir = tempfile.mkdtemp(prefix="s3f2-bench-")
    lake = os.path.join(workdir, "lineitem")
    try:
        src = entry_queries.load(spark, sf_dir or SF_DIR, "lineitem")
        src.repartition(16).write.parquet(lake)
        mapper = DataMapper("lineitem", lake, ["l_orderkey"], format="parquet")
        items = [QueueItem(match_id=k) for k in entry_queries.MATCH_ORDERKEYS]
        start = time.perf_counter()
        result = run_job(spark, [mapper], items)
        elapsed = time.perf_counter() - start
        assert result.status == "COMPLETED", result.status
        return elapsed
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


def run_suite(
    spark,
    sf_dir: str,
    runs: int,
    label: str,
    queries: list[str] = BENCH_QUERIES,
) -> dict[str, float]:
    """Min-of-``runs`` per query over one sf dir (one lane)."""
    timings: dict[str, float] = {}
    for name in queries:
        fn = _resolve_query(name)
        best, n = None, 0
        for _ in range(runs):
            start = time.perf_counter()
            n = fn(spark, sf_dir).count()
            elapsed = time.perf_counter() - start
            best = elapsed if best is None else min(best, elapsed)
        timings[name] = round(best, 3)
        print(f"# [{label}] {name}: {timings[name]}s ({n} rows)", file=sys.stderr)
        # drop caches a query persisted so queries don't interfere
        # (within a query's runs, plan-keyed cache reuse is a real
        # engine feature and stays), and release the queries'
        # localCheckpoint blocks NOW: they are freed by the
        # ContextCleaner only after GC notices the dropped DataFrames,
        # and letting them pile up produces multi-second GC spikes
        # inside later queries' timed runs
        spark.catalog.clearCache()
        import gc as _gc

        _gc.collect()
        spark.sparkContext._jvm.System.gc()

    timings["find_forget_job"] = round(
        min(bench_find_forget_job(spark, sf_dir) for _ in range(runs)), 3
    )
    print(
        f"# [{label}] find_forget_job: {timings['find_forget_job']}s",
        file=sys.stderr,
    )
    return timings


CAL_WORKLOAD = "range150m-xxhash64-xoragg-mod65536-p32-v1"


def calibration_probe(spark, runs: int = 3) -> float:
    """Fixed pure-JVM workload with a pinned plan, timed min-of-``runs``.

    The host this bench runs on drifts: round 10 measured identical
    code +24 % suite-over-suite (driver) and a further +27 % (judge
    rerun) — pure neighbor load. Per-query bands alone cannot tell a
    slow host from a slow plan, so every BENCH record carries this
    probe and the tripwire expresses each band floor in CURRENT-host
    seconds (floor x cal_now / cal_then). The workload is all
    whole-stage-codegen arithmetic (range -> xxhash64 -> partial
    hash-agg over 65536 groups, one tiny exchange) with partition count
    pinned at 32 regardless of $SPARK_GRAFT_CPUS, so the number is
    comparable across rounds even if the session shape changes."""
    from pyspark.sql import functions as F

    best = None
    for _ in range(runs):
        start = time.perf_counter()
        (
            spark.range(0, 150_000_000, 1, 32)
            .groupBy((F.col("id") % 65536).alias("k"))
            # xor-fold: overflow-free under ANSI mode, still one
            # xxhash64 per row inside whole-stage codegen
            .agg(F.expr("bit_xor(xxhash64(id))").alias("h"))
            .selectExpr("bit_xor(h) AS total")
            .collect()
        )
        elapsed = time.perf_counter() - start
        best = elapsed if best is None else min(best, elapsed)
    return round(best, 3)


def shuffle_probe(spark, runs: int = 2) -> dict:
    """Pinned corpus-scale SHUFFLE workload, timed min-of-``runs`` —
    the machinery the arithmetic probe is blind to.

    Round-17 evidence for why this exists: at identical data (sweep
    row counts byte-identical to r16) and untouched operator code, the
    shuffle-heavy sf10 dedup rows ran 1.5-2x their bands while the
    arithmetic calibration probe read FASTER than the prior round
    (0.584 vs 0.673) and both io probes sat mid-range — and the
    driver's own r16-closing record shows the same elevated regime at
    cal 0.577 (simhash_v2 68.7 single-sample, clusters 14.6) where the
    builder's same-HEAD closing run hours earlier recorded 9.7/22.3 at
    cal 0.673. The host oscillates between two parallel-throughput
    regimes (shared-infra memory bandwidth / shuffle-spill disk) that
    neither the single-plan codegen probe nor the sequential-write
    probe spans. This workload — 12M md5-string rows through a
    64-partition hash exchange + wide agg — moves ~0.5 GiB through
    serialization, shuffle block write/read on spark.local.dir, and
    the sort/agg memory path, so its seconds track exactly the
    resource those rows burn. The tripwire prices
    ``SHUFFLE_BOUND_ROWS`` in these units once history carries the
    reading (the calibration_io_sustained self-heal pattern: record
    this round, engage next)."""
    from pyspark.sql import functions as F

    best = None
    for _ in range(runs):
        start = time.perf_counter()
        (
            spark.range(0, 12_000_000, 1, 32)
            .select(
                F.md5(F.col("id").cast("string")).alias("k"),
                F.col("id").alias("v"),
            )
            .repartition(64, "k")
            .groupBy(F.substring("k", 1, 6).alias("g"))
            .agg(F.count("*").alias("n"), F.max("k").alias("m"))
            .agg(F.count("*").alias("c"), F.max("m").alias("mm"))
            .collect()
        )
        elapsed = time.perf_counter() - start
        best = elapsed if best is None else min(best, elapsed)
    return {
        "value": round(best, 3),
        "unit": "sec",
        "workload": f"shuffle-12M-md5-repart64-agg-min{runs}-v1",
    }


def io_probe(runs: int = 2, mib: int = 256) -> dict:
    """Sequential write+fsync bandwidth (MiB/s, max-of-``runs``) on the
    filesystem the write-heavy lane row actually writes to.

    The CPU calibration probe is blind to DISK weather, and exactly one
    lane row cares: ``find_forget_job`` is the suite's only write-heavy
    query (its forget rewrite moves ~2 GiB through the page cache at
    sf10). Round-14 bisect data: across three sessions the row's raw
    min tracked this probe's reading (197-536 MiB/s, oscillating by
    minutes) while the CPU probe sat flat at 0.62-0.65 s — so its
    floor must be adjudicated in disk-bandwidth units, not
    CPU-calibration units (the tripwire's ``IO_BOUND_ROWS`` path).
    Max-of-runs because bandwidth is a capacity: the best observed rate
    is the host's ability, the worst is neighbor interference.

    Probe hygiene (round-15, ADVICE): the buffer is ``mib`` MiB of
    FRESH urandom — writing one reused 1-MiB buffer 256 times lets a
    deduplicating/compressing filesystem fold the stream and report
    memory bandwidth instead of the lane's real write path. The probed
    directory is ``tempfile.gettempdir()`` because that IS where
    ``bench_find_forget_job`` puts its lake (``tempfile.mkdtemp`` with
    no ``dir``), and it is recorded in the JSON so the reading stays
    interpretable: if that path is tmpfs, the lane's rewrite hits the
    same tmpfs and the probe still prices the right medium.

    Two regimes, two fields (round 16): the 256 MiB default measures
    BURST bandwidth — cloud volumes serve short writes from a credit
    bucket at a rate multi-GiB writes cannot sustain (measured same
    session this round: 500 MiB/s burst vs 197 MiB/s sustained on this
    host — a 2.6x gap that made the burst-priced io floor flag pure
    disk weather on the sf10 lane row, whose rewrite moves ~3 GiB).
    ``main`` therefore records a second reading at ``mib=1024`` as
    ``calibration_io_sustained``; ``evaluate_tripwire`` prefers the
    sustained reading for IO_BOUND_ROWS whenever the current record
    AND a prior both carry it, falling back to the burst band
    otherwise (the same self-heal-over-one-round pattern the io band
    itself used in round 15).
    """
    probe_dir = tempfile.gettempdir()
    path = os.path.join(probe_dir, "_s3f2_io_probe.bin")
    data = os.urandom(mib << 20)  # incompressible AND dedup-proof
    best = 0.0
    try:
        for _ in range(runs):
            start = time.perf_counter()
            with open(path, "wb") as f:
                for off in range(mib):
                    f.write(data[off << 20:(off + 1) << 20])
                f.flush()
                os.fsync(f.fileno())
            best = max(best, mib / (time.perf_counter() - start))
    finally:
        try:
            os.remove(path)
        except OSError:
            pass
    return {
        "value": round(best, 1),
        "unit": "MiB/s",
        "workload": f"seq-write-fsync-{mib}MiB-fresh-max{runs}",
        "path": probe_dir,
    }


# Rows whose wall-clock is DISK-bandwidth-bound, not CPU-bound: the
# round-14 bisect (SCALE.md:930-971) proved find_forget_job's time is
# its ~2 GiB rewrite I/O — its raw min tracked the disk probe's
# 197-536 MiB/s oscillation while the CPU probe sat flat — so the
# tripwire must normalize these rows by ``calibration_io``, not the CPU
# probe (r14 verdict ask #2): a disk-weather swing scales row and probe
# alike and stays quiet, while a genuine plan regression (more bytes
# moved, or a new CPU stage) still flags at any bandwidth.
IO_BOUND_ROWS = {"find_forget_job"}

# Rows whose cost is dominated by corpus-scale exchanges (the MinHash/
# SimHash band joins, span/paragraph reassembly, ExactSubstr window
# relation): their floors are additionally priced in shuffle-probe
# units once history carries the reading (round 17 — see
# shuffle_probe's docstring for the two-regime evidence). The max-of-
# bases rule means a slow-shuffle day RAISES these rows' defensible
# floor instead of flagging weather, while a real plan regression
# still exceeds every basis.
SHUFFLE_BOUND_ROWS = {
    "dedup_simhash_pairs_v2",
    "dedup_clusters_minhash",
    "dedup_minhash_survivors_t08",
    "dedup_span_removal",
    "dedup_paragraphs",
    "dedup_exact_substrings",
}


# A prior record's probe may only re-price its cells when the probe
# shows a host within this factor of the fleet's best-observed probe
# for that basis. Rationale (round 17, measured): normalization assumes query
# wall-clock scales WITH the probe (a uniformly slow host). On this
# host class the probes can degrade far more than the rows they price
# — the committed probe-2.854 weather record's disk/shuffle-bound sf10
# cells sat at quiet-session values (its own artifact documents the
# regime diagnosis) — so dividing a quiet-valued cell by a 4-5x probe
# fabricates a normalized floor 3-6x below any cell EVER OBSERVED, and
# the band min() selects exactly those poisoned samples: a later quiet
# run false-flagged 37 rows across the three lanes, every floor traced
# to a degraded-probe record. Records from such sessions keep their
# raw values (upper bounds — still valid for the uncalibrated
# fallback) but are excluded from the normalized bands. One-sided by
# design: a FASTER-than-median probe with quiet cells is the best-ever
# band the tripwire wants; only the slow-probe direction breaks the
# proportionality assumption.
PROBE_OUTLIER_FACTOR = 1.5


# record-tuple probe indices -> basis names (for the probe_excluded
# marker carried through the history tuples)
_PROBE_BASIS = {1: "cpu", 2: "io", 3: "ios", 4: "shuffle"}


def _probe_anchor(vals, slower_is_higher=True):
    """The fleet's best-observed probe for a basis: min for time-unit
    probes (fixed work — the fastest reading is the closest to
    hardware truth and can only be approached, never faked, by a
    contended host), max for bandwidth probes."""
    return min(vals) if slower_is_higher else max(vals)


def _probe_outlier_cut(records, idx, slower_is_higher=True):
    """Null out probe field ``idx`` on records whose probe indicates a
    host >= PROBE_OUTLIER_FACTOR x slower than the fleet's
    BEST-OBSERVED probe for that basis. Time-unit probes (cpu/shuffle
    seconds) degrade upward; bandwidth probes (MiB/s) degrade downward.

    Anchored to the fleet best rather than the median (round 18, r17
    ADVICE): with a median anchor, a degraded MAJORITY shifts the
    median into the degraded regime and the cut silently no-ops — the
    poisoned normalized floors return with no signal. The best reading
    cannot be dragged by degraded sessions (it is itself never cut:
    best <= factor x best), so the rule is stable under any mix. The
    round-17 class-(a) residue — quiet-band records whose probes
    overstated their sessions' row-level degradation (e.g. the 0.927
    cpu probe whose cells sat at 0.512-session values) — now also
    falls outside the band instead of fabricating sub-observed floors.
    Excluded records get the basis name added to their marker set
    (last tuple element) so the tripwire's fallback flag can
    distinguish a probe-era degraded session from a pre-probe-era
    record."""
    vals = [r[idx] for r in records if r[idx]]
    if len(vals) < 2:
        return records  # no fleet to define an anchor against
    best = _probe_anchor(vals, slower_is_higher)
    out = []
    for r in records:
        p = r[idx]
        degraded = p is not None and (
            p > PROBE_OUTLIER_FACTOR * best
            if slower_is_higher
            else p * PROBE_OUTLIER_FACTOR < best
        )
        if degraded:
            r = (
                r[:idx] + (None,) + r[idx + 1:-1]
                + (r[-1] | {_PROBE_BASIS[idx]},)
            )
        out.append(r)
    return out


def _load_bench_history(repo_dir: str):
    """Per lane/query history from every recorded ``BENCH_r*.json``:
    ``hist[lane][query] -> [(value, cal, io, ios, sh, excluded)]``
    plus the number of rounds seen and the surviving fleet probes per
    basis (``fleet["cpu"|"io"|"ios"|"shuffle"]``). Shared by the
    tripwire and the sf10 lane's retry floors so both price prior
    cells identically. Degraded-probe records (see
    PROBE_OUTLIER_FACTOR) contribute raw values only — their probes
    are nulled before the tuples are built, so no normalized band is
    derived from a session whose probe/row proportionality is broken;
    the ``excluded`` frozenset names the bases that were cut so the
    fallback flag can say WHY a floor is unpriced."""
    import glob

    hist: dict[str, dict[str, list[tuple]]] = {}
    rounds = 0
    records: list[tuple] = []  # (lanes, cal, io, ios, sh, excl_set)
    for path in sorted(glob.glob(os.path.join(repo_dir, "BENCH_r*.json"))):
        try:
            with open(path) as f:
                doc = json.load(f)
        except Exception:  # noqa: BLE001 — a corrupt record is not fatal
            continue
        parsed = doc.get("parsed", doc)
        if not isinstance(parsed, dict):
            continue
        cal = (parsed.get("calibration") or {}).get("value")
        io_doc = parsed.get("calibration_io") or {}
        io = io_doc.get("value")
        # probe-methodology gate (round-16 ADVICE): only combine io
        # readings taken with the fresh-urandom probe ("-fresh" in the
        # workload tag). The pre-r15 probe rewrote one reused 1-MiB
        # buffer, which a deduplicating/compressing filesystem folds —
        # its inflated MiB/s would inflate the implied-MiB floor and
        # mask or misprice regressions on IO_BOUND_ROWS. An old-basis
        # (or untagged) reading degrades like the pre-probe case: no io
        # band from that record, flags carry io_unpriced if none is
        # left.
        if io is not None and "-fresh" not in str(io_doc.get("workload") or ""):
            io = None
        # sustained-regime reading (round 16): multi-GiB writes on
        # cloud volumes run below the 256 MiB burst rate; the io-bound
        # lane row moves GiBs, so its band prefers this reading when
        # both sides carry it. Same methodology gate.
        ios_doc = parsed.get("calibration_io_sustained") or {}
        ios = ios_doc.get("value")
        if ios is not None and "-fresh" not in str(
            ios_doc.get("workload") or ""
        ):
            ios = None
        # shuffle-regime reading (round 17): same methodology gate —
        # only same-versioned workloads combine
        sh_doc = parsed.get("calibration_shuffle") or {}
        sh = sh_doc.get("value")
        if sh is not None and "-v1" not in str(sh_doc.get("workload") or ""):
            sh = None
        lanes = {
            "sf0.1": parsed.get("queries"),
            "sf1": (parsed.get("sf1") or {}).get("queries"),
            "sf10": (parsed.get("sf10") or {}).get("queries"),
        }
        if any(lanes.values()):
            rounds += 1
        records.append((lanes, cal, io, ios, sh, frozenset()))
    # degraded-probe exclusion, per basis (indices into the record
    # tuple: 1=cpu seconds, 2=io burst MiB/s, 3=io sustained MiB/s,
    # 4=shuffle seconds)
    records = _probe_outlier_cut(records, 1, slower_is_higher=True)
    records = _probe_outlier_cut(records, 2, slower_is_higher=False)
    records = _probe_outlier_cut(records, 3, slower_is_higher=False)
    records = _probe_outlier_cut(records, 4, slower_is_higher=True)
    fleet: dict[str, list[float]] = {}
    for _lanes, cal, io, ios, sh, _excl in records:
        for basis, p in (("cpu", cal), ("io", io), ("ios", ios),
                         ("shuffle", sh)):
            if p:
                fleet.setdefault(basis, []).append(p)
    for lanes, cal, io, ios, sh, excl in records:
        for lane, queries in lanes.items():
            if queries:
                for q, v in queries.items():
                    hist.setdefault(lane, {}).setdefault(q, []).append(
                        (v, cal, io, ios, sh, excl)
                    )
    return hist, rounds, fleet


def sf10_retry_floors(repo_dir: str, cur_cal) -> dict[str, float]:
    """Cheap per-row band floors (current-host seconds) for the sf10
    lane's RETRY decision — the cpu-basis floor the tripwire would use,
    computed before the lane runs. Rows with <2 priors get no floor
    (the tripwire would not flag them either). This is a retry
    heuristic, not a flag: a mispriced floor costs at most one extra
    bounded sample, never a recorded false positive."""
    hist, _, _ = _load_bench_history(repo_dir)
    floors: dict[str, float] = {}
    for q, prior in hist.get("sf10", {}).items():
        if len(prior) < 2:
            continue
        cpu_normed = [pv / pc for pv, pc, *_rest in prior if pc]
        if cur_cal and cpu_normed:
            floors[q] = min(cpu_normed) * cur_cal
        else:
            floors[q] = min(pv for pv, *_ in prior)
    return floors


def sf10_should_retry(
    name: str,
    runs: list[float],
    floor,
    watch,
    rerun_under: float = 60.0,
    spread_third: float = 1.25,
    factor: float = 1.5,
    min_delta: float = 0.25,
) -> bool:
    """Whether the sf10 lane takes another sample after ``runs``.

    Policy (round 17, closing the r16 verdict's no-retry hole): watch
    rows ALWAYS run min-of-3 — the 60 s cutoff no longer strands them
    at one weather-inflated sample (their recorded first samples sat
    at 45-52 s, exactly the near-the-line case the r16 ADVICE called
    out). Other rows above the cutoff stay min-of-1 — UNLESS the
    sample exceeds the row's tripwire band floor by the same
    (factor, min_delta) margin a flag would use, which earns exactly
    one extra run: without it a weather-inflated first sample above
    60 s became the recorded cell (the r16 68.7 s single-sample
    dedup_simhash_pairs_v2 flag), i.e. the worst samples were the
    ones the lane refused to retry. Sub-cutoff rows keep min-of-2
    with a spread-triggered third."""
    if len(runs) >= 3:
        return False
    if name in watch:
        return True
    if runs[-1] >= rerun_under:
        return (
            len(runs) < 2
            and floor is not None
            and min(runs) > factor * floor
            and min(runs) - floor > min_delta
        )
    want = 2
    if len(runs) >= 2 and max(runs) > spread_third * min(runs):
        want = 3
    return len(runs) < want


def evaluate_tripwire(
    out: dict,
    repo_dir: str,
    factor: float = 1.5,
    min_delta: float = 0.25,
) -> None:
    """Per-query regression tripwire against the multi-round band.

    Round 9 measured identical code moving -51%/+11% per query between
    rounds, so a single prior sample cannot be a baseline. Instead each
    lane's floor is the MIN across every recorded ``BENCH_r*.json``
    (each itself a min-of-N), and the flag fires only when the current
    min exceeds ``factor`` x that floor with >= 2 prior rounds of
    evidence — a sustained shape change, not rig noise. ``min_delta``
    gates the ABSOLUTE excess too: round-10 ran the bench twice
    back-to-back on identical code and sub-second queries crossed 1.5x
    their floor with a DIFFERENT flag set each run (pure neighbor
    load), so a ratio alone cannot clear the noise envelope on small
    timings — 0.1 s of jitter must not flag, while a heavy query
    doubling still does.

    Rig-drift normalization (round 11, engagement widened round 12):
    when the current record and AT LEAST ONE prior record carry the
    ``calibration`` probe, each query's band floor is computed in
    CALIBRATION-NORMALIZED units (seconds per calibration-second) and
    converted back to current-host seconds before comparison — a
    uniformly slow host scales query and probe alike and does not flag,
    while a single-query regression stands out at any host speed. A
    one-sample normalized band is noisier than a deep one (the
    ``n_probed`` field says how deep it is), but it is strictly better
    than pricing today's run against raw seconds from the rig's
    best-ever weather — exactly the false-positive shape round 11's
    simhash flag took. With no probed prior at all the raw-seconds band
    remains (pre-calibration behavior), and the flag then carries
    ``weather_suspect: true`` when the floor itself predates the probe
    era — the reader knows the band cannot distinguish a slow plan from
    a fast old rig. Flags are advisory: re-run on a quiet rig before
    treating one as a regression. Results land in ``out["tripwire"]``
    so every BENCH record shows it evaluated."""
    hist, rounds, fleet = _load_bench_history(repo_dir)
    cur_cal = (out.get("calibration") or {}).get("value")
    cur_io = (out.get("calibration_io") or {}).get("value")
    cur_ios = (out.get("calibration_io_sustained") or {}).get("value")
    cur_sh = (out.get("calibration_shuffle") or {}).get("value")
    # Current-run probe outlier check (round 18, r17 ADVICE): the same
    # one-sided rule the history cut applies, pointed at TODAY's
    # probes. A degraded current-session probe breaks the same
    # proportionality assumption — it multiplies every cpu/shuffle
    # floor up (masking real regressions) and divides io floors down —
    # so the record carries an explicit probe_suspect tag per basis.
    # Advisory only: flags still compute (a reader discounts them).
    probe_suspect: dict[str, bool] = {}
    for basis, cur, slower_is_higher in (
        ("cpu", cur_cal, True),
        ("io", cur_io, False),
        ("ios", cur_ios, False),
        ("shuffle", cur_sh, True),
    ):
        vals = fleet.get(basis) or []
        if cur is None or len(vals) < 2:
            continue
        best = _probe_anchor(vals, slower_is_higher)
        if (cur > PROBE_OUTLIER_FACTOR * best if slower_is_higher
                else cur * PROBE_OUTLIER_FACTOR < best):
            probe_suspect[basis] = True
    flagged: dict[str, dict] = {}
    # per-lane io-band engagement for the disk-bound rows, recorded
    # whether or not anything flags (round 17, r16 verdict ask #4: the
    # artifact itself must show WHICH regime priced each io floor —
    # previously that was only visible on a flag, so a clean round
    # could not prove the sustained band engaged)
    io_bands: dict[str, dict[str, str]] = {}
    shuffle_bands: dict[str, dict[str, str]] = {}
    current_lanes = {
        "sf0.1": out.get("queries"),
        "sf1": (out.get("sf1") or {}).get("queries"),
        "sf10": (out.get("sf10") or {}).get("queries"),
    }
    for lane, current in current_lanes.items():
        if not current:
            continue
        for q, v in current.items():
            prior = hist.get(lane, {}).get(q, [])
            if len(prior) < 2:
                continue  # not enough band to distinguish noise
            weather_suspect = False
            basis = None
            floors: dict[str, tuple[float, int]] = {}
            io_regime = None
            if q in IO_BOUND_ROWS:
                # disk-bound row: cost scales with 1/bandwidth, so the
                # band lives in implied-MiB units (seconds x MiB/s);
                # the floor converts back at TODAY's measured bandwidth.
                # The SUSTAINED reading is preferred whenever both the
                # current record and a prior carry it — the row moves
                # GiBs, and burst credit on cloud volumes makes the
                # 256 MiB reading overstate what a multi-GiB rewrite
                # gets (2.6x measured round 16); mixing regimes would
                # misprice the floor, so the two never combine.
                sus_normed = [
                    pv * pios for pv, _pc, _pio, pios, *_ in prior if pios
                ]
                if cur_ios and sus_normed:
                    floors["io"] = (
                        min(sus_normed) / cur_ios, len(sus_normed)
                    )
                    io_regime = "sustained"
                elif cur_io:
                    io_normed = [
                        pv * pio for pv, _pc, pio, *_ in prior if pio
                    ]
                    if io_normed:
                        floors["io"] = (
                            min(io_normed) / cur_io, len(io_normed)
                        )
                        io_regime = "burst"
                io_bands.setdefault(lane, {})[q] = io_regime or "unpriced"
            if q in SHUFFLE_BOUND_ROWS:
                sh_normed = [
                    pv / psh for pv, _pc, _pio, _pios, psh, *_ in prior
                    if psh
                ]
                if cur_sh and sh_normed:
                    floors["shuffle"] = (
                        min(sh_normed) * cur_sh, len(sh_normed)
                    )
                shuffle_bands.setdefault(lane, {})[q] = (
                    "priced" if "shuffle" in floors else "unpriced"
                )
            cpu_normed = [pv / pc for pv, pc, *_ in prior if pc]
            if cur_cal and cpu_normed:
                # floor in current-host seconds: best-ever cost per
                # calibration-second, re-priced at today's probe
                floors["cpu"] = (
                    min(cpu_normed) * cur_cal, len(cpu_normed)
                )
            if floors:
                # a row with both bases (the io-tagged rows at small
                # scale factors are partly CPU-bound) is bounded below
                # by BOTH cost models — the max is the tightest
                # defensible floor, so disk weather can't flag a
                # CPU-bound lane and CPU weather can't flag a
                # disk-bound one; a real plan regression exceeds both
                basis = max(floors, key=lambda b: floors[b][0])
                floor, n_normed = floors[basis]
                calibrated = True
            else:
                floor_rec = min(prior, key=lambda t: t[0])
                floor_v, floor_cal = floor_rec[:2]
                floor = floor_v
                calibrated = False
                # floor measured before the probe existed: the band
                # aggregates the rig's best-ever weather and cannot
                # be re-priced — treat a flag as weather-suspect.
                # A probe NULLED by the outlier cut is a different
                # story (a probe-era degraded session, r17 ADVICE):
                # the marker set distinguishes the two.
                floor_excl = floor_rec[-1] if isinstance(
                    floor_rec[-1], frozenset
                ) else frozenset()
                weather_suspect = (
                    floor_cal is None and "cpu" not in floor_excl
                )
            if v > factor * floor and v - floor > min_delta:
                flag = {
                    "current": v,
                    "band_floor": round(floor, 3),
                    "ratio": round(v / floor, 2),
                    "n_prior": len(prior),
                    "calibrated": calibrated,
                }
                if calibrated:
                    flag["n_probed"] = n_normed
                    flag["basis"] = basis
                    if basis == "io" and io_regime:
                        flag["io_regime"] = io_regime
                elif weather_suspect:
                    flag["weather_suspect"] = True
                elif not calibrated and "cpu" in floor_excl:
                    # the floor record's probe was nulled by the
                    # outlier cut — a probe-era degraded session, not
                    # a pre-probe-era record
                    flag["probe_excluded"] = True
                if q in IO_BOUND_ROWS and "io" not in floors:
                    # the round-14 bisect says a CPU/raw-banded flag on
                    # a disk-bound row is uninterpretable — keep the
                    # flag visible but say so
                    flag["io_unpriced"] = True
                flagged.setdefault(lane, {})[q] = flag
    out["tripwire"] = {
        "evaluated": True,
        "factor": factor,
        "min_delta": min_delta,
        "rounds_seen": rounds,
        "io_band": io_bands,
        "shuffle_band": shuffle_bands,
        "flagged": flagged,
    }
    if probe_suspect:
        out["tripwire"]["probe_suspect"] = probe_suspect
        print(f"# TRIPWIRE probe_suspect (today's probe is a fleet "
              f"outlier; floors mispriced): {json.dumps(probe_suspect)}",
              file=sys.stderr)
    if flagged:
        print(f"# TRIPWIRE flagged: {json.dumps(flagged)}", file=sys.stderr)


def main():
    spark = get_spark(app_name="s3f2-bench", cpus=CPUS, shuffle_partitions=CPUS)
    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")

    # warm the JVM/codegen and the Arrow python-UDF worker pool on trivial
    # actions (worker spawn + pandas import would otherwise be billed to
    # the first pandas_udf query)
    entry_queries.load(spark, SF_DIR, "region").count()
    from pyspark.sql.functions import col, pandas_udf

    _warm = pandas_udf(lambda s: s, "long")
    # repartition so ALL worker slots spawn their python process now
    spark.range(100_000).repartition(CPUS).select(_warm(col("id"))).count()

    # min of RUNS runs per query: the engine's cost is the minimum; the
    # delta between runs is host/JIT noise (this rig shows 2-4x run-to-run
    # variance under neighbor load, with identical plans)
    RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    cal = calibration_probe(spark, RUNS)
    print(f"# calibration probe: {cal}s ({CAL_WORKLOAD})", file=sys.stderr)
    timings = run_suite(spark, SF_DIR, RUNS, f"sf{sf}")
    total = round(sum(timings.values()), 3)

    out = {
        "metric": f"headline suite wall-clock (min of {RUNS} runs/query)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "calibration": {"value": cal, "workload": CAL_WORKLOAD},
        "calibration_io": io_probe(),
        # sustained regime (1 GiB): what a multi-GiB rewrite actually
        # gets on a burst-credit volume; IO_BOUND_ROWS band on this
        # reading once history carries it (round 16)
        "calibration_io_sustained": io_probe(runs=1, mib=1024),
        # parallel shuffle/memory regime (round 17): prices the
        # SHUFFLE_BOUND_ROWS band once history carries the reading
        "calibration_shuffle": shuffle_probe(spark),
    }

    # second lane: the same suite at 10x data (derived once, cached) so
    # shuffle-bound scaling regressions are measured per round, not once
    sf1_dir = ensure_sf1(SF_DIR)
    if sf1_dir:
        sf1 = run_suite(spark, sf1_dir, RUNS, "sf1", SF1_QUERIES)
        out["sf1"] = {"value": round(sum(sf1.values()), 3), "queries": sf1}
        # Claim soak at lane scale (round 14, r13 verdict ask #5): the
        # v4 corpora carry a class-conditional vocabulary shift, so the
        # classifier's AUC/calibration/tilt/kept booleans must hold at
        # sf1 (measured AUC 0.9955 vs 0.58 on the v3 attenuated
        # markers) — asserted here, not just timed, and recorded.
        try:
            claims = entry_queries.QUERIES["text_quality_classifier"](
                spark, sf1_dir
            ).collect()[0].asDict()
            bools = {k: v for k, v in claims.items() if isinstance(v, bool)}
            out["sf1"]["claims"] = {"text_quality_classifier": bools}
            if not all(bools.values()):
                print(f"# [sf1] CLAIM FAILURE text_quality_classifier: "
                      f"{bools}", file=sys.stderr)
        except Exception as e:  # noqa: BLE001 — lane is optional
            out["sf1"]["claims"] = {
                "text_quality_classifier": f"ERR {type(e).__name__}: {e}"
            }
        spark.catalog.clearCache()

    # third lane: the heavies at 100x. Rows under SF10_RERUN_UNDER run
    # min-of-2 with the spread recorded (round-12 verdict ask #6: a
    # single 3-48 s sample on a shared rig will eventually false-flag a
    # "scaling regression"); rows at or above the bound stay min-of-1 —
    # they exist to catch scaling-SHAPE breaks, and a second multi-minute
    # run buys no noise rejection worth its wall-clock.
    sf10_dir = ensure_sf10(sf1_dir)
    if sf10_dir:
        SF10_RERUN_UNDER = 60.0
        sf10: dict[str, float] = {}
        sf10_spread: dict[str, list[float]] = {}
        sf10_errors: dict[str, str] = {}

        def _lane_gc():
            spark.catalog.clearCache()
            import gc as _gc

            _gc.collect()
            spark.sparkContext._jvm.System.gc()

        # Watch cells (r15 verdict ask #2): text_llm_pipeline and
        # dedup_paragraphs drifted >20% between r14 and r15 on UNTOUCHED
        # code, with a same-HEAD rerun contradicting the drift — classic
        # min-of-2 weather on a shared rig. These rows always take a
        # third sample; any other row whose two samples spread past 25%
        # earns a spread-triggered third. min-of-3 shrinks the
        # probability that BOTH recorded rounds caught a bad-weather min
        # without paying a third multi-minute run on quiet rows.
        # dedup_span_removal joined the watch set in round 17: its r16
        # min-of-2 (30.06/29.99 s) read as a 1.49x calibrated drift,
        # but the same-session standalone A/B at the same HEAD
        # (SCALE.md, "Round 17: dedup_span_removal sf10 drift adjudicated")
        # measured [34.5, 24.2, 18.6, 20.0] at probe 0.651 — a JIT
        # warm-up curve whose converged min (28.6 cal-sec) sits INSIDE
        # the r15 floor (30.0 cal-sec). Two samples caught only the
        # head of the curve; min-of-3 reaches the converged tail.
        # dedup_exact_substrings joined in the r17 optimization round
        # on identical evidence: two quiet-rig lane cells recorded
        # 53.4/54.7 s while the same-HEAD standalone min-of-3 converged
        # 86.4 -> 59.1 -> 34.7 s (control row flat) — its >60 s first
        # samples hit the above-cutoff path, whose bounded single retry
        # catches only the curve's second point.
        # dedup_minhash_survivors_t08 joined in round 18 closing the
        # r17 verdict's drift adjudication: the row's recorded r17
        # cells ([12.0, 11.4], [13.8, 12.1] — spreads too tight to
        # trigger a third) sat on the HEAD of a 4-6-sample warm-up
        # curve (standalone min-of-6 converged 22.5 -> 16.5 -> 14.4 ->
        # 11.1 -> 11.1 -> 9.9 s, control flat), while the r16 floor
        # (7.73) was itself sample 3 of a fast-converging session.
        # Interleaved HEAD-vs-r16 rounds moved BOTH directions (9.9 vs
        # 8.6, then 10.3 vs 11.2) — no code drift; min-of-2 was
        # recording the curve's head.
        SF10_WATCH = {
            "text_llm_pipeline", "dedup_paragraphs", "dedup_span_removal",
            "dedup_exact_substrings", "dedup_minhash_survivors_t08",
        }
        SF10_SPREAD_THIRD = 1.25
        # band floors for the above-cutoff retry decision (r16 verdict
        # ask #2); priced once, before the lane runs, at today's probe
        lane_floors = sf10_retry_floors(
            os.path.dirname(os.path.abspath(__file__)),
            (out.get("calibration") or {}).get("value"),
        )

        def sf10_run(name, thunk):
            # a lane query failing (the likeliest break at a new scale)
            # must cost its own number, not the whole BENCH record
            runs: list[float] = []
            try:
                n = None
                while True:
                    start = time.perf_counter()
                    n = thunk()
                    runs.append(round(time.perf_counter() - start, 3))
                    _lane_gc()
                    if not sf10_should_retry(
                        name,
                        runs,
                        lane_floors.get(name),
                        SF10_WATCH,
                        rerun_under=SF10_RERUN_UNDER,
                        spread_third=SF10_SPREAD_THIRD,
                    ):
                        break
                sf10[name] = min(runs)
                sf10_spread[name] = runs
                print(f"# [sf10] {name}: {sf10[name]}s ({n} rows, "
                      f"spread {runs})", file=sys.stderr)
            except Exception as exc:  # noqa: BLE001
                sf10_errors[name] = f"{type(exc).__name__}: {exc}"[:400]
                if runs:
                    sf10_spread[name] = runs
                print(f"# [sf10] {name} FAILED: {sf10_errors[name]}",
                      file=sys.stderr)
                _lane_gc()

        for name in SF10_QUERIES:
            fn = _resolve_query(name)
            sf10_run(name, lambda f=fn: f(spark, sf10_dir).count())
        # find_forget_job times itself (its lake setup is excluded), so
        # it gets its own min-of-2 loop instead of sf10_run's timer
        runs = []
        try:
            for _ in range(2):
                runs.append(
                    round(bench_find_forget_job(spark, sf10_dir), 3)
                )
                _lane_gc()
                # same above-cutoff policy as sf10_run: a first sample
                # past 60 s still earns its second run when it exceeds
                # the row's band floor (otherwise min-of-1 stands)
                if runs[-1] >= SF10_RERUN_UNDER and not sf10_should_retry(
                    "find_forget_job",
                    runs,
                    lane_floors.get("find_forget_job"),
                    SF10_WATCH,
                    rerun_under=SF10_RERUN_UNDER,
                    spread_third=SF10_SPREAD_THIRD,
                ):
                    break
            sf10["find_forget_job"] = min(runs)
            sf10_spread["find_forget_job"] = runs
            print(f"# [sf10] find_forget_job: {sf10['find_forget_job']}s "
                  f"(spread {runs})", file=sys.stderr)
        except Exception as exc:  # noqa: BLE001
            sf10_errors["find_forget_job"] = (
                f"{type(exc).__name__}: {exc}"[:400]
            )
            if runs:
                sf10_spread["find_forget_job"] = runs
            print(f"# [sf10] find_forget_job FAILED: "
                  f"{sf10_errors['find_forget_job']}", file=sys.stderr)
        out["sf10"] = {
            "value": round(sum(sf10.values()), 3),
            "queries": sf10,
            # actual per-row sample counts (r16 ADVICE: the old
            # hardcoded 2 misdescribed watched/spread-tripled rows)
            "runs": {q: len(r) for q, r in sf10_spread.items()},
            "retry_floors": {
                q: round(v, 3) for q, v in sorted(lane_floors.items())
            },
            "watch_min3": sorted(SF10_WATCH),
            "spread_third_over": SF10_SPREAD_THIRD,
            "rerun_under_sec": SF10_RERUN_UNDER,
            "spread": sf10_spread,
        }
        if sf10_errors:
            out["sf10"]["errors"] = sf10_errors
        # Claim soak at the 100x decade too (round-15, r14 verdict ask
        # #6): the v4 class markers tile into the sf10 corpus unchanged,
        # so the classifier's quality booleans must HOLD there — the
        # selection layer's evidence rides the decade the scale claims
        # live on, not just sf1.
        try:
            start = time.perf_counter()
            claims = entry_queries.QUERIES["text_quality_classifier"](
                spark, sf10_dir
            ).collect()[0].asDict()
            bools = {k: v for k, v in claims.items() if isinstance(v, bool)}
            out["sf10"]["claims"] = {"text_quality_classifier": bools}
            out["sf10"]["claims_sec"] = round(
                time.perf_counter() - start, 3
            )
            if not all(bools.values()):
                print(f"# [sf10] CLAIM FAILURE text_quality_classifier: "
                      f"{bools}", file=sys.stderr)
        except Exception as e:  # noqa: BLE001 — lane is optional
            out["sf10"]["claims"] = {
                "text_quality_classifier": f"ERR {type(e).__name__}: {e}"
            }
        _lane_gc()

    evaluate_tripwire(out, os.path.dirname(os.path.abspath(__file__)))
    emit_record(out)


def emit_record(out: dict, argv: list[str] | None = None) -> str:
    """Write the record to disk and print it as the SINGLE FINAL stdout
    line. The one-line-JSON stdout contract is the driver's parse
    surface and it has been lost twice to interleaved diagnostics
    (BENCH_r13/r14 truncation; BENCH_r16's tail ended in the tripwire
    dump — r17 verdict ask #3), so this function is the only stdout
    writer in the module: every diagnostic, tripwire message and lane
    log prints to stderr (asserted by test_bench_contract.py against
    the source), stderr is flushed BEFORE the payload so a merged
    stdout+stderr pipe cannot interleave a late diagnostic into the
    JSON line, and the payload is flushed immediately after.

    Persisting the full payload to disk (round-15, r14 verdict ask #7):
    two rounds running the driver's tail capture truncated the recorded
    artifact (BENCH_r13/r14 ``parsed: null``) — the on-disk copy is the
    artifact of record when stdout gets clipped. By DEFAULT every run
    overwrites BENCH_rlast_local.json in the repo: the name matches the
    tripwire's BENCH_r*.json glob, so the most recent run always
    contributes a full-fidelity record to the band history
    (round-record copies like BENCH_r15_local.json are kept by passing
    --json-out / SPARK_GRAFT_BENCH_JSON_OUT explicitly)."""
    payload = json.dumps(out)
    json_out = os.environ.get(
        "SPARK_GRAFT_BENCH_JSON_OUT",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "BENCH_rlast_local.json",
        ),
    )
    args = sys.argv if argv is None else argv
    for i, a in enumerate(args):
        if a == "--json-out" and i + 1 < len(args):
            json_out = args[i + 1]
        elif a.startswith("--json-out="):
            json_out = a.split("=", 1)[1]
    if json_out:
        try:
            with open(json_out, "w") as f:
                f.write(payload + "\n")
        except OSError as e:  # a read-only checkout must not lose stdout
            print(f"# json-out skipped: {e}", file=sys.stderr)
    sys.stderr.flush()
    print(payload)
    sys.stdout.flush()
    return payload


if __name__ == "__main__":
    main()
