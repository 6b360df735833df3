"""Seeded, deterministic lake generators for the deletion-job benchmark.

Each workload gets a lake shaped like the repository's TPC-H-style test
tables (a ``lineitem`` fact table and an ``events`` stream), generated
from ``--seed`` with numpy so the same seed always yields byte-identical
objects. Only the generated files reach the engine under test.

Lake shapes:

- ``lineitem``: Hive-partitioned Parquet (``ship_ym=YYYY-MM``), rows
  shuffled so every order key's 1-7 lines scatter across objects — a
  handful of keys touches a handful of objects, thousands of keys touch
  every object.
- ``events``: gzip JSON Lines partitioned by day (``dt=YYYY-MM-DD``);
  each (user_id, event_type) pair recurs a few times across days. The
  traced run feeds it to the JSON rewrite kernel.
- ``documents``: the text corpus of the curation chain the traced run
  evaluates.

Match batches are drawn from values present in the lake and are
pairwise disjoint, so a row matches at most one batch. That is what lets
the verifier derive every prefix of batches' expectation from one pass
over the pristine lake.
"""

from __future__ import annotations

import gzip
import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Bump whenever a change alters the bytes a seed produces: the version is
# printed with every result so a changed lake never passes for a faster
# engine.
GENERATOR_VERSION = 2

LINEITEM_COLUMNS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
    "l_linestatus", "l_shipdate",
]
EVENT_TYPES = [
    "view", "click", "add_to_cart", "purchase", "search", "share",
    "login", "logout",
]
_DAY_US = 86_400 * 1_000_000
_EPOCH_1992 = 694_224_000  # 1992-01-01T00:00:00Z in seconds
_EPOCH_2024 = 1_704_067_200  # 2024-01-01T00:00:00Z in seconds


def _write_parallel(jobs, fn, threads: int = 4) -> None:
    with ThreadPoolExecutor(threads) as pool:
        for fut in [pool.submit(fn, *j) for j in jobs]:
            fut.result()


def lineitem_lake(
    out_dir: str,
    seed: int,
    rows: int,
    objects: int,
    batches: int,
    batch_size: int,
) -> dict:
    """Write a lineitem lake of ~``rows`` rows in ``objects`` objects and
    draw ``batches`` disjoint batches of ``batch_size`` order keys, each
    key an order of four lines.

    Returns ``{"batches": [[key, ...], ...], "partitions": n}``."""
    rng = np.random.default_rng(seed)
    n_orders = max(rows // 4, 1)
    lines = rng.integers(1, 8, n_orders)
    keep = np.cumsum(lines) <= rows
    lines = lines[keep]
    n_orders = len(lines)
    n = int(lines.sum())
    orderkey = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    # an order's lines ship on independent days, so clustering rows by
    # ship month scatters each order across objects; only the order
    # columns need the gather, the iid columns are drawn in final order
    ship_day = rng.integers(0, 2526, n).astype(np.int16)  # 1992-01-01..
    order = np.argsort(ship_day, kind="stable")
    ship_day = ship_day[order]
    ship_us = _EPOCH_1992 * 1_000_000 + ship_day.astype(np.int64) * _DAY_US
    month = ship_us.astype("datetime64[us]").astype("datetime64[M]")
    quantity = rng.integers(1, 51, n).astype(np.float64)
    table = pa.table(
        {
            "l_orderkey": orderkey[order],
            "l_partkey": rng.integers(1, max(n // 30, 2), n, dtype=np.int64),
            "l_suppkey": rng.integers(1, max(n // 600, 2), n, dtype=np.int64),
            "l_linenumber": linenumber[order],
            "l_quantity": quantity,
            "l_extendedprice": np.round(
                quantity * rng.uniform(900.0, 2100.0, n), 2
            ),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": pc.take(
                pa.array(["A", "N", "R"]), pa.array(rng.integers(0, 3, n))
            ),
            "l_linestatus": pc.take(
                pa.array(["O", "F"]), pa.array(rng.integers(0, 2, n))
            ),
            "l_shipdate": pa.array(ship_us, pa.timestamp("us")),
        }
    )
    months, bounds = np.unique(month, return_index=True)
    bounds = list(bounds) + [n]
    per_part = max(objects // len(months), 1)
    jobs = []
    obj = np.empty(n, np.int32)  # object index of each written row
    for i, m in enumerate(months):
        part = os.path.join(out_dir, f"ship_ym={str(m)}")
        os.makedirs(part, exist_ok=True)
        lo, hi = bounds[i], bounds[i + 1]
        cuts = np.linspace(lo, hi, per_part + 1).astype(int)
        for j in range(per_part):
            obj[cuts[j] : cuts[j + 1]] = len(jobs)
            jobs.append(
                (
                    table.slice(cuts[j], cuts[j + 1] - cuts[j]),
                    os.path.join(part, f"part-{j:05d}.snappy.parquet"),
                )
            )
    _write_parallel(
        jobs,
        lambda t, p: pq.write_table(
            t, p, compression="snappy", row_group_size=1 << 20
        ),
    )
    # keys of four-line orders only, so every job erases the same number
    # of rows. A small batch also takes each key's lines from objects no
    # other line of the batch touches, so every job rewrites the same
    # number of objects; a large batch touches every object anyway.
    pos = np.empty(n, np.int64)
    pos[order] = np.arange(n)
    first_line = np.cumsum(lines) - lines
    spread = batch_size * 4 * 4 <= len(jobs)
    out, cur, used = [], [], set()
    for k in rng.permutation(np.flatnonzero(lines == 4)):
        if len(out) == batches:
            break
        if spread:
            objs = set(obj[pos[first_line[k] + np.arange(4)]].tolist())
            if len(objs) < 4 or objs & used:
                continue
            used |= objs
        cur.append(int(k) + 1)
        if len(cur) == batch_size:
            out.append(cur)
            cur, used = [], set()
    return {
        "batches": out,
        "partitions": len(months),
    }


def events_lake(
    out_dir: str,
    seed: int,
    rows: int,
    days: int,
    objects_per_day: int,
    users: int,
    batches: int,
    batch_size: int,
) -> dict:
    """Write a gzip JSON Lines events lake partitioned by day and draw
    ``batches`` disjoint batches of ``batch_size`` (user_id, event_type)
    pairs that occur in it.

    Returns ``{"batches": [[[user_id, event_type], ...], ...]}``."""
    rng = np.random.default_rng(seed)
    user = rng.integers(1, users + 1, rows)
    etype = rng.integers(0, len(EVENT_TYPES), rows)
    day = rng.integers(0, days, rows)
    sec = rng.integers(0, 86_400, rows)
    value = np.round(rng.gamma(2.0, 20.0, rows), 3)
    session = rng.integers(0, 1 << 31, rows)
    order = np.argsort(day, kind="stable")
    jobs = []
    bounds = np.searchsorted(day[order], np.arange(days + 1))
    for d in range(days):
        date = np.datetime64(_EPOCH_2024, "s").astype("datetime64[D]") + d
        part = os.path.join(out_dir, f"dt={date}")
        os.makedirs(part, exist_ok=True)
        idx = order[bounds[d] : bounds[d + 1]]
        cuts = np.linspace(0, len(idx), objects_per_day + 1).astype(int)
        for j in range(objects_per_day):
            jobs.append(
                (
                    idx[cuts[j] : cuts[j + 1]],
                    os.path.join(part, f"part-{j:05d}.json.gz"),
                )
            )

    ts = pc.strftime(
        pa.array(
            _EPOCH_2024 + day.astype(np.int64) * 86_400 + sec,
            pa.timestamp("s"),
        ),
        format="%Y-%m-%dT%H:%M:%SZ",
    )
    as_str = lambda a: pc.cast(pa.array(a), pa.string())  # noqa: E731
    line = pc.binary_join_element_wise(
        '{"event_id":', as_str(np.arange(1, rows + 1)),
        ',"ts":"', ts,
        '","user_id":', as_str(user),
        ',"event_type":"', pc.take(pa.array(EVENT_TYPES), pa.array(etype)),
        '","value":', as_str(value),
        ',"props":"{\\"session\\":', as_str(session),
        ',\\"v\\":1}"}',
        "",
    )

    def write(idx, path):
        body = "\n".join(line.take(pa.array(idx)).to_pylist()) + "\n"
        with gzip.GzipFile(path, "wb", compresslevel=6, mtime=0) as f:
            f.write(body.encode())

    _write_parallel(jobs, write)
    present = np.unique(user.astype(np.int64) * 16 + etype)
    picks = rng.choice(present, batches * batch_size, replace=False)
    pairs = [[int(p // 16), EVENT_TYPES[int(p % 16)]] for p in picks]
    return {
        "batches": [
            pairs[b * batch_size : (b + 1) * batch_size]
            for b in range(batches)
        ]
    }


VOCAB = (
    "a the of and to is in data spark table column row key value query "
    "filter group sort merge join hash scan batch stream window vector "
    "part line order fast slow small big agg"
).split()
LANGS = ["en", "en", "zh", "es", "fr", "de"]


def documents(out_dir: str, seed: int, docs: int) -> None:
    """Write ``documents.parquet`` (doc_id, text, lang, source, n_chars)
    — the corpus shape the text-curation catalog queries read: 10-100
    words per document from a small technical vocabulary."""
    rng = np.random.default_rng(seed)
    lengths = rng.integers(10, 101, docs)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    ends = np.cumsum(lengths)
    texts = [
        " ".join(words[e - n : e]) for e, n in zip(ends, lengths)
    ]
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": np.arange(docs, dtype=np.int64),
                "text": texts,
                "lang": np.array(LANGS)[rng.integers(0, len(LANGS), docs)],
                "source": [f"src{i % 20}" for i in range(docs)],
                "n_chars": np.array([len(t) for t in texts], np.int64),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
    )


def data_files(root: str) -> list[str]:
    """Every live data object under ``root``: hidden and ``_``-prefixed
    entries (engine version stores, temp files, markers) excluded — the
    same rule the Parquet/JSON readers apply."""
    out = []
    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(x for x in dirs if x[0] not in "._")
        out.extend(
            os.path.join(d, f) for f in sorted(files) if f[0] not in "._"
        )
    return out


def snapshot(root: str) -> dict:
    """``{path: (inode, size)}`` of every live data object."""
    snap = {}
    for p in data_files(root):
        st = os.stat(p)
        snap[p] = (st.st_ino, st.st_size)
    return snap


def link_copy(src: str, dst: str) -> None:
    """Restore a working lake from the pristine one by hard links: the
    engine commits rewrites with a rename over the path, so the pristine
    inode is never written through."""
    for d, dirs, files in os.walk(src):
        rel = os.path.relpath(d, src)
        os.makedirs(os.path.join(dst, rel), exist_ok=True)
        for f in files:
            os.link(os.path.join(d, f), os.path.join(dst, rel, f))
