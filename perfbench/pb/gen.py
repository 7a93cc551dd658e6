"""Seeded input generators. Every table is a pure function of (seed, size),
so the same seed writes byte-identical files. The shapes follow the
repository's generated testdata (FIXTURES.md section 2): the sf0.01
`events` stream (150 users, ~333 rows and ~133 users per UTC day), a
TPC-H-like `lineitem` (1-7 lines per order) and the sf0.1 `documents`
table, whose measured shape `documents_sf0.1.json` holds."""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import shapes

EVENT_TYPES = ["view", "click", "cart", "purchase", "share"]
EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def rng(seed, *salt):
    return np.random.default_rng([int(seed), *salt])


def write_parquet(table, path):
    pq.write_table(table, path, compression="snappy")


def day_stem(day):
    return day.strftime("%Y%m%d")


def event_day(seed, d, rows_per_day=333, users=150, first_id=0, start=EPOCH):
    """Day `d` after `start` of the events stream: ~`rows_per_day` rows."""
    r = rng(seed, 1, d)
    n = int(r.poisson(rows_per_day))
    day = start + dt.timedelta(days=d)
    secs = np.sort(r.integers(0, 86400 * 10**6, n))
    ts = np.datetime64(day.replace(tzinfo=None), "us") + secs.astype("timedelta64[us]")
    return day_stem(day), pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(r.integers(0, users, n), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in r.integers(0, 5, n)]),
        "value": pa.array(np.round(r.exponential(20.0, n), 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in r.integers(0, 50, n)]),
    })


def write_event_days(out_dir, seed, days=30, stems=None):
    """Days 0..days-1 of the events stream, one `{stem}.parquet` each;
    `stems` renames them (default: their own `YYYYMMDD`). Returns the stems."""
    os.makedirs(out_dir, exist_ok=True)
    written, next_id = [], 0
    for d in range(days):
        stem, table = event_day(seed, d, first_id=next_id)
        next_id += table.num_rows
        stem = stems[d] if stems else stem
        write_parquet(table, os.path.join(out_dir, stem + ".parquet"))
        written.append(stem)
    return written


def write_lineitem(path, seed, rows=600_000):
    """A lineitem table of about `rows` rows: orders of 1-7 lines, so
    `l_linenumber` has 7 keys with falling frequency."""
    r = rng(seed, 2)
    lines = r.integers(1, 8, rows // 4 + 8)
    lines = lines[: np.searchsorted(np.cumsum(lines), rows) + 1]
    n = int(lines.sum())
    orderkey = np.repeat(np.arange(1, len(lines) + 1), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    qty = r.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * r.uniform(900, 2000, n), 2)
    ship = np.datetime64("1992-01-01", "us") + \
        r.integers(0, 2500, n).astype("timedelta64[D]").astype("timedelta64[us]")
    table = pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(r.integers(1, 20001, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(1, 1001, n), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(np.round(r.integers(0, 11, n) / 100.0, 2)),
        "l_tax": pa.array(np.round(r.integers(0, 9, n) / 100.0, 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    write_parquet(table, path)
    return n


def documents_table(seed, docs=5000):
    """Documents with ids 0..docs-1 in the shape of the repository's sf0.1
    `documents` table (`documents_sf0.1.json`): 10-100 words from a
    30-word vocabulary that holds the BM25 query terms `data` and `query`;
    a twentieth of the documents are another document's text plus a
    marker word, so they repeat its 8-token spans."""
    g = shapes.reference()["generator"]
    r = rng(seed, 3)
    vocab = np.array(g["vocabulary"])
    lo, hi = g["words_per_doc"]
    base = [" ".join(r.choice(vocab, int(r.integers(lo, hi + 1)))) for _ in range(docs)]
    texts = list(base)
    for i in np.flatnonzero(r.random(docs) < g["near_dup_share"]):
        j = (int(i) + int(r.integers(1, docs))) % docs
        texts[i] = base[j] + " " + g["marker"]
    langs = sorted(g["lang_share"])
    p = np.array([g["lang_share"][k] for k in langs])
    ids = np.arange(docs)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(np.array(langs)[r.choice(len(langs), docs, p=p / p.sum())]),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_document_drops(out_dir, seed, docs=5000):
    """Drops `d0..d2` by `doc_id % 3` and the takedown request `r0`: the
    `doc_id % 7 = 3` ids of d0 and d1, the drops that arrive before it."""
    os.makedirs(out_dir, exist_ok=True)
    table = documents_table(seed, docs)
    ids = table.column("doc_id").to_numpy()
    for d in range(3):
        write_parquet(table.filter(pa.array(ids % 3 == d)), os.path.join(out_dir, f"d{d}.parquet"))
    req = ids[(ids % 7 == 3) & (ids % 3 < 2)]
    write_parquet(pa.table({"doc_id": pa.array(req, pa.int64())}), os.path.join(out_dir, "r0.parquet"))
    return len(req)


def marker_json(kind, date):
    """A commit marker in the program's own document shape."""
    return json.dumps({"kind": kind, "date": date,
                       "input_key": f"in/{date}.parquet", "outputs": [],
                       "output_count": 0, "generated_at": "2024-01-01T00:00:00Z"})


def history_stems(seed, dates, arrivals):
    """`dates` consecutive day stems from a seed-chosen day of 2018, and
    the `arrivals` stems that follow them."""
    start = dt.datetime(2018, 1, 1) + dt.timedelta(days=int(rng(seed, 4).integers(0, 365)))
    days = [day_stem(start + dt.timedelta(days=i)) for i in range(dates + arrivals)]
    return days[:dates], days[dates:]
