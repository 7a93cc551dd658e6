"""The correctness gate, independent of the program: DuckDB reads the
drops and the committed outputs and compares them.

Every check returns the set of commit units (dates, or OpsMain jobs) that
failed it; the caller counts those in `failed`. Nothing is skipped.
"""
import glob
import json
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), "tools"))
from check_oracle import norm  # noqa: E402  the repository's oracle comparison

_FILE = r"regexp_extract(filename, '([^/]+)/([^/]+)\.parquet$', {})"


def _checksum_expr(con, sample, key):
    """A per-row hash over every column of the input schema; timestamps as
    epoch microseconds, so a writer's choice of timestamp encoding does not
    show. `key` is excluded: it is compared separately."""
    cols = con.execute(f"DESCRIBE SELECT * FROM read_parquet('{sample}')").fetchall()
    parts = []
    for name, typ, *_ in cols:
        if name == key:
            continue
        parts.append(f'epoch_us("{name}")' if typ.startswith("TIMESTAMP") else f'"{name}"')
    return "hash(" + ", ".join(parts) + ")"


def split_manifest_failures(in_files, out_dir, key):
    """Dates whose `(key, rows, content)` manifest read back from
    `out_dir/*/*.parquet` differs from a group-by over their drops."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    files = sorted(in_files)
    if not files:
        return set()
    h = _checksum_expr(con, files[0], key)
    lst = "[" + ", ".join(f"'{f}'" for f in files) + "]"
    want = con.execute(
        f"""SELECT regexp_extract(filename, '([^/]+)\\.parquet$', 1) AS d,
                   CAST("{key}" AS VARCHAR) AS k, count(*) AS n,
                   CAST(sum({h}) AS VARCHAR) AS c
            FROM read_parquet({lst}, filename=true)
            WHERE "{key}" IS NOT NULL GROUP BY ALL""").fetchall()
    dates = {os.path.basename(f)[:-len(".parquet")] for f in files}
    outs = [f for f in glob.glob(os.path.join(out_dir, "*", "*.parquet"))
            if os.path.basename(f)[:-len(".parquet")] in dates]
    got = []
    if outs:
        olst = "[" + ", ".join(f"'{f}'" for f in sorted(outs)) + "]"
        got = con.execute(
            f"""SELECT {_FILE.format(2)} AS d, {_FILE.format(1)} AS k, count(*) AS n,
                       CAST(sum({h}) AS VARCHAR) AS c,
                       bool_and(CAST("{key}" AS VARCHAR) = {_FILE.format(1)}) AS ok
                FROM read_parquet({olst}, filename=true) GROUP BY ALL""").fetchall()
    con.close()
    bad = {r[0] for r in got if not r[4]}
    want_by = {}
    for d, k, n, c in want:
        want_by.setdefault(d, set()).add((k, n, c))
    got_by = {}
    for d, k, n, c, _ in got:
        got_by.setdefault(d, set()).add((k, n, c))
    for d in dates:
        if want_by.get(d, set()) != got_by.get(d, set()):
            bad.add(d)
    return bad


def marker_failures(marker_dir, out_dir, dates):
    """Dates whose marker is missing, or whose `outputs` differ from the
    date's files on disk."""
    bad = set()
    for d in dates:
        path = os.path.join(marker_dir, d + ".json")
        try:
            with open(path) as fh:
                m = json.load(fh)
        except (OSError, ValueError):
            bad.add(d)
            continue
        listed = {o[len("file:"):] if o.startswith("file:") else o for o in m.get("outputs", [])}
        on_disk = {os.path.abspath(f) for f in glob.glob(os.path.join(out_dir, "*", d + ".parquet"))}
        if m.get("date") != d or listed != on_disk or m.get("output_count") != len(listed):
            bad.add(d)
    return bad


def rows_equal(got_parquet, sql, docs_file):
    """Whether the parquet at `got_parquet` holds exactly the rows `sql`
    returns over a `documents` view of `docs_file`: columns matched by
    name, rows as multisets, values normalised as tools/check_oracle.py
    does."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs_file}')")
    want = con.execute(sql).fetchall()
    wcols = [c[0] for c in con.description]
    got = con.execute(f"SELECT * FROM read_parquet('{got_parquet}/*.parquet')").fetchall()
    gcols = [c[0] for c in con.description]
    con.close()
    if sorted(wcols) != sorted(gcols) or len(want) != len(got):
        return False
    order = [gcols.index(c) for c in wcols]
    got = [tuple(norm(r[i]) for i in order) for r in got]
    want = [tuple(norm(v) for v in r) for r in want]
    return sorted(map(repr, want)) == sorted(map(repr, got))


def input_stats(files, key):
    """Rows, distinct keys and distinct (date, key) pairs — the output files
    a one-file-per-key split writes — of the given drops."""
    if not files:
        return {"rows": 0, "keys": 0, "key_dates": 0}
    con = duckdb.connect()
    lst = "[" + ", ".join(f"'{f}'" for f in sorted(files)) + "]"
    rows, keys, pairs = con.execute(
        f"""SELECT count(*), count(DISTINCT "{key}"),
                   count(DISTINCT (filename, "{key}"))
            FROM read_parquet({lst}, filename=true)""").fetchone()
    con.close()
    return {"rows": rows, "keys": keys, "key_dates": pairs}


def parquet_rows(path):
    con = duckdb.connect()
    n = con.execute(f"SELECT count(*) FROM read_parquet('{path}')").fetchone()[0]
    con.close()
    return n
