"""The four workloads. Each one generates its inputs from the seed, runs
iterations through the harness, gates every iteration's outputs, and
resets its directories.

A *commit unit* is one date's marker for the split workloads and one
OpsMain job's marker for `ops_triad`. Its latency is the marker's mtime
minus the time its input was in place.
"""
import glob
import json
import os
import shutil
import time

from . import gate, gen, shapes

SIZES = {
    # name: (full size, smoke-test size)
    "backfill_3d": (dict(days=3), dict(days=1)),
    "heavy_rows": (dict(drops=3, rows=600_000), dict(drops=1, rows=6_000)),
    "daily_1000": (dict(dates=1000, arrivals=1), dict(dates=20, arrivals=1)),
    "ops_triad": (dict(docs=shapes.reference()["generator"]["docs"]), dict(docs=300)),
}


def data_bytes(root):
    """Bytes of the regular files under `root`, checksum sidecars excluded."""
    total = 0
    for d, _, names in os.walk(root):
        for n in names:
            if not n.endswith(".crc"):
                total += os.path.getsize(os.path.join(d, n))
    return total


def file_count(root):
    return sum(1 for _, _, names in os.walk(root) for n in names if not n.endswith(".crc"))


class Unit:
    """One commit unit: its input-ready time, marker time and gate verdict."""

    def __init__(self, name, drop_t, markers):
        self.name, self.drop_t, self.markers = name, drop_t, markers
        self.marker_t = None
        self.ok = True

    def stamp(self):
        """Read the commit time: the newest of the unit's markers."""
        try:
            self.marker_t = max(os.stat(m).st_mtime_ns / 1e9 for m in self.markers)
        except OSError:
            self.ok = False

    @property
    def latency(self):
        return None if self.marker_t is None else self.marker_t - self.drop_t


class Iteration:
    def __init__(self):
        self.units, self.calls = [], []
        self.ready_t = None
        self.bytes_in = self.bytes_out = 0
        self.files_out = 0
        self.in_sizes = {}

    @property
    def wall(self):
        ends = [u.marker_t for u in self.units if u.marker_t is not None]
        return max(ends) - self.ready_t if ends else None


def _place(src, dst):
    """Put an input in place the way a producer does: write it under a
    temporary name, then rename it into the watched directory."""
    tmp = os.path.join(os.path.dirname(dst), "." + os.path.basename(dst) + ".tmp")
    shutil.copyfile(src, tmp)
    os.replace(tmp, dst)


def _call(h, it, fields, meta):
    resp = h.call(*fields)
    it.calls.append((meta, resp))
    return resp


def event_days(root, seed, size):
    gen.write_event_days(root, seed, days=size["days"])


def lineitem_copies(root, seed, size):
    src = os.path.join(root, "lineitem.src")
    gen.write_lineitem(src, seed, rows=size["rows"])
    for i in range(size["drops"]):
        shutil.copyfile(src, os.path.join(root, f"202401{i + 1:02d}.parquet"))
    os.remove(src)


class SplitBatch:
    """`backfill_3d` and `heavy_rows`: every drop is in place, then one
    `SplitJob.run()` splits them all into an empty output and marker dir."""

    def __init__(self, name, key, drops):
        self.name, self.key, self.drops = name, key, drops

    def generate(self, root, seed, size):
        os.makedirs(root)
        self.drops(root, seed, size)
        return self.describe(root)

    def describe(self, root):
        files = sorted(glob.glob(os.path.join(root, "*.parquet")))
        return {"dates": len(files), "bytes": sum(os.path.getsize(f) for f in files),
                **gate.input_stats(files, self.key)}

    def iterate(self, h, drops, work, i, trace):
        it = Iteration()
        base = os.path.join(work, f"it{i}")
        ind, outd, mk = (os.path.join(base, x) for x in ("in", "out", "markers"))
        for d in (ind, outd, mk):
            os.makedirs(d)
        srcs = sorted(glob.glob(os.path.join(drops, "*.parquet")))
        for s in srcs:
            _place(s, os.path.join(ind, os.path.basename(s)))
        it.ready_t = time.time()
        for s in srcs:
            d = os.path.basename(s)[:-len(".parquet")]
            it.units.append(Unit(d, it.ready_t, [os.path.join(mk, d + ".json")]))
        resp = _call(h, it, ("split", int(trace), self.name, ind, outd, mk, self.key),
                     {"kind": "split", "in": ind, "markers": mk})
        self._finish(it, resp, glob.glob(os.path.join(ind, "*.parquet")), outd, mk)
        shutil.rmtree(base)
        return it

    def _finish(self, it, resp, in_files, outd, mk):
        for u in it.units:
            u.stamp()
        if "error" in resp:
            for u in it.units:
                u.ok = False
            return
        dates = [u.name for u in it.units]
        bad = gate.split_manifest_failures(in_files, outd, self.key)
        bad |= gate.marker_failures(mk, outd, dates)
        for u in it.units:
            if u.name in bad:
                u.ok = False
        it.in_sizes.update({os.path.basename(f)[:-len(".parquet")]: os.path.getsize(f)
                            for f in in_files})
        it.bytes_in += sum(it.in_sizes.values())
        out_files = [f for d in dates for f in glob.glob(os.path.join(outd, "*", d + ".parquet"))]
        it.bytes_out += sum(os.path.getsize(f) for f in out_files)
        it.files_out += len(out_files)


class DailyArrivals(SplitBatch):
    """`daily_1000`: a committed history of 1,000 dates, then event days
    arrive one at a time, each followed by one `SplitJob.run()`. The reset
    after an iteration deletes only the arrived dates' inputs, markers and
    outputs."""

    def __init__(self):
        super().__init__("daily_1000", "user_id", None)

    def generate(self, root, seed, size):
        hist, arriving = gen.history_stems(seed, size["dates"], size["arrivals"])
        # the seed picks which days of the events stream arrive
        picks = gen.rng(seed, 5).choice(30, size["arrivals"], replace=False)
        arr = os.path.join(root, "arrivals")
        os.makedirs(arr)
        for stem, p in zip(arriving, picks):
            gen.write_parquet(gen.event_day(seed, int(p))[1], os.path.join(arr, stem + ".parquet"))
        ind, mk = os.path.join(root, "in"), os.path.join(root, "markers")
        for x in (ind, mk, os.path.join(root, "out")):
            os.makedirs(x)
        # the history: tiny input copies and markers written by plain copy
        tiny = os.path.join(root, "tiny.src")
        gen.write_parquet(gen.event_day(seed, 0, rows_per_day=3)[1], tiny)
        for d in hist:
            shutil.copyfile(tiny, os.path.join(ind, d + ".parquet"))
            with open(os.path.join(mk, d + ".json"), "w") as fh:
                fh.write(gen.marker_json(self.name, d))
        os.remove(tiny)
        info = self.describe(arr)
        info["history_dates"] = len(hist)
        return info

    def iterate(self, h, root, work, i, trace):
        it = Iteration()
        ind, outd, mk = (os.path.join(root, x) for x in ("in", "out", "markers"))
        arrivals = sorted(glob.glob(os.path.join(root, "arrivals", "*.parquet")))
        for s in arrivals:
            d = os.path.basename(s)[:-len(".parquet")]
            dst = os.path.join(ind, d + ".parquet")
            _place(s, dst)
            t = time.time()
            if it.ready_t is None:
                it.ready_t = t
            it.units.append(Unit(d, t, [os.path.join(mk, d + ".json")]))
            resp = _call(h, it, ("split", int(trace), self.name, ind, outd, mk, self.key),
                         {"kind": "split", "in": ind, "markers": mk})
            if "error" in resp:
                break
        placed = [os.path.join(ind, u.name + ".parquet") for u in it.units]
        errors = [r for _, r in it.calls if "error" in r]
        self._finish(it, errors[0] if errors else {}, placed, outd, mk)
        self.reset(root, [u.name for u in it.units])
        return it

    @staticmethod
    def reset(root, dates):
        """Delete the given dates' inputs, markers and outputs, checksum
        sidecars included, and any output directory left empty."""
        names = {n for d in dates for n in (d + ".parquet", d + ".json")}
        names |= {"." + n + ".crc" for n in names}
        for sub in ("in", "markers", "out"):
            top = os.path.join(root, sub)
            for d, dirs, files in os.walk(top, topdown=False):
                for n in files:
                    if n in names:
                        os.remove(os.path.join(d, n))
                if d != top and not os.listdir(d):
                    os.rmdir(d)


SURVIVORS = "NOT (doc_id % 7 = 3 AND doc_id % 3 < 2)"
ORACLE_PREDICATE = "doc_id % 7 <> 3"


class OpsTriad:
    """`ops_triad`: OpsMain curate(d0,d1) → maintain(window d1) →
    takedown(r0) → curate(d2) over the `postings` (table-backed) and
    `spans` (path-backed) families."""

    name = "ops_triad"
    FAMILIES = "postings,spans"

    def generate(self, root, seed, size):
        n_req = gen.write_document_drops(root, seed, docs=size["docs"])
        gen.write_parquet(gen.documents_table(seed, size["docs"]), os.path.join(root, "documents.parquet"))
        files = [os.path.join(root, f"d{d}.parquet") for d in range(3)]
        info = {"dates": 3, "bytes": sum(os.path.getsize(f) for f in files),
                **gate.input_stats(files, "doc_id")}
        info["request_ids"] = n_req
        return info

    def iterate(self, h, drops, work, i, trace):
        it = Iteration()
        base = os.path.join(work, f"it{i}")
        d = {x: os.path.join(base, x) for x in
             ("in", "curmarkers", "reports", "req", "tdmarkers", "mmarkers", "audits", "store")}
        for p in d.values():
            os.makedirs(p)
        store = f"pb_ops_{i}"
        common = ["--STORE", store, "--FAMILIES", self.FAMILIES, "--STORE_DIR", d["store"],
                  "--ID_COL", "doc_id"]
        curate = ["--JOB", "curate", "--IN", d["in"], "--MARKERS", d["curmarkers"],
                  "--REPORTS", d["reports"], "--REQUESTS", d["req"],
                  "--TD_MARKERS", d["tdmarkers"]] + common
        n_req = gate.parquet_rows(os.path.join(drops, "r0.parquet"))
        steps = [
            ("curate_d0d1", ["d0", "d1"], curate, d["curmarkers"], ["d0", "d1"],
             [d["in"], d["curmarkers"]]),
            ("maintain_d1", [], ["--JOB", "maintain", "--WINDOW", "d1",
                                 "--M_MARKERS", d["mmarkers"], "--AUDITS", d["audits"]] + common,
             d["mmarkers"], ["d1"], [d["mmarkers"]]),
            ("takedown_r0", ["r0"], ["--JOB", "takedown", "--CORPUS", d["in"],
                                     "--REQUESTS", d["req"], "--TD_MARKERS", d["tdmarkers"]] + common,
             d["tdmarkers"], ["r0"], [d["req"], d["tdmarkers"]]),
            ("curate_d2", ["d2"], curate, d["curmarkers"], ["d2"], [d["in"], d["curmarkers"]]),
        ]
        expect = {
            "curate_d0d1": lambda s: s.get("processed") == ["d0", "d1"],
            "maintain_d1": lambda s: s.get("skipped") is False
            and sorted(s.get("maintained", [])) == ["postings", "spans"],
            "takedown_r0": lambda s: s.get("processed") == ["r0"]
            and s.get("ids_applied") == {"r0": n_req},
            "curate_d2": lambda s: s.get("processed") == ["d2"],
        }
        for name, inputs, args, mdir, mnames, ledger in steps:
            for x in inputs:
                sub = "req" if x.startswith("r") else "in"
                _place(os.path.join(drops, x + ".parquet"), os.path.join(d[sub], x + ".parquet"))
            t = time.time()
            if it.ready_t is None:
                it.ready_t = t
            unit = Unit(name, t, [os.path.join(mdir, m + ".json") for m in mnames])
            it.units.append(unit)
            resp = _call(h, it, ["ops", int(trace), ",".join(ledger), mdir] + args,
                         {"kind": "ops", "job": args[1], "markers": mdir})
            unit.stamp()
            if "error" in resp or not expect[name](resp.get("result", {})):
                unit.ok = False
        if all(u.ok for u in it.units):
            it.units[-1].ok = self._store_matches(h, drops, base, store, d)
        it.bytes_in = sum(os.path.getsize(os.path.join(drops, x + ".parquet"))
                          for x in ("d0", "d1", "d2", "r0"))
        tables = glob.glob(os.path.join(work, "warehouse", store + "*"))
        it.bytes_out = data_bytes(d["store"]) + sum(data_bytes(t) for t in tables)
        it.files_out = file_count(d["store"]) + sum(file_count(t) for t in tables)
        for t in sorted({os.path.basename(t) for t in tables}):
            h.call("sql", f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(base)
        return it

    def _store_matches(self, h, drops, base, store, d):
        """The final store against the program's own q190 (postings) and
        q193 (spans) DuckDB oracles, with their survivor predicate set to
        this workload's takedown: only d0/d1 ids were requested."""
        docs = os.path.join(drops, "documents.parquet")
        checks = [("q190_ops_triad", ("serve_postings", f"{store}_post")),
                  ("q193_ops_spans", ("serve_spans", d["in"], SURVIVORS,
                                      os.path.join(d["store"], "spans")))]
        for query, cmd in checks:
            sql = h.call("oracle", query)
            if not isinstance(sql, str) or sql.count(ORACLE_PREDICATE) != 1:
                return False
            out = os.path.join(base, "serve_" + query)
            if "error" in h.call(*cmd, out):
                return False
            if not gate.rows_equal(out, sql.replace(ORACLE_PREDICATE, SURVIVORS), docs):
                return False
        return True


WORKLOADS = {
    "backfill_3d": SplitBatch("backfill_3d", "user_id", event_days),
    "heavy_rows": SplitBatch("heavy_rows", "l_linenumber", lineitem_copies),
    "daily_1000": DailyArrivals(),
    "ops_triad": OpsTriad(),
}
