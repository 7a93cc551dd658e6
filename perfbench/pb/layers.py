"""Per-layer metrics of one traced iteration, derived from the harness's
records of each call: the call's interval, its filesystem events (ledger
listings, split-start probes, marker writes) and its Spark jobs.

Spans: `SplitJob.run` and `OpsMain.run` are the calls themselves; under
them `MarkerLedger.inputDates/doneDates` (listings of the input and marker
dirs), `MarkerLedger.writeMarker` (marker create→close) and
`Splitter.splitOne` (first status probe of the date's input → its marker's
create). A split is cut at Spark job boundaries into `Splitter.guard`
(until the first job of the write's SQL execution), `Splitter.write` and
`Splitter.promote` (after the last job).
"""
import os

from .metrics import Span, clip, self_times, union_length

NS = 1e9

SPARK_SUMS = [("spark.tasks", "tasks", 1), ("spark.task_run_s", "run_ms", 1e-3),
              ("spark.task_cpu_s", "cpu_ns", 1e-9), ("spark.input_bytes", "input_bytes", 1),
              ("spark.shuffle_write_bytes", "shuffle_write_bytes", 1),
              ("spark.spill_bytes", "spill_bytes", 1), ("spark.output_bytes", "output_bytes", 1)]

def _norm(p):
    p = p[len("file:"):] if p.startswith("file:") else p
    return os.path.normpath(p)


def _jobs(resp):
    return [dict(j, s=j["start_ms"] / 1e3, e=j["end_ms"] / 1e3)
            for j in resp.get("jobs", []) if j["end_ms"] >= 0]


class LayerTrace:
    """Accumulates the traced calls of one iteration into the per-layer
    metrics `names` (BENCHMARK.json's); a layer the workload leaves idle
    reads 0."""

    def __init__(self, cores, names):
        self.cores = cores
        self.acc = dict.fromkeys(names, 0.0)
        self.roots = []
        self.read_base = self.read_bytes = self.dates = 0
        self.split_s = self.split_busy = self.split_jobs = 0.0
        self.all_jobs = []

    def _ledger(self, resp, parent, marker_dir):
        boundary = parent.start
        for e in resp.get("fs", []):
            if e["kind"] != "list":
                continue
            name = ("MarkerLedger.doneDates" if _norm(e["path"]) == _norm(marker_dir)
                    else "MarkerLedger.inputDates")
            sp = Span(name, e["t0"] / NS, e["t1"] / NS, parent)
            self.acc["ledger.list_s"] += sp.duration
            self.acc["ledger.entries"] += e["n"]
            boundary = max(boundary, sp.end)
        return boundary

    def _markers(self, resp):
        return sorted((e for e in resp.get("fs", []) if e["kind"] == "marker"),
                      key=lambda e: e["t0"])

    def add_split(self, resp, meta, in_sizes):
        run = Span("SplitJob.run", resp["t0"] / NS, resp["t1"] / NS)
        self.roots.append(run)
        jobs = _jobs(resp)
        self.all_jobs += jobs
        boundary = self._ledger(resp, run, meta["markers"])
        probes = sorted(e["t0"] / NS for e in resp.get("fs", []) if e["kind"] == "probe")
        a = self.acc
        for m in self._markers(resp):
            ms, me = m["t0"] / NS, m["t1"] / NS
            s = next((p for p in probes if boundary <= p <= ms), boundary)
            split = Span("Splitter.splitOne", s, ms, run)
            a["ledger.marker_s"] += Span("MarkerLedger.writeMarker", ms, me, run).duration
            js = [j for j in jobs if s <= (j["s"] + j["e"]) / 2 <= ms]
            writes = {j["exec"] for j in js if j["exec"] and
                      (j["output_bytes"] > 0 or j["output_records"] > 0)}
            wj = [j for j in js if j["exec"] in writes]
            first_w = max(s, min((j["s"] for j in wj), default=ms))
            last_end = min(ms, max([s] + [j["e"] for j in js]))
            Span("Splitter.guard", s, first_w, split)
            a["splitter.guard_s"] += first_w - s
            a["splitter.guard_jobs"] += sum(1 for j in js if j not in wj and j["s"] < first_w)
            if wj:
                Span("Splitter.write", first_w, max(j["e"] for j in wj), split)
                a["splitter.write_s"] += union_length([(j["s"], j["e"]) for j in wj])
                a["splitter.write_tasks"] += sum(j["tasks"] for j in wj)
            Span("Splitter.promote", last_end, ms, split)
            a["splitter.promote_s"] += ms - last_end
            self.read_base += in_sizes.get(os.path.basename(m["path"])[:-len(".json")], 0)
            self.dates += 1
            boundary = me
        self.read_bytes += resp.get("input_read_bytes", 0)
        self.split_s += run.duration
        self.split_busy += union_length(clip([(j["s"], j["e"]) for j in jobs],
                                             run.start, run.end))
        self.split_jobs += len(jobs)

    def add_ops(self, resp, meta):
        run = Span("OpsMain.run", resp["t0"] / NS, resp["t1"] / NS)
        self.roots.append(run)
        jobs = _jobs(resp)
        self.all_jobs += jobs
        self._ledger(resp, run, meta["markers"])
        for m in self._markers(resp):
            sp = Span("MarkerLedger.writeMarker", m["t0"] / NS, m["t1"] / NS, run)
            self.acc["ledger.marker_s"] += sp.duration
        self.acc[f"ops.{meta['job']}_s"] += run.duration
        self.acc["ops.spark_jobs"] += len(jobs)
        self.acc["ops.gap_s"] += run.duration - union_length(
            clip([(j["s"], j["e"]) for j in jobs], run.start, run.end))

    def finish(self, it, wall):
        """The iteration's per-layer metrics (`trace.overhead_s`, which
        needs the untraced iterations too, reads 0)."""
        a = dict(self.acc)
        a["ledger.ms_per_entry"] = (1e3 * a["ledger.list_s"] / a["ledger.entries"]
                                    if a["ledger.entries"] else 0.0)
        a["splitter.read_amp"] = self.read_bytes / self.read_base if self.read_base else 0.0
        if self.dates:
            a["splitter.files_out"] = it.files_out
            a["splitter.ms_per_file"] = 1e3 * a["splitter.write_s"] / max(it.files_out, 1)
            a["splitter.promote_ms_per_key"] = 1e3 * a["splitter.promote_s"] / max(it.files_out, 1)
            a["splitjob.spark_jobs"] = self.split_jobs / self.dates
            a["splitjob.busy_s"] = self.split_busy
            a["splitjob.gap_s"] = self.split_s - self.split_busy
        else:
            a["ops.store_files"] = it.files_out
            a["ops.store_bytes"] = it.bytes_out
        for name, field, scale in SPARK_SUMS:
            a[name] = scale * sum(j[field] for j in self.all_jobs)
        a["spark.cpu_util"] = a["spark.task_cpu_s"] / (wall * self.cores) if wall else 0.0
        a["spark.peak_exec_mem_mb"] = max([0] + [j["peak_exec_mem"] for j in self.all_jobs]) / 2**20
        st = self_times(self.roots)
        a["self.splitjob_s"] = st.get("SplitJob.run", 0.0)
        a["self.ledger_s"] = sum(v for k, v in st.items() if k.startswith("MarkerLedger."))
        a["self.opsmain_s"] = st.get("OpsMain.run", 0.0)
        undeclared = set(a) - set(self.acc)
        if undeclared:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(undeclared)}")
        return a, st

    def spans(self):
        """Every span as (name, start, end, parent index), parents first."""
        out, index = [], {}
        for r in self.roots:
            for s in r.walk():
                index[id(s)] = len(out)
                out.append([s.name, s.start, s.end,
                            index[id(s.parent)] if s.parent is not None else None])
        return out
