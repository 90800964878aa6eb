"""Traced run: in-memory spans around the engine's layer functions.

The engine is not changed. :func:`install` wraps the public functions
of each layer module (plus the few private serving helpers whose
counts the per-layer report needs) from here, and every call records a
span: name, start, end, parent span, request id and thread. Spans stay
in memory and are written out when the run ends. Spark work is tied to
spans by job group: a span opened with ``group=`` calls
``SparkContext.setJobGroup`` on the driver thread and restores the
previous group on exit; jobs launched from other threads (the
streaming journal's micro-batches) are attributed by time to the
workload span that contains them. Job, stage and task figures come
from the Spark event log, which the traced run enables through the
engine's ``SPARK_GRAFT_CONF`` variable.

A layer's self time is its span time minus the part of that interval
covered by its child spans (:func:`self_times`).
"""

from __future__ import annotations

import contextlib
import contextvars
import functools
import glob
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

_current: contextvars.ContextVar = contextvars.ContextVar("perfbench_span", default=None)
_rid: contextvars.ContextVar = contextvars.ContextVar("perfbench_rid", default=None)

#: workload-level span groups whose Spark jobs the report splits out
SPARK_GROUPS = ("append", "wave", "merge", "compact", "query", "page", "export")

#: local-filesystem calls that touch the disk (``join`` is string work)
FS_METHODS = (
    "exists", "isdir", "mkdirs", "delete", "rename", "read_text", "read_bytes",
    "read_chunks", "filesize", "write_text_atomic", "write_bytes_atomic",
    "write_text_exclusive", "mtime", "listdir", "parquet_dirs", "parquet_files",
)


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    rid: object
    thread: int
    group: str | None = None
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Collects spans for one run. ``span`` is also the workload's hook:
    with tracing off the workload uses :class:`NullTracer` instead."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = iter(range(1, 1 << 62))
        self._lock = threading.Lock()
        self.spark = None

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        parent = _current.get()
        with self._lock:
            sid = next(self._ids)
        s = Span(sid, name, time.time(), parent.id if parent else None,
                 _rid.get(), threading.get_ident(), group, attrs=dict(attrs))
        token = _current.set(s)
        sc = self.spark.sparkContext if (group and self.spark is not None) else None
        prev = None
        if sc is not None:
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(f"{group}:{sid}", name)
        try:
            yield s
        finally:
            s.end = time.time()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", prev)
            _current.reset(token)
            self.spans.append(s)

    def count(self, key: str, n: float = 1) -> None:
        """Add ``n`` to counter ``key`` on the innermost open span."""
        s = _current.get()
        if s is not None:
            s.attrs[key] = s.attrs.get(key, 0) + n

    def wrap(self, owner, attr: str, name: str, group: str | None = None, after=None):
        import inspect

        orig = getattr(owner, attr)
        if getattr(orig, "_perfbench", False):
            return
        static = isinstance(inspect.getattr_static(owner, attr), staticmethod)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with tracer.span(name, group=group) as s:
                out = orig(*a, **kw)
                if after is not None:
                    after(s, a, kw, out)
                return out

        wrapper._perfbench = True
        setattr(owner, attr, staticmethod(wrapper) if static else wrapper)

    def tag_requests(self, server) -> None:
        """Give each HTTP request ``server`` handles a root span whose
        request id is the ``rid`` query parameter the client sent."""
        import urllib.parse

        handler = server.RequestHandlerClass
        orig = handler.do_GET
        tracer = self

        def do_GET(h):
            q = urllib.parse.parse_qs(urllib.parse.urlsplit(h.path).query)
            token = _rid.set(q.get("rid", [None])[0])
            try:
                with tracer.span("api.request"):
                    return orig(h)
            finally:
                _rid.reset(token)

        handler.do_GET = do_GET

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__, default=str) + "\n")


class NullTracer:
    """Tracing off: the workload's span hook costs one no-op context."""

    spark = None

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None, **attrs):
        yield None

    def tag_requests(self, server) -> None:
        pass


def install(tr: Tracer) -> None:
    """Wrap the layer functions named in the per-layer report."""
    from ftm_lakehouse_spark import api, lakehouse, serving
    from ftm_lakehouse_spark.plans import query
    from ftm_lakehouse_spark.sources import commits, fs, statement_store
    from ftm_lakehouse_spark.streaming import journal

    D = lakehouse.Dataset
    tr.wrap(D, "write_entities", "lakehouse.write_entities")
    tr.wrap(D, "optimize", "lakehouse.optimize")
    tr.wrap(D, "entities", "lakehouse.entities")
    tr.wrap(D, "export_entities_json", "lakehouse.export_entities_json")
    tr.wrap(D, "get", "lakehouse.get")
    tr.wrap(D, "get_many", "lakehouse.get_many")
    # module functions are imported by name into their callers
    tr.wrap(lakehouse, "explode_entities", "explode.explode_entities")
    tr.wrap(lakehouse, "assemble_entities", "aggregate.assemble_entities")
    tr.wrap(statement_store, "canonicalize", "merge.canonicalize")

    S = statement_store.StatementStore

    def count_added(s, a, kw, out):
        # CommitLog.commit(self, kind, partitions, files_added, ...)
        files = kw.get("files_added", a[3] if len(a) > 3 else None) or []
        s.attrs["files_added"] = len(files)

    tr.wrap(S, "append", "store.append")
    tr.wrap(S, "merge", "store.merge", group="merge")
    tr.wrap(S, "compact", "store.compact", group="compact")
    tr.wrap(S, "vacuum", "store.vacuum")
    tr.wrap(S, "raw", "store.raw")
    C = commits.CommitLog
    tr.wrap(C, "commit", "commits.commit", after=count_added)
    tr.wrap(C, "snapshot", "commits.snapshot")
    tr.wrap(C, "current_version", "commits.current_version")
    tr.wrap(C, "txn_version", "commits.txn_version")
    for cls in (fs.LocalFS, fs.HadoopFS):
        for m in FS_METHODS:
            if hasattr(cls, m):
                _count_calls(tr, cls, m)

    P = serving.PointReader

    def note_groups(s, a, kw, out):
        s.attrs["row_groups"] = len(out)

    def note_read(s, a, kw, out):
        s.attrs["useful"] = out is not None

    tr.wrap(P, "get", "serving.get")
    tr.wrap(P, "get_many", "serving.get_many")
    tr.wrap(P, "_read_ids", "serving.read_file", after=note_read)
    tr.wrap(P, "_prune_row_groups", "serving.prune", after=note_groups)
    tr.wrap(api.NdjsonApi, "get_entity", "api.get_entity")
    Q = query.Query
    tr.wrap(Q, "apply_statements", "query.apply_statements")
    tr.wrap(Q, "matching_ids", "query.matching_ids")
    tr.wrap(journal.StreamingJournal, "start", "journal.start")


def _count_calls(tr: Tracer, cls, method: str) -> None:
    orig = getattr(cls, method)
    if getattr(orig, "_perfbench", False):
        return

    @functools.wraps(orig)
    def wrapper(*a, **kw):
        tr.count("fs_calls")
        if method == "rename":
            tr.count("fs_renames")
        return orig(*a, **kw)

    wrapper._perfbench = True
    setattr(cls, method, wrapper)


# ------------------------------------------------------------ analysis
def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → self time (ms): duration minus the union of the
    intervals its direct children cover."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = _union([(max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, [])])
        out[s.id] = s.ms - covered * 1000.0
    return out


def _union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_event_log(log_dir: str) -> dict:
    """Jobs from a Spark event log: job id → submit/end (s), group,
    stages; stage id → task figures summed."""
    jobs, stage_job, stages = {}, {}, {}
    # Spark writes a rolling log: a directory of events_<n>_* files
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jid = ev["Job ID"]
                    jobs[jid] = {
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "group": props.get("spark.jobGroup.id"),
                        "stages": ev.get("Stage IDs", []),
                    }
                    for st in ev.get("Stage IDs", []):
                        stage_job.setdefault(st, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    inp = m.get("Input Metrics") or {}
                    st = stages.setdefault(ev["Stage ID"], {
                        "tasks": 0, "cpu_ms": 0.0, "gc_ms": 0.0, "shuffle_write": 0,
                        "spill": 0, "input_rows": 0})
                    st["tasks"] += 1
                    st["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    st["gc_ms"] += m.get("JVM GC Time", 0)
                    st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    st["spill"] += m.get("Disk Bytes Spilled", 0)
                    st["input_rows"] += inp.get("Records Read", 0)
    for jid, j in jobs.items():
        agg = {"tasks": 0, "cpu_ms": 0.0, "gc_ms": 0.0, "shuffle_write": 0, "spill": 0,
               "input_rows": 0}
        for st in j["stages"]:
            if stage_job.get(st) == jid and st in stages:
                for k in agg:
                    agg[k] += stages[st][k]
        j.update(agg)
        if j["end"] is None:
            j["end"] = j["start"]
    return jobs


def attribute_jobs(jobs: dict, op_spans: list[Span]) -> dict[int, list[dict]]:
    """Workload op span id → its jobs: by the span's job group, else by
    submission time inside the span (jobs of other threads)."""
    by_id = {s.id: s for s in op_spans}
    out: dict[int, list[dict]] = {s.id: [] for s in op_spans}
    for j in jobs.values():
        sid = None
        g = j["group"] or ""
        if ":" in g:
            try:
                cand = int(g.rsplit(":", 1)[1])
            except ValueError:
                cand = None
            if cand in by_id:
                sid = cand
        if sid is None:
            inside = [s for s in op_spans if s.start <= j["start"] <= s.end]
            if inside:
                sid = min(inside, key=lambda s: s.end - s.start).id
        if sid is not None:
            out[sid].append(j)
    return out


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q`` quantile; 0 for no values."""
    values = sorted(values)
    if not values:
        return 0.0
    k = (len(values) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(values) - 1)
    return float(values[lo] + (values[hi] - values[lo]) * (k - lo))


def per_layer(spans: list[Span], jobs: dict, extra: dict, gates: list[str]) -> dict:
    """The per-layer metrics (name → value) from spans, Spark jobs and
    the workload's own figures in ``extra``. Layers a workload does not
    exercise read 0."""
    by_name: dict[str, list[Span]] = {}
    for s in spans:
        by_name.setdefault(s.name, []).append(s)
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)

    def subtree(s: Span):
        stack = [s]
        while stack:
            x = stack.pop()
            yield x
            stack.extend(kids.get(x.id, []))

    def total(s: Span, key: str) -> float:
        return sum(x.attrs.get(key, 0) for x in subtree(s))

    def named_in(s: Span, name: str) -> list[Span]:
        return [x for x in subtree(s) if x.name == name]

    def ms(name):
        return [s.ms for s in by_name.get(name, [])]

    def per(roots, fn):
        return sum(fn(r) for r in roots) / len(roots) if roots else 0.0

    m: dict[str, float] = {}
    m["lakehouse.write_entities.ms_p50"] = percentile(ms("lakehouse.write_entities"), 0.5)
    m["lakehouse.optimize.s"] = sum(ms("lakehouse.optimize")) / 1000.0
    m["lakehouse.entities.build_ms"] = percentile(ms("lakehouse.entities"), 0.5)
    m["lakehouse.export_entities_json.s"] = sum(ms("lakehouse.export_entities_json")) / 1000.0
    m["explode.build_ms"] = percentile(ms("explode.explode_entities"), 0.5)

    m["store.append.ms_p50"] = percentile(ms("store.append"), 0.5)
    m["store.merge.s"] = sum(ms("store.merge")) / 1000.0
    m["store.compact.s"] = sum(ms("store.compact")) / 1000.0
    m["store.vacuum.s"] = sum(ms("store.vacuum")) / 1000.0
    m["store.raw.build_ms"] = percentile(ms("store.raw"), 0.5)
    commits_ = by_name.get("commits.commit", [])
    m["store.files_added"] = float(sum(s.attrs.get("files_added", 0) for s in commits_))
    for k in ("bytes_added", "live_files", "live_bytes", "live_row_bytes"):
        m[f"store.{k}"] = float(extra.get(f"store.{k}", 0))
    m["store.write_amp"] = (m["store.bytes_added"] / m["store.live_bytes"]
                            if m["store.live_bytes"] else 0.0)

    gets = by_name.get("serving.get", [])
    m["commits.commit.calls"] = float(len(commits_))
    m["commits.commit.ms_p50"] = percentile(ms("commits.commit"), 0.5)
    m["commits.snapshot.calls"] = float(len(by_name.get("commits.snapshot", [])))
    m["commits.snapshot.ms_p50"] = percentile(ms("commits.snapshot"), 0.5)
    m["commits.current_version.calls_per_get"] = per(
        gets, lambda g: len(named_in(g, "commits.current_version")))
    m["commits.current_version.ms_p50"] = percentile(ms("commits.current_version"), 0.5)
    m["commits.txn_version.calls"] = float(len(by_name.get("commits.txn_version", [])))

    appends = by_name.get("op.append", [])
    queries = by_name.get("op.query", []) + by_name.get("op.page", [])
    m["fs.calls_per_get"] = per(gets, lambda g: total(g, "fs_calls"))
    m["fs.calls_per_append"] = per(appends, lambda a: total(a, "fs_calls"))
    m["fs.renames_per_append"] = per(appends, lambda a: total(a, "fs_renames"))
    m["fs.calls_per_query"] = per(queries, lambda q: total(q, "fs_calls"))
    m["merge.canonicalize.build_ms"] = percentile(ms("merge.canonicalize"), 0.5)

    m["serving.get.ms_p50"] = percentile(ms("serving.get"), 0.5)
    m["serving.get.ms_p90"] = percentile(ms("serving.get"), 0.9)
    m["serving.get_many.ms_p50"] = percentile(ms("serving.get_many"), 0.5)
    m["serving.files_per_get"] = per(gets, lambda g: len(named_in(g, "serving.read_file")))
    m["serving.row_groups_per_get"] = per(gets, lambda g: total(g, "row_groups"))
    read = useful = 0
    for g in gets:
        for f in named_in(g, "serving.read_file"):
            n = total(f, "row_groups")
            read += n
            useful += n if f.attrs.get("useful") else 0
    m["serving.useful_row_group_frac"] = useful / read if read else 0.0
    firsts = [x.ms for f in by_name.get("op.fresh_get", []) if f.attrs.get("first")
              for x in named_in(f, "serving.get")]
    m["serving.first_get_after_commit.ms_p50"] = percentile(firsts, 0.5)
    m["serving.fresh_get.ms_p50"] = float(extra.get("serving.fresh_get.ms_p50", 0))
    m["lakehouse.ingest_stmts_per_s"] = float(extra.get("lakehouse.ingest_stmts_per_s", 0))

    m["api.get_entity.ms_p50"] = percentile(ms("api.get_entity"), 0.5)
    walls = extra.get("client_ms_by_rid", {})
    over = []
    for req in by_name.get("api.request", []):
        inner = named_in(req, "serving.get")
        if req.rid in walls and inner:
            over.append(walls[req.rid] - sum(x.ms for x in inner))
    m["api.overhead.ms_p50"] = percentile(over, 0.5)
    m["api.errors"] = float(extra.get("api.errors", 0))
    m["gen.lateness.ms_p90"] = float(extra.get("gen.lateness.ms_p90", 0))

    m["query.apply_statements.build_ms"] = percentile(ms("query.apply_statements"), 0.5)
    m["query.matching_ids.build_ms"] = percentile(ms("query.matching_ids"), 0.5)
    m["aggregate.assemble_entities.build_ms"] = percentile(ms("aggregate.assemble_entities"), 0.5)

    m["journal.start.ms_p50"] = percentile(ms("journal.start"), 0.5)
    streaming = []
    for w in by_name.get("op.wave", []):
        inside = [s.ms for s in by_name.get("store.append", [])
                  if w.start <= s.start and s.end <= w.end]
        streaming.append(w.ms - sum(inside))
    m["journal.streaming.ms_p50"] = percentile(streaming, 0.5)
    m["journal.stale_last_seen_rows"] = float(extra.get("journal.stale_last_seen_rows", 0))

    # Spark engine, per workload op kind (per op: jobs per append, ...)
    op_spans = [s for s in spans if s.name.startswith(("op.", "curation."))]
    owned = attribute_jobs(jobs, op_spans)
    store_ops = {"merge": "store.merge", "compact": "store.compact"}
    for g in SPARK_GROUPS:
        if g in store_ops:
            roots = by_name.get(store_ops[g], [])
            js = [[j for j in jobs.values() if (j["group"] or "").startswith(f"{g}:")
                   and (j["group"] or "").endswith(f":{r.id}")] for r in roots]
        else:
            roots = by_name.get(f"op.{g}", [])
            js = [owned.get(r.id, []) for r in roots]
        n = len(roots) or 1
        flat = [j for lst in js for j in lst]
        m[f"spark.{g}.jobs"] = len(flat) / n
        m[f"spark.{g}.tasks"] = sum(j["tasks"] for j in flat) / n
        m[f"spark.{g}.executor_cpu_ms"] = sum(j["cpu_ms"] for j in flat) / n
        m[f"spark.{g}.shuffle_write_bytes"] = sum(j["shuffle_write"] for j in flat) / n
        m[f"spark.{g}.driver_ms"] = sum(
            r.ms - 1000.0 * _union([(max(j["start"], r.start), min(j["end"], r.end)) for j in lst])
            for r, lst in zip(roots, js)) / n
        if g in ("append", "merge", "compact"):
            m[f"spark.{g}.gc_ms"] = sum(j["gc_ms"] for j in flat) / n
            m[f"spark.{g}.spill_bytes"] = sum(j["spill"] for j in flat) / n
    q_jobs = [j for r in by_name.get("op.query", []) for j in owned.get(r.id, [])]
    q_rows = sum(r.attrs.get("rows", 0) for r in by_name.get("op.query", []))
    m["spark.query.input_rows_per_result"] = (
        sum(j["input_rows"] for j in q_jobs) / q_rows if q_rows else 0.0)

    for gate in gates:
        spans_g = by_name.get(f"curation.{gate}", [])
        js = [j for s in spans_g for j in owned.get(s.id, [])]
        n = len(spans_g) or 1
        m[f"curation.{gate}.s"] = sum(s.ms for s in spans_g) / n / 1000.0
        m[f"curation.{gate}.jobs"] = len(js) / n
        m[f"curation.{gate}.tasks"] = sum(j["tasks"] for j in js) / n
        m[f"curation.{gate}.executor_cpu_ms"] = sum(j["cpu_ms"] for j in js) / n
        m[f"curation.{gate}.shuffle_write_bytes"] = sum(j["shuffle_write"] for j in js) / n
    return m


def layer_report(spans: list[Span]) -> dict:
    """Name → {calls, total_ms, self_ms, p50_ms} for every span name."""
    st = self_times(spans)
    out: dict[str, dict] = {}
    for s in spans:
        r = out.setdefault(s.name, {"calls": 0, "total_ms": 0.0, "self_ms": 0.0, "ms": []})
        r["calls"] += 1
        r["total_ms"] += s.ms
        r["self_ms"] += st[s.id]
        r["ms"].append(s.ms)
    for r in out.values():
        r["p50_ms"] = statistics.median(r.pop("ms"))
    return out


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith(("_ms", ".ms_p50", ".ms_p90")):
        return "ms"
    if name.endswith(".s"):
        return "s"
    if name.endswith("_bytes") or name.endswith(".bytes_added") or name.endswith(".live_bytes"):
        return "bytes"
    if name.endswith(("_frac", ".write_amp", "_per_result")):
        return "ratio"
    if name.endswith("_per_s"):
        return "1/s"
    return "count"
