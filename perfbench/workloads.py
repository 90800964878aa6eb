"""The benchmark's two workloads, driven through the engine's public API.

``ingest``  write path: warm-up appends (set-up), then entity batches
            with re-emissions and deletes, a burst of point reads after
            every commit, streaming-journal waves, ``optimize``, and a
            serving phase on the freshly optimized store.
``query``   read path: a store built in set-up, then DSL queries, a
            sorted page, the JSON and diff exports, and the curation
            gates over a seeded sample of the sf0.1 tables.

Both report the same end-to-end metrics (see README.md for what each
one measures on each workload). Every operation's output is checked
against the generator's :class:`gen.Expected` model outside the timed
region; a failed check counts as a failed operation.
"""

from __future__ import annotations

import gc
import http.client
import json
import math
import os
import random
import statistics
import sys
import threading
import time
from datetime import timedelta

import gen
from tracing import percentile

#: serving phase: open-loop Poisson arrivals, bounded client pool
RATE = 50.0
CLIENTS = 4
ZIPF_S = 1.1
MISS_SHARE = 0.05
GET_MANY_BATCH = 500
GET_MANY_CALLS = 5
SETUP_REPS = 3

INGEST = {
    "warmup_entities": 100,
    "batches": 3,
    "batch_size": 1500,
    "reemit_share": 0.3,
    "deletes": 1,
    "probes_per_batch": 10,
    "waves": 2,
    "wave_statements": 5000,
    "wave_reemit_share": 0.1,
}
QUERY = {
    "batches": SETUP_REPS,
    "batch_size": 1000,
    "id_list": 50,
    "curation_keep": gen.CURATION_KEEP,
}
#: the curation gates whose time on the sf0.1 sample is mostly operator
#: work (dedupe, graph); the run budget leaves no room for the rest
GATES = (
    "dedup_minhash_lsh",
    "graph_pagerank",
)


class Ctx:
    """One run's state: session, scratch paths, tracer and tallies."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tr = tracer
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.named: dict[str, tuple[float, str]] = {}  # per-workload figures
        self.extra: dict = {}  # per-layer figures measured by the workload
        self.inputs: dict = {}
        self.samples: dict[str, list[float]] = {}  # raw timings, for the report
        self.phases: dict[str, float] = {}  # phase → wall seconds
        self._phase: tuple[str, float] | None = None

    def phase(self, name: str) -> None:
        """Start phase ``name`` (ending the previous one) for the
        run's wall-time breakdown."""
        now = time.perf_counter()
        if self._phase is not None:
            self.phases[self._phase[0]] = now - self._phase[1]
        self._phase = (name, now) if name else None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op(self) -> None:
        self.attempted += 1

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(f"{name}: {detail}"[:300])
            print(f"CHECK FAILED {name}: {detail}"[:500], file=sys.stderr)

    def timed(self, kind: str, fn, **attrs):
        """Run one timed operation inside an ``op.<kind>`` span whose
        Spark jobs carry the job group ``kind``."""
        with self.tr.span(f"op.{kind}", group=kind, **attrs) as s:
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        self.op()
        return out, dt, s


# ---------------------------------------------------------------- helpers
def _write_lines(path: str, lines: list[str]) -> int:
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


def _same(got, want, skip=()) -> bool:
    if got is None or want is None:
        return got is None and want is None
    return {k: v for k, v in got.items() if k not in skip} == {
        k: v for k, v in want.items() if k not in skip
    }


def _skip_for(st: gen.EntityState) -> tuple[str, ...]:
    # journal re-sends keep the first arrival's last_seen (the known
    # stale-last_seen defect, counted separately, not failed)
    return ("last_seen",) if st.journal else ()


def _geomean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def _write_statements(path: str, rows: list[dict]) -> None:
    """A journal drop: statement rows as parquet in STATEMENT_SCHEMA."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from ftm_lakehouse_spark.model.statement import STATEMENT_SCHEMA

    def arrow(t):
        if isinstance(t, T.BooleanType):
            return pa.bool_()
        if isinstance(t, T.TimestampType):
            return pa.timestamp("us", tz="UTC")
        return pa.string()

    schema = pa.schema([(f.name, arrow(f.dataType)) for f in STATEMENT_SCHEMA.fields])
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def _row_bytes(path: str) -> int:
    """Compressed bytes of a parquet file's column chunks: its row data,
    without bloom filters, page indexes or footer."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    return sum(md.row_group(g).column(c).total_compressed_size
               for g in range(md.num_row_groups) for c in range(md.num_columns))


def _store_stats(ds) -> dict:
    """Live parquet files/bytes of the current snapshot (whole files and
    row data only), and bytes added by every commit so far (appends and
    rewrites)."""
    data = os.path.join(ds.path, "statements")
    size = lambda f: os.path.getsize(os.path.join(data, f))  # noqa: E731
    live = ds.store.commits.snapshot()
    added = [f for r in ds.store.commits.read() for f in r.get("files_added", [])]
    return {
        "store.live_files": len(live),
        "store.live_bytes": sum(size(f) for f in live),
        "store.live_row_bytes": sum(_row_bytes(os.path.join(data, f)) for f in live),
        "store.bytes_added": sum(size(f) for f in added if os.path.exists(os.path.join(data, f))),
    }


# ---------------------------------------------------------------- serving
def _quiesce(ctx: Ctx, max_s: float = 1.5) -> None:
    """Wait, at most ``max_s``, until the Spark JVM uses under a tenth
    of a core, so background JIT and GC after the preceding Spark jobs
    do not land in the serving latencies."""
    proc = getattr(ctx.spark.sparkContext._gateway, "proc", None)
    tick = os.sysconf("SC_CLK_TCK")

    def cpu_s() -> float:
        with open(f"/proc/{proc.pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
        return (int(f[11]) + int(f[12])) / tick

    if proc is None or not os.path.exists(f"/proc/{proc.pid}/stat"):
        return
    end = time.perf_counter() + max_s
    prev = cpu_s()
    while time.perf_counter() < end:
        time.sleep(0.2)
        now = cpu_s()
        if now - prev < 0.02:
            return
        prev = now


def _http_get(host: str, port: int, path: str) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection(host, port, timeout=30)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def serve_phase(ctx: Ctx, lake, ds, ex: gen.Expected) -> dict:
    """Open loop of ``GET /{ds}/entities/{id}`` through the HTTP API at
    :data:`RATE` req/s for ``ctx.seconds`` with at most :data:`CLIENTS`
    client threads, then a closed loop of one ``get_many`` caller."""
    from ftm_lakehouse_spark.api import serve_in_thread

    rng = random.Random(ctx.seed * 7919 + 17)
    live = sorted(ex.live())
    n = max(1, int(RATE * ctx.seconds))
    by_schema: dict[str, list[str]] = {}
    for e in sorted(ex.entities):
        by_schema.setdefault(ex.entities[e].schema, []).append(e)
    ids = gen.zipf_ids(rng, by_schema, n, ZIPF_S, MISS_SHARE, salt=f"serve{ctx.seed}")
    due = gen.poisson_schedule(rng, n, RATE)
    name = ds.config.name
    server, _ = serve_in_thread(lake)
    ctx.tr.tag_requests(server)
    host, port = server.server_address[:2]
    results: list = [None] * n
    try:
        # untimed: open the server's dataset handle and read two ids of
        # every shard, so every footer is cached (the cache-hit case)
        by_shard: dict[str, list[str]] = {}
        for e in live:
            by_shard.setdefault(gen.shard_of(e), []).append(e)
        for e in [e for ids_ in by_shard.values() for e in ids_[:2]]:
            _http_get(host, port, f"/{name}/entities/{e}")
        gc.collect()
        _quiesce(ctx)
        nxt = iter(range(n))
        lock = threading.Lock()
        t0 = time.perf_counter() + 0.05

        def client() -> None:
            while True:
                with lock:
                    j = next(nxt, None)
                if j is None:
                    return
                due_t = t0 + due[j]
                delay = due_t - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                sent = time.perf_counter()
                try:
                    status, body = _http_get(host, port, f"/{name}/entities/{ids[j]}?rid={j}")
                except Exception as e:  # noqa: BLE001 - a failed serve.get
                    status, body = -1, repr(e).encode()
                results[j] = (due_t, sent, time.perf_counter(), status, body)

        threads = [threading.Thread(target=client, daemon=True) for _ in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        if any(t.is_alive() for t in threads):
            raise RuntimeError("serving clients did not finish")
    finally:
        server.shutdown()
        server.server_close()

    lat, late, errors, by_rid = [], [], 0, {}
    for j, res in enumerate(results):
        ctx.op()
        if res is None:
            errors += 1
            ctx.check("serve.get", False, f"{ids[j]} -> no response")
            continue
        due_t, sent, done, status, body = res
        lat.append((done - due_t) * 1000.0)
        late.append((sent - due_t) * 1000.0)
        by_rid[str(j)] = (done - sent) * 1000.0
        st = ex.entities.get(ids[j])
        if st is None or st.deleted:
            ok = status == 404
        else:
            want = json.loads(json.dumps(st.as_dict(ids[j]), default=str))
            ok = status == 200 and _same(json.loads(body), want, _skip_for(st))
        if status not in (200, 404):
            errors += 1
        ctx.check("serve.get", ok, f"{ids[j]} -> {status}")

    # closed loop: one get_many caller, after one untimed call that
    # loads this handle's footer cache
    ds.get_many(rng.sample(live, min(GET_MANY_BATCH, len(live))))
    calls, sample = [], []
    for c in range(GET_MANY_CALLS):
        batch = rng.sample(live, min(GET_MANY_BATCH, len(live)))
        with ctx.tr.span("op.get_many"):
            t = time.perf_counter()
            got = ds.get_many(batch)
            calls.append((time.perf_counter() - t) / len(batch))
        ctx.op()
        bad = [e for e in batch if not _same(got[e], ex.entities[e].as_dict(e),
                                            _skip_for(ex.entities[e]))]
        ctx.check("get_many", not bad, f"{len(bad)} mismatches, e.g. {bad[:1]}")
        sample.extend((e, got[e]) for e in batch[:2])
    for e, many in sample:
        ctx.check("get_many.equals_single", _same(ds.get(e), many), e)

    ctx.samples["get_ms"] = lat
    ctx.samples["get_many_ms_per_id"] = [c * 1000.0 for c in calls]
    ctx.extra["client_ms_by_rid"] = by_rid
    ctx.extra["api.errors"] = errors
    ctx.extra["gen.lateness.ms_p90"] = percentile(late, 0.9)
    ctx.inputs["serve"] = {
        "requests": n, "rate_per_s": RATE, "clients": CLIENTS, "zipf_s": ZIPF_S,
        "miss_share": MISS_SHARE, "distinct_ids": len(set(ids)), "live_entities": len(live),
        "get_many_calls": GET_MANY_CALLS, "get_many_batch": GET_MANY_BATCH,
    }
    return {
        "get_p50_ms": percentile(lat, 0.5),
        "get_p90_ms": percentile(lat, 0.9),
        "get_many_ids_per_s": 1.0 / statistics.median(calls),
    }


# ----------------------------------------------------------------- ingest
def ingest(ctx: Ctx) -> dict:
    from pyspark.sql import functions as F

    from ftm_lakehouse_spark.lakehouse import Lakehouse
    from ftm_lakehouse_spark.streaming.journal import StreamingJournal

    P = INGEST
    lake = Lakehouse(ctx.spark, ctx.path("lake"))

    ctx.phase("setup")
    # set-up: warm-up appends to throwaway datasets (the first one pays
    # the JVM's cold start); setup_s is their median
    setup = []
    for k in range(SETUP_REPS):
        g = gen.EntityGen(ctx.seed * 100 + 90 + k)
        wex = gen.Expected()
        b = gen.make_batches(g, wex, 1, P["warmup_entities"], 0.0, probes_per_batch=1)[0]
        path = ctx.path(f"warmup{k}.json")
        _write_lines(path, b.lines())
        t = time.perf_counter()
        wds = lake.dataset(f"warmup{k}", shards=gen.SHARDS)
        wds.write_entities_json(path, origin=b.origin, seen=F.lit(b.seen))
        eid, want = b.probes[0]
        got = wds.get(eid)
        setup.append(time.perf_counter() - t)
        ctx.check("setup.get", _same(got, want, ("n_statements",)), eid)

    ctx.phase("generate")
    g = gen.EntityGen(ctx.seed)
    ex = gen.Expected()
    batches = gen.make_batches(
        g, ex, P["batches"], P["batch_size"], P["reemit_share"],
        P["deletes"], P["probes_per_batch"],
    )
    paths = [ctx.path(f"batch{i}.json") for i in range(len(batches))]
    input_bytes = sum(_write_lines(p, b.lines()) for p, b in zip(paths, batches))
    # one row per value plus one BASE_ID checksum row per entity
    n_stmts = [sum(len(v) for e in b.entities for v in e["properties"].values()) + len(b.entities)
               for b in batches]
    waves = gen.make_waves(g, ex, P["waves"], P["wave_statements"], P["wave_reemit_share"])
    input_bytes += sum(len(gen.entity_json(g.base[e])) + 1 for e, s in ex.entities.items()
                       if s.journal)
    os.makedirs(ctx.path("journal", "src"))
    staged = [ctx.path("journal", f"wave{w}.parquet") for w in range(len(waves))]
    for p, wave in zip(staged, waves):
        _write_statements(p, wave.rows)

    ctx.phase("batches")
    # the model's objects are long-lived: keep the collector off them
    gc.collect()
    gc.freeze()
    # timed: batches, each followed by point reads and a delete
    ds = lake.dataset(gen.DATASET, shards=gen.SHARDS)
    appends, fresh = [], []
    for i, b in enumerate(batches):
        _, dt, _ = ctx.timed(
            "append",
            lambda: ds.write_entities_json(paths[i], origin=b.origin, seen=F.lit(b.seen)),
        )
        appends.append(dt)
        for k, (eid, want) in enumerate(b.probes):
            with ctx.tr.span("op.fresh_get", first=k == 0):
                t = time.perf_counter()
                got = ds.get(eid)
                fresh.append((time.perf_counter() - t) * 1000.0)
            ctx.op()
            # before the merge, re-sent statements are still separate rows
            ctx.check("fresh_get", _same(got, want, ("n_statements",)), eid)
        for eid in b.deletes:
            ctx.timed("delete", lambda: ds.delete_entity(eid))

    ctx.phase("waves")
    journal = StreamingJournal(ctx.spark, ds.store, ctx.path("journal", "src"),
                               ctx.path("journal", "ckpt"))
    wave_s = []
    for w, p in enumerate(staged):
        def run_wave():
            os.rename(p, ctx.path("journal", "src", os.path.basename(p)))
            q = journal.start(trigger_once=True)
            q.awaitTermination()
            return q.exception()

        err, dt, _ = ctx.timed("wave", run_wave)
        ctx.check("wave.no_error", err is None, str(err))
        wave_s.append(dt)

    ctx.phase("optimize")
    _, optimize_s, _ = ctx.timed("optimize", ds.optimize)
    ctx.phase("serve")
    serve = serve_phase(ctx, lake, ds, ex)

    ctx.phase("checks")
    # checks against the model
    live = ex.live()
    rng = random.Random(ctx.seed + 5)
    plain = sorted(e for e, s in live.items() if not s.journal)
    jnl = sorted(e for e, s in live.items() if s.journal)
    deleted = sorted(e for e, s in ex.entities.items() if s.deleted)
    for e in rng.sample(plain, 12) + rng.sample(jnl, 4) + deleted:
        st = ex.entities[e]
        want = None if st.deleted else st.as_dict(e)
        ctx.check("get_after_optimize", _same(ds.get(e), want, _skip_for(st)), e)
    e = rng.choice(plain)
    ctx.check("direct_equals_spark", _same(ds.get(e, engine="direct"), ds.get(e, engine="spark")), e)
    # one Spark job: live entity and statement counts, and the journal
    # re-sends whose stored last_seen is older than the latest sent
    resent = {}
    for w, wave in enumerate(waves):
        seen = (gen.BASE_TIME + timedelta(days=30, minutes=w)).replace(tzinfo=None)
        resent.update(dict.fromkeys(wave.reemitted_ids, seen))
    want_df = ctx.spark.createDataFrame(list(resent.items()) or [("", None)],
                                        "id string, want timestamp")
    row = (
        ds.store.live().join(F.broadcast(want_df), "id", "left")
        .agg(F.countDistinct("entity_id").alias("entities"),
             F.countDistinct(F.when(F.col("prop_type") != "checksum", F.col("id"))).alias("stmts"),
             F.count_if(F.col("last_seen") < F.col("want")).alias("stale"))
        .first()
    )
    ctx.check("entity_count", row["entities"] == len(live), f"{row['entities']} != {len(live)}")
    ctx.check("statement_count", row["stmts"] == ex.n_statements(),
              f"{row['stmts']} != {ex.n_statements()}")
    ctx.extra["journal.stale_last_seen_rows"] = row["stale"]
    stats = _store_stats(ds)
    ctx.extra.update(stats)
    ctx.phase("")

    total_stmts = sum(n_stmts)
    ctx.inputs["ingest"] = {
        **P, "origins": len(gen.ORIGINS), "shards": gen.SHARDS, "doc_share": g.doc_share,
        "body_bytes": g.body_bytes, "input_bytes": input_bytes, "statements_appended": total_stmts,
        "live_entities": len(live), "journal_resent_statements": len(resent),
        "store_live_files": stats["store.live_files"],
        "store_live_bytes": stats["store.live_bytes"],
        "store_live_row_bytes": stats["store.live_row_bytes"],
    }
    ctx.named.update({
        "setup_s": (statistics.median(setup), "s"),
        "ingest_stmts_per_s": (total_stmts / sum(appends), "1/s"),
        "append_p50_s": (statistics.median(appends), "s"),
        "wave_p50_s": (statistics.median(wave_s), "s"),
        "optimize_s": (optimize_s, "s"),
        "fresh_get_p50_ms": (statistics.median(fresh), "ms"),
        "stored_bytes_per_input_byte": (stats["store.live_bytes"] / input_bytes, "ratio"),
        "row_bytes_per_input_byte": (stats["store.live_row_bytes"] / input_bytes, "ratio"),
        "get_p50_ms": (serve["get_p50_ms"], "ms"),
        "get_p90_ms": (serve["get_p90_ms"], "ms"),
        "get_many_ids_per_s": (serve["get_many_ids_per_s"], "1/s"),
    })
    ctx.samples.update(append_s=appends, wave_s=wave_s, optimize_s=[optimize_s])
    ctx.extra["lakehouse.ingest_stmts_per_s"] = total_stmts / sum(appends)
    ctx.extra["serving.fresh_get.ms_p50"] = statistics.median(fresh)
    return {
        "setup_s": statistics.median(setup),
        "batch_ops_s": sum(appends),
        "pipeline_s": sum(wave_s),
        "bulk_op_s": optimize_s,
        "stored_bytes_per_input_byte": stats["store.live_bytes"] / input_bytes,
        "row_bytes_per_input_byte": stats["store.live_row_bytes"] / input_bytes,
    }


# ------------------------------------------------------------------ query
def _write_tables(out_dir: str, tables: dict) -> None:
    import pyarrow.parquet as pq

    os.makedirs(out_dir)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def _read_output(out_dir: str) -> bytes:
    """The part files of a Spark text/JSON output directory (zstd parts
    too), concatenated."""
    import pyarrow as pa

    out = []
    for f in sorted(os.listdir(out_dir)):
        if not f.startswith("part-"):
            continue
        codec = "zstd" if f.endswith(".zst") else None
        with pa.input_stream(os.path.join(out_dir, f), compression=codec) as fh:
            out.append(fh.read())
    return b"".join(out)


def _parity(spark_df, oracle_df) -> str:
    """'' when equal under the repo's parity comparison, else why not."""
    import pandas as pd

    from check_parity import dtype_classes, normalize

    a, b = normalize(spark_df), normalize(oracle_df)
    if dtype_classes(a) != dtype_classes(b):
        return f"dtype classes {dtype_classes(a)} vs {dtype_classes(b)}"
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return f"shape {list(a.columns)}x{len(a)} vs {list(b.columns)}x{len(b)}"
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=False, rtol=1e-9)
    except AssertionError as e:
        return str(e).splitlines()[0]
    return ""


def query(ctx: Ctx) -> dict:
    from pyspark.sql import functions as F

    from ftm_lakehouse_spark.lakehouse import Lakehouse
    from ftm_lakehouse_spark.plans.query import Query
    from ftm_lakehouse_spark.queries.inventory import oracle_map, query_map

    P = QUERY
    ctx.phase("generate")
    lake = Lakehouse(ctx.spark, ctx.path("lake"))
    g = gen.EntityGen(ctx.seed)
    ex = gen.Expected()
    # distinct entities only: no statement repeats, so the store is
    # already canonical and needs no merge
    batches = gen.make_batches(g, ex, P["batches"], P["batch_size"], 0.0)
    paths = [ctx.path(f"batch{i}.json") for i in range(len(batches))]
    input_bytes = sum(_write_lines(p, b.lines()) for p, b in zip(paths, batches))

    # set-up: the store is built by SETUP_REPS appends (setup_s is their
    # median); the curation tables are sampled and written
    ctx.phase("setup")
    ds = lake.dataset(gen.DATASET, shards=gen.SHARDS)
    setup = []
    for p, b in zip(paths, batches):
        t = time.perf_counter()
        ds.write_entities_json(p, origin=b.origin, seen=F.lit(b.seen))
        setup.append(time.perf_counter() - t)
    ctx.phase("setup_rest")
    tables_dir, warm_dir = ctx.path("tables"), ctx.path("tables_warmup")
    tables = gen.curation_tables(ctx.seed)
    _write_tables(tables_dir, tables)
    _write_tables(warm_dir, gen.warmup_tables(tables))
    # warm-up pass: each gate runs once untimed on a small slice of its
    # tables, so the timed pass measures compiled plans rather than
    # first-run code generation
    qmap, oracles = query_map(), oracle_map()
    for gate in GATES:
        qmap[gate](ctx.spark, warm_dir).toPandas()
    gc.collect()
    gc.freeze()
    live = ex.live()
    rng = random.Random(ctx.seed + 3)

    def ids_where(pred):
        return {e for e, s in live.items() if pred(s)}

    cc = rng.choice(gen.COUNTRIES)
    last = rng.choice(gen.LAST)
    id_list = rng.sample(sorted(live), P["id_list"])
    companies = sorted(
        (float(next(iter(s.props["capital"]))), e) for e, s in live.items() if s.schema == "Company"
    )
    a = rng.randrange(0, max(1, len(companies) - 40))
    reads = [
        ("query", Query().where(schema="Company", jurisdiction=cc),
         ids_where(lambda s: s.schema == "Company" and cc in s.props["jurisdiction"])),
        ("query", Query().where(name__ilike=f"%{last}%"),
         ids_where(lambda s: any(last in v.lower() for v in s.props.get("name", ())))),
        ("query", Query().where(entity_id__in=id_list), set(id_list)),
        ("page", Query().where(schema="Company").order_by("capital", numeric=True)[a:a + 20],
         {e for _, e in companies[a:a + 20]}),
    ]
    ctx.phase("reads")
    read_s = []
    for kind, q, want in reads:
        rows, dt, s = ctx.timed(kind, lambda: ds.entities(q).collect())
        if s is not None:
            s.attrs["rows"] = len(rows)
        read_s.append(dt)
        got = {r["entity_id"] for r in rows}
        ctx.check(f"{kind}.ids", got == want, f"{len(got)} rows vs {len(want)} expected")
    n, dt, _ = ctx.timed("query", lambda: ds.count(Query().where(schema="Person")))
    read_s.append(dt)
    ctx.check("count", n == len(ids_where(lambda s: s.schema == "Person")), str(n))

    ctx.phase("exports")
    out = ctx.path("export")
    _, export_s, _ = ctx.timed("export", lambda: ds.export_entities_json(out))
    lines = _read_output(out).count(b"\n")
    ctx.check("export.lines", lines == len(live), f"{lines} != {len(live)}")
    # the diff since the last batch: its entities, all new (ADD)
    since, want = batches[-1].seen, len(batches[-1].entities)
    out = ctx.path("diff")
    _, diff_s, _ = ctx.timed("export", lambda: ds.export_diff(out, since))
    data = _read_output(out)
    lines, adds = data.count(b"\n"), data.count(b'"op":"ADD"')
    ctx.check("export_diff.lines", lines == adds == want, f"{lines} lines, {adds} ADD, {want} expected")

    ctx.phase("curation")
    # curation: each gate timed to its collected result, which is then
    # compared with the gate's DuckDB oracle
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    gate_s = {}
    for gate in GATES:
        with ctx.tr.span(f"curation.{gate}", group="curation"):
            t = time.perf_counter()
            got = qmap[gate](ctx.spark, tables_dir).toPandas()
            gate_s[gate] = time.perf_counter() - t
        ctx.phases[f"gate.{gate}"] = gate_s[gate]
        ctx.op()
        why = _parity(got, con.execute(oracles[gate]).fetchdf())
        ctx.check(f"curation.{gate}", not why, why)
        ctx.check(f"curation.{gate}.nonempty", len(got) > 0, "empty result")
    con.close()

    stats = _store_stats(ds)
    ctx.extra.update(stats)
    ctx.phase("")
    ctx.inputs["query"] = {
        **P, "origins": len(gen.ORIGINS), "shards": gen.SHARDS, "doc_share": g.doc_share,
        "body_bytes": g.body_bytes, "input_bytes": input_bytes, "live_entities": len(live),
        "store_live_files": stats["store.live_files"],
        "store_live_bytes": stats["store.live_bytes"],
        "store_live_row_bytes": stats["store.live_row_bytes"],
        "curation_rows": {name: len(t) for name, t in tables.items()},
    }
    # in call order: equality, ilike, id list, page, count
    ctx.samples.update(read_s=read_s, export_s=[export_s, diff_s], gate_s=list(gate_s.values()))
    ctx.named.update({
        "setup_s": (statistics.median(setup), "s"),
        "query_p50_s": (statistics.median(read_s[:3] + read_s[-1:]), "s"),
        "page_p50_s": (read_s[3], "s"),
        "export_s": (export_s, "s"),
        "export_diff_s": (diff_s, "s"),
        "gate_geomean_s": (_geomean(list(gate_s.values())), "s"),
    })
    return {
        "setup_s": statistics.median(setup),
        "batch_ops_s": sum(read_s),
        "pipeline_s": sum(gate_s.values()),
        "bulk_op_s": export_s + diff_s,
        "stored_bytes_per_input_byte": stats["store.live_bytes"] / input_bytes,
        "row_bytes_per_input_byte": stats["store.live_row_bytes"] / input_bytes,
    }


WORKLOADS = {"ingest": ingest, "query": query}
