"""Seeded inputs for the lakehouse benchmark.

Everything the engine sees is produced here from the workload seed:
FtM entity batches (JSON lines), journal statement drops (parquet),
delete lists, lookup id streams, and the curation tables (a seeded
sample of the sf0.1 snapshot in ``data/``). The engine
receives only these outputs; the :class:`Expected` model built next to
them is what the benchmark checks the engine's answers against.

The generator is pure Python (``random.Random(seed)`` and sha1/sha256
digests), so the same seed yields byte-identical inputs on any host.
"""

from __future__ import annotations

import bisect
import hashlib
import json
import math
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

DATASET = "bench"
ORIGINS = ("origin_a", "origin_b")
SHARDS = 16

#: producer-side FtM property types of the properties generated below
PROP_TYPES = {
    "name": "name",
    "nationality": "country",
    "birthDate": "date",
    "email": "email",
    "jurisdiction": "country",
    "registrationNumber": "identifier",
    "incorporationDate": "date",
    "capital": "string",
    "title": "string",
    "fileName": "string",
    "mimeType": "mimetype",
    "bodyText": "text",
    "notes": "text",
}
BUCKETS = {"Person": "thing", "Company": "thing", "Document": "document"}
CAPTION_PROPS = ("name", "title", "fileName", "full")

FIRST = (
    "anna ben carla dmitri elena farid greta hugo irina jonas karim lena "
    "marco nadia oskar paula quentin rosa samir tara ugo vera wanda xavier "
    "yusuf zora"
).split()
LAST = (
    "adler berger costa dubois eriksen fischer garcia horvat ivanova jensen "
    "kowalski lambert moreau novak olsen petrov quinn rossi schmidt tanaka "
    "urban vogel weber young zimmer"
).split()
ORG = (
    "holding trading logistics capital mining energy shipping media "
    "consulting invest partners group services industries"
).split()
COUNTRIES = "de fr gb us ru cy mt pa vg ch lu nl it es pl".split()
WORDS = (
    "account transfer offshore contract payment invoice director shares "
    "beneficial owner trust fund property vessel license tender bank loan "
    "agreement subsidiary registry filing audit minutes board meeting "
    "consultancy fee commission export import customs declaration"
).split()

BASE_TIME = datetime(2024, 1, 1, tzinfo=timezone.utc)


def _digest(*parts) -> str:
    return hashlib.sha1(":".join(map(str, parts)).encode()).hexdigest()


def statement_id(entity_id: str, prop: str, value: str) -> str:
    """FtM statement key for a plain (no lang, not external) value."""
    return hashlib.sha1(f"{DATASET}.{entity_id}.{prop}.{value}".encode()).hexdigest()


def shard_of(entity_id: str, shards: int = SHARDS) -> str:
    """Shard key: sha256 prefix mod ``shards`` as zero-padded hex."""
    width = max(1, len(f"{shards - 1:x}"))
    b = int(hashlib.sha256(entity_id.encode()).hexdigest()[:8], 16) % shards
    return f"{b:x}".rjust(width, "0")


def caption_of(props: dict[str, list[str]]) -> str:
    def rank(p: str) -> tuple[int, str]:
        return (CAPTION_PROPS.index(p) + 1 if p in CAPTION_PROPS else 99, p)

    return props[min(props, key=rank)][0]


@dataclass
class EntityState:
    """Expected live state of one entity after every write so far."""

    schema: str
    props: dict[str, set[str]] = field(default_factory=dict)
    #: origin → (prop, value) pairs emitted under it: the merge keeps one
    #: live row per statement per origin
    by_origin: dict[str, set[tuple[str, str]]] = field(default_factory=dict)
    first_seen: datetime | None = None
    last_seen: datetime | None = None
    last_change: datetime | None = None
    journal: bool = False  # written through the streaming journal
    deleted: bool = False

    def as_dict(self, entity_id: str) -> dict:
        """Shape of ``Dataset.get`` (timestamps naive UTC)."""
        props = {p: sorted(v) for p, v in sorted(self.props.items())}
        naive = lambda t: t.replace(tzinfo=None)  # noqa: E731
        return {
            "entity_id": entity_id,
            "caption": caption_of(props),
            "schema": self.schema,
            "properties": props,
            "first_seen": naive(self.first_seen),
            "last_seen": naive(self.last_seen),
            "last_change": naive(self.last_change),
            "origins": sorted(self.by_origin),
            "n_statements": sum(len(v) for v in self.by_origin.values()),
        }


class Expected:
    """The benchmark's model of the store: entity id → expected state."""

    def __init__(self) -> None:
        self.entities: dict[str, EntityState] = {}

    def emit(self, ent: dict, origin: str, seen: datetime) -> None:
        st = self.entities.get(ent["id"])
        if st is None:
            st = self.entities[ent["id"]] = EntityState(schema=ent["schema"])
        old_ids = {statement_id(ent["id"], p, v) for p, vs in st.props.items() for v in vs}
        for p, vs in ent["properties"].items():
            st.props.setdefault(p, set()).update(vs)
        new_ids = {
            statement_id(ent["id"], p, v) for p, vs in ent["properties"].items() for v in vs
        }
        st.by_origin.setdefault(origin, set()).update(
            (p, v) for p, vs in ent["properties"].items() for v in vs
        )
        st.first_seen = min(st.first_seen or seen, seen)
        st.last_seen = max(st.last_seen or seen, seen)
        # every re-emission changes its value set, so each emission's
        # BASE_ID checksum is new and last_change moves to its time
        if not new_ids <= old_ids or st.last_change is None:
            st.last_change = seen

    def live(self) -> dict[str, EntityState]:
        return {k: v for k, v in self.entities.items() if not v.deleted}

    def n_statements(self) -> int:
        return sum(len(v) for s in self.live().values() for v in s.props.values())


class EntityGen:
    """Deterministic FtM entities: Person, Company and Document.

    ``doc_share`` of new entities are Documents whose ``bodyText`` is
    about ``body_bytes`` long, so the document-bucket (large-value)
    write profile runs. Re-emissions carry the entity's properties plus
    a new ``notes`` revision, so each one changes the value set."""

    def __init__(self, seed: int, doc_share: float = 0.25, body_bytes: int = 1000):
        self.seed = seed
        self.rng = random.Random(seed)
        self.doc_share = doc_share
        self.body_bytes = body_bytes
        self.n = 0
        self.base: dict[str, dict] = {}  # id → first emission
        self.revisions: dict[str, int] = {}

    def _words(self, nbytes: int) -> str:
        out, size = [], 0
        while size < nbytes:
            w = self.rng.choice(WORDS)
            out.append(w)
            size += len(w) + 1
        return " ".join(out)

    def new(self) -> dict:
        r = self.rng
        i = self.n
        self.n += 1
        u = r.random()
        if u < self.doc_share:
            schema = "Document"
            title = f"{r.choice(WORDS)} {r.choice(WORDS)} {i}"
            props = {
                "title": [title],
                "fileName": [f"doc-{i}.txt"],
                "mimeType": ["text/plain"],
                "bodyText": [self._words(self.body_bytes)],
            }
        elif u < self.doc_share + (1 - self.doc_share) * 0.55:
            schema = "Person"
            first, last = r.choice(FIRST), r.choice(LAST)
            props = {
                "name": [f"{first.title()} {last.title()} {i}"],
                "nationality": [r.choice(COUNTRIES)],
                "birthDate": [f"{r.randint(1940, 2004)}-{r.randint(1, 12):02d}-{r.randint(1, 28):02d}"],
                "email": [f"{first}.{last}.{i}@example.org"],
            }
        else:
            schema = "Company"
            props = {
                "name": [f"{r.choice(LAST).title()} {r.choice(ORG).title()} {i}"],
                "jurisdiction": [r.choice(COUNTRIES)],
                "registrationNumber": [f"HRB{r.randint(10000, 999999)}"],
                "incorporationDate": [f"{r.randint(1990, 2023)}-{r.randint(1, 12):02d}-01"],
                "capital": [str(r.randint(1, 5_000_000))],
            }
        prefix = {"Person": "p", "Company": "c", "Document": "d"}[schema]
        ent = {"id": f"{prefix}-{_digest(self.seed, i)[:20]}", "schema": schema,
               "properties": props}
        self.base[ent["id"]] = ent
        return ent

    def reemit(self, entity_id: str) -> dict:
        k = self.revisions.get(entity_id, 0) + 1
        self.revisions[entity_id] = k
        base = self.base[entity_id]
        props = dict(base["properties"])
        props["notes"] = [f"revision {k}: {self._words(40)}"]
        return {"id": entity_id, "schema": base["schema"], "properties": props}


def entity_json(ent: dict) -> str:
    return json.dumps(
        {"id": ent["id"], "schema": ent["schema"], "properties": ent["properties"]},
        sort_keys=True,
    )


@dataclass
class Batch:
    entities: list[dict]
    origin: str
    seen: datetime
    deletes: list[str]
    #: (id, expected entity right after this batch's commit) to read back
    probes: list[tuple[str, dict]]

    def lines(self) -> list[str]:
        return [entity_json(e) for e in self.entities]


def make_batches(
    gen: EntityGen,
    expected: Expected,
    n_batches: int,
    batch_size: int,
    reemit_share: float,
    deletes: int = 0,
    probes_per_batch: int = 0,
) -> list[Batch]:
    """Entity batches. Each mixes ``reemit_share`` re-emissions of
    earlier live ids (later ``seen``, changed values) with new ids; the
    first batch of an empty store is all new. After each batch from the
    second on, one earlier id is deleted (``deletes`` in all) and never
    emitted again, and ``probes_per_batch`` ids (half from this batch)
    are recorded with their expected state for read-back. ``expected``
    is updated as if everything is applied in order."""
    r = gen.rng
    batches: list[Batch] = []
    for b in range(n_batches):
        seen = BASE_TIME + timedelta(hours=b)
        origin = ORIGINS[b % len(ORIGINS)]
        candidates = sorted(
            e for e, s in expected.entities.items() if not s.deleted and not s.journal
        )
        n_re = min(int(batch_size * reemit_share), len(candidates))
        re_ids = r.sample(candidates, n_re)
        ents = [gen.reemit(e) for e in re_ids] + [gen.new() for _ in range(batch_size - n_re)]
        r.shuffle(ents)
        for e in ents:
            expected.emit(e, origin, seen)
        mine = [e["id"] for e in ents]
        picks = r.sample(mine, min(probes_per_batch - probes_per_batch // 2, len(mine)))
        if candidates:
            picks += r.sample(candidates, min(probes_per_batch // 2, len(candidates)))
        probes = [(e, expected.entities[e].as_dict(e)) for e in picks]
        pool = sorted(set(candidates) - set(re_ids) - set(picks))
        n_del = 1 if b > 0 and sum(len(x.deletes) for x in batches) < deletes else 0
        dels = r.sample(pool, min(n_del, len(pool)))
        for e in dels:
            expected.entities[e].deleted = True
        batches.append(Batch(ents, origin, seen, dels, probes))
    return batches


def statement_rows(ent: dict, origin: str, seen: datetime) -> list[dict]:
    """One raw statement row per (prop, value) in STATEMENT_SCHEMA order."""
    eid = ent["id"]
    return [
        {
            "shard": shard_of(eid), "id": statement_id(eid, p, v), "entity_id": eid,
            "dataset": DATASET, "bucket": BUCKETS[ent["schema"]], "origin": origin,
            "source": None, "schema": ent["schema"], "prop": p,
            "prop_type": PROP_TYPES[p], "value": v, "original_value": None,
            "lang": None, "external": False, "first_seen": seen, "last_seen": seen,
            "fragment": "", "deleted_at": None,
        }
        for p, vs in sorted(ent["properties"].items())
        for v in vs
    ]


@dataclass
class Wave:
    rows: list[dict]
    reemitted_ids: set[str]  # statement ids re-sent with a later last_seen


def make_waves(
    gen: EntityGen,
    expected: Expected,
    n_waves: int,
    stmts_per_wave: int,
    reemit_share: float,
) -> list[Wave]:
    """Journal statement drops. Waves are one minute apart (inside the
    journal's watermark), and each re-sends ``reemit_share`` of an
    earlier wave's statements unchanged with the new wave's later
    ``last_seen``: the batch path keeps the later time for such a row."""
    r = gen.rng
    waves: list[Wave] = []
    sent: list[dict] = []
    origin = ORIGINS[0]
    for w in range(n_waves):
        seen = BASE_TIME + timedelta(days=30, minutes=w)
        rows: list[dict] = []
        re_ids: set[str] = set()
        if sent:
            for old in r.sample(sent, min(int(stmts_per_wave * reemit_share), len(sent))):
                rows.append({**old, "first_seen": seen, "last_seen": seen})
                re_ids.add(old["id"])
        fresh: list[dict] = []
        while len(rows) + len(fresh) < stmts_per_wave:
            ent = gen.new()
            expected.emit(ent, origin, seen)
            expected.entities[ent["id"]].journal = True
            fresh.extend(statement_rows(ent, origin, seen))
        for row in rows:
            st = expected.entities[row["entity_id"]]
            st.last_seen = max(st.last_seen, seen)
        sent.extend(fresh)
        rows.extend(fresh)
        waves.append(Wave(rows, re_ids))
    return waves


def zipf_ids(rng: random.Random, groups: dict[str, list[str]], n: int, s: float,
             miss_share: float, salt: str) -> list[str]:
    """``n`` lookup ids in shuffled order: exactly ``miss_share`` of them
    absent, the rest split across ``groups`` (e.g. ids by schema) in
    proportion to group size, with Zipf(``s``) popularity inside each
    group over a seeded rank order. Fixing the mix keeps the share of
    large entities the same for every seed."""
    n_miss = round(n * miss_share)
    total = sum(len(v) for v in groups.values())
    quota = {k: (n - n_miss) * len(v) // total for k, v in groups.items()}
    for k in sorted(groups, key=lambda k: -((n - n_miss) * len(groups[k]) % total)):
        if sum(quota.values()) == n - n_miss:
            break
        quota[k] += 1
    out = [f"x-{_digest(salt, j)[:20]}" for j in range(n_miss)]
    for k in sorted(groups):
        order = list(groups[k])
        rng.shuffle(order)
        acc, cum = 0.0, []
        for rank in range(len(order)):
            acc += 1.0 / (rank + 1) ** s
            cum.append(acc)
        for _ in range(quota[k]):
            out.append(order[min(bisect.bisect_left(cum, rng.random() * acc), len(order) - 1)])
    rng.shuffle(out)
    return out


def poisson_schedule(rng: random.Random, n: int, rate: float) -> list[float]:
    """Due times (s from start) of an open-loop Poisson arrival process."""
    t, out = 0.0, []
    for _ in range(n):
        t += -math.log(1.0 - rng.random()) / rate
        out.append(t)
    return out


# ---------------------------------------------------------------- curation
#: the fixed sf0.1 snapshot the curation tables are sampled from (see
#: make_data.py), and the share of its rows each run keeps
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
CURATION_KEEP = 0.9


def curation_tables(seed: int, data_dir: str = DATA_DIR) -> dict:
    """Arrow tables for the three tables the curation gates read: a
    seeded row sample (:data:`CURATION_KEEP` of the rows) of the sf0.1
    snapshot in ``data_dir``, in a seeded row order. Lineitems follow
    their sampled orders, in the orders' row order."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    r = random.Random(seed ^ 0x5EED)

    def sample(name: str):
        t = pq.read_table(os.path.join(data_dir, f"{name}.parquet"))
        rows = [i for i in range(len(t)) if r.random() < CURATION_KEEP]
        r.shuffle(rows)
        return t.take(rows)

    docs = sample("documents")
    orders = sample("orders")
    lines = pq.read_table(os.path.join(data_dir, "lineitem.parquet"))
    # each lineitem's order's position in the sampled orders, or null
    pos = pc.index_in(lines["l_orderkey"], value_set=orders["o_orderkey"])
    lines = lines.append_column("pos", pos).filter(pc.is_valid(pos))
    lines = lines.take(pc.sort_indices(lines, [("pos", "ascending")])).drop(["pos"])
    return {"documents": docs, "orders": orders, "lineitem": lines}


def warmup_tables(tables: dict) -> dict:
    """A small slice of each curation table (the rows with the lowest
    keys), on which every gate runs the same plan as on the full ones."""
    import pyarrow.compute as pc

    def below(t, key, n):
        return t.filter(pc.less(t[key], n))

    orders = below(tables["orders"], "o_orderkey", 4000)
    return {
        "documents": below(tables["documents"], "doc_id", 400),
        "orders": orders,
        "lineitem": tables["lineitem"].filter(
            pc.is_in(tables["lineitem"]["l_orderkey"], orders["o_orderkey"])),
    }
