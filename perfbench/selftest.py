"""Generator self-test: the same seed must give identical inputs and a
different seed different ones.

    python3 perfbench/selftest.py

Every benchmark run also performs these checks and counts them.
"""

from __future__ import annotations

import hashlib
import json
import random
import sys

import gen


def fingerprint(seed: int) -> dict[str, str]:
    """Digest of each kind of input, generated small, for one seed."""
    g = gen.EntityGen(seed)
    ex = gen.Expected()
    batches = gen.make_batches(g, ex, 3, 60, 0.3, 1, 4)
    waves = gen.make_waves(g, ex, 2, 200, 0.1)
    rng = random.Random(seed)
    ids = gen.zipf_ids(rng, {"all": sorted(ex.entities)}, 200, 1.1, 0.05, salt=str(seed))
    due = gen.poisson_schedule(rng, 200, 50.0)
    tables = {n: t.column(0).to_pylist() for n, t in gen.curation_tables(seed).items()}

    def h(obj) -> str:
        return hashlib.sha256(json.dumps(obj, default=str, sort_keys=True).encode()).hexdigest()

    return {
        "batches": h([(b.lines(), b.origin, b.seen, b.deletes, b.probes) for b in batches]),
        "waves": h([w.rows for w in waves]),
        "lookups": h([ids, due]),
        "tables": h(tables),
    }


def checks(seed: int) -> list[tuple[str, bool, str]]:
    a, b, c = fingerprint(seed), fingerprint(seed), fingerprint(seed + 1)
    out = []
    for kind in a:
        out.append((f"{kind}.same_seed_identical", a[kind] == b[kind], kind))
        out.append((f"{kind}.other_seed_differs", a[kind] != c[kind], kind))
    return out


if __name__ == "__main__":
    bad = [c for c in checks(int(sys.argv[1]) if len(sys.argv) > 1 else 1) if not c[1]]
    for name, _, _ in bad:
        print(f"FAIL {name}")
    print("ok" if not bad else f"{len(bad)} failed")
    sys.exit(1 if bad else 0)
