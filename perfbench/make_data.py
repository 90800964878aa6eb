#!/usr/bin/env python3
"""Build ``perfbench/data/``: the curation tables the benchmark samples.

    python3 perfbench/make_data.py <sf0.1 table directory>

The curation gates read the engine's sf0.1 test tables. The benchmark
must run from a bare checkout, so it carries a fixed snapshot of what
the timed gates read, and each run draws its seeded row sample and
permutation from that snapshot (``gen.curation_tables``):

- ``documents``: all rows and columns (the MinHash gate);
- ``orders``: the first quarter of the rows by ``o_orderkey``, with the
  two columns the PageRank gate reads (``o_orderkey``, ``o_custkey``);
- ``lineitem``: the rows of those orders, with ``l_orderkey`` and
  ``l_suppkey``.

The quarter keeps the trading graph at about 13.8k customers and 1k
suppliers (the full tables give 15k and 1k), at a fifth of the bytes.
Files are written with zstd, one row group each.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
ORDERS_SHARE = 0.25


def main(src: str) -> None:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def read(name, columns=None):
        return pq.read_table(os.path.join(src, f"{name}.parquet"), columns=columns)

    orders = read("orders", ["o_orderkey", "o_custkey"]).sort_by("o_orderkey")
    orders = orders.slice(0, int(len(orders) * ORDERS_SHARE))
    top = pc.max(orders["o_orderkey"]).as_py()
    lineitem = read("lineitem", ["l_orderkey", "l_suppkey"])
    lineitem = lineitem.filter(pc.less_equal(lineitem["l_orderkey"], top))
    tables = {
        "documents": read("documents").replace_schema_metadata(None),
        "orders": orders.replace_schema_metadata(None),
        "lineitem": lineitem.sort_by([("l_orderkey", "ascending")]).replace_schema_metadata(None),
    }
    os.makedirs(DATA, exist_ok=True)
    for name, t in tables.items():
        path = os.path.join(DATA, f"{name}.parquet")
        pq.write_table(t, path, compression="zstd", row_group_size=len(t))
        print(f"{name}: {len(t)} rows, {os.path.getsize(path)} bytes")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__.split("\n\n")[1].strip())
    main(sys.argv[1])
