#!/usr/bin/env python3
"""Seeded benchmark inputs.

The base tables in `perfbench/fixture/` are the sf0.001 TPC-H-ish star
schema plus the events, documents and embeddings tables. A seed picks

  * a bijective relabelling of each id domain the workloads partition on
    (user_id, doc_id, vec_id, order keys, customer keys) onto the same id
    set, applied consistently to every table that carries the domain;
  * the row order of every table.

It changes no row count, per-record length distribution, value or schema
(the events `ts` column keeps its stored unit).

Usage: python3 perfbench/fixture.py <dest> <seed>
"""
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = Path(__file__).resolve().parent / "fixture"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# id domain -> every (table, column) that holds it
ID_DOMAINS = {
    "user": [("events", "user_id")],
    "doc": [("documents", "doc_id")],
    "vec": [("embeddings", "vec_id")],
    "order": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "customer": [("customer", "c_custkey"), ("orders", "o_custkey")],
}


def relabelled(seed: int) -> dict:
    """The base tables with the seed's id relabelling and row orders."""
    rng = np.random.default_rng(seed)
    tables = {t: pq.read_table(BASE / f"{t}.parquet") for t in TABLES}
    for domain in sorted(ID_DOMAINS):
        cols = ID_DOMAINS[domain]
        ids = np.unique(np.concatenate(
            [tables[t].column(c).to_numpy() for t, c in cols]))
        image = rng.permutation(ids)
        for t, c in cols:
            tab = tables[t]
            col = tab.column(c)
            pos = pc.index_in(col, value_set=pa.array(ids, type=col.type))
            new = pa.array(image, type=col.type).take(pos)
            tables[t] = tab.set_column(tab.schema.get_field_index(c), tab.schema.field(c), new)
    for t in TABLES:
        tables[t] = tables[t].take(pa.array(rng.permutation(tables[t].num_rows)))
    return tables


def build(dest: Path, seed: int) -> Path:
    """Write the seed's fixture into `dest`."""
    dest = Path(dest)
    dest.mkdir(parents=True, exist_ok=True)
    for t, tab in relabelled(seed).items():
        pq.write_table(tab, dest / f"{t}.parquet")
    return dest


if __name__ == "__main__":
    build(Path(sys.argv[1]), int(sys.argv[2]))
