#!/usr/bin/env python3
"""Single-node baseline timings for BASELINE.md.

The reference (tabata) is a pandas-per-record library that cannot run in
this container (no scipy/sklearn), so the baseline is DuckDB — a fast
native single-node OLAP engine — executing the EXACT oracle SQL of every
oracle-backed query at the given scale factor. Where the semantics are
pandas-expressible without scipy, a pandas timing is recorded too, to
represent the reference's actual execution style.

Pass symmetry contract (BASELINE.md): each engine's published number is
min over 2 sessions x min-of-2 passes = 4 passes. For DuckDB that means
running THIS script twice (each invocation is one session, time_one
repeat=2); for graft, running `graft.Bench` twice with
SPARK_GRAFT_BENCH_RUNS=2.

Usage: python3 tools/baseline.py <sfdir> <oracle_sql.json> [out.md]
"""
import sys, json, time, os
import duckdb
import pandas as pd

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def time_one(fn, repeat=2):
    best = float("inf")
    for _ in range(repeat):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


def pandas_baselines(sfdir):
    """Reference-style (pandas) timings for the scipy-free operators."""
    out = {}
    docs = pd.read_parquet(f"{sfdir}/documents.parquet")
    ev = pd.read_parquet(f"{sfdir}/events.parquet")

    def opset_get():
        df = ev.sort_values(["user_id", "ts", "event_id"])
        _ = df[df.user_id == 1]

    def dedup_exact():
        g = docs.sort_values("doc_id").groupby("text", sort=False)
        first = g.head(1)
        counts = g.size().rename("dup_count")
        _ = first.merge(counts, left_on="text", right_index=True)

    def text_tokens():
        _ = docs.text.str.strip().str.split().str.len()

    def text_quality():
        t = docs.text
        _ = (t.str.len(), t.str.count("[.,;:!?]"), t.str.count("[0-9]"),
             t.str.lower().str.count(r"\b(the|a|and|of|to|is|in|that|it|for)\b"))

    def plot_melt():
        li = pd.read_parquet(f"{sfdir}/lineitem.parquet",
                             columns=["l_orderkey", "l_linenumber", "l_quantity",
                                      "l_extendedprice", "l_discount", "l_tax"])
        _ = li.melt(id_vars=["l_orderkey", "l_linenumber"])

    for name, fn in [("opset_get", opset_get), ("dedup_exact", dedup_exact),
                     ("text_tokens", text_tokens), ("text_quality", text_quality),
                     ("plot_byunit~melt", plot_melt)]:
        try:
            out[name] = time_one(fn)
        except Exception as e:  # noqa
            out[name] = f"err {e}"
    return out


def main():
    sfdir, oracle_path = sys.argv[1], sys.argv[2]
    out_md = sys.argv[3] if len(sys.argv) > 3 else None
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(oracle_path))
    duck = {}
    for name, sql in sorted(oracles.items()):
        try:
            duck[name] = time_one(lambda: con.execute(sql).fetchall())
        except Exception as e:
            duck[name] = f"err {str(e)[:80]}"
    pdb = pandas_baselines(sfdir)
    result = {"sf": sfdir, "duckdb": duck, "pandas": pdb}
    print(json.dumps(result))
    if out_md:
        lines = [
            "# BASELINE — single-node reference timings",
            "",
            f"Scale factor dir: `{sfdir}`. DuckDB (all cores) executes the",
            "exact oracle SQL of each oracle-backed query — the same",
            "semantics the Spark engine computes — as the native single-node",
            "baseline (the reference itself is pandas+scipy and cannot run",
            "in this container; pandas timings are given where the operator",
            "is expressible without scipy).",
            "",
            "| query | duckdb_sec | pandas_sec |",
            "| --- | --- | --- |",
        ]
        for name in sorted(duck):
            d = duck[name]
            dstr = f"{d:.3f}" if isinstance(d, float) else d
            p = pdb.get(name, "")
            pstr = f"{p:.3f}" if isinstance(p, float) else p
            lines.append(f"| {name} | {dstr} | {pstr} |")
        for name in sorted(set(pdb) - set(duck)):
            p = pdb[name]
            pstr = f"{p:.3f}" if isinstance(p, float) else p
            lines.append(f"| {name} | | {pstr} |")
        open(out_md, "w").write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
