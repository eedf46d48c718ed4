"""Answer checks that run outside the JVM, and the metric list."""
import json
import math
import os

# the tables gen.py writes
TABLES = ("orders", "lineitem", "part", "documents", "embeddings")


def metric_names(benchmark_json, trace):
    with open(benchmark_json) as fh:
        b = json.load(fh)
    return [m["name"] for m in b["per_layer" if trace else "end_to_end"]]


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def canonical(rel):
    """Columns sorted by name with their types, rows sorted, values exact."""
    cols, types, rows = rel.columns, [str(t) for t in rel.types], rel.fetchall()
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return ([(cols[i], types[i]) for i in order],
            sorted(tuple(_norm(r[i]) for i in order) for r in rows))


def corpus_build(rec, data_dir, run_dir):
    """Every query of every build must equal its DuckDB oracle over the
    same generated tables: same columns, same types, same rows, bit for bit."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    with open(os.path.join(run_dir, "build.json")) as fh:
        build = json.load(fh)
    for q, sql in build["oracles"].items():
        try:
            want = canonical(con.sql(sql))
        except Exception as e:  # a failed oracle fails every build's answer
            want = e
        for results in build["results"]:
            rec["attempted"] += 1
            try:
                if isinstance(want, Exception):
                    raise want
                got = canonical(con.sql(f"SELECT * FROM '{results}/{q}/*.parquet'"))
                ok = got == want
                why = (f"columns/types {got[0]} != {want[0]}" if got[0] != want[0] else
                       f"{len(got[1])} rows, oracle has {len(want[1])}"
                       if len(got[1]) != len(want[1]) else "rows differ from the oracle's")
            except Exception as e:  # a failed oracle or unreadable result
                ok, why = False, f"{type(e).__name__}: {e}"
            if not ok:
                rec["failed"] += 1
                rec["errors"].append(f"{q} ({os.path.basename(os.path.dirname(results))}): {why}")
