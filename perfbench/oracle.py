"""DuckDB oracle check for the catalog_cdc outputs.

Each query's Spark output (parquet, written in the cold pass) is compared
with its oracle SQL run by DuckDB over the same tables: columns sorted by
name, rows sorted, floats canonicalized to %.10g. Queries without oracle
SQL get a rows-only check (non-empty output). The timed pass's row count
must also equal the written output's.
"""
import glob
import json
import os

import duckdb


def _canon(v):
    if isinstance(v, float):
        return "%.10g" % v
    if v is None:
        return "<null>"
    return str(v)


def _rowset(con, sql):
    rel = con.sql(sql)
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(tuple(_canon(r[i]) for i in order) for r in rel.fetchall())
    return [cols[i] for i in order], rows


def check(data_dir, out_dir, counts):
    """Yield (query, error message or None) for every written output."""
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    for q in sorted(counts):
        files = glob.glob(os.path.join(out_dir, q, "*.parquet"))
        if not files:
            yield q, "no output written"
            continue
        try:
            got_cols, got = _rowset(con, f"SELECT * FROM read_parquet('{out_dir}/{q}/*.parquet')")
            if len(got) != counts[q]:
                yield q, f"timed count {counts[q]} != {len(got)} rows written"
            elif q not in oracle:
                yield q, None if got else "empty output (rows-only check)"
            else:
                want_cols, want = _rowset(con, oracle[q])
                if got_cols != want_cols:
                    yield q, f"columns differ: spark={got_cols} duckdb={want_cols}"
                elif got != want:
                    bad = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b), min(len(got), len(want)))
                    yield q, (f"{len(got)} vs {len(want)} rows; first difference at row {bad}: "
                              f"spark={got[bad] if bad < len(got) else None} "
                              f"duckdb={want[bad] if bad < len(want) else None}")
                else:
                    yield q, None
        except Exception as e:  # an oracle that cannot run is a failed check
            yield q, f"{type(e).__name__}: {e}"
