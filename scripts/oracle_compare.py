#!/usr/bin/env python3
"""Compare a `graft.Verify` dump with its DuckDB oracles, the way the
correctness gate does.

    python3 scripts/oracle_compare.py <sfDir> <verifyOutDir>

`sfDir` holds the input tables (`<table>.parquet`); `verifyOutDir` is what
`graft.Verify <sfDir> <verifyOutDir>` wrote: one parquet dir per query and
`oracle_sql.json`. Each table becomes one DuckDB view, and each oracle runs
over those views. A query matches when:

- its result has the same column names as the oracle;
- every column has the same DuckDB type (`DESCRIBE`): an INTEGER against a
  BIGINT fails even when the values agree. A DECIMAL column counts as a
  DOUBLE, because the gate reads both as 64-bit floats (it passes, e.g.,
  `dedup_threshold_sweep`'s DOUBLE `threshold` against a DECIMAL literal);
- with columns in name order and rows sorted by all columns, the values are
  exactly equal.

Prints one line per query that does not match, then `N/M match`. Exits 0 only
when every oracle matches.

DuckDB runs with a 4 GB memory limit and spills to a temporary directory. An
oracle that runs out of memory is run once more with every `name AS (` CTE
marked `AS MATERIALIZED`: DuckDB inlines a CTE at each reference, so a deep
unrolled chain (the `sim_hnsw_*` beam rounds) otherwise grows exponentially.
The queries that needed this are listed, and the rows are the same ones.
"""

import json
import math
import os
import re
import shutil
import sys
import tempfile

import duckdb


def sql_str(s):
    return "'" + s.replace("'", "''") + "'"


def parquet_source(path):
    return sql_str(os.path.join(path, "*.parquet") if os.path.isdir(path) else path)


def described(con, sql):
    """{column: DuckDB type} of `sql`'s result, DECIMAL read as DOUBLE."""
    return {r[0]: "DOUBLE" if r[1].startswith("DECIMAL") else r[1]
            for r in con.execute(f"DESCRIBE {sql}").fetchall()}


def sorted_rows(con, sql, types):
    """Rows of `sql`, columns in name order as `types` gives them, sorted
    by all columns."""
    cols = ", ".join('CAST("{0}" AS {1}) AS "{0}"'.format(c.replace('"', '""'), types[c])
                     for c in sorted(types))
    return con.execute(f"SELECT {cols} FROM ({sql}) ORDER BY ALL").fetchall()


CTE = re.compile(r"(^|\n|,\s*|WITH\s+)(\w+) AS \(")


def materialized(sql):
    """`sql` with every `name AS (` CTE marked AS MATERIALIZED."""
    return CTE.sub(lambda m: f"{m.group(1)}{m.group(2)} AS MATERIALIZED (", sql)


def same_value(a, b):
    if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
        return True
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(same_value(x, y) for x, y in zip(a, b))
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(same_value(a[k], b[k]) for k in a)
    return type(a) is type(b) and a == b


def compare(con, out_dir, name, oracle):
    """None when `name` matches its oracle, else the reason it does not."""
    result_dir = os.path.join(out_dir, name)
    if not os.path.isdir(result_dir):
        return "no result (the query failed in Verify)"
    got_sql = f"SELECT * FROM read_parquet({parquet_source(result_dir)})"
    got_types, want_types = described(con, got_sql), described(con, oracle)
    if sorted(got_types) != sorted(want_types):
        return f"columns {sorted(got_types)} vs oracle {sorted(want_types)}"
    drift = [f"{c}: {got_types[c]} vs {want_types[c]}"
             for c in sorted(got_types) if got_types[c] != want_types[c]]
    if drift:
        return "types " + "; ".join(drift)
    got, want = sorted_rows(con, got_sql, got_types), sorted_rows(con, oracle, got_types)
    if len(got) != len(want):
        return f"{len(got)} rows vs oracle {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if not same_value(tuple(g), tuple(w)):
            return f"row {i} differs: {g!r} vs oracle {w!r}"[:400]
    return None


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__.split("\n\n")[1])
    sf_dir, out_dir = argv[1], argv[2]
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    spill = tempfile.mkdtemp(prefix="oracle_compare_")
    con = duckdb.connect(config={"memory_limit": "4GB", "temp_directory": spill})
    for entry in sorted(os.listdir(sf_dir)):
        if entry.endswith(".parquet"):
            con.execute(f'CREATE VIEW "{entry[:-len(".parquet")]}" AS SELECT * FROM '
                        f"read_parquet({parquet_source(os.path.join(sf_dir, entry))})")
    bad, retried = 0, []
    for name in sorted(oracles):
        try:
            try:
                why = compare(con, out_dir, name, oracles[name])
            except duckdb.OutOfMemoryException:
                retried.append(name)
                why = compare(con, out_dir, name, materialized(oracles[name]))
        except duckdb.Error as e:
            why = f"error: {str(e).splitlines()[0][:300]}"
        if why:
            bad += 1
            print(f"MISMATCH {name}: {why}", flush=True)
    con.close()
    shutil.rmtree(spill, ignore_errors=True)
    if retried:
        print(f"re-run with materialized CTEs after running out of memory: {', '.join(retried)}")
    print(f"{len(oracles) - bad}/{len(oracles)} match")
    return 0 if bad == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
