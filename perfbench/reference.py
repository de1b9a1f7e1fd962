"""Independent reference for the benchmark's results, in DuckDB.

Plug workloads: each rule is rendered as one `CASE` projection over the
previous rule's output (the sequential semantics of `SparkPlug.plug`). The
audit gate (condition AND some action changes its column, null-safe) appends
the rule's number to `plugDetails` and bumps a counter; the numbers become
audit records once, after the last rule. Rule chains are materialised every
`CHUNK` rules so DuckDB never plans a 500-deep subquery.

`pipeline_mix`: each query's `SparkEntry.oracleSql` text runs over views of
the same parquet tables, and its rows are compared with Spark's as
multisets, doubles to 9 significant digits.
"""

import json
import math
import os

import duckdb

CHUNK = 25
AUDIT_TYPE = "STRUCT(name VARCHAR, version VARCHAR, fieldNames VARCHAR[])[]"


def sql_str(s):
    return "'" + s.replace("'", "''") + "'"


def render_value(value, kind):
    """An action value as DuckDB SQL, with `RuleCompiler.coerceValue`'s rules:
    any backtick makes it raw SQL (backticks stripped), else a typed literal."""
    if "`" in value:
        return "(" + value.replace("`", "") + ")"
    if kind == "int":
        return f"CAST({int(value)} AS INTEGER)"
    if kind == "double":
        return f"CAST({float(value)!r} AS DOUBLE)"
    return sql_str(value)


def render_rule(rule, index, types, audit):
    """Rule number `index` as one projection over the previous state.

    `types` maps each action column to "int", "double" or "string". The audit
    trail is kept as the list of rule numbers whose gate fired; the records
    are built from it once, after the last rule."""
    cond = f"({rule['condition']})"
    values = [(a["key"], render_value(a["value"], types[a["key"]])) for a in rule["actions"]]
    changed = " OR ".join(f"({k} IS DISTINCT FROM {v})" for k, v in values)
    gate = f"COALESCE({cond} AND ({changed}), false)"
    # the last action on a column wins, as in the engine's fold
    last = dict(values)
    repl = [f"CASE WHEN {cond} THEN {v} ELSE {k} END AS {k}" for k, v in last.items()]
    repl.append(f"__nchg + CASE WHEN {gate} THEN 1 ELSE 0 END AS __nchg")
    repl.append(f"__hits + CASE WHEN {cond} THEN 1 ELSE 0 END AS __hits")
    if audit:
        repl.append(f"CASE WHEN {gate} THEN list_append(plugDetails, {index + 1}) "
                    f"ELSE plugDetails END AS plugDetails")
    return "SELECT * REPLACE (" + ", ".join(repl) + ")"


def audit_records(rules):
    """All rules' audit records as one DuckDB list literal."""
    return "[" + ", ".join(
        "{'name': " + sql_str(r["name"]) + ", 'version': " + sql_str(r["version"])
        + ", 'fieldNames': [" + ", ".join(sql_str(a["key"]) for a in r["actions"])
        + "]::VARCHAR[]}" for r in rules) + "]"


def plug_reference(con, input_path, rules, types, audit):
    """Create table `ref` holding the plugged rows, plus the counters
    `__nchg` (audit length) and `__hits` (conditions matched) per row."""
    extra = ", CAST([] AS INTEGER[]) AS plugDetails" if audit else ""
    con.execute(f"CREATE OR REPLACE TEMP TABLE ref AS SELECT *{extra}, "
                f"0 AS __nchg, 0 AS __hits FROM read_parquet({sql_str(input_path)})")
    for at in range(0, len(rules), CHUNK):
        ctes, prev = [], "ref"
        for i, rule in enumerate(rules[at:at + CHUNK]):
            ctes.append(f"t{i} AS ({render_rule(rule, at + i, types, audit)} FROM {prev})")
            prev = f"t{i}"
        con.execute(f"CREATE OR REPLACE TEMP TABLE ref AS WITH {', '.join(ctes)} SELECT * FROM {prev}")
    if audit:  # the records list is a column, so DuckDB builds it once, not per row
        con.execute(f"CREATE OR REPLACE TEMP TABLE recs AS SELECT {audit_records(rules)} AS r")
        con.execute(f"CREATE OR REPLACE TEMP TABLE ref AS SELECT ref.* REPLACE (CAST(list_transform("
                    f"plugDetails, i -> recs.r[i]) AS {AUDIT_TYPE}) AS plugDetails) FROM ref, recs")


def digest_sql(relation, columns):
    """Order-independent digest of `relation` over `columns` (name, SQL type)."""
    cols = ", ".join(f"CAST({c} AS {t})" for c, t in columns)
    return f"SELECT count(*), sum(hash({cols})::HUGEINT) FROM {relation}"


def plug_check(input_path, result_path, rules, types, audit):
    """Compare Spark's written result with the DuckDB reference.

    Returns (ok, facts): the digests, and the input properties measured on
    the reference (mean hit rate, mean audit length, changed rows)."""
    con = duckdb.connect()
    plug_reference(con, input_path, rules, types, audit)
    in_cols = con.execute(f"DESCRIBE SELECT * FROM read_parquet({sql_str(input_path)})").fetchall()
    columns = [(name, typ) for name, typ, *_ in in_cols]
    if audit:
        columns.append(("plugDetails", AUDIT_TYPE))
    got = con.execute(digest_sql(f"read_parquet({sql_str(result_path + '/*.parquet')})",
                                 columns)).fetchone()
    want = con.execute(digest_sql("ref", columns)).fetchone()
    rows, hits, nchg, changed = con.execute(
        "SELECT count(*), sum(__hits), sum(__nchg), count_if(__nchg > 0) FROM ref").fetchone()
    con.close()
    facts = {"rows": rows, "hit_rate_mean": hits / (rows * len(rules)),
             "audit_len_mean": nchg / rows, "audit_len_sum": nchg, "changed_rows": changed,
             "reference_digest": [str(x) for x in want], "result_digest": [str(x) for x in got]}
    return tuple(got) == tuple(want), facts


def canonical(v):
    if v is None:
        return None
    if isinstance(v, float):
        return v if math.isnan(v) or math.isinf(v) else float(f"{v:.9g}")
    if isinstance(v, (list, tuple)):
        return tuple(canonical(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, canonical(x)) for k, x in v.items()))
    return v


def rows_multiset(con, sql):
    """Rows of `sql` with columns in name order, canonicalised and sorted."""
    rel = con.sql(sql)
    names = rel.columns
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = [tuple(canonical(r[i]) for i in order) for r in rel.fetchall()]
    return [names[i] for i in order], sorted(rows, key=repr)


def mix_check(data_dir, result_dir, queries):
    """Per query: does Spark's written result equal its oracle SQL's rows?"""
    with open(os.path.join(result_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet({sql_str(os.path.join(data_dir, f))})")
    verdicts = {}
    for q in queries:
        try:
            got = rows_multiset(con, "SELECT * FROM read_parquet("
                                + sql_str(os.path.join(result_dir, q, "*.parquet")) + ")")
            want = rows_multiset(con, oracle[q])
            verdicts[q] = "ok" if got == want else (
                f"mismatch: {len(got[1])} rows vs oracle {len(want[1])}"
                if got[0] == want[0] else f"columns {got[0]} vs oracle {want[0]}")
        except Exception as e:  # noqa: BLE001 - every failure is a verdict
            verdicts[q] = f"error: {str(e)[:200]}"
    con.close()
    return verdicts
