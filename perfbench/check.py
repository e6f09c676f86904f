"""Checks of the engine's outputs, computed apart from the engine.

- olap: each query's first-pass rows against its DuckDB oracle
  (perfbench/oracle/<query>.sql over the same parquet files), or against
  properties recomputed from the inputs; every warm pass must return the
  first pass's result (same digest).
- statements: table_dml's query results against a DuckDB replay of the
  same stream (dml.py).

An operation that throws counts in `failed`; a wrong result makes
`correct` false. Nothing is dropped from `attempted`.
"""
import json
import os

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def connect(cpus):
    con = duckdb.connect()
    con.execute(f"SET threads = {max(1, cpus)}")
    return con


def fingerprints(data_dir, tables, cpus):
    """{table: [row count, content hash]} of <data_dir>/<table>.parquet"""
    con = connect(cpus)
    out = {}
    for t in tables:
        src = f"read_parquet('{data_dir}/{t}.parquet')"
        cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]
        hcols = ", ".join(f'"{c}"' for c in cols)
        n, h = con.execute(f"SELECT count(*), sum(hash({hcols}))::HUGEINT::VARCHAR "
                           f"FROM {src}").fetchone()
        out[t] = [n, h]
    con.close()
    return out


# ---- result values -------------------------------------------------------

DAY_US = 86_400_000_000


def canon(v):
    """One cell as a hashable value both sides agree on. A date is its
    midnight timestamp, as the repo's own oracle check (scripts/check.py)
    compares them: DuckDB's date_trunc('day', ts) is a DATE, Spark's a
    TIMESTAMP."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, float):
        return v
    if isinstance(v, str):
        if v in ("NaN", "Infinity", "-Infinity"):
            return float(v)
        return v
    if isinstance(v, dict):
        if set(v) == {"ts"}:
            return ("ts", v["ts"])
        if set(v) == {"date"}:
            return ("ts", v["date"] * DAY_US)
        return tuple(canon(x) for x in v.values())
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    import datetime
    import decimal
    if isinstance(v, decimal.Decimal):
        return float(v) if v != v.to_integral_value() else int(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - datetime.datetime(1970, 1, 1)
        return ("ts", (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds)
    if isinstance(v, datetime.date):
        return ("ts", (v - datetime.date(1970, 1, 1)).days * DAY_US)
    if hasattr(v, "item"):
        return canon(v.item())
    return str(v)


def canon_num(v):
    """Numbers compare by value: 2 == 2.0, BIGINT sums equal DECIMAL sums."""
    if isinstance(v, bool) or not isinstance(v, (int, float)):
        return tuple(canon_num(x) for x in v) if isinstance(v, tuple) else v
    if isinstance(v, float) and v.is_integer() and abs(v) < 2 ** 53:
        return int(v)
    return v


def rows_key(rows):
    return sorted((tuple(canon_num(canon(c)) for c in r) for r in rows), key=repr)


def compare_rows(got, exp):
    """None when the multisets of rows are equal, else a description."""
    if len(got) != len(exp):
        return f"row count {len(got)} != expected {len(exp)}"
    g, e = rows_key(got), rows_key(exp)
    for i, (a, b) in enumerate(zip(g, e)):
        if a != b:
            return f"row {i}: got {a!r} expected {b!r}"
    return None


# ---- olap ---------------------------------------------------------------

def oracle_rows(con, name, data_dir):
    with open(os.path.join(HERE, "oracle", f"{name}.sql")) as f:
        return con.execute(f.read().replace("{data}", data_dir)).fetchall()


def read_json(path):
    with open(path) as f:
        return json.load(f)


def check_olap(spec, ops, run_dir, cpus, errors):
    import properties
    con = connect(cpus)
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{spec['data']}/{t}.parquet')")
    first = {}
    for o in ops:
        if o["op"] == "round" or not o["ok"]:
            continue
        d = first.setdefault(o["op"], o["digest"])
        if d != o["digest"]:
            errors.append(f"{o['op']} pass {o['pass']}: result differs from the first pass")
    for name in first:
        got = read_json(os.path.join(run_dir, "out", f"{name}.json"))
        if name in properties.CHECKS:
            for msg in properties.CHECKS[name](con, got):
                errors.append(f"{name}: {msg}")
            continue
        exp = oracle_rows(con, name, spec["data"])
        msg = compare_rows(got, exp)
        if msg:
            errors.append(f"{name}: {msg}")
    con.close()


# ---- statements -----------------------------------------------------------

def stmt_class(sql):
    w = sql.lstrip("( \n").split(None, 1)[0].lower() if sql.strip() else ""
    if w in ("select", "with", "values", "show", "describe", "desc", "explain"):
        return "select"
    if w == "insert":
        return "insert"
    if w in ("update", "delete", "merge", "optimize", "replace"):
        return "mutate"
    return "ddl"


def check_statements(spec, ops, run_dir, errors):
    for o in ops:
        if o["op"] == "round" or not o["ok"]:
            continue
        s = spec["statements"][o["op"]]
        if s["kind"] != "query" or s.get("final"):
            continue  # an end-state read: the workload's end checks compare it
        got = read_json(os.path.join(run_dir, "out", f"{o['op']}.json"))
        msg = compare_rows(got, s["expected_rows"])
        if msg:
            errors.append(f"{o['op']}: {msg}")


def check(spec, ops, run_dir, cpus):
    """Operations that failed, and what is wrong with the others' results."""
    work = [o for o in ops if o["op"] != "round"]
    failed = [o for o in work if not o["ok"]]
    errors = []
    if spec["kind"] == "olap":
        check_olap(spec, ops, run_dir, cpus, errors)
    else:
        check_statements(spec, ops, run_dir, errors)
        if spec.get("end_checks"):
            spec["end_checks"](ops, run_dir, errors, cpus)
    return {"correct": not errors, "attempted": len(work), "failed": len(failed),
            "errors": [f"{o['op']} (round {o['pass']}) failed: {o.get('error', '')[:200]}"
                       for o in failed] + errors}
