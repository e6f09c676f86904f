"""table_dml: a seeded SQL stream over three tables, and its DuckDB replay.

The stream is generated here from the seed; the engine receives only the
statement text (through GraftSql.execute). After the engine has exited,
`Stream.replay` applies every statement to a DuckDB copy of the tables,
which gives the expected rows of each query and the expected state of
each table after each statement; no DuckDB work falls in a timed phase.

A round has the same slots every time, with seeded values: single-row
INSERTs, one INSERT ... SELECT, one UPDATE, one DELETE, one MERGE INTO,
one OPTIMIZE TABLE ... COMPACT (on the tables in turn), and SELECTs
between the writes: a point lookup, a grouped aggregate, a time-travel
read AT the round's first snapshot, and a CHANGES read since then.
"""
import json
import os
import random

import check

TABLES = {
    # name: load query over the sf0.01 parquet files ({src}<table>{end})
    "ta": "SELECT o_orderkey AS k, CAST(o_custkey % 50 AS INT) AS g, "
          "CAST(round(o_totalprice * 100) AS BIGINT) AS v, o_orderpriority AS s "
          "FROM {src}orders{end}",
    "tb": "SELECT l_orderkey * 10 + l_linenumber AS k, CAST(l_partkey % 40 AS INT) AS g, "
          "CAST(round(l_extendedprice * 100) AS BIGINT) AS v, l_returnflag AS s "
          "FROM {src}lineitem{end} WHERE l_orderkey % 3 = 0",
    "tc": "SELECT c_custkey AS k, CAST(c_nationkey AS INT) AS g, "
          "CAST(round(c_acctbal * 100) AS BIGINT) AS v, c_mktsegment AS s "
          "FROM {src}customer{end}",
}
INSERTS_PER_ROUND = 2
NEW_KEY_BASE = 10 ** 12


class Stream:
    def __init__(self, seed, data_dir):
        self.rnd = random.Random(seed)
        self.data = data_dir
        self.db = None        # the DuckDB replay, made by replay()
        self.version = {}     # table -> current snapshot version
        self.commits = {}     # table -> [statement id of each committed version]
        self.stmts = []
        self.next_key = NEW_KEY_BASE

    # -- bookkeeping ----------------------------------------------------------

    @staticmethod
    def snap(t, v):
        """The replay's copy of table t at snapshot v."""
        return f"snap_{t}_{v}"

    def state(self, t, v):
        """The replay's rows of table t at snapshot v."""
        return self.db.execute(f"SELECT k, g, v, s FROM {self.snap(t, v)}").fetchall()

    def add(self, sql, cls, rnd=None, table=None, duck=None, query=None, phase=None):
        """One statement; `duck` is its replay, `query` its expected rows."""
        sid = f"s{len(self.stmts)}"
        s = {"id": sid, "sql": sql, "kind": "query" if query else "statement", "cls": cls,
             "duck": [duck] if isinstance(duck, str) else list(duck or [])}
        if rnd is not None:
            s["round"] = rnd
            s["slot"] = f"{cls}-{sum(1 for x in self.stmts if x.get('round') == rnd)}"
        if phase:
            s["phase"] = phase
        if query:
            s["oracle"] = query
        if table:
            self.version[table] = self.version.get(table, -1) + 1
            self.commits.setdefault(table, []).append(sid)
            s["commit"] = (table, self.version[table])
        self.stmts.append(s)
        return s

    def replay(self, cpus):
        """Applies the stream to DuckDB, in order: each query's expected
        rows, and a copy of each table after each of its commits."""
        self.db = check.connect(cpus)
        for s in self.stmts:
            for d in s["duck"]:
                self.db.execute(d)
            if "oracle" in s:
                s["expected_rows"] = self.db.execute(s["oracle"]).fetchall()
            if "commit" in s:
                t, v = s["commit"]
                self.db.execute(f"CREATE TABLE {self.snap(t, v)} AS SELECT * FROM {t}")

    # -- the stream -----------------------------------------------------------

    def load(self):
        for t, q in TABLES.items():
            eng = q.format(src=f"parquet.`{self.data}/", end=".parquet`")
            duck = q.format(src=f"read_parquet('{self.data}/", end=".parquet')")
            self.add(f"CREATE TABLE {t} AS {eng}", "ddl", table=t, phase="load",
                     duck=f"CREATE TABLE {t} AS {duck}")

    def round(self, r):
        rnd = self.rnd
        start = dict(self.version)
        for i in range(INSERTS_PER_ROUND):
            t = "ta" if i % 2 == 0 else "tb"
            k, g, v = self.next_key, rnd.randrange(50), rnd.randrange(10 ** 7)
            self.next_key += 1
            sql = f"INSERT INTO {t} VALUES ({k}, {g}, {v}, 'n{r}')"
            self.add(sql, "insert", r, table=t, duck=sql)
            if i == 1:
                pk = rnd.choice([k, rnd.randrange(1, 60000)])
                q = f"SELECT k, g, v, s FROM ta WHERE k = {pk}"
                self.add(q, "select", r, query=q)
        m = rnd.randrange(97)
        sql = (f"INSERT INTO ta SELECT k + {self.next_key}, g, v, s FROM tb "
               f"WHERE k % 97 = {m}")
        self.next_key += 10 ** 7
        self.add(sql, "insert", r, table="ta", duck=sql)
        q = "SELECT g, count(*) AS n, sum(v) AS sv FROM tb GROUP BY g"
        self.add(q, "select", r, query=q)
        g, d = rnd.randrange(50), rnd.randrange(1, 1000)
        sql = f"UPDATE ta SET v = v + {d} WHERE g = {g}"
        self.add(sql, "mutate", r, table="ta", duck=sql)
        m = rnd.randrange(53)
        sql = f"DELETE FROM tb WHERE k % 53 = {m} AND g < 20"
        self.add(sql, "mutate", r, table="tb", duck=sql)
        g = rnd.randrange(25)
        src = f"SELECT DISTINCT c_custkey AS k, {g} AS g, {r} AS v, 'merged' AS s " \
              f"FROM {{src}}customer{{end}} WHERE c_custkey % 25 = {g}"
        eng_src = src.format(src=f"parquet.`{self.data}/", end=".parquet`")
        duck_src = src.format(src=f"read_parquet('{self.data}/", end=".parquet')")
        sql = (f"MERGE INTO tc USING ({eng_src}) AS m ON tc.k = m.k + {r * 1000} "
               f"WHEN MATCHED THEN UPDATE SET v = m.v "
               f"WHEN NOT MATCHED THEN INSERT (k, g, v, s) VALUES (m.k + {r * 1000}, m.g, m.v, m.s)")
        self.add(sql, "mutate", r, table="tc", duck=[
            f"UPDATE tc SET v = m.v FROM ({duck_src}) AS m WHERE tc.k = m.k + {r * 1000}",
            f"INSERT INTO tc SELECT m.k + {r * 1000}, m.g, m.v, m.s FROM ({duck_src}) AS m "
            f"WHERE NOT EXISTS (SELECT 1 FROM tc WHERE tc.k = m.k + {r * 1000})"])
        t = list(TABLES)[r % len(TABLES)]
        self.add(f"OPTIMIZE TABLE {t} COMPACT", "mutate", r, table=t)
        v0 = start["ta"]
        q = "SELECT g, count(*) AS n, sum(v) AS sv FROM {t} GROUP BY g"
        self.add(q.format(t=f"ta AT (SNAPSHOT => {v0})"), "select", r,
                 query=q.format(t=self.snap("ta", v0)))
        a, b = start["tb"], self.version["tb"]
        q = (f"SELECT `change$action` AS action, count(*) AS n, sum(v) AS sv FROM tb "
             f"CHANGES (INFORMATION => DEFAULT) AT (SNAPSHOT => {a}) END (SNAPSHOT => {b}) "
             f"GROUP BY 1")
        old, new = self.snap("tb", a), self.snap("tb", b)
        self.add(q, "select", r, query=(
            f"SELECT 'INSERT' AS action, count(*), sum(v) FROM "
            f"(SELECT * FROM {new} EXCEPT ALL SELECT * FROM {old}) HAVING count(*) > 0 "
            f"UNION ALL SELECT 'DELETE', count(*), sum(v) FROM "
            f"(SELECT * FROM {old} EXCEPT ALL SELECT * FROM {new}) HAVING count(*) > 0"))
        q = "SELECT count(*) AS n, sum(v) AS sv FROM tc"
        self.add(q, "select", r, query=q)

    def final(self):
        """Untimed end-state reads, one per table; end_checks compares them."""
        for t in TABLES:
            s = self.add(f"SELECT k, g, v, s FROM {t}", "select")
            s["kind"], s["final"] = "query", t


def generate(seed, data_dir, rounds):
    s = Stream(seed, data_dir)
    s.load()
    for r in range(rounds):
        s.round(r)
    s.final()
    return s


def end_checks(stream, ops, run_dir, wh, errors, cpus):
    """Storage-level checks on the warehouse the run left behind."""
    done = {o["op"] for o in ops if o.get("ok")}
    con = check.connect(cpus)
    for t in TABLES:
        log = os.path.join(wh, t, "_graft_log")
        if not os.path.isdir(log):
            errors.append(f"{t}: no snapshot log at {log}")
            continue
        versions = sorted(int(f[:-5]) for f in os.listdir(log) if f.endswith(".json"))
        committed = [sid for sid in stream.commits[t] if sid in done]
        if versions != list(range(len(committed))):
            errors.append(f"{t}: snapshot versions {versions[:3]}..{versions[-3:]} "
                          f"({len(versions)}) != one per committed statement ({len(committed)})")
            continue

        def read(v):
            with open(os.path.join(log, f"{v:08d}.json")) as f:
                files = [os.path.join(wh, t, p) for p in json.load(f)["files"]]
            if not files:
                return []
            lst = ", ".join(f"'{p}'" for p in files)
            return con.execute(f"SELECT k, g, v, s FROM read_parquet([{lst}])").fetchall()

        last = versions[-1]
        exp = stream.state(t, last)
        # live rows = rows inserted - rows deleted, as the replay counted them
        final = [s for s in stream.stmts if s.get("final") == t][0]
        if final["id"] in done:
            got = check.read_json(os.path.join(run_dir, "out", f"{final['id']}.json"))
            msg = check.compare_rows(got, exp)
            if msg:
                errors.append(f"{t}: SELECT * after the stream: {msg}")
        # every recorded version, read from the log by DuckDB alone
        for v in versions:
            msg = check.compare_rows(read(v), stream.state(t, v))
            if msg:
                errors.append(f"{t} snapshot {v} read apart from the engine: {msg}")
    con.close()
