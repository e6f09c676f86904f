"""Workload definitions: inputs made from the seed, and the metrics.

A workload is a list of rounds. Every round runs the same operations
("slots"); round 0 runs in the fresh session and the warm rounds repeat
it. The harness (src/graftbench) executes them and records one line per
operation; this module turns those lines into metrics.
"""
import json
import math
import os
import statistics

import check
import dml

TESTDATA = "/root/testdata"

# olap_sf01: 23 of the 75 headline queries (SparkEntry.headline), in one
# fixed order. Every headline query ran once cold and twice warm on 4
# cores (sf0.1); kept are those that stage nothing and took at most
# 450 ms warm, where DataFrame build, planning and per-job overhead are
# the largest share, plus the four without a DuckDB oracle (checked by
# property). Left out:
#  - the 20 TPC-DS, 5 ClickBench, hits_top_props, txt_phrase and
#    txt_fulltext queries: they stage data under fixed /tmp paths
#    (Tpcds.scala:38, ClickBench.scala:32, HitsQueries.scala:27,
#    TextQueries.scala:382,424) that two checkouts would share;
#  - 23 slower ones, for the run budget (4 + 22 x workloads runs in
#    3,420 s): all 46 that stage nothing took 39.9 s cold and 27 s warm a
#    pass, these 23 take 12.5 s and 8.7 s. README.md lists them.
OLAP = {
    "olap_sf01": {
        "data": f"{TESTDATA}/sf0.1",
        "queries": [
            "tpch_q2", "tpch_q6", "tpch_q10", "tpch_q12", "tpch_q13", "tpch_q14",
            "tpch_q17", "tpch_q19", "tpch_q22", "join_range_bands", "agg_basic",
            "win_topn_per_group", "srf_lateral_words", "evt_window_funnel",
            "txt_dedup_exact", "txt_quality", "txt_minhash_lsh", "vec_knn_brute",
            "vec_knn_lsh", "vec_knn_ivf", "vec_knn_hnsw", "hits_top_users",
            "geo_radius_join"],
    },
}

# seconds of one warm round on a 4-core reference machine
ROUND_S = {"olap_sf01": 10.0, "table_dml": 8.0}
ALL = set(ROUND_S)



def _pinned(data_dir, tables, cpus):
    """Fails the run unless every input table matches its recorded fingerprint."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "inputs.json")) as f:
        want = json.load(f)
    got = check.fingerprints(data_dir, tables, cpus)
    key = os.path.basename(data_dir)
    for t in tables:
        if want.get(key, {}).get(t) != got[t]:
            raise SystemExit(f"perfbench: input {data_dir}/{t}.parquet does not match "
                             f"its pinned fingerprint {want.get(key, {}).get(t)}: {got[t]}")


def rounds(name, seconds):
    """Round 0 plus the warm rounds that fill `seconds` on the reference
    machine. The count depends only on `seconds`, so every run, on any
    commit, does the same work and its medians are over the same rounds.
    """
    return 1 + max(1, math.ceil(seconds / ROUND_S[name]))


def prepare(name, seed, n_rounds, run_dir, cpus):
    if name in OLAP:
        w = OLAP[name]
        _pinned(w["data"], check.TABLES, cpus)
        # one fixed order: the seed does not reorder these queries, since
        # the order alone moved suite_s by 30% (3.5 s against 4.8 s)
        qs = list(w["queries"])
        with open(os.path.join(run_dir, "queries.txt"), "w") as f:
            f.write("\n".join(qs) + "\n")
        return {"name": name, "kind": "olap", "data": w["data"]}
    if name == "table_dml":
        data = f"{TESTDATA}/sf0.01"
        _pinned(data, ["orders", "lineitem", "customer"], cpus)
        stream = dml.generate(seed, data, n_rounds)
        spec = _statements(name, run_dir, stream.stmts)
        spec["replay"] = lambda: stream.replay(cpus)

        def end_checks(ops, run_dir_, errors, cpus_):
            wh = check.read_json(os.path.join(run_dir_, "summary.json"))["warehouse"]
            dml.end_checks(stream, ops, run_dir_, wh, errors, cpus_)
        spec["end_checks"] = end_checks
        return spec
    raise SystemExit(f"perfbench: no workload {name}")


def _statements(name, run_dir, stmts):
    with open(os.path.join(run_dir, "statements.jsonl"), "w") as f:
        for s in stmts:
            f.write(json.dumps({k: s[k] for k in ("id", "sql", "kind", "round", "cls", "phase")
                                if k in s}) + "\n")
    return {"name": name, "kind": "stmt", "statements": {s["id"]: s for s in stmts}}


def _rounds(spec, ops):
    """(the per-round records, the operations timed in rounds)"""
    rounds = [o for o in ops if o["op"] == "round"]
    work = [o for o in ops if o["op"] != "round" and o["pass"] >= 0]
    return rounds, work


def _slot(spec, o):
    return o["op"] if spec["kind"] == "olap" else spec["statements"][o["op"]]["slot"]


def _is_read(spec, o):
    return spec["kind"] == "olap" or o.get("cls") == "select"


def end_to_end(spec, ops, summary, setup_s):
    rounds, work = _rounds(spec, ops)
    first = [o["ms"] for o in work if o["pass"] == 0]
    warm = [o for o in work if o["pass"] > 0]
    by_slot = {}
    for o in warm:
        by_slot.setdefault(_slot(spec, o), []).append(o["ms"])
    read_slots = {_slot(spec, o) for o in warm if _is_read(spec, o)}
    reads = [statistics.median(by_slot[k]) for k in sorted(read_slots)]
    cpu = [r["cpu_s"] for r in rounds if r["pass"] > 0]

    def m(v, unit):
        return {"value": round(v, 6), "unit": unit}
    return {
        "setup_s": m(setup_s, "s"),
        "first_pass_s": m(sum(first) / 1000.0, "s"),
        "suite_s": m(sum(statistics.median(v) for v in by_slot.values()) / 1000.0, "s"),
        "query_gmean_ms": m(statistics.geometric_mean(reads), "ms"),
        "cpu_s": m(statistics.fmean(cpu), "s"),
        "retained_heap_mb": m(summary["retained_heap_mb"], "MB"),
    }


LAYER = {
    # name: (unit, how the per-operation values of warm rounds combine)
    "session_ms": ("ms", "summary"), "stage_ms": ("ms", "summary"),
    "index_build_ms": ("ms", "summary"),
    "build_ms": ("ms", "mean"), "build_jobs": ("count", "mean"),
    "optimize_ms": ("ms", "mean"), "plan_ms": ("ms", "mean"),
    "exec_ms": ("ms", "mean"), "jobs": ("count", "mean"), "stages": ("count", "mean"),
    "tasks": ("count", "mean"), "task_run_ms": ("ms", "mean"), "task_cpu_ms": ("ms", "mean"),
    "gc_ms": ("ms", "mean"), "shuffle_write_bytes": ("bytes", "mean"),
    "shuffle_read_bytes": ("bytes", "mean"), "spill_bytes": ("bytes", "mean"),
    "input_rows": ("count", "mean"), "input_bytes": ("bytes", "mean"),
    "rows_read_per_row_out": ("ratio", "mean"), "stage_skew": ("ratio", "max"),
    "aqe_replans": ("count", "mean"), "exchanges": ("count", "mean"), "smj": ("count", "mean"),
    "bhj": ("count", "mean"), "reused_exchanges": ("count", "mean"),
    "scan_files": ("count", "mean"), "persist_bytes": ("bytes", "max"),
    "head_ms": ("ms", "mean"), "head_jobs": ("count", "mean"), "head_job_ms": ("ms", "mean"),
    "session_tables": ("count", "max"),
    "files_added": ("count", "mean"), "files_removed": ("count", "mean"),
    "bytes_written": ("bytes", "mean"), "log_bytes": ("bytes", "mean"),
}


def storage(wh):
    """(live files, stored bytes, dead bytes) of the warehouse's tables."""
    live = stored = dead = 0
    for t in sorted(os.listdir(wh)) if wh and os.path.isdir(wh) else []:
        log = os.path.join(wh, t, "_graft_log")
        if not os.path.isdir(log):
            continue
        snaps = sorted(os.listdir(log))
        files = set(check.read_json(os.path.join(log, snaps[-1]))["files"]) if snaps else set()
        live += len(files)
        for d, _, fs in os.walk(os.path.join(wh, t)):
            for f in fs:
                size = os.path.getsize(os.path.join(d, f))
                stored += size
                rel = os.path.relpath(os.path.join(d, f), os.path.join(wh, t))
                if f.endswith(".parquet") and rel not in files:
                    dead += size
    return live, stored, dead


def layer_metrics(spec, ops, summary, run_dir):
    _, work = _rounds(spec, ops)
    warm = [o for o in work if o["pass"] > 0] or work
    out = {}
    for name, (unit, how) in LAYER.items():
        if how == "summary":
            v = float(summary.get(name, 0.0))
        else:
            vals = [o[name] for o in warm if o.get(name) is not None]
            v = (max(vals) if how == "max" else statistics.fmean(vals)) if vals else 0.0
        out[name] = {"value": round(v, 6), "unit": unit}
    for cls in ("insert", "mutate"):
        vals = [o["ms"] for o in warm if o.get("cls") == cls]
        out[f"{cls}_p50_ms"] = {"value": round(statistics.median(vals), 6) if vals else 0.0,
                                "unit": "ms"}
    live, stored, dead = storage(summary.get("warehouse"))
    out["live_files"] = {"value": live, "unit": "count"}
    out["stored_mb"] = {"value": round(stored / 2 ** 20, 6), "unit": "MB"}
    out["dead_bytes"] = {"value": dead, "unit": "bytes"}
    out["peak_rss_mb"] = {"value": summary["peak_rss_mb"], "unit": "MB"}
    # against the untraced suite_s, the tracing overhead
    out["traced_suite_s"] = end_to_end(spec, ops, summary, 0.0)["suite_s"]
    return out
