"""Correctness checks of a benchmark run, computed with DuckDB apart from the
program.

Every comparison goes through the project's `scripts/local_check.py`, which
runs an oracle SQL over the input parquet tables and compares it cell by cell
(exact, float bits included) with a Spark output directory. This module only
lays out those directories and oracle files and reads back the verdicts.
"""
import contextlib
import importlib.util
import io
import json
import os
import re
import shutil
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
LOCAL_CHECK = os.path.join(os.path.dirname(HERE), "scripts", "local_check.py")


def _local_check_module():
    spec = importlib.util.spec_from_file_location("local_check", LOCAL_CHECK)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def local_check(out_dir, data_dir, oracles):
    """Run local_check.py on `out_dir` against `data_dir`; {name: error or None}."""
    with open(os.path.join(out_dir, "oracle_sql.json"), "w") as f:
        json.dump(oracles, f)
    buf = io.StringIO()
    argv = sys.argv
    sys.argv = [LOCAL_CHECK, out_dir, data_dir]
    try:
        with contextlib.redirect_stdout(buf):
            _local_check_module().main()
    except SystemExit:
        pass
    finally:
        sys.argv = argv
    verdict = {}
    for line in buf.getvalue().splitlines():
        m = re.match(r"(PASS|FAIL) (\S+?):? (.*)", line)
        if m:
            verdict[m.group(2)] = None if m.group(1) == "PASS" else m.group(3)
    for name in oracles:
        verdict.setdefault(name, "no verdict: " + buf.getvalue()[-300:])
    return verdict


def materialize(data_dir, wh, out_dir, tables):
    """Copy each warehouse table, read by DuckDB straight from its parquet
    files (hive partition columns included), into `out_dir`/<name> as one flat
    file, keeping the columns its oracle returns. `tables` maps a name to
    (path glob under the warehouse, oracle SQL)."""
    con = duckdb.connect()
    for t in _local_check_module().TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    for name, (glob, sql) in tables.items():
        cols = [d[0] for d in con.execute(f"SELECT * FROM ({sql}) t LIMIT 0").description]
        os.makedirs(os.path.join(out_dir, name), exist_ok=True)
        con.execute(f"""COPY (SELECT {", ".join(cols)}
                        FROM read_parquet('{wh}/{glob}', hive_partitioning = true))
                        TO '{out_dir}/{name}/data.parquet' (FORMAT parquet)""")
    con.close()


def apply_updates(data_dir, updates, out_dir):
    """Copy of the input tables with the landed status transitions applied to
    orders, last write wins (a key moves at most once per run)."""
    os.makedirs(out_dir, exist_ok=True)
    for f in os.listdir(data_dir):
        if f.endswith(".parquet") and f != "orders.parquet":
            shutil.copy(os.path.join(data_dir, f), os.path.join(out_dir, f))
    con = duckdb.connect()
    files = ", ".join(f"'{u}'" for u in updates)
    con.execute(f"""
        COPY (
          WITH u AS (
            SELECT o_orderkey, o_orderstatus FROM (
              SELECT *, row_number() OVER (PARTITION BY o_orderkey
                                          ORDER BY filename DESC) AS rn
              FROM read_parquet([{files}], filename = true)) WHERE rn = 1)
          SELECT o.o_orderkey, o.o_custkey,
                 coalesce(u.o_orderstatus, o.o_orderstatus) AS o_orderstatus,
                 o.o_totalprice, o.o_orderdate, o.o_orderpriority
          FROM '{data_dir}/orders.parquet' o LEFT JOIN u USING (o_orderkey)
          ORDER BY o.o_orderkey
        ) TO '{out_dir}/orders.parquet' (FORMAT parquet)""")
    con.close()


def check_medallion(res, data_dir, work, batches):
    """Failures of the medallion workload as {operation: reason}."""
    fails = {}
    for st in res["stages"]:
        if st["status"] != "success":
            fails[f"stage {st['name']}"] = f"{st['status']}: {st['error']}"
    oracle = res["oracle_sql"]
    enrich, revenue = oracle["q_enrich_orders"], oracle["q_revenue_daily"]
    wh = os.path.join(work, "warehouse")
    base = int(res["base_version"])
    # gold revenue_daily is checked once, after the CDC batches: untouched
    # dates still hold what the build wrote, touched ones the refresh
    build = {
        "silver_orders": (f"silver/orders_enriched/v={base}/*/*.parquet", enrich),
        "fraud_summary_counts": ("gold/fraud_summary/*/*.parquet",
                                 "SELECT CAST(ts AS DATE) AS event_date, "
                                 "count(*) AS total_events FROM events GROUP BY 1"),
        "fraud_scores_keys": ("gold/fraud_scores/*.parquet",
                              f"SELECT o_orderkey FROM ({enrich}) t"),
        "user_risk_keys": ("gold/user_risk_scores/*.parquet",
                           "SELECT DISTINCT user_id FROM events"),
    }
    out = os.path.join(work, "check", "build")
    materialize(data_dir, wh, out, build)
    build = local_check(out, data_dir, {k: v[1] for k, v in build.items()})
    fails.update({f"build {k}": v for k, v in build.items() if v})

    want = list(range(1, base + batches + 1))
    got = [int(v["v"]) for v in res["committed_versions"]]
    if got != want:
        fails["cdc versions"] = f"committed silver versions {got}, expected {want}"
    for b in res["silver_versions"]:
        if int(b["version"]) != base + 1 + int(b["batch"]):
            fails[f"cdc batch {int(b['batch'])}"] = f"left silver at v={int(b['version'])}"
    updates = sorted(os.path.join(work, "stream-source", f)
                     for f in os.listdir(os.path.join(work, "stream-source"))
                     if f.endswith(".parquet"))
    final_data = os.path.join(work, "data_final")
    apply_updates(data_dir, updates, final_data)
    last = got[-1] if got else base
    final = {
        "revenue_daily": ("gold/revenue_daily/*/*.parquet", revenue),
        "silver_orders": (f"silver/orders_enriched/v={last}/*/*.parquet", enrich),
    }
    out = os.path.join(work, "check", "final")
    materialize(final_data, wh, out, final)
    final = local_check(out, final_data, {k: v[1] for k, v in final.items()})
    fails.update({f"cdc final {k}": v for k, v in final.items() if v})
    return fails


def check_queries(res, data_dir, fixed, work, passes):
    """Failures of the query mix as {(pass, query): reason}. Queries named in
    `fixed` ran on that data directory instead of `data_dir`."""
    fails = {}
    for q in res["queries"]:
        if not q["ok"]:
            fails[(int(q["pass"]), q["name"])] = q["error"]
    for p in range(passes):
        ran = {q["name"] for q in res["queries"] if int(q["pass"]) == p and q["ok"]}
        for d in {data_dir, *fixed.values()}:
            names = {n for n in ran if fixed.get(n, data_dir) == d}
            if not names:
                continue
            out = os.path.join(work, "check", "queries", f"p{p}")
            oracles = {n: s for n, s in res["oracle_sql"].items() if n in names}
            for n, why in local_check(out, d, oracles).items():
                if why:
                    fails[(p, n)] = why
    return fails
