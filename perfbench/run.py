#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload {cdc,index_rw,curate} --seed N \
      --seconds S --trace {0,1}

Builds the program and the harness from source (`perfbench/build.py`), runs
one JVM at local[4] that generates the workload's inputs from the seed,
sets up, measures for S seconds and checks its outputs, then runs the
checks that need DuckDB (cdc routing, curate oracles). Prints one line per
metric, and as the last line one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics of BENCHMARK.json with
--trace 0, its per-layer metrics with --trace 1. Every workload listed in
BENCHMARK.json measures all of them; a run that misses one exits non-zero.
Build output and run directories live under $CARGO_TARGET_DIR (default
`.bench_build`); the traced run keeps its span log there as
`traces/<workload>-<seed>.jsonl`.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

RUN_LIMIT_S = 170
JVM_OPTS = [
    "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def run_jvm(cp, args, work, timeout_s):
    """Run the harness JVM in its own process group, with its temporary
    files under `work`; its output goes to stderr so that stdout ends with
    the result line."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    props = [f"-Djava.io.tmpdir={tmp}", f"-Dgraftbench.gen={os.path.join(HERE, 'gen.py')}",
             f"-Dgraftbench.python={sys.executable}"]
    proc = subprocess.Popen(["java", *JVM_OPTS, *props, "-cp", cp, "graftbench.Main", *args],
                            stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.exit(f"run: harness exceeded {timeout_s:.0f} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def parquet_glob(path):
    return f"read_parquet('{path}/**/*.parquet')"


def check_cdc(res, con):
    """Every valid offered row lands exactly once, in the table its route
    dictates; malformed rows and unknown ids never land. A user is opted
    out iff their latest valid signup in the opt-out source has k % 3 = 0:
    for a backfill job that source is its own time range of the history,
    for the live tenants it is the whole history. Returns (rows offered,
    rows lost, duplicated or misrouted)."""
    p = res["info"]["paths"]
    con.sql("SET TimeZone = 'UTC'")
    valid = ("event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL "
             "AND json_extract(props, '$.k') IS NOT NULL")
    ranges = " ".join(f"WHEN ts BETWEEN TIMESTAMPTZ '{a.replace('T', ' ')}:00+00' AND "
                      f"TIMESTAMPTZ '{b.replace('T', ' ')}:00+00' THEN {i}"
                      for i, (a, b) in enumerate(res["info"]["backfill_ranges"]))
    con.sql(f"""CREATE OR REPLACE TABLE hist AS SELECT *, {valid} AS ok,
        CASE {ranges} END AS rg FROM {parquet_glob(p['history'])}""")
    offered_total = bad_total = 0
    for tenant in ["bf"] + res["info"]["tenants"]:
        if tenant == "bf":
            rows, rg = "hist", "rg"
        else:
            rows = f"(SELECT *, {valid} AS ok, 0 AS rg FROM {parquet_glob(p['src'] + '/' + tenant)})"
            rg = "0"
        con.sql(f"""CREATE OR REPLACE TABLE offered AS
            WITH dim AS (SELECT {rg} AS rg, user_id,
                           arg_max(CAST(json_extract(props, '$.k') AS BIGINT), event_id) AS k
                         FROM hist WHERE ok AND event_type = 'signup' GROUP BY ALL)
            SELECT o.event_id, coalesce(o.ok, false) AS ok, coalesce(d.k % 3 = 0, false) AS opt
            FROM {rows} o LEFT JOIN dim d ON d.rg = o.rg AND d.user_id = o.user_id""")
        parts = []
        for table, tag in (("statements", "main"), ("statements_opt_out", "opt")):
            d = f"{p['sink']}/{tenant}.{table}"
            if os.path.isdir(d):
                parts.append(f"SELECT id, '{tag}' AS t FROM {parquet_glob(d)}")
        got = " UNION ALL ".join(parts) or "SELECT NULL::BIGINT AS id, NULL AS t WHERE false"
        offered, bad = con.sql(f"""
            WITH got AS (SELECT id, count(*) FILTER (WHERE t = 'main') AS nm,
                                    count(*) FILTER (WHERE t = 'opt') AS no
                         FROM ({got}) GROUP BY id)
            SELECT (SELECT count(*) FROM offered),
                   count(*) FILTER (WHERE o.event_id IS NULL
                     OR (NOT o.ok AND g.id IS NOT NULL)
                     OR (o.ok AND (g.id IS NULL OR g.nm + g.no <> 1
                                   OR (o.opt AND g.no <> 1) OR (NOT o.opt AND g.nm <> 1))))
            FROM offered o FULL OUTER JOIN got g ON o.event_id = g.id""").fetchone()
        print(f"check cdc {tenant}: {offered} rows offered, {bad} lost, duplicated or misrouted",
              file=sys.stderr)
        offered_total += offered
        bad_total += bad
    return offered_total, bad_total


def check_curate(res, con):
    """Each pipeline's output equals its DuckDB oracle on the generated
    corpus it ran on (columns by name, rows sorted, values compared as
    text). Returns the names that differ."""
    bad = []
    for name, o in sorted(res["info"]["oracle"].items()):
        try:
            con.sql(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                    f"{parquet_glob(o['corpus'] + '/documents.parquet')}")
            a = con.sql(f"SELECT * FROM {parquet_glob(o['out'])}").df()
            b = con.sql(o["sql"]).df()
            a = a.reindex(sorted(a.columns), axis=1)
            b = b.reindex(sorted(b.columns), axis=1)
            same = list(a.columns) == list(b.columns) and len(a) == len(b)
            if same and len(a):
                a = a.sort_values(by=list(a.columns), ignore_index=True).astype(str)
                b = b.sort_values(by=list(b.columns), ignore_index=True).astype(str)
                same = a.equals(b)
            print(f"check curate {name}: {'PASS' if same else 'FAIL'} ({len(a)} rows of "
                  f"{os.path.basename(o['corpus'])})", file=sys.stderr)
        except Exception as e:  # a broken output or oracle is a failed check
            print(f"check curate {name}: FAIL {e}", file=sys.stderr)
            same = False
        if not same:
            bad.append(name)
    return bad


def main():
    # a terminated run still stops its JVM (the `finally` in run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("run: terminated"))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["cdc", "index_rw", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    wanted = {m["name"] for m in spec["end_to_end" if a.trace == 0 else "per_layer"]}

    out = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    os.makedirs(out, exist_ok=True)
    cp, _ = build.build(out)
    t0 = time.time()
    work = os.path.abspath(os.path.join(out, "work", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    try:
        code = run_jvm(cp, [a.workload, str(a.seed), str(a.seconds), str(a.trace), work], work,
                       RUN_LIMIT_S - 20)
        if code != 0:
            sys.exit(f"run: harness exited {code}")
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        import duckdb
        con = duckdb.connect()
        con.sql("SET threads TO 4")
        attempted, failed = res["attempted"], res["failed"]
        if a.workload == "cdc":
            offered, bad = check_cdc(res, con)
            attempted += offered
            failed += bad
        elif a.workload == "curate":
            runs = res["attempted"] // len(res["info"]["oracle"])
            failed += runs * len(check_curate(res, con))
        if a.trace == 1 and os.path.exists(os.path.join(work, "spans.jsonl")):
            os.makedirs(os.path.join(out, "traces"), exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(out, "traces", f"{a.workload}-{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = {}
    for name in res["order"]:
        m = res["metrics"][name]
        key = name if a.trace == 0 else ("traced." + name if name in
                                          {x["name"] for x in spec["end_to_end"]} else name)
        if key in wanted:
            metrics[key] = {"value": m["value"], "unit": m["unit"]}
    missing = sorted(wanted - metrics.keys())
    for f in res["failures"]:
        print(f"failure: {f}", file=sys.stderr)
    for k, v in res["info"].items():
        if k not in ("oracle", "paths", "spark_by_op"):
            print(f"info {k}: {json.dumps(v)}")
    if a.trace == 1 and "spark_by_op" in res["info"]:
        for op, c in sorted(res["info"]["spark_by_op"].items()):
            print(f"spark {op}: {json.dumps(c)}")
    share = failed / attempted if attempted else 1.0
    print(f"failed_share = {share:.6f} ratio ({failed} of {attempted})")
    for name in res["order"]:
        m = res["metrics"][name]
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(f"wall {time.time() - t0:.1f} s", file=sys.stderr)
    if missing and a.workload in {w["name"] for w in spec["workloads"]}:
        sys.exit(f"run: {a.workload} did not measure {', '.join(missing)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
