#!/usr/bin/env python3
"""graft benchmark runner: one run of one workload.

    python3 perfbench/run.py --workload dashboard|ingest \
        --seed N --seconds S --trace 0|1

Builds the benchmark (sbt, offline) when its sources or graft's changed,
runs the workload in one JVM, checks every result against DuckDB's
evaluation of the registered oracle SQL, and prints one JSON line last:
`{"correct", "attempted", "failed", "metrics"}` with the end-to-end metrics
(`--trace 0`) or the per-layer metrics (`--trace 1`). The input is the
sf0.1 test data (the directory TESTDATA.md lists); `SPARK_GRAFT_SF_DIR` or
`--data` points elsewhere. Scratch files live under `perfbench/.work/`.
"""
import argparse
import fcntl
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
HEAP = "3g"
RUN_LIMIT_S = 170  # a run, build excluded, ends well inside 180 s
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


UNCHECKED = "not checked: "


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def default_data():
    """The sf0.1 data directory as TESTDATA.md lists it."""
    with open(os.path.join(ROOT, "TESTDATA.md")) as f:
        for line in f:
            cells = [c.strip() for c in line.split("|")]
            if len(cells) > 2 and cells[1] == "0.1":
                return cells[2].strip("`").rstrip("/")
    fail("TESTDATA.md lists no sf0.1 directory")


def source_stamp():
    """Content hash of everything the build reads."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (ROOT, HERE):
        files += glob.glob(os.path.join(base, "project", "*.sbt"))
        files += glob.glob(os.path.join(base, "project", "build.properties"))
        files += glob.glob(os.path.join(base, "src", "main", "**", "*"), recursive=True)
    for f in sorted(p for p in files if os.path.isfile(p)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles graft and the benchmark once per source state; returns the
    JVM class path."""
    os.makedirs(WORK, exist_ok=True)
    cp_file, stamp_file = os.path.join(WORK, "classpath.txt"), os.path.join(WORK, "stamp")
    stamp = source_stamp()
    with open(os.path.join(WORK, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(cp_file) and os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    with open(cp_file) as g:
                        return g.read().strip()
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = env.get("SBT_OPTS", "")
        for prefix, flag in (("-Dsbt.offline=", "-Dsbt.offline=true"),
                             ("-Dsbt.override.build.repos=", "-Dsbt.override.build.repos=true"),
                             ("-Xmx", "-Xmx2g")):
            if prefix not in opts:
                opts += " " + flag
        env["SBT_OPTS"] = opts.strip()
        log_path = os.path.join(WORK, "build.log")
        with open(log_path, "w") as log:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
                timeout=840, stdin=subprocess.DEVNULL)
            log.write(r.stdout)
        lines = [l for l in r.stdout.splitlines() if l.strip()]
        if r.returncode != 0 or not lines or "scala-2.13" not in lines[-1]:
            fail(f"build failed, see {log_path}")
        cp = lines[-1].strip()
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return cp


def run_jvm(cp, args, out, limit):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", *opens, f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", args.data, "--out", out]
    log_path = os.path.join(out, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        fail(f"JVM run failed ({code}):\n{tail}")
    with open(os.path.join(out, "result.json")) as f:
        result = json.load(f)
    trace = None
    if args.trace:
        with open(os.path.join(out, "trace.json")) as f:
            trace = json.load(f)
    return result, trace


def load_oracle_check():
    """The project's own DuckDB comparison (tools/oracle_check.py)."""
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(ROOT, "tools", "oracle_check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def data_fingerprint(data):
    parts = []
    for p in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        st = os.stat(p)
        parts.append(f"{os.path.basename(p)}:{st.st_size}:{st.st_mtime_ns}")
    return "|".join(parts)


def check_results(checks, data, records=None):
    """Compares each reference result with DuckDB's evaluation of its oracle
    SQL, column-name-sorted and row-order-sensitive as
    tools/oracle_check.py does. With `records`, `events` holds only its
    first `records` rows in event-time order (what the ingest workload
    replays). The oracle side is cached per (SQL, input) under .work/oracle.
    Returns {check name: None | failure text}."""
    import duckdb
    oc = load_oracle_check()
    con = duckdb.connect()
    # both workloads' oracles read `events` only
    cut = ""
    if records is not None:
        cut = f" QUALIFY row_number() OVER (ORDER BY ts, event_id) <= {int(records)}"
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{os.path.join(data, 'events.parquet')}'{cut}")
    cache = os.path.join(WORK, "oracle")
    os.makedirs(cache, exist_ok=True)
    fp = f"{data_fingerprint(data)}|records={records}"

    def canon_frame(df):
        return df.columns.tolist(), ["\x1f".join(oc.canon(v) for v in row)
                                     for row in df.itertuples(index=False, name=None)]

    def digest(rows):
        return hashlib.sha256("\x1e".join(rows).encode()).hexdigest()

    out = {}
    for c in checks:
        name, sql = c["name"], c["oracle"]
        if sql is None:
            out[name] = UNCHECKED + "no oracle SQL registered"
            continue
        files = glob.glob(os.path.join(c["dir"], "*.parquet"))
        if not files:
            out[name] = UNCHECKED + "no result written"
            continue
        key = hashlib.sha256((sql + fp).encode()).hexdigest()
        path = os.path.join(cache, key + ".json")
        s_cols, s_rows = canon_frame(oc.frame(con.execute(
            f"SELECT * FROM '{c['dir']}/*.parquet'")))
        o_rows = None
        if os.path.exists(path):
            with open(path) as f:
                o = json.load(f)
        else:
            o_cols, o_rows = canon_frame(oc.frame(con.execute(sql)))
            o = {"columns": o_cols, "rows": len(o_rows), "digest": digest(o_rows)}
            with open(path + ".tmp", "w") as f:
                json.dump(o, f)
            os.replace(path + ".tmp", path)
        if o["columns"] != s_cols:
            out[name] = f"schema oracle={o['columns']} spark={s_cols}"
        elif o["rows"] != len(s_rows):
            out[name] = f"rows oracle={o['rows']} spark={len(s_rows)}"
        elif o["digest"] != digest(s_rows):
            if o_rows is None:
                o_rows = canon_frame(oc.frame(con.execute(sql)))[1]
            i = next(i for i, (a, b) in enumerate(zip(o_rows, s_rows)) if a != b)
            out[name] = f"row {i}: oracle={o_rows[i]!r} spark={s_rows[i]!r}"
        else:
            out[name] = None
    return out


def count_failures(result, verdicts):
    """Every timed operation is attempted; one fails when its result differs
    from the checked reference or the reference fails its oracle check."""
    ops = metrics.timed_ops(result)
    if "query" in (ops[0] if ops else {}):
        bad = {c["name"] for c in result["checks"] if verdicts[c["name"]]}
        failed = sum(1 for o in ops if not o["same"] or o["query"] in bad)
    else:
        stream_bad = any(verdicts.values())
        same = {s["round"]: s["same"] for s in result["stores"]}
        failed = sum(1 for o in ops if stream_bad or not same[o["round"]])
    return len(ops), failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["dashboard", "ingest"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    args = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("tools", "oracle_check.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"graft's sources are not here: {need} is missing")
    args.data = args.data or default_data()
    if not os.path.exists(os.path.join(args.data, "events.parquet")):
        fail(f"no input at {args.data}")

    cp = build()
    started = time.time()
    out = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    try:
        result, trace = run_jvm(cp, args, out, RUN_LIMIT_S - 25)
        jvm_done = time.time()
        verdicts = check_results(result["checks"], args.data, result.get("records"))
        check_s = time.time() - jvm_done
    finally:
        keep = os.path.join(WORK, "last")
        os.makedirs(keep, exist_ok=True)
        for f in ("jvm.log", "result.json", "trace.json"):
            if os.path.exists(os.path.join(out, f)):
                shutil.copy(os.path.join(out, f), os.path.join(keep, f"{args.workload}-{f}"))
        shutil.rmtree(out, ignore_errors=True)
    for name, why in verdicts.items():
        if why:
            print(f"perfbench: check {name} failed: {why}", file=sys.stderr)
    attempted, failed = count_failures(result, verdicts)
    e2e = metrics.end_to_end(result)
    if args.trace:
        values, defs = metrics.per_layer(result, trace), metrics.PER_LAYER
    else:
        values, defs = e2e, metrics.END_TO_END
    record = {
        # a mismatch counts its operations as failed; a result that could
        # not be checked at all makes the run incorrect
        "correct": not any(v and v.startswith(UNCHECKED) for v in verdicts.values()),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": defs[k][0]} for k in defs},
    }
    rec_dir = os.path.join(WORK, "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{args.workload}-t{args.trace}-s{args.seed}-"
                           f"{int(started)}.json"), "w") as f:
        json.dump(dict(record, e2e=e2e, workload=args.workload, seed=args.seed, trace=args.trace,
                       started=started, run_s=time.time() - started, check_s=check_s,
                       jit_s=result["timed"]["jit_s"],
                       ops=[[o.get("query", o.get("batch")), o["total_s"]]
                            for o in metrics.timed_ops(result)]), f)
    print(json.dumps(record))


if __name__ == "__main__":
    main()
