#!/usr/bin/env python3
"""Job-level benchmark of the graft extraction engine.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Builds the engine and the JVM harness from source (build.py, cached under
.bench_build/), runs one workload in one JVM at local[<cores>], checks its
outputs, prints every metric as `metric <name> <value> <unit>`, and ends
with one JSON line: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Exits 1 when an output check fails, 2 when it cannot run at all.

    python3 perfbench/run.py --self-test     # the harness's own arithmetic

The `query` workload reads the sf0.1 testdata tables, which are not part of
the repository, from the directory in $SPARK_GRAFT_SF_DIR (the variable the
frozen Bench reads).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import benchstats  # noqa: E402
from build import build, die, spark_jars  # noqa: E402

BENCHMARK = json.loads((ROOT / "BENCHMARK.json").read_text()) if (ROOT / "BENCHMARK.json").exists() else None
HEAP = "4g"
# the automated check allows 180 s per run of a BENCHMARK.json workload;
# the workloads outside it (query, stream) may run longer when traced
JVM_TIMEOUT_S = {"listed": 175, "other": 900}
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def run_jvm(classes, jars, args, work, timeout_s):
    log = work / "jvm.log"
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", "-Xss8m", f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{jars}/*", "perfbench.Main"] + args)
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            code = p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    if code != 0:
        print(log.read_text()[-6000:], file=sys.stderr)
        die(f"JVM exited with {code}")


def oracle_check(rec):
    """The query workload's outputs against the DuckDB oracle SQL over the
    same tables, compared as multisets of canonical rows."""
    import duckdb
    wr = rec["workload_record"]
    tables, results = wr["tables_dir"], wr["results_dir"]
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in sorted(Path(tables).glob("*.parquet")):
        files = f"{t}/*.parquet" if t.is_dir() else str(t)
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM read_parquet('{files}')")

    def canon(v):
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return str(v).lower()
        if isinstance(v, float):
            return "NaN" if v != v else repr(v)
        return str(v)

    def rows_of(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted(tuple(canon(r[i]) for i in order) for r in rows)

    fails = []
    for name, sql in sorted(wr["oracle_sql"].items()):
        path = f"{results}/{name}/*.parquet"
        if not list(Path(results, name).glob("*.parquet")):
            if not any(f.startswith(f"{name} ") for f in rec["failures"]):
                fails.append(f"{name}: no output to check")
            continue
        try:
            s = con.execute(f"SELECT * FROM read_parquet('{path}')")
            scols, srows = [d[0] for d in s.description], s.fetchall()
            o = con.execute(sql)
            ocols, orows = [d[0] for d in o.description], o.fetchall()
        except Exception as e:  # noqa: BLE001 - any oracle error fails the check
            fails.append(f"{name}: {e}")
            continue
        if sorted(scols) != sorted(ocols):
            fails.append(f"{name}: columns {sorted(scols)} vs oracle {sorted(ocols)}")
        elif rows_of(scols, srows) != rows_of(ocols, orows):
            fails.append(f"{name}: rows differ from the oracle ({len(srows)} vs {len(orows)})")
    return fails


def host_record(rec):
    return {"nproc": os.cpu_count(), "cores_used": rec["cores"],
            "loadavg": list(os.getloadavg()),
            "single_thread_docs_per_s": rec["single_thread_docs_per_s"]}


def self_test():
    import unittest
    suite = unittest.defaultTestLoader.discover(str(HERE), pattern="test_*.py")
    ok = unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful()
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        self_test()
    if a.workload not in ("extract", "query", "release", "stream"):
        die(f"unknown workload {a.workload!r}")
    if BENCHMARK is None:
        die("BENCHMARK.json not found at the checkout root")
    tables = []
    if a.workload == "query":
        sf = os.environ.get("SPARK_GRAFT_SF_DIR")
        if not sf or not (Path(sf) / "documents.parquet").exists():
            die("query reads the sf0.1 tables from $SPARK_GRAFT_SF_DIR")
        tables = ["--tables", str(Path(sf).resolve())]

    jars = spark_jars()
    classes = build(jars)
    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".bench_work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out = work / "record.json"
    listed = a.workload in {w["name"] for w in BENCHMARK["workloads"]}
    try:
        run_jvm(classes, jars, ["--workload", a.workload, "--seed", str(a.seed),
                                "--seconds", str(a.seconds), "--trace", str(a.trace),
                                "--cores", str(cores), "--work", str(work), "--out", str(out)] + tables, work,
                JVM_TIMEOUT_S["listed" if listed else "other"])
        rec = json.loads(out.read_text())
        attempted, failed, failures = rec["attempted"], rec["failed"], list(rec["failures"])
        if a.workload == "query":
            # each checked output was already counted as an attempted operation
            oracle_fails = oracle_check(rec)
            failures += oracle_fails
            failed += len(oracle_fails)
        rec["failed"] = failed

        metrics = (benchstats.per_layer if a.trace else benchstats.end_to_end)(rec)
        host = host_record(rec)
        names = [m["name"] for m in BENCHMARK["per_layer" if a.trace else "end_to_end"]]
        if listed:
            final = {n: metrics[n] for n in names}
        else:
            final = dict(metrics)
        for name, (v, unit) in metrics.items():
            print(f"metric {name} {v:.6g} {unit}")
        print("host " + json.dumps(host))
        for f in failures:
            print(f"FAILED {f}")
        saved = ROOT / ".bench_out"
        saved.mkdir(exist_ok=True)
        (saved / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(json.dumps(
            {"host": host, "metrics": metrics, "record": rec}, indent=1))
        correct = failed == 0
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": {k: {"value": v, "unit": u} for k, (v, u) in final.items()}}))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
