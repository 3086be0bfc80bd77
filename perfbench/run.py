#!/usr/bin/env python3
"""graft benchmark: one command for every workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload <ship|analytics> --seed <n> \
        --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Builds the engine from source together with the harness in perfbench/
(sbt, offline; skipped when nothing changed since the last build), runs the
workload in one JVM, checks its outputs and prints as the LAST line of
stdout one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 the per-layer ones (see perfbench/README.md).

Everything the run writes stays under perfbench/.work and perfbench/target.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
TARGET = BENCH / "target"
CLASSES = TARGET / "scala-2.13" / "classes"
STAMP = TARGET / "perfbench.stamp"
DATA = BENCH / "data" / "sf0.01"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    roots = [ROOT / "src" / "main" / "scala", BENCH / "src"]
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def spark_home():
    """The Spark installation: SPARK_HOME, else the first `spark-submit` on
    PATH that sits in a Spark distribution (next to a `jars` directory)."""
    homes = [os.environ.get("SPARK_HOME")] + [
        str(Path(d).resolve().parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").is_file()]
    for home in homes:
        if home and (Path(home) / "jars").is_dir():
            return home
    die("no Spark installation found: set SPARK_HOME")


def build():
    """Compile engine + harness unless the stamp matches the sources."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die("no engine sources under src/main/scala/graft: run from the repository root")
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    digest = h.hexdigest()
    if STAMP.exists() and STAMP.read_text() == digest and CLASSES.is_dir():
        return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.override.build.repos=true",
           "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories"),
           "clean", "compile"]
    log = TARGET.parent / ".work" / "build.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as out:
        try:
            rc = subprocess.run(cmd, cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            die("build timed out")
    if rc != 0 or not CLASSES.is_dir():
        sys.stderr.write(log.read_text()[-4000:])
        die("build failed")
    STAMP.write_text(digest)


def java_cmd(work, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java"] + opens + [
        "-Xms1g", "-Xmx3g", "-XX:+UseSerialGC", "-Dspark.buffer.pageSize=4m",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Djava.io.tmpdir=" + str(work / "tmp"),
        "-Dderby.system.home=" + str(work / "tmp"),
        "-cp", f"{CLASSES}:{spark_home()}/jars/*"] + args)


def run_jvm(main, work, args, timeout):
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(work / "jvm.log", "w") as log:
        p = subprocess.Popen(java_cmd(work, [main] + args), cwd=work, stdout=log,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"{main} timed out after {timeout}s (log: {work / 'jvm.log'})")


# --- DuckDB oracle check (analytics) ---------------------------------------

TABLES = "region nation customer supplier part orders lineitem events documents".split()


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(exp, got):
    """None when the frames hold the same cells (NaN == None), else why not."""
    import pandas as pd
    exp_c, got_c = canon(exp), canon(got)
    if list(exp_c.columns) != list(got_c.columns):
        return f"columns {list(exp_c.columns)} != {list(got_c.columns)}"
    if len(exp_c) != len(got_c):
        return f"rows {len(exp_c)} != {len(got_c)}"
    exp_s = exp_c.astype(object).where(pd.notnull(exp_c), None)
    got_s = got_c.astype(object).where(pd.notnull(got_c), None)
    if not exp_s.equals(got_s):
        return f"{int((exp_s != got_s).to_numpy().sum())} differing cells"
    return None


def oracle_check(work, data_dir):
    """Each analytics result against its DuckDB oracle: (checked, failures)."""
    import duckdb
    import pandas as pd
    oracle = json.loads((work / "analytics" / "oracle_sql.json").read_text())
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    failures = []
    for name, sql in sorted(oracle.items()):
        res = work / "analytics" / "results" / name
        if not res.exists():
            failures.append(f"analytics: {name}: no result")
            continue
        why = compare(con.execute(sql).df(), pd.read_parquet(res))
        if why:
            failures.append(f"analytics: {name} differs from its oracle: {why}")
    return len(oracle), failures


# --- result line -------------------------------------------------------------

def metric_names(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run(a):
    build()
    work = BENCH / ".work" / f"{a.workload}-{a.seed}-{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out = work / "record.json"
    t0 = time.monotonic()
    rc = run_jvm("perfbench.Main", work, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", str(work), "--data", str(DATA.resolve()),
        "--out", str(out)], RUN_TIMEOUT_S)
    if rc != 0 or not out.exists():
        sys.stderr.write((work / "jvm.log").read_text()[-4000:])
        die(f"workload {a.workload} exited with {rc}")
    rec = json.loads(out.read_text())
    failures = list(rec["failures"])
    attempted, failed = rec["attempted"], rec["failed"]
    if a.workload == "analytics":
        checked, bad = oracle_check(work, DATA.resolve())
        attempted += checked
        failed += len(bad)
        failures += bad
    for f in failures[:20]:
        print(f"FAIL {f}", file=sys.stderr)
    names = metric_names(a.trace)
    have = rec["metrics"]
    missing = [n for n in names if n not in have]
    if missing:
        die(f"workload {a.workload} did not report {missing}")
    # the full record (every metric measured, notes, failures) stays with
    # the trace in the work dir; the bulky inputs and indexes do not
    keep = {"record.json", "jvm.log"} | {p.name for p in work.glob("trace-*.json")}
    for p in work.iterdir():
        if p.name not in keep:
            shutil.rmtree(p) if p.is_dir() else p.unlink()
    print(f"perfbench: {a.workload} seed {a.seed} trace {a.trace}: "
          f"{time.monotonic() - t0:.1f}s, canary {rec['notes'].get('canary_ms')} ms",
          file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: have[n] for n in names},
    }))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["ship", "analytics"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        sys.dont_write_bytecode = True
        sys.path.insert(0, str(BENCH))
        import selftest
        build()
        (BENCH / ".work").mkdir(exist_ok=True)
        sys.exit(selftest.main(lambda main, work, args: run_jvm(main, work, args, RUN_TIMEOUT_S),
                               compare))
    if not a.workload:
        die("--workload is required")
    run(a)


if __name__ == "__main__":
    main()
