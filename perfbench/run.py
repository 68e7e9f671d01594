#!/usr/bin/env python3
"""Runs one benchmark workload of the graft extraction engine.

    python3 perfbench/run.py --workload durable_write --seed 1 --seconds 10 --trace 0

Run it from the repository root. The first run builds the engine and the
benchmark with sbt (offline) into `.bench_build/` and later runs reuse
that build while the sources are unchanged. The JVM prints an info line
and the result line; for `query_mix` this script then compares the
written query results with the engine's DuckDB oracle SQL (when the
`duckdb` module imports) and prints the result line last.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
from decimal import Decimal
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
DATA = HERE / "data" / "sf0.001"
WORKLOADS = ("durable_write", "query_mix")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [ROOT / "src" / "main", HERE / "src" / "main", ROOT / "project", HERE / "project"]
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file()
                        and "target" not in p.relative_to(r).parts
                        and "project" not in p.relative_to(r).parts[:-1])
    return [f for f in files if f.is_file()]


def classpath():
    """Builds once per source fingerprint; returns the runtime classpath."""
    digest = hashlib.sha256()
    for f in sources():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = BUILD / f"classpath-{digest.hexdigest()[:16]}.txt"
    if stamp.exists():
        return stamp.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx3g")
    log = BUILD / "build.log"
    with open(log, "w") as out:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}", 3)
    lines = [l.strip() for l in log.read_text().splitlines() if l.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed; see {log}", 3)
    stamp.write_text(lines[-1])
    return lines[-1]


def norm(v):
    """A value in a form both engines' results compare equal in."""
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    if isinstance(v, (int, float, Decimal)):
        return float(v)
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return str(v)


def same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return a == b or (math.isnan(a) and math.isnan(b)) or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    return a == b


def rows_of(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(norm(r[i]) for i in order) for r in cur.fetchall()]
    return [cols[i] for i in order], sorted(rows, key=repr)


def oracle_check(work):
    """Compares each written query result with its oracle SQL run by
    DuckDB on the same tables. Returns (checked, mismatches) or None
    when DuckDB is not available."""
    spec = work / "oracle_sql.json"
    if not spec.exists():
        return 0, ["no oracle_sql.json written"]
    try:
        import duckdb
    except ImportError:
        return None
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from '{DATA / (t + '.parquet')}'")
    bad = []
    oracle = json.loads(spec.read_text())
    for name, sql in sorted(oracle.items()):
        try:
            want_cols, want = rows_of(con, sql)
            got_cols, got = rows_of(duckdb.connect(), f"select * from '{work / 'results' / name}/*.parquet'")
        except Exception as e:  # an engine error is a mismatch, not a crash
            bad.append(f"{name}: {e}")
            continue
        if want_cols != got_cols or len(want) != len(got) or not all(
                same(a, b) for a, b in zip(want, got)):
            bad.append(f"{name}: columns {got_cols} rows {len(got)} vs oracle {want_cols} rows {len(want)}")
    return len(oracle), bad


def clear_stale_work():
    """Removes work directories left by runs that were killed."""
    for d in BUILD.glob("work-*"):
        pid = d.name.rsplit("-", 1)[-1]
        try:
            os.kill(int(pid), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(d, ignore_errors=True)
        except PermissionError:
            pass


def on_term(signum, frame):
    raise SystemExit(128 + signum)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no engine sources under {ROOT}: run from a checkout of the repository")
    if not DATA.is_dir():
        fail(f"missing query tables {DATA}")
    signal.signal(signal.SIGTERM, on_term)
    cp = classpath()
    clear_stale_work()

    work = BUILD / f"work-{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = (["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", str(work), "--data", str(DATA),
              "--traces", str(BUILD / "traces")])
    proc = None
    try:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"workload did not finish within {JVM_TIMEOUT_S} s", 4)
        lines = [l for l in out.splitlines() if l.strip()]
        for l in lines[:-1]:
            print(l)
        if proc.returncode != 0 or not lines:
            fail(f"workload exited with code {proc.returncode}", 5)
        result = json.loads(lines[-1])
        if a.workload == "query_mix" and a.trace == "0":
            checked = oracle_check(work)
            if checked is None:
                print(json.dumps({"oracle": "skipped: duckdb does not import"}))
            else:
                n, bad = checked
                print(json.dumps({"oracle": {"checked": n, "mismatches": bad}}))
                if bad:
                    result["correct"] = False
        print(json.dumps(result))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
