#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. It builds the harness package in
perfbench/ (graft's sources plus the harness) when the sources changed,
runs perfbench.Harness in one JVM, checks every workload query's result
against its DuckDB oracle SQL, and prints a report line followed by one
JSON line: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
See perfbench/README.md.
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
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
GRAFT_SRC = ROOT / "src" / "main" / "scala"
BUILD_DIR = HERE / "target"
WORK_DIR = HERE / "out"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# Every run must end within this many seconds of its start.
RUN_LIMIT_S = 175
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    h = hashlib.sha256()
    files = sorted(GRAFT_SRC.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile graft + harness with sbt (offline) and return the classpath."""
    stamp = sources_stamp()
    cp_file = BUILD_DIR / "classpath.txt"
    stamp_file = BUILD_DIR / "classpath.stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories") +
                       " -Dsbt.offline=true -Xmx2g")
    log("building harness (sbt compile)")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    sys.stderr.write(proc.stdout[-4000:])
    cps = [l for l in proc.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if proc.returncode != 0 or not cps:
        sys.exit(f"perfbench: build failed (sbt exit {proc.returncode})")
    BUILD_DIR.mkdir(exist_ok=True)
    cp_file.write_text(cps[-1])
    stamp_file.write_text(stamp)
    return cps[-1]


def run_harness(cp, args, out, budget_s):
    tmp = out / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # A fixed heap, and JIT thresholds scaled down so that hot code is
    # compiled within the warm-up: without the scaling, pass times kept
    # falling 10-25% per pass through the third timed pass.
    cmd += ["-Xms4g", "-Xmx4g", "-XX:CompileThresholdScaling=0.1",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.scheduler.listenerbus.eventqueue.capacity=200000",
            "-cp", cp, "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--sf-dir", args.sf_dir,
            "--out", str(out)]
    proc = subprocess.Popen(cmd, cwd=out, stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=budget_s)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: harness exceeded {budget_s:.0f} s")
    finally:  # also on SIGTERM: never leave the JVM running
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0:
        sys.exit(f"perfbench: harness exited {rc}")
    return json.loads((out / "result.json").read_text())


def norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple(str(x) for x in t))


def cells_eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return str(a) == str(b)


def expected_rows(cache, sf_dir, sql):
    """The oracle's result, computed once per checkout: the key covers the
    SQL and the SF's table files, and the rows keep DuckDB's own types.
    """
    h = hashlib.sha256(sql.encode())
    for t in TABLES:
        st = (Path(sf_dir) / f"{t}.parquet").stat()
        h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    table = "expected_" + h.hexdigest()[:32]
    if not cache.execute("SELECT 1 FROM duckdb_tables() WHERE table_name = ?",
                         [table]).fetchall():
        cache.execute(f"CREATE TABLE {table} AS {sql}")
    return cache.execute(f"SELECT * FROM {table}")


def oracle_gate(sf_dir, results):
    """Compare each result against its oracle SQL in DuckDB, by the rules
    of tools/selfcheck.py: columns sorted by name, rows sorted, exact
    cells, floats equal within 1e-9 relative. Returns {name: why} of the
    results that differ.
    """
    import duckdb
    cache = duckdb.connect(str(WORK_DIR / "oracle-cache.duckdb"))
    cache.execute("SET enable_progress_bar = false")
    for t in TABLES:
        cache.execute(f"CREATE OR REPLACE TEMP VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = json.loads((results / "oracle_sql.json").read_text())
    bad = {}
    for d in sorted(p for p in results.iterdir() if p.is_dir()):
        t0 = time.monotonic()
        got = cache.execute(f"SELECT * FROM '{d}/*.parquet'")
        gcols = [c[0] for c in got.description]
        gtypes = {c[0]: str(c[1]) for c in got.description}
        grows = got.fetchall()
        if d.name not in oracles:
            continue  # no SQL oracle: the run itself is the check
        exp = expected_rows(cache, sf_dir, oracles[d.name])
        ecols = [c[0] for c in exp.description]
        etypes = {c[0]: str(c[1]) for c in exp.description}
        gc, gr = norm(grows, gcols)
        ec, er = norm(exp.fetchall(), ecols)
        if gc != ec:
            bad[d.name] = f"columns {gc} vs {ec}"
        elif any(gtypes[c] != etypes[c] for c in gc):
            bad[d.name] = "column types differ"
        elif len(gr) != len(er):
            bad[d.name] = f"rows {len(gr)} vs {len(er)}"
        else:
            for i, (a, b) in enumerate(zip(gr, er)):
                diff = [(c, x, y) for c, x, y in zip(gc, a, b) if not cells_eq(x, y)]
                if diff:
                    bad[d.name] = f"row {i} differs: {diff[:3]}"
                    break
        log(f"oracle gate {d.name}: {time.monotonic() - t0:.2f} s")
    cache.close()
    return bad


def main():
    t_start = time.monotonic()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: terminated"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf-dir", default=str(Path.home() / "testdata" / "sf0.1"))
    args = ap.parse_args()
    if not (GRAFT_SRC / "graft" / "SparkEntry.scala").is_file():
        sys.exit(f"perfbench: no graft sources under {GRAFT_SRC}; run from a graft checkout")
    if not (Path(args.sf_dir) / "events.parquet").is_file():
        sys.exit(f"perfbench: no test data under {args.sf_dir}")

    cp = build()
    out = WORK_DIR / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    budget = RUN_LIMIT_S - (time.monotonic() - t_start)
    if budget < 60:  # this run paid for the build; the next one measures
        budget = 900 - (time.monotonic() - t_start)
    res = run_harness(cp, args, out, budget)
    mismatches = oracle_gate(args.sf_dir, out / "results")
    attempted = res["attempted"]
    failed = res["failed_runs"] + len(mismatches)

    # the metrics, with their units, are the ones BENCHMARK.json declares
    kind = "per_layer" if args.trace else "end_to_end"
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())[kind]
    metrics = {m["name"]: {"value": res[kind][m["name"]], "unit": m["unit"]} for m in spec}
    if args.trace:
        leaks = json.loads((out / "trace.json").read_text())["leaking_queries"]
        log(f"trace written to {out / 'trace.json'}; leaking queries: {', '.join(leaks) or 'none'}")
    rep = res["report"]
    line = " ".join(f"{k}={v['value']:.6g}{v['unit']}" for k, v in metrics.items())
    tail = (f"query_p{rep['query_tail_percentile']}_s={rep['query_tail_s']:.6g}s"
            if rep["query_tail_percentile"] else "query_tail=n/a(<11 samples)")
    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
          f"passes={rep['passes']} query_samples={rep['query_samples']} "
          f"query_p50_s={res['end_to_end']['query_p50_s']:.6g}s {tail} "
          f"retained_mb={rep['retained_mb']:.6g}MB failed_frac={failed / attempted:.4g}fraction "
          f"{line}")
    for name, why in sorted({**res["errors"], **mismatches}.items()):
        print(f"perfbench FAILED {name}: {why}")
    shutil.rmtree(out / "tmp", ignore_errors=True)
    shutil.rmtree(out / "results", ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
