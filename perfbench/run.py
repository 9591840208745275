#!/usr/bin/env python3
"""Migration and analytics benchmark: one workload in one process.

Run from the repository root:

  python3 perfbench/run.py --workload wire_fact --seed 1 --seconds 10 --trace 0

It builds the program and the harness from source (sbt, offline; the
first run builds, later runs reuse the build while no source changes),
generates the inputs from the seed, runs the workload under
`perfbench.PerfMain`, checks every output and prints one JSON object as
its last line: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json,
with `--trace 1` its per-layer metrics. Extra options:

  --scale small   run on the sf0.001 inputs (the self-check uses this)
  --corrupt       damage one target row or result before each gate
  --packet-bytes N  override a migration workload's packet size
  --pin           recompute oracle_pins.json with DuckDB and exit
  --repro-lock P  run the MySQL-wire lock-wait repro at parallelism P

See perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_run")
PINS = os.path.join(HERE, "oracle_pins.json")

# scale factor of each workload's inputs; --scale small uses SMALL_SF
SCALE = {"wire_fact": 0.002, "wire_dims": 0.01, "script_fact": 0.1,
         "analytics_mix": 0.01}
SMALL_SF = 0.001
# tables whose row order the seed shuffles (the source insertion order)
PERMUTED = {"wire_fact": ["orders", "lineitem"],
            "script_fact": ["region", "nation", "customer", "supplier",
                            "part", "orders", "lineitem", "events",
                            "documents", "embeddings"]}
RUN_LIMIT_S = 170  # a run must end within 180 s, build excluded

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

UNITS = {
    "setup_s": "s", "rows_per_s": "rows/s", "tables_per_s": "tables/s",
    "mix_s": "s", "storage_mb": "MB", "failed_ops_frac": "frac",
    "host.steal_ms": "ms", "host.load1": "load", "jvm.gc_ms": "ms",
    "engine.migrator.concurrency": "ratio",
    "trace.overhead_rows_per_s": "rows/s",
    "trace.overhead_tables_per_s": "tables/s", "trace.overhead_mix_s": "s",
}


def unit_of(name):
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_ms") or name.endswith(".ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if "bytes" in name:
        return "bytes"
    return "count"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_key():
    """Digest of everything the build compiles, to reuse a finished build."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            paths += [os.path.join(d, f) for f in files]
    for p in sorted(paths):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile program + harness with sbt; return the runtime classpath."""
    key = source_key()
    cp_file = os.path.join(BUILD, f"classpath-{key}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed", 1)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def java_cmd(cp, run_dir, args, main="perfbench.PerfMain"):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, "-Xmx3g", *opens, "-Duser.timezone=UTC",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dderby.stream.error.file={run_dir}/derby.log",
            "-cp", cp, main, *args]


def run_java(cp, run_dir, args, deadline):
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    log = os.path.join(run_dir, "java.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(java_cmd(cp, run_dir, args), cwd=ROOT,
                                stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:  # timed out, or this process is stopping
                proc.kill()
                proc.wait()
    if code != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("the harness timed out" if code is None
             else f"the harness exited with {code}", 1)


def inputs(workload, sf, seed):
    sys.path.insert(0, HERE)
    import gen  # noqa: E402  (the generator sits beside this file)
    base = gen.write(sf, os.path.join(WORK, "data", f"sf{sf}"))
    if workload not in PERMUTED:
        return base
    out = os.path.join(WORK, "inputs", workload)
    shutil.rmtree(out, ignore_errors=True)
    return gen.permute(base, out, seed, PERMUTED[workload])


def norm(v):
    """Cell rendering of tools/oracle_check.py (exact floats)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bytes):
        return "0x" + v.hex()
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def canonical_hash(cols, rows):
    """Order-independent result digest: columns by name, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    body = sorted(tuple(norm(r[i]) for i in order) for r in rows)
    doc = json.dumps([[cols[i] for i in order], body])
    return len(body), hashlib.sha256(doc.encode()).hexdigest()


def check_results(result_dirs, sf):
    """Hash every analytics result against the pinned oracle results."""
    import duckdb
    with open(PINS) as f:
        pins = json.load(f)[f"sf{sf}"]
    con = duckdb.connect()
    bad = []
    for d in result_dirs:
        for name, pin in sorted(pins.items()):
            files = sorted(glob.glob(os.path.join(d, name, "*.parquet")))
            if not files:
                continue  # the harness already counted a failed query
            rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
            n, h = canonical_hash(list(rel.columns), rel.fetchall())
            if [n, h] != [pin["rows"], pin["sha256"]]:
                bad.append(f"{os.path.basename(d)}/{name}: {n} rows, "
                           f"hash {h[:12]} != oracle {pin['sha256'][:12]}")
    return bad


def pin(cp):
    """Run the oracle SQL of the analytics mix in DuckDB at each scale."""
    import duckdb
    sys.path.insert(0, HERE)
    import gen  # noqa: E402
    run_dir = os.path.join(WORK, "pin")
    os.makedirs(run_dir, exist_ok=True)
    sql_file = os.path.join(run_dir, "oracle_sql.json")
    run_java(cp, run_dir, ["--dump-oracle", sql_file], time.time() + 120)
    with open(sql_file) as f:
        sqls = json.load(f)
    pins = {}
    for sf in sorted({SCALE["analytics_mix"], SMALL_SF}):
        base = gen.write(sf, os.path.join(WORK, "data", f"sf{sf}"))
        con = duckdb.connect()
        for p in sorted(glob.glob(os.path.join(base, "*.parquet"))):
            t = os.path.basename(p)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        pins[f"sf{sf}"] = {}
        for name, sql in sorted(sqls.items()):
            rel = con.sql(sql)
            n, h = canonical_hash(list(rel.columns), rel.fetchall())
            pins[f"sf{sf}"][name] = {"rows": n, "sha256": h}
    with open(PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {PINS}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "small"), default="full")
    ap.add_argument("--corrupt", action="store_true")
    ap.add_argument("--packet-bytes", type=int)
    ap.add_argument("--pin", action="store_true")
    ap.add_argument("--repro-lock", type=int, metavar="P")
    a = ap.parse_args()
    # stop (and wait for) the harness JVM when this process is terminated
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the repository root: the program's sources "
             "(build.sbt, src/main/scala/graft) are not here")
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_file):
        fail("BENCHMARK.json is missing")
    with open(bench_file) as f:
        bench = json.load(f)
    cp = build()
    if a.pin:
        pin(cp)
        return
    if a.repro_lock:
        run_dir = os.path.join(WORK, "repro-lock")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(os.path.join(run_dir, "tmp"))
        data = inputs("wire_dims", SCALE["wire_dims"], a.seed)
        subprocess.run(java_cmd(cp, run_dir, [data, "10", str(a.repro_lock)],
                                main="perfbench.LockRepro"), cwd=ROOT)
        return
    if not a.workload:
        fail("--workload is required")

    start = time.time()
    sf = SMALL_SF if a.scale == "small" else SCALE[a.workload]
    data = inputs(a.workload, sf, a.seed)
    run_dir = os.path.join(WORK, f"{a.workload}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--data", data, "--run-dir", run_dir]
    if a.corrupt:
        args += ["--corrupt", "1"]
    if a.packet_bytes:
        args += ["--packet-bytes", str(a.packet_bytes)]
    run_java(cp, run_dir, args, start + RUN_LIMIT_S)
    res_file = os.path.join(run_dir, "result.json")
    if not os.path.isfile(res_file):
        fail("the harness wrote no result", 1)
    with open(res_file) as f:
        res = json.load(f)

    attempted, failed = res["attempted"], res["failed"]
    if a.workload == "analytics_mix":
        bad = check_results(res["result_dirs"], sf)
        for b in bad:
            print(f"gate failed: {b}", file=sys.stderr)
        failed += len(bad)
    e2e = dict(res["end_to_end"], failed_ops_frac=failed / attempted)
    layer = dict(res["per_layer"])
    if a.trace:
        layer["failed_ops_frac"] = e2e["failed_ops_frac"]
    # keep the run's spans and summaries; drop its bulky outputs
    for junk in ("results", "tmp", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(run_dir, junk), ignore_errors=True)
    shutil.rmtree(os.path.join(WORK, "inputs"), ignore_errors=True)

    print(f"workload {a.workload} seed {a.seed} samples {res['samples']} "
          f"traced_samples {res['traced_samples']} run_dir {run_dir}")
    print("op_s " + " ".join(f"{v:.4f}" for v in res["op_s"]))
    for k, v in sorted(res["setup"].items()):
        print(f"setup {k} {v} s")
    for k, v in sorted(res["window"].items()):
        print(f"window {k} {v} {unit_of(k)}")
    for k, v in sorted(e2e.items()):
        print(f"end_to_end {k} {v} {unit_of(k)}")
    for k, v in sorted(res["per_query"].items()):
        print(f"untraced {k} {v} {unit_of(k)}")
    if a.trace:
        for k, v in sorted(layer.items()):
            print(f"per_layer {k} {v} {unit_of(k)}")
        print(f"spans {os.path.join(run_dir, 'spans.jsonl')}")

    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    source = layer if a.trace else e2e
    metrics, missing = {}, []
    for m in wanted:
        v = source.get(m["name"])
        if v is None:
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for m in missing:
        print(f"metric {m} was not measured", file=sys.stderr)
    print(json.dumps({"correct": failed == 0 and not missing,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
