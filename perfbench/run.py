#!/usr/bin/env python3
"""Run one benchmark workload against the checkout this file sits in.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--smoke]

Builds the program and the benchmark from source (cached under
`.bench_build/` until a source file changes), generates the workload's
inputs from the seed, runs the workload in one JVM for `--seconds`,
checks its outputs and prints one JSON summary as the last line of
stdout: `{"correct", "attempted", "failed", "metrics"}`. With `--trace 0`
the metrics are the `end_to_end` metrics of BENCHMARK.json, with
`--trace 1` its `per_layer` metrics; a per-layer metric of a layer the
workload does not exercise reads 0. The full record of the run (every
operation, every failure, spans, calibration probe) goes to
`.bench_build/results/<workload>-seed<n>-trace<t>.json`.

`--smoke` runs the workload on tiny inputs, for a quick end-to-end check.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

# Tables each workload reads, and their TPC-H scale factor. Per-operation
# cost is dominated by fixed per-job cost at these sizes: a vault_load
# batch costs about the same at sf0.001 as at sf0.01, so vault_load runs
# the smaller one. --smoke runs every workload at SMOKE_SCALE.
TABLES = {
    "vault_load": ["customer", "orders", "lineitem"],
    "lake_ops": ["orders"],
    "query_mix": gen.TABLES,
    "stream_ingest": ["customer"],
}
SCALE = {"vault_load": 0.001, "lake_ops": 0.01, "query_mix": 0.01,
         "stream_ingest": 0.01}
SMOKE_SCALE = 0.001
# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit; the same list as the root build's javaOptions.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]
# The inputs are tiny; a small heap also keeps page-fault cost out of the
# timings on a machine whose memory is shared.
HEAP = "2g"
RUN_DEADLINE_S = 170
BUILD_DEADLINE_S = 850
FAIL_MSG_CHARS = 80


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dirpath, dirnames, filenames in os.walk(r):
            dirnames.sort()
            files += [os.path.join(dirpath, f) for f in sorted(filenames)]
    return files


def build():
    """Compile program + benchmark with sbt unless nothing changed since the
    last build; return (runtime classpath, whether it was built now, source
    stamp)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program source next to the benchmark (build.sbt, src/main/scala)")
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cp:
                    return cp.read().split("\n"), False, stamp
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_DEADLINE_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed", 1)
    # flush the compiler's output now, not as disk writeback during the run
    os.sync()
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(os.path.join(HERE, "target", "classpath.txt")) as fh:
        classpath = fh.read().split("\n")
    with open(cp_file, "w") as fh:
        fh.write("\n".join(classpath))
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath, True, stamp


def run_jvm(classpath, args, work, deadline):
    """Run perfbench.Main; every file it writes stays under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-Dderby.system.home=" + tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}",
            "-Dspark.ui.enabled=false", "-cp", os.pathsep.join(classpath),
            "perfbench.Main"] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                            text=True)
    try:
        out, _ = proc.communicate(timeout=max(deadline - time.time(), 1))
    except subprocess.TimeoutExpired:
        fail("workload did not finish in time", 1)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.communicate()
    if proc.returncode != 0:
        sys.stderr.write(out[-4000:])
        fail(f"workload exited with code {proc.returncode}", 1)


def oracle_counts(input_dir, queries):
    """Row count of each query's DuckDB oracle over the same inputs."""
    import duckdb
    con = duckdb.connect()
    for f in sorted(os.listdir(input_dir)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(input_dir, f)}')")
    out = {}
    for name, sql in sorted(queries.items()):
        try:
            out[name] = con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        except duckdb.Error as e:
            out[name] = f"oracle error: {e}"
    return out


def untraced_unit(path, stamp):
    """unit_s_p50 of the untraced run at `path` if it measured this build."""
    if not os.path.isfile(path):
        return None
    with open(path) as fh:
        res = json.load(fh)
    return res["metrics"].get("unit_s_p50") if res.get("build_stamp") == stamp else None


def main():
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    if a.workload not in TABLES:
        fail(f"unknown workload {a.workload}; one of {', '.join(sorted(TABLES))}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    started = time.time()
    classpath, built, stamp = build()
    # a run that had to build gets its full time budget after the build
    deadline = (time.time() if built else started) + RUN_DEADLINE_S
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        inputs = os.path.join(work, "input")
        gen.generate(inputs, a.seed, SMOKE_SCALE if a.smoke else SCALE[a.workload],
                     TABLES[a.workload])
        out_file = os.path.join(work, "result.json")
        run_jvm(classpath,
                ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--input", inputs, "--work", os.path.join(work, "state"),
                 "--out", out_file],
                work, deadline)
        with open(out_file) as fh:
            res = json.load(fh)
        res["build_stamp"] = stamp
        if "oracle_sql" in res:
            want = oracle_counts(inputs, res["oracle_sql"])
            res["oracle_rows"] = want
            for name, got in sorted(res["spark_rows"].items()):
                if want.get(name) != got:
                    res["checks_failed"].append(
                        f"{name}: spark {got} rows, oracle {want.get(name)}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    stem = f"{a.workload}-seed{a.seed}-trace{{}}{'-smoke' if a.smoke else ''}.json"
    artifact = os.path.join(results, stem.format(a.trace))
    if a.trace:
        # beside the recorder's own time: traced minus untraced unit_s_p50,
        # when this build has an untraced run of the same seed
        plain = untraced_unit(os.path.join(results, stem.format(0)), stamp)
        if plain is not None:
            res["trace_vs_untraced_s"] = res["layers"]["trace.unit_s_p50"] - plain
    with open(artifact, "w") as fh:
        json.dump(res, fh, indent=1)

    key = "per_layer" if a.trace else "end_to_end"
    source = res["layers"] if a.trace else res["metrics"]
    # untraced: every end-to-end metric; traced: every per-layer metric of a
    # layer the workload exercises, and none of them 0
    must = [m["name"] for m in spec[key]
            if not a.trace or any(m["name"].startswith(p) for p in res["exercised"])]
    missing = [n for n in must if not source.get(n, 0) > 0]
    metrics = {m["name"]: {"value": source.get(m["name"], 0.0), "unit": m["unit"]}
               for m in spec[key]}
    correct = not res["checks_failed"] and not missing
    print(f"[perfbench] {a.workload} seed={a.seed}: "
          + " ".join(f"{k}={v:.4g}" for k, v in sorted(res["named"].items())))
    print(f"[perfbench] calibration probe: start {res['calibration_s']['start']:.3f} s, "
          f"end {res['calibration_s']['end']:.3f} s; "
          f"fail_ratio = {res['failed']}/{res['attempted']}")
    for f in res["failures"]:
        print(f"[perfbench] failed: {f['kind']}: {f['error'][:FAIL_MSG_CHARS]}")
    if "trace_vs_untraced_s" in res:
        print(f"[perfbench] traced minus untraced unit_s_p50: {res['trace_vs_untraced_s']:.3f} s")
    for c in res["checks_failed"] + [f"no value above 0 for {m}" for m in missing]:
        print(f"[perfbench] check failed: {c[:FAIL_MSG_CHARS]}")
    print(f"[perfbench] full record: {os.path.relpath(artifact, ROOT)}")
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
