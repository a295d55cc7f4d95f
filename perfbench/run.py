#!/usr/bin/env python3
"""Benchmark of the graft engine: one run of one workload.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
      [--cores <n>]

Builds the harness (perfbench/build.sbt, which compiles the repository's
own build one directory up) on first use, generates the workload's inputs
from the seed, runs the harness JVM on local[cores], checks the outputs
and prints one JSON line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end metrics; with --trace 1 the
per-layer metrics (listeners installed, spans kept), and the full trace
is written to .bench_build/trace/<workload>-<seed>.json. A replicate run
whose generator moved a file later than the workload's max_late_ms is
invalid: it exits 2 and prints no result.

Workloads, query lists and generator settings are in perfbench/workloads.json;
BENCHMARK.json lists the metrics. Everything built or written goes under
.bench_build/ in the repository root.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402

JVM_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
HARNESS_TIMEOUT_S = 165


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so an unchanged tree skips sbt."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True))
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("the program's sources (build.sbt, src/main/scala/graft) are not next to perfbench/")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = source_stamp(), os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true"):
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                           text=True, timeout=840)
        log.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines()
             if ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        die(f"build failed (exit {p.returncode}); see .bench_build/build.log")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def inputs(d, workload, spec, seed, seconds):
    """Generate the run's inputs from the seed into `d`."""
    if workload == "replicate":
        gen.replicate(d, seed, spec, seconds)
    elif workload == "dupgraph_ingest":
        gen.generate(d, seed, spec["sf"], tables=["documents"])
    else:
        gen.generate(d, seed, spec["sf"])


def oracle_failures(data, work, outputs):
    """Compare each query's parquet output with its DuckDB oracle: sorted
    column names, row count, then every row in result order (floats by repr),
    the comparison tools/check_oracle.py makes."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")

    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else repr(v)
        return repr(v)

    bad = []
    for name, sql in outputs.items():
        try:
            want = con.execute(sql).fetch_arrow_table()
            got = con.execute(f"SELECT * FROM '{work}/out/{name}/*.parquet'").fetch_arrow_table()
        except Exception as e:  # a query the oracle cannot read counts as wrong
            bad.append(f"{name}: oracle error: {e}")
            continue
        wc, gc = sorted(want.column_names), sorted(got.column_names)
        if wc != gc:
            bad.append(f"{name}: columns differ: {wc} vs {gc}")
        elif want.num_rows != got.num_rows:
            bad.append(f"{name}: rows differ: oracle {want.num_rows}, spark {got.num_rows}")
        else:
            w = [tuple(norm(r[c]) for c in wc) for r in want.to_pylist()]
            g = [tuple(norm(r[c]) for c in gc) for r in got.to_pylist()]
            if w != g:
                i = next(i for i, (a, b) in enumerate(zip(w, g)) if a != b)
                bad.append(f"{name}: first difference at row {i}: oracle {w[i]}, spark {g[i]}")
    return bad


def median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs):
    """Highest percentile with at least ten samples beyond it: (value, pct).
    With ten samples or fewer no percentile qualifies and the maximum is
    reported (pct 100)."""
    s = sorted(xs)
    k = len(s) - 10
    if k < 1:
        return s[-1], 100.0
    return s[k - 1], 100.0 * k / len(s)


def end_to_end(res):
    per_op = [median(v) for v in res["ops"].values()]
    pooled = [x for v in res["ops"].values() for x in v]
    tail_ms, pct = tail(pooled)
    return {
        "setup_s": res["setup_s"],
        "peak_rss_mb": res["peak_rss_mb"],
        "p50_ms": median(per_op),
        "tail_ms": tail_ms,
        "total_s": sum(per_op) / 1000.0,
        "geomean_ms": math.exp(sum(math.log(max(x, 1e-6)) for x in per_op) / len(per_op)),
    }, {"tail_pct": pct, "samples": len(pooled), "operations": len(per_op)}


def phase_lags(res):
    """The replicate workload's lag figures split by phase."""
    out = {}
    for phase in ("low", "high"):
        xs = [x for k, v in res["ops"].items() if k.startswith(phase + "/") for x in v]
        if xs:
            t, pct = tail(xs)
            out[f"lag_{phase}_p50_ms"] = median(xs)
            out[f"lag_{phase}_tail_ms"] = t
            out[f"lag_{phase}_tail_pct"] = pct
            out[f"lag_{phase}_samples"] = len(xs)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int)
    a = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        conf = json.load(f)
    if a.workload not in conf["workloads"]:
        die(f"unknown workload {a.workload}; one of {sorted(conf['workloads'])}")
    spec = conf["workloads"][a.workload]
    # a variant ("like": <workload>) runs that workload with some settings changed
    kind = spec.get("like", a.workload)
    spec = dict(conf["workloads"][kind], **spec) if "like" in spec else spec
    cores = a.cores or conf["cores"]
    cp = build()
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    data = os.path.join(work, "data")
    inputs(data, kind, spec, a.seed, a.seconds)
    out = os.path.join(work, "result.json")
    cmd = ["java", *JVM_OPENS, f"-Xms{conf['heap']}", f"-Xmx{conf['heap']}", f"-Djava.io.tmpdir={work}/tmp",
           "-cp", cp, "perfbench.Main", "--workload", kind, "--data", data,
           "--work", work, "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--cores", str(cores), "--out", out]
    if "queries" in spec:
        cmd += ["--queries", ",".join(spec["queries"])]
    if kind == "dupgraph_ingest":
        cmd += ["--base-docs", str(spec["base_docs"]), "--batch-docs", str(spec["batch_docs"])]
    log_path = os.path.join(BUILD, f"{a.workload}.log")
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               timeout=HARNESS_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"harness timed out after {HARNESS_TIMEOUT_S} s; see {log_path}")
    if p.returncode != 0 or not os.path.isfile(out):
        die(f"harness failed (exit {p.returncode}); see {log_path}")
    with open(out) as f:
        res = json.load(f)
    late = res["detail"].get("generator.late_ms_max", 0.0)
    if late > spec.get("max_late_ms", float("inf")):
        # the schedule did not run open-loop: the run measures the host, not the program
        die(f"run invalid: the generator moved a file {late:.0f} ms after its due time "
            f"(bound {spec['max_late_ms']} ms); see {log_path}")
    errors = list(res["errors"])
    attempted = res["attempted"]
    if res["outputs"]:
        errors += oracle_failures(data, work, res["outputs"])
        attempted += len(res["outputs"])
    if not res["ops"]:
        die(f"no operation completed; errors: {errors}")
    e2e, shape = end_to_end(res)
    info = dict(shape, **res["detail"])
    if kind == "replicate":
        info.update(phase_lags(res))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = json.load(f)["per_layer" if a.trace else "end_to_end"]
    if a.trace:
        values = dict(res["layer"], **{"trace.op_p50_ms": e2e["p50_ms"]})
        untraced = os.path.join(BUILD, "results", f"{a.workload}-{a.seed}-t0.json")
        if os.path.isfile(untraced):
            with open(untraced) as f:
                base = median([median(v) for v in json.load(f)["ops"].values()])
            info["tracing_overhead"] = e2e["p50_ms"] / base - 1
        os.makedirs(os.path.join(BUILD, "trace"), exist_ok=True)
        with open(os.path.join(BUILD, "trace", f"{a.workload}-{a.seed}.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "cores": cores,
                       "layer": values, "detail": info, "spans": res.get("spans", [])}, f)
    else:
        values = e2e
    missing = [m["name"] for m in listed if m["name"] not in values]
    if missing:
        die(f"metrics missing from the harness: {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in listed}
    summary = {"workload": a.workload, "seed": a.seed, "cores": cores, **info,
               "ops": res["ops"], "errors": errors}
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", f"{a.workload}-{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(summary, f)
    print(json.dumps(dict(summary, ops=len(res["ops"]), errors=errors[:20])), file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not errors, "attempted": attempted,
                      "failed": len(errors), "metrics": metrics}))


if __name__ == "__main__":
    main()
