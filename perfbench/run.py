#!/usr/bin/env python3
"""The repository's benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (about two minutes) and caches the classpath;
later runs reuse it while no source or build file changes. Every file the
benchmark writes goes under `.bench_build/` (or `$CARGO_TARGET_DIR`).

The workloads, metrics and bounds are declared in BENCHMARK.json and
explained in perfbench/README.md. The last line of standard output is the
result: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 they are the per-layer
ones, and the spans are written next to the run record.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# size of the batch mix's tables, relative to the engine's sf0.1 set
BATCH_SCALE = 0.05
JVM_HEAP = "2g"
# JDK 17 module opens Spark needs outside spark-submit (the list
# org.apache.spark.launcher.JavaModuleOptions carries)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# the JVM's share of the 180 s a run may take once the build is cached
JVM_LIMIT_S = 165


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.abspath(os.path.join(ROOT, d))


def source_files():
    """Every file whose change calls for a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(base):
            files += [os.path.join(base, f) for f in os.listdir(base)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build(out):
    """Compile engine and harness; return the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    fingerprint = h.hexdigest()
    cache = os.path.join(out, "classpath.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            c = json.load(fh)
        if c.get("fingerprint") == fingerprint:
            return c["classpath"]
    log = os.path.join(out, "build.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={out}/sbt-global", f"-Dsbt.ivy.home={out}/ivy",
           "compile", "export Runtime/fullClasspath"]
    print("perfbench: building engine and harness with sbt", file=sys.stderr)
    with open(log, "w") as fh:
        r = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE,
                           stderr=fh, text=True, timeout=850)
        fh.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if ".jar" in l and os.pathsep in l]
    if r.returncode != 0 or not lines:
        die(f"build failed (exit {r.returncode}); see {log}")
    classpath = lines[-1].strip()
    with open(cache, "w") as fh:
        json.dump({"fingerprint": fingerprint, "classpath": classpath}, fh)
    return classpath


def batch_data(out, seed):
    d = os.path.join(out, "data", f"seed{seed}-scale{BATCH_SCALE}")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen_tables.py"),
                        d, str(seed), str(BATCH_SCALE)], check=True)
        open(os.path.join(d, "done"), "w").close()
    return d


def oracle_check(data, results):
    """Compare each query's parquet result with its DuckDB oracle through
    the repository's typed checker (tools/check.py). Returns (passed,
    failed, detail lines)."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check  # noqa: E402  (tools/check.py)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check.main(data, results)
    lines = buf.getvalue().splitlines()
    passed = sum(l.startswith("PASS") for l in lines)
    failed = sum(l.startswith(("FAIL", "ERR")) for l in lines)
    return passed, failed, [l for l in lines if l.startswith(("FAIL", "ERR", " "))]


def run_jvm(classpath, args, work, data, out_file):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed heap: peak RSS then does not hang on when the collector
    # chose to grow the heap. The serial collector: on a VM whose vCPUs
    # other tenants share, a parallel collection waits for its slowest
    # worker thread. With two cores of a 4-core VM kept busy by another
    # process, the default collector made cdc_live freshness on local[4]
    # 2.3x worse, the serial one 1.5x; on a quiet VM the serial one was as
    # fast.
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseSerialGC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dderby.stream.error.file={tmp}/derby.log",
            f"-Dlog4j2.configurationFile=file:{HERE}/log4j2.properties",
            "-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out_file]
    if data:
        cmd += ["--data", data]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=JVM_LIMIT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"run exceeded {JVM_LIMIT_S} s; see {log}")
    if p.returncode != 0 or not os.path.exists(out_file):
        die(f"benchmark JVM exited with {p.returncode}; see {log}")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"engine source '{need}' not found next to perfbench/; "
                "run from the root of a full checkout")

    out = build_dir()
    os.makedirs(out, exist_ok=True)
    classpath = build(out)
    # the traced cdc_catchup run also times the batch query mix
    data = batch_data(out, args.seed) if args.workload == "cdc_catchup" and args.trace else ""
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(out, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out_file = os.path.join(work, "result.json")
    run_jvm(classpath, args, work, data, out_file)
    with open(out_file) as fh:
        res = json.load(fh)

    report = list(res["report"])
    results = os.path.join(work, "results")
    if data and not os.path.exists(os.path.join(results, "oracle_sql.json")):
        res["errors"].append("the batch mix did not run")
    elif data:
        passed, failed, detail = oracle_check(data, results)
        res["attempted"] += passed + failed
        res["failed"] += failed
        res["errors"] += detail
        report.append(f"oracle: {passed} of {passed + failed} batch query results "
                      "match their DuckDB oracle")
    res["correct"] = res["failed"] == 0 and not res["errors"]
    report.append(f"failed_frac = {res['failed'] / max(1, res['attempted']):.6f} "
                  f"({res['failed']} of {res['attempted']} operations)")

    kind = "per_layer" if args.trace else "end_to_end"
    metrics, unexercised = {}, []
    for m in bench[kind]:
        got = res["metrics"].get(m["name"])
        if got is None and kind == "end_to_end":
            die(f"run did not measure {m['name']}: " + "; ".join(res["errors"]))
        if got is None:
            unexercised.append(m["name"])
        metrics[m["name"]] = {"value": got["value"] if got else 0.0, "unit": m["unit"]}
    if unexercised:
        report.append(f"{len(unexercised)} layer metrics not exercised by "
                      f"{args.workload}, reported as 0: {', '.join(unexercised)}")

    record = dict(res, workload=args.workload, seed=args.seed,
                  seconds=args.seconds, trace=args.trace, report=report)
    runs = os.path.join(out, "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    if args.trace:
        shutil.copy(out_file + ".spans.json", os.path.join(runs, f"{tag}.spans.json"))

    for line in report:
        print(f"# {line}")
    for e in res["errors"]:
        print(f"# error: {e}")
    rss = res["metrics"].get("rss_peak_mb")
    if rss and args.trace:
        print(f"# rss_peak_mb = {rss['value']:.1f} MB")
    for name, m in metrics.items():
        print(f"# {name} = {m['value']} {m['unit']}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
