#!/usr/bin/env python3
"""perfbench: seeded end-to-end and per-module benchmark of graft.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles src/main and
perfbench/src with the Scala compiler that ships in the Spark jars
directory ($SPARK_HOME/jars, else build.sbt's unmanagedBase) into .bench_build/;
later runs reuse the classes while the sources are unchanged. Each run
then generates its inputs from the seed, launches one JVM
(local[nproc], fixed heap), measures for --seconds, checks the outputs,
and prints two lines: the full run record, then the result line
{"correct", "attempted", "failed", "metrics"} as the last line.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
HEAP = "2g"
WORKLOADS = ["curate_10x", "dkv_facade", "serve_lookup", "ingest_serve"]
E2E = ["setup_s", "batch_s", "req_p50_ms", "req_p95_ms", "req_per_s", "commit_p50_ms",
       "commit_p90_ms", "ingest_docs_per_s", "bytes_per_input_byte", "peak_rss_mb"]
UNITS = {"setup_s": "s", "batch_s": "s", "req_p50_ms": "ms", "req_p95_ms": "ms",
         "req_per_s": "1/s", "commit_p50_ms": "ms", "commit_p90_ms": "ms",
         "ingest_docs_per_s": "1/s", "bytes_per_input_byte": "ratio", "peak_rss_mb": "MB"}
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jars directory build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        if m is None:
            fail("set SPARK_HOME, or run from a graft checkout whose build.sbt names unmanagedBase")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        fail("no src/main/scala under the working directory; run from a graft checkout")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return main + bench


def build():
    """Compile once per source digest; return the classes directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()[:16]
    out = os.path.join(BUILD, f"classes-{digest}")
    if os.path.isdir(out):
        return out, digest
    tmp = out + f".tmp{os.getpid()}"
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-cp", cp, "-d", tmp] + srcs, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("compilation failed")
    os.rename(tmp, out)
    return out, digest


def commit_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, timeout=10)
        return r.stdout.decode().strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(classes, workload, inputs, work, seconds, trace, out):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC"] + opens + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"),
        "perfbench.Main", "--workload", workload, "--inputs", inputs, "--work", work,
        "--seconds", str(seconds), "--trace", "1" if trace else "0", "--out", out])
    log = os.path.join(work, "jvm.log")
    with open(log, "wb") as f:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=f, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=150)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log, "rb") as f:
            text = f.read().decode(errors="replace")
        causes = [ln for ln in text.splitlines() if "Exception" in ln and not ln.startswith("\t")]
        sys.stderr.write("\n".join(causes[:6]) + "\n" + text[-1500:])
        fail(f"benchmark JVM exited with {rc}")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classes, digest = build()
    t0 = time.time()  # set-up starts here; the one-off compile is not set-up
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-{os.getpid()}")
    inputs, work = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "work")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(work)
    try:
        gen.generate(a.workload, a.seed, inputs)
        res = run_jvm(classes, a.workload, inputs, work, a.seconds, a.trace == 1,
                      os.path.join(run_dir, "result.json"))
        check_fails, checked = check.run_checks(a.workload, inputs, work)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    failures = res["failures"] + check_fails
    attempted = int(res["attempted"]) + checked
    failed = len(failures)
    e2e = dict(res["metrics"])
    e2e["setup_s"] = res["ready_epoch_ms"] / 1000.0 - t0
    e2e["peak_rss_mb"] = res["peak_rss_mb"]
    layers = {k: {"value": v, "unit": _unit(k)} for k, v in sorted(res["layers"].items())}
    if a.trace:
        names = per_layer_names() or list(layers)
        metrics = {k: layers[k] for k in names if k in layers}
    else:
        names = E2E
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in E2E if e2e.get(k) is not None}
    missing = [m for m in names if m not in metrics]
    if missing:
        failures.append(f"{a.workload}/metrics: MissingMetric: {', '.join(missing)}")
        failed += 1
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": int(res["cpus"]), "commit": commit_sha(), "source_digest": digest,
        "attempted": attempted, "failed": failed, "fail_frac": failed / max(attempted, 1),
        "failures": failures, "samples": int(res["samples"]), "series_ms": res["series_ms"],
        "setup_phases_s": {
            "to_jvm_start": res["jvm_start_epoch_ms"] / 1000.0 - t0,
            "jvm_to_session": (res["session_epoch_ms"] - res["jvm_start_epoch_ms"]) / 1000.0,
            "session_to_ready": (res["ready_epoch_ms"] - res["session_epoch_ms"]) / 1000.0},
        "calib_first_s": res["calib_first_s"], "calib_last_s": res["calib_last_s"],
        "end_to_end": {k: {"value": e2e.get(k), "unit": UNITS[k]} for k in E2E},
        "per_layer": layers,
    }
    line = json.dumps(record, sort_keys=True, ensure_ascii=True)
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    with open(os.path.join(BUILD, "records", f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        f.write(line + "\n")
    print(line)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}, sort_keys=True, ensure_ascii=True))


def per_layer_names():
    """The per-layer metrics BENCHMARK.json names, if it is present."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            return [m["name"] for m in json.load(f)["per_layer"]]
    except (OSError, KeyError, ValueError):
        return None


def _unit(name):
    """Unit of a per-layer metric, from its name."""
    leaf = name.split(".")[-1]
    if leaf in UNITS:
        return UNITS[leaf]
    for suffix, unit in (("_ms", "ms"), ("_mb", "MB"), ("_ns_per_doc", "ns")):
        if leaf.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    main()
