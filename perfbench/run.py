#!/usr/bin/env python3
"""Repository benchmark: workloads driven through the engine's public
functions on local[4], each in fresh JVMs.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the engine and the
harness with the Scala compiler the Spark distribution ships, into
.bench_build/perfbench/classes; the classes are reused while no source
changes. With --trace 0 the last stdout line carries the end-to-end
metrics, with --trace 1 the per-layer metrics of one extra traced pass.
Above it every metric of the run is printed as `metric <workload> <name>
<value> <unit>`, further figures as `info ...` lines. The exit code is 1
when any pass fails or gives a wrong output, 2 when the build or a JVM
fails. README.md lists what each metric measures and what should move it.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # leave the benchmark's directory as checked out
import arith  # noqa: E402
import checks  # noqa: E402

ROOT = Path.cwd()
BUILD = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("pagerank_cli", "iterative_tiny")
DEFAULT_SEED = 42
HEAP = "3g"
BUILD_TIMEOUT_S = 600
# the benchmark JVMs of a run share this deadline, counted from the end of
# the build; a pagerank_cli or iterative_tiny run takes about a minute
RUN_TIMEOUT_S = 165
# fresh JVMs that only build the session; with the workload JVM's own
# build they are the setup_s samples. Each costs ~8 s of the run budget.
SETUP_PROBES = 1
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jar directory the engine's own build compiles against
    (its `unmanagedBase`), else `$SPARK_HOME/jars`."""
    sbt = ROOT / "build.sbt"
    m = sbt.exists() and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                                   sbt.read_text())
    candidates = [Path(m.group(1))] if m else []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    for d in candidates:
        if list(d.glob("spark-sql_*.jar")):
            return d
    die("no Spark jars found: set SPARK_HOME")


def scala_jar(jars, name):
    found = sorted(jars.glob(f"{name}-2.13.*.jar"))
    if not found:
        die(f"{name} 2.13 not found in {jars}")
    return str(found[-1])


def source_digest(jars):
    h = hashlib.sha256(str(jars).encode())
    files = []
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; returns the classpath.

    The Scala compiler and library are the ones the Spark distribution
    ships, so the build resolves nothing and needs no build tool."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die("engine sources not found: run from the repository root")
    jars = spark_jars()
    BUILD.mkdir(parents=True, exist_ok=True)
    stamp, cp_file = BUILD / "build.stamp", BUILD / "classpath.txt"
    digest = source_digest(jars)
    if cp_file.exists() and stamp.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    classes = BUILD / "classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir()
    stamp.unlink(missing_ok=True)
    srcs = [str(p) for base in (ROOT / "src" / "main" / "scala", HERE / "src")
            for p in sorted(base.rglob("*.scala"))]
    compiler = ":".join(scala_jar(jars, n) for n in
                        ("scala-compiler", "scala-library", "scala-reflect"))
    log = BUILD / "build.log"
    with open(log, "w") as f:
        try:
            r = subprocess.run(
                ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
                 f"-Djava.io.tmpdir={BUILD}", "-cp", compiler,
                 "scala.tools.nsc.Main", "-classpath", str(jars / "*"),
                 "-d", str(classes)] + srcs,
                cwd=BUILD, stdout=f, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die(f"build killed after {BUILD_TIMEOUT_S} s (log: {log})")
    if r.returncode != 0:
        sys.stderr.write("\n".join(log.read_text().split("\n")[-30:]) + "\n")
        die(f"build failed (log: {log})")
    cp = ":".join([str(classes), str(ROOT / "src" / "main" / "resources"),
                   str(jars / "*")])
    cp_file.write_text(cp)
    stamp.write_text(digest)
    return cp


def java(cp, work, args, deadline):
    tmp, local = work / "tmp", work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              # the driver binds to loopback whatever the host name resolves to
              "-Dspark.driver.host=localhost",
              "-Dspark.driver.bindAddress=127.0.0.1",
              f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
              "-cp", cp, "perfbench.Harness"] + args)
    log = work / "jvm.log"
    with open(log, "a") as f:
        try:
            r = subprocess.run(cmd, cwd=work, stdout=f, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL,
                               timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            die(f"benchmark JVM killed at the run's {RUN_TIMEOUT_S} s deadline "
                f"(log: {log})")
    if r.returncode != 0:
        sys.stderr.write("\n".join(log.read_text().split("\n")[-40:]) + "\n")
        die(f"benchmark JVM exited with {r.returncode} (log: {log})")


def check_passes(workload, raw, seed):
    """(attempted, failed, reasons) over every pass, the traced one too."""
    passes = raw["passes"] + ([raw["traced"]] if raw["traced"] else [])
    inputs = raw["inputs"]
    if workload == "pagerank_cli":
        n = checks.snap_endpoints(inputs["input"])
        check = lambda d: checks.pagerank_pass(d["out"], n, seed, DEFAULT_SEED)
    else:
        fx = checks.tiny_fixtures(inputs)
        check = lambda d: checks.tiny_pass(d, fx)
    reasons = []
    for p in passes:
        why = p["error"] if not p["ok"] else check(p["detail"])
        if not why and p["left_mb"] > 0:
            why = f"{p['left_mb']} MB still cached after clearing the session"
        if why:
            reasons.append(f"pass {p['pass']}: {why}")
    return len(passes), len(reasons), reasons


def timings(p):
    """The `_timings.csv` text a `PageRankMain` pass wrote."""
    with open(os.path.join(p["detail"]["out"], "_timings.csv")) as f:
        return f.read()


def metric_units(kind):
    """{name: unit} of the `end_to_end` or `per_layer` metrics that
    BENCHMARK.json, the benchmark's contract, declares."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def run_workload(cp, workload, seed, seconds, trace, deadline):
    """One workload in fresh JVMs; prints its metric lines and returns
    (attempted, failed, metrics for the result line)."""
    work = BUILD / "runs" / workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)

    setups = []
    for i in range(SETUP_PROBES):
        out = work / f"setup{i}.json"
        java(cp, work, ["--setup-only", str(out)], deadline)
        setups.append(json.loads(out.read_text())["setup_s"])
    raw_file = work / "raw.json"
    java(cp, work, ["--workload", workload, "--seed", str(seed),
                    "--seconds", str(seconds), "--trace", str(trace),
                    "--inputs", str(BUILD / "inputs"), "--work", str(work),
                    "--out", str(raw_file)], deadline)
    raw = json.loads(raw_file.read_text())
    setups.append(raw["setup_s"])

    attempted, failed, reasons = check_passes(workload, raw, seed)
    for r in reasons:
        print(f"FAIL {workload} {r}", file=sys.stderr)

    walls = [p["wall_s"] for p in raw["passes"]]
    warm = walls[1 + raw["warmup"]:]
    warm_s = statistics.median(warm)
    e2e = {"setup_s": statistics.median(setups), "warm_s": warm_s,
           "retained_heap_mb": raw["retained_heap_mb"]}
    info = {"cold_s": (walls[0], "s"),
            "warmup_pass_s": (walls[1], "s"),
            "warm_passes": (len(warm), "count"),
            "error_rate": (failed / attempted, "ratio"),
            "storage.cache_mb_per_pass": (
                max(p["cache_mb"] for p in raw["passes"]), "MB")}
    tail = arith.highest_percentile(warm)
    if tail:
        info[f"warm_p{tail[0]}_s"] = (tail[1], "s")
    if workload == "pagerank_cli":
        ok = [arith.timing_rows(timings(p)) for p in raw["passes"] if p["ok"]]
        if ok:
            info["superstep_s"] = (statistics.median(
                s for r in ok for s in arith.supersteps(r)), "s")
            # every pass parses the text again: a cache hit would show here
            info["sources.ingest_s_min_per_pass"] = (
                min(r["Setup"] for r in ok), "s")
    metrics = {k: {"value": e2e[k], "unit": u}
               for k, u in metric_units("end_to_end").items()}
    for k, m in metrics.items():
        print(f"metric {workload} {k} {m['value']} {m['unit']}")

    if trace:
        traced = raw["traced"]
        if not traced["ok"]:
            die(f"the traced pass failed: {traced['error']}")
        operators_s = None
        if workload == "pagerank_cli":
            cli = arith.cli_phases(timings(traced),
                                   arith.durations(traced["spans"])["cli.pagerank_main"])
            operators_s = cli["operators.pagerank_run_s"]
            for k, v in cli.items():
                info[k] = (v, "count" if k == "operators.supersteps" else "s")
        layer = arith.layer_metrics(
            traced, raw["cores"], arith.neighbour_wall(traced, raw["passes"]),
            raw["setup_s"], operators_s)
        metrics = {k: {"value": layer[k], "unit": u}
                   for k, u in metric_units("per_layer").items()}
        for k, m in metrics.items():
            print(f"metric {workload} {k} {m['value']} {m['unit']}")
        for k, v in sorted(arith.span_metrics(traced).items()):
            info[k] = (v, "s")
        info["shuffle.spill_mb"] = (layer["shuffle.spill_mb"], "MB")
        (work / "trace.json").write_text(json.dumps(
            {"spans": traced["spans"], "layers": traced["layers"]}))

    for k, (v, u) in info.items():
        print(f"info {workload} {k} {v} {u}")
    return attempted, failed, metrics


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    names = WORKLOADS if a.workload == "all" else (a.workload,)
    attempted = failed = 0
    metrics = {}
    for w in names:
        n, bad, m = run_workload(cp, w, a.seed, a.seconds, a.trace,
                                 time.monotonic() + RUN_TIMEOUT_S)
        attempted, failed = attempted + n, failed + bad
        metrics.update(m if len(names) == 1 else
                       {f"{w}/{k}": v for k, v in m.items()})
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
