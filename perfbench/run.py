#!/usr/bin/env python3
"""perfbench: one seeded, timed run of one workload of the graft engine.

Run from the root of a checkout of the repository:

  python3 perfbench/run.py --workload lookup_etl --seed 1 --seconds 10 --trace 0

Builds the engine from `src/main/scala` and the harness from
`perfbench/harness` (cached by content hash under `target/perfbench/`),
generates the seeded inputs, computes the reference outputs in DuckDB,
runs the workload in one JVM on `local[<cores>]`, and prints the metrics:
a table on the way, and as the last line one JSON object with `correct`,
`attempted`, `failed` and `metrics`. `--trace 0` reports the end-to-end
metrics of BENCHMARK.json, `--trace 1` the per-layer ones. See
perfbench/README.md for the workloads and every metric.
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

sys.dont_write_bytecode = True  # write nothing into the checkout but target/
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402
import metrics as M  # noqa: E402
import reference  # noqa: E402

WORK = os.path.join("target", "perfbench")
DEADLINE_S = 170
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]

END_TO_END = ("setup_s", "cold_s", "run_s", "peak_rss_mb")
# The speed probe's time (perfbench/harness/Speed.scala, all cores) on an
# idle 4-core Xeon (2 GHz, KVM guest): `setup_s`, `cold_s` and `run_s` are
# wall times scaled to a machine on which the probe takes this long.
PROBE_REF_S = 0.3


class Parser(argparse.ArgumentParser):
    def error(self, message):
        sys.stderr.write(f"run.py: {message}\n")
        sys.exit(2)


def parse_args(argv):
    p = Parser(prog="run.py", add_help=False, allow_abbrev=False)
    p.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = p.parse_args(argv)
    if not a.seconds > 0:
        p.error("--seconds must be > 0")
    return a


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def sh(cmd, logfile, timeout):
    with open(logfile, "ab") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt names as its
    `unmanagedBase`; it holds Spark and the Scala compiler."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open("build.sbt") as f:
        return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)


def scalac(out, classpath, sources, logfile, timeout):
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath] + sources
    if sh(cmd, logfile, timeout) != 0:
        raise RuntimeError(f"scalac failed, see {logfile}")


def build(deadline):
    """Compile the engine into a jar and the harness against it; cached by
    the content hash of both source trees. Returns the build directory and
    whether it was built now."""
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    harness = sorted(glob.glob("perfbench/harness/*.scala"))
    h = hashlib.sha256()
    for f in main + harness:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    d = os.path.join(WORK, "build", h.hexdigest()[:16])
    if os.path.exists(os.path.join(d, "ok")):
        return d, False
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    logfile = os.path.join(d, "build.log")
    log(f"building {len(main)} engine sources and {len(harness)} harness sources")
    scalac(os.path.join(d, "classes"), os.path.join(spark_jars(), "*"), main,
           logfile, deadline - time.time())
    sh(["jar", "cf", os.path.join(d, "graft.jar"), "-C", os.path.join(d, "classes"), "."],
       logfile, deadline - time.time())
    scalac(os.path.join(d, "harness"), f"{d}/graft.jar:{spark_jars()}/*", harness,
           logfile, deadline - time.time())
    if sh(["java", "-cp", classpath(d), "perfbench.OracleDump", os.path.join(d, "oracle.json")],
          logfile, deadline - time.time()) != 0:
        raise RuntimeError(f"oracle dump failed, see {logfile}")
    open(os.path.join(d, "ok"), "w").close()
    return d, True


def file_hash(*paths):
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def classpath(d):
    return f"{d}/harness:{d}/graft.jar:{spark_jars()}/*"


def metric(v, unit):
    return {"value": float(v), "unit": unit}


def end_to_end(res):
    """`setup_s`, `cold_s` and `run_s` are wall times scaled by the run's
    speed probes (PROBE_REF_S over their median), because the host's speed
    drifts by tens of percent from minute to minute; the raw walls are
    printed as `setup_wall_s`, `cold_wall_s` and `run_wall_s`."""
    runs = res["runs"]
    warm = [r["wall"] for r in runs if r["kind"] == "warm"]
    cold = next(r for r in runs if r["kind"] == "cold")
    probe = M.median([p["s"] for p in res["probes"]])
    scale = PROBE_REF_S / probe if probe else 1.0
    run_s = [w * scale for w in warm]
    q1, q3 = M.quartiles(run_s)
    setup = M.median(res["setup_s"])
    return {"setup_s": (setup * scale, "s"), "cold_s": (cold["wall"] * scale, "s"),
            "run_s": (M.median(run_s), "s"), "peak_rss_mb": (res["peak_rss_mb"], "MB"),
            "run_s.q1": (q1, "s"), "run_s.q3": (q3, "s"), "run_s.samples": (len(run_s), "count"),
            "setup_wall_s": (setup, "s"), "cold_wall_s": (cold["wall"], "s"),
            "run_wall_s": (M.median(warm), "s"), "probe_s": (probe, "s"),
            "sink_mb": (res["sink_mb"], "MB"),
            "error_rate": (res["failed"] / max(1, res["attempted"]), "ratio"),
            "refused": (res["refused"], "count")}


PER_LAYER_UNITS = {"_s": "s", "_mb": "MB", "_frac": "ratio", "_yield": "ratio"}
PER_LAYER = (
    "io.read_s io.write_s io.write_mb io.files io.manifest_s "
    "config.validate_s lookup.build_s lookup.exec_s lookup.broadcast_joins lookup.unmatched_frac "
    "text.build_s text.exec_s text.keep_frac "
    "dedup.build_s dedup.exec_s dedup.eager_jobs dedup.candidate_pairs dedup.verified_pairs "
    "dedup.pair_yield split.build_s split.eager_jobs split.exec_s "
    "knn.build_s knn.eager_jobs knn.exec_s knn.candidates knn.edges knn.candidate_yield "
    "spark.analysis_s spark.optimization_s spark.planning_s spark.codegen_compiles "
    "spark.codegen_compile_s spark.jobs spark.stages spark.tasks spark.executor_run_s "
    "spark.executor_cpu_s spark.gc_s spark.shuffle_write_mb spark.shuffle_read_mb "
    "spark.fetch_wait_s spark.spill_mb spark.driver_gap_s "
    "cache.peak_mb trace.run_s trace.unattributed_s trace_overhead_s"
).split()


def unit_of(name):
    for suffix, unit in PER_LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def per_layer(res):
    """Per-layer metrics of the traced runs, as the mean over traced runs;
    codegen and planning phases come from the cold run, where they are
    paid."""
    traced = [r for r in res["runs"] if r["kind"] == "traced"]
    warm = [r["wall"] for r in res["runs"] if r["kind"] == "warm"]
    cold = next(r for r in res["runs"] if r["kind"] == "cold")
    n = max(1, len(traced))
    vals = dict.fromkeys(PER_LAYER, 0.0)
    for r in traced:
        spans = [(s["name"], s["start"], s["end"]) for s in res["spans"] if s["run"] == r["id"]]
        for name, self_s in M.self_times(spans):
            key = "trace.unattributed_s" if name == "run" else f"{name}_s"
            if key in vals:
                vals[key] += self_s / n
        jobs = [(j["start"], j["end"]) for j in res["jobs"] if j["run"] == r["id"]]
        vals["spark.driver_gap_s"] += M.driver_gap(r["start"], r["end"], jobs) / n
        for k, v in r["counters"].items():
            if f"spark.{k}" in vals and k not in ("analysis_s", "optimization_s", "planning_s",
                                                  "codegen_compiles", "codegen_compile_s"):
                vals[f"spark.{k}"] += v / n
        for k, v in res["extras"].get(str(r["id"]), {}).items():
            if k in vals:
                vals[k] = max(vals[k], v) if k == "cache.peak_mb" else vals[k] + v / n
    for k in ("analysis_s", "optimization_s", "planning_s", "codegen_compiles", "codegen_compile_s"):
        vals[f"spark.{k}"] = cold["counters"].get(k, 0.0)
    if traced:
        vals["trace.run_s"] = M.median([r["wall"] for r in traced])
        vals["trace_overhead_s"] = vals["trace.run_s"] - M.median(warm)
    vals["dedup.pair_yield"] = vals["dedup.verified_pairs"] / max(1.0, vals["dedup.candidate_pairs"])
    vals["knn.candidate_yield"] = vals["knn.edges"] / max(1.0, vals["knn.candidates"])
    return {k: (v, unit_of(k)) for k, v in vals.items()}


def main(argv):
    a = parse_args(argv)
    t_start = time.time()
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala")):
        sys.stderr.write("run.py: run from the root of a checkout of the repository "
                         "(no build.sbt / src/main/scala here)\n")
        return 2
    for sub in ("tmp", "data"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    d, built = build(t_start + 900)
    # a run that had to build first gets its full time after the build
    deadline = (time.time() if built else t_start) + DEADLINE_S
    data = os.path.join(WORK, "data", f"{a.workload}-s{a.seed}-{file_hash(gen.__file__)}")
    meta = gen.generate(a.workload, a.seed, 1.0, data)
    log(f"inputs {data}: rows {meta['rows']} shares {meta['shares']}")
    ref = reference.reference(a.workload, data, os.path.join(d, "oracle.json"),
                              file_hash(reference.__file__, os.path.join(d, "oracle.json")))
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    with open(os.path.join(run_dir, "ref.json"), "w") as f:
        json.dump(ref, f)
    out = os.path.join(run_dir, "result.json")
    cmd = (["java", "-Xss16m", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy"] + ADD_OPENS +
           [f"-Djava.io.tmpdir={os.path.abspath(os.path.join(WORK, 'tmp'))}",
            "-cp", classpath(d), "perfbench.Harness",
            "--workload", a.workload, "--data", data, "--ref", os.path.join(run_dir, "ref.json"),
            "--work", run_dir, "--out", out, "--seconds", str(a.seconds),
            "--trace", str(a.trace)])
    logfile = os.path.join(run_dir, "harness.log")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.abspath(os.path.join(run_dir, "spark-local"))
    try:
        rc = sh(cmd, logfile, deadline - time.time())
    except subprocess.TimeoutExpired:
        rc = "a timeout"
    if rc != 0 or not os.path.exists(out):
        sys.stderr.write(f"run.py: harness exited with {rc}, see {logfile}\n")
        return 1
    with open(out) as f:
        res = json.load(f)
    for e in res["errors"]:
        log(f"error: {e}")
    table = end_to_end(res)
    if a.trace:
        table.update(per_layer(res))
    for k, (v, unit) in table.items():
        print(f"{a.workload:15s} {k:28s} {v:14.6f} {unit}")
    names = PER_LAYER if a.trace else END_TO_END
    line = {"correct": res["failed"] == 0 and res["refused"] == 0 and not res["errors"],
            "attempted": res["attempted"], "failed": res["failed"],
            "metrics": {k: metric(*table[k]) for k in names}}
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
