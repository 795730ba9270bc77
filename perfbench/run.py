#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload sql --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The first run builds the engine
and the harness with sbt and generates the workload's fixtures; later
runs reuse both while the sources are unchanged. Each run writes one
artifact under perfbench/runs/ and prints, as its last stdout line, one
JSON object with the end-to-end metrics (--trace 0) or the per-layer
metrics (--trace 1). Exits non-zero if any op failed or returned a wrong
result. See perfbench/README.md for the metrics and workloads."""
import argparse
import datetime
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
import layers  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
RUNS = os.path.join(HERE, "runs")
BASE = os.path.join(HERE, "data", "base")
WORKLOADS = ("sql", "cdr", "planted")
JVM_TIMEOUT_S = 170
# fixed 2 GiB heap and the throughput collector: on a 4-core box G1's
# concurrent threads compete with the task threads, and measured passes
# were both slower and more spread under it
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC"]
IGNORED_ENV = {"JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS"}
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print("perfbench: " + msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_files():
    """Every file the build reads, in a stable order."""
    out = []
    for top in ("build.sbt", "project", "src/main",
                "perfbench/build.sbt", "perfbench/project", "perfbench/src"):
        p = os.path.join(ROOT, top)
        if os.path.isfile(p):
            out.append(p)
        for d, dirs, files in os.walk(p):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            out += [os.path.join(d, f) for f in sorted(files)
                    if f.endswith((".scala", ".sbt", ".properties", ".java"))
                    or "META-INF" in d]
    return out


def source_stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def spark_jars():
    """The Spark jar directory the engine build compiles against (its
    `unmanagedBase`), else $SPARK_HOME/jars."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  open(os.path.join(ROOT, "build.sbt")).read())
    if m:
        return m.group(1)
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    fail("cannot locate the Spark jars: no unmanagedBase in build.sbt, no SPARK_HOME")


def classpath():
    return os.pathsep.join([
        os.path.join(ROOT, "target", "scala-2.13", "classes"),
        os.path.join(HERE, "target", "scala-2.13", "classes"),
        os.path.join(spark_jars(), "*")])


def build(stamp):
    """sbt-compile the engine and the harness unless this exact source
    tree was built already."""
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return 0.0
    os.makedirs(WORK, exist_ok=True)
    t0 = time.time()
    log("building engine and harness (sbt compile)")
    with open(os.path.join(WORK, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "-batch", "compile"], cwd=HERE, stdout=out,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                           timeout=850)
    if r.returncode != 0:
        with open(os.path.join(WORK, "build.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("build failed", 1)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return time.time() - t0


# ------------------------------------------------------------------ JVM

def java(args, log_path, timeout):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd += JVM_FLAGS + ["-Djava.io.tmpdir=" + tmp, "-cp", classpath(),
            "graft.perfbench.Main"] + args
    # the run's configuration is the harness's own: no Spark or JVM knob
    # from the caller's environment reaches the JVM
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_") and k not in IGNORED_ENV}
    with open(log_path, "w") as out:
        try:
            return subprocess.run(cmd, cwd=WORK, stdout=out, stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL, env=env,
                                  timeout=timeout).returncode
        except subprocess.TimeoutExpired:
            log("harness timed out after %d s; see %s" % (timeout, log_path))
            return -1


# ------------------------------------------------------------- fixtures

def dir_bytes(path):
    n = 0
    for d, _, files in os.walk(path):
        n += sum(os.path.getsize(os.path.join(d, f)) for f in files
                 if not f.startswith(".") and not f.startswith("_"))
    return n


def table_census(fx):
    """Rows and bytes of every input table of a fixture directory."""
    out = {}
    for name in sorted(os.listdir(fx)):
        p = os.path.join(fx, name)
        if name.endswith(".parquet"):
            out[name] = {"rows": oracle.parquet_rows(p), "bytes": dir_bytes(p)}
        elif name in ("corpus", "seqfile"):
            rows = None
            if name == "corpus":
                rows = 0
                for f in os.listdir(p):
                    if f.startswith("part-"):
                        with open(os.path.join(p, f), "rb") as fh:
                            rows += sum(chunk.count(b"\n") for chunk in iter(lambda: fh.read(1 << 20), b""))
            out[name] = {"rows": rows, "bytes": dir_bytes(p)}
    return out


def fixtures(workload, smoke, stamp):
    """The workload's input directory, generated on first use and checked
    (row counts and bytes of every table) before every run."""
    key = workload + ("-smoke" if smoke else "")
    fx = os.path.join(WORK, "fixtures", key)
    manifest_path = os.path.join(WORK, "fixtures", key + ".json")
    if os.path.exists(manifest_path):
        manifest = json.load(open(manifest_path))
        if manifest.get("stamp") == stamp and os.path.isdir(fx):
            census = table_census(fx)
            if census == manifest["tables"]:
                return fx, manifest
            log("fixture %s changed on disk; regenerating" % key)
    shutil.rmtree(fx, ignore_errors=True)
    os.makedirs(os.path.dirname(fx), exist_ok=True)
    t0 = time.time()
    log("generating fixture %s" % key)
    code = java(["fixtures", "--workload", workload, "--base", BASE, "--out", fx,
                 "--work", os.path.join(WORK, "gen"), "--smoke", "1" if smoke else "0"],
                os.path.join(WORK, "fixtures", key + ".log"), 600)
    if code != 0:
        fail("fixture generation failed; see %s" % os.path.join(WORK, "fixtures", key + ".log"), 1)
    golden = oracle.goldens(fx)
    manifest = {"stamp": stamp, "fixture_s": time.time() - t0,
                "tables": table_census(fx), "golden": golden}
    with open(manifest_path, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return fx, manifest


# ------------------------------------------------------------ provenance

def git(*args):
    try:
        r = subprocess.run(["git"] + list(args), cwd=ROOT, capture_output=True,
                           text=True, timeout=30)
        return r.stdout.strip() if r.returncode == 0 else None
    except OSError:
        return None


def machine():
    mem = None
    try:
        for line in open("/proc/meminfo"):
            if line.startswith("MemTotal:"):
                mem = int(line.split()[1]) * 1024
    except OSError:
        pass
    return {"nproc": os.cpu_count(), "mem_total_bytes": mem,
            "load_avg": list(os.getloadavg())}


# -------------------------------------------------------------- metrics

def end_to_end(raw):
    timed = [p for p in raw["passes"] if p["kind"] == "timed"]
    pass_s = [p["s"] for p in timed]
    timed_ids = {p["pass"] for p in timed}
    per_op = {}
    for a in raw["attempts"]:
        # a failed attempt is counted in `failed`, never timed
        if a["pass"] in timed_ids and not a["error"] and not a["wrong"]:
            per_op.setdefault(a["op"], []).append(a["s"])
    op_medians = [stats.median(v) for v in per_op.values()]
    op_all = [s for v in per_op.values() for s in v]
    rps = [p["records"] / p["s"] for p in timed]
    return {
        "pass_s": (stats.timing(pass_s), "s"),
        "op_geomean_s": ({"median": stats.geomean(op_medians), "n": len(op_medians),
                          "op_s": stats.timing(op_all)}, "s"),
        "setup_s": ({"median": raw["setup_s"], "n": 1}, "s"),
        "heap_peak_mb": ({"median": max(p["heap_after_gc_mb"] for p in raw["passes"]),
                          "n": len(raw["passes"])}, "MB"),
        "records_per_s": (stats.timing(rps), "records/s"),
    }


def describe(name, m, unit):
    s = "%-16s %14.6g %-10s n=%d" % (name, m["median"], unit, m["n"])
    if m.get("tail") is not None:
        s += "  p%d=%.6g" % (m["tail_pct"], m["tail"])
    return s


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny fixtures (base tables as they are, 10k CDR records)")
    args = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail("not a graft source checkout: %s is missing under %s" % (need, ROOT))
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    started = datetime.datetime.now(datetime.timezone.utc)
    load_start = machine()
    stamp = source_stamp()
    build_s = build(stamp)
    fx, manifest = fixtures(args.workload, args.smoke, stamp)

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    raw_path = os.path.join(run_dir, "raw.json")
    code = java(["run", "--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--fixtures", fx, "--base", BASE, "--work", run_dir,
                 "--out", raw_path, "--smoke", "1" if args.smoke else "0"],
                os.path.join(WORK, "run.log"), JVM_TIMEOUT_S)
    if code != 0 or not os.path.exists(raw_path):
        sys.stderr.write(open(os.path.join(WORK, "run.log")).read()[-4000:])
        fail("harness exited with %s" % code, 1)
    raw = json.load(open(raw_path))

    mismatched = oracle.check(os.path.join(run_dir, "dumps"), manifest["golden"],
                              [o["name"] for o in raw["ops"] if o["oracle"]])
    attempted, failed, why = stats.failures(raw["attempts"], mismatched)
    ops = [o["name"] for o in raw["ops"]]
    correct_ops = [o for o in ops if o not in why]
    for op, reasons in sorted(why.items()):
        for r in reasons:
            log("FAIL %s: %s" % (op, r))

    e2e = end_to_end(raw)
    per_layer = layers.per_layer(raw) if args.trace else {}
    printed = per_layer if args.trace else {k: (m["median"], u) for k, (m, u) in e2e.items()}

    commit = git("rev-parse", "HEAD")
    dirty = bool(git("status", "--porcelain")) if commit else None
    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke,
        "commit": commit, "dirty": dirty, "source_sha256": stamp,
        "started_utc": started.isoformat(),
        "machine": {**load_start, "load_avg_end": list(os.getloadavg())},
        "build_s": build_s, "fixture_s": manifest["fixture_s"],
        "fixture_tables": manifest["tables"],
        "warmup_passes": raw["warmup_passes"], "timed_passes": raw["timed_passes"],
        "spark_conf": raw["spark_conf"], "jvm_flags": raw["jvm_flags"],
        "jvm_load_avg": [raw["load_avg_start"], raw["load_avg_end"]],
        "correct": len(correct_ops), "ops": len(ops), "failures": why,
        "attempted": attempted, "failed": failed,
        "fail_frac": failed / attempted,
        "end_to_end": {k: dict(m, unit=u) for k, (m, u) in e2e.items()},
        "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()},
        "raw": raw,
    }
    os.makedirs(RUNS, exist_ok=True)
    name = "%s_seed%d_%s_%s%s.json" % (
        args.workload, args.seed, (commit or "nogit-" + stamp)[:12],
        started.strftime("%Y%m%dT%H%M%S%fZ"), "_trace" if args.trace else "")
    with open(os.path.join(RUNS, name), "w") as f:
        json.dump(artifact, f, indent=1)

    print("workload %s seed %d: %d warm-up passes, %d timed passes, fixture %.1f s"
          % (args.workload, args.seed, raw["warmup_passes"], raw["timed_passes"],
             manifest["fixture_s"]))
    for k, (m, u) in e2e.items():
        print(describe(k, m, u))
    # the per-attempt op times behind op_geomean_s, with their tail
    print(describe("op_s", e2e["op_geomean_s"][0]["op_s"], "s"))
    print("%-16s %14.6g %-10s n=%d" % ("fail_frac", failed / attempted, "ratio", attempted))
    if args.trace:
        for k, v in artifact["per_layer"].items():
            print("%-40s %14.6g %s" % (k, v["value"], v["unit"]))
    print("correct %d/%d" % (len(correct_ops), len(ops)))
    print("artifact perfbench/runs/%s" % name)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in printed.items()}}))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
