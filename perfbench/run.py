#!/usr/bin/env python3
"""graft's benchmark: bulk replay, trickle ingest with reads, and the query suite.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all ...      # every workload, one record each
    python3 perfbench/run.py --smoke                 # tiny sizes; checks the benchmark itself

It builds the engine and the harness from source (sbt, offline) into
`.bench_build/perfbench`, runs one JVM per workload leg, and prints, as its last
line, one JSON object with the keys correct, attempted, failed and metrics.
See perfbench/README.md for the workloads, metrics and the traced run.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
DATA = HERE / "data" / "sf0.01"
PINS = HERE / "pinned" / "sf0.01.json"
# bulk_replay runs on request only: it is too slow for the default set (see
# README.md)
WORKLOADS = ["trickle_mixed", "query_suite"]
EXTRA_WORKLOADS = ["bulk_replay"]
CORES = 4
# JDK 17 module openings Spark needs outside spark-submit (the same list as
# the engine's build.sbt javaOptions)
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]
LEG_TIMEOUT_S = 170

_children = []
_workdirs = []


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cleanup(*_):
    for p in _children:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
    for d in _workdirs:
        shutil.rmtree(d, ignore_errors=True)


def on_signal(signum, _frame):
    cleanup()
    sys.exit(128 + signum)


def check_checkout():
    """The benchmark builds the engine from the checkout it sits in."""
    missing = [p for p in ("build.sbt", "src/main/scala", "project/build.properties")
               if not (ROOT / p).exists()]
    if missing:
        log(f"not a graft checkout (missing {', '.join(missing)} under {ROOT})")
        sys.exit(2)
    if not (DATA.is_dir() and PINS.is_file()):
        log("benchmark data or pinned hashes missing")
        sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        inputs += sorted(p for p in base.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile the engine (with its own build.sbt) and the harness; cache the
    runtime classpath. Skipped when no source changed since the last build."""
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        cp = cp_file.read_text().strip()
        if all(Path(e).exists() for e in cp.split(os.pathsep) if not e.endswith(".jar")):
            return cp
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    log("building engine and harness with sbt")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        log("build failed")
        sys.exit(3)
    lines = [l for l in r.stdout.splitlines() if ".jar" in l and os.pathsep in l
             and not l.startswith("[")]
    if not lines:
        log("build printed no classpath")
        sys.exit(3)
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return lines[-1].strip()


def baseline_key(workload, seconds, extra):
    return "|".join([(BUILD / "stamp").read_text(), workload, str(seconds)] + list(extra))


def untraced_baseline(key):
    """Median work_s of the untraced runs of this build and workload shape
    made so far in this checkout, or None."""
    f = BUILD / "untraced.jsonl"
    if not f.is_file():
        return None
    vals = [e["work_s"] for e in map(json.loads, f.read_text().splitlines()) if e["key"] == key]
    return statistics.median(vals) if vals else None


def remember_untraced(key, rec):
    with open(BUILD / "untraced.jsonl", "a") as f:
        f.write(json.dumps({"key": key, "work_s": rec["work_s"]}) + "\n")


def run_leg(cp, workload, seed, seconds, trace, cores=CORES, extra=(), pin_cpu=None):
    """One JVM: one leg of one workload. Returns its record (a dict)."""
    tag = f"{workload}-c{cores}-t{trace}-{os.getpid()}"
    work = BUILD / "work" / tag
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    _workdirs.append(work)
    out = BUILD / "records" / f"{tag}.json"
    out.unlink(missing_ok=True)
    heap = "3g" if cores > 1 else "2g"
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + [a for p in OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{heap}", f"-XX:ActiveProcessorCount={cores}", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
        "--cores", str(cores), "--work", str(work / "run"), "--out", str(out),
        "--data", str(DATA), "--pins", str(PINS)] + list(extra)
    if trace:
        cmd += ["--spans", str(BUILD / "spans" / f"{workload}-seed{seed}.jsonl")]
    if pin_cpu is not None:
        cmd = ["taskset", "-c", str(pin_cpu)] + cmd
    (work / "tmp").mkdir()
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "local"))
    log(f"leg {workload} cores={cores} trace={trace} seed={seed}")
    (BUILD / "records").mkdir(parents=True, exist_ok=True)
    with open(BUILD / "records" / f"{tag}.log", "w") as errlog:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=errlog, stderr=subprocess.STDOUT,
                             start_new_session=True)
        _children.append(p)
        try:
            p.wait(timeout=LEG_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            log(f"leg {workload} exceeded {LEG_TIMEOUT_S}s")
    shutil.rmtree(work, ignore_errors=True)
    if p.returncode != 0 or not out.is_file():
        log(f"leg {workload} exited {p.returncode}; log: {BUILD / 'records' / (tag + '.log')}")
        return None
    rec = json.loads(out.read_text())
    print("perfbench-record " + json.dumps(rec, sort_keys=True), flush=True)
    return rec


def end_to_end(rec):
    return {
        "setup_s": rec["boot_s"] + statistics.median(rec["setup_reps_s"]) + rec["warmup_s"],
        "work_s": rec["work_s"],
        "heap_peak_mb": rec["heap_peak_mb"],
    }


def measure(cp, spec, workload, seed, seconds, trace, extra=()):
    """Run a workload; returns the benchmark's result object. A traced run's
    overhead is its work_s against the median untraced work_s of the same
    build and workload shape in this checkout; when there is none yet, an
    untraced leg runs first."""
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    key = baseline_key(workload, seconds, extra)
    recs = []
    # bulk_replay compares its 1-core leg with a 4-core leg of this very run
    base = untraced_baseline(key) if trace and workload != "bulk_replay" else None
    if not trace or base is None:
        plain = run_leg(cp, workload, seed, seconds, 0, extra=extra)
        if plain is None:
            return None
        recs.append(plain)
        if plain["correct"]:
            remember_untraced(key, plain)
        base = plain["work_s"]
    if trace:
        traced = run_leg(cp, workload, seed, seconds, 1, extra=extra)
        if traced is None:
            return None
        recs.append(traced)
        layer = dict(traced["layer"])
        layer["trace.overhead_share"] = traced["work_s"] / base - 1.0
        values = {m["name"]: layer.get(m["name"]) for m in spec["per_layer"]}
        if workload == "bulk_replay":
            core1 = run_leg(cp, workload, seed, seconds, 0, cores=1, pin_cpu=0, extra=extra)
            if core1 is None:
                return None
            recs.append(core1)
            r4 = recs[0]["timed_events"] / sum(recs[0]["latencies_s"])
            r1 = core1["timed_events"] / sum(core1["latencies_s"])
            log(f"bulk_replay events/s: 1 core {r1:.0f}, {CORES} cores {r4:.0f}, "
                f"scaling efficiency {r4 / (CORES * r1):.3f}")
    else:
        e2e = end_to_end(recs[0])
        values = {m["name"]: e2e.get(m["name"]) for m in spec["end_to_end"]}
    missing = [k for k, v in values.items() if v is None]
    if missing:
        log(f"metrics not produced: {missing}")
        return None
    return {
        "correct": all(r["correct"] for r in recs),
        "attempted": sum(r["attempted"] for r in recs),
        "failed": sum(r["failed"] for r in recs),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }


def smoke(cp, spec):
    """Tiny sizes: every named metric prints with its unit, and verification
    rejects a deliberately altered state row and an altered query hash."""
    ok = True
    tiny = ["--smoke", "--reps", "1"]
    for w in WORKLOADS + EXTRA_WORKLOADS:
        for trace in (0, 1):
            extra = tiny + (["--only", "q_simhash,q_range_join,q_redact"] if w == "query_suite" else [])
            res = measure(cp, spec, w, 1, 2, trace, extra=extra)
            want = spec["per_layer" if trace else "end_to_end"]
            if res is None or not res["correct"]:
                log(f"smoke: {w} trace={trace} did not verify: {res}")
                ok = False
                continue
            for m in want:
                got = res["metrics"].get(m["name"])
                good = (got is not None and got["unit"] == m["unit"]
                        and isinstance(got["value"], (int, float)))
                if not good:
                    log(f"smoke: {w} trace={trace} metric {m['name']} missing or malformed: {got}")
                    ok = False
            print(json.dumps({"smoke": w, "trace": trace, "metrics": len(res["metrics"])}), flush=True)
    for w, what, extra in [("trickle_mixed", "an altered state row", ["--corrupt", "state"]),
                           ("query_suite", "an altered query hash",
                            ["--corrupt", "hash", "--only", "q_simhash,q_redact"])]:
        rec = run_leg(cp, w, 1, 2, 0, extra=tiny + extra)
        caught = rec is not None and not rec["correct"]
        print(json.dumps({"smoke": f"{w} rejects {what}", "caught": caught}), flush=True)
        ok = ok and caught
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="all", choices=WORKLOADS + EXTRA_WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--pin", action="store_true",
                    help="print every query's result hash (to refresh pinned/sf0.01.json)")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    check_checkout()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text()) \
        if (ROOT / "BENCHMARK.json").is_file() else None
    if spec is None:
        log("BENCHMARK.json missing")
        sys.exit(2)
    cp = build()
    try:
        if args.smoke:
            sys.exit(0 if smoke(cp, spec) else 1)
        if args.pin:
            rec = run_leg(cp, "query_suite", args.seed, args.seconds, 0, extra=["--reps", "1"])
            print(json.dumps(rec["hashes"], indent=1, sort_keys=True))
            return
        names = WORKLOADS if args.workload == "all" else [args.workload]
        results = {}
        for w in names:
            res = measure(cp, spec, w, args.seed, args.seconds, args.trace)
            if res is None:
                log(f"{w}: no result")
                sys.exit(1)
            results[w] = res
            if len(names) > 1:
                print(json.dumps(dict(workload=w, **res)), flush=True)
        if len(names) == 1:
            final = results[names[0]]
        else:
            final = {"correct": all(r["correct"] for r in results.values()),
                     "attempted": sum(r["attempted"] for r in results.values()),
                     "failed": sum(r["failed"] for r in results.values()),
                     "metrics": {f"{w}.{k}": v for w, r in results.items()
                                 for k, v in r["metrics"].items()}}
        print(json.dumps(final), flush=True)
    finally:
        cleanup()


if __name__ == "__main__":
    main()
