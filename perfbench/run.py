#!/usr/bin/env python3
"""The repository's benchmark: one workload per call, in its own JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the repository and the
benchmark with sbt on first use (`.bench_build/` keeps the classpath),
generates the workload's inputs from the seed, runs the workload in a fresh
JVM, checks its outputs and prints, as the last line of standard output,
one JSON object with `correct`, `attempted`, `failed` and `metrics`.
`--trace 0` reports the end-to-end metrics of BENCHMARK.json; `--trace 1`
registers the listeners and the counting filesystem and reports the
per-layer metrics instead. Spans of traced runs go to `.bench_out/`.

`--tiny 1` runs a workload at its smallest size (the smoke test) and
`--corrupt 1` damages one output before the check, which must then fail.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_run")
OUT = os.path.join(ROOT, ".bench_out")
sys.path.insert(0, HERE)

# The heap limit of the repository's own build (build.sbt), with no fixed
# initial size, so that the resident set follows what the program uses.
JVM_HEAP = [f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}"]
# The call each workload reports as `key_call_s.p50`: the mart read that
# follows each commit, and the archive screen (Dedup.archiveScreen, which
# goes through Dedup.parallelismFloor twice).
KEY_CALL = {"etl_hourly": "lake.mart", "corpus_curation": "dedup.archive"}
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
# Inputs of the build: a change to any of them rebuilds.
BUILD_INPUTS = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project/build.properties", "perfbench/src"]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_stamp() -> str:
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
            if "/target" not in d)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath() -> str:
    """Build with sbt unless the last build saw the same sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the repository's sources (src/main/scala/graft) are missing")
    stamp = build_stamp()
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved = json.load(fh)
        if saved["stamp"] == stamp:
            return saved["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Compile/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT).returncode
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if l.startswith("/") and ".jar" in l]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (sbt exit {rc}); log in {log}")
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cps[-1]}, fh)
    return cps[-1]


def run_jvm(cp: str, args, run_dir: str, data_dir: str):
    """Run one workload JVM; return (result dict, launch epoch seconds)."""
    jvm_cp = (os.path.join(HERE, "conf") + os.pathsep + cp) if args.trace else cp
    cmd = ["java", *JVM_HEAP, "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", jvm_cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--run-dir", run_dir, "--data", data_dir, "--out-dir", OUT,
            "--tiny", str(args.tiny), "--corrupt", str(args.corrupt)]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as err:
        launched = time.time()
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                                stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            out = ""
    with open(log) as fh:
        sys.stderr.write("".join(l for l in fh if l.startswith("[perfbench]")))
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"{args.workload} JVM exited with {proc.returncode} and no result")
    return json.loads(lines[-1].split(" ", 1)[1]), launched


def tail(xs):
    """The highest percentile with at least ten samples beyond it."""
    s = sorted(xs)
    if len(s) < 11:
        return None, None
    k = len(s) - 11
    return s[k], 100.0 * (k + 1) / len(s)


def median_of(rows, name):
    vals = [r[name] for r in rows if name in r]
    return statistics.median(vals) if vals else 0.0


def slope(ys):
    """Least-squares slope of ys against their index (0 for fewer than 2)."""
    if len(ys) < 2:
        return 0.0
    return statistics.linear_regression(range(len(ys)), ys).slope


def metrics(bench, args, r, launched):
    ok = [(c[0], c[1]) for c in r["calls"] if c[2]]
    by_kind = {}
    for kind, sec in ok:
        by_kind.setdefault(kind, []).append(sec)
    key = by_kind.get(KEY_CALL[args.workload], [])
    passes = r["passes"]
    e2e = {
        "setup_s": r["setup_end"] - launched,
        "pass_s": statistics.median(passes) if passes else float("nan"),
        "key_call_s.p50": statistics.median(key) if key else float("nan"),
    }
    t, pct = tail([sec for _, sec in ok])
    p50s = {k: round(statistics.median(v), 4) for k, v in sorted(by_kind.items())}
    print(f"{args.workload}: {len(ok)} calls, "
          f"passes {[round(p, 3) for p in passes]}, call p50 by kind {p50s}, "
          f"tail of all calls {t} s at p{pct}, fail_ratio "
          f"{r['failed']}/{r['attempted']}, peak RSS {r['peak_rss_mb']:.1f} MB, "
          f"live heap {r['live_heap_mb']:.1f} MB, "
          f"extra {r['extra']}")
    if not args.trace:
        spec = bench["end_to_end"]
        values = e2e
    else:
        spec = bench["per_layer"]
        layers = r["layers"]
        values = {m["name"]: median_of(layers, m["name"]) for m in spec}
        values.update({k: v for k, v in r["extra"].items() if k in values})
        values["lake.manifest_opens.growth"] = slope(
            [x["lake.manifest_opens"] for x in layers if "lake.manifest_opens" in x])
        values["peak_rss_mb"] = r["peak_rss_mb"]
        values["jvm.live_heap_mb"] = r["live_heap_mb"]
        values["traced.pass_s"] = e2e["pass_s"]
        values["traced.key_call_s.p50"] = e2e["key_call_s.p50"]
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", type=int, choices=[0, 1], default=0)
    ap.add_argument("--corrupt", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        fail(f"unknown workload {args.workload}")
    cp = classpath()
    run_dir = os.path.join(RUNS, f"{args.workload}-{args.seed}-{os.getpid()}")
    data_dir = os.path.join(run_dir, "data")
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(data_dir)
    try:
        import corpus
        if args.workload == "corpus_curation":
            corpus.write(data_dir, args.seed, args.tiny)
        r, launched = run_jvm(cp, args, run_dir, data_dir)
        failures = list(r["checks"])
        if args.workload == "corpus_curation":
            failures += corpus.check(data_dir, r["outputs"], args.corrupt)
            r["extra"]["dedup.archive_yield"] = corpus.archive_yield(r["outputs"])
        result = {"correct": not failures, "attempted": r["attempted"],
                  "failed": r["failed"], "metrics": metrics(bench, args, r, launched)}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for f in failures:
        print(f"CHECK FAILED {f}")
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
