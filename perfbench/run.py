#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. The first run builds
the program and the benchmark's JVM side from source with sbt (offline);
later runs reuse the build while the sources are unchanged.

A run generates its inputs from the seed, sets the Spark session up
once (timed from JVM start), makes a fixed number of untimed warm
passes (the first is the cold pass) and then timed steady passes, about
`--seconds` of them, checks every pass's output against an independent
oracle, and prints the metrics. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` they
are the per-layer ones from a traced run (see perfbench/README.md).

`--workload all` runs every workload in turn and prints their results.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # a run writes only under perfbench/.work

import checks  # noqa: E402
import wikigen  # noqa: E402

WORK = os.path.join(HERE, ".work")
JVM_PROJECT = os.path.join(HERE, "jvm")
HEAP = "4g"
YOUNG = "1g"
DEADLINE_S = 170          # a run must end within 180 s
BUILD_DEADLINE_S = 840    # ... or 900 s when it has to build first

# Per workload: its inputs; its JIT mode; the untimed passes that
# precede the timed ones (the cold pass included), which are where, on
# a 4-core VM, a pass's wall time stopped falling; and the nominal
# length of a steady pass, which turns `--seconds` into a fixed number
# of timed passes. The driver-bound workloads run C1 only: with the
# default tiered JIT, how far C2 gets differs from JVM to JVM by more
# than the bounds allow. curation_retrieval times kernels whose speed
# C2 changes, and keeps the default. See README.md, "JIT and warm-up".
C1_ONLY = ["-XX:TieredStopAtLevel=1"]
WORKLOADS = {
    "wiki_pagerank": {"pages": 2000, "jit": C1_ONLY, "warm": 4,
                      "nominal_pass_s": 3.8},
    "graph_rounds": {"queries": ["g21_core_decomp", "g33_truss_decomp"],
                     "jit": C1_ONLY, "warm": 4, "nominal_pass_s": 4.0},
    "curation_retrieval": {"queries": [
        "d3_minhash_lsh", "m10_image_dhash", "m19_gif_frames", "q1_agg"],
        "jit": [], "warm": 8, "nominal_pass_s": 1.5},
}
WIKI_PHASES = ("sources.scan", "graph.extract", "graph.pagerank",
               "sources.write")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def digest(paths):
    """sha256 over the contents of the given files and directory trees."""
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in files:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build_inputs():
    root_build = [os.path.join(ROOT, p) for p in ("build.sbt", "src/main")]
    root_build += [os.path.join(ROOT, "project", f)
                   for f in sorted(os.listdir(os.path.join(ROOT, "project")))
                   if f.endswith((".sbt", ".properties"))]
    return root_build + [os.path.join(JVM_PROJECT, p) for p in
                         ("build.sbt", "project/build.properties", "src")]


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(p.pid, sig)
            except ProcessLookupError:
                break
            try:
                p.wait(timeout=10)
                break
            except subprocess.TimeoutExpired:
                continue
        raise


def ensure_built(deadline):
    """Returns (runtime classpath, whether it built), building with sbt
    when the sources changed since the last build in this checkout."""
    stamp_file = os.path.join(WORK, "build", "stamp.json")
    stamp = digest(build_inputs())
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            old = json.load(f)
        if old["digest"] == stamp and all(
                os.path.exists(p) for p in old["classpath"].split(os.pathsep)):
            return old["classpath"], False
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true"
                       " -Dsbt.override.build.repos=true"
                       " -Dsbt.server.autostart=false -XX:-UsePerfData"
                       " -Xmx2g").strip()
    out_path = os.path.join(WORK, "build", "sbt.log")
    log("building the program and the benchmark's JVM side with sbt")
    t0 = time.time()
    with open(out_path, "w") as out:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "export Runtime/fullClasspath"],
                       timeout=max(30, deadline - time.time()),
                       cwd=JVM_PROJECT, env=env, stdout=out,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(out_path) as f:
        lines = f.read().splitlines()
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"sbt build failed (exit {rc}); log: {out_path}")
    classpath = lines[-1].strip()
    with open(stamp_file, "w") as f:
        json.dump({"digest": stamp, "classpath": classpath}, f)
    log(f"built in {time.time() - t0:.1f} s")
    return classpath, True


# ---------------------------------------------------------------- launch

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def cores():
    return len(os.sched_getaffinity(0))


def launch(classpath, jit, args, run_dir, deadline):
    """Runs the benchmark's JVM side; returns its result document."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    # A fixed heap and young generation, so GC work and the memory a run
    # touches do not change as G1 resizes them. The compiler threads are
    # kept alive so that their CPU time can be read per pass and left
    # out of cpu_s.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
           "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={tmp}"] + jit
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--out", out,
            "--work", run_dir, "--src", os.path.join(ROOT, "src", "main", "scala"),
            "--cores", str(cores())] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    env.pop("SPARK_GRAFT_CPUS", None)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as lf:
        try:
            rc = run_group(cmd, timeout=max(10, deadline - time.time()),
                           cwd=run_dir, env=env, stdout=lf,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"benchmark JVM timed out; log: {log_path}")
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"benchmark JVM failed (exit {rc}); log: {log_path}")
    with open(out) as f:
        return json.load(f)


def environment():
    env = {"cores": cores(), "heap": HEAP,
           "source_digest": digest([os.path.join(ROOT, "src", "main")])[:16]}
    try:
        top = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel",
                              "HEAD"], capture_output=True, text=True,
                             timeout=10).stdout.split()
        if len(top) == 2 and os.path.samefile(top[0], ROOT):
            env["commit"] = top[1]
    except (OSError, subprocess.SubprocessError):
        pass
    return env


# ---------------------------------------------------------------- one run

def pass_counts(name, seconds, warm=None):
    """(warm, timed) passes of a run. Both are fixed per workload and
    `--seconds`, so every run, on every commit, times the same number
    of passes: `--seconds` over the workload's nominal pass length."""
    w = WORKLOADS[name]
    timed = max(1, round(seconds / w["nominal_pass_s"]))
    return (w["warm"] if warm is None else warm), timed


def run_one(name, seed, seconds, trace, classpath, deadline, pages, corpus,
            warm=None):
    w = WORKLOADS[name]
    run_dir = os.path.join(WORK, "runs", name)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    n_warm, n_timed = pass_counts(name, seconds, warm)
    args = ["--workload", name, "--warm", str(n_warm),
            "--passes", str(n_timed), "--trace", str(trace)]
    if name == "wiki_pagerank":
        dump = os.path.join(run_dir, "dump.txt")
        pages = pages or w["pages"]
        gen = wikigen.generate(dump, pages, seed)
        args += ["--wiki", dump, "--pages", str(pages)]
    else:
        queries = list(w["queries"])
        # The seed permutes the query order within a pass.
        order = sorted(queries, key=lambda q: hashlib.sha256(
            f"{seed}:{q}".encode()).hexdigest())
        gen = {"corpus": os.path.relpath(corpus, ROOT), "order": order}
        args += ["--corpus", corpus, "--queries", ",".join(order)]

    res = launch(classpath, w["jit"], args, run_dir, deadline)
    passes = res["passes"]

    # Correctness, outside every timed window.
    attempted = failed = 0
    problems = []
    if name == "wiki_pagerank":
        want = checks.wiki_oracle(dump)
        for p in passes:
            attempted += 1
            errs = [i["error"] for i in p["items"] if i["error"]]
            msg = errs[0] if errs else checks.compare_wiki(
                want, os.path.join(run_dir, "out", f"p{p['index']}"))
            if msg:
                failed += 1
                problems.append(f"pass {p['index']}: {msg}")
    else:
        oracle = checks.CorpusOracle(corpus, os.path.join(WORK, "oracle"))
        for p in passes:
            check_err = {c["name"]: c["error"] for c in p["check_errors"]}
            for item in p["items"]:
                q = item["name"][len("q."):]
                attempted += 1
                msg = item["error"] or check_err.get(item["name"])
                if not msg:
                    msg = checks.compare_rows(
                        oracle.result(q, res["oracle_sql"].get(q)),
                        checks.read_rows(os.path.join(
                            run_dir, "check", f"p{p['index']}", f"{q}.tsv")))
                if msg:
                    failed += 1
                    problems.append(f"pass {p['index']} {q}: {msg}")
        oracle.close()
    for m in problems[:20]:
        log(f"FAIL {name} {m}")

    # Pass 0 is cold; the warm passes after it are untimed. Other guests
    # on a shared VM slow whole passes, and the passes they slow show
    # steal; pass_s is the median of the half of the steady passes with
    # the least steal. Every run makes and records the same passes.
    steady = [p for p in passes if not p["warm"] and not p["traced"]]
    quiet = sorted(steady, key=lambda p: p["steal_s"])[:(len(steady) + 1) // 2]
    pass_s = statistics.median(p["wall_s"] for p in quiet)
    metrics = {
        "setup_s": res["setup_s"],
        "cold_s": passes[0]["wall_s"],
        "pass_s": pass_s,
        "items_per_s": res["items_per_pass"] / pass_s,
        # The JIT's compiler threads still run during steady passes,
        # less with every pass; their CPU is recorded, not counted.
        "cpu_s": statistics.median(p["cpu_s"] - p["jit_cpu_s"]
                                   for p in steady),
        "rss_peak_mb": res["rss_peak_mb"],
    }
    record = {"workload": name, "seed": seed, "seconds": seconds,
              "trace": trace, "inputs": gen,
              "env": dict(environment(), **res["env"],
                          jit=" ".join(w["jit"]) or "tiered"),
              "warm_passes": n_warm, "steady_passes": len(steady),
              "quiet_passes": [p["index"] for p in quiet],
              "passes": passes, "problems": problems,
              "end_to_end": metrics}
    if trace:
        record["per_layer"] = layer_metrics(name, res["layers"])
        spans_path = os.path.join(WORK, "results",
                                  f"trace-{name}-seed{seed}.json")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        with open(spans_path, "w") as f:
            json.dump({"workload": name, "seed": seed,
                       "spans": res["spans"]}, f)
        record["spans_file"] = os.path.relpath(spans_path, ROOT)
    out = os.path.join(WORK, "results", f"{name}-seed{seed}-trace{trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(record, f, indent=1)
    return record, attempted, failed


def layer_metrics(name, layers):
    """The traced run's numbers under the per-layer metric names."""
    out = {}
    for k, v in layers.items():
        if name == "wiki_pagerank" and k.startswith(WIKI_PHASES):
            if k.endswith(".s"):
                out[k[:-2] + "_s"] = v
        else:
            out[k] = v
    return out


# ---------------------------------------------------------------- report

def report(record, attempted, failed, trace, names):
    metrics = record["per_layer"] if trace else record["end_to_end"]
    env = record["env"]
    log(f"{record['workload']} seed={record['seed']} trace={trace} "
        f"cores={env['cores']} heap={env['heap']} jit={env['jit']} "
        f"spark={env['spark']} "
        f"java={env['java']} source={env['source_digest']} "
        f"commit={env.get('commit', 'n/a')}")
    log(f"{record['warm_passes']} warm and {record['steady_passes']} "
        f"steady passes, {attempted} attempted, {failed} failed")
    log(f"cold_s {record['end_to_end']['cold_s']:.4f} s "
        "(recorded, not in BENCHMARK.json)")
    shown = {}
    for m in names:
        v = metrics.get(m["name"], 0.0)
        shown[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{record['workload']:<20} {m['name']:<30} {v:14.4f} {m['unit']}")
    return shown


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # Overrides for the self-test and for warm-up studies; benchmark runs
    # use none of them.
    ap.add_argument("--pages", type=int, default=None,
                    help="wiki dump size (default: the workload's)")
    ap.add_argument("--corpus", default="sf0.01",
                    help="corpus directory under perfbench/corpus")
    ap.add_argument("--warm", type=int, default=None,
                    help="untimed passes (default: the workload's)")
    a = ap.parse_args()
    started = time.time()
    # SIGTERM unwinds like an exception, so child process groups are
    # stopped on the way out.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit("perfbench: the program's sources (build.sbt, "
                 "src/main/scala/graft) are not in this checkout")
    s = spec()
    seconds = a.seconds if a.seconds is not None else s["run_seconds"]
    names = s["per_layer"] if a.trace else s["end_to_end"]
    classpath, built = ensure_built(started + BUILD_DEADLINE_S)
    deadline = (min(started + BUILD_DEADLINE_S + 40, time.time() + DEADLINE_S)
                if built else started + DEADLINE_S)

    todo = sorted(WORKLOADS) if a.workload == "all" else [a.workload]
    results = {}
    total_attempted = total_failed = 0
    for name in todo:
        dl = deadline if a.workload != "all" else time.time() + DEADLINE_S
        record, attempted, failed = run_one(
            name, a.seed, seconds, a.trace, classpath, dl, a.pages,
            os.path.join(HERE, "corpus", a.corpus), a.warm)
        total_attempted += attempted
        total_failed += failed
        results[name] = report(record, attempted, failed, a.trace, names)
    line = {"correct": total_failed == 0, "attempted": total_attempted,
            "failed": total_failed,
            "metrics": results[todo[0]] if len(todo) == 1 else results}
    print(json.dumps(line))


if __name__ == "__main__":
    main()
