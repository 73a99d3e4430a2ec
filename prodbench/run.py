"""Product benchmark: one run of one workload.

    python3 prodbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness (`prodbench/harness`, an sbt build that depends on the root build)
and caches the runtime classpath under `.bench_build/`; later runs rebuild
only when a source file changed. Each run then generates its inputs from
the seed, starts one JVM directly from that classpath (no sbt in the
measured process), and prints one JSON object as the last line of stdout:
the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. It exits non-zero, after printing, when an output check fails.
See prodbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")

# Both workloads run against one fixed project (BASE), indexed once per
# build before any measured JVM; the run's seed draws the edits and the
# requests. Sizes are chosen so one run, its set-up included, fits the
# run-time budget on a 4-core machine (see README.md).
WORKLOADS = {
    "edit_reindex": {"edits": 40},
    "query_serve": {"queries": 700},
}
BASE = {"tree_seed": 0, "files": 300}
# The per-layer metrics (BENCHMARK.json) a workload must produce; the
# others belong to layers it leaves idle and read 0.
LAYERS = {
    "edit_reindex": ("extract.", "analyze.", "store.read_ms", "store.write_ms",
                     "store.write_bytes", "store.bytes_per_src_byte", "stream.",
                     "edit.spark.", "jvm.", "trace."),
    "query_serve": ("store.read_cache_ms", "query.", "serve.", "jvm.", "trace."),
}
DEADLINE_S = 170     # a run, build excluded, must end within this
BUILD_DEADLINE_S = 850


def die(msg):
    print(f"prodbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Hash of everything the build compiles: the program and the harness."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), HARNESS]
    for top in tops:
        walk = [(os.path.dirname(top), [], [os.path.basename(top)])] \
            if os.path.isfile(top) else os.walk(top)
        for d, subdirs, files in walk:
            subdirs[:] = sorted(s for s in subdirs
                                if s not in ("target", "project") or d == HARNESS)
            for f in sorted(files):
                p = os.path.join(d, f)
                if f.endswith((".scala", ".sbt", ".properties", ".java")):
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def sbt_cmd():
    return ["sbt", "--batch", "-Dsbt.log.noformat=true",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}"]


def classpath():
    """The harness runtime classpath, building first if a source changed."""
    stamp_file = os.path.join(BUILD, "classpath.json")
    stamp = source_hash()
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            cached = json.load(fh)
        if cached["sources"] == stamp:
            return cached["classpath"], stamp
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.offline=true -Xmx2g")
    with open(log, "w") as fh:
        p = subprocess.run(sbt_cmd() + ["export harness/Runtime/fullClasspath"],
                           cwd=HARNESS, stdout=subprocess.PIPE, stderr=fh,
                           env=env, timeout=BUILD_DEADLINE_S, text=True)
        fh.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[error]" in lines[-1]:
        die(f"build failed (rc {p.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(stamp_file, "w") as fh:
        json.dump({"sources": stamp, "classpath": cp}, fh)
    return cp, stamp


def heap():
    """Half the machine's memory, 2-8 GiB: the tier-1 test formula."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration):
        g = 2
    return f"{min(8, max(2, g))}g"


JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def java(cp, work, args, deadline):
    """Run the harness JVM in `work` (all its files stay there); its
    output goes to work/jvm.log."""
    mem = heap()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{mem}", f"-Xmx{mem}", "-XX:ReservedCodeCacheSize=1g",
           "-XX:+UseCodeCacheFlushing",
           *[a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "prodbench.Harness", *args]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"the JVM did not finish in time; see {work}/jvm.log")
    if rc != 0:
        die(f"the JVM failed (rc {rc}); see {work}/jvm.log")
    return mem


def gen(out, tree_seed, files, *extra):
    subprocess.run([sys.executable, os.path.join(HERE, "gen.py"),
                    "--tree-seed", str(tree_seed), "--files", str(files),
                    "--out", out, *extra], check=True)


def workdir(workload):
    """A workload's run directory: the same path in every run, so the
    prepared store's absolute paths are those of the watched tree."""
    return os.path.join(BUILD, "runs", workload)


def base_project(cp, sources, cores, deadline):
    """The fixed project edit_reindex and query_serve serve: its tree and
    the store the program indexes from it, made once per build. The tree is
    indexed where edit_reindex's workspace will be, under the repository
    name the workspace manager gives it (its directory name)."""
    root = os.path.join(BUILD, "base")
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        key = hashlib.sha256(sources.encode() + fh.read() + BUILD.encode() +
                             json.dumps(BASE).encode()).hexdigest()
    d = os.path.join(root, key[:16])
    if os.path.exists(os.path.join(d, "ready")):
        return d
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(d)
    gen(d, BASE["tree_seed"], BASE["files"], "--write-tree")
    tree = os.path.join(workdir("edit_reindex"), "tree")
    shutil.rmtree(os.path.dirname(tree), ignore_errors=True)
    shutil.copytree(os.path.join(d, "tree"), tree)
    java(cp, d, ["prepare", tree, os.path.join(d, "store"), str(cores)], deadline)
    open(os.path.join(d, "ready"), "w").close()
    return d


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found: run from the repository root")
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        die("BENCHMARK.json not found")
    with open(bench_file) as fh:
        spec = json.load(fh)

    cp, sources = classpath()
    cores = os.cpu_count() or 1
    t_prep = time.time()
    base = base_project(cp, sources, cores, t_prep + DEADLINE_S)
    t_run = time.time()

    runs = os.path.join(BUILD, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    work = workdir(a.workload)
    w = WORKLOADS[a.workload]
    gen(work, BASE["tree_seed"], BASE["files"], "--seed", str(a.seed),
        "--edits", str(w.get("edits", 0)), "--queries", str(w.get("queries", 0)))
    shutil.copytree(os.path.join(base, "store"), os.path.join(work, "store"))
    if a.workload == "edit_reindex":
        shutil.copytree(os.path.join(base, "tree"), os.path.join(work, "tree"))
        shutil.copy(os.path.join(base, "reference.json"), work)
    else:
        shutil.copy(os.path.join(base, "ids.json"), work)
    result = os.path.join(work, "result.json")
    mem = java(cp, work, [a.workload, work, str(a.seconds), str(a.trace),
                          str(cores), result], t_run + DEADLINE_S)
    with open(result) as fh:
        res = json.load(fh)

    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics, errors = {}, list(res["errors"])
    for m in names:
        if a.trace and m["name"] in res["layers"]:
            v = res["layers"][m["name"]]
        elif a.trace and not m["name"].startswith(LAYERS[a.workload]):
            v = 0.0
        elif m["name"] in res["e2e"]:
            v = res["e2e"][m["name"]]["value"]
        else:
            errors.append(f"metric {m['name']} was not measured")
            continue
        if not math.isfinite(v):
            errors.append(f"metric {m['name']} is {v}")
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = not errors

    provenance = {"workload": a.workload, "seed": a.seed, "cores": cores,
                  "heap": mem, "sources_sha256": sources[:16],
                  "spark_conf_sha": res["info"].get("spark_conf_sha"),
                  "build_s": round(t_prep - t_start, 1),
                  "prepare_s": round(t_run - t_prep, 1),
                  "run_s": round(time.time() - t_run, 1)}
    try:
        provenance["git_sha"] = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        provenance["git_sha"] = None
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results",
                           f"{a.workload}-{a.seed}-t{a.trace}.json"), "w") as fh:
        json.dump({"provenance": provenance, "result": res}, fh, indent=1)

    print(json.dumps(provenance))
    untraced = os.path.join(BUILD, "results", f"{a.workload}-{a.seed}-t0.json")
    if a.trace and os.path.exists(untraced):
        with open(untraced) as fh:
            plain = json.load(fh)["result"]["e2e"]
        for m in ("first_op_s", "op_p50_ms"):
            if f"trace.{m}" in res["layers"] and m in plain:
                d = res["layers"][f"trace.{m}"] - plain[m]["value"]
                print(f"  tracing overhead on {m}: {d:+.3f} "
                      f"({100 * d / plain[m]['value']:+.1f} %)")
    for k, v in (res["e2e"].items() if not a.trace else []):
        print(f"  {k:<20} {v['value']:>14.4f} {'':1}n={v['samples']}")
    for k, v in (res["layers"].items() if a.trace else []):
        print(f"  {k:<36} {v:>14.4f}")
    for e in errors:
        print(f"CHECK FAILED: {e}")
    print(json.dumps({"correct": correct, "attempted": max(1, res["attempted"]),
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
