#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The script
  1. builds the engine and the harness (perfbench/build.sbt) from source with
     sbt, once per source tree (cached under $CARGO_TARGET_DIR, default
     .bench_build);
  2. generates the workload's parquet inputs from the seed (gen.py);
  3. computes the expected output of every query: DuckDB's digest of the
     query's oracle SQL (oracle.py), or a pinned shape for the four queries
     without one (workloads.json);
  4. runs the harness JVM (src/main/scala/perfbench/Harness.scala) and
     prints a summary, then one JSON object as the last stdout line.

With --trace 0 the metrics are the end-to-end ones (setup_s, pass_s,
peak_rss_mb); with --trace 1 they are the per-layer ones, and the span file
is written next to the inputs. Exit code 0 means the
benchmark ran; `correct` says whether every output matched.
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

import gen  # noqa: E402
import oracle  # noqa: E402

CORES = 4
HEAP = "2g"
RUN_LIMIT_S = 170  # the harness JVM is killed after this long
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("peak_rss_mb", "MB")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.abspath(os.path.join(ROOT, d))


def source_hash():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for dirpath, dirnames, names in os.walk(r):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            files += [os.path.join(dirpath, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def run_proc(cmd, cwd, env, timeout, log_path):
    """Runs cmd in its own process group, output to log_path; kills the whole
    group and waits if it overruns. Returns (exit code, elapsed seconds)."""
    t0 = time.time()
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = -9
    return code, time.time() - t0


def build(bd, tag):
    """Compiles the engine and the harness; returns the run classpath.

    sbt compiles into target/ directories that every source tree of this
    checkout shares, so the class directories are copied to classes-<tag>/
    and the tag's classpath names only those copies. A cached classpath is
    used only while every entry on it exists."""
    cp_file = os.path.join(bd, f"classpath-{tag}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cp = f.read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    tmp = os.path.join(bd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", "-Xmx2g"]))
    log_path = os.path.join(bd, "build.log")
    log(f"building engine and harness (log: {log_path})")
    code, secs = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"], HERE, env, 850, log_path)
    with open(log_path) as f:
        lines = [l.strip() for l in f if l.strip()]
    if code != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
        fail(f"build failed (exit {code})")
    log(f"built in {secs:.1f} s")
    classes = os.path.join(bd, f"classes-{tag}")
    shutil.rmtree(classes, ignore_errors=True)
    cp = []
    for i, p in enumerate(lines[-1].split(os.pathsep)):
        if os.path.isdir(p):
            p = shutil.copytree(p, os.path.join(classes, str(i)))
        cp.append(p)
    cp = os.pathsep.join(cp)
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp


def java_cmd(cp, bd, main_args):
    tmp = os.path.join(bd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed heap and earlier JIT compilation make timed passes steady
    # after the warm-up (without them, passes kept speeding up for 10+ passes).
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
             "-XX:CompileThresholdScaling=0.1", "-XX:-UsePerfData", "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
            + ADD_OPENS + ["-cp", cp, "perfbench.Harness"] + main_args)


def inputs(bd, workload, seed, spec):
    """The workload's generated tables; only the latest seed's are kept."""
    key = hashlib.sha256(json.dumps(spec, sort_keys=True).encode()).hexdigest()[:8]
    name = f"{workload}-{seed}-{key}"
    root = os.path.join(bd, "data")
    os.makedirs(root, exist_ok=True)
    for old in os.listdir(root):
        if old.startswith(f"{workload}-") and old != name:
            shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    d = os.path.join(root, name)
    if not os.path.exists(os.path.join(d, "inputs.json")):
        shutil.rmtree(d, ignore_errors=True)
        part = d + ".part"
        shutil.rmtree(part, ignore_errors=True)
        gen.generate(workload, seed, part)
        os.rename(part, d)
    with open(os.path.join(d, "inputs.json")) as f:
        return d, json.load(f)


def expected(bd, cp, tag, wl, data, facts):
    """expected.tsv for the harness: an oracle digest or a pinned shape per query."""
    with open(os.path.join(HERE, "oracle.py"), "rb") as f:
        key = ",".join(wl["queries"]).encode() + json.dumps(wl.get("shapes")).encode() + f.read()
    qtag = hashlib.sha256(key).hexdigest()[:8]
    path = os.path.join(data, f"expected-{tag}-{qtag}.tsv")
    if os.path.exists(path):
        return path
    sql_path = os.path.join(bd, f"oracle-sql-{tag}-{qtag}.json")
    if not os.path.exists(sql_path):
        code, _ = run_proc(java_cmd(cp, bd, ["--mode", "oracles", "--queries",
                                             ",".join(wl["queries"]), "--out", sql_path]),
                           ROOT, os.environ, 120, sql_path + ".log")
        if code != 0:
            fail(f"could not list oracle SQL (see {sql_path}.log)")
    with open(sql_path) as f:
        sql = json.load(f)
    t0 = time.time()
    digests = oracle.digests(data, sql, os.path.join(bd, "tmp"))
    log(f"oracle digests for {len(digests)} queries in {time.time() - t0:.1f} s")
    lines = []
    for q in wl["queries"]:
        if q in digests:
            rows, dig = digests[q]
            lines.append(f"{q}\toracle\t{rows}\t{dig}")
        elif q in wl.get("shapes", {}):
            s = wl["shapes"][q]
            rows = s["rows"]
            if isinstance(rows, str):  # rows of an input table
                rows = facts[rows]["rows"]
            words = ";".join(f"{c}:{n}" for c, n in sorted(s.get("words", {}).items()))
            lines.append(f"{q}\tshape\t{rows}\t{','.join(s['columns'])}\t{words}")
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return path


def run_workload(name, seed, seconds, trace, faults):
    wl = gen.load_workloads()[name]
    bd = build_dir()
    os.makedirs(bd, exist_ok=True)
    tag = source_hash()
    cp = build(bd, tag)
    data, facts = inputs(bd, name, seed, wl["input"])
    exp = expected(bd, cp, tag, wl, data, facts)

    out = os.path.join(data, f"result-{trace}.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = java_cmd(cp, bd, [
        "--data", data, "--queries", ",".join(wl["queries"]),
        "--tables", ",".join(sorted(facts)), "--expected", exp,
        "--seconds", str(seconds), "--warmup", str(wl["warmup_passes"]),
        "--trace", str(trace), "--cores", str(CORES), "--out", out,
        "--spans", os.path.join(data, "spans.jsonl"), "--faults", ",".join(faults) or ",",
        "--conf", ",".join(f"{k}={v}" for k, v in wl.get("spark_conf", {}).items()) or ",",
        "--launched-ms", str(int(time.time() * 1000))])
    log_path = os.path.join(data, f"jvm-{trace}.log")
    code, _ = run_proc(cmd, ROOT, os.environ, RUN_LIMIT_S, log_path)
    with open(log_path) as f:
        lines = f.readlines()
    sys.stderr.write("".join(l for l in lines if l.startswith("[perfbench]")))
    if code != 0 or not os.path.exists(out):
        sys.stderr.write("".join(lines[-40:]))
        fail(f"harness JVM exited with {code} (log: {log_path})")
    with open(out) as f:
        r = json.load(f)

    summary = {
        "setup_s": (r["setup_s"], "s"),
        "pass_s": (statistics.median(r["passes"]), "s"),
        "peak_rss_mb": (r["peak_rss_mb"], "MB"),
        "failed_frac": (r["failed"] / r["attempted"], "ratio"),
        "pass_samples": (len(r["passes"]), "count"),
    }
    if trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in r["layers"].items()}
    else:
        metrics = {k: {"value": summary[k][0], "unit": u} for k, u in END_TO_END}
    for k, (v, u) in summary.items():
        print(f"{name:12s} {k:12s} {v:12.4f} {u}")
    return {"correct": r["failed"] == 0, "attempted": r["attempted"], "failed": r["failed"],
            "metrics": metrics}


def unit_of(metric):
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_bytes"):
        return "bytes"
    if metric.endswith(("core_util", "pair_yield")):
        return "ratio"
    return "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fault", action="append", default=[],
                    help="query:throw or query:wrong (for the benchmark's own tests)")
    a = ap.parse_args()
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no engine sources at {ROOT} (build.sbt, src/main/scala)")
    names = list(gen.load_workloads()) if a.workload == "all" else [a.workload]
    if not set(names) <= set(gen.load_workloads()):
        fail(f"unknown workload {a.workload}")
    results = {n: run_workload(n, a.seed, a.seconds, a.trace, a.fault) for n in names}
    if len(names) == 1:
        result = results[names[0]]
    else:
        result = {"correct": all(r["correct"] for r in results.values()),
                  "attempted": sum(r["attempted"] for r in results.values()),
                  "failed": sum(r["failed"] for r in results.values()),
                  "metrics": {f"{n}.{k}": v for n, r in results.items()
                              for k, v in r["metrics"].items()}}
    print(json.dumps(result, sort_keys=True), flush=True)


if __name__ == "__main__":
    main()
