#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload live_fanout --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The first run builds the system under
test and the benchmark drivers from source (sbt, offline) into
`.bench_build/`; later runs reuse the build while the sources are
unchanged. Workloads (see perfbench/WORKLOADS.md):

  live_fanout  firehose in at a fixed open-loop rate, four filtered live
               subscribers out (service process + load process)
  query_mix    one closed-loop client over a mix of the registered
               queries on a seeded sf0.1 fixture, every result
               fingerprinted against the DuckDB oracle

`--trace 0` prints the end-to-end metrics; `--trace 1` runs the traced
variant and prints the per-layer metrics instead. The last line of
standard output is the result object; diagnostics go to standard error.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170.0

# query_mix: the fixture scale and the mix (family: queries). A full pass
# over all registered queries takes minutes at sf0.1 on 4 cores, and its
# index census longer still, so the mix takes the paths the ROADMAP
# directions change (WORKLOADS.md says which query stands for which).
QUERY_SF = 0.1
QUERY_MIX = {
    "events": ["replay_scan", "subscribe_filter"],
    "tpch": ["q1_pricing_summary", "q6_forecast_revenue", "string_funcs", "regexp_funcs",
             "join_semi"],
    "documents": ["dedup_exact", "text_stats", "lang_id", "bpe_merges"],
    "embeddings": ["embed_norms", "knn_brute", "ivf_probe", "ivf_pq_topk", "ivf_sq8_topk",
                   "ivf_bq_topk", "sq8_batch", "dedup_embed_cosine"],
}

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath():
    """The runtime classpath, building first when the sources changed."""
    stamp = sources_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            old, cp = f.read().split("\n", 1)
        if old == stamp:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
                                "-Dsbt.override.build.repos=true",
                                "-Dsbt.server.autostart=false", "-Xmx3g"]).strip()
    log("building (sbt, offline)")
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "export Runtime/fullClasspath"], cwd=BENCH, env=env,
                            stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                            timeout=800).returncode
    with open(os.path.join(BUILD, "build.log")) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if "scala-2.13" in l and ".jar" in l and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.exit(f"build failed (see {BUILD}/build.log)")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cps[-1].strip())
    return cps[-1].strip()


class Procs:
    """Children of this run; each in its own process group, all stopped
    and reaped on exit."""

    def __init__(self, run_dir):
        self.run_dir = run_dir
        self.procs = []

    def java(self, cp, main, args, heap, name):
        err = open(os.path.join(self.run_dir, f"{name}.log"), "w")
        p = subprocess.Popen(
            ["java", f"-Xms{heap}", f"-Xmx{heap}", *JAVA_OPENS, "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", "-cp", cp, main, *args],
            cwd=self.run_dir, stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=err,
            text=True, start_new_session=True)
        self.procs.append(p)
        return p

    def stop_all(self):
        for p in self.procs:
            if p.poll() is None:
                try:
                    os.killpg(p.pid, signal.SIGTERM)
                except ProcessLookupError:
                    pass
        for p in self.procs:
            try:
                p.wait(timeout=10)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def read_until(proc, prefix, deadline):
    """The first stdout line of `proc` starting with `prefix`."""
    while time.monotonic() < deadline:
        line = proc.stdout.readline()
        if not line:
            raise RuntimeError(f"process exited before printing {prefix}")
        if line.startswith(prefix):
            return line.split()
    raise RuntimeError(f"timed out waiting for {prefix}")


def run_live(procs, cp, seed, seconds, trace, deadline):
    run_dir = procs.run_dir
    out = os.path.join(run_dir, "result.json")
    plan = ["--seed", str(seed), "--seconds", str(seconds)]
    if trace:
        p = procs.java(cp, "perfbench.ServiceTrace",
                       ["--data-dir", os.path.join(run_dir, "data"), "--out", out, *plan],
                       "2g", "trace")
        p.stdin.close()
        p.wait(timeout=max(1.0, deadline - time.monotonic()))
        return load_result(out)
    gen = procs.java(cp, "perfbench.LoadGen", ["--out", out, *plan], "512m", "loadgen")
    up_port = read_until(gen, "UPSTREAM", deadline)[1]
    t0 = time.monotonic()
    svc = procs.java(cp, "perfbench.ServiceHost",
                     ["--data-dir", os.path.join(run_dir, "data"),
                      "--ws-url", f"ws://127.0.0.1:{up_port}/subscribe"], "2g", "service")
    _, serve_port, metrics_port = read_until(svc, "READY", deadline)
    setup_s = time.monotonic() - t0
    gen.stdin.write(f"SERVICE {serve_port} {metrics_port}\n")
    gen.stdin.flush()
    read_until(gen, "DONE", deadline)
    gen.wait(timeout=10)
    svc.stdin.write("stop\n")
    svc.stdin.flush()
    _, mem, health = read_until(svc, "STOPPED", deadline)
    svc.wait(timeout=30)
    result = load_result(out)
    result["metrics"]["setup_s"] = {"value": setup_s, "unit": "s"}
    result["metrics"]["mem.peak_live_mb"] = {"value": float(mem), "unit": "MB"}
    if health != "ok":
        result["correct"] = False
        result["info"]["service"] = "staleness self-check fired"
    return result


def run_queries(procs, cp, seed, seconds, trace, deadline):
    sys.path.insert(0, BENCH)
    import fixture
    import oracle
    run_dir = procs.run_dir
    sql_path = os.path.join(BUILD, "oracle_sql.json")
    if not os.path.exists(sql_path) or os.path.getmtime(sql_path) < os.path.getmtime(
            os.path.join(BUILD, "classpath.txt")):
        p = procs.java(cp, "perfbench.QueryMix", ["--oracle-sql", sql_path], "512m", "oracle-sql")
        p.stdin.close()
        p.wait(timeout=60)
    names = sorted(n for ns in QUERY_MIX.values() for n in ns)
    data = os.path.join(run_dir, "data")
    fixture.write(data, seed, QUERY_SF)
    with open(sql_path) as f:
        sql = json.load(f)
    exp_path = os.path.join(run_dir, "expected.tsv")
    with open(exp_path, "w") as f:
        for k, v in oracle.expected(data, sql, names).items():
            f.write(f"{k}\t{v}\n")
    out = os.path.join(run_dir, "result.json")
    p = procs.java(cp, "perfbench.QueryMix",
                   ["--data", data, "--expected", exp_path, "--work", run_dir,
                    "--seed", str(seed), "--seconds", str(seconds), "--trace", "1" if trace else "0",
                    "--queries", ",".join(names), "--out", out], "2g", "query")
    p.stdin.close()
    p.wait(timeout=max(1.0, deadline - time.monotonic()))
    return load_result(out)


def load_result(path):
    if not os.path.exists(path):
        raise RuntimeError("the workload wrote no result")
    with open(path) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["live_fanout", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("no system under test here: src/main/scala is missing")
    cp = classpath()
    deadline = time.monotonic() + DEADLINE_S
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    procs = Procs(run_dir)
    # a terminated run still stops its children (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if a.workload == "query_mix":
            r = run_queries(procs, cp, a.seed, a.seconds, a.trace, deadline)
        else:
            r = run_live(procs, cp, a.seed, a.seconds, a.trace, deadline)
    finally:
        procs.stop_all()
    log("info: " + json.dumps(r.get("info", {})))
    if r["correct"]:
        shutil.rmtree(run_dir, ignore_errors=True)
    else:
        log(f"incorrect run: its logs and data are kept in {run_dir}")
    print(json.dumps({k: r[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if r["correct"] else 1)


if __name__ == "__main__":
    main()
