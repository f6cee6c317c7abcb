#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per run, one JSON result line.

    python3 perfbench/run.py --workload {query_mix,sketch_bulk,sketch_stream}
        --seed N --seconds S --trace {0,1} [--smoke]

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline) into the checkout; later runs reuse
the build while the sources are unchanged. Each run then:

  1. generates the workload's inputs from --seed with DuckDB (gen.py);
  2. starts the harness JVM from the compiled classpath; set-up is process
     start to a running Spark session with the inputs staged;
  3. the JVM runs whole passes of the workload for S seconds (at least
     three: the cold pass and two warm passes), closed loop, one client;
  4. checks every output against DuckDB (check.py);
  5. prints the host environment, the wall-clock times, the checks, and as
     the last line
     {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
     with --trace 0, the per-layer metrics with --trace 1.

See README.md for the workloads, metrics and their layers.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

HEAP = "3g"
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]

# Input sizes. query_mix mirrors the contract test data at this scale factor;
# sketch_bulk draws `rows` keys over `ranks` Zipf ranks.
SIZES = {
    "query_mix": {"sf": 0.01},
    "sketch_bulk": {"rows": 500_000, "ranks": 125_000, "non_members": 62_500},
    "sketch_stream": {"rows": 50_000, "users": 10_000},
}
SMOKE_SIZES = {
    "query_mix": {"sf": 0.001},
    "sketch_bulk": {"rows": 50_000, "ranks": 20_000, "non_members": 10_000},
    "sketch_stream": {"rows": 5_000, "users": 500},
}

# sketch_bulk sizing: Bloom for the distinct member count at 1% fpp; CMS with
# eps*N well above the mean key frequency; cuckoo with two slots per distinct
# member key.
BLOOM_FPP, CMS_EPS, CMS_CONF = 0.01, 1e-4, 0.99

# query_mix: one contract query from each of five graft.queries families,
# fixed rather than drawn from --seed (see README, "Inputs and seeds").
QUERIES = ["q_m4_downsample", "q_subquery_scalar", "q_aqp_estimate", "q_length_buckets",
           "q_embed_outliers"]


# The checks every run must make; one that did not run counts as failed.
CHECKS = {
    "query_mix": {f"oracle:{q}" for q in QUERIES},
    "sketch_bulk": {"bloom:no_false_negatives", "bloom:fpp_bound", "cms:never_under",
                    "cms:eps_bound", "cuckoo:no_false_negatives", "cuckoo:fpp_bound",
                    "probe:every_pass_matches_last_sketch"},
    "sketch_stream": {"oracle:q_stream_bloom", "oracle:q_stream_cms_state", "oracle:q_stream_tws",
                      "cms_bound:q_stream_cms_state", "cms_bound:q_stream_tws"},
}


def required_checks(workload):
    return CHECKS[workload] | {"passes:same_output", "ops:only_known_failures"}


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def _sources():
    """Every file the build reads, relative to ROOT."""
    files = ["build.sbt"]
    proj = os.path.join(ROOT, "project")
    files += [f"project/{f}" for f in sorted(os.listdir(proj)) if f.endswith((".sbt", ".properties", ".scala"))]
    for top in ("src/main", "perfbench/harness"):
        for d, dirs, fs in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.relpath(os.path.join(d, f), ROOT) for f in sorted(fs)]
    return files


def build():
    """Compile engine + harness with sbt; return the runtime classpath."""
    fp = hashlib.sha256()
    for f in _sources():
        fp.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            fp.update(fh.read())
    stamp = os.path.join(BUILD, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            st = json.load(fh)
        if st["fingerprint"] == fp.hexdigest() and all(os.path.exists(p) for p in st["classpath"].split(":")):
            return st["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    sbt_opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(sbt_opts))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=os.path.join(HERE, "harness"), env=env, stdout=out,
                           stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=840)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cp = next((ln for ln in reversed(lines) if ".jar" in ln and not ln.startswith("[")), None)
    if r.returncode != 0 or cp is None:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die(f"build failed (exit {r.returncode}); log in {log}", 3)
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp.hexdigest(), "classpath": cp}, fh)
    return cp


# ---------------------------------------------------------------- environment

def host_env():
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    java = 0
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    java += fh.read().strip() == "java"
            except OSError:
                pass
    return {"steal_ticks": int(cpu[8]), "load1": load1, "java_procs": java}


# ---------------------------------------------------------------- JVM runs

class Jvm:
    """The harness JVM; `marks` holds the seconds from launch to its SESSION
    (Spark session up) and READY (inputs staged) lines."""

    def __init__(self, cp, run_dir, args, log):
        tmp = os.path.join(run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", *ADD_OPENS,
               "-cp", cp, "graft.perfbench.Harness", *[f"{k}={v}" for k, v in args.items()]]
        self.marks = {}
        self.log = log
        self._t0 = time.monotonic()
        self._err = open(log, "w")
        self.proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=self._err,
                                     stdin=subprocess.DEVNULL, text=True)
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self):
        for line in self.proc.stdout:
            self.marks.setdefault(line.strip(), time.monotonic() - self._t0)

    def wait(self, timeout):
        try:
            self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            self.kill()
            self.fail(f"harness did not finish within {timeout:.0f} s")
        self._reader.join()
        self._err.close()
        if self.proc.returncode != 0 or "READY" not in self.marks:
            self.fail(f"harness exited with {self.proc.returncode}")

    def kill(self):
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()

    def fail(self, msg):
        with open(self.log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        die(msg, 1)


def generate(workload, seed, data, sizes):
    import gen
    if workload == "query_mix":
        gen.tpch_like(data, seed, sizes["sf"])
        return {}
    if workload == "sketch_bulk":
        distinct = gen.sketch_keys(data, seed, sizes["rows"], sizes["ranks"], sizes["non_members"])
        buckets = 1
        while buckets * 4 < 2 * distinct:
            buckets *= 2
        return {"bloom_n": distinct, "bloom_fpp": BLOOM_FPP, "cms_eps": CMS_EPS,
                "cms_conf": CMS_CONF, "cuckoo_buckets": buckets}
    gen.stream_events(data, seed, sizes["rows"], sizes["users"])
    return {}


# ---------------------------------------------------------------- metrics

def _med(xs):
    return statistics.median(xs) if xs else 0.0


def wall_times(raw, ready_s):
    """Wall-clock figures, printed beside the metrics: on a shared VM they
    follow CPU steal more than the program (README, "Why CPU-seconds")."""
    per_op = {}
    for o in raw["ops"]:
        if o["pass"] > 0:
            per_op.setdefault(o["op"], []).append(o["wall_s"])
    return {"setup_s": round(ready_s, 3), "cold_pass_s": round(raw["passes"][0]["wall_s"], 3),
            "warm_pass_s": round(sum(_med(v) for v in per_op.values()), 3)}


def metrics(raw, trace, figures, sizes):
    """Timings cover every operation, failed or not (one that threw counts
    its wall time until it threw)."""
    passes, ops = raw["passes"], raw["ops"]
    warm = [p["pass"] for p in passes[1:]]
    cold = passes[0]["pass"]

    def per_pass(field, pick=lambda o: True, which=None):
        """Per pass (warm by default), the sum of `field` over the picked ops."""
        return [sum(o.get(field, 0) for o in ops if o["pass"] == p and pick(o))
                for p in (warm if which is None else which)]

    def warm_med(field, pick=lambda o: True):
        return _med(per_pass(field, pick))

    def op_is(*ns):
        return lambda o: o["op"] in ns

    if not trace:
        return {
            "setup_s": (raw["setup_cpu_s"], "s"),
            "cold_cpu_s": (passes[0]["cpu_s"], "s"),
            "warm_cpu_s": (_med([p["cpu_s"] for p in passes[1:]]), "s"),
        }
    cores = raw["cores"]
    wl = raw["workload"]
    sk = raw.get("sketch", {})
    stream = op_is("q_stream_bloom", "q_stream_cms_state", "q_stream_tws")
    wall = per_pass("wall_s")
    split = [b + p + e for b, p, e in zip(per_pass("build_s"), per_pass("plan_s"), per_pass("exec_s"))]
    bulk = wl == "sketch_bulk" and bool(sk)
    build_ops = op_is("bloom_build", "bloom_merge", "cms_build", "cms_merge", "cuckoo_build")
    built_rows = 2 * sk["rows"] + sk["members"] if bulk else 0
    probe_ops = op_is("bloom_probe", "cms_probe", "cuckoo_probe")
    m = {
        "queries.build_s": (warm_med("build_s"), "s"),
        "queries.build_jobs": (warm_med("build_jobs"), "count"),
        "result.rows": (warm_med("rows"), "rows"),
        "spark.analysis_s": (warm_med("analysis_s"), "s"),
        "spark.optimization_s": (warm_med("optimization_s"), "s"),
        "spark.planning_s": (warm_med("planning_s"), "s"),
        "layers.unattributed_share": (_med([(w - s) / w for w, s in zip(wall, split)]), "ratio"),
        "codegen.compiles": (sum(per_pass("compiles", which=[cold])), "count"),
        "codegen.compile_s": (sum(per_pass("compile_s", which=[cold])), "s"),
        "codegen.warm_compiles": (warm_med("compiles"), "count"),
        "exec.s": (warm_med("exec_s"), "s"),
        "exec.jobs": (warm_med("jobs"), "count"),
        "exec.stages": (warm_med("stages"), "count"),
        "exec.tasks": (warm_med("tasks"), "count"),
        "exec.shuffle_bytes": (warm_med("shuffle_bytes"), "bytes"),
        "exec.task_s": (warm_med("task_s"), "s"),
        "exec.task_cpu_s": (warm_med("task_cpu_s"), "s"),
        "exec.overhead_s": (_med([w - t / cores for w, t in zip(wall, per_pass("task_s"))]), "s"),
        "jvm.gc_s": (_med([p["gc_s"] for p in passes[1:]]), "s"),
        "cache.builds": (sum(per_pass("cache_builds", which=[cold])), "count"),
        "cache.warm_builds": (warm_med("cache_builds"), "count"),
    }
    for kind in ("bloom", "cms", "cuckoo"):
        m[f"sketches.{kind}_build_s"] = (warm_med("wall_s", op_is(f"{kind}_build")), "s")
        m[f"sketches.{kind}_probe_s"] = (warm_med("wall_s", op_is(f"{kind}_probe")), "s")
        sized = f"{kind}_merge" if kind != "cuckoo" else "cuckoo_build"
        m[f"sketches.{kind}_bytes"] = (warm_med("bytes", op_is(sized)), "bytes")
    m["sketches.merge_s"] = (warm_med("wall_s", op_is("bloom_merge", "cms_merge")), "s")
    m["sketches.build_rows_per_s"] = (
        built_rows / warm_med("wall_s", build_ops) if bulk else 0.0, "rows/s")
    m["sketches.probe_rows_per_s"] = (
        3 * sk["probe_rows"] / warm_med("wall_s", probe_ops) if bulk else 0.0,
        "rows/s")
    m["sketches.bloom_fpp"] = (figures.get("bloom_fpp", 0.0), "ratio")
    m["sketches.cuckoo_fpp"] = (figures.get("cuckoo_fpp", 0.0), "ratio")
    m["sketches.cms_mean_overcount"] = (figures.get("cms_mean_overcount", 0.0), "count")
    m["sketches.cuckoo_dup_dropped"] = (warm_med("dropped", op_is("cuckoo_dup_build")), "count")
    m["streaming.events_per_s"] = (
        3 * sizes["rows"] / warm_med("wall_s", stream) if wl == "sketch_stream" else 0.0, "events/s")
    for name, field, unit in (
            ("streaming.batches", "batches", "count"), ("streaming.input_rows", "input_rows", "rows"),
            ("streaming.add_batch_s", "add_batch_s", "s"), ("streaming.get_batch_s", "get_batch_s", "s"),
            ("streaming.query_planning_s", "query_planning_s", "s"),
            ("streaming.commit_s", "commit_s", "s"), ("state.rows", "state_rows", "rows"),
            ("state.memory_bytes", "state_memory_bytes", "bytes"),
            ("state.commit_s", "state_commit_s", "s"), ("state.update_s", "state_update_s", "s")):
        m[name] = (warm_med(field, stream), unit)
    m["streaming.post_s"] = (warm_med("plan_s", stream) + warm_med("exec_s", stream), "s")
    return m


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs")
    a = ap.parse_args()

    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found under {ROOT}: run from a checkout of the engine's sources")
    cp = build()
    t_start = time.monotonic()  # a run that builds may take longer; the rest stay under 180 s

    env0, t_env0 = host_env(), time.monotonic()
    run_dir = os.path.join(BUILD, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    os.makedirs(out)
    sizes = (SMOKE_SIZES if a.smoke else SIZES)[a.workload]
    t_gen = time.monotonic()
    args = {"workload": a.workload, "data": data, "out": out, "seconds": a.seconds,
            "trace": a.trace, **generate(a.workload, a.seed, data, sizes)}
    gen_s = time.monotonic() - t_gen
    if a.workload == "query_mix":
        args["queries"] = ",".join(QUERIES)

    j = Jvm(cp, run_dir, args, os.path.join(run_dir, "harness.log"))
    try:
        j.wait(max(30.0, 170 - (time.monotonic() - t_start)))
    finally:
        j.kill()

    with open(os.path.join(out, "raw.json")) as fh:
        raw = json.load(fh)
    import check
    failed = check.failed_ops(raw)
    checks, figures = check.run(a.workload, raw, out, data, failed)
    differs = [f"{o['op']}@{o['pass']}" for o in raw["ops"]
               if (o["pass"], o["op"]) not in failed and not o["same"]]
    checks.append(("passes:same_output", not differs, ", ".join(differs[:5])))
    ran = {c[0] for c in checks}
    checks += [(c, False, "did not run") for c in sorted(required_checks(a.workload) - ran)]
    m = metrics(raw, a.trace == 1, figures, sizes)

    env1 = host_env()
    ticks = os.sysconf("SC_CLK_TCK")
    print("env " + json.dumps({
        "steal_s": round((env1["steal_ticks"] - env0["steal_ticks"]) / ticks, 2),
        "run_s": round(time.monotonic() - t_env0, 1), "load1": env1["load1"],
        "nproc": os.cpu_count(), "java_procs": env0["java_procs"], "gen_s": round(gen_s, 2),
        "passes": len(raw["passes"]), "session_s": round(j.marks["SESSION"], 3),
        "staging_s": round(j.marks["READY"] - j.marks["SESSION"], 3)}))
    print("wall " + json.dumps(wall_times(raw, j.marks["READY"])))
    print("checks " + json.dumps({c[0]: c[1] for c in checks}))
    for c in checks:
        if not c[1]:
            print(f"check failed: {c[0]}: {c[2]}", file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": all(c[1] for c in checks), "attempted": len(raw["ops"]),
                      "failed": len(failed),
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}))


if __name__ == "__main__":
    main()
