#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source tree. The first run builds the engine with the
repo's own sbt build and compiles the harness (perfbench/harness) against it
into $CARGO_TARGET_DIR/perfbench (default .bench_build/perfbench); later runs
reuse that build while no source changed. A run generates the inputs from
the seed (gen.py); the harness runs the workload at local[<cpus>] and writes
every operation's time and output; this script then checks the outputs
against their oracles (check.py) and prints one JSON line: with --trace 0
the end-to-end metrics, with --trace 1 the per-layer ones.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

# A run makes one cold pass over a workload's operations, then a fixed
# number of steady passes: --seconds over `pass_s`, a steady pass's length on
# a 4-core box, and at least `min_passes`, so that every run of a workload
# does the same work. The queries are placed by the job count and shuffle
# bytes each shows (README.md).
WORKLOADS = {
    "topology_stream": {"kind": "topology", "files": 12, "per_file": 500,
                        "pass_s": 5.0, "min_passes": 2},
    "stateful_stream": {"kind": "stateful", "sf": 0.01, "pass_s": 7.5, "min_passes": 1,
                        "ops": ["asof_enrich", "sessionize", "funnel"]},
    "job_bound_queries": {"kind": "queries", "sf": 0.01, "pass_s": 2.5,
                          "min_passes": 4, "ops": [
        "q_filter_project", "q_donation_rescale", "q_merge_union", "q_topology_experiment",
        "q_dp_counts", "q_sql_q6", "q_sql_q14", "q_countmin"]},
}

JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
               "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]
RUN_LIMIT_S = 175


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    h = hashlib.sha256()
    files = ["build.sbt", "project/build.properties"]
    files += sorted(glob.glob("src/main/**/*", root_dir=root, recursive=True))
    files += sorted(glob.glob("perfbench/harness/**/*.scala", root_dir=root, recursive=True))
    for f in files:
        p = os.path.join(root, f)
        if os.path.isfile(p):
            h.update(f.encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, build_dir):
    """Classpath of the engine plus the harness, building them if stale."""
    stamp = source_stamp(root)
    cp_file = os.path.join(build_dir, "classpath")
    stamp_file = os.path.join(build_dir, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=root, env=env, stdout=subprocess.PIPE, stderr=fh, text=True,
                           stdin=subprocess.DEVNULL)
        fh.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if r.returncode != 0 or not lines:
        fail(f"engine build failed, see {log}")
    engine_cp = lines[-1].strip()
    jars = engine_cp.split(":")
    scalac = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    classes = os.path.join(build_dir, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    sources = sorted(glob.glob(os.path.join(HERE, "harness", "graftbench", "*.scala")))
    with open(log, "a") as fh:
        r = subprocess.run(["java", "-Xss8m", "-Xmx1g", "-cp", ":".join(scalac),
                            "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                            "-classpath", engine_cp] + sources,
                           stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        fail(f"harness build failed, see {log}")
    cp = classes + ":" + engine_cp
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def run_jvm(cp, spec, args, work, inputs, cpus):
    # a fixed set of JIT compiler threads, whose CPU the harness reads per thread
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UseDynamicNumberOfCompilerThreads",
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    passes = max(spec["min_passes"], round(args.seconds / spec["pass_s"]))
    cmd += ["-cp", cp, "graftbench.Main", "--kind", spec["kind"], "--seed", str(args.seed),
            "--trace", str(args.trace), "--cpus", str(cpus), "--work", work, "--inputs", inputs,
            "--clk-tck", str(os.sysconf("SC_CLK_TCK")), "--passes", str(passes)]
    if "ops" in spec:
        cmd += ["--ops", ",".join(spec["ops"])]
    os.makedirs(os.path.join(work, "tmp"))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=max(10.0, RUN_LIMIT_S - (time.monotonic() - T_START)))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"workload did not finish in time, see {log}")
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"harness exited with {rc}, see {log}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def cpu_ticks():
    """(steal, total) ticks of the whole box from /proc/stat, to report how
    much CPU the hypervisor took from it during a run."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    spec = WORKLOADS[args.workload]

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft source tree (build.sbt, src/main/scala/graft)")
    out_root = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    cp = build(root, out_root)
    cpus = len(os.sched_getaffinity(0))

    # the last run's inputs, outputs and logs stay here until the next run
    work = os.path.join(out_root, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inputs = os.path.join(work, "gen")
    gen_cpu0 = time.process_time()
    if spec["kind"] == "topology":
        gen.frames(inputs, args.seed, spec["files"], spec["per_file"])
    else:
        gen.tables(inputs, args.seed, spec["sf"])
        if spec["kind"] == "stateful":
            gen.split_events(inputs, os.path.join(inputs, "events_split"))
    gen_cpu_s = time.process_time() - gen_cpu0
    t_jvm, steal0 = time.monotonic(), cpu_ticks()
    res = run_jvm(cp, spec, args, work, inputs, cpus)
    steal1 = cpu_ticks()

    # ---- check every operation's output (untimed)
    ops = res["ops"]
    wrong = check.wrong_ops(spec["kind"], ops, inputs, work, res["oracle_sql"], cpus)
    failed = [i for i, o in enumerate(ops) if o["error"] is not None or i in wrong]
    for i in failed:
        o = ops[i]
        why = o["error"] if o["error"] is not None else wrong[i]
        print(f"FAILED op {o['name']} (pass {o['pass']}): {why}", file=sys.stderr)
    if len(failed) == len(ops):
        fail("no operation succeeded")

    steady_passes = res["passes"][1:]
    e2e = {
        "setup_s": gen_cpu_s + res["setup_cpu_s"],
        "cold_cpu_s": res["passes"][0]["cpu_s"],
        "cpu_s": statistics.median(p["cpu_s"] - p["jit_cpu_s"] for p in steady_passes),
        "heap_retained_mb": res["heap_retained_mb"],
    }
    # box_steal: the share of the box's CPU time the hypervisor took during
    # the run, which wall-clock figures follow (README.md, Metrics)
    print(f"perfbench: {args.workload} seed={args.seed} ops={len(ops)} failed={len(failed)} "
          f"passes={len(res['passes'])} gen_cpu_s={gen_cpu_s:.2f} "
          f"jvm_s={time.monotonic() - t_jvm:.1f} total_s={time.monotonic() - T_START:.1f} "
          f"box_steal={(steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]):.1%}",
          file=sys.stderr)
    for name, q in sorted(res.get("per_query", {}).items()):
        print(f"perfbench: {name:28s} ms={q['ms']:8.1f} jobs={q['jobs']:5.1f} "
              f"build_jobs={q['build_jobs']:5.1f} shuffle_write_bytes={q['shuffle_write_bytes']:11.0f} "
              f"executor_cpu_ms={q['executor_cpu_ms']:8.1f}", file=sys.stderr)
    # metric names and units come from BENCHMARK.json; a layer the workload
    # does not use reads 0
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if args.trace:
        metrics = {m["name"]: {"value": res["layers"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    print(json.dumps({"correct": not wrong, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
