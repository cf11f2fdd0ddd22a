#!/usr/bin/env python3
"""Benchmark of the engine: three closed-loop workloads, each run in a
fresh JVM on the compiled classes, every output checked against results
computed apart from the program.

  python3 perfbench/run.py --workload serving_mix --seed 1 --seconds 12 --trace 0
  python3 perfbench/run.py --self-check          # every workload once, small
  python3 perfbench/run.py --expected --workload W --seed N   # recompute

The last line of standard output is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {value, unit}}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (a Spark listener is registered only then). See README.md.
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
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
import expected  # noqa: E402
import inputs  # noqa: E402

# input sizes per workload: (bench, self-check)
SIZES = {
    "serving_mix": ({"scale": 0.1}, {"scale": 0.001}),
    "curation_corpus": ({"n_docs": 1500, "n_vecs": 1500, "n_names": 1500},
                        {"n_docs": 300, "n_vecs": 300, "n_names": 300}),
    "deftunes_backfill": ({"months": 1, "users": 1500, "sessions": 2500,
                           "songs": 2000},
                          {"months": 2, "users": 40, "sessions": 60,
                           "songs": 50}),
}
GENERATORS = {"serving_mix": inputs.tables,
              "curation_corpus": inputs.corpus,
              "deftunes_backfill": inputs.deftunes}
# slate queries of the query workloads, each with the program package
# whose code it exercises (attributes the jobs of the final collect)
QUERIES = {
    "serving_mix": [(q, "queries") for q in [
        "q_tpch_q3", "q_tpch_q6", "q_project_rename",
        "q_left_join_sales_country", "q_date_part", "q_topk_per_group",
        "q_dq_is_complete", "q_dq_uniqueness"]],
    "curation_corpus": [
        ("q_dedup_exact", "dedup"), ("q_dedup_sliding_spans", "dedup"),
        ("q_edit_join", "operators"), ("q_ann_bruteforce", "similarity"),
        ("q_text_quality", "text")],
}
# C1 only: with the C2 compiler a run this short never settles (it spent
# 16-21 s of compile CPU in every warm pass on 4 cores, and warm passes
# of one run differed by up to 30%). C1 code lives in the non-profiled
# code heap, 117 MB of the default segmented 240 MB; the classes Spark
# generates for every query fill it within a minute, and then the code
# cache sweeper flushes methods and recompiles them (2-4 s of compile
# CPU in a pass) or, without flushing, compilation stops. One 512 MB code
# heap avoids both. Compiling at a tenth of the default thresholds moves
# most compilation into the cold pass.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1",
            "-XX:-SegmentedCodeCache", "-XX:ReservedCodeCacheSize=512m",
            "-XX:CompileThresholdScaling=0.1",
            "-Dspark.callstack.depth=40"] + [
    a for p in ["java.lang", "java.lang.invoke", "java.lang.reflect",
                "java.io", "java.net", "java.nio", "java.util",
                "java.util.concurrent", "java.util.concurrent.atomic",
                "sun.nio.ch", "sun.nio.cs", "sun.security.action",
                "sun.util.calendar"]
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
# metric names and units, as BENCHMARK.json declares them
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = [(m["name"], m["unit"]) for m in _SPEC["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"]) for m in _SPEC["per_layer"]]
# nominal seconds of one warm pass on a 4-core host: a run makes
# seconds // PASS_S warm passes (at least one), the same number in every
# run; deftunes adds one re-run pass over the populated lake at the end
PASS_S = {"serving_mix": 4, "curation_corpus": 4, "deftunes_backfill": 5}
# untimed passes after the cold one: the query workloads still compile
# 1-3 s of new code in their first pass after it, deftunes does not
WARMUPS = {"serving_mix": 1, "curation_corpus": 1, "deftunes_backfill": 0}
RUN_LIMIT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def steal_s():
    """Steal seconds of this machine's CPUs so far (summed over CPUs)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def adjusted(seconds, cpu_s, steal):
    """Wall time of a stretch of work as it would read on a host that gave
    its CPUs the time they asked for: the wall time scaled by the share of
    the wanted CPU time (this process's CPU time plus the machine's steal
    time meanwhile) that the hypervisor granted. Equal to the wall time
    when there is no steal."""
    return seconds * cpu_s / (cpu_s + steal) if cpu_s + steal > 0 \
        else seconds


# ----------------------------------------------------------------- build

def _source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"),
                 os.path.join(HERE, "harness")):
        for d, _, fs in sorted(os.walk(base)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program with its own build and the harness against it,
    once per source state. Returns (classpath, oracle SQL by query)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources to build under {ROOT}")
    out = os.path.join(WORK, "build")
    stamp = _source_stamp()
    try:
        with open(os.path.join(out, "stamp.json")) as f:
            done = json.load(f)
        if done["stamp"] == stamp:
            with open(os.path.join(out, "oracle_sql.json")) as f:
                return done["classpath"], json.load(f)
    except (OSError, ValueError, KeyError):
        pass
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    log("building the program (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx3g " +
        (f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}"
         if os.path.isfile(os.path.expanduser("~/.sbt/repositories"))
         else "")))
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "compile", "export Runtime/fullClasspath"],
                       cwd=ROOT, env=env, capture_output=True, text=True,
                       timeout=800)
    cp_lines = [l for l in r.stdout.splitlines()
                if not l.startswith("[") and "classes" in l and ":" in l]
    if r.returncode != 0 or not cp_lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-2000:])
        fail("program build failed")
    program_cp = cp_lines[-1].strip()
    hcls = os.path.join(out, "harness")
    os.makedirs(hcls)
    srcs = [os.path.join(d, f)
            for d, _, fs in os.walk(os.path.join(HERE, "harness"))
            for f in fs if f.endswith(".scala")]
    log("building the harness (scalac)")
    r = subprocess.run(["java", "-Xmx1g", "-cp", program_cp,
                        "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                        "-d", hcls] + sorted(srcs),
                       capture_output=True, text=True, timeout=300)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("harness build failed")
    classpath = hcls + os.pathsep + program_cp
    oracle_path = os.path.join(out, "oracle_sql.json")
    r = subprocess.run(["java", "-cp", classpath, "perfbench.OracleSql",
                        oracle_path], capture_output=True, text=True,
                       timeout=120)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-4000:])
        fail("could not read the oracle SQL")
    with open(os.path.join(out, "stamp.json"), "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    with open(oracle_path) as f:
        return classpath, json.load(f)


# ------------------------------------------------- inputs and expectations

def prepare(workload, seed, small, oracle_sql, force=False):
    """Inputs and expected results for (workload, size, seed), made once
    and kept under .work; returns (input dir, expected dir)."""
    size = SIZES[workload][1 if small else 0]
    # the cache key covers everything the inputs and expectations depend on
    h = hashlib.sha256(json.dumps(
        [size, [oracle_sql.get(q) for q in _outputs(workload)]]).encode())
    for module in (inputs, expected):
        with open(module.__file__, "rb") as f:
            h.update(f.read())
    key = f"{workload}-{seed}-{h.hexdigest()[:12]}"
    base = os.path.join(WORK, "inputs", key)
    if force or not os.path.isfile(os.path.join(base, "done")):
        shutil.rmtree(base, ignore_errors=True)
        _prune(os.path.join(WORK, "inputs"), keep=36)
        GENERATORS[workload](os.path.join(base, "in"), seed, **size)
        expected.compute(workload, _outputs(workload),
                         os.path.join(base, "in"), oracle_sql,
                         os.path.join(base, "expected"))
        open(os.path.join(base, "done"), "w").close()
    return os.path.join(base, "in"), os.path.join(base, "expected")


def _outputs(workload):
    """Names of the outputs a workload's run writes for checking."""
    if workload == "deftunes_backfill":
        return expected.DEFTUNES_TABLES
    return [q for q, _ in QUERIES[workload]]


def _prune(d, keep):
    """Keep the disk cache of generated inputs bounded."""
    if not os.path.isdir(d):
        return
    entries = sorted((os.path.getmtime(os.path.join(d, e)), e)
                     for e in os.listdir(d))
    for _, e in entries[:max(0, len(entries) - keep + 1)]:
        shutil.rmtree(os.path.join(d, e), ignore_errors=True)


# ------------------------------------------------------------------- run

def run_jvm(classpath, workload, in_dir, warmups, passes, trace, deadline):
    """One isolated JVM run. Its warehouse, Spark local dir and
    java.io.tmpdir live in a fresh run directory that is deleted after."""
    runs = os.path.join(WORK, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    run_dir = os.path.join(runs, f"{workload}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = (["java"] + JVM_OPTS +
           [f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dperfbench.steal0={steal_s()}", "-cp", classpath,
            "perfbench.Harness", workload, in_dir, run_dir, str(warmups),
            str(passes),
            "1" if trace else "0",
            ",".join(f"{q}:{m}" for q, m in QUERIES.get(workload, []))])
    try:
        with open(os.path.join(run_dir, "jvm.log"), "w") as err:
            try:
                r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err,
                                   text=True,
                                   timeout=max(10, deadline - time.time()))
            except subprocess.TimeoutExpired:
                fail(f"{workload}: JVM run exceeded the time limit")
        lines = [l for l in r.stdout.splitlines()
                 if l.startswith("PB_RESULT ")]
        if r.returncode != 0 or not lines:
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"{workload}: JVM run failed (exit {r.returncode})")
        result = json.loads(lines[-1][len("PB_RESULT "):])
        results_dir = os.path.join(run_dir, "results")
        result["result_mb"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(results_dir) for f in fs
            if f.endswith(".parquet")) / 1e6
        return result, run_dir
    except BaseException:
        shutil.rmtree(run_dir, ignore_errors=True)
        raise


def judge(workload, result, in_dir, exp_dir, run_dir):
    """Count attempted and failed operations. An operation fails when it
    raised, when its output differs from its first pass, or when the
    first pass's output differs from the expected result."""
    bad = expected.check(workload, _outputs(workload), in_dir, exp_dir,
                         os.path.join(run_dir, "results"))
    for name, why in sorted(bad.items()):
        log(f"{workload}: {name} is wrong: {why}")
    attempted = failed = 0
    for p in result["passes"]:
        for i, op in enumerate(p["ops"]):
            attempted += 1
            # a wrong lake state is charged to the window that left it
            wrong = (op["name"] in bad if workload != "deftunes_backfill"
                     else bool(bad) and p["kind"] == "cold"
                     and i == len(p["ops"]) - 1)
            if op["error"] or wrong:
                failed += 1
                if op["error"]:
                    log(f"{workload}: {p['kind']} {op['name']}: "
                        f"{op['error']}")
    return attempted, failed, not bad


def metrics(workload, result, trace):
    passes = result["passes"]
    warm = [p for p in passes if p["kind"] == "warm"]
    med = statistics.median
    rerun = [p for p in passes if p["kind"] == "rerun"] or warm
    if trace:
        # single samples per run, too spread between runs to bound
        values = {"pass.cold_s": passes[0]["wall_s"],
                  "pass.warm_wall_s": med([p["wall_s"] for p in warm]),
                  "pass.rerun_s": med([p["wall_s"] for p in rerun]),
                  "pipeline.window_s":
                      med([o["s"] for p in warm for o in p["ops"]])
                      if workload == "deftunes_backfill" else 0.0,
                  "host.steal_s": med([p["steal_s"] for p in warm])}
        return {n: {"value": values[n] if n in values else
                    med([p["layers"].get(n, 0.0) for p in warm]),
                    "unit": u} for n, u in PER_LAYER}
    if workload == "deftunes_backfill":
        lake = result["lake_mb"]
        write_mb = lake["landing"] + lake["silver"] + lake["serving"]
    else:
        write_mb = result["result_mb"]
    def adj(o):
        return adjusted(o["s"], o["cpu_s"], o["steal_s"])
    values = {
        "setup_s": adjusted(result["setup_s"], result["setup_cpu_s"],
                            result["setup_steal_s"]),
        "warm_pass_s": med([sum(adj(o) for o in p["ops"]) for p in warm]),
        "op_p50_s": med([adj(o) for p in warm for o in p["ops"]]),
        "cpu_s": med([p["cpu_s"] for p in warm]),
        "peak_rss_mb": result["peak_rss_mb"],
        "lake_write_mb": write_mb,
    }
    return {n: {"value": values[n], "unit": u} for n, u in END_TO_END}


def _log_ops(workload, result):
    """Per-pass and per-operation seconds (cold pass first) on stderr."""
    passes = result["passes"]
    log(f"{workload} passes " + " ".join(
        f"{p['kind']}={p['wall_s']:.3f}" for p in passes))
    log(f"{workload} cpu_s " + " ".join(f"{p['cpu_s']:.3f}" for p in passes))
    log(f"{workload} steal_s " + " ".join(
        f"{p['steal_s']:.3f}" for p in passes))
    for i, op in enumerate(passes[0]["ops"]):
        log(f"{workload} {op['name']:28s} " + " ".join(
            f"{p['ops'][i]['s']:.3f}" for p in passes))


def bench(args):
    deadline = time.time() + RUN_LIMIT_S
    classpath, oracle_sql = build()
    in_dir, exp_dir = prepare(args.workload, args.seed, False, oracle_sql)
    passes = max(1, int(args.seconds // PASS_S[args.workload]))
    result, run_dir = run_jvm(classpath, args.workload, in_dir,
                              WARMUPS[args.workload], passes, args.trace,
                              deadline)
    try:
        attempted, failed, correct = judge(args.workload, result, in_dir,
                                           exp_dir, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    _log_ops(args.workload, result)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed,
                      "metrics": metrics(args.workload, result, args.trace)}))


def self_check():
    """Every workload once on small inputs, traced; exits non-zero on any
    failed operation or wrong output."""
    classpath, oracle_sql = build()
    ok = True
    for workload in SIZES:
        in_dir, exp_dir = prepare(workload, 1, True, oracle_sql)
        result, run_dir = run_jvm(classpath, workload, in_dir, 0, 1, True,
                                  time.time() + RUN_LIMIT_S)
        try:
            attempted, failed, correct = judge(workload, result, in_dir,
                                               exp_dir, run_dir)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
        m = metrics(workload, result, True)
        good = correct and failed == 0 and m["spark.jobs"]["value"] > 0
        ok &= good
        print(f"{workload}: {'ok' if good else 'FAILED'} "
              f"({attempted} operations, {failed} failed)")
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true")
    ap.add_argument("--expected", action="store_true",
                    help="recompute the inputs and expected results of "
                         "--workload and --seed, then exit")
    args = ap.parse_args()
    if args.self_check:
        self_check()
    elif not args.workload:
        ap.error("--workload is required")
    elif args.expected:
        _, oracle_sql = build()
        print(prepare(args.workload, args.seed, False, oracle_sql,
                      force=True)[1])
    else:
        bench(args)


if __name__ == "__main__":
    main()
