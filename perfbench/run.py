#!/usr/bin/env python3
"""Warehouse-DAG benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload dag_trickle --seed 1 --seconds 20 --trace 0

Run from the repository root. It compiles ``src/main/scala`` and the
benchmark's JVM driver into ``.bench_build/`` (reused while the sources are
unchanged), generates the workload's inputs from the seed, runs the program
once, checks its outputs against the generator's expected counts, and prints
every metric; the last stdout line is the JSON result. See README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("dag_trickle", "curation_batch")
# Pinned session setting: 4 partitions on 4 cores put one DAG round at
# ~25 s and set-up at ~45 s, past what the run budget allows (README.md).
SHUFFLE_PARTITIONS = 1
END_TO_END = [("setup_s", "s"), ("round_s", "s"), ("fresh_ms", "ms"),
              ("records_per_s", "1/s"), ("rss_peak_mb", "MiB")]
# further timings printed by name on the lines before the result
DETAIL = {"dag_trickle": [("dwd_fresh_ms", "ms"), ("dws_emit_ms", "ms")],
          "curation_batch": []}
# Query groups with per-layer metrics. The curation group (fuzzy and sem)
# is fed only in the priming round, so it runs no measured batch.
DAG_GROUPS = ("dim", "dwd_log", "dwd_db", "dwd_trade", "dws")
STATEFUL_GROUPS = ("dwd_trade", "dws")
PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
          "walCommit", "commitOffsets")
OPERATORS = ("lsh_cc", "ngram_jaccard", "semdedup", "ivf_topk", "gopher",
             "hll", "kn_lm")
LAYER_SPANS = ("core.parse", "apps.dwd", "apps.dim_route",
               "streaming.dim_upsert", "streaming.compact")
ENGINE = ("jobs", "tasks", "executor_cpu_ms", "shuffle_write_bytes")
RUN_LIMIT_S = 170  # a run must end within 180 s


def per_layer_names():
    names = []
    for g in DAG_GROUPS:
        names += [f"streaming.{g}.{p}_ms" for p in PHASES]
        names += [f"streaming.{g}.batches", f"streaming.{g}.input_rows"]
        if g in STATEFUL_GROUPS:
            names += [f"streaming.{g}.{m}" for m in (
                "nodata_batches", "nodata_batch_share", "state_commit_ms",
                "state_rows", "state_bytes", "late_dropped")]
    for g in DAG_GROUPS:
        names += [f"engine.{g}.{m}" for m in ENGINE]
    names += [f"engine.curation_batch.{m}" for m in ENGINE + ("spill_bytes",)]
    names += [f"{s}_ms" for s in LAYER_SPANS]
    names += [f"operators.{op}_ms" for op in OPERATORS]
    names += [f"plans.{op}.{ph}_ms" for op in OPERATORS
              for ph in ("analysis", "optimization", "planning")]
    names += ["operators.lsh_cand_per_kept_pair", "ledger.slowest_query_cover",
              "trace.round_s"]
    return names


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: Spark not found (set SPARK_HOME)")
    return home


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(jars, classpath, files, out):
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
           "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", classpath] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit(f"perfbench: compiling {len(files)} files into {out} failed")


def build(root, build_dir, jars):
    """Compile the program and the driver; reuse them while unchanged."""
    app_src = sources(os.path.join(root, "src", "main", "scala"))
    if not app_src:
        sys.exit("perfbench: no program sources under src/main/scala")
    bench_src = sources(os.path.join(HERE, "scala"))
    app, bench = (os.path.join(build_dir, d) for d in ("app-classes", "bench-classes"))
    stamp = os.path.join(build_dir, "classes.stamp")
    key = digest(app_src) + digest(bench_src)
    if os.path.exists(stamp) and open(stamp).read() == key:
        return app, bench
    t0 = time.time()
    scalac(jars, jars, app_src, app)
    scalac(jars, app + os.pathsep + jars, bench_src, bench)
    with open(stamp, "w") as f:
        f.write(key)
    print(f"build: compiled {len(app_src)}+{len(bench_src)} files in "
          f"{time.time() - t0:.1f} s")
    return app, bench


def heap_gib():
    """A driver heap that fits the host: a quarter of RAM, 2-8 GiB."""
    with open("/proc/meminfo") as f:
        kib = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return max(2, min(8, round(kib / 2**20 / 4)))


ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def loadavg():
    with open("/proc/loadavg") as f:
        return f.read().split()[0]


def run_jvm(args, classpath, work, inputs, deadline):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{heap_gib()}g", "-XX:+UseParallelGC",
            "-XX:ReservedCodeCacheSize=1g", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}"] + ADD_OPENS +
           ["-cp", classpath, "perfbench.Main", args.workload, inputs, work,
            str(args.seconds), str(args.trace), str(int(time.time() * 1000)),
            str(SHUFFLE_PARTITIONS), out])
    env = dict(os.environ, GRAFT_SCRATCH_DIR=tmp)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env)
        try:
            p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
    # the work dir is removed after the run; keep the program's log
    keep = os.path.join(os.path.dirname(os.path.dirname(work)), "logs")
    os.makedirs(keep, exist_ok=True)
    shutil.copy(log, os.path.join(keep, os.path.basename(work) + ".log"))
    if p.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"perfbench: the program exited with {p.returncode}")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    root = os.getcwd()
    build_dir = os.path.join(root, ".bench_build")
    jars = os.path.join(spark_home(), "jars", "*")
    app, bench = build(root, build_dir, jars)
    deadline = time.time() + RUN_LIMIT_S - min(30, time.time() - t_start)

    work = os.path.join(build_dir, "run", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    meta = gen.generate(args.workload, args.seed, os.path.join(inputs, args.workload))
    load0 = loadavg()
    res = run_jvm(args, os.pathsep.join([bench, app, jars]), work, inputs, deadline)
    load1 = loadavg()

    # ---------------------------------------------------------- checks --
    failures = list(res.get("errors", []))
    actual = res.get("actual", {})
    if args.workload == "dag_trickle":
        done = res.get("rounds_done", 0)
        expected = meta["expected"][done]
        failures += check.compare(expected, actual)
        # operations: each round (priming too) and each output check
        attempted = done + 1 + len(expected)
    else:
        failures += check.compare_curation(meta["expected"], actual)
        attempted = res.get("passes", 0) * len(OPERATORS) + len(meta["expected"])
    failed = len(failures)

    # --------------------------------------------------------- metrics --
    values = {k: res.get(k) for k in ("setup_s", "records_per_s", "rss_peak_mb")}
    for k, unit in [("round_s", "s"), ("fresh_ms", "ms")] + DETAIL[args.workload]:
        s = check.summary(res.get(k, []))
        values[k] = s[0] if s else None
        if s:
            print(f"{k}: median {s[0]:.4f} {unit}, p{s[1]} {s[2]:.4f} {unit}, n={s[3]}")
    if args.workload == "curation_batch" and values["round_s"]:
        print(f"curation_s: median {values['round_s']:.4f} s (one operator-list pass)")
    if args.workload == "dag_trickle" and values["records_per_s"]:
        print(f"envelopes_per_s: {values['records_per_s']:.1f} 1/s")
    settings = dict(res.get("settings", {}), loadavg_start=load0, loadavg_end=load1,
                    workload=args.workload, seed=args.seed, seconds=args.seconds,
                    trace=args.trace, heap_gib=heap_gib(),
                    rounds_done=res.get("rounds_done"), passes=res.get("passes"))
    print("settings: " + json.dumps(settings, sort_keys=True))
    print(f"session_s: {res.get('session_s'):.3f} s (JVM start -> session ready)")
    print(f"fail_ratio: {failed / max(1, attempted):.4f} ({failed}/{attempted})")
    for f in failures:
        print(f"FAILED: {f}")

    if args.trace:
        metrics = per_layer(res, values)
        keep = os.path.join(build_dir, "spans", f"{args.workload}-{args.seed}.json")
        os.makedirs(os.path.dirname(keep), exist_ok=True)
        shutil.copy(os.path.join(work, "spans.json"), keep)
        print(f"spans: {keep}")
        untraced = os.path.join(build_dir, "last", f"{args.workload}.json")
        if os.path.exists(untraced) and values["round_s"]:
            with open(untraced) as f:
                base = json.load(f)["round_s"]
            print(f"tracing overhead: round_s {values['round_s']:.4f} s traced vs "
                  f"{base:.4f} s untraced ({values['round_s'] / base - 1:+.1%})")
        out = {m: {"value": metrics.get(m, 0.0), "unit": unit_of(m)}
               for m in per_layer_names()}
    else:
        missing = [k for k, _ in END_TO_END if not values.get(k)]
        if missing:
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(f"perfbench: no samples for {missing}; failures: {failures}")
        os.makedirs(os.path.join(build_dir, "last"), exist_ok=True)
        with open(os.path.join(build_dir, "last", f"{args.workload}.json"), "w") as f:
            json.dump(values, f)
        out = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


def unit_of(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_share", "_cover", "_per_kept_pair")):
        return "ratio"
    return "count"


def per_layer(res, values):
    """Per-layer metrics of a traced run: DAG figures per measured round,
    curation figures per pass."""
    passes = max(1, res.get("passes") or 0)
    rounds = max(1, res.get("rounds_done") or 0)
    m = dict(res.get("streaming", {}))
    for g, v in res.get("engine", {}).items():
        div = passes if g == "curation_batch" else rounds
        for name, x in zip(ENGINE + ("spill_bytes",), v):
            m[f"engine.{g}.{name}"] = x / div
    for name, ms in res.get("spans_ms", {}).items():
        m[f"{name}_ms"] = ms / passes if name.startswith("operators.") else ms
    for span, (a, o, p) in res.get("plans", {}).items():
        if span.startswith("operators."):
            op = span.split(".", 1)[1]
            m[f"plans.{op}.analysis_ms"] = a / passes
            m[f"plans.{op}.optimization_ms"] = o / passes
            m[f"plans.{op}.planning_ms"] = p / passes
    m["operators.lsh_cand_per_kept_pair"] = res.get("cand_per_kept", 0.0)
    cover = check.summary(res.get("slowest_cover", []))
    m["ledger.slowest_query_cover"] = cover[0] if cover else 0.0
    m["trace.round_s"] = values["round_s"] or 0.0
    return m


if __name__ == "__main__":
    main()
