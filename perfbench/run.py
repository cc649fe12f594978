#!/usr/bin/env python3
"""Outside-in benchmark of chdbspark.

    python3 perfbench/run.py --workload sql_interactive --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program from
source (sbt, into the build directory), generates the base tables once, and
reuses both afterwards. Each run generates its seeded inputs, starts one JVM
that sets up and drives the workload in a closed loop with one client,
checks the outputs, and prints one line per metric and, last, one JSON
object. `--trace 1` runs the traced variant and prints the per-layer
metrics; spans are kept under the build directory's `traces/`.
`--plant-wrong` plants a wrong answer, which the checks must catch.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import templates  # noqa: E402

ROOT = os.path.dirname(HERE)
WORKLOADS = ["sql_interactive", "curation_batch", "ingest_mutate"]
END_TO_END = [("setup_s", "s"), ("latency_p50_ms", "ms"), ("latency_p90_ms", "ms"),
              ("ops_per_s", "1/s"), ("pipeline_s", "s"), ("peak_rss_mb", "MB")]
SETUPS = 4          # set-ups per run; setup_s is the median of all but the first
HEAP = "2g"
JVM_GRACE_S = 150   # JVM start, set-ups and checks on top of --seconds
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                           os.path.join(ROOT, ".bench_build"))


def source_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if home:
        return home
    submit = shutil.which("spark-submit")
    if not submit:
        fail("no Spark installation: set SPARK_HOME")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def ensure_build(bb):
    """Compile the program and the harness; returns the runtime classpath."""
    cp_file = os.path.join(bb, "classpath.txt")
    stamp_file = os.path.join(bb, "classpath.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(bb, exist_ok=True)
    env = dict(os.environ, PERFBENCH_TARGET=os.path.join(bb, "sbt-target"),
               SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")  # resolve from the local cache only
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           f"-Dsbt.global.base={os.path.join(bb, 'sbt-global')}",
           "compile", "export Runtime/fullClasspath"]
    print("perfbench: building (sbt compile)", file=sys.stderr, flush=True)
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = [ln.strip() for ln in p.stdout.splitlines()]
    cp = [ln for ln in lines if ln.startswith(os.path.join(bb, "sbt-target"))]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


def prepare(workload, seed, run_dir, base):
    """Seeded inputs for one run, all written before the JVM starts."""
    reps = [os.path.join(run_dir, "data", f"rep{i}") for i in range(SETUPS)]
    if workload == "sql_interactive":
        gen.link_copies(base, gen.TABLES, reps)
        gen.write_json(os.path.join(run_dir, "stream.json"), {
            "rounds": gen.sql_stream(seed),
            "known_defects": templates.known_defect_queries()})
    elif workload == "curation_batch":
        corpus = os.path.join(run_dir, "corpus")
        meta = gen.curation_corpus(base, os.path.join(corpus, "rep0"), seed)
        names = ["documents", "embeddings"]
        gen.link_copies(os.path.join(corpus, "rep0"), names,
                        [os.path.join(corpus, f"rep{i}") for i in range(1, SETUPS)])
        gen.write_json(os.path.join(run_dir, "corpus.json"), meta)
    else:
        gen.link_copies(base, ["events"], reps)


def run_jvm(cp, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the whole heap is touched at start, so peak RSS does not depend on
    # how far G1 happened to spread its allocations
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch"] +
           [x for m in JDK_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")] +
           [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"-Dderby.system.home={run_dir}",
            "-cp", cp, "perfbench.Main"] + args)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=float(args[args.index("--seconds") + 1]) + JVM_GRACE_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM exited with {rc}")


def end_to_end(report):
    """Timings over all rounds: the loop runs every round it starts to its
    end, so every run weighs the same op mix."""
    done = {r["round"]: r["ms"] for r in report["rounds"]}
    ms = [o["ms"] for o in report["ops"] if o["ok"]]
    if len(ms) < 2:
        fail("no round completed within the run")
    return {
        # the first set-up runs in a cold JVM; it is always the slowest, so
        # it would only turn the median into the maximum of the others
        "setup_s": statistics.median(report["setup_s"][1:]),
        "latency_p50_ms": statistics.median(ms),
        "latency_p90_ms": statistics.quantiles(ms, n=10, method="inclusive")[8],
        "ops_per_s": len(ms) / (sum(done.values()) / 1000.0),
        "pipeline_s": statistics.median(done.values()) / 1000.0,
        "peak_rss_mb": report["peak_rss_mb"],
    }, len(ms), len(done)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--plant-wrong", action="store_true",
                    help="plant a wrong answer; the checks must report it")
    ap.add_argument("--record", metavar="FILE",
                    help="append the result as one JSON line, for compare.py")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no chdbspark sources under {ROOT}/src/main/scala; run from a checkout")
    bb = build_dir()
    cp = ensure_build(bb)
    base = os.path.join(bb, "data", "base")
    gen.ensure_base(base)

    run_dir = os.path.join(bb, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "out"))
    try:
        prepare(a.workload, a.seed, run_dir, base)
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--inputs", run_dir, "--out", os.path.join(run_dir, "out"),
                "--setups", str(SETUPS)] + (["--plant-wrong"] if a.plant_wrong else [])
        run_jvm(cp, args, run_dir)
        with open(os.path.join(run_dir, "out", "report.json")) as f:
            report = json.load(f)
        verdict = checks.check(a.workload, report, run_dir, base, a.seed)
        if a.trace:
            traces = os.path.join(bb, "traces")
            os.makedirs(traces, exist_ok=True)
            spans = os.path.join(traces, f"{a.workload}-s{a.seed}.jsonl")
            shutil.copyfile(os.path.join(run_dir, "out", "spans.jsonl"), spans)
            printed = layers.per_layer(report, spans)
            metrics = {k: printed[k] for k in layers.RESULT}
            units = layers.UNITS
        else:
            metrics, n_ops, n_rounds = end_to_end(report)
            printed = metrics
            units = dict(END_TO_END)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds} trace {a.trace}")
    print(f"env nproc={report['nproc']} loadavg_start=[{report['loadavg_start']}] "
          f"loadavg_end=[{report['loadavg_end']}] jvm=[{report['jvm']}] "
          f"spark={report['spark']} heap_mb={report['max_heap_mb']:.0f} "
          f"cached_mb={report['setup_layers'].get('tables.cached_mb', 0):.1f}")
    print("spark_conf " + json.dumps(report["spark_conf"], sort_keys=True))
    if not a.trace:
        print(f"samples ops={n_ops} rounds={n_rounds} setups_s="
              f"{[round(s, 3) for s in report['setup_s']]} (the first is cold)")
    for line in verdict["lines"]:
        print(line)
    attempted, failed = verdict["attempted"], verdict["failed"]
    print(f"error_rate {failed / attempted:.6f} ratio ({failed}/{attempted})")
    for name, value in printed.items():
        print(f"{name} {value:.6g} {units[name]}")
    result = {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    if a.record:
        with open(a.record, "a") as f:
            f.write(json.dumps(dict(result, workload=a.workload, seed=a.seed,
                                    trace=a.trace)) + "\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
