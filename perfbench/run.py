#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload ingest|curation \
        --seed N --seconds S --trace 0|1

Builds the harness and the program from source (once per source state),
generates the workload's inputs from the seed, runs them through the JVM
harness (perfbench.Main) with one client thread, checks every output and
prints the metrics, the last line being one JSON object: the end-to-end
metrics, or with --trace 1 the per-layer metrics of a traced run. See
README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("ingest", "curation")
DEADLINE_S = 170          # the whole command must end within 180 s
HEAP = "3g"
# The JVM sees half the machine's processors, so Spark runs that many task
# threads (GraftSession.local's default) and the JIT compiler and collector
# threads keep the rest. On a shared 4-vCPU VM with 6-25% CPU steal, 4 task
# threads beside them made runs slower and their times far more scattered.
CORES = max(1, len(os.sched_getaffinity(0)) // 2)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

sys.path.insert(0, HERE)
import gen  # noqa: E402
import metrics  # noqa: E402


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ build
def _sources():
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "src", "main")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile the program and the harness with sbt (offline) and cache the
    runtime classpath under .bench_build, keyed by a hash of the sources.
    A file lock serialises concurrent runs in one checkout."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources next to the benchmark; nothing to build")
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, f"classpath-{h.hexdigest()[:16]}.txt")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(cp_file):
            env = dict(os.environ, COURSIER_MODE="offline")
            opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
                    "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.exists(repos):
                opts += ["-Dsbt.override.build.repos=true",
                         f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 "export perfbench/Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE,
                stderr=subprocess.STDOUT, text=True)
            lines = [ln for ln in p.stdout.splitlines()
                     if ".jar" in ln and not ln.startswith("[")]
            if p.returncode != 0 or not lines:
                sys.stderr.write(p.stdout[-4000:])
                fail("build failed")
            with open(cp_file + ".tmp", "w") as f:
                f.write(lines[-1].strip())
            os.replace(cp_file + ".tmp", cp_file)
    with open(cp_file) as f:
        return f.read().strip()


# ----------------------------------------------------------------- inputs
def generate(workload, seed, seconds, inputs):
    """Inputs for one run, and the harness arguments that describe them.
    The pool holds more ops than a run at today's speed needs."""
    if workload == "curation":
        n = 4 + int(seconds)
        gen.gen_corpus(os.path.join(inputs, "corpus", "base"), seed, -1,
                       gen.CORPUS_BASE_DOCS)
        for b in range(n):
            gen.gen_corpus(os.path.join(inputs, "corpus", f"batch_{b:04d}"),
                           seed, b, gen.CORPUS_BATCH_DOCS)
        return {"base-docs": gen.CORPUS_BASE_DOCS,
                "batch-docs": gen.CORPUS_BATCH_DOCS, "batches": n}
    n = gen.INGEST_PRESEED_WAVES + 4 + 2 * int(seconds)
    gen.gen_ingest(os.path.join(inputs, "ingest"), seed, n)
    return {"preseed": gen.INGEST_PRESEED_WAVES, "waves": n}


# -------------------------------------------------------------------- run
def run_jvm(cp, workload, seed, seconds, trace, inputs, work, extra, deadline):
    os.makedirs(os.path.join(work, "program"))
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = (["java", f"-XX:ActiveProcessorCount={CORES}",
            f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace),
              "--inputs", inputs, "--work", work, "--out", out])
    for k, v in extra.items():
        cmd += [f"--{k}", str(v)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=os.path.join(work, "program"), env=env,
                         stdout=log, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        p.wait(timeout=max(1, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{workload}: harness timed out")
    finally:
        log.close()
    if p.returncode != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"{workload}: harness exited {p.returncode}")
    with open(os.path.join(work, "jvm.log")) as f:
        for line in f:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    with open(out) as f:
        return json.load(f)


def oracle_failures(workload, result, inputs, work):
    """Ids of the ops whose outputs the DuckDB oracles reject, and the
    seconds the oracle checks took."""
    import check
    t0 = time.monotonic()
    checks = os.path.join(work, "checks")
    bad = set()
    errors = {}
    if workload == "curation":
        errors = check.compare(
            os.path.join(inputs, "corpus", "batch_0000"), checks, "curation")
        if errors:
            bad.add(0)
    for name, msg in sorted(errors.items()):
        print(f"perfbench: oracle mismatch {name}: {msg}", file=sys.stderr)
    return bad, time.monotonic() - t0


def gauges(workload, result, inputs, work, extra):
    """Printed properties of the program's final state that are not
    failures: on ingest, how many rows of re-delivered pages still carry
    an earlier edition's prices."""
    if workload != "ingest":
        return {}
    import check
    stale, rows = check.stale_prices(
        os.path.join(work, "program", "zones", "data", "clean", "PnP"),
        os.path.join(inputs, "ingest", "prices.tsv"),
        extra["preseed"] + len(result["ops"]))
    return {"redelivered_rows": rows,
            "redelivered_stale_price_share": stale / rows if rows else 0.0}


def measure(args, cp, inputs, extra, deadline):
    work = os.path.join(args.work, "run")
    os.makedirs(work)
    result = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace,
                     inputs, work, extra, deadline)
    bad, oracle_s = oracle_failures(args.workload, result, inputs, work)
    bad |= {o["id"] for o in result["ops"] if not o["ok"]}
    return result, bad, oracle_s, gauges(args.workload, result, inputs, work,
                                          extra)


def result_line(attempted, failed, values):
    """The last line of the output: the machine-readable result."""
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    cp = build()
    # the run's private work root: inputs, program state, Spark's local
    # directories; removed on exit, and nothing outside it is touched
    os.makedirs(WORK, exist_ok=True)
    args.work = tempfile.mkdtemp(
        prefix=f"{args.workload}-{args.seed}-", dir=WORK)
    deadline = time.monotonic() + DEADLINE_S  # the build has its own budget
    try:
        inputs = os.path.join(args.work, "inputs")
        t0 = time.monotonic()
        extra = generate(args.workload, args.seed, args.seconds, inputs)
        gen_s = time.monotonic() - t0
        result, bad, oracle_s, gauge = measure(args, cp, inputs, extra,
                                               deadline)
        print(f"# {args.workload} seed={args.seed} trace={args.trace} "
              f"ops={len(result['ops'])} input_gen_s={gen_s:.3f} "
              f"oracle_check_s={oracle_s:.3f}")
        for k, (total, session, warmup, base) in enumerate(result["setup"]):
            print(f"# setup {k} {total:.3f}s session={session:.3f}s "
                  f"warmup={warmup:.3f}s base_state={base:.3f}s")
        for o in result["ops"]:
            stats = " ".join(f"{k}={v:g}" for k, v in sorted(o["stats"].items()))
            print(f"# op {o['label']} {(o['t1'] - o['t0']) / 1e9:.3f}s "
                  f"ok={o['id'] not in bad} {stats}")
        for name, v in gauge.items():
            print(f"# gauge {name} {v:g}")
        if args.trace:
            # tracing perturbs timings: a traced run reports layers only
            values = metrics.per_layer(result)
            for name, (v, unit) in values.items():
                print(f"{name} {v:.6g} {unit}")
            out = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
        else:
            e2e = metrics.end_to_end(result, bad)
            for name, (v, unit, n) in e2e.items():
                print(f"{name} {v:.6g} {unit} n={n}")
            out = {k: {"value": e2e[k][0], "unit": e2e[k][1]}
                   for k in metrics.GATED}
        print(json.dumps(result_line(len(result["ops"]), len(bad), out)))
    finally:
        shutil.rmtree(args.work, ignore_errors=True)


if __name__ == "__main__":
    main()
