#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and the harness from source when needed (sbt, offline),
generates the seeded inputs in a separate process, runs the workload in one
`local[nproc]` JVM, checks every output, and prints as its last stdout line
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. Everything a run writes stays under
`.perfbench/` at the repository root; the run's own directory is removed at
the end, the span dump of a traced run is kept in `.perfbench/traces/`.
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
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the checkout free of __pycache__

# The input kind each workload's generator writes; the documents' stream
# files feed the streaming layer of a traced run only.
WORKLOADS = {"wc_corpus": "corpus", "index_delta": "documents"}
DRIVER_HEAP = "4g"
RUN_DEADLINE_S = 175          # a run must end within 180 s
BUILD_DEADLINE_S = 850        # the first run in a checkout may build
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_fingerprint():
    """Digest of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()


def spark_home():
    """$SPARK_HOME, else the Spark distribution `spark-submit` on PATH
    belongs to (a shell that never read the profile exporting it)."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
    return home


def build(deadline):
    """Compile engine + harness with sbt when the sources changed; returns
    the runtime classpath."""
    os.makedirs(STATE, exist_ok=True)
    cp_file = os.path.join(STATE, "classpath.txt")
    fp_file = os.path.join(STATE, "build.fingerprint")
    fp = source_fingerprint()
    if os.path.exists(cp_file) and os.path.exists(fp_file) and open(fp_file).read() == fp:
        return open(cp_file).read().strip()
    log("building engine and harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    if "-Dsbt.offline" not in env["SBT_OPTS"]:
        env["SBT_OPTS"] += " -Dsbt.offline=true"
    env["SBT_OPTS"] += " -XX:-UsePerfData"  # no hsperfdata file outside the checkout
    with open(os.path.join(STATE, "build.log"), "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=max(60, deadline - time.time()), stdin=subprocess.DEVNULL)
    lines = [l for l in proc.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(fp_file, "w") as f:
        f.write(fp)
    return cp


def run_jvm(cp, workload, inputs, work, seconds, trace, deadline):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = (["java", f"-Xmx{DRIVER_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Harness", "--workload", workload, "--inputs", inputs,
              "--work", work, "--seconds", str(seconds), "--trace", str(trace),
              "--out", out])
    # shuffle and spill files stay inside the run directory on every host
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as jlog:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=jlog, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("harness JVM timed out")
    if proc.returncode != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness JVM exited with {proc.returncode}")
    with open(out) as f:
        return json.load(f)


def end_to_end(res):
    walls = [j["wall_s"] for j in res["jobs"]]
    # a workload cycling over several queries: the mean of the per-query
    # medians, so the statistic does not depend on which query's jobs land
    # in the middle of the pooled sample
    by_query = {}
    for j in res["jobs"]:
        by_query.setdefault(j["query"], []).append(j["wall_s"])
    return {
        "setup_s": (res["setup_s"], "s"),
        "job_s.p50": (statistics.mean(statistics.median(v) for v in by_query.values()), "s"),
        "input_mb_s": (res["input_bytes_per_job"] * len(walls) / sum(walls) / 1e6, "MB/s"),
        "heap_retained_mb": (res["heap_retained_mb"], "MB"),
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()

    needed = [os.path.join(ROOT, "src", "main", "scala", "graft"),
              os.path.join(ROOT, "src", "test", "resources", "golden", "golden_corpus.txt"),
              os.path.join(ROOT, "tools", "check.py"),
              os.path.join(HERE, "data", "documents.parquet")]
    missing = [p for p in needed if not os.path.exists(p)]
    if missing:
        fail("engine sources or benchmark data missing: " + ", ".join(
            os.path.relpath(p, ROOT) for p in missing))
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")

    cp = build(t_start + BUILD_DEADLINE_S)
    deadline = time.time() + RUN_DEADLINE_S
    run_dir = os.path.join(STATE, "runs", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, work = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "work")
    os.makedirs(work)
    try:
        gen = subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), WORKLOADS[a.workload],
                              inputs, "--seed", str(a.seed)],
                             stdout=subprocess.PIPE, text=True, stdin=subprocess.DEVNULL,
                             timeout=max(1, deadline - time.time()))
        if gen.returncode != 0:
            fail("input generation failed")
        res = run_jvm(cp, a.workload, inputs, work, a.seconds, a.trace, deadline)

        import check
        checks = check.check_all(inputs, res["checks"], res["oracle_sql"],
                                 fold_queries=("stream_pipeline_samples_ttl",))
        failed_jobs = [j for j in res["jobs"] if not j["ok"]]
        failed_checks = [c for c in checks if c[2] is not None]
        for j in failed_jobs[:5]:
            log(f"FAILED job {j['query']} seed={a.seed}: {j['error'] or 'output differs from expected bytes'}")
        for q, _, reason in failed_checks:
            log(f"FAILED check {q} seed={a.seed}: {reason}")
        attempted = len(res["jobs"]) + len(checks)
        failed = len(failed_jobs) + len(failed_checks)
        host = res["host"]
        log("host " + json.dumps(host, sort_keys=True))
        log(f"jobs={len(res['jobs'])} checks={len(checks)} setup_s={res['setup_s']:.2f}")

        if a.trace:
            import spans as tr
            spans_src = os.path.join(work, "spans.jsonl")
            os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
            kept = os.path.join(STATE, "traces", f"{a.workload}-s{a.seed}.jsonl")
            shutil.copyfile(spans_src, kept)
            spans = tr.load(kept)
            metrics = tr.per_layer(spans, res, int(host["nproc"]))
            log("per-job self time and critical path:\n" + tr.report(spans))
            # each traced job is one more check: its self time plus the
            # time its child spans cover must equal its wall time
            bad = tr.identity_failures(spans)
            for name, err in bad:
                log(f"FAILED span check {name} seed={a.seed}: self + children != wall by {err:.2f} ms")
            attempted += len(tr.job_spans(spans))
            failed += len(bad)
            log(f"span dump: {os.path.relpath(kept, ROOT)}")
        else:
            metrics = end_to_end(res)
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        log(f"wall {time.time() - t_start:.1f} s")
        print(json.dumps(result))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
