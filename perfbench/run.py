#!/usr/bin/env python3
"""Seeded word-count benchmark for the graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and the benchmark driver from source (once per source
state), generates the workload's corpus from the seed (cached), runs the
workload as a closed loop in one Spark JVM (`local[N]`, N = min(3, cores - 1)),
checks every answer, and prints one JSON object as the last stdout line:
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
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

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import layers  # noqa: E402

# Why each workload exists is in BENCHMARK.json; sizes keep a run (build
# excepted) under a minute on a 4-core machine.
ZIPF = {"n_tokens": 2_000_000, "vocab": 1_000_000, "zipf_s": 1.1,
        "doc_len": [50, 150], "sources": 64}
WORKLOADS = {
    # "split" adds the stream files and the document slice (the first
    # slice_docs documents, ~250K tokens) that the traced run's probes
    # drain and simulate
    "wc_zipf_parquet": dict(ZIPF, layout="split", files=20, slice_docs=2500),
    # equal-sized text files in a multiple of the core count pack into
    # equal scan tasks
    "wc_text_smallvocab": dict(ZIPF, n_tokens=5_000_000, vocab=1000, layout="text", files=9),
}
# untimed warm-up before the timed loop: the JIT goes on speeding up the
# text job's read and tokenize path for tens of seconds after set-up
WARMUP_S = {"wc_zipf_parquet": 4, "wc_text_smallvocab": 10}
JVM_HEAP = "3g"
RUN_LIMIT_S = 170   # a run must end within 180 s, build excepted
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
END_TO_END = [("job_s", "s"), ("tokens_per_s", "tokens/s"), ("setup_s", "s"),
              ("ok_frac", "ratio")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def build_inputs():
    """Every file whose change needs a rebuild: the engine's build and
    main sources, and the benchmark's own build and sources."""
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(base):
            paths += [os.path.join(base, f) for f in os.listdir(base)
                      if f.endswith((".sbt", ".scala", ".properties"))]
    for src in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(src):
            paths += [os.path.join(d, f) for f in files]
    return sorted(paths)


def build():
    """Compile engine + driver with sbt when their sources changed; return
    the runtime classpath and the directory holding build products."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("no engine sources (build.sbt, src/main) next to the benchmark")
    out = os.path.join(HERE, ".build")
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(out, "stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip(), out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    with open(os.path.join(out, "build.log"), "w") as log:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    if rc != 0 or not os.path.exists(cp_file):
        with open(os.path.join(out, "build.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (exit {rc})")
    with open(cp_file) as fh:
        cp = fh.read().strip()
    sql = java(cp, ["--mode", "oracle-sql", "--query", "coded_shuffle_sim"], timeout=120)
    with open(os.path.join(out, "coded_shuffle_sim.sql"), "w") as fh:
        fh.write(sql)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, out


def java(cp, args, timeout, log=None):
    cmd = ["java", f"-Xmx{JVM_HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    tmp = os.path.join(HERE, ".work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd += [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main"] + args
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log or subprocess.PIPE,
                       stdin=subprocess.DEVNULL, timeout=timeout, text=True)
    if r.returncode != 0:
        if log is None:
            sys.stderr.write(r.stderr[-4000:])
        fail(f"JVM exited {r.returncode}")
    return r.stdout


def coded_oracle(corpus, build_dir, cpus):
    """The registry's DuckDB oracle row for coded_shuffle_sim over the
    corpus's document slice, once per corpus."""
    corpus = os.path.join(corpus, "slice")
    path = os.path.join(corpus, "coded_oracle.json")
    if os.path.exists(path):
        return
    with open(os.path.join(build_dir, "coded_shuffle_sim.sql")) as fh:
        sql = fh.read()
    con = duckdb.connect(config={"threads": cpus, "memory_limit": "1GB"})
    src = os.path.join(corpus, "documents.parquet").replace("'", "''")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{src}')")
    cur = con.execute(sql)
    row = dict(zip([d[0] for d in cur.description], cur.fetchone()))
    con.close()
    with open(path + ".tmp", "w") as fh:
        json.dump({k: (v if isinstance(v, (int, float, bool)) else str(v))
                   for k, v in row.items()}, fh)
    os.rename(path + ".tmp", path)


def tail_percentile(xs):
    """(p, value): the highest percentile with at least ten samples above it
    (nearest rank), or the maximum when there are fewer than 20 samples."""
    xs = sorted(xs)
    n = len(xs)
    if n < 20:
        return 100, xs[-1]
    p = int(100 * (n - 10) / n)
    return p, xs[max(0, -(-p * n // 100) - 1)]


def end_to_end(report, truth):
    job = statistics.median(report["job_s"])
    return {
        "job_s": job,
        "tokens_per_s": truth["tokens"] / job,
        "setup_s": report["setup_s"][0],
        "ok_frac": (report["attempted"] - report["failed"]) / report["attempted"],
    }


def result(correct, attempted, failed, metrics):
    print(json.dumps({"correct": bool(correct), "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    # one core stays free for the driver, listener, JIT and GC threads
    cpus = max(1, min(3, (os.cpu_count() or 1) - 1))

    cp, build_dir = build()
    started = time.monotonic()
    spec = WORKLOADS[a.workload]
    corpus = gen.ensure(os.path.join(HERE, ".cache", "corpus"), a.seed, spec)
    with open(os.path.join(corpus, "truth.json")) as fh:
        truth = json.load(fh)
    if a.trace and spec.get("slice_docs"):
        coded_oracle(corpus, build_dir, cpus)

    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    report_path = os.path.join(work, "report.json")
    with open(os.path.join(HERE, ".work", f"{a.workload}.log"), "w") as log:
        try:
            java(cp, ["--mode", "run", "--workload", a.workload, "--corpus", corpus,
                      "--work", work, "--seconds", str(a.seconds), "--trace", str(a.trace),
                      "--warmup", str(WARMUP_S[a.workload]), "--cpus", str(cpus),
                      "--report", report_path],
                 timeout=max(1, RUN_LIMIT_S - (time.monotonic() - started)), log=log)
        except subprocess.TimeoutExpired:
            print("perfbench: the run JVM ran out of time", file=sys.stderr)
            result(False, 1, 1, {})
            return 0
    with open(report_path) as fh:
        report = json.load(fh)
    for e in report["errors"]:
        print(f"error: {e}", file=sys.stderr)

    ok = report["failed"] == 0 and report["job_s"] and report["setup_s"]
    if report["job_s"] and report["setup_s"]:
        e2e = end_to_end(report, truth)
        p, v = tail_percentile(report["job_s"])
        print(f"{a.workload} seed={a.seed}: {truth['tokens']} tokens, {truth['distinct']} words; "
              f"job_s median {e2e['job_s']:.4f} p{p} {v:.4f} over {len(report['job_s'])} jobs; "
              f"setup_s {report['setup_s']}")
    else:
        e2e = {}
    if a.trace and ok:
        per, selfs = layers.per_layer(report)
        with open(os.path.join(HERE, ".work", f"trace-{a.workload}.json"), "w") as fh:
            json.dump({k: report[k] for k in ("spans", "stages", "jobs", "traced")}, fh)
        print("job self times (s): " + ", ".join(f"{k} {v:.4f}" for k, v in sorted(selfs.items()))
              + f"; traced job_s {per['trace.job_s']:.4f}, untraced "
              f"{statistics.median(report['job_s']):.4f}, overhead {per['trace.overhead_s']:.4f}")
        metrics = {k: {"value": per[k], "unit": u} for k, u in layers.PER_LAYER}
    elif a.trace:
        metrics = {}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END if k in e2e}
    result(ok, report["attempted"], report["failed"], metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
