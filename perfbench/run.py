#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (perfbench/build.sbt) and generates the inputs; later runs
reuse both while the sources are unchanged. Everything a run writes goes
under .perfbench/ in the checkout; each run leaves its log, raw records and
artifact in .perfbench/runs/. The last line of stdout is one JSON object:
correct, attempted, failed, and the metrics (end-to-end with --trace 0,
per-layer with --trace 1). See perfbench/README.md.

Manual modes, not part of BENCHMARK.json:
    --workload interactive      the catalog script on the 2k-row sf0.1 tables
    --workload suite --full 1   the whole registry, every checksum verified
    --workload suite --record 1 record every registry checksum from this code
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("interactive", "catalog", "suite")
SETUPS = 3
JVM_HEAP = ["-Xmx4g"]
BUILD_TIMEOUT_S = 850
# A run must end within 180 s of its start, not counting the build.
RUN_DEADLINE_S = 175


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every file the build reads; a change triggers a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """sbt-compiles the engine and the harness; returns the JVM argv."""
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp = os.path.join(WORK, "build.stamp")
    digest = source_digest()
    if os.path.exists(launch) and os.path.exists(stamp) \
            and open(stamp).read() == digest:
        return open(launch).read().split("\n")[:-1]
    log = os.path.join(WORK, "build.log")
    env = dict(os.environ, SBT_OPTS=f"{os.environ.get('SBT_OPTS', '')} "
               f"-Djava.io.tmpdir={WORK}/tmp".strip())
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "launch"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not os.path.exists(launch):
        fail(f"build failed (exit {rc}), see {log}", 3)
    with open(stamp, "w") as f:
        f.write(digest)
    return open(launch).read().split("\n")[:-1]


def ensure_dir(path, digest, make):
    """Generates `path` unless it holds the output of the same generator."""
    mark = os.path.join(path, ".digest")
    if os.path.exists(mark) and open(mark).read() == digest:
        return path
    shutil.rmtree(path, ignore_errors=True)
    make(path)
    with open(mark, "w") as f:
        f.write(digest)
    return path


def inputs(workload, seed, full, record):
    """Generates (or reuses) the run's inputs; returns the JVM arguments."""
    data = os.path.join(WORK, "data")
    os.makedirs(data, exist_ok=True)
    gen_digest = hashlib.sha256(open(os.path.join(HERE, "gen.py"), "rb").read()).hexdigest()
    tables = ensure_dir(os.path.join(data, "tables"), gen_digest, gen.write_tables)
    if workload == "catalog":
        name = f"catalog-{seed}"
        # one catalog at a time: each is ~160 MB
        for old in os.listdir(data):
            if old.startswith("catalog-") and old != name:
                shutil.rmtree(os.path.join(data, old), ignore_errors=True)
        tables = ensure_dir(os.path.join(data, name), gen_digest,
                            lambda p: gen.write_catalog(p, seed))
    args = ["--data", tables]
    if workload == "suite":
        sums = os.path.join(HERE, "checksums.tsv")
        if record:
            names = ["ALL"]
        else:
            recorded = [l.split("\t")[0] for l in open(sums) if l.strip()]
            # The request-path queries close the pass, repeated, so their
            # medians are timed in a warm JVM, after the same queries on
            # every seed.
            names = gen.suite_order(seed, recorded if full else
                                    [l.strip() for l in open(os.path.join(HERE, "suite.txt"))
                                     if l.strip()],
                                    last=metrics.SUITE_TAIL)
        qfile = os.path.join(WORK, f"queries-{seed}.txt")
        with open(qfile, "w") as f:
            f.write("\n".join(names) + "\n")
        args += ["--queries", qfile, "--checksums", "-" if record else sums]
    else:
        n = gen.CATALOG_ROWS if workload == "catalog" else 2_000
        script = os.path.join(WORK, f"script-{workload}-{seed}.tsv")
        gen.write_script(script, gen.request_script(seed, n))
        args += ["--script", script]
    return args


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--full", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources under {ROOT}: run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    for d in ("runs", "tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)

    jvm = build()
    deadline = time.monotonic() + RUN_DEADLINE_S
    args = inputs(a.workload, a.seed, a.full, a.record)
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    records = os.path.join(WORK, "runs", run_id + ".jsonl")
    log = os.path.join(WORK, "runs", run_id + ".log")
    cmd = (["java"] + jvm + JVM_HEAP + [f"-Djava.io.tmpdir={WORK}/tmp", "perfbench.Main",
                             "--workload", a.workload, "--seconds", str(a.seconds),
                             "--trace", str(a.trace), "--setups", str(SETUPS),
                             "--work", WORK, "--out", records] + args)
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=None if a.full or a.record
                           else max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_DEADLINE_S} s, see {log}", 4)
    if rc != 0:
        fail(f"harness exited {rc}, see {log}", 5)

    recs = [json.loads(l) for l in open(records)]
    if a.record:
        with open(os.path.join(HERE, "checksums.tsv"), "w") as f:
            for r in recs:
                if r["type"] == "op" and r["phase"] == "untraced" and r["ok"]:
                    f.write(f"{r['name']}\t{r['checksum']}\n")
    result, artifact = metrics.summarize(a.workload, recs, bool(a.trace))
    artifact.update({"run": run_id, "workload": a.workload, "seed": a.seed,
                     "seconds": a.seconds, "trace": a.trace, "records": records})
    with open(os.path.join(WORK, "runs", run_id + ".json"), "w") as f:
        json.dump(artifact, f, indent=1, sort_keys=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
