#!/usr/bin/env python3
"""The repository benchmark: runs one workload in one JVM and prints its
metrics.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (one closed-loop client in one JVM at `local[<cores>]`; the seed
sets the query order of each pass and the training blobs):
  iterative      passes over iterative-operator queries at sf0.01
  train_predict  SparkAsyncDL fit on seeded Gaussian blobs, then transform
  stream         three graft.streaming shapes drain a staged sf0.05 backlog

End-to-end metrics (--trace 0), from the untraced passes of one run:
  setup_s        JVM start to the first timed pass: session start, input
                 staging and the untimed warm-up passes
  pass_s         median wall of one sequential pass over the workload's
                 operations (queries; fit then predict; the three drains)
  op_geomean_ms  geometric mean over the operations of each one's median
                 wall (per query; fit and predict; per shape, micro-batches)
A traced run (--trace 1) interleaves untraced and traced passes, prints the
per-layer metrics of its traced passes and the tracing overhead, and for
train_predict also rebuilds one fit from the calls HogwildTrainer.fit makes.

The first run in a checkout builds the repository and the harness with sbt
(perfbench/build.sbt) and generates the input tables (perfbench/gen.py);
later runs reuse both while the sources are unchanged. Every run writes a
record under .bench_build/records/, keyed by workload, seed, cores and
commit, that no later run overwrites. The last line of standard output is
one JSON object: the correctness verdict, the operations attempted and
failed, and the metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import duckdb

import gen
import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
# input scale per workload; the stream workload also stages 3 backlog files
DATA = {"iterative": (0.01, 0), "train_predict": (0.01, 0), "stream": (0.05, 3)}
# ParallelGC with a 2 GB initial heap: across paired runs of the
# iterative workload the default G1 was slower and had the outliers (one
# pass 7.8 s against 3.4-4.4 s)
JVM_OPTS = ["-XX:+UseParallelGC", "-Xms2g", "-Xmx4g"]
# a run ends within this many seconds, or 880 when it also builds
DEADLINE_S = 170


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def digest(patterns):
    h = hashlib.sha1()
    for pat in patterns:
        for f in sorted(glob.glob(os.path.join(ROOT, pat), recursive=True)):
            if os.path.isfile(f):
                h.update(os.path.relpath(f, ROOT).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the repository and the harness once per source digest;
    returns (class path, JVM options, digest, whether it compiled)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources under {ROOT}: run from a full checkout")
    src = digest(["build.sbt", "project/*.properties", "src/main/**/*.scala",
                  "perfbench/build.sbt", "perfbench/project/*.properties",
                  "perfbench/src/**/*.scala"])
    spec = os.path.join(BUILD, f"launch-{src[:16]}.txt")
    built = not os.path.isfile(spec)
    if built:
        os.makedirs(BUILD, exist_ok=True)
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.isfile(repos):
                opts += ["-Dsbt.override.build.repos=true",
                         f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as out:
            rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                                  "-Dsbt.server.autostart=false", "launchSpec"],
                                 cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL)
        if rc != 0:
            fail(f"build failed (sbt exit {rc}); see {log}")
        shutil.copy(os.path.join(HERE, "target", "launch.txt"), spec)
    with open(spec) as fh:
        lines = fh.read().splitlines()
    return lines[0], lines[1:], src, built


def data(workload):
    scale, files = DATA[workload]
    d = os.path.join(BUILD, "data", f"sf{scale}-f{files}")
    stamp = os.path.join(d, "STAMP")
    want = digest(["perfbench/gen.py"])
    if not (os.path.isfile(stamp) and open(stamp).read() == want):
        shutil.rmtree(d, ignore_errors=True)
        gen.write(d, scale, files)
        with open(stamp, "w") as fh:
            fh.write(want)
    return d


def oracle(data_dir, name, sql):
    """(rows, digest) of the DuckDB oracle for one query, cached per input
    and query text."""
    key = hashlib.sha1((open(os.path.join(data_dir, "STAMP")).read() + sql)
                       .encode()).hexdigest()[:16]
    path = os.path.join(data_dir, "expect", f"{name}-{key}.json")
    if os.path.isfile(path):
        return tuple(json.load(open(path)))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    cur = con.execute(sql)
    got = metrics.fingerprint(cur.fetchall(), [c[0] for c in cur.description])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(got, fh)
    return got


def spark_result(path):
    con = duckdb.connect()
    cur = con.execute(f"SELECT * FROM '{path}/*.parquet'")
    return metrics.fingerprint(cur.fetchall(), [c[0] for c in cur.description])


def commit(src):
    try:
        return subprocess.run(["git", "rev-parse", "--short=12", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "src-" + src[:12]


def main():
    t_start = time.time()
    # on SIGTERM, unwind: subprocess.run kills the JVM and the work dir goes
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(DATA))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cores = os.cpu_count()

    cp, jvm_opts, src, built = build()
    data_dir = data(a.workload)
    run_id = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "runs", run_id)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        out = os.path.join(work, "record.json")
        # no hsperfdata file: the JVM would write it outside the checkout
        cmd = ["java", *jvm_opts, "-XX:-UsePerfData", *JVM_OPTS,
               f"-Djava.io.tmpdir={work}/tmp",
               "-cp", cp, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
               str(a.trace), str(cores), data_dir, work, out]
        log = os.path.join(work, "jvm.log")
        left = max((880 if built else DEADLINE_S) - (time.time() - t_start), 10)
        with open(log, "w") as lf:
            try:
                rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL, timeout=left).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not os.path.isfile(out):
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"harness JVM failed ({rc})", 1)
        rec = json.load(open(out))
        expected = {}
        if "oracle_sql" in rec:
            expected = {n: oracle(data_dir, n, sql) for n, sql in rec["oracle_sql"].items()}
            rec["results"] = {o["op"]: spark_result(o["result"])
                              for o in rec["ops"] if o.get("result")}
        attempted, failed, why = metrics.check(rec, expected)
        e2e = metrics.end_to_end(rec, a.workload)
        figures = metrics.workload_figures(rec, a.workload)
        layers = metrics.per_layer(rec, a.workload, cores) if a.trace else None
        by_op = metrics.per_op(rec) if a.trace else None
        report(a, cores, src, rec, e2e, figures, layers, by_op, attempted, failed, why)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def report(a, cores, src, rec, e2e, figures, layers, by_op, attempted, failed, why):
    cid = commit(src)
    record = {
        "workload": a.workload, "seed": a.seed, "cores": cores, "commit": cid,
        "source_digest": src, "trace": a.trace, "seconds": a.seconds,
        "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "fail_ratio": metrics.fail_ratio(attempted, failed), "failures": why,
        "end_to_end": e2e, "figures": figures, "per_layer": layers, "per_op": by_op,
        "setup_parts_s": rec["setup"], "raw": rec,
    }
    rdir = os.path.join(BUILD, "records")
    os.makedirs(rdir, exist_ok=True)
    name = (f"{a.workload}-seed{a.seed}-c{cores}-{cid}-trace{a.trace}-"
            f"{record['utc'].replace(':', '')}-{os.getpid()}.json")
    path = os.path.join(rdir, name)
    with open(path, "x") as fh:  # exclusive: a record is never overwritten
        json.dump(record, fh)

    print(f"workload {a.workload}  seed {a.seed}  cores {cores}  commit {cid}  "
          f"trace {a.trace}")
    for k, v in e2e.items():
        print(f"  {k:<18} {v:12.4f} {metrics.E2E_UNITS[k]}")
    for k, v in figures.items():
        print(f"  {k:<18} {v}")
    print(f"  fail_ratio         {record['fail_ratio']:.4f}  "
          f"({failed} of {attempted} operations)")
    for w in why:
        print(f"  FAILED: {w}")
    if layers:
        for k, v in layers.items():
            print(f"  {k:<30} {v:.4f}")
        print("  traced passes, per operation and phase:")
        for name, phases in by_op.items():
            for phase, d in phases.items():
                print(f"    {name:<32} {phase:<16} {d['ms']:9.1f} ms  {d['jobs']:4d} jobs"
                      f"  {d['schema_jobs']:3d} schema  {d['tasks']:5d} tasks"
                      f"  {d['scan_bytes']:>10d} scan B  {d['shuffle_write_bytes']:>10d} shuffle B")
    print(f"  record {os.path.relpath(path, ROOT)}")
    if layers:
        ms = {k: {"value": v, "unit": metrics.LAYER_UNITS[k]} for k, v in layers.items()}
    else:
        ms = {k: {"value": v, "unit": metrics.E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": ms}))


if __name__ == "__main__":
    main()
