#!/usr/bin/env python3
"""Run one workload of the LSH benchmark and print its result line.

    python3 perfbench/run.py --workload point-search --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The first run compiles the engine
(`src/main`) and the harness (`perfbench/src`) into the build directory
(`$CARGO_TARGET_DIR`, else `.bench_build`); later runs of the same sources
reuse the classes. Each run then:

  1. generates its inputs from `--seed` (gen.py) and the exact top-10 ids
     of every query by brute force, before the JVM starts, so neither counts
     towards any timing;
  2. runs graft.perfbench.Harness in one JVM with a fixed heap and core
     count, a private java.io.tmpdir and Spark local dir, all deleted at
     exit, so every index is built cold;
  3. prints one JSON line: `correct`, `attempted`, `failed` and the
     end-to-end metrics (`--trace 0`) or the per-layer metrics (`--trace 1`).

The full harness record (host-phase probes, heap, cores, both metric sets)
is kept under `<build>/records/`, and a traced run's spans under
`<build>/traces/`. Exit status is non-zero when any output check fails.
"""

import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

CORES = 4
HEAP = "2g"
JVM_FLAGS = [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData"]
JVM_TIMEOUT_S = 165

# Workload sizes. Every run builds its index cold BUILDS times (set-up) and
# ends with ROUNDS write rounds of APPEND_PER_ROUND appends and
# DELETE_PER_ROUND deletes.
WORKLOADS = {
    "point-search": dict(n=20_000, dim=64, queries=200, batch_size=0),
    "batch-search": dict(n=20_000, dim=64, queries=0, batch_size=128),
}
BUILDS, ROUNDS, APPEND_PER_ROUND, DELETE_PER_ROUND = 3, 1, 1_000, 100
K1, K2 = 100, 10
# A run whose mean recall@10 falls below this returns wrong neighbours, not
# approximate ones (the workloads measure 0.88-0.96), and fails its check.
RECALL_FLOOR = 0.5

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die("set SPARK_HOME to a Spark distribution whose jars include the Scala compiler")
    return os.path.join(jars, "*")


def build(root, build_dir, jars):
    """Compile engine + harness once per source digest; return the class dir."""
    scala = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not scala or not bench:
        die("engine sources (src/main/scala) or harness sources (perfbench/src) are missing")
    digest = hashlib.sha256()
    for f in scala + bench:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    out = os.path.join(build_dir, "classes-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(scala + bench))
    t0 = time.time()
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        die("compiling the engine and harness failed")
    os.remove(argfile)
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, out)
    print(f"perfbench: compiled in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def write_longs(path, rows):
    np.ascontiguousarray(rows, dtype="<i8").tofile(path)


def make_inputs(run_dir, workload, seed):
    """Generate every input file of the run; return the spec properties."""
    w = WORKLOADS[workload]
    data = gen.generate(seed, w["n"], w["dim"], w["queries"], ROUNDS,
                        APPEND_PER_ROUND, DELETE_PER_ROUND)
    ids, vecs = data["ids"], data["vectors"]
    os.makedirs(os.path.join(run_dir, "data"))
    build_dirs = [os.path.join(run_dir, "data", f"build{b}") for b in range(BUILDS)]
    for d in build_dirs:
        os.makedirs(d)
    first = os.path.join(build_dirs[0], "embeddings.parquet")
    gen.write_parquet(first, ids, vecs, data["labels"])
    for d in build_dirs[1:]:
        shutil.copyfile(first, os.path.join(d, "embeddings.parquet"))
    append_dirs = []
    for r, (aid, avec, alab) in enumerate(data["appends"]):
        path = os.path.join(run_dir, "data", f"append{r}.parquet")
        gen.write_parquet(path, aid, avec, alab)
        append_dirs.append(path)
    write_longs(os.path.join(run_dir, "deletes.i64"), np.stack(data["deletes"]))
    qv = data["query_vectors"]
    np.ascontiguousarray(qv, dtype="<f4").tofile(os.path.join(run_dir, "queries.f32"))
    if workload == "point-search":
        truth = gen.exact_top_k(vecs, ids, qv, K2)
    else:
        b = w["batch_size"]
        truth = gen.exact_top_k(vecs, ids, vecs[:b], K2, exclude=ids[:b])
    write_longs(os.path.join(run_dir, "truth.i64"), truth)
    return {
        "dim": w["dim"], "n": w["n"], "k1": K1, "k2": K2,
        "batch_size": w["batch_size"],
        "build_dirs": ",".join(build_dirs),
        "queries": os.path.join(run_dir, "queries.f32"),
        "truth": os.path.join(run_dir, "truth.i64"),
        "append_dirs": ",".join(append_dirs),
        "append_per_round": APPEND_PER_ROUND,
        "deletes": os.path.join(run_dir, "deletes.i64"),
        "delete_per_round": DELETE_PER_ROUND,
    }


def run_harness(classes, jars, run_dir, spec):
    spec_path = os.path.join(run_dir, "spec.properties")
    with open(spec_path, "w") as fh:
        for k, v in spec.items():
            fh.write(f"{k}={v}\n")
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    cmd = ["java"] + JVM_FLAGS
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}{os.pathsep}{jars}", "graft.perfbench.Harness", spec_path]
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=log,
                                start_new_session=True)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    out = spec["out"]
    if proc.returncode != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        print(f"perfbench: harness exited with {proc.returncode}\n{tail}", file=sys.stderr)
        return None
    with open(out) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        die("run from the root of a checkout holding the engine sources (src/main/scala/graft)")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        declared = [m["name"] for m in json.load(fh)["per_layer" if args.trace else "end_to_end"]]
    jars = spark_jars()
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classes = build(root, build_dir, jars)

    run_dir = os.path.join(build_dir, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        spec = make_inputs(run_dir, args.workload, args.seed)
        for sub in ("records", "traces"):
            os.makedirs(os.path.join(build_dir, sub), exist_ok=True)
        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        spec.update(workload=args.workload, seconds=args.seconds, trace=args.trace,
                    cores=CORES, out=os.path.join(run_dir, "result.json"),
                    spans=os.path.join(build_dir, "traces", f"{tag}.spans.jsonl"))
        result = run_harness(classes, jars, run_dir, spec)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if result is None:
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        sys.exit(1)
    errors = result["errors"]
    measured = result["per_layer" if args.trace else "end_to_end"]
    metrics = {k: measured[k] for k in declared if k in measured}
    if len(metrics) != len(declared):
        errors.append(f"missing metrics: {sorted(set(declared) - set(metrics))}")
    if not all(m["value"] is not None and math.isfinite(m["value"]) for m in metrics.values()):
        errors.append("a metric has no finite value")
    recall = result["end_to_end"]["recall_at_10"]["value"]
    if recall is None or recall < RECALL_FLOOR:
        errors.append(f"recall@10 {recall} is below the floor {RECALL_FLOOR}")
    correct = result["failed"] == 0 and not errors
    result.update(workload=args.workload, seed=args.seed, jvm_flags=JVM_FLAGS, correct=correct)
    with open(os.path.join(build_dir, "records", f"{tag}.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    for e in errors:
        print(f"perfbench: {e}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
