#!/usr/bin/env python3
"""Run one workload of the pipeline benchmark and print its result.

    python3 pipebench/run.py --workload dag_daily --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the engine and the
runner with sbt (offline) into `target/` and `pipebench/target/`; later runs
reuse that build until a source file changes. Inputs are generated from the
seed into `pipebench/work/`, which is deleted again when the run ends.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. The line before it
holds informational fields (environment stamp, sample counts, contention
probe). The full record is also kept in `pipebench/work/results/`, which is
what `compare.py` reads. The exit code is 0 only when every operation
returned the right answer.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
LAUNCH = os.path.join(BENCH, "target", "launch.txt")
STAMP = os.path.join(BENCH, "target", "launch.sha256")
DEADLINE_S = 175
HEAP = ["-Xms2g", "-Xmx2g"]
RESULT_TAG = "PIPEBENCH_RESULT "

sys.path.insert(0, BENCH)
import gen  # noqa: E402


def fail(code, msg):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return False
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "writeLaunch"], cwd=BENCH, env=env,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0 or not os.path.exists(LAUNCH):
        fail(3, "build failed")
    with open(STAMP, "w") as f:
        f.write(digest)
    return True


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(args, run_dir, input_dir, deadline):
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    classpath, jvm_opts = lines[0], [x for x in lines[1:] if x]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *HEAP, *jvm_opts, f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
           "-cp", classpath, "pipebench.Main",
           "--workload", args.workload, "--input", input_dir,
           "--work", run_dir, "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--corrupt", str(args.corrupt),
           "--launched-ms", str(int(time.time() * 1000))]
    env = dict(os.environ, LC_ALL="C.utf8")
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(4, "run exceeded its deadline")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    result = None
    for line in out.splitlines():
        if line.startswith(RESULT_TAG):
            result = json.loads(line[len(RESULT_TAG):])
        else:
            print(line, file=sys.stderr)
    return proc.returncode, result


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--corrupt", type=int, choices=(0, 1), default=0,
                   help="change one stored value before the final gate; "
                        "the run must then fail (the gate's own test)")
    args = p.parse_args()
    started = time.time()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(2, f"engine sources not found: {need}")
    # a run that had to build first gets its full deadline after the build
    deadline = (time.time() if build() else started) + DEADLINE_S

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    input_dir = os.path.join(run_dir, "input")
    try:
        t0 = time.time()
        gen.generate(args.workload, args.seed, args.seconds, input_dir)
        gen_s = time.time() - t0
        code, result = run_jvm(args, run_dir, input_dir, deadline)
        spans = os.path.join(run_dir, "spans.jsonl")
        results = os.path.join(WORK, "results")
        os.makedirs(results, exist_ok=True)
        stem = os.path.join(results, f"{int(started)}-{args.workload}-s{args.seed}-t{args.trace}")
        if os.path.exists(spans):
            shutil.move(spans, stem + ".spans.jsonl")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        fail(code or 1, f"runner exited with {code} and no result")

    info = dict(result.get("info", {}), gen_s=gen_s, git_commit=git_commit(),
                nproc=len(os.sched_getaffinity(0)), heap=" ".join(HEAP))
    record = dict(correct=result["correct"], attempted=result["attempted"],
                  failed=result["failed"], metrics=result["metrics"],
                  info=info)
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"info": info}))
    print(json.dumps({k: record[k] for k in
                      ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if record["correct"] and code == 0 else 1)


if __name__ == "__main__":
    main()
