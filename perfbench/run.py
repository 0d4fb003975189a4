"""graft benchmark: one workload, one seed, one JVM per run.

    python3 perfbench/run.py --workload pipeline_cold --seed 1 --seconds 12 --trace 0

Builds graft and the benchmark from source (perfbench/build.py), makes a
fresh run directory under .bench_run/ with an empty ArtifactStore root,
generates the seeded input corpus, runs the workload in one JVM at
local[4] with a 3 GiB heap, prints every metric by name with its unit,
and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. The exit code is 0 only when every operation succeeded and every
output check held. The full result (and the trace, when traced) is kept
under .bench_results/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("pipeline_cold", "ingest_stream")
CPUS = 4
HEAP = "3g"
RUN_TIMEOUT_S = 170

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_jvm(classpath, args, work):
    store = os.path.join(work, "store")
    tmp = os.path.join(work, "tmp")
    for d in (store, tmp, os.path.join(work, "spark-local")):
        os.makedirs(d)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_ARTIFACT_DIR": store,
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_CORPUS_DIR": os.path.join(ROOT, "src", "test", "resources", "corpus"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
    })
    env.pop("SPARK_GRAFT_ARTIFACT_STORE", None)
    cmd = [build.java(), "-Xmx" + HEAP, "-XX:-UsePerfData", "-Duser.timezone=UTC",
           "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    return code, log_path


def git_commit():
    """The checked-out commit, read from .git without running git;
    "unknown" outside a git checkout."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as fh:
            head = fh.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(git, ref)
        if os.path.isfile(path):
            with open(path) as fh:
                return fh.read().strip()
        with open(os.path.join(git, "packed-refs")) as fh:
            for line in fh:
                parts = line.split()
                if len(parts) == 2 and parts[1] == ref:
                    return parts[0]
    except OSError:
        pass
    return "unknown"


def check_expected(result, workload, seed):
    """Compare the run's output digests with the committed ones for the
    same workload and seed; a difference is a failure. Seeds without a
    committed entry are checked only for internal consistency."""
    path = os.path.join(HERE, "expected_digests.json")
    if not os.path.isfile(path):
        return
    with open(path) as fh:
        expected = json.load(fh).get(workload, {}).get(str(seed), {})
    for name, want in sorted(expected.items()):
        got = result["digests"].get(name)
        result["attempted"] += 1
        if got != want:
            result["failed"] += 1
            result["correct"] = False
            result["failures"].append({"query": name, "message":
                                       "digest %s differs from the committed %s" % (got, want)})


def fmt(v):
    return "null" if v is None else repr(float(v))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = benchmark_spec()
    try:
        classpath = build.build()
    except build.BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        return 2

    runs = os.path.join(ROOT, ".bench_run")
    tag = "%s-s%d-t%d-%d" % (args.workload, args.seed, args.trace, os.getpid())
    work = os.path.join(runs, tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    try:
        code, log_path = run_jvm(classpath, args, work)
        result_path = os.path.join(work, "result.json")
        if not os.path.isfile(result_path):
            with open(log_path) as fh:
                tail = fh.read()[-6000:]
            print("run produced no result (exit %s); JVM log tail:\n%s" % (code, tail),
                  file=sys.stderr)
            return 3
        with open(result_path) as fh:
            result = json.load(fh)
        result["host"]["commit"] = git_commit()
        with open(result_path, "w") as fh:
            json.dump(result, fh)
        kept = os.path.join(ROOT, ".bench_results")
        os.makedirs(kept, exist_ok=True)
        shutil.copy(result_path, os.path.join(kept, tag + ".result.json"))
        if os.path.isfile(os.path.join(work, "trace.json")):
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(kept, tag + ".trace.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    check_expected(result, args.workload, args.seed)
    host = result["host"]
    print("workload %s seed %d trace %d: %.1f s in the JVM" % (
        args.workload, args.seed, args.trace, time.time() - t0))
    print("host: " + ", ".join("%s=%s" % kv for kv in sorted(host.items())))
    for section in ("metrics", "reported", "layers"):
        for name, m in (result.get(section) or {}).items():
            print("%-26s %s %s" % (name, fmt(m["value"]), m["unit"]))
    for f in result["failures"]:
        print("FAILED %s: %s" % (f["query"], f["message"]))

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = (result.get("layers") or {}) if args.trace else result["metrics"]
    metrics = {}
    for m in wanted:
        got = source.get(m["name"])
        if got is not None and got["value"] is not None:
            metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    correct = bool(result["correct"]) and code == 0 and len(metrics) == len(wanted)
    print(json.dumps({"correct": correct, "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
