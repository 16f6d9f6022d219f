"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload stream_route --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark from source on first use (build.py),
wipes the scratch directory, starts one JVM on local[k] with k = min(4,
nproc), and relays the JVM's result. Human-readable detail goes to stderr.
Exit status is 0 only when every correctness gate passed.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("stream_route", "corpus_dedup")
HEAP = "3g"
MAX_CORES = 4


def mount_of(path):
    """(mount point, filesystem type) holding `path`, from /proc/mounts."""
    best = ("", "unknown")
    try:
        with open("/proc/mounts") as fh:
            for line in fh:
                parts = line.split()
                mnt, fstype = parts[1], parts[2]
                if path == mnt or path.startswith(mnt.rstrip("/") + "/"):
                    if len(mnt) >= len(best[0]):
                        best = (mnt, fstype)
    except OSError:
        pass
    return best


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("digest",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="perturb every expected count by one (gate self-check)")
    args = ap.parse_args()

    build.build()
    scratch = os.path.join(build.BUILD, "run")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    result_file = os.path.join(scratch, "result.json")
    nproc = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    cores = min(MAX_CORES, nproc or 1)
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xss4m",
           "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
           "-Djava.io.tmpdir=" + os.path.join(scratch, "tmp")]
    cmd += [a for p in build.JDK_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd += ["-cp", build.classpath(), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--scratch", scratch, "--out", result_file,
            "--corrupt", "1" if args.corrupt else "0"]
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=scratch)
    if proc.returncode != 0 or not os.path.exists(result_file):
        sys.exit("perfbench: JVM exited with %d and no result" % proc.returncode)
    with open(result_file) as fh:
        res = json.load(fh)

    mnt, fstype = mount_of(os.path.realpath(scratch))
    env = {"nproc": nproc, "cores_used": cores,
           "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
           "xmx": HEAP, "scratch_fs": "%s (%s)" % (fstype, mnt)}
    report(args, res, env)
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.stdout.flush()
    sys.exit(0 if res["correct"] else 1)


def report(args, res, env):
    err = sys.stderr
    info = res["info"]
    print("perfbench %s seed=%d seconds=%d trace=%d" % (
        args.workload, args.seed, args.seconds, args.trace), file=err)
    print("  environment: %s java=%s spark=%s max_heap_mb=%s" % (
        " ".join("%s=%s" % kv for kv in env.items()), info.get("java_version"),
        info.get("spark_version"), info.get("max_heap_mb")), file=err)
    for k in sorted(info):
        if k not in ("java_version", "spark_version", "max_heap_mb"):
            print("  info %-24s %s" % (k, info[k]), file=err)
    for g in res["gates"]:
        print("  gate %-22s %s" % (g["name"], "ok" if g["ok"] else "FAILED"), file=err)
        if not g["ok"]:
            print("       expected %s\n       actual   %s" % (g["expected"], g["actual"]),
                  file=err)
    for name, m in sorted(res["metrics"].items()):
        print("  %-32s %16.4f %s" % (name, m["value"], m["unit"]), file=err)


if __name__ == "__main__":
    main()
