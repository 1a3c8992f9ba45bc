#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout of the repository. The first run builds
the engine and the workload code from source with the offline sbt
toolchain (perfbench/build.sbt); later runs reuse the build while the
sources are unchanged. The engine runs in one JVM the way `Serve` starts
it: GraftSession.local's confs at local[nproc], with the heap sized from
MemTotal as the tier-1 test command sizes it.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The lines before it
print every metric the workload names, with its unit. Full
results, stamped with the machine and build, are kept under
.bench_build/results; spans of traced runs under .bench_build/traces.
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
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("catalog", "feed_read", "ingest_live")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 860

# the JVM flags build.sbt gives `sbt run` (JDK 17 opens, the Nagle fix)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def check_layout():
    need = [os.path.join(ROOT, "build.sbt"),
            os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"),
            os.path.join(BENCH, "build.sbt"),
            os.path.join(ROOT, "BENCHMARK.json")]
    missing = [p for p in need if not os.path.isfile(p)]
    if missing:
        fail("not a checkout of the engine (missing %s)" % ", ".join(
            os.path.relpath(p, ROOT) for p in missing))


def source_stamp():
    """Digest of every input of the build: a changed source rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                 os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        for dirpath, dirnames, names in os.walk(base):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            files += [os.path.join(dirpath, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))
                      or "resources" in dirpath]
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile engine + workloads once per source state; returns the classpath."""
    os.makedirs(OUT, exist_ok=True)
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "build.stamp")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repo_cfg):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repo_cfg}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as lf:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        f"-Dperfbench.cpFile={cp_file}", "writeClasspath"],
                       cwd=BENCH, env=env, stdout=lf, timeout=BUILD_TIMEOUT_S)
    if rc != 0 or not os.path.isfile(cp_file):
        sys.stderr.write(tail(log))
        fail(f"build failed (rc={rc}), see {os.path.relpath(log, ROOT)}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


def run_group(cmd, cwd, env, stdout, timeout):
    """Run a command in its own process group; on timeout kill the whole
    group and wait for it, so no child outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def heap():
    """MemTotal/2 clamped to [2, 8] GiB: the tier-1 test command's rule."""
    g = 2
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = max(2, min(8, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return f"{g}g"


def git_commit():
    """HEAD of the checkout, or "none" when it is not a git repository."""
    def git(*args):
        return subprocess.run(["git", *args], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip()
    try:
        if os.path.realpath(git("rev-parse", "--show-toplevel") or "/") != os.path.realpath(ROOT):
            return "none"
        return git("rev-parse", "HEAD") or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_jvm(cp, args, tag):
    work = os.path.join(OUT, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out_file = os.path.join(work, "result.json")
    spans = os.path.join(OUT, "traces", tag + ".jsonl")
    cmd = ["java", f"-Xmx{heap()}", "-XX:+UseG1GC",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "--add-opens", "jdk.httpserver/sun.net.httpserver=ALL-UNNAMED",
           "-Dsun.net.httpserver.nodelay=true",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dderby.system.home={work}",
           "-cp", cp, "perfbench.Main",
           *args, "--bench", BENCH, "--work", work, "--out", out_file, "--spans", spans]
    log = os.path.join(OUT, "logs", tag + ".log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    t0 = time.time()
    with open(log, "w") as lf:
        rc = run_group(cmd, cwd=ROOT, env=dict(os.environ), stdout=lf,
                       timeout=JVM_TIMEOUT_S)
    if rc != 0 or not os.path.isfile(out_file):
        sys.stderr.write(tail(log))
        fail(f"benchmark JVM failed (rc={rc}) after {time.time() - t0:.0f} s, "
             f"see {os.path.relpath(log, ROOT)}")
    with open(out_file) as f:
        result = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="full", choices=("full", "smoke"),
                    help="smoke: the small inputs the benchmark's own tests use")
    a = ap.parse_args()
    check_layout()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build()
    tag = f"{a.workload}-{a.size}-seed{a.seed}-trace{a.trace}"
    load_start = open("/proc/loadavg").read().split()[:3]
    res = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                       "--seconds", str(a.seconds), "--trace", a.trace,
                       "--size", a.size], tag)
    res["info"].update({
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": int(a.trace), "size": a.size, "heap": heap(),
        "commit": git_commit(), "source_stamp": source_stamp()[:16],
        "run_loadavg_start": " ".join(load_start),
        "run_loadavg_end": " ".join(open("/proc/loadavg").read().split()[:3]),
    })

    declared = [m["name"] for m in spec["end_to_end"]] if a.trace == "0" \
        else [m["name"] for m in spec["per_layer"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    got = res["e2e"] if a.trace == "0" else res["layer"]
    unknown = sorted(set(got) - set(declared))
    if unknown:
        fail(f"metrics not declared in BENCHMARK.json: {unknown}")
    metrics = {}
    for name in declared:
        if name in got:
            if got[name]["unit"] != units[name]:
                fail(f"{name}: unit {got[name]['unit']} != declared {units[name]}")
            metrics[name] = got[name]
        elif a.trace == "1":
            # a layer this workload does not exercise: it did no work here
            metrics[name] = {"value": 0, "unit": units[name]}
        else:
            fail(f"end-to-end metric {name} missing from {a.workload}")

    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(OUT, "results", f"{tag}.json"), "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)

    for k, v in res["info"].items():
        print(f"# {k}: {v}")
    for name, m in res["named"].items():
        print(f"{a.workload} {name} {m['value']:.6g} {m['unit']}")
    for msg in res["failures"]:
        print(f"# failure: {msg}")
    if a.trace == "1":
        report_overhead(tag, res)
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


def report_overhead(tag, traced):
    """Tracing overhead: the traced run's named metrics against the
    untraced run of the same workload, size and seed, when one exists."""
    path = os.path.join(OUT, "results", tag.replace("-trace1", "-trace0") + ".json")
    if not os.path.isfile(path):
        print("# trace overhead: no untraced run of this seed to compare")
        return
    with open(path) as f:
        plain = json.load(f)
    for name, m in traced["named"].items():
        base = plain["named"].get(name, {}).get("value")
        if base:
            print(f"# trace overhead {name}: {base:.6g} -> {m['value']:.6g} "
                  f"{m['unit']} ({(m['value'] - base) / base:+.1%} of untraced)")


if __name__ == "__main__":
    main()
