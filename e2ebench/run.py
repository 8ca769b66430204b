#!/usr/bin/env python3
"""End-to-end benchmark of the YAML pipeline (see README.md).

One run:
    python3 e2ebench/run.py --workload incremental --seed 1 --seconds 6 --trace 0

prints one JSON object as its last line of standard output. Run it from the
root of a checkout: it builds the program and the benchmark from source with
sbt on first use, keeps the build under `target/` directories, and reuses it
while the sources are unchanged.

Repeat mode runs one workload N times with seeds seed..seed+N-1 and prints
each metric's median, quartiles and spread (quartile distance / median):
    python3 e2ebench/run.py --workload serve --repeat 10 --seed 1

Self-test mode shows that every output check fails on a corrupted output:
    python3 e2ebench/run.py --selftest
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HEAP = "2g"
JDK17_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]
WORKLOADS = ("incremental", "serve")


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads: the program's and the benchmark's."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(base):
            files += [os.path.join(base, f) for f in sorted(os.listdir(base))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, subdirs, names in os.walk(top):
            subdirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def build():
    """Returns the runtime classpath, building first if the sources changed."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("e2ebench: no program sources next to the benchmark "
                         "(expected build.sbt and src/main/scala in %s)" % ROOT)
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(HERE, "target", "classpath.json")
    if os.path.isfile(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("sources") == h.hexdigest():
            return cached["classpath"]
    log("e2ebench: building the program and the benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        # Resolve offline, from the user's repository list when there is one,
        # as the project's own test command does.
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export e2ebench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=sys.stderr, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or "scala-2.13" not in lines[-1]:
        sys.stderr.write("\n".join(l for l in lines if len(l) < 2000) + "\n")
        raise SystemExit("e2ebench: build failed")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        json.dump({"sources": h.hexdigest(), "classpath": lines[-1]}, fh)
    return lines[-1]


def cpu_ticks():
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def run_jvm(classpath, bench_args, capture):
    """Runs one benchmark JVM in a fresh work directory inside the checkout."""
    runs = os.path.join(HERE, "target", "runs")
    os.makedirs(runs, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=runs)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP]
           + [x for p in JDK17_OPENS for x in ("--add-opens", p)]
           + ["-Djava.io.tmpdir=" + tmp,
              "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
              "-cp", classpath, "e2ebench.Bench", "--work", os.path.join(work, "w")]
           + bench_args)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE if capture else None)

    def stop(signum, _frame):
        proc.terminate()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    steal0, total0 = cpu_ticks()
    try:
        out, _ = proc.communicate()
        steal1, total1 = cpu_ticks()
        # Time the machine's CPUs were ready but not given to it: other
        # tenants' load, which slows a run as a whole.
        log("e2ebench: steal %.1f%% of CPU time during the run"
            % (100.0 * (steal1 - steal0) / max(1, total1 - total0)))
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        for s, h in old.items():
            signal.signal(s, h)
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out


def repeat(classpath, args):
    results = []
    for i in range(args.repeat):
        seed = args.seed + i
        code, out = run_jvm(classpath, ["--workload", args.workload, "--seed", str(seed),
                                        "--seconds", str(args.seconds), "--trace", str(args.trace)],
                            capture=True)
        lines = out.decode().strip().splitlines()
        if code != 0 or not lines:
            raise SystemExit("e2ebench: run with seed %d failed (exit %d)" % (seed, code))
        res = json.loads(lines[-1])
        ops = [float(l.split()[2]) for l in lines if l.startswith("# ops_s ")]
        if ops:
            res["metrics"]["(ops_s)"] = {"value": ops[0], "unit": "s"}
        results.append(res)
        print("seed %d: correct=%s attempted=%d failed=%d %s" % (
            seed, res["correct"], res["attempted"], res["failed"],
            " ".join("%s=%.4g" % (k, v["value"]) for k, v in res["metrics"].items())), flush=True)
    print("workload %s, %d runs, trace %d, %s s each" % (args.workload, len(results), args.trace, args.seconds))
    print("%-30s %12s %12s %12s %8s" % ("metric", "q1", "median", "q3", "spread"))
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
        spread = (q3 - q1) / med if med else float("nan")
        print("%-30s %12.5g %12.5g %12.5g %8.3f" % (name, q1, med, q3, spread))
    shares = sorted({r["failed"] / r["attempted"] for r in results})
    print("correct in every run: %s; failed share: %s" % (
        all(r["correct"] for r in results), shares))


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--repeat", type=int, default=0, help="run N times and summarise")
    p.add_argument("--selftest", action="store_true")
    args = p.parse_args()
    classpath = build()
    if args.selftest:
        code, _ = run_jvm(classpath, ["--selftest"], capture=False)
        sys.exit(code)
    if not args.workload:
        p.error("--workload is required")
    if args.repeat:
        repeat(classpath, args)
        return
    code, _ = run_jvm(classpath, ["--workload", args.workload, "--seed", str(args.seed),
                                  "--seconds", str(args.seconds), "--trace", str(args.trace)],
                      capture=False)
    sys.exit(code)


if __name__ == "__main__":
    main()
