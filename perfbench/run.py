#!/usr/bin/env python3
"""graft benchmark of record.

    python3 perfbench/run.py --workload turbofan|catalog|daily_curation \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first call builds the program and
the benchmark from source with sbt (perfbench/build.sbt pulls the
checkout's own build in); later calls reuse the build while the sources
are unchanged. Seeded inputs are generated by a separate JVM and cached
under .perfbench/data, keyed by workload, sizes, seed and the sources'
digest, so neither the timed phase nor set-up pays for generation; the
catalog's tables are the fixed copy of the engine's test data in
perfbench/tables. The measuring JVM prints one JSON line, which this
script repeats as the last line of its standard output. Sizes and their reasons live in
perfbench/workloads.json.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
# wall-clock budget of one call: 175 s, or 890 s when it has to build
BUDGET_S, BUILD_BUDGET_S = 175, 890

# what spark-submit would add on JDK 17 (same list as the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

_children = []


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _stop_children(*_):
    for p in _children:
        if p.poll() is None:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
    sys.exit(3)


def call(cmd, cwd, timeout, env=None, stdout_path=None, stderr_path=None):
    """Runs cmd in its own process group; kills the group on timeout.
    Returns (exit code, stdout text)."""
    out = open(stdout_path, "w") if stdout_path else subprocess.PIPE
    err = open(stderr_path, "w") if stderr_path else subprocess.DEVNULL
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=err,
                         stdin=subprocess.DEVNULL, text=True,
                         start_new_session=True)
    _children.append(p)
    try:
        text, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        log(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...")
        return 124, ""
    finally:
        _children.remove(p)
        for f in (out, err):
            if f not in (subprocess.PIPE, subprocess.DEVNULL):
                f.close()
    if stdout_path:
        with open(stdout_path) as f:
            text = f.read()
    return p.returncode, text or ""


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def source_digest():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath(deadline):
    """Builds on first use or when a source changed; returns the classpath,
    whether it built and the sources' digest."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        log("no program sources next to perfbench/: run from a checkout root")
        sys.exit(2)
    build = os.path.join(STATE, "build")
    os.makedirs(build, exist_ok=True)
    stamp, cp_file = os.path.join(build, "stamp"), os.path.join(build, "classpath")
    digest = source_digest()
    if os.path.isfile(cp_file) and os.path.isfile(stamp) and \
            open(stamp).read() == digest:
        return open(cp_file).read().strip(), False, digest
    log("building program and benchmark from source (sbt)")
    t0 = time.time()
    sbt_log = os.path.join(build, "sbt.log")
    code, out = call(["sbt", "-batch", "-Dsbt.log.noformat=true",
                      "export Runtime/fullClasspath"], HERE, deadline - time.time(),
                     stderr_path=sbt_log)
    lines = [l for l in out.splitlines() if l.strip()]
    cp = lines[-1].strip() if lines else ""
    if code != 0 or "classes" not in cp or cp.startswith("["):
        log(f"build failed (exit {code}):\n{out[-3000:]}{tail(sbt_log)}")
        sys.exit(2)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"build done in {time.time() - t0:.0f} s")
    return cp, True, digest


def java(cp, cfg, args, run_dir):
    heap = cfg["heap"]
    cmd = ["java", f"-Xmx{heap}", f"-Xms{heap}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "perfbench.Main"] + args


def kv(d):
    out = []
    for k, v in d.items():
        out += [f"--{k}", str(v)]
    return out


def env_for(run_dir):
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_COLD", None)
    env["SPARK_GRAFT_SIDE_DIR"] = os.path.join(run_dir, "side")
    return env


def ensure_data(cp, cfg, wl, sizes, seed, deadline, digest):
    gen = sizes.get("gen", {})
    # the sources' digest in the key: other code, other inputs and outputs
    key = hashlib.sha256(json.dumps([wl, sizes.get("tables"), gen, digest],
                                    sort_keys=True).encode()).hexdigest()[:12]
    if not gen:
        # fixed inputs (catalog): the directory only keeps the output
        # digests that later runs, of any seed, must reproduce
        data = os.path.join(STATE, "data", f"{wl}-{key}")
        os.makedirs(data, exist_ok=True)
        return data
    data = os.path.join(STATE, "data", f"{wl}-{key}-s{seed}")
    if os.path.isfile(os.path.join(data, "DONE")):
        return data
    tmp = data + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "tmp"))
    log(f"generating {wl} inputs for seed {seed}")
    t0 = time.time()
    err = os.path.join(tmp, "gen.log")
    code, _ = call(java(cp, cfg, ["gen", "--workload", wl, "--seed", str(seed),
                                  "--data", tmp, "--cpus", str(cfg["cpus"])]
                        + tables_arg(sizes) + kv(gen), tmp),
                   ROOT, deadline - time.time(), env=env_for(tmp),
                   stderr_path=err)
    if code != 0:
        log(f"input generation failed (exit {code}):\n{tail(err)}")
        sys.exit(1)
    log(f"generated in {time.time() - t0:.0f} s")
    shutil.rmtree(os.path.join(tmp, "tmp"), ignore_errors=True)
    open(os.path.join(tmp, "DONE"), "w").close()
    shutil.rmtree(data, ignore_errors=True)
    os.rename(tmp, data)
    return data


def tables_arg(sizes):
    if "tables" not in sizes:
        return []
    tables = os.path.join(HERE, "tables", sizes["tables"])
    if not os.path.isdir(tables):
        log(f"missing table set {tables}")
        sys.exit(2)
    return ["--tables", tables]


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", default="full",
                    help="size set from workloads.json (full or tiny)")
    ap.add_argument("--corrupt-op", type=int, default=-1,
                    help="corrupt this operation's output before its check "
                         "(the benchmark's negative test)")
    a = ap.parse_args(argv)
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if a.workload not in spec["workloads"]:
        log(f"unknown workload {a.workload}; have {sorted(spec['workloads'])}")
        return 2
    cfg = dict(spec["jvm"])
    cfg["cpus"] = min(cfg["cpus"], len(os.sched_getaffinity(0)))
    sizes = spec["workloads"][a.workload][a.size]
    signal.signal(signal.SIGTERM, _stop_children)
    start = time.time()
    cp, built, digest = classpath(start + BUILD_BUDGET_S - 60)
    deadline = start + (BUILD_BUDGET_S if built else BUDGET_S)
    data = ensure_data(cp, cfg, a.workload, sizes, a.seed, deadline, digest)
    run_dir = os.path.join(STATE, "runs", f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    args = ["run", "--workload", a.workload, "--seed", str(a.seed),
            "--data", data, "--run", run_dir, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", str(cfg["cpus"]),
            ] + tables_arg(sizes) + kv(sizes.get("gen", {})) + kv(sizes["run"])
    if a.corrupt_op >= 0:
        args += ["--corrupt", str(a.corrupt_op)]
    err = os.path.join(run_dir, "run.log")
    code, out = call(java(cp, cfg, args, run_dir), ROOT, deadline - time.time(),
                     env=env_for(run_dir), stderr_path=err)
    result = None
    for line in reversed(out.splitlines()):
        try:
            obj = json.loads(line)
        except ValueError:
            continue
        if isinstance(obj, dict) and "metrics" in obj:
            result = obj
            break
    logs = os.path.join(STATE, "logs")
    os.makedirs(logs, exist_ok=True)
    stem = os.path.join(logs, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.copy(err, stem + ".log")
    if os.path.isfile(os.path.join(run_dir, "spans.jsonl")):
        shutil.copy(os.path.join(run_dir, "spans.jsonl"), stem + ".spans.jsonl")
        log(f"spans: {stem}.spans.jsonl")
    shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0 or result is None:
        log(f"measuring run failed (exit {code}):\n{tail(stem + '.log')}")
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
