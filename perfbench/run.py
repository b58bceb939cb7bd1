#!/usr/bin/env python3
"""Run one perfbench workload against the engine in this checkout.

    python3 perfbench/run.py --workload registry_execute_bound --seed 1 --seconds 20 --trace 0

The first call builds the engine and the benchmark from source with sbt
(offline) and caches the classpath in .bench_build/; later calls reuse
it until a source file changes. The last line of standard output is the
result object. See perfbench/README.md for the workloads and metrics.

Other modes: --selftest (the benchmark's own arithmetic), --golden
(regenerate perfbench/golden.json from the current tree).
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, engine and benchmark."""
    required = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    missing = [p for p in required if not os.path.isfile(p)]
    if missing or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit(f"[perfbench] the engine's sources are not in this checkout "
                         f"(missing: {', '.join(os.path.relpath(p, ROOT) for p in missing) or 'src/main/scala'})")
    files = list(required)
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, env=None, stdout=None, stderr=None):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"[perfbench] {cmd[0]} timed out after {timeout} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def build():
    """Compile engine + benchmark once per source state; returns the classpath."""
    files = source_files()
    want = stamp(files)
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "classpath.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and benchmark with sbt (first run in this checkout)")
    t0 = time.time()
    build_log = os.path.join(WORK, "build.log")
    with open(build_log, "wb") as out:
        code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"],
                            HERE, BUILD_TIMEOUT_S, env=env, stdout=out, stderr=subprocess.STDOUT)
    with open(build_log, errors="replace") as f:
        lines = f.read().splitlines()
    cps = [l.strip() for l in lines if "perfbench" in l and "classes" in l and os.pathsep in l
           and not l.startswith("[")]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"[perfbench] build failed (exit {code}); log in {build_log}")
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(want)
    return cps[-1]


def java(cp, args, timeout, log_name):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed-size heap, touched in full at start as a long-lived server's
    # heap ends up: the peak resident set then tracks what the JVM needs
    # beyond its heap, not which heap regions the collector happened to
    # use before the reading
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={tmp}", f"-Dperfbench.root={ROOT}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    logs = os.path.join(WORK, "logs")
    os.makedirs(logs, exist_ok=True)
    err_path = os.path.join(logs, log_name)
    with open(err_path, "wb") as err:
        code, out = run_group(cmd, ROOT, timeout, stdout=subprocess.PIPE, stderr=err)
    with open(err_path, errors="replace") as f:
        err_lines = f.read().splitlines()
    for l in err_lines:
        if l.startswith("[perfbench]") or l.startswith("[selftest]") or l.startswith("[golden]"):
            print(l, file=sys.stderr)
    if code != 0:
        sys.stderr.write("\n".join(l for l in err_lines[-30:] if not l.startswith("[")) + "\n")
    return code, out.decode("utf-8", "replace")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--golden", action="store_true", help="regenerate golden.json")
    a = ap.parse_args()
    cp = build()
    if a.selftest:
        code, out = java(cp, ["selftest"], RUN_TIMEOUT_S, "selftest.log")
    elif a.golden:
        code, out = java(cp, ["golden"], 3600, "golden.log")
    else:
        if not a.workload:
            ap.error("--workload is required")
        code, out = java(cp, ["run", "--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", str(a.trace)],
                         RUN_TIMEOUT_S, f"{a.workload}-{a.seed}-{a.trace}.log")
    lines = [l for l in out.splitlines() if l.strip()]
    result = [l for l in lines if l.startswith('{"correct"')]
    for l in lines:
        if l not in result:
            print(l)
    if result:
        print(result[-1])
    sys.stdout.flush()
    sys.exit(code)


if __name__ == "__main__":
    main()
