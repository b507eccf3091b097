"""Build the engine and the benchmark's JVM harness from source, once per
source tree, and return the runtime classpath.

The build runs `sbt compile` in perfbench/harness, whose build depends on
the engine at the repo root. The classpath is cached in
.bench_build/build.json next to a hash of every build input, so later runs
in the same checkout skip sbt.
"""
import glob
import hashlib
import json
import os
import subprocess
import time

HARNESS = os.path.join("perfbench", "harness")
STATE = os.path.join(".bench_build", "build.json")
MAIN_CLASS = "perfbench.Harness"


def _inputs(root):
    """Every file that can change the build output, in a stable order."""
    files = [os.path.join(root, "build.sbt")]
    files += sorted(glob.glob(os.path.join(root, "project", "*.*")))
    for top in ("src/main", HARNESS):
        for d, dirs, names in os.walk(os.path.join(root, top)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def source_hash(root):
    h = hashlib.sha256()
    for f in _inputs(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env(root):
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" +
                   os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    # the engine's build.sbt creates its scratch directory at load time;
    # keep it inside the checkout
    env["SPARK_GRAFT_SCRATCH"] = os.path.join(root, ".bench_build")
    return env


def ensure_built(root, log, timeout=850):
    """Return (classpath list, source hash, seconds spent building)."""
    digest = source_hash(root)
    try:
        with open(os.path.join(root, STATE)) as fh:
            state = json.load(fh)
        if state["hash"] == digest and all(os.path.exists(p)
                                           for p in state["classpath"]):
            return state["classpath"], digest, 0.0
    except (OSError, ValueError, KeyError):
        pass
    t0 = time.monotonic()
    os.makedirs(os.path.join(root, ".bench_build"), exist_ok=True)
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.server.autostart=false",
             "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(root, HARNESS), env=sbt_env(root),
            stdout=subprocess.PIPE, stderr=out, text=True, timeout=timeout)
        out.write(proc.stdout)
    if proc.returncode != 0:
        raise RuntimeError(f"build failed (exit {proc.returncode}); see {log}")
    lines = [ln for ln in proc.stdout.splitlines()
             if ln.startswith("/") and ":" in ln]
    if not lines:
        raise RuntimeError(f"build printed no classpath; see {log}")
    classpath = lines[-1].strip().split(":")
    with open(os.path.join(root, STATE), "w") as fh:
        json.dump({"hash": digest, "classpath": classpath}, fh)
    return classpath, digest, time.monotonic() - t0
