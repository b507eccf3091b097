#!/usr/bin/env python3
"""The repo's benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload epoch_frame --seed 1 --seconds 10 --trace 0

It builds the engine and the benchmark's JVM harness from source (first run
only), prepares the workload's inputs from the seed, runs one closed-loop
client in one JVM at local[nproc], checks the outputs, and prints as its
last line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The full record, with provenance, goes to
.bench_build/results/. See perfbench/README.md.
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

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import build, checks, epochgen, metrics, provenance  # noqa: E402

DEADLINE_S = 170          # a run ends within 180 s, builds aside
HEAP = "3g"
FRAME = 192               # epoch_frame image side, px
SETS = 3                  # seeded image sets; units cycle through them
N_STARS = 20              # planted stars per image set
FIXTURES = os.path.join("perfbench", "fixtures", "sf0.01")
# suite_stream: the streaming queries one run can afford (see README.md)
STREAM_QUERIES = {
    "q94": "q94_incremental_sessions",
    "q124": "q124_streaming_dedup",
}
WORKLOADS = ("epoch_frame", "suite_stream")
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def verify_fixtures(root):
    d = os.path.join(root, FIXTURES)
    with open(os.path.join(d, "SHA256SUMS")) as fh:
        for line in fh:
            digest, name = line.split()
            with open(os.path.join(d, name), "rb") as f:
                if hashlib.sha256(f.read()).hexdigest() != digest:
                    fail(f"fixture {name} does not match SHA256SUMS")
    return d


def run_jvm(classpath, args, work, deadline):
    """Run the JVM harness in its own process group; kill it at the deadline."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:ReservedCodeCacheSize=512m"]
           + [a for p in OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={tmp}",
              f"-Dderby.system.home={os.path.join(work, 'derby')}",
              "-cp", ":".join(classpath), build.MAIN_CLASS]
           + args + ["--work", work])
    with open(os.path.join(work, "jvm.out"), "w") as out, \
            open(os.path.join(work, "jvm.err"), "w") as err:
        proc = subprocess.Popen(cmd, stdout=out, stderr=err,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"JVM harness passed the {DEADLINE_S} s deadline; "
                 f"see {work}/jvm.err")
    if code != 0:
        with open(os.path.join(work, "jvm.err")) as fh:
            tail = fh.read()[-3000:]
        fail(f"JVM harness exited {code}:\n{tail}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, n))
               for d, _, names in os.walk(path) for n in names
               if not n.startswith((".", "_")))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main"))):
        fail("run from the root of a repo checkout (no build.sbt or src/main)", 2)
    prov = provenance.Probe()
    classpath, digest, build_s = build.ensure_built(
        root, os.path.join(root, ".bench_build", "build.log"))
    deadline = time.monotonic() + DEADLINE_S
    t_start = time.monotonic()
    work = os.path.join(root, ".bench_build", "work",
                        f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = os.cpu_count() or 1
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", repr(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores)]
    if a.workload == "epoch_frame":
        inputs = os.path.join(work, "inputs")
        truths = epochgen.generate(a.seed, inputs, FRAME, SETS, N_STARS)
        args += ["--inputs", inputs, "--frame", str(FRAME), "--sets", str(SETS)]
    else:
        sf = verify_fixtures(root)
        args += ["--sf", sf, "--queries", ",".join(STREAM_QUERIES.values())]
    prep_s = time.monotonic() - t_start
    result = run_jvm(classpath, args, work, deadline)

    units = result["units"]
    failed = sum(1 for u in units if not u["ok"])
    problems = [f"{u['name']} (pass {u['pass']}) failed: {u['error']}"
                for u in units if not u["ok"]]
    detail = {"fail_share": failed / len(units)}
    catalog_bytes = {}
    if a.workload == "epoch_frame":
        # pass p ran on image set (p + 1) % SETS and wrote out/p<p>
        cats = {p["pass"]: os.path.join(work, "out", f"p{p['pass']}")
                for p in [{"pass": -1}] + result["passes"]}
        d = checks.check_epochs([(truths[(p + 1) % SETS], c)
                                 for p, c in cats.items()])
        catalog_bytes = {p: dir_bytes(c) for p, c in cats.items()}
    else:
        d = checks.check_oracle(root, os.path.join(work, "dump"), sf,
                                os.path.join(work, "compare.log"))
    problems += d.pop("problems")
    detail.update(d)

    setup_s = prep_s + sum(result["setup"].values())
    e2e, extra = metrics.end_to_end(result, setup_s)
    detail.update(extra)
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "end_to_end": e2e, "detail": detail,
        "setup_parts": dict(result["setup"], prepare_inputs_s=prep_s),
        "provenance": dict(prov.finish(root), **result["env"],
                           source_sha256=digest, build_s=build_s,
                           label="host-local"),
        "units": units, "passes": result["passes"], "problems": problems,
    }
    if a.trace:
        # every workload prints every per-layer metric of the manifest;
        # the query ones read 0 where those queries do not run
        record["per_layer"] = metrics.per_layer(
            result, cores, catalog_bytes, STREAM_QUERIES)
    out_dir = os.path.join(root, ".bench_build", "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{a.workload}-s{a.seed}-t{a.trace}.json"),
              "w") as fh:
        json.dump(dict(record, spans=result["spans"]), fh)
    shutil.rmtree(work, ignore_errors=True)

    print(f"perfbench {a.workload} seed={a.seed}: {len(units)} units, "
          f"{failed} failed; detail {json.dumps(detail, sort_keys=True)}")
    for p in problems:
        print(f"perfbench CHECK FAILED: {p}", file=sys.stderr)
    chosen = record["per_layer"] if a.trace else e2e
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        manifest = json.load(fh)["per_layer" if a.trace else "end_to_end"]
    if set(chosen) != {m["name"] for m in manifest}:
        fail("metrics differ from BENCHMARK.json: "
             f"{sorted(set(chosen) ^ {m['name'] for m in manifest})}")
    print(json.dumps({
        "correct": not problems, "attempted": len(units), "failed": failed,
        "metrics": {k: {"value": v, "unit": metrics.unit_of(k)}
                    for k, v in chosen.items()}}))
    sys.exit(0 if not problems else 1)


if __name__ == "__main__":
    main()
