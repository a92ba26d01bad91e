#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: one command, two workloads.

    python3 perfbench/run.py --workload <ep1_build|board_seq>
        --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run in a checkout builds the
engine and the harness from source with sbt (perfbench/build.sbt, offline)
into the checkout; later runs reuse that build while the sources are
unchanged. The workload runs in one JVM (local[4], a fixed 3 GiB heap
committed at start, so peak RSS does not follow the collector's heap sizing,
and the engine's own JVM options from the root build.sbt). It sets up the
session, runs the workload for about --seconds seconds, checks every output
against perfbench/expected.tsv, and prints each metric with its unit. The
last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics of BENCHMARK.json (setup_s is the JVM's cold set-up, timed
from process launch). --trace 1 runs the workload untraced and then traced,
in two JVMs, reports the per-layer metrics and the tracing overhead, and
writes the spans to .bench_build/work/<workload>/spans.jsonl.

`python3 perfbench/run.py --record` re-records perfbench/expected.tsv from
the output digests of one unchecked run of each workload (do it only for an
intended output change, and check the new outputs against the oracle first).

The exit code is 0 when every op succeeded and matched, 1 when any op threw
or returned other output, 2 when the checkout lacks the engine sources or the
build fails, 3 when a JVM crashed or the run passed its 170 s limit (not
counting the build).
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["ep1_build", "board_seq"]
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.tsv")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "3g"


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and waits for it; on timeout kills
    the whole group (sbt and java start children) and returns None."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def sources():
    """Every file the build reads from the checkout, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")):
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))]
    return files


def build():
    """Compiles engine and harness unless an up-to-date build exists;
    returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(2, f"no {need} in {ROOT}: run from a checkout of the repository")
    digest = hashlib.sha256()
    for f in sources():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            got = json.load(fh)
        if got.get("sources") == digest.hexdigest() and all(
                os.path.exists(p) for p in got["classpath"].split(os.pathsep)):
            return got["classpath"], got["java_options"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log = os.path.join(BUILD, "build.log")
    out = os.path.join(BUILD, "build.out")
    with open(log, "w") as err, open(out, "w") as fh:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "perfbench/engineJavaOptions",
                          "export perfbench/Runtime/fullClasspath"],
                         BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=fh, stderr=err)
    if code is None:
        fail(2, f"build timed out; see {log}")
    with open(out) as fh:
        stdout = fh.read()
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    if code != 0 or not lines or "[" in lines[-1]:
        fail(2, f"build failed; see {out} and {log}")
    classpath = lines[-1].strip()
    # The engine's JVM options (the add-opens Spark needs on JDK 17 and its
    # system properties), less its heap size: the benchmark fixes its own.
    java_options = [ln[len("javaOption "):] for ln in lines
                    if ln.startswith("javaOption ")]
    java_options = [o for o in java_options if not o.startswith(("-Xmx", "-Xms"))]
    if not any(o.startswith("--add-opens") for o in java_options):
        fail(2, f"no JVM options in the build output; see {out}")
    with open(stamp, "w") as fh:
        json.dump({"sources": digest.hexdigest(), "classpath": classpath,
                   "java_options": java_options}, fh)
    return classpath, java_options


def run_jvm(built, workload, args, trace, deadline, checked=True):
    """Runs graftbench.Main for one workload in its own work directory,
    killing it at `deadline` (time.monotonic()); returns its exit code,
    result, failure lines and work dir."""
    classpath, java_options = built
    work = os.path.join(BUILD, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + java_options + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", classpath, "graftbench.Main", "--workload", workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(trace), "--data", DATA, "--work", work,
        "--result", result]
    if checked:
        cmd += ["--expected", EXPECTED]
    env = dict(os.environ)
    # Spark prefers this variable over spark.local.dir; keep scratch inside.
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        cmd += ["--launched-ms", str(time.time_ns() // 1_000_000)]
        code = run_group(cmd, max(1.0, deadline - time.monotonic()), cwd=work,
                         env=env, stdout=fh, stderr=subprocess.STDOUT)
    if code is None:
        fail(3, f"run exceeded {RUN_TIMEOUT_S} s; see {log}")
    with open(log) as fh:
        failures = [ln.rstrip() for ln in fh if ln.startswith("[graftbench]")]
    if not os.path.exists(result):
        with open(log) as fh:
            tail = fh.readlines()[-30:]
        sys.stderr.write("".join(tail))
        fail(3, f"no result (exit {code}); see {log}")
    with open(result) as fh:
        return code, json.load(fh), failures, work


def record(built, args):
    """Writes perfbench/expected.tsv from one unchecked run of each workload:
    every query's and every written table's digest, as its ops.tsv shows."""
    args.seed, args.seconds = 0, 1
    digests = {}
    for w in WORKLOADS:
        _, res, failures, work = run_jvm(built, w, args, 0,
                                         time.monotonic() + RUN_TIMEOUT_S, checked=False)
        if res["failed"]:
            fail(1, f"{w}: {res['failed']} ops threw:\n" + "\n".join(failures))
        with open(os.path.join(work, "ops.tsv")) as fh:
            for ln in fh:
                op, _, rows, hashsum, _ = ln.rstrip("\n").split("\t")
                if op.startswith("#") or op.startswith("job ") or not rows:
                    continue
                key = "table:" + op[len("table "):] if op.startswith("table ") \
                    else "query:" + op
                if digests.setdefault(key, (rows, hashsum)) != (rows, hashsum):
                    fail(1, f"{key} gave two different outputs")
    with open(EXPECTED, "w") as fh:
        fh.write("# key\trows\thash\n")
        for key in sorted(digests, key=lambda k: (k.startswith("table:"), k)):
            fh.write(f"{key}\t{digests[key][0]}\t{digests[key][1]}\n")
    sys.exit(0)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    if args.record:
        if args.workload:
            fail(2, "--record takes no --workload")
        record(build(), args)
    if not args.workload or args.seed is None or args.seconds is None:
        fail(2, "--workload, --seed and --seconds are required")
    if args.seconds < 1:
        fail(2, "--seconds must be at least 1")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    built = build()
    deadline = time.monotonic() + RUN_TIMEOUT_S
    code, res, failures, work = run_jvm(built, args.workload, args, 0, deadline)
    got, attempted, failed = res["metrics"], res["attempted"], res["failed"]
    if args.trace:
        # The same seed again, traced; the overhead is its unit's wall time
        # over the untraced run's.
        untraced = got["wall_s"]
        code2, res, fl, work = run_jvm(built, args.workload, args, 1, deadline)
        got = res["metrics"]
        got["trace.overhead_s"] = got["trace.unit_wall_s"] - untraced
        code, attempted, failed, failures = max(code, code2), \
            attempted + res["attempted"], failed + res["failed"], failures + fl
    if set(got) != {m["name"] for m in wanted}:
        fail(3, f"metrics {sorted(got)} do not match BENCHMARK.json")
    metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in wanted}
    print(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds}  "
          f"trace {args.trace}")
    for name, m in metrics.items():
        print(f"  {name:44s} {m['value']:>16.6g} {m['unit']}")
    print(f"  {'failed_ops':44s} {failed:>16d} of {attempted} attempted")
    for ln in failures:
        print(ln, file=sys.stderr)
    if args.trace:
        print(f"  spans: {os.path.relpath(os.path.join(work, 'spans.jsonl'), ROOT)}")
    print(json.dumps({"correct": failed == 0 and code == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if code == 0 and failed == 0 else 1)


if __name__ == "__main__":
    main()
