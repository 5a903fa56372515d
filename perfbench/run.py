#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness from source into .bench_build/ (once per
source state), generates the input tables (once per scale), runs the
workload in a fresh JVM, checks its outputs, and prints the metrics by name
with their units. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are BENCHMARK.json's end_to_end ones, with --trace 1 its per_layer ones.
The run artifact (and, when traced, the spans) is written under
.bench_build/artifacts/.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import math
import os
import re
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.abspath(".bench_build")
JVM_TIMEOUT_S = 165
# Input scale per workload (stream-bnpl generates its own event stream).
SCALE = {"batch": "0.01"}
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def build():
    """Compile src/main/scala + perfbench/src unless this exact source state
    was already compiled."""
    sources = glob.glob("src/main/scala/**/*.scala", recursive=True) + \
        glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True) + \
        [os.path.join(HERE, "build.sh")]
    stamp = digest(sources)
    stamp_file = os.path.join(BUILD, "classes.stamp")
    classes = os.path.join(BUILD, "classes")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    print("perfbench: building engine and harness ...", file=sys.stderr)
    r = subprocess.run(["bash", os.path.join(HERE, "build.sh"), classes])
    if r.returncode != 0:
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def data(scale):
    gen = os.path.join(HERE, "gen.py")
    out = os.path.join(BUILD, "data", f"sf{scale}-{digest([gen])}")
    if not os.path.isdir(out):
        tmp = out + ".tmp"
        r = subprocess.run([sys.executable, gen, tmp, scale])
        if r.returncode != 0:
            fail("data generation failed")
        os.rename(tmp, out)
    return out


def declared():
    try:
        with open("BENCHMARK.json") as f:
            b = json.load(f)
    except OSError:
        fail("BENCHMARK.json not found; run from the repository root")
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def spark_jars():
    """The jar directory the root build.sbt compiles against (unmanagedBase)."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    with open("build.sbt") as f:
        m = re.search(r'^unmanagedBase := file\("([^"]+)"\)', f.read(), re.M)
    if not m:
        fail("build.sbt names no unmanagedBase jar directory; set SPARK_JARS")
    return m.group(1)


def run_jvm(classes, args, log_path, tmp):
    """Runs perfbench.Main; its temporary and Spark scratch files go to tmp."""
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"] + \
        [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + \
        ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", f"-Dspark.local.dir={tmp}",
         "-cp", f"{classes}:{spark_jars()}/*", "perfbench.Main"] + args
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def main():
    # a terminated run stops its JVM too (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--record", type=int, default=0,
                    help="1 = store this run's batch result fingerprints as the expected ones")
    ap.add_argument("--scale", help="input scale factor (default per workload)")
    ap.add_argument("--rate", type=int, default=100, help="stream-bnpl offered events/s")
    ap.add_argument("--expected", help="batch result fingerprints file")
    ap.add_argument("--corrupt", type=int, default=0,
                    help="1 = check against a deliberately wrong expectation (self-test)")
    a = ap.parse_args()

    if not os.path.isdir("src/main/scala"):
        fail("no engine sources (src/main/scala) in the current directory")
    e2e_units, layer_units = declared()
    wanted = layer_units if a.trace else e2e_units
    if a.workload not in ("batch", "stream-bnpl"):
        fail(f"unknown workload {a.workload}")

    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        classes = build()
        scale = a.scale or SCALE.get(a.workload, "0.01")
        data_dir = data(scale)

        arts = os.path.join(BUILD, "artifacts")
        os.makedirs(arts, exist_ok=True)
        out = os.path.join(arts, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        if os.path.exists(out):
            os.remove(out)
        work = os.path.join(BUILD, "work", a.workload)
        fingerprints = a.expected or os.path.join(HERE, "expected", f"batch-sf{scale}.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", data_dir, "--work", work, "--out", out,
                "--fingerprints", fingerprints, "--record", str(a.record),
                "--rate", str(a.rate), "--corrupt", str(a.corrupt)]
        log_path = os.path.join(arts, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
        code = run_jvm(classes, args, log_path, os.path.join(work, "tmp"))
        subprocess.run(["rm", "-rf", work])
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            tail = [l for l in f.read().splitlines() if "Exception" in l or "Error" in l][-15:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"workload JVM {'timed out' if code is None else f'exited with {code}'}; log: {log_path}")

    with open(out) as f:
        art = json.load(f)
    values = art["per_layer"] if a.trace else art["end_to_end"]
    missing = [m for m in wanted if not isinstance(values.get(m), (int, float))
               or not math.isfinite(values[m])]
    if missing:
        fail(f"metrics not measured: {', '.join(missing)}")

    # tracing overhead: this traced run against the newest untraced run of
    # the workload with the same settings, preferring the same seed
    art["settings"] = {"seconds": a.seconds, "scale": scale, "rate": a.rate}
    if a.trace:
        plain = []
        for p in glob.glob(os.path.join(arts, f"{a.workload}-seed*-trace0.json")):
            with open(p) as f:
                other = json.load(f)
            if other.get("settings") == art["settings"]:
                plain.append((other["seed"] == a.seed, os.path.getmtime(p), other["end_to_end"]))
        if plain:
            base = max(plain, key=lambda x: x[:2])[2]
            art["tracing_overhead"] = {k: art["end_to_end"][k] / base[k] - 1.0
                                       for k in base if base[k] and k in art["end_to_end"]}
    with open(out, "w") as f:
        json.dump(art, f)

    print(f"workload {a.workload}  seed {a.seed}  window {a.seconds} s  trace {a.trace}")
    for k, v in sorted(art["named"].items()):
        print(f"  {k:28s} {v['value']:14.6g} {v['unit']}")
    for k, v in sorted(art.get("tracing_overhead", {}).items()):
        print(f"  tracing overhead {k:11s} {v:+14.3%}")
    print(f"  correct {art['correct']}  attempted {art['attempted']}  failed {art['failed']}")
    for p in art["problems"][:10]:
        print(f"  problem: {p}")
    print(json.dumps({
        "correct": bool(art["correct"]), "attempted": int(art["attempted"]),
        "failed": int(art["failed"]),
        "metrics": {m: {"value": values[m], "unit": wanted[m]} for m in wanted}}))


if __name__ == "__main__":
    main()
