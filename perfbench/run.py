#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the library from
the checkout's sources with its own sbt build, then the harness in
perfbench/harness against it; later runs reuse the build while no source
changed. The harness opens a local[nproc] Spark session, sets up
(session, preparation, warm-up) SETUPS times, then drives the workload's
seeded op list in a closed loop with one client, checking every op's
output outside the timed interval. --seconds sizes the op list (see
workloads.py); the harness runs all of it however fast the ops go.

The last stdout line is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric when --trace 0 and every per-layer metric
when --trace 1. The line before it is a report with the remaining
figures (fail ratio, tail percentile and sample count, set-up times, the
export byte rates, span self times). Everything a run writes stays under
perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import workloads  # noqa: E402

OUT = os.path.join(HERE, "out")
DATA = os.path.join(HERE, "data", "sf0.1")
WARM_DATA = os.path.join(HERE, "data", "sf0.01")
PINS = os.path.join(HERE, "expected", "corpus_sf0.1.json")
SETUPS = 3
# A fixed heap size keeps G1's heap resizing, which varies by a fifth from
# run to run, out of the resident-set peak; that peak then moves with
# memory beyond the heap, and heap_live_mb with the heap the program keeps.
HEAP = "2g"
HARNESS_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

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


def build_inputs():
    """Every file the build reads from the checkout."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "harness", "build.sbt"),
             os.path.join(HERE, "harness", "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness", "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Build library and harness unless the sources are unchanged since the
    last build; return the harness's runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no library sources under {ROOT} (build.sbt, src/main/scala)")
    h = hashlib.sha256()
    for f in build_inputs():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    bdir = os.path.join(OUT, "build")
    stamp_f, cp_f = os.path.join(bdir, "stamp"), os.path.join(bdir, "classpath")
    if os.path.isfile(stamp_f) and os.path.isfile(cp_f):
        with open(stamp_f) as fh:
            if fh.read() == stamp:
                with open(cp_f) as fh:
                    return fh.read()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    sbt = shutil.which("sbt") or "/opt/sbt/bin/sbt"
    log = os.path.join(bdir, "sbt.log")
    with open(log, "w") as fh:
        r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=os.path.join(HERE, "harness"), env=env, stdout=fh,
                           stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cps = [l for l in lines if "perfbench" in l and ".jar" in l and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        fail(f"build failed (exit {r.returncode}); see {log}")
    with open(cp_f, "w") as fh:
        fh.write(cps[-1].strip())
    with open(stamp_f, "w") as fh:
        fh.write(stamp)
    return cps[-1].strip()


def check_data():
    """The vendored tables must be the ones the pins were taken on."""
    sums = os.path.join(HERE, "data", "SHA256SUMS")
    if not os.path.isfile(sums):
        fail("perfbench/data/SHA256SUMS missing")
    with open(sums) as fh:
        for line in fh:
            want, name = line.split()
            path = os.path.join(HERE, "data", name)
            if not os.path.isfile(path):
                fail(f"missing data file {name}")
            with open(path, "rb") as f:
                if hashlib.sha256(f.read()).hexdigest() != want:
                    fail(f"data file {name} does not match SHA256SUMS")


def cpu_ticks():
    """The aggregate cpu line of /proc/stat (user nice system idle iowait
    irq softirq steal ...)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def run_harness(cp, workload, seed, seconds, trace, spec=None):
    """Run the harness on the workload's op list for `seed` and `seconds`
    (or on `spec`); return its run directory and result."""
    run_dir = os.path.join(OUT, f"{workload}-seed{seed}-trace{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    work, tmp = os.path.join(run_dir, "work"), os.path.join(run_dir, "tmp")
    os.makedirs(work)
    os.makedirs(tmp)
    ops_f, res_f = os.path.join(run_dir, "ops.json"), os.path.join(run_dir, "result.json")
    with open(ops_f, "w") as fh:
        json.dump(spec or workloads.generate(workload, seed, seconds), fh)
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", "--workload", workload, "--ops", ops_f,
            "--data", DATA, "--warm-data", WARM_DATA, "--pins", PINS,
            "--trace", str(trace), "--cores", str(cores),
            "--setups", str(SETUPS), "--work", work, "--out", res_f]
    log = os.path.join(run_dir, "harness.log")
    cpu0 = cpu_ticks()
    with open(log, "w") as fh:
        r = subprocess.run(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT,
                           timeout=HARNESS_TIMEOUT_S)
    cpu1 = cpu_ticks()
    if r.returncode != 0 or not os.path.isfile(res_f):
        fail(f"harness exited {r.returncode}; see {log}")
    with open(res_f) as fh:
        result = json.load(fh)
    # Share of the machine's CPU time the hypervisor gave to other guests
    # while the run lasted: a reading of noise the benchmark cannot remove.
    total = sum(cpu1) - sum(cpu0)
    result["steal_share"] = (cpu1[7] - cpu0[7]) / total if total else 0.0
    shutil.rmtree(work, ignore_errors=True)
    return run_dir, result


def summarize(result, trace):
    """(result line, end-to-end metrics, report) of one harness result."""
    ops = result["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    e2e, report = metrics.end_to_end(result)
    if trace:
        values = metrics.per_layer(result)
        spec = metrics.PER_LAYER
        report["span_self_ms"] = metrics.self_times(result["spans"])
    else:
        values, spec = e2e, metrics.END_TO_END
    report["failures"] = [{"i": o["i"], "kind": o["kind"], "error": o.get("error")}
                          for o in ops if not o["ok"]]
    out = {"correct": failed == 0, "attempted": len(ops), "failed": failed,
           "metrics": {n: {"value": values[n], "unit": u} for n, u, _ in spec}}
    return out, e2e, report


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args(argv)

    cp = build()
    check_data()
    run_dir, result = run_harness(cp, a.workload, a.seed, a.seconds, a.trace)
    out, e2e, report = summarize(result, a.trace)
    with open(os.path.join(run_dir, "report.json"), "w") as fh:
        json.dump({"result": out, "end_to_end": e2e, "report": report}, fh, indent=1)
    print(json.dumps({"report": report, "end_to_end": e2e}))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
