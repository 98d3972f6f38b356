"""Runs one benchmark measurement, or the steadiness check.

One run (what BENCHMARK.json's command does):

    python3 perfbench/run.py --workload sync_cycle --seed 1 --seconds 20 --trace 0

builds the engine and harness if needed (perfbench/build.py), generates
the seeded inputs, sets up, runs the closed loop for --seconds, checks the
outputs, and prints one JSON object as the last line of stdout:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer ones (and
writes the span dump to .bench_work/trace/). The line before it carries
details: sample counts, which percentile `tail` is, input size.

All three workloads, one after the other (backfill is not in
BENCHMARK.json's gated list; see README.md):

    python3 perfbench/run.py --workload all --seed 1

Steadiness check (two sets of runs of the same code):

    python3 perfbench/run.py --steadiness [--runs 10] [--workloads a,b]

runs every workload --runs times in each of two sets, with a new seed
each time, and reports, per workload and end-to-end metric, each set's
median and quartile spread, and whether they hold the bounds in
BENCHMARK.json: each spread within the bound, and the two medians apart
by at most the bound (as a share of the first). Runs are kept in
.bench_work/steadiness.json.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

ROOT = HERE.parent
WORK = ROOT / ".bench_work"
WORKLOADS = ("sync_cycle", "backfill", "curation_gate")
RUN_LIMIT_S = 175
FIRST_RUN_LIMIT_S = 880

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spec():
    p = ROOT / "BENCHMARK.json"
    if not p.is_file():
        fail("BENCHMARK.json not found at the repository root")
    return json.loads(p.read_text())


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def tidy_inputs(workload, seed):
    """Keeps generated inputs of the current seed and build only."""
    keep = f"{workload}-s{seed}"
    d = WORK / "in"
    mark = d / ".build"
    want = (build.CLASSES / ".stamp").read_text()
    if not mark.is_file() or mark.read_text() != want:
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
        mark.write_text(want)
    for p in d.iterdir():
        if p.name not in (keep, mark.name):
            shutil.rmtree(p, ignore_errors=True)


def run_once(a, limit_s):
    sp = spec()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r} (have {', '.join(WORKLOADS)})")
    started = time.monotonic()
    try:
        built = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    if built:
        limit_s = FIRST_RUN_LIMIT_S
    tidy_inputs(a.workload, a.seed)
    shutil.rmtree(WORK / "run", ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    (WORK / "logs").mkdir(parents=True, exist_ok=True)
    result = WORK / "result.json"
    result.unlink(missing_ok=True)
    # The first run after a build writes the class-data-sharing archive
    # as it exits; later runs map it, which cuts JVM start-up and the
    # class loading of the first queries (set-up and warm-up, not the
    # timed operations).
    archive = build.ARCHIVE
    share = (f"-XX:SharedArchiveFile={archive}" if archive.is_file()
             else f"-XX:ArchiveClassesAtExit={archive}")
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", share,
            f"-Djava.io.tmpdir={WORK / 'tmp'}"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores()), "--work", str(WORK),
              "--result", str(result)])
    log = WORK / "logs" / f"{a.workload}-s{a.seed}-t{a.trace}.log"
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT)

        def stop(signum, _frame):
            p.kill()
            p.wait()
            fail(f"stopped by signal {signum}")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            p.wait(timeout=max(1.0, limit_s - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded {limit_s} s (log: {log})")
    if p.returncode != 0 and share.startswith("-XX:Archive"):
        archive.unlink(missing_ok=True)
    if p.returncode != 0 or not result.is_file():
        tail = log.read_text(errors="replace")[-4000:]
        fail(f"benchmark process failed ({p.returncode}):\n{tail}")
    r = json.loads(result.read_text())
    wanted = sp["per_layer"] if a.trace else sp["end_to_end"]
    src = r["per_layer"] if a.trace else r["end_to_end"]
    metrics = {}
    for m in wanted:
        v = src.get(m["name"])
        if v is None:
            fail(f"metric {m['name']} missing from the run")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    detail = dict(r["detail"], **{k: v for k, v in r["end_to_end"].items()
                                   if k not in metrics})
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "trace": a.trace, "detail": detail,
                      "samples": r["samples"]}))
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


def run_all(a):
    """Every workload once, in turn, each in its own process."""
    out = {}
    for w in WORKLOADS:
        r = subprocess.run([sys.executable, str(HERE / "run.py"),
                            "--workload", w, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace)],
                           cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if r.returncode != 0:
            fail(f"workload {w} failed")
        lines = r.stdout.strip().splitlines()
        print(lines[-2])
        out[w] = json.loads(lines[-1])
    print(json.dumps(out))


def steadiness(a):
    sp = spec()
    wls = a.workloads.split(",") if a.workloads else [w["name"] for w in sp["workloads"]]
    seconds = a.seconds or sp["run_seconds"]
    bounds = {m["name"]: m for m in sp["end_to_end"]}
    values = {}  # (set, workload) -> [metrics]
    sets = (1, 2)
    for s in sets:
        for w in wls:
            for i in range(a.runs):
                seed = (s - 1) * a.runs + i + 1
                r = subprocess.run([sys.executable, str(HERE / "run.py"),
                                    "--workload", w, "--seed", str(seed),
                                    "--seconds", str(seconds), "--trace", "0"],
                                   cwd=ROOT, stdout=subprocess.PIPE, text=True)
                if r.returncode != 0:
                    fail(f"run {w} seed {seed} failed")
                line = json.loads(r.stdout.strip().splitlines()[-1])
                if not line["correct"] or line["failed"]:
                    fail(f"run {w} seed {seed} reported a failure: {line}")
                values.setdefault((s, w), []).append(
                    {k: v["value"] for k, v in line["metrics"].items()})
                print(f"set {s} {w} seed {seed}: {json.dumps(values[(s, w)][-1])}",
                      file=sys.stderr, flush=True)
    report, ok = [], True
    for w in wls:
        for name, m in bounds.items():
            row = {"workload": w, "metric": name, "bound": m["bound"]}
            meds = []
            for s in sets:
                xs = [v[name] for v in values[(s, w)]]
                q = statistics.quantiles(xs, n=4)
                med = statistics.median(xs)
                meds.append(med)
                row[f"set{s}_median"] = med
                row[f"set{s}_spread"] = (q[2] - q[0]) / med
            row["apart_by"] = abs(meds[1] - meds[0]) / meds[0]
            row["ok"] = row["apart_by"] <= m["bound"] and all(
                row[f"set{s}_spread"] <= m["bound"] for s in sets)
            ok = ok and row["ok"]
            report.append(row)
    (WORK / "steadiness.json").write_text(json.dumps(
        {"values": {f"{s}/{w}": v for (s, w), v in values.items()},
         "report": report}, indent=1))
    for row in report:
        print(json.dumps(row))
    print(json.dumps({"steady": ok}))
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steadiness", action="store_true")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads")
    a = ap.parse_args()
    if a.steadiness:
        steadiness(a)
    elif not a.workload:
        fail("--workload is required")
    elif a.workload == "all":
        run_all(a)
    else:
        if a.seconds is None:
            a.seconds = spec()["run_seconds"]
        run_once(a, RUN_LIMIT_S)


if __name__ == "__main__":
    main()
