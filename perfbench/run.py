#!/usr/bin/env python3
"""Pipeline benchmark: builds the program and the benchmark from source,
runs one workload in a fresh JVM and prints one JSON result line.

Run from the repository root:

  python3 perfbench/run.py --workload sync_delta --seed 1 --seconds 10 --trace 0
      one run; the last stdout line is
      {"correct", "attempted", "failed", "metrics"}
  python3 perfbench/run.py --report [--seed N] [--seconds S]
      every workload once untraced and once traced; prints every
      end-to-end metric by name and unit, plus the failure counts
  python3 perfbench/run.py --smoke
      tiny fixtures, each op once, every gate; asserts every metric is
      emitted with its unit
  python3 perfbench/run.py --spread N [--sets K] [--workload W] [--seconds S]
      K sets of N seeds per workload; prints each end-to-end metric's
      quartile spread per set and, with K >= 2, how far each set's
      median moved from the first set's, both against the metric's bound

Everything the benchmark writes stays under .bench_build/ in the
checkout: the compiled classes, each run's scratch (removed when the run
ends) and each run's full report under .bench_build/results/.
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
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "target" / "scala-2.13" / "classes"
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text()) if (ROOT / "BENCHMARK.json").is_file() else None
WORKLOADS = ["sync_delta", "stream_counts", "query_mix"]
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# A fixed-size heap keeps peak RSS comparable between runs: a heap that
# grows on demand peaked anywhere from 1.4 to 2.7 GB on identical work.
JVM_HEAP = ["-Xms3g", "-Xmx3g"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# Names the report file must carry beyond the result line: each
# workload's own names for its end-to-end numbers and per-phase counters.
REPORT_METRICS = {
    "sync_delta": {
        "workload_metrics": ["sync_cycle_s", "sync.partition_sync_s", "sync.reconcile_s",
                             "sync.verify_s", "ops_failed_frac"],
        "layer_all": ["phase.sync.partition_sync.sources.input_rows",
                      "phase.sync.reconcile.sources.input_bytes",
                      "phase.sync.verify.scheduler.jobs"],
    },
    "stream_counts": {
        "workload_metrics": ["stream_drain_s", "stream_batch_ms", "ops_failed_frac"],
        "layer_all": ["phase.streaming.drain.scheduler.tasks"],
    },
    "query_mix": {
        "workload_metrics": ["query_pass_s", "query_geomean_s", "ops_failed_frac"],
        "layer_all": ["phase.query.x_lang_id.scheduler.tasks"],
    },
}
# Job time by submitting module, printed by --report as a share of op time.
MODULES = ["sinks", "ops", "sync", "streaming", "ext", "sources", "functions", "plans", "graft", "bench"]


class BenchError(Exception):
    pass


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BenchError("Spark not found: set SPARK_HOME")
        home = str(Path(os.path.realpath(submit)).parent.parent)
    return home


def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    files = sorted(p for d in (ROOT / "src" / "main", HERE / "src") for p in d.rglob("*") if p.is_file())
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    if not (ROOT / "src" / "main" / "scala").is_dir() or not (ROOT / "build.sbt").is_file():
        raise BenchError(f"program sources not found under {ROOT}: run from a full checkout")
    stamp = source_stamp()
    stamp_file = BUILD / "stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp and (CLASSES / "perfbench" / "Main.class").is_file():
        return stamp
    BUILD.mkdir(exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log = BUILD / "build.log"
    with open(log, "w") as out:
        proc = subprocess.Popen(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE, env=env,
                                stdout=out, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            stop(proc)
            raise BenchError("build timed out")
    if code != 0:
        raise BenchError(f"build failed, see {log}:\n" + "".join(log.read_text().splitlines(True)[-20:]))
    stamp_file.write_text(stamp)
    return stamp


def stop(proc):
    """Kill a child's whole process group and wait for it to end."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def metric_units(trace):
    if SPEC is None:
        raise BenchError("BENCHMARK.json not found at the repository root")
    return {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}


def run_once(workload, seed, seconds, trace, smoke=False):
    """Run one workload in a fresh JVM; returns (result line, report)."""
    stamp = build()
    trace = int(trace)
    results = BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    run_dir = BUILD / "runs" / f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    tag = "smoke" if smoke else f"seed{seed}"
    report = results / f"{workload}-{tag}-trace{trace}.json"
    report.unlink(missing_ok=True)
    cmd = ["java", *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")], *JVM_HEAP,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dspark.local.dir={run_dir / 'spark-local'}",
           f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
           "-cp", f"{CLASSES}{os.pathsep}{spark_home()}/jars/*", "perfbench.Main",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--scratch", str(run_dir),
           "--data", str(HERE / "data" / "sf0.01"), "--pins", str(HERE / "pins.tsv"),
           "--report", str(report), "--commit", git_commit() or f"source-sha256:{stamp[:16]}"]
    if smoke:
        cmd.append("--smoke")
    timeout = RUN_TIMEOUT_S
    log = results / f"{workload}-{tag}-trace{trace}.log"
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=err, text=True,
                                    start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=timeout)
            except subprocess.TimeoutExpired:
                stop(proc)
                raise BenchError(f"{workload}: run exceeded {timeout:.0f} s, see {log}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if proc.returncode != 0:
        raise BenchError(f"{workload}: JVM exited {proc.returncode}, see {log}")
    line = None
    for text in reversed(out.strip().splitlines()):
        try:
            cand = json.loads(text)
        except ValueError:
            continue
        if isinstance(cand, dict) and set(cand) == {"correct", "attempted", "failed", "metrics"}:
            line = cand
            break
    if line is None:
        raise BenchError(f"{workload}: no result line, see {log}")
    want = metric_units(trace)
    got = {k: v["unit"] for k, v in line["metrics"].items()}
    if got != want:
        raise BenchError(f"{workload}: metrics {sorted(set(got.items()) ^ set(want.items()))} "
                         "differ from BENCHMARK.json")
    return line, json.loads(report.read_text())


def smoke():
    """Each workload's op once on tiny fixtures, traced and untraced."""
    problems = []
    for w in WORKLOADS:
        for trace in (False, True):
            line, report = run_once(w, 1, 1, trace, smoke=True)
            if not line["correct"] or line["failed"] or line["attempted"] < 1:
                problems.append(f"{w} trace={int(trace)}: gate failed: {report['failures']}")
            section = "layer_all" if trace else "workload_metrics"
            missing = [m for m in REPORT_METRICS[w][section] if m not in report[section]]
            if missing:
                problems.append(f"{w} trace={int(trace)}: report lacks {missing}")
            print(f"smoke {w} trace={int(trace)}: attempted={line['attempted']} failed={line['failed']} "
                  f"metrics={len(line['metrics'])}", flush=True)
    for p in problems:
        print("SMOKE FAIL:", p)
    print("smoke:", "FAIL" if problems else "ok")
    return 1 if problems else 0


def report_all(seed, seconds):
    """Every end-to-end metric of every workload, with units and failures."""
    for w in WORKLOADS:
        line, report = run_once(w, seed, seconds, False)
        traced, traced_report = run_once(w, seed, seconds, True)
        print(f"== {w} (seed {seed}): attempted={line['attempted']} failed={line['failed']} "
              f"correct={line['correct']}")
        for k, v in line["metrics"].items():
            print(f"  {k:<28} {v['value']:>14.4f} {v['unit']}")
        for k, v in sorted(report["workload_metrics"].items()):
            print(f"  {k:<28} {v:>14.4f}")
        tm = traced["metrics"]
        op_s = statistics.mean(o["wall_s"] for o in traced_report["ops"] if o["traced"])
        shares = {m: tm[f"{m}.job_s"]["value"] / op_s for m in MODULES}
        shares["outside jobs"] = tm["scheduler.outside_jobs_s"]["value"] / op_s
        print(f"  share of traced op ({op_s:.3f} s): " +
              ", ".join(f"{k} {v:.2f}" for k, v in shares.items() if v > 0))
        print(f"  per-layer (traced run): .bench_build/results/{w}-seed{seed}-trace1.json "
              f"({len(tm)} metrics, failed={traced['failed']})")


def spread(workloads, runs, sets, seconds, first_seed):
    """Quartile spread of each end-to-end metric over `runs` seeds, in
    `sets` sets of the same seeds, and the drift of each set's median
    from the first set's. Raw values go to .bench_build/results/.
    """
    bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
    ok = True
    for w in workloads:
        medians = []
        raw = []
        for k_set in range(sets):
            values = {k: [] for k in bounds}
            fails = 0
            for s in range(first_seed, first_seed + runs):
                t0 = time.monotonic()
                line, _ = run_once(w, s, seconds, False)
                fails += line["failed"]
                for k in bounds:
                    values[k].append(line["metrics"][k]["value"])
                print(f"{w} set={k_set + 1} seed={s} wall={time.monotonic() - t0:.1f}s " +
                      " ".join(f"{k}={line['metrics'][k]['value']:.4f}" for k in bounds), flush=True)
            raw.append(values)
            meds = {}
            for k, vals in values.items():
                q1, med, q3 = statistics.quantiles(vals, n=4)
                frac = (q3 - q1) / med
                meds[k] = med
                flag = "ok" if frac < bounds[k] / 3 else "WIDE"
                ok &= flag == "ok"
                print(f"{w:<14} set={k_set + 1} {k:<16} median={med:.4f} iqr/median={frac:.4f} "
                      f"bound={bounds[k]} {flag}")
            print(f"{w:<14} set={k_set + 1} failed ops: {fails}")
            ok &= fails == 0
            medians.append(meds)
        for k_set in range(1, sets):
            for k in bounds:
                drift = medians[k_set][k] / medians[0][k] - 1
                flag = "ok" if drift <= bounds[k] else "WORSE"
                ok &= flag == "ok"
                print(f"{w:<14} set={k_set + 1} vs set=1 {k:<16} {medians[0][k]:.4f} -> "
                      f"{medians[k_set][k]:.4f} ({drift:+.4f}) bound={bounds[k]} {flag}")
        (BUILD / "results" / f"spread-{w}.json").write_text(json.dumps(raw))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=SPEC["run_seconds"] if SPEC else 10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--report", action="store_true")
    ap.add_argument("--spread", type=int, metavar="N")
    ap.add_argument("--sets", type=int, default=1)
    a = ap.parse_args()
    start = time.monotonic()
    try:
        if a.smoke:
            return smoke()
        if a.report:
            return report_all(a.seed, a.seconds)
        if a.spread:
            graded = [w["name"] for w in SPEC["workloads"]]
            return spread([a.workload] if a.workload else graded, a.spread, a.sets, a.seconds, a.seed)
        if not a.workload:
            ap.error("--workload is required")
        line, _ = run_once(a.workload, a.seed, a.seconds, a.trace)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    print(f"perfbench: {a.workload} seed={a.seed} trace={a.trace} took {time.monotonic() - start:.1f} s",
          file=sys.stderr)
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
