#!/usr/bin/env python3
"""graft benchmark: paper-pipeline refresh cycles, warm headline queries
and cold corpus dedup, each in its own JVM at local[<cores>].

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py [--seed N] [--seconds S]   # every workload, untraced then traced

Run from the root of a checkout. The first run builds the program and
the harness with sbt (offline) into .bench_build/; later runs reuse the
build while the sources are unchanged. Each run works in its own
directory under .bench_build/runs/ (Spark warehouse, local dir,
java.io.tmpdir, fixtures) and removes it when done. The last line of
standard output is one JSON object: the end-to-end metrics untraced,
the per-layer metrics traced. See perfbench/NOTES.md.
"""
import argparse
import hashlib
import json
import math
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
WORKLOADS = [w["name"] for w in BENCH["workloads"]]
END_TO_END = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
RUN_TIMEOUT_S = 170
HEAP = "3g"
FIXTURES = os.environ.get("GRAFT_FIXTURES", os.path.expanduser("~/testdata"))


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build (paths, sizes, mtimes)."""
    h = hashlib.sha256()
    inputs = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
              "perfbench/project/build.properties", "perfbench/src"]
    for rel in inputs:
        top = os.path.join(ROOT, rel)
        if os.path.isfile(top):
            files = [top]
        else:
            files = [os.path.join(d, f) for d, _, fs in os.walk(top)
                     if "target" not in os.path.relpath(d, ROOT).split(os.sep) for f in fs]
        for f in sorted(files):
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile program + harness once per source state; return (classpath, jvm options)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no program sources under {ROOT} (build.sbt, src/main/scala)")
        sys.exit(2)
    os.makedirs(BUILD, exist_ok=True)
    launch = os.path.join(BUILD, "launch.txt")
    stamp_file = os.path.join(BUILD, "launch.stamp")
    stamp = source_stamp()
    if not (os.path.isfile(launch) and os.path.isfile(stamp_file)
            and open(stamp_file).read() == stamp):
        log("building program and harness with sbt")
        env = dict(os.environ, COURSIER_MODE="offline")
        cmd = ["sbt", "--batch", "-J-XX:-UsePerfData", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
               "-Dsbt.server.autostart=false",
               f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
               f"-Dperfbench.launch={launch}", "writeLaunch"]
        with open(os.path.join(BUILD, "build.log"), "w") as out:
            rc = run_child(cmd, HERE, out, env, 850)
        if rc != 0:
            log(f"build failed (exit {rc}); see {os.path.join(BUILD, 'build.log')}")
            sys.exit(3)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    lines = open(launch).read().splitlines()
    return lines[0], [o for o in lines[1:] if o and not o.startswith("-Xmx")]


def run_child(cmd, cwd, out, env, timeout):
    """Run cmd in its own process group; kill the group on timeout; always wait."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                         env=env, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        log(f"timed out after {timeout} s: {' '.join(cmd[:3])} ...")
        return -9
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def cpu_busy_jiffies():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v) - v[3] - (v[4] if len(v) > 4 else 0)


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def run_once(workload, seed, seconds, trace, launch):
    """One JVM run of one workload; returns the harness result plus run facts."""
    cp, jvm_opts = launch
    run_dir = os.path.join(BUILD, "runs", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "warehouse", "fixtures"):
        os.makedirs(os.path.join(run_dir, d))
    for d in ("logs", "traces"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    tag = f"{workload}-seed{seed}-trace{trace}"
    result_file = os.path.join(run_dir, "result.json")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
           + jvm_opts + ["-cp", cp, "perfbench.Main",
                         "--workload", workload, "--seed", str(seed),
                         "--seconds", str(seconds), "--trace", str(trace),
                         "--run-dir", run_dir, "--out", result_file,
                         "--spans", os.path.join(BUILD, "traces", f"{tag}.json"),
                         "--expected", os.path.join(HERE, "expected.tsv"),
                         "--fixtures", FIXTURES])
    load0, busy0, own0 = loadavg(), cpu_busy_jiffies(), resource.getrusage(resource.RUSAGE_CHILDREN)
    t0 = time.time()
    with open(os.path.join(BUILD, "logs", f"{tag}.log"), "w") as out:
        rc = run_child(cmd, ROOT, out, os.environ.copy(), RUN_TIMEOUT_S)
    wall = time.time() - t0
    own1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    hz = os.sysconf("SC_CLK_TCK")
    own = (own1.ru_utime + own1.ru_stime - own0.ru_utime - own0.ru_stime) * hz
    foreign = max(0.0, (cpu_busy_jiffies() - busy0 - own) / (wall * hz * os.cpu_count()))
    tmp = os.path.join(run_dir, "tmp")
    tmp_left = len([e for e in os.listdir(tmp) if e.startswith("graft-")]) if os.path.isdir(tmp) else 0
    res = json.load(open(result_file)) if rc == 0 and os.path.isfile(result_file) else None
    shutil.rmtree(run_dir, ignore_errors=True)
    if res is None:
        log(f"{tag}: harness exited {rc}; see .bench_build/logs/{tag}.log")
        return None
    res.update(tmp_dirs_left=tmp_left, loadavg=[load0, loadavg()],
               foreign_cpu_frac=foreign, wall_s=wall, trace=trace,
               spans_file=os.path.join(BUILD, "traces", f"{tag}.json"))
    return res


def summarize(res):
    """End-to-end metrics of one run, with sample counts."""
    ops = res["ops"]
    passes = {}
    for o in ops:
        passes[o["pass"]] = passes.get(o["pass"], 0.0) + o["seconds"]
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o["seconds"])
    medians = [statistics.median(v) for v in by_name.values()]
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    pass_s = (statistics.median(passes.values()) if passes else float("nan"), len(passes))
    geomean = (math.exp(sum(math.log(m) for m in medians) / len(medians))
               if medians else float("nan"), len(ops))
    # also reported under their per-workload names: a refresh cycle is
    # the pipeline's pass, and op_geomean_s over queries is query_geomean_s
    alias = ({"cycle_p50_s": pass_s} if res["workload"] == "pipeline_refresh"
             else {"query_geomean_s": geomean})
    return {
        "setup_s": (statistics.median(res["setup_s"]), len(res["setup_s"])),
        "pass_s": pass_s,
        "op_geomean_s": geomean,
        **alias,
        "peak_rss_mb": (res["peak_rss_mb"], 1),
        "error_rate": (failed / attempted if attempted else 1.0, attempted),
        "storage_mb_left": (res["storage_mb_left"], attempted),
        "tmp_dirs_left": (res["tmp_dirs_left"], 1),
    }, attempted, failed


UNITS = {"setup_s": "s", "pass_s": "s", "op_geomean_s": "s", "cycle_p50_s": "s",
         "query_geomean_s": "s", "peak_rss_mb": "MB",
         "error_rate": "ratio", "storage_mb_left": "MB", "tmp_dirs_left": "count"}


def self_times(spans_file):
    """Self seconds per span name, summed over the run."""
    try:
        spans = json.load(open(spans_file))["spans"]
    except (OSError, ValueError):
        return {}
    out = {}
    for s in spans:
        name = "op" if s["name"].startswith("op:") else s["name"]
        out[name] = out.get(name, 0.0) + s["self_s"]
    return out


def report(res, summary, attempted, failed):
    w = res["workload"]
    print(f"== {w} seed={res['seed']} trace={res['trace']} cpus={res['cpus']} "
          f"wall={res['wall_s']:.1f}s loadavg={res['loadavg'][0]:.2f}->{res['loadavg'][1]:.2f} "
          f"foreign_cpu={res['foreign_cpu_frac']:.3f}")
    for k, (v, n) in summary.items():
        print(f"   {k:18s} {v:12.4f} {UNITS[k]:6s} n={n}")
    by_name = {}
    for o in res["ops"]:
        by_name.setdefault(o["name"], []).append(o["seconds"])
    print("   op medians: " + " ".join(f"{k}={statistics.median(v):.3f}" for k, v in by_name.items()))
    print("   samples: " + " ".join(f"{o['name']}#{o['pass']}={o['seconds']:.3f}" for o in res["ops"]))
    for k, v in res["info"].items():
        print(f"   info {k}: {v}")
    for f in res["failures"]:
        print(f"   FAIL {f}")
    if res["trace"]:
        for k, v in res["layers"].items():
            print(f"   layer {k:28s} {v:14.4f}")
        for k, v in sorted(self_times(res["spans_file"]).items(), key=lambda kv: -kv[1]):
            print(f"   self  {k:28s} {v:10.3f} s")
    verdict = "correct" if failed == 0 and not res["failures"] and attempted > 0 else "INCORRECT"
    print(f"   verdict: {verdict} ({attempted} attempted, {failed} failed)")


def result_line(res, summary, attempted, failed, trace):
    if trace:
        metrics = {k: {"value": res["layers"].get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": summary[k][0], "unit": u} for k, u in END_TO_END.items()}
    return json.dumps({"correct": failed == 0 and not res["failures"] and attempted > 0,
                       "attempted": attempted, "failed": failed, "metrics": metrics})


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=BENCH["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1])
    args = ap.parse_args()
    print(f"perfbench seed={args.seed} seconds={args.seconds}", flush=True)
    launch = build()
    if args.workload:
        trace = args.trace or 0
        res = run_once(args.workload, args.seed, args.seconds, trace, launch)
        if res is None:
            sys.exit(1)
        summary, attempted, failed = summarize(res)
        report(res, summary, attempted, failed)
        print(result_line(res, summary, attempted, failed, trace))
        return
    # one command for everything: each workload untraced, then traced
    all_ok, total_attempted, total_failed = True, 0, 0
    for w in WORKLOADS:
        plain = run_once(w, args.seed, args.seconds, 0, launch)
        traced = run_once(w, args.seed, args.seconds, 1, launch)
        for res in (plain, traced):
            if res is None:
                all_ok = False
                continue
            summary, attempted, failed = summarize(res)
            report(res, summary, attempted, failed)
            total_attempted += attempted
            total_failed += failed
            all_ok &= failed == 0 and not res["failures"]
        if plain and traced:
            a, b = summarize(plain)[0]["pass_s"][0], summarize(traced)[0]["pass_s"][0]
            print(f"   tracing overhead on {w}: pass_s {a:.3f} s untraced, {b:.3f} s traced "
                  f"({100 * (b / a - 1):+.1f} %)")
    print(json.dumps({"correct": all_ok, "attempted": total_attempted, "failed": total_failed}))


if __name__ == "__main__":
    main()
