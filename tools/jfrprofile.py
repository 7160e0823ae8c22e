#!/usr/bin/env python3
"""Run one perfbench workload under Java Flight Recorder and summarise it.

    python3 tools/jfrprofile.py CHECKOUT --workload NAME [--seed N]
        [--seconds S] [--trace 0|1] [--keep FILE.jfr] [--top K]

The run is an ordinary `perfbench/run.py` run of CHECKOUT: the script
loads that checkout's perfbench/run.py, lets it reuse (or rebuild) its
.bench_build/launch.txt, and starts the harness JVM with perfbench's own
flags (3 GB heap, run directory, java.io.tmpdir). The only addition is
`-XX:StartFlightRecording` with the `profile` settings, passed through
JAVA_TOOL_OPTIONS to the harness JVM alone. Nothing under perfbench/ is
changed.

It then prints, from the recording (`jfr print --json`):

  - process starts (jdk.ProcessStart) by program and call site: the
    innermost frame outside the JDK and Hadoop's Shell/filesystem
    classes, plus the innermost graft./perfbench. frame when there is one;
  - CPU samples (jdk.ExecutionSample) by thread group: the thread name
    without any bracketed suffix (stream query ids), every digit run
    replaced by '#';
  - time the `main` thread spent parked (jdk.ThreadPark, >= 10 ms each
    under the profile settings) by its innermost graft./perfbench. frame.

A first line gives the run's operation counts, failed operations and
failed output checks, so a profile of a broken run does not pass unseen.
"""
import argparse
import collections
import importlib.util
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

OWN = ("graft.", "perfbench.")
# Spark's driver stacks run deeper than JFR's default 64 frames
DEPTH = 256
# frames that only carry a process start or a filesystem call towards it
PLUMBING = ("java.", "jdk.", "sun.", "scala.", "org.apache.hadoop.util.Shell",
            "org.apache.hadoop.fs.", "org.apache.hadoop.io.nativeio.")


def load_run_module(checkout):
    path = os.path.join(checkout, "perfbench", "run.py")
    spec = importlib.util.spec_from_file_location("perfbench_run", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def events(jfr_file, types, depth):
    """Events of the given types, parsed from `jfr print --json`."""
    jfr = shutil.which("jfr") or os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "jfr")
    out = subprocess.run([jfr, "print", "--json", "--stack-depth", str(depth),
                          "--events", ",".join(types), jfr_file],
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out)["recording"]["events"]


def frames(ev):
    st = ev["values"].get("stackTrace") or {}
    # types print as internal names (java/lang/Thread); lambda frames
    # carry no call site of their own, so they are left out
    return [f"{f['method']['type']['name'].replace('/', '.')}.{f['method']['name']}"
            for f in st.get("frames") or [] if "$$Lambda" not in f["method"]["type"]["name"]]


def first(fs, keep):
    return next((f for f in fs if keep(f)), "-")


def seconds(d):
    """A JFR duration as printed by `jfr print --json` (ISO-8601 or ns)."""
    if isinstance(d, (int, float)):
        return d / 1e9
    m = re.fullmatch(r"PT(?:(\d+)H)?(?:(\d+)M)?(?:([\d.]+)S)?", d or "")
    if not m:
        return 0.0
    h, mi, s = m.groups()
    return int(h or 0) * 3600 + int(mi or 0) * 60 + float(s or 0)


def thread_name(ev, key):
    t = ev["values"].get(key) or {}
    return t.get("javaName") or t.get("osName") or "?"


def table(title, rows, top):
    print(f"\n{title}")
    for cells in rows[:top]:
        print("  " + "  ".join(cells))
    if len(rows) > top:
        print(f"  ... {len(rows) - top} more rows")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", help="copy the recording to this path")
    ap.add_argument("--top", type=int, default=25)
    args = ap.parse_args()

    checkout = os.path.abspath(args.checkout)
    run = load_run_module(checkout)
    launch = run.build()
    with tempfile.TemporaryDirectory(prefix="jfrprofile-") as tmp:
        jfr_file = os.path.join(tmp, "run.jfr")
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-XX:FlightRecorderOptions=stackdepth={DEPTH} "
            f"-XX:StartFlightRecording=settings=profile,filename={jfr_file}")
        res = run.run_once(args.workload, args.seed, args.seconds or run.BENCH["run_seconds"],
                           args.trace, launch)
        del os.environ["JAVA_TOOL_OPTIONS"]
        if res is None or not os.path.isfile(jfr_file):
            sys.exit("the run failed or left no recording; see the checkout's .bench_build/logs/")
        if args.keep:
            shutil.copyfile(jfr_file, args.keep)
        ops = collections.Counter(o["name"] for o in res["ops"])
        failed = sum(1 for o in res["ops"] if not o["ok"])
        print(f"{args.workload} seed {args.seed}: setup runs {len(res['setup_s'])}, "
              f"ops {dict(ops)}, failed ops {failed}, failed checks {len(res['failures'])}")

        starts = events(jfr_file, ["jdk.ProcessStart"], DEPTH)
        by_site = collections.Counter()
        for ev in starts:
            fs = frames(ev)
            program = os.path.basename((ev["values"].get("command") or "?").split()[0])
            by_site[(program, first(fs, lambda f: not f.startswith(PLUMBING)),
                     first(fs, lambda f: f.startswith(OWN)))] += 1
        table(f"process starts: {len(starts)} (count, program, call site, graft/perfbench frame)",
              [(f"{n:6d}", *k) for k, n in by_site.most_common()], args.top)

        samples = events(jfr_file, ["jdk.ExecutionSample"], 1)
        by_group = collections.Counter(
            re.sub(r"\d+", "#", re.sub(r"\s*\[.*\]", "", thread_name(ev, "sampledThread")))
            for ev in samples)
        table(f"CPU samples: {len(samples)} (count, share, thread group)",
              [(f"{n:6d}", f"{n / len(samples):6.1%}", g) for g, n in by_group.most_common()],
              args.top)

        parked = collections.Counter()
        for ev in events(jfr_file, ["jdk.ThreadPark"], DEPTH):
            if thread_name(ev, "eventThread") == "main":
                parked[first(frames(ev), lambda f: f.startswith(OWN))] += seconds(
                    ev["values"].get("duration"))
        table(f"main thread parked: {sum(parked.values()):.2f} s (seconds, innermost "
              "graft/perfbench frame)",
              [(f"{s:7.2f}", site) for site, s in parked.most_common()], args.top)


if __name__ == "__main__":
    main()
