#!/usr/bin/env python3
"""Load-path benchmark: builds the engine and the benchmark from source, runs
one workload for a fixed time and prints its record as the last stdout line.

    python3 perfbench/run.py --workload cog_http --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run in a checkout compiles (about a
minute); later runs reuse the build while no source file changes. Generated
data, build stamps, logs, records and traces go under `.perfbench/`. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import re
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("cog_http", "mosaic_warp_export", "timeseries_aoi")
RECORD_KEYS = ("correct", "attempted", "failed", "metrics")
ARCHIVE = os.path.join(WORK, "build", "classes.jsa")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

_PREFIX = re.compile(r"^\[(info|success|warn|error)\]\s?")


def parse_record(text):
    """The last benchmark record in `text`, or None.

    A record is one JSON object holding every key of RECORD_KEYS on a line of
    its own. The line may carry sbt's `[info] ` prefix, and any lines after it
    (sbt's `[success] Total time ...`) are ignored.
    """
    for line in reversed(text.splitlines()):
        s = _PREFIX.sub("", line.strip(), count=1)
        if not s.startswith("{"):
            continue
        try:
            obj = json.loads(s)
        except ValueError:
            continue
        if isinstance(obj, dict) and all(k in obj for k in RECORD_KEYS):
            return obj
    return None


def _sources():
    """Every file the build reads, relative to the root."""
    out = []
    for top in ("src/main", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    out += [p for p in ("build.sbt", "project/build.properties",
                        "perfbench/build.sbt", "perfbench/project/build.properties")
            if os.path.isfile(os.path.join(ROOT, p))]
    return sorted(out)


def fingerprint():
    h = hashlib.sha256()
    for rel in _sources():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _run(cmd, cwd, timeout, **kw):
    """Runs `cmd` in its own process group and waits for all of it."""
    p = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)  # stray children, if any
        except ProcessLookupError:
            pass
    return p.returncode, out


def classpath():
    """Builds the engine and the benchmark when a source changed; returns the
    runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("perfbench: no engine sources next to perfbench/ "
                         "(run from the repository root)")
    stamp = os.path.join(WORK, "build", "stamp.json")
    fp = fingerprint()
    try:
        with open(stamp) as f:
            s = json.load(f)
        if s["fingerprint"] == fp and all(os.path.exists(p) for p in s["classpath"]):
            return s["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    log = os.path.join(WORK, "build", "sbt.log")
    with open(log, "wb") as lf:
        # jars, not class directories: the JVM's class-data archive needs them
        rc, out = _run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspathAsJars"],
                       HERE, BUILD_TIMEOUT_S, stdout=subprocess.PIPE, stderr=lf)
        lf.write(out)
    lines = out.decode(errors="replace").splitlines()
    cp = [l for l in lines if not l.startswith("[") and os.pathsep in l and ".jar" in l]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        raise SystemExit(f"perfbench: build failed (exit {rc}); see {log}")
    entries = cp[-1].strip().split(os.pathsep)
    tmp = stamp + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": entries}, f)
    os.replace(tmp, stamp)
    return entries


def run_jvm(workload, seed, seconds, trace, extra=(), timeout=RUN_TIMEOUT_S):
    """Runs the benchmark JVM; returns (record or None, stdout text)."""
    cp = classpath()
    tag = f"{workload}-s{seed}-t{trace}"
    record = os.path.join(WORK, "records", tag + ".json")
    tmpdir = os.path.join(WORK, "tmp", "java")
    os.makedirs(tmpdir, exist_ok=True)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    if os.path.exists(record):
        os.remove(record)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # The first run after a build dumps the loaded classes into a class-data
    # archive; later runs map it, which halves the cold Spark start. A missing
    # or unusable archive only costs that time.
    dumping = not os.path.exists(ARCHIVE)
    cds = (f"-XX:ArchiveClassesAtExit={ARCHIVE}.tmp" if dumping
           else f"-XX:SharedArchiveFile={ARCHIVE}")
    # fixed heap size: no resizing during the timed loop
    cmd = (["java", "-Xms2g", "-Xmx2g", cds, "-Xlog:disable", "-Xlog:all=warning:stderr",
            f"-Djava.io.tmpdir={tmpdir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + opens + ["-cp", os.pathsep.join(cp), "perfbench.Main",
                      "--workload", workload, "--seed", str(seed),
                      "--seconds", str(seconds), "--trace", str(trace),
                      "--work", WORK, "--record", record] + list(extra))
    with open(os.path.join(WORK, "logs", tag + ".log"), "wb") as log:
        rc, out = _run(cmd, ROOT, timeout, stdout=subprocess.PIPE, stderr=log)
    if dumping and rc == 0 and os.path.exists(ARCHIVE + ".tmp"):
        os.replace(ARCHIVE + ".tmp", ARCHIVE)
    text = out.decode(errors="replace")
    rec = parse_record(text)
    if rec is None and rc == 0 and os.path.exists(record):
        with open(record) as f:
            rec = parse_record(f.read())
    if rc != 0:
        rec = None
    return rec, text


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return ({m["name"]: m["unit"] for m in b["end_to_end"]},
            {m["name"]: m["unit"] for m in b["per_layer"]})


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    e2e, layers = declared()
    want = layers if a.trace else e2e
    rec, text = run_jvm(a.workload, a.seed, a.seconds, a.trace)
    if rec is None:
        sys.stderr.write(text[-4000:])
        sys.stderr.write(f"perfbench: no record; see {WORK}/logs\n")
        return 1
    got = {k: v["unit"] for k, v in rec["metrics"].items()}
    if got != want:
        sys.stderr.write(f"perfbench: metrics {sorted(got)} differ from "
                         f"BENCHMARK.json {sorted(want)}\n")
        return 1
    for line in text.splitlines():
        if parse_record(line) is None:
            print(line)
    print(json.dumps({k: rec[k] for k in RECORD_KEYS}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
