#!/usr/bin/env python3
"""graft benchmark: build graft and the benchmark from source, run one
workload in one JVM, print one JSON result line.

    python3 perfbench/run.py --workload cdc_append --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selfcheck          # every workload, tiny inputs

Workloads: cdc_append, cdc_upsert, registry_sweep (see
perfbench/README.md). The last stdout line is
{"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones.

Needs a JDK 17 `java` on PATH and the Spark 4.1 jars (with the Scala
2.13 compiler) in $SPARK_HOME/jars, or in the directory build.sbt names
as `unmanagedBase`. Build output goes to $CARGO_TARGET_DIR (default
.bench_build), run files to .bench_work, both under the checkout root.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ["cdc_append", "cdc_upsert", "registry_sweep"]
QUERY_WORKLOADS = {"registry_sweep"}
# A seed kept out of every run made while tuning the benchmark; a claimed
# gain must also hold on it.
HELD_OUT_SEED = 7177
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory graft's build.sbt compiles
    against (`unmanagedBase := file("...")`)."""
    if "SPARK_HOME" in os.environ:
        jars_dir = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
        if not m:
            sys.exit("perfbench: set SPARK_HOME; build.sbt names no unmanagedBase")
        jars_dir = Path(m.group(1))
    jars = sorted(jars_dir.glob("*.jar"))
    if not jars:
        sys.exit(f"perfbench: no Spark jars in {jars_dir} (set SPARK_HOME)")
    return jars


def sources(base):
    return sorted(p for p in base.rglob("*.scala") if p.is_file())


def scalac(out, classpath, files):
    """Compile with the Scala compiler that ships in the Spark jars."""
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", classpath, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", classpath] + [str(f) for f in files]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-8000:])
        sys.exit(f"perfbench: compiling {len(files)} files into {out.name} failed")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)


def build():
    """graft's main sources, then the benchmark against them. Each is
    rebuilt only when its inputs (sources, the Spark jar set, and for the
    benchmark the graft build) change."""
    graft_src = ROOT / "src" / "main" / "scala"
    if not graft_src.is_dir():
        sys.exit(f"perfbench: graft sources not found under {graft_src}")
    jars = spark_jars()
    jar_cp = os.pathsep.join(str(j) for j in jars)
    out = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"
    out.mkdir(parents=True, exist_ok=True)
    graft_out, bench_out = out / "graft-classes", out / "bench-classes"

    def stamp(files, extra):
        digest = hashlib.sha256(extra.encode())
        for f in files:
            digest.update(str(f.relative_to(ROOT)).encode())
            digest.update(f.read_bytes())
        return digest.hexdigest()

    with open(out / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        graft_files = sources(graft_src)
        graft_stamp = stamp(graft_files, "\n".join(j.name for j in jars))
        bench_files = sources(HERE / "scala")
        steps = [(graft_out, jar_cp, graft_files, graft_stamp),
                 (bench_out, os.pathsep.join([str(graft_out), jar_cp]), bench_files,
                  stamp(bench_files, graft_stamp))]
        for target, cp, files, want in steps:
            stamp_file = target.with_name(target.name + ".stamp")
            if stamp_file.exists() and stamp_file.read_text() == want and target.is_dir():
                continue
            t0 = time.time()
            stamp_file.unlink(missing_ok=True)
            scalac(target, cp, files)
            stamp_file.write_text(want)
            log(f"built {target.name} ({len(files)} files) in {time.time() - t0:.1f} s")
    return os.pathsep.join([str(bench_out), str(graft_out), jar_cp])


def run_jvm(classpath, workload, seed, seconds, trace, tiny=False, corrupt=False, record=None):
    """One benchmark JVM; returns the parsed result object or None."""
    work_root = ROOT / ".bench_work"
    work = work_root / f"run-{os.getpid()}-{workload}-{time.time_ns()}"
    (work / "tmp").mkdir(parents=True)
    result = work / "result.json"
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dderby.system.home={work}", f"-Dderby.stream.error.file={work / 'derby.log'}"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", classpath, "graftbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", "1" if trace else "0",
              "--data", str(HERE / "data" / "sf0.001"), "--work", str(work),
              "--result", str(result), "--cores", str(len(os.sched_getaffinity(0))),
              "--expected", str(HERE / "expected.json")]
           + (["--tiny"] if tiny else []) + (["--corrupt"] if corrupt else [])
           + (["--record", str(record)] if record else []))
    log_file = work / "jvm.log"
    proc = None

    def stop(signum, _frame):
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    try:
        with open(log_file, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
            try:
                proc.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                log(f"{workload}: JVM killed after {JVM_TIMEOUT_S} s")
        text = log_file.read_text(errors="replace")
        for line in text.splitlines():
            if line.startswith("[perfbench]"):
                print(line, file=sys.stderr)
        if proc.returncode != 0 or not result.exists():
            sys.stderr.write(text[-6000:])
            log(f"{workload}: JVM exited with {proc.returncode}")
            return None
        if trace:
            keep = work_root / f"trace-{workload}"
            shutil.rmtree(keep, ignore_errors=True)
            keep.mkdir(parents=True)
            for name in ("spans.jsonl", "self_times.json"):
                if (work / name).exists():
                    shutil.copy(work / name, keep / name)
            log(f"spans and self times written to {keep.relative_to(ROOT)}")
        r = json.loads(result.read_text().strip().splitlines()[-1])
        if not r["correct"] and not corrupt:
            sys.stderr.write(text[-6000:])
        return r
    finally:
        shutil.rmtree(work, ignore_errors=True)


def declared():
    """End-to-end and per-layer (name, unit) lists from BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def selfcheck(classpath):
    """Every workload on tiny inputs: every declared metric prints with its
    unit, the outputs check out, and a corrupted expectation fails."""
    e2e, layers = declared()
    problems = []
    for wl in WORKLOADS:
        t0 = time.time()
        for trace, want in ((False, e2e), (True, layers)):
            r = run_jvm(classpath, wl, 1, 1, trace, tiny=True)
            if r is None:
                problems.append(f"{wl} trace={int(trace)}: no result")
                continue
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if got != want:
                problems.append(f"{wl} trace={int(trace)}: metrics/units differ: "
                                f"missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, "
                                f"units {[k for k in want if k in got and got[k] != want[k]]}")
            if not r["correct"] or r["failed"]:
                problems.append(f"{wl} trace={int(trace)}: correct={r['correct']} failed={r['failed']}")
        r = run_jvm(classpath, wl, 1, 1, False, tiny=True, corrupt=True)
        if r is None or r["correct"]:
            problems.append(f"{wl}: a corrupted expectation did not fail the check")
        log(f"selfcheck {wl}: {time.time() - t0:.1f} s")
    for p in problems:
        log(f"SELFCHECK FAIL: {p}")
    print(json.dumps({"selfcheck": "fail" if problems else "pass", "problems": len(problems)}))
    return 1 if problems else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="one op per query workload, small CDC batches")
    ap.add_argument("--selfcheck", action="store_true")
    ap.add_argument("--record", metavar="FILE",
                    help="query workloads: write row counts and content hashes to FILE")
    a = ap.parse_args()
    classpath = build()
    if a.selfcheck:
        return selfcheck(classpath)
    if not a.workload:
        ap.error("--workload is required")
    record = Path(a.record).resolve() if a.record else None
    if record and a.workload not in QUERY_WORKLOADS:
        ap.error("--record applies to the query workloads")
    print(f"# perfbench workload={a.workload} seed={a.seed} held_out_seed={HELD_OUT_SEED} "
          f"trace={a.trace} cores={len(os.sched_getaffinity(0))}", flush=True)
    r = run_jvm(classpath, a.workload, a.seed, a.seconds, bool(a.trace), tiny=a.tiny, record=record)
    if r is None:
        return 1
    print(json.dumps(r), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
