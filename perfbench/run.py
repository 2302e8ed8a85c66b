#!/usr/bin/env python3
"""The repository's benchmark: one command that builds the engine, runs one
workload in one warm Spark session, checks every output against DuckDB and
prints every metric by name and unit.

    python3 perfbench/run.py --workload olap_headline --seed 1 \\
        --seconds 20 --trace 0

Run it from the repository root. The last line of standard output is one
JSON object with the keys `correct`, `attempted`, `failed` and `metrics`;
with `--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones. Everything the run writes stays under perfbench/out/.
See perfbench/README.md for the workloads, the metrics and the trace.
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

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = BENCH / "out"
DATA = BENCH / "data" / "sf0.1"
HARNESS = BENCH / "harness"

WORKLOADS = ("crime_etl", "olap_headline", "llm_dedup")
CRIME_ROWS = 500_000
# a fixed 1 GB young generation: the heap (so the resident set) then
# follows live data rather than the collector's sizing decisions, which
# made the peak resident set vary by ±15% between identical runs
JVM_MEMORY = ["-Xmx4g", "-Xms2g", "-Xmn1g"]
# a run must end within 180 s; the first one in a checkout also builds
RUN_DEADLINE_S = 165
BUILD_TIMEOUT_S = 840

# what `spark-submit` passes to a JDK 17 driver
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def require_checkout():
    """The benchmark builds the engine from this checkout's sources."""
    needed = [ROOT / "build.sbt", ROOT / "src" / "main" / "scala" / "graft",
              ROOT / "tools" / "check_oracle.py", ROOT / "BENCH_ANCHOR.json",
              ROOT / "BENCHMARK.json", HARNESS / "build.sbt"]
    missing = [str(p.relative_to(ROOT)) for p in needed if not p.exists()]
    if missing:
        raise BenchError("not a full checkout, missing: " + ", ".join(missing))


def check_pin():
    """Refuse data that is not the pinned TESTDATA sf0.1: each file must
    have the size BENCH_ANCHOR.json pins and the content SHA256SUMS
    records. (The pin's mtimes cannot survive version control.)"""
    pin = json.loads((ROOT / "BENCH_ANCHOR.json").read_text())["testdata_pin"]
    sums = dict(reversed(line.split()) for line in
                (DATA / "SHA256SUMS").read_text().splitlines() if line)
    if set(sums) != set(pin):
        raise BenchError(f"SHA256SUMS lists {sorted(sums)}, the pin "
                         f"{sorted(pin)}")
    for name, want in pin.items():
        f = DATA / name
        if not f.is_file() or f.stat().st_size != want["size"]:
            raise BenchError(f"{f.relative_to(ROOT)} does not match the "
                             f"testdata_pin size {want['size']}")
        if hashlib.sha256(f.read_bytes()).hexdigest() != sums[name]:
            raise BenchError(f"{f.relative_to(ROOT)} does not match "
                             "SHA256SUMS")
    return {n: p["size"] for n, p in pin.items()}


def run_group(cmd, timeout, **kwargs):
    """Run `cmd` in a process group of its own and wait for it; when it
    ends or runs out of time, kill whatever is left of the group. Returns
    the exit code, or None on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kwargs)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def source_key():
    """Hash of every file the build reads from this checkout."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HARNESS / "build.sbt", HARNESS / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HARNESS / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for f in files:
        if f.exists():
            h.update(str(f.relative_to(ROOT)).encode() + b"\0")
            h.update(f.read_bytes() + b"\0")
    return h.hexdigest()


def build():
    """Compile the engine and the harness with sbt, once per source state;
    returns the harness's runtime classpath."""
    key = source_key()
    stamp = OUT / "build" / "stamp.json"
    if stamp.exists():
        s = json.loads(stamp.read_text())
        if s["key"] == key:
            return s["classpath"], key
    stamp.parent.mkdir(parents=True, exist_ok=True)
    log("building engine and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    sbt_log = stamp.parent / "sbt.log"
    with open(sbt_log, "w") as out:
        rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export harness/Runtime/fullClasspath"],
                       BUILD_TIMEOUT_S, cwd=HARNESS, env=env, stdout=out,
                       stderr=subprocess.STDOUT)
    # `export` prints the classpath as the one unprefixed line
    lines = [x for x in sbt_log.read_text().splitlines()
             if x and not x.startswith("[")]
    if rc != 0 or not lines:
        raise BenchError(f"sbt build failed (exit {rc}); see "
                         f"{sbt_log.relative_to(ROOT)}")
    classpath = lines[-1].strip()
    stamp.write_text(json.dumps({"key": key, "classpath": classpath}))
    return classpath, key


def commit():
    """The checkout's git commit, or None outside a git work tree."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"],
                           cwd=ROOT, capture_output=True, text=True,
                           timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    out = r.stdout.split()
    if r.returncode != 0 or len(out) != 2 or Path(out[0]) != ROOT:
        return None
    return out[1]


def crime_csv(seed):
    """The crime_etl input for `seed`; only the latest one is kept."""
    sys.path.insert(0, str(BENCH))
    import gen_crime
    d = OUT / "crime"
    path = d / f"crime-seed{seed}-rows{CRIME_ROWS}.csv"
    if not path.exists():
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
        gen_crime.write(str(path) + ".tmp", seed, CRIME_ROWS)
        os.replace(str(path) + ".tmp", path)
    return path


def run_jvm(classpath, args, run_dir, csv, deadline):
    java = shutil.which("java")
    if os.environ.get("JAVA_HOME"):
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java")
    cmd = [java, *ADD_OPENS, *JVM_MEMORY,
           f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-cp", classpath, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--out", str(run_dir), "--data", str(DATA),
           "--crime-csv", str(csv or ""), "--cores", str(os.cpu_count()),
           "--check-cache", str(OUT / "check-cache")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
    start = time.time()
    with open(run_dir / "jvm.log", "w") as jvm_log:
        rc = run_group(cmd, max(1.0, deadline - time.time()), cwd=run_dir,
                       env=env, stdout=jvm_log, stderr=subprocess.STDOUT)
    if rc is None:
        raise BenchError("the benchmark JVM did not finish in time")
    if rc != 0 or not (run_dir / "result.json").exists():
        tail = (run_dir / "jvm.log").read_text(errors="replace")[-2000:]
        raise BenchError(f"the benchmark JVM failed (exit {rc}):\n{tail}")
    return start, json.loads((run_dir / "result.json").read_text())


def verdicts(result, csv):
    """Per execution, whether it counts as failed: it raised, its result
    differs from the checked warm-up result, or that check failed."""
    sys.path.insert(0, str(BENCH))
    import oracle
    checker = oracle.Checker(str(ROOT), str(DATA), str(OUT / "oracle-cache"))
    warm = {e["unit"]: e["fingerprint"] for e in result["executions"]
            if e["pass"] == 0 and e["ok"]}
    checked = {}
    for c in result["checks"]:
        u = c["unit"]
        try:
            if c["kind"] == "crime":
                ok, msg = checker.crime(c["dir"], str(csv), warm[u])
            else:
                ok, msg = checker.parquet(c["dir"], c["oracle_sql"], warm[u])
        except Exception as e:  # a check that cannot run is a failed check
            ok, msg = False, f"{type(e).__name__}: {e}"
        checked[u] = ok
        log(f"check {u}: {'ok' if ok else 'MISMATCH'} ({msg})")
    failed = 0
    for e in result["executions"]:
        why = (e["error"] if not e["ok"]
               else "no passing DuckDB check" if not checked.get(e["unit"])
               else "differs from the checked result"
               if e["fingerprint"] != warm[e["unit"]] else None)
        if why:
            failed += 1
            log(f"FAILED {e['unit']} pass {e['pass']}: {why}")
    return len(result["executions"]), failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind through run_group's clean-up, which kills the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        require_checkout()
        pin = check_pin()
        classpath, key = build()
        deadline = time.time() + RUN_DEADLINE_S
        csv = crime_csv(args.seed) if args.workload == "crime_etl" else None
        run_dir = OUT / "runs" / f"{args.workload}-seed{args.seed}-trace{args.trace}"
        shutil.rmtree(run_dir, ignore_errors=True)
        (run_dir / "tmp").mkdir(parents=True)
        start, result = run_jvm(classpath, args, run_dir, csv, deadline)
        attempted, failed = verdicts(result, csv)
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(1)

    posture = dict(result["posture"], commit=commit(), source_key=key,
                   testdata_pin=pin,
                   crime_rows=CRIME_ROWS if csv else None)
    (run_dir / "posture.json").write_text(json.dumps(posture, indent=1))
    passes = [p["seconds"] for p in result["passes"] if not p["traced"]]
    # BENCHMARK.json names every metric and its unit; a query the workload
    # does not run reads 0, and a workload outside BENCHMARK.json adds its
    # own queries
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = {**result["layers"],
                  "trace.partial": float(result["layers_partial"])}
        units.update({k: "s" for k in values if k.startswith("query.")})
        values = {k: values.get(k, 0.0) for k in units}
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = {
            "setup_s": result["first_pass_epoch_ms"] / 1000.0 - start,
            "pass_s": statistics.median(passes),
            "peak_rss_mb": result["peak_rss_mb"],
        }
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"cores={posture['cores']} aqe={posture['aqe']} "
          f"spark={posture['spark_version']}")
    for k, m in metrics.items():
        print(f"  {k:<28} {m['value']:>14.4f} {m['unit']}")
    print(f"  {'passes':<28} {len(result['passes']):>14d} count")
    print(f"  {'failed_ratio':<28} {failed / attempted:>14.4f} "
          f"({failed} of {attempted} executions)")
    if args.trace:
        print(f"  trace: {(run_dir / 'trace.json').relative_to(ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
