#!/usr/bin/env python3
"""Benchmark of the spark-graft engine's public API (see perfbench/README.md).

Run from the root of a checkout:

    python3 perfbench/run.py --workload prepared_headline --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

The first run builds the engine and the harness with sbt (perfbench/build.sbt
depends on the root build) and caches the classpath under .bench_build/;
later runs start the JVM directly. The last line of standard output is one
JSON object: correct, attempted, failed and the metrics of BENCHMARK.json
(end-to-end with --trace 0, per-layer with --trace 1). The full run record,
with failures by name, the tail percentile and the DuckDB anchor, is written
to .bench_build/perfbench/records/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("prepared_headline", "adhoc_inventory", "ingest_refresh")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def source_stamp():
    """Hash of every input of the build, so a changed tree is rebuilt."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        files += [p for p in glob.glob(os.path.join(base, "*")) if os.path.isfile(p)]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    h = hashlib.sha256()
    for p in sorted(files):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath():
    """Build with sbt if the sources changed since the cached build."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            cp = g.read().strip()
            if f.read().strip() == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
                return cp
    log("building engine and harness with sbt")
    t0 = time.time()
    out = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                       "export perfbench/Runtime/fullClasspath"], BENCH, BUILD_TIMEOUT_S)
    lines = [l for l in out.splitlines() if l and not l.startswith("[")]
    if not lines:
        raise RuntimeError("sbt printed no classpath")
    cp = lines[-1].strip()
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build took {time.time() - t0:.1f}s")
    return cp


def run_bounded(cmd, cwd, timeout_s):
    """Run `cmd` in its own process group; kill the group on timeout.
    Standard error passes through; standard output is returned."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise RuntimeError(f"{cmd[0]} exceeded {timeout_s}s and was killed")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if p.returncode != 0:
        sys.stderr.write(out[-4000:])
        raise RuntimeError(f"{cmd[0]} exited with code {p.returncode}")
    return out


def jvm(cp, args, timeout_s=RUN_TIMEOUT_S):
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}"]
    for m in JDK_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties", f"-Djava.io.tmpdir={WORK}/tmp", f"-Dspark.local.dir={WORK}/spark-local",
            f"-Dspark.sql.warehouse.dir={WORK}/warehouse", f"-Dderby.system.home={WORK}",
            "-cp", cp, "perfbench.Main"] + args
    run_bounded(cmd, WORK, timeout_s)


def cores():
    return len(os.sched_getaffinity(0))


def scala_args(workload, seed, seconds, trace, out, tiny=False, expected=None):
    a = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace), "--cores", str(cores()), "--data", os.path.join(BENCH, "data"),
         "--work", WORK, "--expected", expected or os.path.join(BENCH, "expected"), "--out", out]
    if tiny:
        a += ["--scale", "tiny", "--batch-rows", "500", "--limit", "8"]
    return a


def duckdb_anchor():
    """DuckDB on the headline oracle SQL at sf0.1, threads = cores: total of
    per-query medians of three runs. Cached per checkout; context only."""
    cache = os.path.join(WORK, "duckdb_anchor.json")
    if os.path.exists(cache):
        with open(cache) as f:
            return json.load(f)
    oracle_file = os.path.join(WORK, "oracle_headline.json")
    try:
        import duckdb
    except ImportError:
        return None
    if not os.path.exists(oracle_file):
        return None
    with open(oracle_file) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute(f"SET threads TO {cores()}")
    sf = os.path.join(BENCH, "data", "sf0.1")
    for p in sorted(glob.glob(os.path.join(sf, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    per_query = {}
    for name, sql in sorted(oracle.items()):
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            con.sql(sql).fetchall()
            times.append(time.perf_counter() - t0)
        per_query[name] = sorted(times)[1]
    anchor = {"duckdb_s": sum(per_query.values()), "queries": len(per_query),
              "threads": cores(), "per_query_s": per_query}
    with open(cache, "w") as f:
        json.dump(anchor, f)
    return anchor


def cpu_times():
    """(steal, total) jiffies of the machine, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def run_once(workload, seed, seconds, trace, tiny=False, expected=None):
    """One measured run; returns (record, path of the record file)."""
    cp = classpath()
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    out = os.path.join(WORK, "records",
                       f"{workload}-seed{seed}-trace{trace}{'-tiny' if tiny else ''}.json")
    if os.path.exists(out):
        os.remove(out)
    steal0, total0 = cpu_times()
    jvm(cp, scala_args(workload, seed, seconds, trace, out, tiny, expected))
    steal1, total1 = cpu_times()
    with open(out) as f:
        rec = json.load(f)
    # CPU time the hypervisor gave to other guests while this run ran: a
    # host-noise marker for reading the numbers, not a metric.
    rec["host_steal_ratio"] = (steal1 - steal0) / max(1, total1 - total0)
    e2e = rec["end_to_end"]
    if workload == "prepared_headline" and not tiny and trace == 0:
        anchor = duckdb_anchor()
        if anchor:
            anchor["ratio_suite_to_duckdb"] = e2e["suite_s"]["value"] / anchor["duckdb_s"]
            rec["duckdb_anchor"] = anchor
    if trace == 1:
        base = out.replace("trace1", "trace0")
        if os.path.exists(base):
            with open(base) as f:
                untraced = json.load(f)["end_to_end"]
            rec["tracing_overhead"] = {k: e2e[k]["value"] / v["value"] for k, v in untraced.items()
                                       if k in e2e and v["value"]}
    with open(out, "w") as f:
        json.dump(rec, f, indent=1)
    return rec, out


def result_line(rec, trace, names):
    metrics = rec["per_layer"] if trace else rec["end_to_end"]
    missing = [n for n in names if n not in metrics]
    correct = rec["failed"] == 0 and rec["attempted"] >= 1 and not missing
    if missing:
        log(f"metrics not reported: {missing}")
    return {"correct": correct, "attempted": int(rec["attempted"]), "failed": int(rec["failed"]),
            "metrics": {n: {"value": metrics[n]["value"], "unit": metrics[n]["unit"]}
                        for n in names if n in metrics}}


def summary(rec, path, gated):
    for f in rec.get("failures", []):
        print(f"failed: {f['name']}: {f['error']}")
    extra = {k: v for k, v in rec["end_to_end"].items() if k not in gated}
    print("also: " + ", ".join(f"{k}={v['value']:.6g} {v['unit']}" for k, v in extra.items()) +
          f"; host steal {100 * rec['host_steal_ratio']:.1f}%")
    r = rec.get("record", {})
    for key in ("query_tail", "ingest_tail"):
        if key in r:
            print(f"{key}: p{r[key]['percentile']:.1f} of {int(r[key]['samples'])} samples")
    if "duckdb_anchor" in rec:
        a = rec["duckdb_anchor"]
        print(f"duckdb anchor: {a['duckdb_s']:.3f}s on {a['threads']} threads; "
              f"suite_s / duckdb = {a['ratio_suite_to_duckdb']:.2f}")
    if "tracing_overhead" in rec:
        print("tracing overhead (traced / untraced): " +
              ", ".join(f"{k}={v:.3f}" for k, v in rec["tracing_overhead"].items()))
    if r.get("stage_coverage_below_90pct"):
        print(f"stage spans cover <90% of exec time: {r['stage_coverage_below_90pct']}")
    print(f"record: {os.path.relpath(path, ROOT)}")


def selftest():
    """Tiny-scale run of every workload, untraced and traced: every named
    metric must be emitted with its unit and all checks must pass; then a
    corrupted expected digest must be reported as a failure."""
    s = spec()
    problems = []
    for w in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            line = run_cli(w, 1, 2, trace, tiny=True)
            want = {m["name"]: m["unit"] for m in s[key]}
            got = line["metrics"]
            for name, unit in want.items():
                if name not in got:
                    problems.append(f"{w} trace={trace}: {name} missing")
                elif got[name]["unit"] != unit:
                    problems.append(f"{w} trace={trace}: {name} unit {got[name]['unit']} != {unit}")
            if not line["correct"] or line["failed"]:
                problems.append(f"{w} trace={trace}: checks failed ({line['failed']} failed)")
    bad = os.path.join(WORK, "expected-corrupt")
    shutil.rmtree(bad, ignore_errors=True)
    shutil.copytree(os.path.join(BENCH, "expected"), bad)
    path = os.path.join(bad, "headline_sf0.001.tsv")
    with open(path) as f:
        lines = f.read().splitlines()
    i = next(k for k, l in enumerate(lines) if not l.startswith("#"))
    fields = lines[i].split("\t")
    fields[2] = format(int(fields[2], 16) ^ 1, "016x")
    lines[i] = "\t".join(fields)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    line = run_cli("prepared_headline", 1, 2, 0, tiny=True, expected=bad)
    rec = json.load(open(os.path.join(WORK, "records", "prepared_headline-seed1-trace0-tiny.json")))
    named = [x for x in rec["failures"] if x["name"] == fields[0] and "digest" in x["error"]]
    if line["correct"] or line["failed"] < 1 or not named:
        problems.append(f"corrupted digest of {fields[0]} was not reported as a failure")
    for p in problems:
        print(f"SELFTEST FAIL: {p}")
    print("selftest: " + ("ok" if not problems else f"{len(problems)} problem(s)"))
    return 1 if problems else 0


def run_cli(workload, seed, seconds, trace, tiny=False, expected=None):
    """Run like the command line does and parse the last stdout line back
    with a JSON parser (the machine-readable contract)."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    if tiny:
        cmd.append("--tiny")
    if expected:
        cmd += ["--expected", expected]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900).stdout
    return json.loads(out.strip().splitlines()[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="sf0.001 inputs, for the self-test")
    ap.add_argument("--expected", help="directory of expected outputs (self-test)")
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--make-expected", nargs=2, metavar=("SET", "SF"),
                    help="write expected/<set>_<sf>.tsv (set: headline, inventory, or adhoc for its query set only)")
    ap.add_argument("--dump", help="with --make-expected: also write each result as parquet")
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("the engine's sources are not here; run from the root of a spark-graft checkout")
        return 2
    if a.selftest:
        return selftest()
    if a.make_expected:
        which, sf = a.make_expected
        out = os.path.join(BENCH, "expected",
                           f"{'inventory' if which == 'adhoc' else which}_{sf}.tsv")
        args = scala_args("expect", 0, 0, 0, out) + ["--scale", sf, "--set", which, "--bound", "300"]
        if a.dump:
            args += ["--dump", os.path.abspath(a.dump)]
        jvm(classpath(), args, timeout_s=7200)
        return 0
    if not a.workload:
        ap.error("--workload is required")
    names = [m["name"] for m in spec()["per_layer" if a.trace else "end_to_end"]]
    rec, path = run_once(a.workload, a.seed, a.seconds, a.trace, a.tiny, a.expected)
    summary(rec, path, [m["name"] for m in spec()["end_to_end"]])
    print(json.dumps(result_line(rec, a.trace, names)))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # no result line on failure
        log(f"error: {e}")
        sys.exit(1)
