#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one line of results.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run compiles graft's
main sources and the harness (perfbench/harness) with the Scala compiler
from the jar directory build.sbt names, into $CARGO_TARGET_DIR (default
.bench_build); later runs reuse the classes while the sources are
unchanged. Each JVM is launched directly from that classpath, so no build
tool runs inside a measurement. A run does a fixed amount of work;
--seconds is accepted and recorded, and a JVM that runs past
JVM_TIMEOUT_S is killed and the run fails.

Workloads, metrics and their expected movements are described in
perfbench/DESIGN.md. Standard output ends with one JSON object: correct,
attempted, failed and metrics (the end-to-end metrics of BENCHMARK.json
with --trace 0, the per-layer metrics with --trace 1). Every metric also
gets a JSON line of its own before it, and the full per-operation and
per-layer detail goes to <build dir>/results/.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
sys.path.insert(0, HERE)
import digest  # noqa: E402

JVM_TIMEOUT_S = 150
# share of the live rows that get an invalid twin injected beside them
INVALID_SHARE = 0.01
LIVE_BATCHES = 6
WARM_PASSES = 1
# setup_s is the median over this many session set-ups, each in a fresh JVM:
# the workload's own and SETUPS - 1 that only set up. Over twenty seeds per
# workload a third set-up did not narrow the spread, and it costs ~9 s a run.
SETUPS = 2
REQUIRED_FIELDS = ["stream_name", "service_id", "local_id", "schema_version", "payload"]


class BenchError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.abspath(os.path.join(ROOT, d))


def read_build_sbt():
    path = os.path.join(ROOT, "build.sbt")
    if not os.path.exists(path):
        raise BenchError("no build.sbt at the checkout root")
    with open(path) as f:
        return f.read()


def jar_dir(sbt):
    """The jar directory the repository's own build compiles against."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    if not m or not os.path.isdir(m.group(1)):
        raise BenchError("cannot find the jar directory named by build.sbt")
    return m.group(1)


def jvm_options(sbt):
    """build.sbt's javaOptions: the JDK 17 --add-opens list Spark needs, the
    UI off and UTC, with -Xmx sized the way the tier-1 test run sizes it."""
    opens = re.findall(r'"(java\.base/[\w./]+)"', sbt)
    gib = 2
    try:
        with open("/proc/meminfo") as f:
            kb = int(re.search(r"MemTotal:\s+(\d+)", f.read()).group(1))
        gib = min(8, max(2, kb // 2097152))
    except (OSError, AttributeError):
        pass
    return ([a for p in opens for a in ("--add-opens", p + "=ALL-UNNAMED")] +
            ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Xmx%dg" % gib])


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BenchError("no src/main/scala at the checkout root")
    out = []
    for base in (main, os.path.join(HERE, "harness")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(sbt):
    """Compile graft and the harness once per source state; return the classpath."""
    jars = jar_dir(sbt)
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    key = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp = out + ".key"
    cp = os.path.join(jars, "*")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return cp + os.pathsep + out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    t0 = time.time()
    r = subprocess.run(["java", "-Xss16m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise BenchError("compilation failed")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp, "w") as f:
        f.write(key)
    print("built in %.1f s" % (time.time() - t0), file=sys.stderr)
    return cp + os.pathsep + out


def query_plan(queries, rng):
    """The cold pass in name order, then WARM_PASSES seed-shuffled timed passes.

    The cold pass keeps one order because a cold query's cost depends on
    what ran before it: with a shuffled cold pass its total moved from 21 s
    to 31 s between seeds on a 4-core host."""
    lines = [("warmup", q) for q in sorted(queries)]
    for _ in range(WARM_PASSES):
        q = list(queries)
        rng.shuffle(q)
        lines += [("timed", name) for name in q]
    return lines


def live_plan(n_rows, rng):
    """Seeded batch boundaries and seeded invalid rows over the time-sorted log."""
    weights = [rng.uniform(0.5, 1.5) for _ in range(LIVE_BATCHES)]
    total = sum(weights)
    sizes = [int(n_rows * w / total) for w in weights]
    sizes[-1] += n_rows - sum(sizes)
    lines, start = [], 0
    for n in sizes:
        lines.append(("batch", start, n))
        start += n
    for _ in range(round(n_rows * INVALID_SHARE)):
        b = rng.randrange(LIVE_BATCHES)
        row = lines[b][1] + rng.randrange(lines[b][2])
        lines.append(("invalid", b, row, rng.choice(REQUIRED_FIELDS)))
    return lines


def events_rows():
    import pyarrow.parquet as pq
    return pq.read_metadata(os.path.join(DATA, "events.parquet")).num_rows


def run_jvm(cp, opts, mode, work, plan, trace):
    os.makedirs(work, exist_ok=True)
    plan_file = os.path.join(work, "plan.tsv")
    with open(plan_file, "w") as f:
        f.write("".join("\t".join(str(x) for x in line) + "\n" for line in plan))
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + opts + ["-Djava.io.tmpdir=" + tmp, "-cp", cp,
                              "graft.perfbench.Harness",
                              "--mode", mode, "--data", DATA, "--work", work,
                              "--plan", plan_file, "--out", out,
                              "--cpus", str(len(os.sched_getaffinity(0))), "--trace", str(trace)])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise BenchError("harness %s exited with %s" % (mode, rc))
    with open(out) as f:
        return json.load(f)


def quantile(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def check_rows(work, expected):
    """Digest every query's first result and compare it with expected.json."""
    bad = {}
    rows_dir = os.path.join(work, "rows")
    names = sorted(f[:-5] for f in os.listdir(rows_dir)) if os.path.isdir(rows_dir) else []
    for name in names:
        got, n = digest.digest_file(os.path.join(rows_dir, name + ".json"))
        want = expected["digests"].get(name)
        if want is None:
            bad[name] = "no expected digest"
        elif got != want["digest"]:
            bad[name] = "digest %s (%d rows) != %s %s (%d rows)" % (
                got[:12], n, want["source"], want["digest"][:12], want["rows"])
        elif want["source"] == "graft" and n == 0:
            bad[name] = "empty result"
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in [w["name"] for w in bench["workloads"]]:
        raise BenchError("unknown workload " + args.workload)
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    sbt = read_build_sbt()
    cp = build(sbt)
    opts = jvm_options(sbt)

    rng = random.Random("%s:%d" % (args.workload, args.seed))
    if args.workload == "live_projection":
        plan = live_plan(events_rows(), rng)
    else:
        plan = query_plan(expected["benchmark_queries"], rng)

    runs = os.path.join(build_dir(), "runs")
    work = os.path.join(runs, "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    try:
        setups = [run_jvm(cp, opts, "setup", os.path.join(work, "setup%d" % i), [], 0)["setup_s"]
                  for i in range(SETUPS - 1)]
        main_run = run_jvm(cp, opts, args.workload, os.path.join(work, "main"), plan, 0)
        setups.append(main_run["setup_s"])
        traced = None
        if args.trace:
            traced = run_jvm(cp, opts, args.workload, os.path.join(work, "traced"), plan, 1)
        bad_rows = [check_rows(os.path.join(work, "main"), expected)]
        if traced:
            bad_rows.append(check_rows(os.path.join(work, "traced"), expected))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # one entry per failed operation or check: it threw or its result was wrong
    failures, attempted = [], 0
    for r, bad in zip([main_run, traced], bad_rows):
        attempted += len(r["ops"]) + len(r["checks"])
        failures += [(op["name"], op["error"]) for op in r["ops"] if not op["ok"]]
        failures += sorted(bad.items())
        failures += [(c["name"], c["detail"]) for c in r["checks"] if not c["ok"]]
    failed = len(failures)

    timed = [op for op in main_run["ops"] if op["phase"] == "timed" and op["name"] != "replay"]
    lat = [op["ms"] for op in timed]
    busy_s = sum(lat) / 1e3
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "cpu_s": (main_run["cpu_s"], "s"),
    }
    # per-operation figures, under the names a reader of one workload expects
    layers = main_run["layers"]
    rate = (len(lat) / busy_s if busy_s else 0.0, "1/s")
    if args.workload == "live_projection":
        named = {
            "fresh_ms_p50": (quantile(lat, 0.5), "ms"),
            "fresh_ms_max": (max(lat), "ms"),
            "batches_per_s": rate,
            "ingest_events_per_s": (layers["eventstore.ingest_events_per_s"], "1/s"),
            "replay_s": ((layers["eventstore.replay_ms"] + layers["eventstore.fold_ms"]) / 1e3, "s"),
        }
    else:
        named = {
            "query_p50_ms": (quantile(lat, 0.5), "ms"),
            "query_max_ms": (max(lat), "ms"),
            "queries_per_s": rate,
        }
    named.update({"e2e_wall_s": (main_run["e2e_wall_s"], "s"),
                  "op_cpu_ms_p50": (quantile([op["cpu_ms"] for op in timed], 0.5), "ms"),
                  "latency_samples": (len(lat), "count"),
                  "failed_frac": (failed / attempted, "ratio"),
                  "peak_rss_mb": (layers["jvm.peak_rss_mb"], "MB"),
                  "retained_heap_mb": (layers["jvm.retained_heap_mb"], "MB")})

    if args.trace:
        metrics = {}
        for m in bench["per_layer"]:
            if m["name"] == "trace.overhead_s":
                v = traced["e2e_wall_s"] - main_run["e2e_wall_s"]
            else:
                v = traced["layers"].get(m["name"], 0.0)
            metrics[m["name"]] = (v, m["unit"])
    else:
        metrics = {m["name"]: e2e[m["name"]] for m in bench["end_to_end"]}

    results = os.path.join(build_dir(), "results")
    os.makedirs(results, exist_ok=True)
    detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace,
              "failures": failures, "setups_s": setups, "end_to_end": e2e, "named": named,
              "untraced": main_run, "traced": traced}
    detail_path = os.path.join(results, "%s-seed%d-trace%d.json" % (
        args.workload, args.seed, args.trace))
    with open(detail_path, "w") as f:
        json.dump(detail, f)

    for name, why in failures:
        print(json.dumps({"failed": name, "why": why[:300]}))
    for name, (v, unit) in list(e2e.items()) + list(named.items()):
        print(json.dumps({"metric": name, "value": v, "unit": unit}))
    if args.trace:
        for name, (v, unit) in metrics.items():
            print(json.dumps({"metric": name, "value": v, "unit": unit}))
    print(json.dumps({"detail": os.path.relpath(detail_path, ROOT), "seed": args.seed}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        print("benchmark error: %s" % e, file=sys.stderr)
        sys.exit(2)
