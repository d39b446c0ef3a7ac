#!/usr/bin/env python3
"""The repository benchmark: push runs and an operator suite, end to end.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the harness
(perfbench/harness, an sbt build over the root project) into
.bench_build/; later runs reuse the build while the sources are unchanged.
The testdata is the sf0.1 corpus of TESTDATA.md (SPARK_GRAFT_SF_DIR
overrides its location, as for graft.Bench).

Every workload is a closed loop with one client: each dbt run or row starts
only after the previous one finished, in one JVM with local[nproc] and
shuffle partitions = nproc, and a fixed 2 GB heap with a fixed 512 MB young
generation (G1 otherwise resizes it from run to run, which moved the peak
RSS of identical push_bulk runs by 400 MB).

  push_bulk         one DagRunner.run per op of a push project into a fresh
                    tracking dir: Salesforce models (all sf0.1 customers,
                    through the anti-join on their own log; a model with no
                    rows, which takes the zero-row skip) and a Marketing
                    Cloud model (all suppliers, 100-row staging batches).
                    The connector wrappers add 100 us per call + 2 us per
                    record.
  operator_suite    the rows in perfbench/operator_suite.rows, in an order
                    permuted by the seed: one cold call per row, then warm
                    passes; every call counts the row, as graft.Bench does.
                    Each row's output is written once more, untimed, and
                    checked against its DuckDB oracle twin by
                    tools/check_oracle.py.

A run first makes its cold op (the first dbt run, or the first call of
every row) right after the Spark session starts, then sets up (three times;
the median counts), then runs whole units of work (one dbt run, or one pass
over the rows) until they have timed --seconds, at least one.
Outputs are checked after every op, untimed: log rows against the records
pushed, every result a success, every task row closed, connector deliveries
against the expected records with no duplicates, each row against its
oracle twin. A failed check fails its op; nothing is dropped.

Times are steal-adjusted. The host's co-tenants take CPU time from this
virtual machine (the steal column of /proc/stat): in busy periods, which
last minutes, up to a third of the CPU time the machine wanted, and raw
wall times of identical runs moved by up to 1.5x. An op's stolen share is
the part of the CPU time the machine wanted during the op (busy + stolen,
over all CPUs) that was stolen; as steal accrues only on CPUs with work,
the share does not depend on how many cores the program keeps busy. The
reported time is the wall time times (1 - stolen share): what the op would
have taken had every runnable thread kept its CPU. On a quiet host the two
agree. The result file keeps each op's raw wall time and stolen share.

End-to-end metrics (--trace 0):
  setup_s        JVM start to Spark session ready, plus the median of three
                 workload set-ups (open the catalog, or the push project on
                 a fresh tracking dir, or write the source table)
  wall_s         the median steady unit
  op_s_p50       the median steady op (one dbt run, or one row); the op
                 count is `attempted`. The result file holds op_s_p90 when
                 at least ten ops lie beyond it
  records_per_s  records delivered to the connector and logged, per second
                 of steady ops (push); result rows counted per second of
                 warm calls (operator_suite)
  cold_s         the first dbt run, or the first call of every row
  storage_bytes_per_record  tracking-table bytes on disk per logged record
                 (push); bytes the rows persist under the run's temp and
                 warehouse dirs during the cold pass, per result row (suite)
  rss_mb_peak    the JVM's peak resident set

--trace 1 runs the same workload with spans around the benchmark's calls
into each module's public API and a SparkListener, measures untraced and
traced units in the order U T T U, and prints the per-layer metrics per
dbt run (push) or per pass (suite), including each layer's self time and
the tracing overhead (the median traced unit against the median untraced
one). A traced op whose layer spans claim less than 90% of its wall time
fails; trace.wrapper_self_share_max is the largest share of a traced op
that the span wrapping it (DagRunner.run, or the row) keeps as self time,
i.e. time no layer under it claims. Spans and jobs are written next to the
result file.

Each run gets its own java.io.tmpdir, spark.local.dir and warehouse dir
under .bench_build/runs/; all are removed when the run ends, and the bytes
the JVM left there are recorded. Every run writes its own result file with
provenance to .bench_results/ and never overwrites another.
"""
import argparse
import datetime
import hashlib
import json
import os
import random
import re
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(ROOT, ".bench_build")
RESULTS = os.path.join(ROOT, ".bench_results")
ROWS = os.path.join(HERE, "operator_suite.rows")
HEAP = "2g"
YOUNG = "512m"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

WORKLOADS = ("push_bulk", "operator_suite")
# the push layer, and the layers of the operator_suite rows: ops.<family>
# (the row's registering module), streaming and multimodal
LAYERS = ("push", "ops.relational", "ops.pq", "streaming", "multimodal")
SELF_LAYERS = ("bench", "model", "push", "tracking", "catalog", "connector", "spark",
               "ops", "streaming", "multimodal")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def sf_dir():
    # The sf0.1 corpus of TESTDATA.md in its standard location; like
    # graft.Bench, SPARK_GRAFT_SF_DIR overrides it.
    d = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.join(
        os.path.expanduser("~"), "testdata", "sf0.1")
    if not os.path.isfile(os.path.join(d, "customer.parquet")):
        fail(f"testdata not found in {d} (set SPARK_GRAFT_SF_DIR)")
    return d


def source_digest():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "build.sbt"),
            os.path.join(HARNESS, "project", "build.properties"), os.path.join(HARNESS, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Builds the harness unless .bench_build holds a build of these sources."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no program sources: {need} is missing from {ROOT}")
    digest = source_digest()
    launch = os.path.join(BUILD, "launch.txt")
    stamp = os.path.join(BUILD, "source.sha256")
    if os.path.exists(launch) and os.path.exists(stamp) and open(stamp).read() == digest:
        return digest, launch
    os.makedirs(BUILD, exist_ok=True)
    log("building the harness (sbt) ...")
    t0 = time.time()
    # sbt's temp files (server socket dir, compiler scratch) stay in the checkout
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        try:
            r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "launch"],
                               cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out")
    if r.returncode != 0:
        fail(f"build failed (exit {r.returncode}); see {os.path.join(BUILD, 'build.log')}")
    shutil.copyfile(os.path.join(HARNESS, "target", "launch.txt"), launch)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return digest, launch


def dir_bytes(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def cpu_steal():
    """Seconds of CPU time the hypervisor took from this machine so far,
    summed over its CPUs."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run_jvm(launch, args, run_dir, cores, rows_file):
    lines = open(launch).read().splitlines()
    cp, jvm_opts = lines[0], [o for o in lines[1:] if o and not o.startswith(("-Xmx", "-Xms", "-Xmn"))]
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    result = os.path.join(run_dir, "result.json")
    # Fixed heap and young generation sizes keep the peak RSS comparable
    # between runs.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"] +
           jvm_opts +
           ["-cp", cp, "graftbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(cores),
            "--sf-dir", sf_dir(),
            "--run-dir", run_dir, "--result", result, "--rows", rows_file])
    env = dict(os.environ, SPARK_LOCAL_DIRS=local)
    for k in ("LOCAL_DIRS", "MESOS_SANDBOX"):
        env.pop(k, None)
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=max(10, RUN_TIMEOUT_S - (time.time() - T0)))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(result):
        tail = open(os.path.join(run_dir, "jvm.log")).read()[-3000:]
        log(f"JVM failed ({code}):\n{tail}")
        return None
    with open(result) as f:
        res = json.load(f)
    spans = result + ".spans"
    res["_spans_file"] = spans if os.path.exists(spans) else None
    return res


def check_suite(res, run_dir):
    """Oracle-checks every row's output with tools/check_oracle.py and its
    cold and warm counts against the oracle's row count; returns failures
    per row name."""
    out = os.path.join(run_dir, "out")
    failures, oracle = {}, {}
    for r in res["suite"]:
        if r["errors"]:
            failures[r["name"]] = list(r["errors"])
        elif r.get("oracle_sql") is None:
            failures[r["name"]] = ["no oracle twin"]
        else:
            oracle[r["name"]] = r["oracle_sql"]
    if not oracle:
        return failures
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "oracle_sql.json"), "w") as f:
        json.dump(oracle, f)
    check = os.path.join(ROOT, "tools", "check_oracle.py")
    try:
        # cwd: DuckDB spills into the run dir, which is removed afterwards
        p = subprocess.run([sys.executable, check, sf_dir(), out], cwd=run_dir,
                           capture_output=True, text=True, stdin=subprocess.DEVNULL,
                           timeout=max(10, RUN_TIMEOUT_S - (time.time() - T0)))
        lines = p.stdout.splitlines()
    except subprocess.TimeoutExpired:
        lines = []
    verdict = {}
    for line in lines:
        m = re.match(r"PASS (\S+) \((\d+) rows\)$", line)
        if m:
            verdict[m.group(1)] = int(m.group(2))
        elif line.startswith("FAIL "):
            name, _, why = line[5:].partition(": ")
            verdict[name] = f"oracle: {why}"
    counts = {r["name"]: r["counts"] for r in res["suite"]}
    for name in oracle:
        v = verdict.get(name, "oracle: no verdict from tools/check_oracle.py")
        if isinstance(v, str):
            failures[name] = [v]
        elif any(n != v for n in counts[name]):
            failures[name] = [f"counts {sorted(set(counts[name]))} != {v} oracle rows"]
    return failures


def end_to_end(res):
    passes = [p for p in res["passes_s"] if not p["traced"]]
    steady = [o for o in res["ops"] if not (o["cold"] or o["traced"])]
    secs = [o["s"] for o in steady]
    m = {
        "setup_s": res["session_s"] + median(res["setup_s"]),
        "wall_s": median([p["s"] for p in passes]),
        "op_s_p50": median(secs),
        "records_per_s": sum(o["records"] for o in steady) / max(1e-9, sum(secs)),
        "cold_s": res["cold_s"],
        "storage_bytes_per_record": res["storage_bytes_per_record"],
        "rss_mb_peak": res["rss_mb_peak"],
    }
    extra = {"ops": len(secs),
             # the same figures from raw wall times
             "raw_wall_s": median([p["raw_s"] for p in passes]),
             "raw_op_s_p50": median([o["raw_s"] for o in steady]),
             "raw_cold_s": sum(o["raw_s"] for o in res["ops"] if o["cold"])}
    if len(secs) >= 100:  # at least ten samples beyond the 90th percentile
        extra["op_s_p90"] = statistics.quantiles(secs, n=10)[-1]
    return m, extra


def per_layer(res):
    t = res["trace"]
    m = dict(t["metrics"])
    # inclusive time, jobs and first-call time of each layer; the push layer
    # is PushMaterializer.run on push workloads and the push_* rows on the
    # suite
    for layer in LAYERS:
        m["push.run_s" if layer == "push" else f"{layer}.s"] = t["inclusive_s"].get(layer, 0.0)
        m[f"{layer}.jobs"] = t["layer_jobs"].get(layer, 0.0)
        m[f"{layer}.cold_s"] = t["cold_inclusive_s"].get(layer, 0.0)
    for layer in SELF_LAYERS:
        name = "trace.unattributed_s" if layer == "bench" else f"{layer}.self_s"
        m[name] = sum((v for k, v in t["self_s"].items()
                       if k == layer or k.startswith(layer + ".")), 0.0)
    return m


def with_units(values, group):
    """Attaches the units BENCHMARK.json declares; the metric set must match."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))[group]
    units = {m["name"]: m["unit"] for m in spec}
    if set(units) != set(values):
        fail(f"metrics differ from BENCHMARK.json {group}: "
             f"{sorted(set(units) ^ set(values))}", code=1)
    return {k: {"value": values[k], "unit": units[k]} for k in units}


def steal_summary(res):
    """Stolen shares of the cold and the steady ops, weighted by raw time."""
    def share(ops):
        return sum(o["stolen"] * o["raw_s"] for o in ops) / max(1e-9, sum(o["raw_s"] for o in ops))
    return {"cold_share": share([o for o in res["ops"] if o["cold"]]),
            "steady_share": share([o for o in res["ops"] if not o["cold"]])}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    digest, launch = build()
    global T0
    T0 = time.time()
    load_before, steal_before = os.getloadavg(), cpu_steal()
    cores = len(os.sched_getaffinity(0))
    run_id = (datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S.%fZ") +
              f"-{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}")
    run_dir = os.path.join(BUILD, "runs", run_id)
    os.makedirs(run_dir)
    try:
        rows = [r.strip() for r in open(ROWS) if r.strip() and not r.startswith("#")]
        random.Random(args.seed).shuffle(rows)
        rows_file = os.path.join(run_dir, "rows.txt")
        with open(rows_file, "w") as f:
            f.write("\n".join(rows) + "\n")
        res = run_jvm(launch, args, run_dir, cores, rows_file)
        if res is None:
            fail("run failed", code=1)
        left = {d: dir_bytes(os.path.join(run_dir, d))
                for d in ("tmp", "local", "warehouse") if os.path.isdir(os.path.join(run_dir, d))}
        t_check = time.time()
        suite_fail = check_suite(res, run_dir) if args.workload == "operator_suite" else {}
        oracle_check_s = time.time() - t_check
        spans = res.pop("_spans_file")
        os.makedirs(RESULTS, exist_ok=True)
        stem = os.path.join(RESULTS, run_id)
        if spans:
            shutil.move(spans, stem + ".spans.json")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    # A row that fails its oracle check fails its cold op and every warm op.
    failed_ops = [o for o in res["ops"] if o["errors"] or o["name"] in suite_fail]
    e2e, extra = end_to_end(res)
    metrics = (with_units(per_layer(res), "per_layer") if args.trace
               else with_units(e2e, "end_to_end"))
    line = {"correct": not failed_ops, "attempted": len(res["ops"]),
            "failed": len(failed_ops), "metrics": metrics}

    git_sha = None
    try:
        git_sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                                 text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    record = {
        "provenance": {
            "host": socket.gethostname(), "nproc": cores, "loadavg_before": load_before,
            "loadavg_after": os.getloadavg(), "cpu_steal_s": cpu_steal() - steal_before,
            "steal": steal_summary(res),
            "git_sha": git_sha, "source_sha256": digest,
            "heap": HEAP, "young": YOUNG, "heap_mb": res["heap_mb"], "seed": args.seed,
            "workload": args.workload, "trace": args.trace, "seconds": args.seconds,
            "timestamp": datetime.datetime.now(datetime.timezone.utc).isoformat(),
        },
        "result": line, "end_to_end": e2e, "end_to_end_extra": extra,
        "left_behind_bytes": left, "oracle_check_s": oracle_check_s,
        "failures": {**{o["name"]: o["errors"] for o in res["ops"] if o["errors"]},
                     **suite_fail},
        "jvm": res,
    }
    with open(stem + ".json", "x") as f:
        json.dump(record, f, indent=1)
    for name, errs in record["failures"].items():
        log(f"FAILED {name}: {'; '.join(errs)}")
    log(f"result file {stem}.json")
    print(json.dumps(line))


if __name__ == "__main__":
    T0 = time.time()
    main()
