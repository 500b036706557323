#!/usr/bin/env python3
"""Run one perfbench workload against the program in this checkout.

    python3 perfbench/run.py --workload {ingest_stream,nlp_batch,query_mix}
        --seed N --seconds S --trace {0,1} [--cores N]

Builds the program and the JVM harness from source (cached by a hash of
the sources), generates the workload's inputs from the seed, runs the
harness, checks the outputs and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones. The line
before it is a record of the run (host noise, sample counts) that is also
kept under .bench_build/perfbench/results/.

    python3 perfbench/run.py --pin [--cores N]

re-pins the query_mix fingerprints and reference times and the nlp_batch
fingerprint into perfbench/pins.json.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import report  # noqa: E402

ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
PINS = os.path.join(HERE, "pins.json")

def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else those of the
    spark-submit found on PATH."""
    homes = [os.environ.get("SPARK_HOME")]
    if shutil.which("spark-submit"):
        homes.append(os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit")))))
    for home in filter(None, homes):
        if glob.glob(os.path.join(home, "jars", "spark-core_2.13-*.jar")):
            return os.path.join(home, "jars")
    fail("no Spark distribution: set SPARK_HOME")


WORKLOADS = ("ingest_stream", "nlp_batch", "query_mix")
DEFAULT_SEED = 1
# query_mix reads one fixed table set at this scale factor and runs a fixed
# stratified sample of about QUERY_PICKS queries from the pinned pool.
TABLE_SF = 0.01
QUERY_PICKS = 24
WARM_MODULES = 5
# ingest_stream: one round drains PAYLOADS distinct payloads (plus replays)
# of DOCS_PER_PAYLOAD posts, one queue file per micro-batch.
PAYLOADS, DOCS_PER_PAYLOAD = 8, 100
# nlp_batch: NLP_POSTS posts with NLP_COMMENTS comments each.
NLP_POSTS, NLP_COMMENTS = 500, 3
# A fixed heap and young generation: the JVM's resident set then follows the
# program's live data instead of the collector's resizing, which keeps
# peak_rss_mb steady from run to run.
HEAP = ["-Xms3g", "-Xmx3g", "-Xmn512m"]
# Everything after the build must end within this many seconds.
RUN_BUDGET_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        fail(f"no program sources under {os.path.join(ROOT, 'src/main/scala')}")
    return main + sorted(glob.glob(os.path.join(HERE, "harness/*.scala")))


def build():
    """Compile the program and the harness with scalac into a directory
    named by the hash of the sources; reuse it when it already exists."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, "OK")):
        return classes
    for old in glob.glob(os.path.join(OUT, "classes-*")):
        shutil.rmtree(old)
    os.makedirs(classes)
    jars = spark_jars()
    compiler = [glob.glob(os.path.join(jars, f"{n}-2.13*.jar"))
                for n in ("scala-compiler", "scala-library", "scala-reflect")]
    if not all(compiler):
        fail(f"no Scala 2.13 compiler jars in {jars}")
    argfile = os.path.join(OUT, "scalac-args.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    t0 = time.time()
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
                        "-cp", ":".join(c[0] for c in compiler),
                        "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                        "-cp", os.path.join(jars, "*"), "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        fail("build failed")
    open(os.path.join(classes, "OK"), "w").close()
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def load_pins():
    with open(PINS) as f:
        return json.load(f)


def tables_dir():
    d = os.path.join(OUT, f"tables-sf{TABLE_SF}")
    if not os.path.exists(os.path.join(d, "OK")):
        shutil.rmtree(d, ignore_errors=True)
        gen.tables(d, TABLE_SF)
        open(os.path.join(d, "OK"), "w").close()
    return d


def prepare(workload, seed, run_dir, pins):
    """Generate the workload's inputs; return (harness args, expectations)."""
    inputs, warm = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "warm")
    if workload == "ingest_stream":
        expect = gen.queue(inputs, seed, PAYLOADS, DOCS_PER_PAYLOAD)
        gen.queue(warm, seed + 1_000_003, 2, DOCS_PER_PAYLOAD // 2, replay_frac=0.0)
        return ["--inputs", inputs, "--warm", warm], expect
    if workload == "nlp_batch":
        expect = gen.corpus(inputs, seed, NLP_POSTS, NLP_COMMENTS)
        gen.corpus(warm, seed + 1_000_003, 30, NLP_COMMENTS)
        pin = pins.get("nlp", {})
        expect["fp"] = pin.get("fp") if seed == pin.get("seed") else None
        return ["--inputs", inputs, "--warm", warm], expect
    pool = pins["queries"]
    sampled = gen.sample(pool, QUERY_PICKS)
    order = gen.order(sampled, seed)
    return ["--inputs", tables_dir(), "--warm", ",".join(warm_queries(pool, sampled)),
            "--queries", ",".join(order)], {"queries": order}


def warm_queries(pool, sampled, modules=WARM_MODULES):
    """The cheapest query outside the sample in each of the `modules`
    largest modules. Set-up runs them so that the JIT has compiled the
    planner, optimizer and code generator before the timed pass; without
    them the first queries of a pass ran 3-5x their reference time, and
    the run order, not the program, set the median."""
    sizes = {}
    for q in pool.values():
        sizes[q["module"]] = sizes.get(q["module"], 0) + 1
    largest = sorted(sizes, key=lambda m: (-sizes[m], m))[:modules]
    return [min((q for q in pool if pool[q]["module"] == m and q not in sampled),
                key=lambda q: (pool[q]["ref_ms"], q)) for m in largest]


def harness(classes, workload, cores, seconds, trace, args, run_dir, deadline):
    work = os.path.join(run_dir, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(run_dir, "raw.json")
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = (["java", "-XX:-UsePerfData"] + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + HEAP + [f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'harness', 'log4j2.properties')}",
              "-cp", ":".join([classes, os.path.join(ROOT, "src/main/resources"),
                               os.path.join(spark_jars(), "*")]),
              "perfbench.Harness", "--workload", workload, "--cores", str(cores),
              "--seconds", str(seconds), "--trace", str(trace), "--work", work,
              "--out", out] + args)
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                           cwd=run_dir, timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        fail("harness ran out of time")
    if r.returncode != 0 or not os.path.exists(out):
        fail(f"harness exited with {r.returncode}")
    with open(out) as f:
        return json.load(f)


def host_record(raw):
    before, after = raw["host"]["before"], raw["host"]["after"]
    wall_s = (after["t"] - before["t"]) / 1000.0
    steal = after["steal_ms"] - before["steal_ms"]
    return {
        "steal_ms": steal, "proc_cpu_ms": after["proc_cpu_ms"] - before["proc_cpu_ms"],
        "load1": [before["load1"], after["load1"]], "nproc": raw["host"]["nproc"],
        "spark_version": raw["host"]["spark_version"], "java_version": raw["host"]["java_version"],
        "measured_s": wall_s,
        # A quarter core-second of hypervisor steal per wall-second marks the
        # window as noisy: on a 4-vCPU host, 7.5 core-s stolen in a 16-s
        # ingest window slowed its micro-batches by 40%. (graft.Bench flags
        # only a whole core per second.)
        "noisy": steal >= 250.0 * wall_s,
    }


def run(a):
    t_start = time.time()
    classes = build()
    deadline = time.time() + RUN_BUDGET_S
    pins = load_pins()
    run_dir = os.path.join(OUT, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args, expect = prepare(a.workload, a.seed, run_dir, pins)
    raw = harness(classes, a.workload, a.cores, a.seconds, a.trace, args, run_dir, deadline)
    attempted, failed, problems = report.check(raw, expect, pins)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    checks = {"attempted": attempted, "failed": failed}
    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in report.per_layer(raw, checks).items()}
        trace_path = os.path.join(OUT, "traces", f"{a.workload}-{a.seed}.json")
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        with open(trace_path, "w") as f:
            json.dump(report.trace_spans(raw), f)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in report.end_to_end(raw).items()}
    record = {"workload": a.workload, "seed": a.seed, "cores": a.cores, "trace": a.trace,
              "seconds": a.seconds, "units": len(raw["units"]), "ops": len(raw["ops"]),
              "setup_s": raw["setup_s"], "host": host_record(raw),
              "run_s": time.time() - t_start, "problems": problems[:20]}
    if record["host"]["noisy"]:
        print("perfbench: noisy run: hypervisor steal above a quarter core per second",
              file=sys.stderr)
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(OUT, "results", f"{a.workload}-{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump({"record": record, "metrics": metrics}, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"record": record}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


UNITS = {"_ms": "ms", "_bytes": "bytes", "_s": "s"}


def unit_of(name):
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    if name.endswith(("cpu_util", "sink_growth", "failed_frac")):
        return "ratio"
    if name.endswith("tail_pct"):
        return "%"
    return "count"


def pin(a):
    """Re-pin perfbench/pins.json. Every non-NLP query runs in each of three
    processes (one query_mix run, so two passes each) on the query_mix tables, two at --cores and one at a
    single core; a query enters the sample pool only if it succeeded every
    time with the same fingerprint. Its reference time, which the sample's
    strata are cut by, is the fastest at --cores. The nlp_batch fingerprint
    is pinned at DEFAULT_SEED."""
    classes = build()
    runs = []
    for i, cores in enumerate((a.cores, a.cores, 1)):
        run_dir = os.path.join(OUT, "runs", f"pin{i}")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        runs.append(harness(classes, "query_mix", cores, 0, 0,
                            ["--inputs", tables_dir(), "--warm", tables_dir(), "--queries", "all"],
                            run_dir, time.time() + 3600))
    queries, excluded = {}, {}
    for q, module in sorted(runs[0]["checks"]["modules"].items()):
        ops = [o for r in runs for o in r["ops"] if o["name"] == q]
        if not all(o["ok"] for o in ops):
            excluded[q] = "failed"
        elif len({(o["rows"], o["fp"]) for o in ops}) > 1:
            excluded[q] = "fingerprint differs between runs or core counts"
        else:
            queries[q] = {"module": module, "rows": ops[0]["rows"], "fp": ops[0]["fp"],
                          "ref_ms": round(min(o["ms"] for r in runs[:2] for o in r["ops"]
                                              if o["name"] == q), 1)}
    run_dir = os.path.join(OUT, "runs", "pin-nlp")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args, _ = prepare("nlp_batch", DEFAULT_SEED, run_dir, {})
    nlp = harness(classes, "nlp_batch", a.cores, 0, 0, args, run_dir, time.time() + 3600)
    pins = {"table_sf": TABLE_SF, "cores": a.cores,
            "nlp": {"seed": DEFAULT_SEED, "rows": nlp["checks"]["nlp"]["rows"],
                    "fp": nlp["checks"]["nlp"]["fp"]},
            "queries": queries, "excluded": excluded}
    with open(PINS, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"perfbench: pinned {len(queries)} queries, excluded {len(excluded)}", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--pin", action="store_true", help="re-pin perfbench/pins.json")
    a = ap.parse_args()
    if a.pin:
        return pin(a)
    if not a.workload:
        fail("--workload is required")
    run(a)


if __name__ == "__main__":
    main()
