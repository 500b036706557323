"""Metrics, checks and trace arithmetic over the harness's raw result file.

The JVM harness records raw timings, listener events and check inputs;
everything derived from them (percentiles, the span tree and self times,
per-layer metrics, correctness) is computed here, where the self-tests
can reach it without Spark.
"""
import math
import statistics

# Beyond a reported tail percentile there must be at least this many samples.
MIN_BEYOND = 10
TAIL_CANDIDATES = (99, 95, 90, 80, 75, 50)

# Span kinds from the outside in; a span's parent is the innermost span of
# a lower level that contains it (stages hang off their job explicitly).
LEVELS = {"run": 0, "unit": 1, "item": 2, "build": 3, "execute": 3,
          "sink": 3, "job": 4, "stage": 5}

# StreamingQueryProgress.durationMs keys -> per-layer metric names.
STREAM_PHASES = {"latestOffset": "latest_offset_ms", "getBatch": "get_batch_ms",
                 "queryPlanning": "query_planning_ms", "addBatch": "add_batch_ms",
                 "walCommit": "wal_commit_ms", "commitOffsets": "commit_offsets_ms"}


def median(xs):
    return statistics.median(xs)


def beyond(n, p):
    """Samples strictly beyond the nearest-rank p-th percentile of n."""
    return n - math.ceil(p / 100.0 * n)


def percentile(xs, p):
    """Nearest-rank p-th percentile. A percentile above the median is only
    reported with at least MIN_BEYOND samples beyond it."""
    if not xs:
        raise ValueError("no samples")
    if p > 50 and beyond(len(xs), p) < MIN_BEYOND:
        raise ValueError(f"p{p} needs {MIN_BEYOND} samples beyond it; "
                         f"{len(xs)} samples leave {beyond(len(xs), p)}")
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def highest_supported(n):
    """The highest candidate percentile n samples support (at least 50)."""
    for p in TAIL_CANDIDATES:
        if p <= 50 or beyond(n, p) >= MIN_BEYOND:
            return p
    return 50


def union_ms(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [start, end) intervals, clipped to [lo, hi)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def build_tree(spans, slack=1.0):
    """Give each span an id, a parent id and a self time.

    spans: dicts with kind, name, start, end (ms); a stage also carries
    "job" (its job's id) and a job "job_id". A span's parent is the
    innermost span of a lower level whose interval holds the child's start
    (within `slack` ms, since listener times are whole milliseconds). Self
    time is the span's duration minus the part its children cover."""
    out = [dict(s, id=i, parent=None) for i, s in enumerate(spans)]
    by_job = {s["job_id"]: s for s in out if s["kind"] == "job"}
    ordered = sorted(out, key=lambda s: LEVELS[s["kind"]])
    placed = []
    for s in ordered:
        lvl = LEVELS[s["kind"]]
        if s["kind"] == "stage" and s.get("job") in by_job:
            s["parent"] = by_job[s["job"]]["id"]
        else:
            best = None
            for p in placed:
                if (LEVELS[p["kind"]] < lvl and p["start"] - slack <= s["start"] <= p["end"] + slack
                        and (best is None or LEVELS[p["kind"]] > LEVELS[best["kind"]]
                             or (LEVELS[p["kind"]] == LEVELS[best["kind"]] and p["start"] > best["start"]))):
                    best = p
            s["parent"] = None if best is None else best["id"]
        placed.append(s)
    kids = {}
    for s in out:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for s in out:
        s["self_ms"] = (s["end"] - s["start"]) - union_ms(kids.get(s["id"], []), s["start"], s["end"])
    return out


def _in_units(t, units):
    return any(u["start"] - 1 <= t <= u["end"] + 1 for u in units)


def trace_spans(raw):
    """The run's span list: run → unit → item → sub-item → job → stage."""
    units = raw["units"]
    spans = [{"kind": "run", "name": raw["workload"],
              "start": min(u["start"] for u in units), "end": max(u["end"] for u in units)}]
    spans += [{"kind": "unit", "name": f"unit{u['unit']}", "start": u["start"],
               "end": u["end"], "traced": u["traced"]} for u in units]
    spans += [{"kind": s["kind"], "name": s["name"], "start": s["start"], "end": s["end"]}
              for s in raw["spans"]]
    job_of = {}
    for j in raw["jobs"]:
        spans.append({"kind": "job", "name": f"job{j['id']}", "job_id": j["id"],
                      "start": j["start"], "end": j["end"]})
        for st in j["stages"]:
            job_of[int(st)] = j["id"]
    for st in raw["stages"]:
        if st["end"] > 0:
            spans.append({"kind": "stage", "name": f"stage{st['id']}.{st['attempt']}",
                          "job": job_of.get(st["id"]), "start": st["start"], "end": st["end"]})
    return build_tree(spans)


def end_to_end(raw):
    units = [u for u in raw["units"] if not u["traced"]]
    ops = [o["ms"] for o in raw["ops"] if any(o["unit"] == u["unit"] for u in units)]
    return {
        "setup_s": (raw["setup_s"], "s"),
        "wall_s": (median([(u["end"] - u["start"]) / 1000.0 for u in units]), "s"),
        "op_p50_ms": (median(ops), "ms"),
        "peak_rss_mb": (raw["peak_rss_kb"] / 1024.0, "MB"),
    }


def per_layer(raw, checks):
    """Every per-layer metric, each as a total per traced unit of work
    (streaming timings per micro-batch). Layers a workload does not reach
    report 0."""
    traced = [u for u in raw["units"] if u["traced"]]
    untraced = [u for u in raw["units"] if not u["traced"]]
    n = max(1, len(traced))
    tspan = trace_spans(raw)
    inside = [s for s in tspan if s["kind"] not in ("run", "unit") and _in_units(s["start"], traced)]
    by_id = {s["id"]: s for s in tspan}
    m = {}

    def total(kind, name=None):
        return sum(s["end"] - s["start"] for s in inside
                   if s["kind"] == kind and (name is None or s["name"] == name))

    # operators
    modules = raw["checks"].get("modules", {})
    m["operators.build_ms"] = total("build") / n
    m["operators.eager_jobs"] = sum(1 for s in inside if s["kind"] == "job" and s["parent"] is not None
                                    and by_id[s["parent"]]["kind"] == "build") / n
    for mod in raw["modules"]:
        m[f"operators.{mod}.wall_ms"] = sum(
            s["end"] - s["start"] for s in inside
            if s["kind"] == "item" and modules.get(s["name"]) == mod) / n
    m["operators.analyze_ms"] = total("item", "analyze") / n
    m["operators.materialize_ms"] = total("item", "materialize") / n

    # plans
    actions = [a for a in raw["actions"] if _in_units(a["end"], traced)]
    m["plans.plan_ms"] = sum(a["plan_ms"] for a in actions) / n
    m["plans.codegen_ms"] = raw["codegen"]["ms"] / n

    # scheduler
    jobs = [s for s in inside if s["kind"] == "job"]
    stage_ids = {(st["id"], st["attempt"]) for st in raw["stages"] if _in_units(st["end"], traced)}
    stages = [st for st in raw["stages"] if (st["id"], st["attempt"]) in stage_ids]
    tasks = [t for t in raw["tasks"] if _in_units(t[2], traced)]
    items = [s for s in inside if s["kind"] == "item"]
    m["scheduler.jobs"] = len(jobs) / n
    m["scheduler.stages"] = len(stages) / n
    m["scheduler.tasks"] = len(tasks) / n
    m["scheduler.driver_gap_ms"] = sum(
        (s["end"] - s["start"]) - union_ms([(t[1], t[2]) for t in tasks], s["start"], s["end"])
        for s in items) / n

    # executor
    wall_ms = sum(u["end"] - u["start"] for u in traced)
    cpu = sum(st["cpu_ms"] for st in stages)
    m["executor.task_cpu_ms"] = cpu / n
    m["executor.gc_ms"] = sum(u["gc_ms"] for u in traced) / n
    m["executor.shuffle_write_bytes"] = sum(st["shuffle_write_bytes"] for st in stages) / n
    m["executor.shuffle_read_bytes"] = sum(st["shuffle_read_bytes"] for st in stages) / n
    m["executor.spill_bytes"] = sum(st["spill_bytes"] for st in stages) / n
    m["executor.peak_exec_mem_bytes"] = max([t[3] for t in tasks], default=0)
    m["executor.cpu_util"] = cpu / (wall_ms * raw["cores"]) if wall_ms else 0.0
    stored = [o.get("storage_bytes") or 0 for o in raw["ops"]] + [u["storage_bytes"] for u in traced]
    m["executor.storage_mem_after_bytes"] = max(stored, default=0)

    # tables
    m["tables.scan_ms"] = sum(a["scan_ms"] for a in actions) / n

    # functions
    m["functions.clean_vader_ms"] = raw["layer"].get("functions.clean_vader_ms", 0.0)

    # streaming: per micro-batch, from the traced rounds' progress reports
    traced_ids = {u["unit"] for u in traced}
    prog = [p for p in raw["progress"] if p["round"] in traced_ids]
    nb = max(1, len(prog))
    for phase, name in STREAM_PHASES.items():
        m["streaming." + name] = sum(p["duration"].get(phase, 0.0) for p in prog) / nb
    m["streaming.state_rows"] = max([p["state_rows"] for p in prog], default=0)
    m["streaming.state_mem_bytes"] = max([p["state_mem_bytes"] for p in prog], default=0)
    m["streaming.state_commit_ms"] = sum(p["state_commit_ms"] for p in prog) / nb
    m["streaming.dropped_dups"] = sum(dropped(p) for p in prog) / n
    sinks = [s for s in inside if s["kind"] == "sink"]
    m["streaming.sink_ms"] = sum(s["end"] - s["start"] for s in sinks) / nb if sinks else 0.0
    m["streaming.sink_growth"] = sink_growth(sinks, traced)
    rounds = [checks_round(raw, u) for u in traced]
    m["streaming.sink_files"] = sum(r.get("sink_files", 0) for r in rounds) / n

    # host
    m["host.steal_ms"] = sum(u["steal_ms"] for u in traced) / n
    m["host.proc_cpu_ms"] = sum(u["proc_cpu_ms"] for u in traced) / n

    # whole run
    m["trace.overhead_ms"] = (median([u["end"] - u["start"] for u in traced])
                              - median([u["end"] - u["start"] for u in untraced])) if traced and untraced else 0.0
    ops = [o["ms"] for o in raw["ops"] if o["unit"] not in traced_ids]
    p = highest_supported(len(ops))
    m["ops.count"] = len(ops)
    m["ops.tail_pct"] = p
    m["ops.tail_ms"] = percentile(ops, p) if ops else 0.0
    m["checks.failed_frac"] = checks["failed"] / checks["attempted"]
    return m


def dropped(progress):
    return progress["state_custom"].get("numDroppedDuplicateRows", 0.0)


def checks_round(raw, unit):
    return raw["checks"].get(f"round{unit['unit']}", {})


def sink_growth(sinks, units):
    """Per round: median sink time of the last tenth of its batches over
    that of the first tenth; the median over rounds."""
    ratios = []
    for u in units:
        xs = [s["end"] - s["start"] for s in sorted(sinks, key=lambda s: s["start"])
              if u["start"] - 1 <= s["start"] <= u["end"] + 1]
        k = max(1, len(xs) // 10)
        if len(xs) >= 2 and median(xs[:k]) > 0:
            ratios.append(median(xs[-k:]) / median(xs[:k]))
    return median(ratios) if ratios else 0.0


def check(raw, expect, pins):
    """(attempted, failed, problems) for the run's outputs."""
    attempted, failed, problems = 0, 0, []
    ops = raw["ops"]
    attempted += len(ops)
    bad = [o["name"] for o in ops if not o["ok"]]
    failed += len(bad)
    problems += [f"{b} failed" for b in bad]
    w = raw["workload"]
    if w == "query_mix":
        for o in ops:
            pin = pins["queries"].get(o["name"])
            if o["ok"] and (pin is None or (o["rows"], o["fp"]) != (pin["rows"], pin["fp"])):
                failed += 1
                problems.append(f"{o['name']}: {o['rows']} rows, fingerprint {o['fp']}; pinned {pin}")
    elif w == "ingest_stream":
        for u in raw["units"]:
            r = checks_round(raw, u)
            attempted += expect["docs"] + 1
            missing = expect["docs"] - r.get("distinct", 0)
            duplicated = r.get("landed", 0) - r.get("distinct", 0)
            drops = sum(dropped(p) for p in raw["progress"] if p["round"] == u["unit"])
            failed += abs(missing) + duplicated + (drops != expect["replayed_docs"])
            if missing or duplicated or drops != expect["replayed_docs"]:
                problems.append(f"round {u['unit']}: landed {r.get('landed')} distinct {r.get('distinct')} "
                                f"dropped {drops}; expected {expect['docs']} docs, "
                                f"{expect['replayed_docs']} replayed")
    elif w == "nlp_batch":
        r = raw["checks"].get("nlp", {})
        done = "rows" in r
        outcomes = {
            "analysis rows": done and r["rows"] == expect["expected_rows"],
            "20 topics of 10 words": done and r["topics"] == 20
            and all(k == 10 for k in r["words_per_topic"]),
            "labels follow the ±0.05 thresholds": done and r["mislabeled"] == 0,
        }
        if expect.get("fp") is not None:
            outcomes["pinned fingerprint"] = done and r["fp"] == expect["fp"]
        for name, ok in outcomes.items():
            attempted += 1
            if not ok:
                failed += 1
                problems.append(f"nlp check failed: {name} ({r})")
    return attempted, failed, problems
