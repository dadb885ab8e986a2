"""Trace summariser: per-op layer self times and per-layer metrics.

    python3 perfbench/summarize.py perfbench/.work/last-<workload>-trace.json \
        perfbench/.work/last-<workload>-plain.json

A traced run records spans around each call into a graft module, tagged with
the op id, plus Spark's job, stage, SQL-execution and planning-phase events.
This module attributes events to ops (by job group, streaming batch id, or
the op's time interval), prints each op's self-time table, checks that the
self times add up to the op's wall time within SELF_TIME_TOLERANCE, and
derives the ``per_layer`` metrics of BENCHMARK.json.

A layer's self time is its span's duration minus the part its child spans
cover. SQL executions become children of the innermost span they start in.
Inside ``Etl.runBatch`` each execution is named by what its analyzed plan
computes (``etl_layers`` in the raw record, taken from graft's own functions):
the ``Etl.stats`` columns make it ``etl.stats``, else the ``Etl.clean``
columns ``etl.parse_clean``, else the wire columns ``etl.gate``. One that
matches none stays ``etl.runBatch:sql`` and shows in the self-time table.
"""
import json
import statistics
import sys

SELF_TIME_TOLERANCE = 0.02  # share of op wall time
SELF_TIME_SLACK_MS = 2.0    # Spark stamps events in whole milliseconds
ETL_SQL_LAYERS = ("etl.gate", "etl.parse_clean", "etl.stats")

# (name, unit, better) of every per-layer metric, in BENCHMARK.json order.
ENGINE = [
    ("plan.analysis_ms", "ms", "lower"), ("plan.optimization_ms", "ms", "lower"),
    ("plan.planning_ms", "ms", "lower"), ("codegen.compiles", "count", "lower"),
    ("codegen.compile_ms", "ms", "lower"), ("sched.jobs", "count", "lower"),
    ("sched.stages", "count", "lower"), ("sched.tasks", "count", "lower"),
    ("sched.delay_ms", "ms", "lower"), ("exec.run_ms", "ms", "lower"),
    ("exec.cpu_ms", "ms", "lower"), ("exec.gc_ms", "ms", "lower"),
    ("exec.deser_ms", "ms", "lower"), ("exec.busy_ratio", "ratio", "higher"),
    ("exec.single_task_stages", "count", "lower"), ("exec.task_skew", "ratio", "lower"),
    ("exec.peak_mem_bytes", "bytes", "lower"), ("shuffle.write_bytes", "bytes", "lower"),
    ("shuffle.read_bytes", "bytes", "lower"), ("shuffle.fetch_wait_ms", "ms", "lower"),
    ("spill.disk_bytes", "bytes", "lower"), ("driver.idle_ms", "ms", "lower"),
    ("scan.bytes", "bytes", "lower"), ("scan.rows", "count", "lower"),
]
MODULES = [
    ("session.build_s", "s", "lower"), ("wire.stage_s", "s", "lower"),
    ("etl.gate_s", "s", "lower"), ("etl.parse_clean_s", "s", "lower"),
    ("etl.stats_s", "s", "lower"), ("etl.clean_ratio", "ratio", "higher"),
    ("sink.write_s", "s", "lower"), ("sink.readback_s", "s", "lower"),
    ("sink.bytes", "bytes", "lower"), ("sink.files", "count", "lower"),
    ("sink.bytes_per_row", "bytes", "lower"),
    ("stream.batches", "count", "higher"), ("stream.rows_per_batch", "count", "higher"),
    ("stream.trigger_ms", "ms", "lower"), ("stream.get_batch_ms", "ms", "lower"),
    ("stream.query_planning_ms", "ms", "lower"), ("stream.add_batch_ms", "ms", "lower"),
    ("stream.wal_commit_ms", "ms", "lower"), ("stream.commit_offsets_ms", "ms", "lower"),
    ("stream.state_rows", "count", "lower"), ("stream.state_mem_bytes", "bytes", "lower"),
    ("stream.state_commit_ms", "ms", "lower"), ("stream.late_dropped", "count", "higher"),
    ("stream.dup_dropped_ratio", "ratio", "higher"), ("stream.gen_late_ms", "ms", "lower"),
    ("mem.peak_rss_mb", "MB", "lower"), ("mem.rss_after_gc_mb", "MB", "lower"),
    ("host.calib_s", "s", "lower"), ("trace.overhead_pct", "%", "lower"),
]


def query_metrics(queries, packs, classes):
    return ([(f"mix.q.{q.split('_')[0]}_s", "s", "lower") for q in queries]
            + [(f"mix.pack.{p}_s", "s", "lower") for p in packs]
            + [(f"mix.{c}.exec_busy_ratio", "ratio", "higher") for c in classes]
            + [(f"mix.{c}.driver_idle_share", "ratio", "lower") for c in classes])


def _union_ms(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def etl_layer(columns, layers):
    """The ``Etl.runBatch`` layer an execution belongs to: the first of
    ``layers`` ([name, columns], most derived first) whose columns its
    analyzed plan all produces, or None."""
    cols = set(columns)
    return next((name for name, need in layers if set(need) <= cols), None)


def op_trees(trace, layers=()):
    """{op id: [(layer, start, end, parent layer)]} from spans plus the SQL
    executions that start inside them, each clipped to its parent.
    ``layers`` names the executions ``Etl.runBatch`` issues (``etl_layer``)."""
    by_op = {}
    for s in trace["spans"]:
        by_op.setdefault(s["op"], []).append(
            (s["name"], float(s["start"]), float(s["end"]), s["parent"]))
    sqls = sorted((float(x["start"]), float(x["end"]), x.get("columns", ()))
                  for x in trace["sql"] if "start" in x and "end" in x)
    for op, nodes in by_op.items():
        root = next(n for n in nodes if n[3] is None)
        for s, e, columns in sqls:
            if not root[1] - 1 <= s <= root[2]:
                continue
            inner = min((n for n in nodes if n[3] != "sql" and n[1] - 1 <= s <= n[2]),
                        key=lambda n: n[2] - n[1])
            s, e = max(s, inner[1]), min(e, inner[2])
            name = None
            if inner is root and root[0] == "etl.runBatch":
                name = etl_layer(columns, layers)
            nodes.append((name or inner[0] + ":sql", s, e, inner[0]))
    return by_op


def self_times(nodes):
    """({layer: self ms}, wall ms) of one op's span tree."""
    root = next(n for n in nodes if n[3] is None)
    out = {}
    for n in nodes:
        kids = [(k[1], k[2]) for k in nodes if k[3] == n[0] and k is not n]
        out[n[0]] = out.get(n[0], 0.0) + (n[2] - n[1]) - _union_ms(kids)
    return out, root[2] - root[1]


def self_time_report(trace, op_ids, layers=()):
    """Lines of the per-op self-time table and whether every op's self times
    add up to its wall time within the tolerance."""
    lines, ok = [], True
    trees = op_trees(trace, layers)
    for op in op_ids:
        if op not in trees:
            continue
        selfs, wall = self_times(trees[op])
        total = sum(selfs.values())
        good = abs(total - wall) <= max(SELF_TIME_SLACK_MS, SELF_TIME_TOLERANCE * wall)
        ok &= good
        cells = "  ".join(f"{k}={v:.1f}" for k, v in sorted(selfs.items(), key=lambda kv: -kv[1]))
        lines.append(f"{op:<28} wall={wall:9.1f} ms  sum={total:9.1f} "
                     f"{'ok ' if good else 'BAD'}  {cells}")
    return lines, ok


def engine_per_op(trace, walls, cores):
    """{op id: {engine metric: value}} for the ops in ``walls`` (op id ->
    (start ms, end ms)). Jobs map to ops by job group or streaming batch id."""
    job_op, job_span = {}, {}
    for j in trace["jobs"]:
        # a micro-batch's jobs carry its batch id and its query's run id as group
        op = f"{j['group']}:b{j['batch']}" if j["batch"] is not None else j["group"]
        if op in walls:
            for st in j["stages"]:
                job_op[st] = op
            job_span.setdefault(op, []).append((float(j["start"]), float(j["end"] or j["start"])))
    per = {op: {k: 0.0 for k, _, _ in ENGINE} for op in walls}
    for st in trace["stages"]:
        op = job_op.get(st["stage"])
        if op is None:
            continue
        m = per[op]
        m["sched.stages"] += 1
        m["sched.tasks"] += st["n"]
        m["sched.delay_ms"] += st["delay_ms"]
        m["exec.run_ms"] += st["run_ms"]
        m["exec.cpu_ms"] += st["cpu_ms"]
        m["exec.gc_ms"] += st["gc_ms"]
        m["exec.deser_ms"] += st["deser_ms"]
        m["shuffle.write_bytes"] += st["shuffle_write"]
        m["shuffle.read_bytes"] += st["shuffle_read"]
        m["shuffle.fetch_wait_ms"] += st["fetch_wait_ms"]
        m["spill.disk_bytes"] += st["spill"]
        m["scan.bytes"] += st["in_bytes"]
        m["scan.rows"] += st["in_rows"]
        m["exec.peak_mem_bytes"] = max(m["exec.peak_mem_bytes"], st["peak_mem"])
        m["exec.single_task_stages"] += st["n"] == 1
        if st["n"] >= 2:
            m["exec.task_skew"] = max(m["exec.task_skew"], st["max_ms"] / max(st["median_ms"], 1))
    for op, (s, e) in walls.items():
        m = per[op]
        wall = max(e - s, 1e-9)
        m["sched.jobs"] = len(job_span.get(op, []))
        m["exec.busy_ratio"] = m["exec.run_ms"] / (cores * wall)
        clipped = [(max(a, s), min(b, e)) for a, b in job_span.get(op, []) if b > s and a < e]
        m["driver.idle_ms"] = wall - _union_ms(clipped)
    for ph in trace["phases"]:
        for name in ("analysis", "optimization", "planning"):
            if name not in ph:
                continue
            a, b = ph[name]
            for op, (s, e) in walls.items():
                if s - 1 <= a <= e:
                    per[op][f"plan.{name}_ms"] += b - a
                    break
    for sp in trace["spans"]:
        if sp["parent"] is None and sp["op"] in per and "codegen_compiles" in sp:
            per[sp["op"]]["codegen.compiles"] = sp["codegen_compiles"]
            per[sp["op"]]["codegen.compile_ms"] = sp["codegen_ms"]
    return per


def _span_median(trace, op_ids, name):
    durs = [float(s["end"]) - float(s["start"]) for s in trace["spans"]
            if s["name"] == name and s["op"] in op_ids]
    return _med(durs) / 1000


def per_layer(workload, raw, ev, plain_ev, cores, classes=None, packs=None):
    """Every per-layer metric for one traced run. ``ev``/``plain_ev`` are the
    evaluations (``run.evaluate``) of the traced and the untraced run;
    ``classes`` maps each query_mix class to its queries."""
    trace = raw["trace"]
    classes = classes or {}
    queries = [q for qs in classes.values() for q in qs]
    m = {k: 0.0 for k, _, _ in ENGINE + MODULES}
    m.update({k: 0.0 for k, _, _ in query_metrics(queries, packs or {}, classes)})
    m["session.build_s"] = raw["session_build_s"]
    m["mem.peak_rss_mb"] = raw["peak_rss_mb"]
    m["mem.rss_after_gc_mb"] = raw["rss_after_gc_mb"]
    m["host.calib_s"] = statistics.mean(raw["calib_s"])
    m["trace.overhead_pct"] = overhead_pct(ev, plain_ev)
    walls = ev["op_walls"]
    per = engine_per_op(trace, walls, cores)
    for k, _, _ in ENGINE:
        m[k] = _med([per[op][k] for op in walls])
    timed = set(walls)
    if workload == "etl_ingest":
        m["wire.stage_s"] = raw["stage_s"]
        trees = op_trees(trace, raw["etl_layers"])
        for layer in ETL_SQL_LAYERS:
            m[layer + "_s"] = _med([sum(n[2] - n[1] for n in trees[op] if n[0] == layer)
                                    for op in timed if op in trees]) / 1000
        ops = [o for o in raw["ops"] if o["id"] in timed]
        m["etl.clean_ratio"] = _med([o["n_clean"] / raw["per_slice"] for o in ops])
        m["sink.write_s"] = _span_median(trace, timed, "sink.write")
        m["sink.readback_s"] = _span_median(trace, timed, "sink.readback")
        m["sink.bytes"] = _med([o["sink_bytes"] for o in ops])
        m["sink.files"] = _med([o["sink_files"] for o in ops])
        m["sink.bytes_per_row"] = _med([o["sink_bytes"] / o["n_clean"] for o in ops])
    elif workload == "query_mix":
        by_q = {}
        for o in raw["ops"]:
            if o["id"] in timed:
                by_q.setdefault(o["query"], []).append((o["end"] - o["start"]) / 1000)
        for q in queries:
            m[f"mix.q.{q.split('_')[0]}_s"] = _med(by_q.get(q, []))
        for p, qs in (packs or {}).items():
            m[f"mix.pack.{p}_s"] = sum(_med(by_q.get(q, [])) for q in qs)
        # what bounds each class: busy executors, or a driver with no job running
        for c, qs in classes.items():
            ops = [o["id"] for o in raw["ops"] if o["id"] in timed and o["query"] in qs]
            wall = sum(walls[op][1] - walls[op][0] for op in ops) or 1e-9
            m[f"mix.{c}.exec_busy_ratio"] = (sum(per[op]["exec.run_ms"] for op in ops)
                                             / (cores * wall))
            m[f"mix.{c}.driver_idle_share"] = sum(per[op]["driver.idle_ms"] for op in ops) / wall
    elif workload == "stream_ingest":
        batches, last = ev["batches"], ev["last_batches"]
        dur = lambda k: _med([b["durationMs"].get(k, 0) for b in batches])
        state = lambda b, k: sum(s.get(k, 0) for s in b.get("stateOperators", []))
        dedup = [b for b in batches if b["name"] == "bench_dedup"]
        rows = sum(b["numInputRows"] for b in dedup)
        dups = sum(s.get("customMetrics", {}).get("numDroppedDuplicateRows", 0)
                   for b in dedup for s in b.get("stateOperators", []))
        m.update({
            "stream.batches": len(batches),
            "stream.rows_per_batch": _med([b["numInputRows"] for b in batches]),
            "stream.trigger_ms": dur("triggerExecution"),
            "stream.get_batch_ms": dur("getBatch"),
            "stream.query_planning_ms": dur("queryPlanning"),
            "stream.add_batch_ms": dur("addBatch"),
            "stream.wal_commit_ms": dur("walCommit"),
            "stream.commit_offsets_ms": dur("commitOffsets"),
            "stream.state_rows": sum(state(b, "numRowsTotal") for b in last),
            "stream.state_mem_bytes": sum(state(b, "memoryUsedBytes") for b in last),
            "stream.state_commit_ms": _med([state(b, "commitTimeMs") for b in batches]),
            "stream.late_dropped": sum(state(b, "numRowsDroppedByWatermark") for b in batches),
            "stream.dup_dropped_ratio": dups / rows if rows else 0.0,
            "stream.gen_late_ms": _med(ev["gen_late_ms"]),
        })
    return m


def overhead_pct(traced, plain):
    """Traced median op wall time against the untraced median, in %."""
    return 100 * (statistics.median(traced["samples"]) / statistics.median(plain["samples"]) - 1)


def main(argv):
    traced = json.load(open(argv[1]))
    op_ids = [s["op"] for s in traced["trace"]["spans"] if s["parent"] is None]
    lines, ok = self_time_report(traced["trace"], op_ids, traced.get("etl_layers", ()))
    print("\n".join(lines))
    print(f"self times add up to wall time within {SELF_TIME_TOLERANCE:.0%}: {ok}")
    if len(argv) > 2:
        print(f"trace.overhead_pct: {overhead_pct(traced, json.load(open(argv[2]))):.2f}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
