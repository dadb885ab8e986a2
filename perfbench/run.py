#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run compiles graft and the
benchmark (``build.py``); later runs reuse the classes while no source
changed. Inputs come from ``gen.py`` and depend only on ``--seed``. The JVM
side (``scala/graftbench``) builds its session with ``GraftSession.local``
on every core of the host and drives graft through its public functions
only: ``KafkaWire``, ``Etl``, ``Sinks``, ``Streams`` and
``SparkEntry.byName(..).run``.

Workloads (each one client process, Spark ``local[nproc]``):

* ``etl_ingest``: closed loop, one client calling ``Etl.runBatch`` on
  successive slices of a parquet topic staged by ``KafkaWire.surrogate``,
  with a ``Sinks.compactParquet`` sink and a read-back. One op is one batch;
  work is clean rows committed. Exercises JSON parse/clean and sink writes.
* ``query_mix``: closed loop, one client running ordered passes over 14
  oracle-checked queries at sf0.01: a short class bound by per-query fixed
  cost (planning, codegen, scheduling: executors ~7 % busy in a traced run)
  and a heavy class bound by iteration and under-parallel stages (executors
  ~25 % busy). One op is one query; work is queries completed.
* ``stream_ingest``: open loop, one generator thread handing each chunk of
  events at a fixed rate to two queries that run side by side, each the way
  graft runs it: ``Streams.dedupWithinWatermark`` (as q44) and
  ``Streams.hourlyCountsAppend`` (as q37). One op is one chunk, timed from
  hand-off to the later of the two commits of the micro-batches that
  consumed it; work is events committed. Exercises the state store, the
  offset/commit log and per-batch planning.

End-to-end metrics (``--trace 0``), the same names on every workload:
``setup_s`` (from run start, after the build, to the first timed op:
input generation, JVM and session start, staging and untimed warm-up),
``live_heap_mb`` (the JVM heap in use after a full collection once the timed
work is over, under a fixed ``-Xmx``: what the program retains, such as
state-store maps, cached tables and memory sinks. The resident-memory figures
``mem.peak_rss_mb`` (VmHWM) and ``mem.rss_after_gc_mb`` go to the run
metadata and the per-layer metrics: VmHWM mostly shows when the collector
ran, and resident memory after the collection still moves with native
allocations, by up to a sixth between runs of query_mix), ``op_p50_ms`` and
``op_tail_ms`` (median and tail of the per-op wall time; the tail is the
highest percentile with at least ten samples beyond it, see ``stats.tail``)
and ``work_per_s``. A 10 s etl_ingest or query_mix run has fewer than 40
ops, so there ``op_tail_ms`` equals ``op_p50_ms``; stream_ingest has ~200.
query_mix counts only whole passes: the queries run after the last whole
pass, once the time is up, are checked but not timed. The
line before the result carries the run metadata, ``fail_ratio`` and the
workload's own figures (``etl.rows_per_s``, ``mix.short_pass_s``,
``stream.lag_p50_ms``, ...).

``--trace 1`` runs the workload untraced and then traced, and reports the
``per_layer`` metrics of BENCHMARK.json (see ``summarize.py``); per-op
self-time tables go to standard error. Every answer is checked: a wrong or
failed op counts in ``failed`` and is never timed as a success.

Tests: ``python3 -m unittest discover -s perfbench/tests``.
"""
import argparse
from datetime import datetime
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402
import summarize  # noqa: E402

# Pass order of query_mix, with each query's pack. At this scale a short
# query costs 0.2-1 s warm, a heavy one 1-3.5 s.
SHORT = ["q01_pricing_summary", "q03_filter_project", "q05_join_priority_agg",
         "q07_revenue_by_nation", "q10_window_topk", "q12_distinct", "q14_rollup",
         "q19_events_json", "q24_text_tokens", "q30_etl_parse_clean",
         "q31_etl_stats"]
HEAVY = ["q35_cosine_topk", "q74_dedup_clusters_native", "q107_fuzzy_name_dedup"]
CLASSES = {"short": SHORT, "heavy": HEAVY}
PACKS = {
    "RelationalPack": SHORT[:8],
    "TextDedupPack": ["q24_text_tokens", "q74_dedup_clusters_native",
                      "q107_fuzzy_name_dedup"],
    "EtlPack": ["q30_etl_parse_clean", "q31_etl_stats"],
    "VectorPack": ["q35_cosine_topk"],
}

# etl_ingest: 4 topic slices of 10k deliveries (~0.8 s a batch on 4 cores), the
# first 8 batches untimed (the first takes ~3 s; later ones still get faster
# as the JIT warms up, which a longer warm-up would not pay for in run time).
# stream_ingest: 1000 events/s in 50 ms chunks on a
# 2 s processing-time trigger sits below saturation (a warm micro-batch of
# either query takes 0.6-1.3 s on 4 cores); the trigger's fixed grid starts
# both queries' batches together, so a chunk's lag is its wait for the next
# tick plus the batch. The first 3 s of chunks are untimed and committed
# before timing starts.
ETL = dict(slices=4, per_slice=10000, warmup=8)
STREAM = dict(rate=1000, period_ms=50, trigger_ms=2000, warmup_s=3)
# A fixed heap ceiling, so runs compare. Nothing is pre-touched: the JVM's
# resident memory follows what the program uses. The full collection that
# ends a run hands all free heap back at once, not in steps.
HEAP = "2g"
RUN_LIMIT_S = 170  # a run ends within 180 s once built; JVMs are killed past this
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def cores():
    return len(os.sched_getaffinity(0))


def fingerprint(paths):
    digest = hashlib.sha256()
    for p in sorted(paths):
        for dirpath, _, files in sorted(os.walk(p)) if os.path.isdir(p) else [("", [], [p])]:
            for f in sorted(files):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    digest.update(fh.read())
    return digest.hexdigest()[:12]


def prepare(workload, seed, seconds, work):
    """Generate the run's inputs into ``work``; return (JVM config, truth,
    input fingerprint)."""
    if workload == "etl_ingest":
        keys, values, truth = gen.airport_messages(seed, ETL["slices"], ETL["per_slice"])
        path = os.path.join(work, "airports_raw.parquet")
        gen.write_airport_messages(path, keys, values)
        return dict(ETL), truth, fingerprint([path])
    if workload == "query_mix":
        tables = os.path.join(work, "tables")
        os.makedirs(tables)
        gen.write_query_tables(tables, gen.query_tables(seed))
        return dict(queries=SHORT + HEAVY), None, fingerprint([tables])
    per_chunk = STREAM["rate"] * STREAM["period_ms"] // 1000
    warmup = STREAM["warmup_s"] * 1000 // STREAM["period_ms"]
    n_chunks = warmup + int(seconds * 1000 // STREAM["period_ms"])
    events = gen.stream_events(seed, n_chunks, per_chunk, late_from=warmup)
    path = os.path.join(work, "stream_events.parquet")
    gen.pq.write_table(events, path)
    return (dict(period_ms=STREAM["period_ms"], trigger_ms=STREAM["trigger_ms"], warmup=warmup),
            events, fingerprint([path]))


def run_jvm(cfg, cp, work, deadline):
    cfg_path = os.path.join(work, "config.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    tmp = os.path.join(work, "tmp")
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-ShrinkHeapInSteps", "-Xss8m", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={tmp}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main", cfg_path])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:  # also on SIGTERM (see main): never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        sys.stderr.write(open(log).read()[-20000:])
        raise SystemExit(f"perfbench: JVM run failed ({code})")
    with open(cfg["out"]) as f:
        return json.load(f)


def oracle_status(root, work):
    """Run tools/check_oracle.py over the warm pass's results."""
    proc = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "check_oracle.py"),
         os.path.join(work, "tables"), os.path.join(work, "verify")],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    return stats.parse_oracle(proc.stdout)


def cpu_ticks():
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def run_once(root, cp, workload, seed, seconds, trace, deadline):
    t_setup0 = time.time() * 1000
    work = os.path.join(HERE, ".work", f"{workload}-{os.getpid()}-{int(trace)}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        params, truth, inputs_fp = prepare(workload, seed, seconds, work)
        cfg = dict(params, workload=workload, work=work, cores=cores(), seconds=seconds,
                   trace=trace, out=os.path.join(work, "out.json"))
        steal0, total0 = cpu_ticks()
        raw = run_jvm(cfg, cp, work, deadline)
        steal1, total1 = cpu_ticks()
        # CPU time the hypervisor gave to other guests: drift between runs
        # on a shared host shows here
        raw.update(t_setup0_ms=t_setup0, inputs=inputs_fp, per_slice=ETL["per_slice"],
                   host_steal_pct=100 * (steal1 - steal0) / max(1, total1 - total0))
        if workload == "query_mix":
            raw["oracle"] = oracle_status(root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return raw, truth


def _window_s(ops, first_op_ms):
    return (max(o["end"] for o in ops) - first_op_ms) / 1000


def _need(timed):
    if not timed:
        raise SystemExit("perfbench: no timed op gave a correct answer")
    return timed


def evaluate(workload, raw, truth):
    """Check every op, and reduce the raw observations to samples, work rate
    and the workload's own figures."""
    ev = dict(setup_s=(raw["first_op_ms"] - raw["t_setup0_ms"]) / 1000)
    if workload == "etl_ingest":
        ok = {o["id"]: stats.etl_batch_ok(o, truth[o["slice"]]) for o in raw["ops"]}
        timed = _need([o for o in raw["ops"] if o["timed"] and ok[o["id"]]])
        rows_per_s = sum(o["n_clean"] for o in timed) / _window_s(timed, raw["first_op_ms"])
        walls = [o["end"] - o["start"] for o in timed]
        p, t = stats.tail(walls)
        ev.update(work_per_s=rows_per_s, detail={
            "etl.rows_per_s": rows_per_s, "etl.batch_p50_s": statistics.median(walls) / 1000,
            "etl.batch_tail_s": t / 1000, "etl.batch_tail_pct": p})
    elif workload == "query_mix":
        oracle = raw["oracle"]
        checked = {o["query"]: o.get("rows") for o in raw["ops"] if not o["timed"]}
        ok = {o["id"]: stats.query_ok(o, checked[o["query"]], oracle.get(o["query"]))
              for o in raw["ops"]}
        timed = _need([o for o in raw["ops"] if o["timed"] and ok[o["id"]]])
        # only passes that ran every query count (the first always does), so
        # every run measures the same mix of short and heavy queries
        passes = [p for p in sorted({o["pass"] for o in timed})
                  if len({o["query"] for o in timed if o["pass"] == p}) == len(checked)]
        if passes:
            timed = [o for o in timed if o["pass"] in passes]
        else:
            passes = sorted({o["pass"] for o in timed})
        walls = [o["end"] - o["start"] for o in timed]
        pass_s = lambda cls: statistics.median(
            sum(o["end"] - o["start"] for o in timed if o["pass"] == p and o["query"] in cls)
            / 1000 for p in passes)
        ev.update(work_per_s=len(timed) / _window_s(timed, raw["first_op_ms"]), detail={
            "mix.short_pass_s": pass_s(SHORT), "mix.heavy_pass_s": pass_s(HEAVY),
            "mix.passes": len(passes),
            "mix.oracle_exact": sum(v == "EXACT" for v in oracle.values())})
    else:
        batches = {}  # (query name, batch id) -> last progress of that batch
        for p in raw["progress"]:
            batches[(p["name"], p["batchId"])] = p
        commits = {}
        for (name, _), p in batches.items():
            src = p["sources"][0]
            start = -1 if src["startOffset"] is None else int(src["startOffset"])
            end = -1 if src["endOffset"] is None else int(src["endOffset"])
            done = _epoch_ms(p["timestamp"]) + p["durationMs"]["triggerExecution"]
            commits.setdefault(name, []).append((start, end, done))
        chunks = []
        for c, due, handoff, offset, n in raw["handoffs"]:
            # a chunk is done once every query has committed the batch holding it
            dones = [next((d for s, e, d in cs if s < offset <= e), None)
                     for cs in commits.values()]
            done = None if None in dones or len(dones) < 2 else max(dones)
            chunks.append(dict(id=c, due=due, handoff=handoff, done=done, n=n,
                               timed=handoff >= raw["first_op_ms"] - 1))
        wm_us = 1000 * max(_epoch_ms(p["eventTime"]["watermark"])
                           for (name, _), p in batches.items()
                           if name == "bench_hourly" and "watermark" in p.get("eventTime", {}))
        batch_on_time = {(s, t): n for s, t, n in raw["batch"] if s >= gen.EPOCH_2024}
        dedup = sorted(map(tuple, raw["dedup_emitted"]))
        answers_ok = (stats.stream_windows_ok(raw["emitted"], raw["batch"], wm_us, gen.EPOCH_2024)
                      and batch_on_time == gen.hourly_truth(truth)
                      and dedup == sorted(map(tuple, raw["dedup_batch"])) == gen.dedup_truth(truth))
        ok = {c["id"]: answers_ok and c["done"] is not None for c in chunks}
        timed = _need([c for c in chunks if c["timed"] and ok[c["id"]]])
        walls = [c["done"] - c["handoff"] for c in timed]
        # events per second between the first and the last timed commit: the
        # offered rate while the stream keeps up, less once a backlog grows
        drained = sum(c["n"] for c in timed) / (
            (max(c["done"] for c in timed) - min(c["done"] for c in timed)
             + STREAM["period_ms"]) / 1000)
        p, t = stats.tail(walls)
        first, last = min(c["handoff"] for c in timed), max(c["done"] for c in timed)
        timed_batches = [b for b in batches.values() if b["numInputRows"] > 0
                         and first <= _epoch_ms(b["timestamp"]) <= last]
        # a micro-batch's Spark jobs carry its query's run id as job group
        op_walls = {f"{b['runId']}:b{b['batchId']}":
                    (_epoch_ms(b["timestamp"]),
                     _epoch_ms(b["timestamp"]) + b["durationMs"]["triggerExecution"])
                    for b in timed_batches}
        last_batches = [max((b for (n, _), b in batches.items() if n == name),
                            key=lambda b: b["batchId"]) for name in commits]
        ev.update(work_per_s=drained, gen_late_ms=[c["handoff"] - c["due"] for c in timed],
                  batches=timed_batches, last_batches=last_batches,
                  detail={"stream.lag_p50_ms": statistics.median(walls),
                          "stream.lag_tail_ms": t, "stream.lag_tail_pct": p,
                          "stream.drained_per_s": drained,
                          "stream.offered_per_s": STREAM["rate"]})
    attempted = len(ok)
    failed = sum(not v for v in ok.values())
    if workload != "stream_ingest":
        op_walls = {o["id"]: (o["start"], o["end"]) for o in timed}
    ev.update(samples=walls, attempted=attempted, failed=failed, op_walls=op_walls,
              correct=failed == 0 and len(walls) > 0)
    return ev


def _epoch_ms(iso):
    """Epoch ms of a Spark progress timestamp like 2026-01-01T00:00:00.123Z."""
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000


def end_to_end(raw, ev):
    p, t = stats.tail(ev["samples"])
    return {
        "setup_s": {"value": ev["setup_s"], "unit": "s"},
        "live_heap_mb": {"value": raw["live_heap_mb"], "unit": "MB"},
        "op_p50_ms": {"value": statistics.median(ev["samples"]), "unit": "ms"},
        "op_tail_ms": {"value": t, "unit": "ms"},
        "work_per_s": {"value": ev["work_per_s"], "unit": "1/s"},
    }, p


def source_rev(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True,
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return "sources:" + open(build.STAMP).read()[:12]


def main(argv):
    ap = argparse.ArgumentParser(description="graft benchmark (see module docstring)")
    ap.add_argument("--workload", required=True,
                    choices=["etl_ingest", "query_mix", "stream_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    cp = build.build(root)
    deadline = time.time() + RUN_LIMIT_S
    raw, truth = run_once(root, cp, args.workload, args.seed, args.seconds, False, deadline)
    ev = evaluate(args.workload, raw, truth)
    metrics, tail_pct = end_to_end(raw, ev)
    attempted, failed, correct = ev["attempted"], ev["failed"], ev["correct"]
    if args.trace:
        traced, truth = run_once(root, cp, args.workload, args.seed, args.seconds, True,
                                 deadline)
        tev = evaluate(args.workload, traced, truth)
        lines, sums_ok = summarize.self_time_report(traced["trace"], list(tev["op_walls"]),
                                                    traced.get("etl_layers", ()))
        sys.stderr.write("\n".join(lines) + f"\nself times add up within "
                         f"{summarize.SELF_TIME_TOLERANCE:.0%}: {sums_ok}\n")
        os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
        for tag, r, e in (("trace", traced, tev), ("plain", raw, ev)):
            with open(os.path.join(HERE, ".work", f"last-{args.workload}-{tag}.json"), "w") as f:
                json.dump(dict(r, samples=e["samples"]), f)
        per = summarize.per_layer(args.workload, traced, tev, ev, cores(), CLASSES, PACKS)
        units = {n: u for n, u, _ in summarize.ENGINE + summarize.MODULES
                 + summarize.query_metrics(SHORT + HEAVY, PACKS, CLASSES)}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in per.items()}
        attempted += tev["attempted"]
        failed += tev["failed"]
        correct = correct and tev["correct"] and sums_ok
    meta = dict(workload=args.workload, seed=args.seed, cores=cores(), seconds=args.seconds,
                trace=args.trace, spark_version=raw["spark_version"], rev=source_rev(root),
                inputs=raw["inputs"], confs=raw["confs"], host_calib_s=raw["calib_s"],
                host_steal_pct=raw["host_steal_pct"],
                session_build_s=raw["session_build_s"], peak_rss_mb=raw["peak_rss_mb"],
                rss_after_gc_mb=raw["rss_after_gc_mb"], samples=len(ev["samples"]),
                tail_pct=tail_pct, fail_ratio=failed / attempted, **ev["detail"])
    print(json.dumps({"run": meta}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
