"""The benchmark's workloads. Each is one closed loop with a single
client that calls the engine's public entry points, times them from
outside and checks every output against an independent DuckDB answer.

A workload returns an :class:`Outcome`: its set-up time, the wall and
CPU seconds one operation costs, its throughput in rows per second, the
operation counts, the reasons for any failed operation, and its
per-layer metrics (the Spark breakdown with tracing on).
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import gen
from check import (distinct_keys, expected_report, frame_problems,
                   oracle_frame, report_problems)
from spans import (COUNTERS, Tracer, host_steal_s, median, slope, tail_percentile,
                   tree_cpu_s)

#: reader accounts of the share (the demo's two consumers); their
#: security rows come from ``citibike.security_fixture``: ACCT_<region>
#: sees programs named like NATION_<regionkey>%
ACCOUNTS = {"ACCT_AMERICA": "NATION_1%", "ACCT_ASIA": "NATION_2%"}
#: trip-document density: sf0.1 puts 240 or 241 documents in a day-file
PIPELINE_SF = 0.1
#: day-files available to one run (warm-up waves included)
WINDOW_DAYS = 64
#: days of trips the first, untimed wave stages as one file and drains,
#: so the timed waves run against a warehouse that already holds history
BACKLOG_DAYS = 32
#: waves run before timing starts: the backlog wave, which also compiles
#: every plan, then single-day waves; the first two single-day waves
#: still run slower while the JIT compiler catches up
WARMUP_WAVES = 3
#: ``CitibikePipeline.status()`` is polled on every Nth wave counted from
#: the backlog wave (which compiles its plan). Timed waves run in cycles
#: of N waves, each with one poll, so every run's loop has the same mix;
#: at least one cycle, and another only while it is expected (at the
#: median wall of the cycles so far) to end within ``--seconds``
STATUS_EVERY = 3
#: the trickle's layer spans, in call order
TRICKLE_SPANS = ("stream_data", "pipe", "tasks.push_trips",
                 "tasks.push_programs", "tasks.push_stations",
                 "tasks.purge_files", "secure_view.report",
                 "dashboard.status")

LANES_SF = 0.02
#: the analytic path the pipelines leave idle: the secure-view flagship,
#: a star join, VARIANT extraction, a range scan, and three operator
#: families; small enough that a cold and a warm pass fit one run
LANES = {
    "reference": ("flagship_secure_report", "j1_star_join_revenue",
                  "f6_variant_extract", "p2_date_range_filter"),
    "curation": ("x_winnow_fingerprints", "x_semdedup", "x_asof_join"),
}
#: tables each lane scans (for rows_per_s)
LANE_INPUTS = {
    "flagship_secure_report": ("lineitem", "supplier", "nation", "region"),
    "j1_star_join_revenue": ("lineitem", "orders", "customer", "nation", "region"),
    "f6_variant_extract": ("events",),
    "p2_date_range_filter": ("lineitem",),
    "x_winnow_fingerprints": ("documents",),
    "x_semdedup": ("embeddings",),
    "x_asof_join": ("events",),
}
ALL_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")


@dataclass
class Context:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work: str
    started: float  # process start (epoch seconds)


@dataclass
class Outcome:
    setup_s: float
    op_wall_s: float
    rows_per_s: float
    op_cpu_s: float
    attempted: int
    failed: int
    failures: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    info: dict = field(default_factory=dict)


def _data_files(root: str) -> list[str]:
    return sorted(
        os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs
        if not f.startswith(("_", "."))
    )


def _span_sums(tracer: Tracer, names, ops) -> dict[str, dict[str, list[float]]]:
    """name -> counter -> per-op totals (one value per op in ``ops``)."""
    acc = {n: {c: dict.fromkeys(ops, 0.0) for c in COUNTERS} for n in names}
    for s in tracer.spans:
        if s.name in acc and s.op in acc[s.name]["wall_s"]:
            for c in COUNTERS:
                acc[s.name][c][s.op] += s.counters[c]
    return {n: {c: list(v.values()) for c, v in cs.items()} for n, cs in acc.items()}


def _session_layers(tracer: Tracer, ops) -> dict[str, float]:
    spans = [s for s in tracer.spans if s.op in ops]
    return {
        "spark.gc_s": sum(s.counters["gc_s"] for s in spans),
        "spark.spill_bytes": sum(s.counters["spill_bytes"] for s in spans),
        "spark.tasks": sum(s.counters["tasks"] for s in spans),
    }


# -- pipeline_trickle ---------------------------------------------------------

def pipeline_trickle(ctx: Context) -> Outcome:
    from pyspark.sql import functions as F

    from snowflake_data_pipeline_demo_spark.plans.citibike import (
        security_fixture, trip_docs)
    from snowflake_data_pipeline_demo_spark.plans.secure_view import (
        consumer_report, secure_trips_view)
    from snowflake_data_pipeline_demo_spark.sources import testdata
    from snowflake_data_pipeline_demo_spark.sources.shares import ShareRegistry
    from snowflake_data_pipeline_demo_spark.streaming import pipeline as pipeline_mod
    from snowflake_data_pipeline_demo_spark.streaming.stream_data import stream_data

    spark, tracer = ctx.spark, ctx.tracer
    t_inputs = time.time()
    first = random.Random(ctx.seed).randrange(0, gen.SHIP_DAYS - WINDOW_DAYS)
    days = [(gen.SHIP_EPOCH + dt.timedelta(days=first + i)).strftime("%Y-%m-%d")
            for i in range(WINDOW_DAYS)]
    data = gen.write(os.path.join(ctx.work, "data"), ctx.seed, PIPELINE_SF,
                     ("lineitem", "supplier", "nation", "region"),
                     (first, first + WINDOW_DAYS))
    t = {n: testdata.load(spark, data, n) for n in ("lineitem", "supplier", "nation", "region")}
    docs = trip_docs(t["lineitem"], t["supplier"], t["nation"]).cache()
    docs.count()
    security = security_fixture(spark, t["region"])
    inputs_s = time.time() - t_inputs

    p = pipeline_mod.CitibikePipeline(spark, os.path.join(ctx.work, "warehouse"))
    share = ShareRegistry().create_share("trips_share")
    share.grant("trips_secure_vw", lambda acct: secure_trips_view(
        p.trips.read(), p.stations.read(), p.programs.read(), security,
        account=acct))
    share.add_accounts(*ACCOUNTS)

    inserted = {"programs": {}, "stations": {}}
    if tracer.enabled:
        _instrument_pipeline(p, pipeline_mod, tracer, inserted)

    archive = os.path.join(ctx.work, "staged")
    os.makedirs(archive)
    archived: list[str] = []
    linked: set[str] = set()

    def wave(i: int, frame, day: str) -> dict:
        with tracer.span("wave", op=i):
            return _wave(i, frame, day)

    def _wave(i: int, frame, day: str) -> dict:
        steal_a, t_a = host_steal_s(), time.time()
        with tracer.span("stream_data", op=i):
            stream_data(frame, p.stage, day, day)
        t_staged, c_staged = time.time(), tree_cpu_s()
        # keep the day-files for the oracle: the chained purge deletes them
        # (a file an earlier, failed wave left behind is archived already)
        new = []
        for f in _data_files(p.stage.url.removeprefix("file:")):
            if f not in linked:
                linked.add(f)
                new.append(os.path.join(archive, f"{day}-{len(new)}.json"))
                os.link(f, new[-1])
        archived.extend(new)
        with tracer.span("pipe", op=i):
            p.pipe.run_available()
        for name, task in p.runner.tasks.items():
            with tracer.span(f"tasks.{name}", op=i):
                task.run_available()
        reports = {}
        for acct in ACCOUNTS:
            with tracer.span("secure_view.report", op=i):
                view = share.open("trips_secure_vw", acct)
                reports[acct] = [tuple(r) for r in consumer_report(view).collect()]
        t_fresh, c_fresh = time.time(), tree_cpu_s()
        if (i + WARMUP_WAVES) % STATUS_EVERY == 0:
            with tracer.span("dashboard.status", op=i):
                p.status().collect()
        t_end = time.time()
        return {"op": i, "new": new, "reports": reports, "wall": t_end - t_a,
                "freshness": t_fresh - t_staged, "cpu": c_fresh - c_staged,
                "steal": host_steal_s() - steal_a}

    failures: list[str] = []

    def attempt(i: int, frame, day: str):
        """One wave and its check; None if it raised. Either way a
        failure is recorded with its reason."""
        label = f"warm-up wave {i}" if i < 0 else f"wave {i}"
        try:
            w = wave(i, frame, day)
        except Exception as e:  # noqa: BLE001 - a raising wave is a failed op
            failures.append(f"{label}: raised {type(e).__name__}: {str(e)[:200]}")
            return None
        problems = []
        leftover = _data_files(p.stage.url.removeprefix("file:"))
        if leftover:
            problems.append(f"stage not empty after purge: {len(leftover)} files")
        for acct, like in ACCOUNTS.items():
            problems += report_problems(w["reports"][acct],
                                        expected_report(archived, acct, like))
        w["problems"] = problems
        w["docs"] = distinct_keys(w["new"])[0]
        failures.extend(f"{label}: {m}" for m in problems)
        return w

    # untimed: the backlog as one file (filed under its first day), then
    # single-day waves
    t0 = time.time()
    backlog = (docs.filter(F.col("day").between(days[0], days[BACKLOG_DAYS - 1]))
               .withColumn("day", F.lit(days[0])))
    warm = [attempt(-WARMUP_WAVES, backlog, days[0])]
    warm += [attempt(-WARMUP_WAVES + k, docs, days[BACKLOG_DAYS + k - 1])
             for k in range(1, WARMUP_WAVES)]
    warmup_s = time.time() - t0
    setup_s = time.time() - ctx.started

    waves, cycles, start = [], [], time.time()
    first_timed = BACKLOG_DAYS + WARMUP_WAVES - 1
    while first_timed + len(waves) + STATUS_EVERY <= WINDOW_DAYS and (
            not cycles or time.time() - start + median(cycles) <= ctx.seconds):
        t_cycle = time.time()
        for _ in range(STATUS_EVERY):
            i = len(waves)
            waves.append(attempt(i, docs, days[first_timed + i]))
        cycles.append(time.time() - t_cycle)

    ok = [w for w in waves if w is not None]
    # final state: every staged document is a trip, dims hold every key
    want = distinct_keys(archived)
    got = (p.trips.count(), p.programs.count(), p.stations.count())
    if got != want:
        failures.append(f"final counts (trips, programs, stations) {got} vs expected {want}")
        if ok and not ok[-1]["problems"]:
            ok[-1]["problems"] = ["final counts"]
    failed = sum(1 for w in warm + waves if w is None or w["problems"])

    fresh = [w["freshness"] for w in ok]
    tail_pct, tail = tail_percentile(fresh) if ok else (None, float("nan"))
    loop_wall = sum(w["wall"] for w in ok)
    out = Outcome(
        setup_s=setup_s,
        op_wall_s=median(fresh) if ok else float("nan"),
        rows_per_s=(sum(w["docs"] for w in ok) / loop_wall
                    if loop_wall else float("nan")),
        op_cpu_s=median([w["cpu"] for w in ok]) if ok else float("nan"),
        attempted=len(warm) + len(waves),
        failed=failed,
        failures=failures,
        info={"setup_parts_s": {"inputs": inputs_s, "warmup_waves": warmup_s},
              "waves": len(waves), "first_day": days[0],
              "backlog_docs": warm[0]["docs"] if warm[0] else None,
              "docs_measured": sum(w["docs"] for w in ok),
              "freshness_tail_percentile": tail_pct,
              "freshness_s": fresh,
              "wave_wall_s": [w["wall"] for w in ok],
              "wave_steal_s": [w["steal"] for w in ok],
              "wave_cpu_s": [w["cpu"] for w in ok],
              "warmup_freshness_s": [w and w["freshness"] for w in warm],
              "warmup_cpu_s": [w and w["cpu"] for w in warm]},
    )
    out.layers = {"trickle.freshness_tail_s": tail}
    if tracer.enabled:
        out.layers.update(_trickle_layers(tracer, p, ok, inserted))
    return out


def _instrument_pipeline(p, pipeline_mod, tracer: Tracer, inserted: dict) -> None:
    """Outside-in hooks for the traced run: time the purge through the
    public ``push_trips.after`` hook list, and count merge inserts by
    wrapping the merge the pipeline module calls."""
    hooks = p.push_trips.after
    for k, hook in enumerate(hooks):
        def traced_hook(hook=hook):
            with tracer.span("tasks.purge_files", op=tracer.current_op()) as s:
                n = hook()
                s.extra["files"] = float(n or 0)
        hooks[k] = traced_hook

    merge = pipeline_mod.insert_only_merge

    def counted_merge(table, source, keys):
        n = merge(table, source, keys)
        kind = "programs" if table is p.programs else "stations"
        op = tracer.current_op()
        inserted[kind][op] = inserted[kind].get(op, 0) + n
        return n
    pipeline_mod.insert_only_merge = counted_merge


def _trickle_layers(tracer: Tracer, p, waves: list[dict],
                    inserted: dict) -> dict[str, float]:
    ops = [w["op"] for w in waves]
    sums = _span_sums(tracer, TRICKLE_SPANS, ops)
    layers: dict[str, float] = {}
    for name, cs in sums.items():
        for c, vals in cs.items():
            layers[f"{name}.{c}"] = median(vals) if vals else 0.0
    for name in ("pipe", "tasks.push_trips", "tasks.push_programs", "tasks.push_stations"):
        for key in ("query_start_s", "latest_offset_s", "add_batch_s"):
            vals = [s.extra.get(key, 0.0) for s in tracer.spans
                    if s.name == name and s.op in ops]
            layers[f"{name}.{key}"] = median(vals) if vals else 0.0
    purged = [s.extra.get("files", 0.0) for s in tracer.spans
              if s.name == "tasks.purge_files" and s.op in ops]
    layers["tasks.purge_files.files"] = sum(purged)
    # merge insert ratio: rows inserted / distinct source keys, per wave
    src = {"programs": 0, "stations": 0}
    ins = {"programs": 0, "stations": 0}
    for w in waves:
        _, n_prog, n_stat = distinct_keys(w["new"])
        src["programs"] += n_prog
        src["stations"] += n_stat
        for kind in ins:
            ins[kind] += inserted[kind].get(w["op"], 0)
    for kind in ins:
        layers[f"merge.{kind}.insert_ratio"] = ins[kind] / src[kind] if src[kind] else 0.0
    # small-file growth of the warehouse
    trips_files = p.trips.data_files()
    trips_rows = p.trips.count()
    layers["catalog.files.raw"] = len(p.trips_raw.data_files())
    layers["catalog.files.trips"] = len(trips_files)
    layers["catalog.files.ledgers"] = (len(p.copy_history.data_files())
                                       + len(p.task_history.data_files()))
    layers["catalog.bytes_per_row"] = (sum(b for _, b in trips_files) / trips_rows
                                       if trips_rows else 0.0)
    layers["trickle.wave_growth_s"] = slope(ops, [w["freshness"] for w in waves])
    # the part of each wave no layer span covers, less the tracer's own
    # bookkeeping between spans
    uncovered = [s.counters["wall_s"] - s.extra.get("trace_s", 0.0)
                 for s in tracer.spans if s.name == "wave" and s.op in ops]
    layers["trickle.uncovered_s"] = median(uncovered) if uncovered else 0.0
    layers.update(_session_layers(tracer, set(ops)))
    return layers


# -- query_lanes --------------------------------------------------------------

def query_lanes(ctx: Context) -> Outcome:
    from snowflake_data_pipeline_demo_spark.caching import (
        release_lane_caches, release_stray_persistent_rdds)
    from snowflake_data_pipeline_demo_spark.plans.queries import QUERIES

    spark, tracer = ctx.spark, ctx.tracer
    lanes = [n for slice_ in LANES.values() for n in slice_]
    order = random.Random(ctx.seed).sample(lanes, len(lanes))

    data = os.path.join(ctx.work, "data")
    gen.write(data, ctx.seed, LANES_SF)
    rows = {n: pq.ParquetFile(os.path.join(data, f"{n}.parquet")).metadata.num_rows
            for n in ALL_TABLES}

    def release():
        spark.catalog.clearCache()
        release_lane_caches()

    # untimed verification pass, which also warms the JVM up
    failures, oracle_s, verify_failed = [], 0.0, 0
    t0 = time.time()
    for name in order:
        n_before = len(failures)
        try:
            got = QUERIES[name].builder(spark, data).toPandas()
            release()
            t1 = time.time()
            want = oracle_frame(data, ALL_TABLES, QUERIES[name].oracle)
            oracle_s += time.time() - t1
            failures += [f"{name}: {m}" for m in frame_problems(got, want)]
        except Exception as e:  # noqa: BLE001 - a raising lane is a failed op
            failures.append(f"{name}: raised {type(e).__name__}: {str(e)[:200]}")
        verify_failed += len(failures) > n_before
    release_stray_persistent_rdds(spark)
    warmup_s = time.time() - t0 - oracle_s
    setup_s = time.time() - ctx.started - oracle_s

    walls: dict[str, list[float]] = {n: [] for n in lanes}
    cpus: dict[str, list[float]] = {n: [] for n in lanes}
    runs, raised, start, i = [], 0, time.time(), 0
    steal0 = host_steal_s()
    while i < len(order) or time.time() - start < ctx.seconds:
        name = order[i % len(order)]
        try:
            c1 = tree_cpu_s()
            with tracer.span(f"lane.{name}", op=i):
                t1 = time.time()
                QUERIES[name].builder(spark, data).write.format("noop").mode("overwrite").save()
                walls[name].append(time.time() - t1)
            cpus[name].append(tree_cpu_s() - c1)
        except Exception as e:  # noqa: BLE001
            raised += 1
            failures.append(f"{name} run {i}: raised {type(e).__name__}: {str(e)[:200]}")
        release()
        runs.append(name)
        i += 1
        if i % len(order) == 0:
            release_stray_persistent_rdds(spark)

    per_lane = {n: median(w) for n, w in walls.items() if w}
    pass_s = sum(per_lane.values()) if len(per_lane) == len(lanes) else float("nan")
    scanned = sum(rows[t] for n in lanes for t in LANE_INPUTS[n])
    out = Outcome(
        setup_s=setup_s,
        op_wall_s=pass_s,
        rows_per_s=scanned / pass_s,
        op_cpu_s=(sum(median(c) for c in cpus.values())
                  if all(cpus.values()) else float("nan")),
        attempted=len(order) + len(runs),
        failed=verify_failed + raised,
        failures=failures,
        info={"setup_parts_s": {"verify_pass": warmup_s, "oracle": oracle_s},
              "order": order, "lane_runs": len(runs),
              "lane_wall_s": per_lane, "sf": LANES_SF,
              "lane_cpu_s": {n: median(c) for n, c in cpus.items() if c},
              "loop_steal_s": host_steal_s() - steal0},
    )
    if tracer.enabled:
        out.layers = _lane_layers(tracer, lanes, walls)
    return out


def _lane_layers(tracer: Tracer, lanes, walls) -> dict[str, float]:
    layers: dict[str, float] = {}
    per_lane: dict[str, dict[str, float]] = {}
    for name in lanes:
        spans = [s for s in tracer.spans if s.name == f"lane.{name}"]
        per_lane[name] = {c: median([s.counters[c] for s in spans]) if spans else 0.0
                          for c in ("driver_s", "executor_run_s", "executor_cpu_s",
                                    "shuffle_bytes", "tasks", "jobs")}
        layers[f"lane.{name}.wall_s"] = median(walls[name]) if walls[name] else 0.0
        layers[f"lane.{name}.jobs"] = per_lane[name]["jobs"]
    for slice_, names in LANES.items():
        for c in ("driver_s", "executor_run_s", "executor_cpu_s", "shuffle_bytes", "tasks"):
            layers[f"lanes.{slice_}.{c}"] = sum(per_lane[n][c] for n in names)
    layers.update(_session_layers(tracer, {s.op for s in tracer.spans}))
    return layers


WORKLOADS = {"pipeline_trickle": pipeline_trickle, "query_lanes": query_lanes}
