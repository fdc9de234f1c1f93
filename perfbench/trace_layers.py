"""The traced run: per-layer numbers for every klog-spark module the
benchmark reaches, on the seed's inputs.

Spans are recorded by the benchmark around its calls into each module's
public functions (name, start, end, parent, run id) and held in memory until
the run ends, when they are written to ``perfbench/.traces``. Every span sets
a Spark job group, so the jobs it ran are counted with
``statusTracker().getJobIdsForGroup`` and its task metrics are read back from
an event log written into the run's work dir.

Spark is lazy, so the klog chain's self times come from cumulative prefixes,
each materialised into a ``noop`` sink: scan, scan + identity Arrow UDF over
``tokens`` (the boundary floor), parse, parse + validity routing, and the
staged write itself. Layer self time is the difference of consecutive
prefixes. The sequence is the same whichever workload is named: one traced
cold_stage pass (between two untraced ones, for the overhead and the
layer-sum check), one round of staged queries over its staged table, the first
increments of incremental_resume, and one round of corpus_dedup; finally
scan, parse and staged write again on ``local[1]`` for those layers'
parallel efficiency.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import functions as F

TRACES = Path(__file__).resolve().parent / ".traces"

SINKS = ("batch", "data_msg", "control_msg", "txn_state", "txn_deletion",
         "producer_state", "offset_commit", "group_metadata", "header", "corrupt")
CORRUPT_REASONS = ("batch_regex_mismatch", "data_regex_mismatch", "unrecognised_line",
                   "offset_payload_mismatch", "group_metadata_payload_mismatch", "crc_invalid")
#: layers with engine metrics: all but session, whose one job is the worker warm-up
ENGINE_LAYERS = ("sources", "parse", "route", "enrich", "aggregates", "checks",
                 "filters", "group_offsets", "pipeline", "checkpoint", "dedup")
ENGINE = ("task_s", "gc_s", "shuffle_read_bytes", "spill_bytes", "jobs")
INCREMENTS_TRACED = 1


class Tracer:
    """In-memory spans; each span runs its Spark jobs under its own job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.run_id = uuid.uuid4().hex[:8]
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.enabled = True

    @contextmanager
    def span(self, name: str, *layers: str):
        if not self.enabled:
            yield None
            return
        parent = self.stack[-1] if self.stack else None
        s = {"id": len(self.spans), "name": name, "layers": list(layers), "run_id": self.run_id,
             "parent": parent["id"] if parent else None,
             "group": f"{self.run_id}-{len(self.spans)}"}
        self.spans.append(s)
        self.stack.append(s)
        self.sc.setJobGroup(s["group"], name)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            s["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(s["group"]))
            self.stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def subtree(self, span: dict) -> list[dict]:
        ids, out = {span["id"]}, [span]
        for s in self.spans[span["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out


def dur(s: dict) -> float:
    return s["end"] - s["start"]


def med(values) -> float:
    from workloads import median

    values = list(values)
    return median(values) if values else 0.0


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def prefixes(spark, seq: str) -> list[tuple[str, callable]]:
    """The cumulative prefixes of the klog chain up to (not incl.) the write."""
    from engine import identity_boundary
    from klog_spark.operators.parse import parse_sequences
    from klog_spark.operators.route import apply_validity_routing
    from klog_spark.sources.table_io import read_table

    return [
        ("prefix.scan", lambda: noop(read_table(spark, seq))),
        ("prefix.boundary", lambda: noop(identity_boundary(read_table(spark, seq), "tokens"))),
        ("prefix.parse", lambda: noop(parse_sequences(read_table(spark, seq)))),
        ("prefix.routing", lambda: noop(apply_validity_routing(parse_sequences(read_table(spark, seq))))),
    ]


def cold_layer_times(t: dict) -> dict:
    """Time of the klog chain's first layers from prefix and op times."""
    return {
        "sources": t["prefix.scan"],
        "parse": t["prefix.parse"] - t["prefix.scan"],
        "route": t["stage"] - t["prefix.parse"],
    }


def run_ops(tracer: Tracer, ops, log, counts: dict) -> tuple[dict, dict]:
    """Run operations inside spans and check them; returns name -> result
    and name -> wall time."""
    from klog_spark.cachereg import release_tracked
    from workloads import CheckFailed

    out, times = {}, {}
    for op in ops:
        counts["attempted"] += 1
        try:
            t0 = time.perf_counter()
            with tracer.span(op.name, *op.layers):
                out[op.name] = op.run()
            times[op.name] = time.perf_counter() - t0
            op.check(out[op.name])
        except CheckFailed as e:
            counts["failed"] += 1
            log(f"check failed: {op.name}: {e}")
        except Exception as e:  # noqa: BLE001 — counted, the trace goes on
            counts["failed"] += 1
            log(f"operation raised: {op.name}: {e!r}")
        finally:
            release_tracked()
    return out, times


def cold_pass(tracer, wl, i, log, counts, keep: bool = False) -> tuple[float, dict]:
    """One cold_stage pass; returns its wall time and each operation's
    result. ``keep`` keeps its staged table."""
    t0 = time.perf_counter()
    out, times = run_ops(tracer, wl.steps(i), log, counts)
    wall = time.perf_counter() - t0
    log(f"cold_stage pass {i}: {wall:.3f} s (" + ", ".join(f"{k} {v:.3f}" for k, v in times.items()) + ")")
    if not keep:
        wl.end_cycle(i)
    return wall, out


def traced_run(args, work: Path, fx, corpus, scale: dict, log) -> dict:
    import workloads as w
    from engine import peak_rss_mb, read_event_log, start_session, stop_session, warm_workers
    from klog_spark import checkpoint as ckpt_mod
    from klog_spark.pipeline import Pipeline

    events = work / "events"
    counts = {"attempted": 0, "failed": 0}
    m: dict[str, tuple[float, str]] = {}

    # the first start launches the JVM and the first Python workers;
    # session.start_s and session.worker_warm_s come from a restart inside
    # it, measured as the later set-ups behind setup_s are
    t0 = time.perf_counter()
    spark = start_session(args.cores, work)
    m["session.cold_start_s"] = (time.perf_counter() - t0, "s")
    warm_workers(spark)
    spark.stop()
    t0 = time.perf_counter()
    spark = start_session(args.cores, work, event_log=events)
    m["session.start_s"] = (time.perf_counter() - t0, "s")
    tracer = Tracer(spark)
    try:
        with tracer.span("session.warm", "session") as s:
            warm_workers(spark)
        m["session.worker_warm_s"] = (dur(s), "s")

        # --- cold_stage: warm-up, untraced pass, traced pass, prefixes ---------
        cold = w.ColdStage(spark, work, args.seed, fx)
        tracer.enabled = False
        cold_pass(tracer, cold, 0, log, {"attempted": 0, "failed": 0})
        before, _ = cold_pass(tracer, cold, 1, log, counts)
        tracer.enabled = True
        first = len(tracer.spans)
        traced, res = cold_pass(tracer, cold, 2, log, counts, keep=True)
        op_span = {x["name"]: x for x in tracer.spans[first:] if x["parent"] is None}
        tracer.enabled = False
        after, _ = cold_pass(tracer, cold, 4, log, counts)
        tracer.enabled = True
        # untraced passes on either side of the traced one: the JIT still warms
        untraced = (before + after) / 2
        m["trace.overhead_s"] = (traced - untraced, "s")
        staged_dir = cold.stage_dir(2)
        p = {}
        for name, fn in prefixes(spark, fx.sequences):
            with tracer.span(name) as s:
                fn()
            p[name] = dur(s)
        op = {name: dur(x) for name, x in op_span.items()}
        self_times = {
            "sources.scan_s": p["prefix.scan"],
            "parse.boundary_s": p["prefix.boundary"] - p["prefix.scan"],
            "parse.self_s": p["prefix.parse"] - p["prefix.boundary"],
            "route.validity_self_s": p["prefix.routing"] - p["prefix.parse"],
            "route.write_s": op["stage"] - p["prefix.routing"],
            "route.sink_counts_s": op["sink_counts"],
            "aggregates.txn_stats_s": op["txn_stats"],
            "aggregates.batches_per_epoch_s": op["batches_per_epoch"],
            "enrich.self_s": op["enrich_team"],
            "checks.state_machine_s": op["state_machine"],
        }
        m.update({k: (v, "s") for k, v in self_times.items()})
        m["trace.layer_sum_ratio"] = (sum(self_times.values()) / untraced, "ratio")
        log(f"cold_stage pass: untraced {untraced:.3f} s, traced {traced:.3f} s, "
            f"layer self times sum to {sum(self_times.values()):.3f} s")

        staged = spark.read.parquet(str(staged_dir))
        for sink in SINKS:
            m[f"route.rows.{sink}"] = (0, "count")
        for r in staged.groupBy("record_class").count().collect():
            m[f"route.rows.{r['record_class']}"] = (r["count"], "count")
        reasons = {r["corrupt_reason"]: r["count"] for r in
                   staged.filter(F.col("record_class") == "corrupt").groupBy("corrupt_reason").count().collect()}
        for reason in CORRUPT_REASONS:
            m[f"route.corrupt.{reason}"] = (reasons.get(reason, 0), "count")
        files = list(Path(staged_dir).rglob("*.parquet"))
        m["route.files_written"] = (len(files), "count")
        m["route.bytes_written"] = (sum(f.stat().st_size for f in files), "B")
        m["parse.rows_out"] = (fx.n_rows, "count")
        m["parse.tokens_in"] = (spark.read.parquet(fx.sequences).agg(F.sum("n_tok")).first()[0], "count")
        plan = cold.team_counts(staged)._jdf.queryExecution().executedPlan().toString()
        m["enrich.broadcast_joins"] = (plan.count("BroadcastHashJoin"), "count")
        enrich_rows = res.get("enrich_team", [])
        m["enrich.unmatched_rows"] = (sum(r["n"] for r in enrich_rows if r["team"] is None), "count")
        m["checks.violations"] = (len(res.get("state_machine", [])), "count")

        # --- staged queries over the traced pass's staged table ------------------
        sq = w.StagedQueries(spark, work, args.seed, fx)
        sq.pipeline = Pipeline(spark, str(fx.dir), staging_dir=str(staged_dir))
        tracer.enabled = False
        sq.prepare()
        tracer.enabled = True
        log("staged query answers ready")
        q, _ = run_ops(tracer, sq.cycle(0), log, counts)
        for name in w.QUERIES:
            m[f"pipeline.{name}_p50_s"] = (med(dur(s) for s in tracer.named(name)
                                                if "pipeline" in s["layers"]), "s")
        cats = [s for s in tracer.spans if "filters" in s["layers"]]
        m["filters.cat_s"] = (med(dur(s) for s in cats), "s")
        returned = sum(len(q.get(s["name"], [])) for s in cats)
        m["group_offsets.s"] = (med(dur(s) for s in tracer.named("group_offsets")), "s")
        cold.end_cycle(2)
        log("staged queries traced")

        # --- incremental_resume: the first increments, commit and drop wrapped --
        inc = w.IncrementalResume(spark, work, args.seed, fx, scale["increments"])
        orig_commit, orig_drop = ckpt_mod.Checkpoint.commit, ckpt_mod.drop_uncommitted_runs

        def commit(self, *a, **k):
            with tracer.span("checkpoint.commit"):
                return orig_commit(self, *a, **k)

        def drop(*a, **k):
            with tracer.span("checkpoint.drop_uncommitted"):
                return orig_drop(*a, **k)

        ckpt_mod.Checkpoint.commit, ckpt_mod.drop_uncommitted_runs = commit, drop
        new_rows = []
        try:
            for i in range(inc.warmup_cycles + INCREMENTS_TRACED):
                ops = inc.cycle(i)
                tracer.enabled = i >= inc.warmup_cycles
                if tracer.enabled:
                    new_rows.append(ops[0].rows)
                run_ops(tracer, ops, log, counts)
            tracer.enabled = True
        finally:
            ckpt_mod.Checkpoint.commit, ckpt_mod.drop_uncommitted_runs = orig_commit, orig_drop
        increments = tracer.named("increment")
        log("increments traced")
        m["checkpoint.increment_s"] = (med(dur(s) for s in increments), "s")
        m["checkpoint.commit_s"] = (med(dur(s) for s in tracer.named("checkpoint.commit")), "s")
        m["checkpoint.drop_uncommitted_s"] = (
            med(dur(s) for s in tracer.named("checkpoint.drop_uncommitted")), "s")
        m["checkpoint.manifest_bytes"] = (inc.ckpt.state_path.stat().st_size, "B")
        m["checkpoint.spark_jobs_per_increment"] = (
            sum(x["jobs"] for s in increments for x in tracer.subtree(s)) / max(len(increments), 1), "count")

        # --- corpus_dedup ---------------------------------------------------------
        from klog_spark.cachereg import release_tracked
        from klog_spark.datapipe.dedup import minhash_lsh_candidates, minhash_signatures

        cd = w.CorpusDedup(spark, work, args.seed, corpus)
        dd, _ = run_ops(tracer, [o for o in cd.cycle(0) if o.name != "novelty"], log, counts)
        with tracer.span("dedup.signatures", "dedup") as s:
            sigs = minhash_signatures(cd.read(corpus.corpus), num_hashes=64).persist()
            sigs.count()
        m["dedup.signatures_s"] = (dur(s), "s")
        with tracer.span("dedup.lsh_candidates", "dedup"):
            n_cand = minhash_lsh_candidates(sigs, bands=16, num_hashes=64).count()
        sigs.unpersist()
        verified = len(dd.get("minhash_dedup", []))
        m["dedup.lsh_candidates"] = (n_cand, "count")
        m["dedup.verified_pairs"] = (verified, "count")
        m["dedup.lsh_precision"] = (verified / n_cand if n_cand else 0.0, "ratio")
        m["dedup.contamination_s"] = (med(dur(s) for s in tracer.named("contamination")), "s")
        counts["attempted"] += 1
        with tracer.span("dedup.bloom_build", "dedup") as s:
            bitmap = cd.bloom()
        m["dedup.bloom_build_s"] = (dur(s), "s")
        with tracer.span("dedup.novelty", "dedup") as s:
            rows = cd.screen(bitmap)
        m["dedup.novelty_s"] = (dur(s), "s")
        try:
            cd.check_novelty(rows)
        except w.CheckFailed as e:
            counts["failed"] += 1
            log(f"check failed: novelty: {e}")
        release_tracked()
        m["session.peak_rss_mb"] = (peak_rss_mb(), "MB")
        log("corpus_dedup traced")
        spark.stop()  # closes the event log
        totals, writes = read_event_log(events)

        # --- local[1] reference for the parallel efficiency of the klog chain ---
        spark = start_session(1, work)
        warm_workers(spark)
        one = Tracer(spark)
        scan, parse = prefixes(spark, fx.sequences)[::2]
        parse[1]()  # the parse module's first import in the new workers, untimed
        for name, fn in (scan, parse):
            with one.span(name):
                fn()
        cold1 = w.ColdStage(spark, work, args.seed, fx)
        run_ops(one, cold1.steps(3)[:1], log, counts)  # the staged write
        cold1.end_cycle(3)
    finally:
        stop_session(spark)

    def engine(spans) -> dict:
        e = dict.fromkeys(ENGINE, 0.0)
        for s in spans:
            t = totals.get(s["group"], {})
            for k in ENGINE[:-1]:
                e[k] += t.get(k, 0.0)
            e["jobs"] += s["jobs"]
        return e

    def minus(a: dict, b: dict) -> dict:
        return {k: a[k] - b[k] for k in a}

    scan, parse = tracer.named("prefix.scan"), tracer.named("prefix.parse")
    stage = [op_span["stage"]]
    per_layer = {
        "sources": engine(scan),
        "parse": minus(engine(parse), engine(scan)),
        "route": minus(engine(stage), engine(parse)),
    }
    for layer in ENGINE_LAYERS:
        if layer not in per_layer:
            per_layer[layer] = engine(s for s in tracer.spans if layer in s["layers"])
    units = {"task_s": "s", "gc_s": "s", "shuffle_read_bytes": "B", "spill_bytes": "B", "jobs": "count"}
    for layer, e in per_layer.items():
        for k, v in e.items():
            m[f"{layer}.{k}"] = (v, units[k])

    st = totals.get(op_span["stage"]["group"], {})
    m["route.shuffle_write_bytes"] = (st.get("shuffle_write_bytes", 0.0), "B")
    tasks = [t for stage_tasks in writes.get(op_span["stage"]["group"], []) for t in stage_tasks]
    m["route.write_skew"] = (max(tasks) / med(tasks) if tasks and med(tasks) else 0.0, "ratio")
    m["route.idle_core_s"] = (args.cores * st.get("stage_wall_s", 0.0) - st.get("task_s", 0.0), "s")
    m["aggregates.shuffle_bytes"] = (sum(totals.get(op_span[n]["group"], {}).get("shuffle_write_bytes", 0.0)
                                         for n in ("txn_stats", "batches_per_epoch")), "B")
    scanned = sum(totals.get(s["group"], {}).get("records_read", 0.0) for s in cats)
    m["filters.rows_scanned_per_row_returned"] = (scanned / max(returned, 1), "ratio")
    read_inc = sum(totals.get(x["group"], {}).get("records_read", 0.0)
                   for s in increments for x in tracer.subtree(s))
    m["checkpoint.scan_amplification"] = (read_inc / max(sum(new_rows), 1), "ratio")

    one_t = {s["name"]: dur(s) for s in one.spans}
    for layer in ("sources", "parse", "route"):
        t1, tn = cold_layer_times(one_t)[layer], cold_layer_times({**op, **p})[layer]
        m[f"{layer}.parallel_efficiency"] = (t1 / (args.cores * tn) if tn > 0 else 0.0, "ratio")
    m["failed_ratio"] = (counts["failed"] / counts["attempted"], "ratio")

    TRACES.mkdir(exist_ok=True)
    out = TRACES / f"{args.workload}-seed{args.seed}-{tracer.run_id}.json"
    out.write_text(json.dumps({"spans": tracer.spans + one.spans,
                               "metrics": {k: v for k, (v, _) in m.items()}}, indent=1))
    log(f"spans and per-layer metrics written to {out}")
    return {**counts, "metrics": m}
