"""Spark session lifecycle, process memory and event-log accounting.

The session is the product's own ``klog_spark.session.get_spark`` on
``local[<cores>]``; the benchmark adds only settings that keep every file it
writes inside its work directory (local dirs, warehouse, event log) and turn
the console progress bar off.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from pathlib import Path

import pyarrow as pa


def session_conf(work: Path, event_log: Path | None = None) -> dict[str, str]:
    conf = {
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(event_log),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def start_session(cores: int, work: Path, event_log: Path | None = None):
    from klog_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      extra_conf=session_conf(work, event_log))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _identity_len(batches):
    """One int per row out of an Arrow batch: the floor cost of crossing the
    JVM <-> Python boundary with the column, with no parse work."""
    import pyarrow.compute as pc

    for b in batches:
        col = b.column(0)
        yield pa.RecordBatch.from_arrays([pc.list_value_length(col).cast(pa.int32())], names=["n"])


def identity_boundary(df, column: str):
    """``column`` through a do-nothing Arrow UDF (one int out per row)."""
    return df.select(column).mapInArrow(_identity_len, "n int")


def warm_workers(spark) -> None:
    """Start the Python workers and import pyarrow in them: one small Arrow
    UDF job per core."""
    from pyspark.sql import functions as F

    n = spark.sparkContext.defaultParallelism
    df = spark.range(0, 4096 * n, numPartitions=n).select(
        F.array(F.col("id").cast("int")).alias("tokens"))
    identity_boundary(df, "tokens").write.format("noop").mode("overwrite").save()


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit.

    Once Spark has stopped, nothing of the benchmark's is left in the JVM,
    and its own shutdown can take ten seconds or more (after an
    incremental_resume run), so it is killed."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.kill()
        proc.wait(timeout=30)


def _children(pid: int) -> list[int]:
    out = []
    try:
        for task in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{task}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Summed peak RSS (``VmHWM``) of the Spark JVM and every process below
    it (the Python daemon and its workers)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    seen, todo, total = set(), [proc.pid], 0
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _hwm_kb(pid)
        todo.extend(_children(pid))
    return total / 1024.0


# --- event log --------------------------------------------------------------

ENGINE_FIELDS = ("task_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                 "records_read", "stage_wall_s")


def read_event_log(log_dir: Path) -> tuple[dict[str, dict], dict[str, list]]:
    """Return (totals per job group, write-stage task durations per group).

    Task time is executor run time; a stage's wall time runs from its first
    task's launch to its last task's finish."""
    totals: dict[str, dict] = defaultdict(lambda: dict.fromkeys(ENGINE_FIELDS, 0.0))
    stage_group: dict[int, str] = {}
    stage_span: dict[int, list] = {}
    stage_tasks: dict[int, list] = defaultdict(list)
    write_stages: set[int] = set()
    for path in sorted(p for p in log_dir.iterdir() if p.is_file()):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    group = stage_group.get(sid)
                    m = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    if group is None or not m:
                        continue
                    t = totals[group]
                    t["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    t["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sr = m.get("Shuffle Read Metrics") or {}
                    t["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    t["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                    if (m.get("Output Metrics") or {}).get("Records Written", 0):
                        write_stages.add(sid)
                    launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
                    span = stage_span.setdefault(sid, [launch, finish])
                    span[0], span[1] = min(span[0], launch), max(span[1], finish)
                    stage_tasks[sid].append(m.get("Executor Run Time", 0) / 1000.0)
    for sid, (lo, hi) in stage_span.items():
        totals[stage_group[sid]]["stage_wall_s"] += (hi - lo) / 1000.0
    writes: dict[str, list] = defaultdict(list)
    for sid in write_stages:
        writes[stage_group[sid]].append(stage_tasks[sid])
    return dict(totals), dict(writes)
