"""The benchmark's workloads: what one operation does and how its output is
checked.

A workload is a closed loop with one client: it issues its next operation
only after the previous one returned. Operations come in cycles (a full
pass, a round of queries, one increment, one round of corpus operators); the
benchmark times only whole cycles, so every run measures the same mix.
Each operation returns its result and is followed, untimed, by a check that
raises :class:`CheckFailed` when the result differs from the expected answer.
"""

from __future__ import annotations

import hashlib
import json
import random
import shutil
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable

from pyspark.sql import functions as F

from inputs import ORACLE_VERSION, CorpusInputs, KlogInputs


class CheckFailed(Exception):
    pass


@dataclass
class Op:
    name: str
    run: Callable[[], Any]
    check: Callable[[Any], None]
    rows: int  # input rows the operation covers
    layers: tuple[str, ...] = ()


def expect(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {_short(got)}, want {_short(want)}")


def _short(v) -> str:
    s = repr(v)
    return s if len(s) < 300 else s[:300] + "..."


def parquet_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*.parquet"))


def canonical(rows) -> tuple[int, str]:
    """(row count, digest) of collected rows, independent of row and
    column order; doubles are compared to 12 significant digits."""
    def norm(v):
        return float(f"{v:.12g}") if isinstance(v, float) else v
    lines = sorted(json.dumps({k: norm(v) for k, v in r.asDict().items()}, sort_keys=True,
                              default=str) for r in rows)
    return len(lines), hashlib.sha256("\n".join(lines).encode()).hexdigest()


@dataclass
class Workload:
    """Base: ``setup`` runs inside the timed set-up, ``prepare`` after it,
    untimed; ``cycle(i)`` returns the operations of cycle ``i``."""

    spark: Any
    work: Path
    seed: int
    #: staged bytes written per input byte, one entry per write
    stored_ratios: list[float] = field(default_factory=list)
    #: untimed cycles before measuring: enough to run every code path once
    warmup_cycles = 1
    #: measured cycles come in whole rounds of this many, so that every run
    #: measures the same mix of cycles
    round = 1
    #: whether the session restarts of the later set-ups come between the
    #: warm-up and the timed cycles, rather than before the warm-up
    setups_after_warmup = False

    def measured(self, i: int) -> bool:
        """Whether cycle ``i`` is timed, checked and counted."""
        return i >= self.warmup_cycles

    def setup(self) -> None:
        pass

    def prepare(self) -> None:
        pass

    def cycle(self, i: int) -> list[Op]:
        raise NotImplementedError

    def end_cycle(self, i: int) -> None:
        pass


# --- klog ---------------------------------------------------------------------

def txn_stat_check(row, want: dict) -> None:
    got = row.asDict()
    for k, v in want.items():
        if v is None and got[k] == 0:  # an empty sum may read 0
            continue
        expect(f"txn_stats.{k}", got[k], v)


class ColdStage(Workload):
    """Full passes over the fixture: parse -> validity routing -> staged
    write, then the aggregates, enrich and checks over the staged table.
    One operation is one pass. The first pass pays the Python workers'
    first imports and most of the JVM's code generation and JIT
    compilation, so it is the warm-up. The JIT goes on compiling what the
    warm-up made hot; the later set-ups' session restarts run in between,
    so the timed pass does not share the cores with that compilation (over
    ten seeds, (Q3-Q1)/median of the timed pass 0.12 this way, 0.28 with
    the restarts before the warm-up)."""

    warmup_cycles = 1
    setups_after_warmup = True

    def __init__(self, spark, work, seed, fx: KlogInputs):
        super().__init__(spark, work, seed)
        self.fx = fx
        self.staged = None

    def stage_dir(self, i: int) -> Path:
        return self.work / "cold" / f"pass-{i}"

    def cycle(self, i: int) -> list[Op]:
        steps = self.steps(i)

        def run():
            return [step.run() for step in steps]

        def check(results):
            for step, result in zip(steps, results):
                step.check(result)

        layers = tuple(dict.fromkeys(layer for step in steps for layer in step.layers))
        return [Op("pass", run, check, self.fx.n_rows, layers)]

    def steps(self, i: int) -> list[Op]:
        """The operator calls of pass ``i``, in order."""
        from klog_spark.operators import aggregates, checks
        from klog_spark.operators.parse import parse_sequences
        from klog_spark.operators.route import (apply_validity_routing, routed_as_parsed,
                                                sink_counts, write_routed)
        from klog_spark.sources.table_io import read_table

        spark, fx, out = self.spark, self.fx, str(self.stage_dir(i))
        o, n = fx.oracle, fx.n_rows

        def stage():
            write_routed(apply_validity_routing(parse_sequences(read_table(spark, fx.sequences))), out)
            self.staged = spark.read.parquet(out)
            self.stored_ratios.append(parquet_bytes(Path(out)) / fx.input_bytes)

        def staged():
            return self.staged

        return [
            Op("stage", stage, lambda _: None, n, ("sources", "parse", "route")),
            Op("sink_counts", lambda: sink_counts(staged()).collect(),
               lambda rows: expect("sinks", {r["record_class"]: r["n_rows"] for r in rows}, o["sinks"]),
               n, ("route",)),
            Op("txn_stats",
               lambda: aggregates.txn_stats(routed_as_parsed(staged(), classes=["batch", "control_msg"])).collect(),
               lambda rows: txn_stat_check(rows[0], o["txn_stat"]), n, ("aggregates",)),
            Op("batches_per_epoch",
               lambda: aggregates.batches_per_epoch(routed_as_parsed(staged(), classes=["batch"])).collect(),
               lambda rows: expect("batches_per_epoch",
                                   {f"{r['producer_id']}/{r['producer_epoch']}": r["n_batches"] for r in rows},
                                   o["batches_per_epoch"]), n, ("aggregates",)),
            Op("enrich_team", lambda: self.team_counts(staged()).collect(),
               lambda rows: expect("teams", {str(r["team"]): [r["n"], r["p"]] for r in rows}, o["teams"]),
               n, ("enrich",)),
            Op("state_machine",
               lambda: checks.state_machine_violations(routed_as_parsed(staged(), classes=["txn_state"])).collect(),
               lambda rows: expect("state_machine", sorted(r["doc_id"] for r in rows), o["state_machine"]),
               n, ("checks",)),
        ]

    def team_counts(self, staged):
        """Data-segment batches enriched with producer metadata, per team."""
        from klog_spark.operators.enrich import enrich_with_producer_meta

        meta = self.spark.read.parquet(str(self.fx.dir / "producer_meta.parquet"))
        batches = staged.filter((F.col("record_class") == "batch") & (F.col("segment_type") == "data")
                                & (F.col("producer_id") != -1))
        return (enrich_with_producer_meta(batches, meta).groupBy("team")
                .agg(F.count("*").alias("n"), F.countDistinct("producer_id").alias("p")))

    def end_cycle(self, i: int) -> None:
        self.staged = None
        shutil.rmtree(self.stage_dir(i), ignore_errors=True)


#: staged_queries operations: name -> (Pipeline call, layers it exercises)
QUERIES: dict[str, tuple[Callable, tuple[str, ...]]] = {
    "txn_stat": (lambda p, pid: p.txn_stats(), ("aggregates",)),
    "txn_stat_pid": (lambda p, pid: p.txn_stats(pid=pid), ("aggregates",)),
    "segment_cat_pid": (lambda p, pid: p.cat_batches(pid=pid), ("filters",)),
    "snapshot_cat_pid": (lambda p, pid: p.cat_producer_states(pid=pid), ("filters",)),
    "sink_counts": (lambda p, pid: p.sink_counts(), ("route",)),
    "group_offsets": (lambda p, pid: p.group_offsets(), ("group_offsets",)),
    "enriched_team": (lambda p, pid: p.enriched_batches().groupBy("team").agg(
        F.count("*").alias("n"), F.countDistinct("producer_id").alias("p")), ("enrich",)),
    "state_machine": (lambda p, pid: p.all_checks()["state_machine"], ("checks",)),
}
PID_QUERIES = ("txn_stat_pid", "segment_cat_pid", "snapshot_cat_pid")


def query_plan(seed: int, pids: list[int], cycle: int) -> list[tuple[str, int | None]]:
    """Round ``cycle`` of the seeded query stream: every query once, in a
    seeded order, pid-filtered queries with a pid drawn from the fixture."""
    rng = random.Random(f"perfbench:queries:{seed}:{cycle}")
    names = list(QUERIES)
    rng.shuffle(names)
    return [(q, rng.choice(pids) if q in PID_QUERIES else None) for q in names]


class StagedQueries(Workload):
    """klog's CLI queries as ``Pipeline`` calls over a table staged once."""

    def __init__(self, spark, work, seed, fx: KlogInputs):
        super().__init__(spark, work, seed)
        self.fx = fx
        self.pipeline = None
        self.reference: dict[str, list] = {}

    def setup(self) -> None:
        from klog_spark.pipeline import Pipeline

        out = self.work / "staged"
        shutil.rmtree(out, ignore_errors=True)
        self.pipeline = Pipeline(self.spark, str(self.fx.dir)).stage(str(out))
        self.stored_ratios.append(parquet_bytes(out) / self.fx.input_bytes)

    def prepare(self) -> None:
        """Expected answers: the same Pipeline calls on the unstaged parse
        path, computed once per seed and cached."""
        path = self.fx.dir / f"staged-reference-v{ORACLE_VERSION}.json"  # per seed, like the pids
        if path.exists():
            self.reference = json.loads(path.read_text())
            return
        ref = unstaged_pipeline(self.spark, str(self.fx.dir))
        wanted = {(q, None) for q in QUERIES if q not in PID_QUERIES}
        wanted |= {(q, pid) for q in PID_QUERIES for pid in self.fx.oracle["query_pids"]}
        for q, pid in sorted(wanted, key=str):
            self.reference[f"{q}:{pid}"] = list(canonical(QUERIES[q][0](ref, pid).collect()))
        ref.release()
        path.write_text(json.dumps(self.reference))

    def cycle(self, i: int) -> list[Op]:
        ops = []
        for q, pid in query_plan(self.seed, self.fx.oracle["query_pids"], i):
            fn, layers = QUERIES[q]
            want = self.reference[f"{q}:{pid}"]
            ops.append(Op(q, lambda fn=fn, pid=pid: fn(self.pipeline, pid).collect(),
                          lambda rows, q=q, want=want: expect(q, list(canonical(rows)), want),
                          self.fx.n_rows, ("pipeline",) + layers))
        return ops


def unstaged_pipeline(spark, fixture_dir: str):
    """A ``Pipeline`` on the unstaged parse path whose parse is computed
    once and persisted, so each reference query does not re-parse."""
    from klog_spark.operators.parse import parse_sequences
    from klog_spark.operators.route import apply_validity_routing
    from klog_spark.pipeline import Pipeline

    class Unstaged(Pipeline):
        def parsed_raw(self):
            return raw

        def parsed(self):
            return apply_validity_routing(raw)

        def release(self):
            raw.unpersist()

    p = Unstaged(spark, fixture_dir)
    raw = parse_sequences(p.input_df()).persist()
    raw.count()
    return p


class IncrementalResume(Workload):
    """Dump files land as new parquet files in an input directory, one
    seeded increment at a time; after each, ``checkpoint.run_incremental``
    routes the new files into ``run_id`` partitions and commits. From the
    second increment of a stream on, it anti-joins against the files
    already processed, so the first two increments of every stream are
    untimed (on the first stream, they are the warm-up) and a round is the
    rest of the stream: every run times the same places in a stream. The
    set-ups come before the warm-up: an increment right after a session
    restart took 5.5-8 s, against 3.5-4.5 s."""

    warmup_cycles = 2

    def __init__(self, spark, work, seed, fx: KlogInputs, k: int):
        super().__init__(spark, work, seed)
        self.fx = fx
        self.parts = fx.increments(k)
        self.k = k
        self.round = k - self.warmup_cycles
        self.stream = -1
        self.landed: list[str] = []
        self.ckpt = None

    def measured(self, i: int) -> bool:
        return i % self.k >= self.warmup_cycles

    def dirs(self) -> tuple[Path, Path]:
        base = self.work / "incremental" / f"stream-{self.stream}"
        return base / "in", base / "out"

    def cycle(self, i: int) -> list[Op]:
        from klog_spark.checkpoint import Checkpoint, read_routed_committed, run_incremental

        j = i % self.k
        if j == 0:  # a fresh stream: empty input directory, no checkpoint
            if self.stream >= 0:
                shutil.rmtree(self.dirs()[0].parent, ignore_errors=True)
            self.stream += 1
            self.landed = []
            in_dir, out_dir = self.dirs()
            in_dir.mkdir(parents=True)
            self.ckpt = Checkpoint(out_dir / "_checkpoint")
        in_dir, out_dir = self.dirs()
        path, files = self.parts[j]
        shutil.copy(path, in_dir / Path(path).name)
        self.landed += files
        per_file = self.fx.oracle["sinks_per_file"]
        rows = sum(sum(per_file[f].values()) for f in files)

        def run():
            run_id = run_incremental(self.spark, str(in_dir), str(out_dir), self.ckpt)["run_id"]
            written = sum(parquet_bytes(d) for d in (out_dir / "routed").glob(f"*/run_id={run_id}"))
            self.stored_ratios.append(written / Path(path).stat().st_size)

        def check(_):
            committed = read_routed_committed(self.spark, str(out_dir), self.ckpt) \
                .groupBy("record_class").count().collect()
            want: dict[str, int] = {}
            for f in self.landed:
                for sink, c in per_file[f].items():
                    want[sink] = want.get(sink, 0) + c
            expect("committed sinks", {r["record_class"]: r["count"] for r in committed}, want)
            manifest = self.ckpt.load()["processed_files"]
            expect("manifest files", sorted(manifest), sorted(self.landed))
            expect("manifest rows", {f: m["n_rows"] for f, m in manifest.items()},
                   {f: sum(per_file[f].values()) for f in self.landed})

        return [Op("increment", run, check, rows, ("checkpoint", "parse", "route"))]


# --- datapipe.dedup -------------------------------------------------------------

BLOOM_M, BLOOM_K = 1 << 20, 4


class CorpusDedup(Workload):
    """MinHash-LSH near-dup detection, the train/test contamination scan and
    n-gram novelty against a Bloom-packed reference, over a seeded corpus."""

    def __init__(self, spark, work, seed, corpus: CorpusInputs):
        super().__init__(spark, work, seed)
        self.c = corpus

    def read(self, path: str):
        return self.spark.read.parquet(path)

    def minhash(self):
        from klog_spark.datapipe.dedup import minhash_dedup

        return minhash_dedup(self.read(self.c.corpus), num_hashes=64, bands=16, threshold=0.5).collect()

    def contamination(self):
        from klog_spark.datapipe.dedup import contamination_report, leakage_safe_split

        docs = self.read(self.c.corpus)
        return contamination_report(docs, leakage_safe_split(docs, train_pct=80),
                                    n=5, min_common=3, max_df=50).collect()

    def bloom(self):
        from klog_spark.datapipe.dedup import bloom_pack, shingle_bloom_bits

        return bloom_pack(shingle_bloom_bits(self.read(self.c.reference), m=BLOOM_M, k=BLOOM_K, n=3,
                                             hash_fn="xxhash64"), m=BLOOM_M)

    def screen(self, bitmap):
        """Target docs the Bloom screen finds fully seen (novelty 0)."""
        from klog_spark.datapipe.dedup import ngram_novelty_packed

        return ngram_novelty_packed(self.read(self.c.target), bitmap, m=BLOOM_M, k=BLOOM_K, n=3,
                                    hash_fn="xxhash64").filter(F.col("novelty_ppm") == 0).collect()

    def cycle(self, i: int) -> list[Op]:
        t = self.c.truth
        return [
            Op("minhash_dedup", self.minhash,
               lambda rows: missing("exact copies", [tuple(p) for p in t["exact_pairs"]],
                                    [(r["id1"], r["id2"]) for r in rows]),
               t["n_corpus"], ("dedup",)),
            Op("contamination", self.contamination,
               lambda rows: missing("contaminated test docs", t["contaminated_test_docs"],
                                    [r["test_doc"] for r in rows]),
               t["n_corpus"], ("dedup",)),
            Op("novelty", lambda: self.screen(self.bloom()), self.check_novelty,
               t["n_target"], ("dedup",)),
        ]

    def check_novelty(self, rows) -> None:
        missing("zero-novelty republications", self.c.truth["republished"], [r["doc_id"] for r in rows])


def missing(what: str, want, got) -> None:
    lost = sorted(set(want) - set(got))
    if lost:
        raise CheckFailed(f"{what}: {len(lost)} planted not found, e.g. {lost[:5]}")


WORKLOADS = ("cold_stage", "staged_queries", "incremental_resume", "corpus_dedup")


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    return s[n // 2] if n % 2 else 0.5 * (s[n // 2 - 1] + s[n // 2])
