"""Seeded benchmark inputs and their expected answers.

Every input is a pure function of (seed, scale): the klog dump fixture comes
from ``klog_spark.datagen.generate_fixture``, the document corpus from a
seeded word generator in this file. Expected answers are computed untimed by
the pure-Python oracle (``klog_spark.oracle``) over the fixture's ``line``
text column, or by plain Python over the generated corpus, and cached as JSON
beside the inputs so a repeated seed pays for them once.
"""

from __future__ import annotations

import hashlib
import json
import random
from collections import Counter, defaultdict
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: bump when the cached answers change shape; they are cached under this name
ORACLE_VERSION = 2


def _cached_json(path: Path, build):
    if path.exists():
        return json.loads(path.read_text())
    value = build()
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(value))
    tmp.replace(path)
    return value


# --- klog dump fixture ------------------------------------------------------

def routed_class(p) -> tuple[str, str | None]:
    """(sink, corrupt reason) of one oracle-parsed line after validity
    routing — the rules ``operators.route.apply_validity_routing`` states,
    restated over the oracle's parse so the check is independent of Spark."""
    from klog_spark.oracle import segment_type

    f, seg = p.fields, segment_type(p.source)
    if p.record_class == "batch":
        if not f["is_valid"]:
            return "corrupt", "crc_invalid"
        if seg == "txn_state" and (f["producer_id"] != -1 or f["producer_epoch"] != -1
                                   or f["is_transactional"]):
            return "corrupt", "txn_state_segment_invariant"
        if seg == "data" and f["is_transactional"] and (
                f["producer_id"] == -1 or f["producer_epoch"] == -1):
            return "corrupt", "transactional_batch_without_session"
    if p.record_class == "producer_state" and f["producer_id"] == -1 and f["producer_epoch"] == -1:
        return "corrupt", "non_transactional_producer_state"
    if p.record_class == "corrupt":
        return "corrupt", f["reason"]
    return p.record_class, None


def txn_stat_expected(st) -> dict:
    """The ``aggregates.txn_stats`` row an oracle ``TxnStats`` implies."""
    sizes, durs = st.txn_sizes, st.txn_durations
    return {
        "num_committed": st.num_committed, "num_aborted": st.num_aborted,
        "txn_size_count": len(sizes), "txn_size_sum": sum(sizes) if sizes else None,
        "txn_size_min": min(sizes, default=None), "txn_size_max": max(sizes, default=None),
        "txn_dur_count": len(durs), "txn_dur_sum": sum(durs) if durs else None,
        "txn_dur_min": min(durs, default=None), "txn_dur_max": max(durs, default=None),
        "num_empty_txn": len(st.empty_txns), "num_open_txn": len(st.open_txns),
        "num_offset_gaps": st.num_offset_gaps,
    }


def _klog_oracle(fx: Path, n_pids: int, seed: int) -> dict:
    from klog_spark import oracle
    from klog_spark.oracle import segment_type

    t = pq.read_table(fx / "sequences_text.parquet", columns=["doc_id", "line", "source"]).to_pydict()
    parsed = oracle.parse_table(list(zip(t["doc_id"], t["line"], t["source"])))
    meta = pq.read_table(fx / "producer_meta.parquet").to_pydict()
    team_of = dict(zip(meta["producer_id"], meta["team"]))

    sinks: Counter = Counter()
    reasons: Counter = Counter()
    per_file: dict[str, Counter] = defaultdict(Counter)
    per_epoch: Counter = Counter()
    team_rows: Counter = Counter()
    team_pids: dict[str, set] = defaultdict(set)
    for p in parsed:
        sink, reason = routed_class(p)
        sinks[sink] += 1
        per_file[p.file][sink] += 1
        if reason:
            reasons[reason] += 1
        if sink == "batch" and segment_type(p.source) == "data" and p.fields["producer_id"] != -1:
            pid = p.fields["producer_id"]
            per_epoch[f"{pid}/{p.fields['producer_epoch']}"] += 1
            team = team_of.get(pid)
            team_rows[team] += 1
            team_pids[team].add(pid)
    pids = sorted({int(k.split("/")[0]) for k in per_epoch})
    chosen = random.Random(f"perfbench:pids:{seed}").sample(pids, min(n_pids, len(pids)))
    return {
        "n_rows": len(parsed),
        "sinks": dict(sinks),
        "corrupt_reasons": dict(reasons),
        "sinks_per_file": {f: dict(c) for f, c in per_file.items()},
        "batches_per_epoch": dict(per_epoch),
        "teams": {str(k): [team_rows[k], len(team_pids[k])] for k in team_rows},
        "txn_stat": txn_stat_expected(oracle.txn_stat(parsed)),
        "state_machine": sorted(oracle.state_machine_violations(parsed)),
        "query_pids": sorted(chosen),
    }


class KlogInputs:
    """The seeded dump fixture (``sequences.parquet`` is what Spark reads)
    and the oracle's answers for it."""

    def __init__(self, cache: Path, sf: float, seed: int, n_pids: int = 1):
        from klog_spark.datagen import generate_fixture

        self.dir = generate_fixture(sf, cache / f"klog-sf{sf:g}-seed{seed}", seed=seed)
        self.seed = seed
        self.sequences = str(self.dir / "sequences.parquet")
        self.input_bytes = (self.dir / "sequences.parquet").stat().st_size
        self.oracle = _cached_json(self.dir / f"oracle-v{ORACLE_VERSION}.json",
                                   lambda: _klog_oracle(self.dir, n_pids, seed))
        self.n_rows = self.oracle["n_rows"]

    def increments(self, k: int) -> list[tuple[str, list[str]]]:
        """The fixture split by dump file into ``k`` seeded increments, each
        one parquet file; returns (path, dump files) per increment."""
        out = self.dir / f"increments-{k}"
        index = out / "index.json"
        if index.exists():
            return [tuple(x) for x in json.loads(index.read_text())]
        out.mkdir(exist_ok=True)
        tbl = pq.read_table(self.sequences)
        files_col = pc.replace_substring_regex(tbl["doc_id"], r":[0-9]+$", "")
        # seeded order, then each file to the lightest increment so far:
        # increments of near-equal rows, whatever the seed
        rows = {f: sum(c.values()) for f, c in self.oracle["sinks_per_file"].items()}
        files = sorted(rows)
        random.Random(f"perfbench:increments:{self.seed}").shuffle(files)
        chunks: list[list[str]] = [[] for _ in range(k)]
        load = [0] * k
        for f in sorted(files, key=lambda f: -rows[f]):
            j = load.index(min(load))
            chunks[j].append(f)
            load[j] += rows[f]
        parts = []
        for i, chunk in enumerate(sorted(c) for c in chunks):
            path = out / f"increment-{i:03d}.parquet"
            pq.write_table(tbl.filter(pc.is_in(files_col, pa.array(chunk))), path)
            parts.append((str(path), chunk))
        index.write_text(json.dumps(parts))
        return parts


# --- document corpus ----------------------------------------------------------

VOCAB = ("batch part spark line column order small sort fast value scan a hash "
         "slow group agg filter query big key window row table stream merge data "
         "join vector the customer index shard page block cache log plan node "
         "task").split()

EXACT_OFFSET, NEAR_OFFSET, REPUBLISH_OFFSET = 1_000_000, 2_000_000, 5_000_000


def in_train(text: str, train_pct: int = 80) -> bool:
    """``datapipe.dedup.leakage_safe_split``'s rule without Spark: the
    unsigned java-hash of the text's sha256 hex digest, mod 100."""
    import pandas as pd

    from klog_spark.javahash import java_string_hash_np

    digest = hashlib.sha256(text.encode()).hexdigest()
    return (int(java_string_hash_np(pd.Series([digest]))[0]) & 0xFFFFFFFF) % 100 < train_pct


class CorpusInputs:
    """A seeded word corpus with planted exact copies, near copies and
    republications, written as three parquet tables: ``corpus`` (base docs
    plus copies, for MinHash and contamination), ``reference`` and
    ``target`` (for n-gram novelty; the target holds republished reference
    docs)."""

    def __init__(self, cache: Path, n_docs: int, seed: int):
        self.dir = cache / f"corpus-{n_docs}-seed{seed}"
        self.truth = _cached_json(self.dir / "truth.json", lambda: self._build(n_docs, seed))
        self.corpus = str(self.dir / "corpus.parquet")
        self.reference = str(self.dir / "reference.parquet")
        self.target = str(self.dir / "target.parquet")

    def _build(self, n_docs: int, seed: int) -> dict:
        rng = random.Random(f"perfbench:corpus:{seed}")
        docs = {i: " ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 100)))
                for i in range(n_docs)}
        ids = list(docs)
        exact = sorted(rng.sample(ids, n_docs // 10))
        near = sorted(rng.sample(ids, n_docs // 10))
        corpus = dict(docs)
        corpus.update({i + EXACT_OFFSET: docs[i] for i in exact})
        corpus.update({i + NEAR_OFFSET: docs[i] + " zq" for i in near})
        ref_ids = [i for i in ids if i % 3 == 0]
        republished = sorted(rng.sample(ref_ids, len(ref_ids) // 3))
        target = {i: docs[i] for i in ids if i % 3}
        target.update({i + REPUBLISH_OFFSET: docs[i] for i in republished})
        self.dir.mkdir(parents=True, exist_ok=True)
        for name, table in (("corpus", corpus), ("reference", {i: docs[i] for i in ref_ids}),
                            ("target", target)):
            pq.write_table(pa.table({"doc_id": pa.array(list(table), pa.int64()),
                                     "text": pa.array(list(table.values()))}),
                           self.dir / f"{name}.parquet")
        # a near copy crossing the content-hash split must be reported by the
        # contamination scan on its test side
        crossing = [i + NEAR_OFFSET if in_train(docs[i]) else i for i in near
                    if in_train(docs[i]) != in_train(docs[i] + " zq")]
        return {
            "n_corpus": len(corpus), "n_target": len(target),
            "exact_pairs": [[i, i + EXACT_OFFSET] for i in exact],
            "contaminated_test_docs": sorted(crossing),
            "republished": [i + REPUBLISH_OFFSET for i in republished],
        }
