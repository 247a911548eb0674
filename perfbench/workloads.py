"""The workloads: what one operation is, the warm-up pass, the
output checks and the layer metrics only a workload can compute.

Every workload is a closed loop with one client: the runner calls
``cycle(i)`` and runs its operations one after another, each starting
after the previous one returned. Operations call the package's public
entry points; in a traced run each layer call sits in a span
(``spans.Tracer``) and lazy results are materialized inside the span
that produced them.
"""

from __future__ import annotations

import os
import shutil
import statistics
from dataclasses import dataclass

import duckdb

from data_pipeline_csv_spark.control.state import RunRegistry, execute_run
from data_pipeline_csv_spark.engine import PipelineEngine
from data_pipeline_csv_spark.operators import dedup as dedup_ops
from data_pipeline_csv_spark.queries.dedup import _EXACT_PAIRS_SQL
from data_pipeline_csv_spark.streaming import read_docs_stream, run_streaming_neardup
from data_pipeline_csv_spark.streaming import sinks


@dataclass
class Op:
    kind: str  # "write" | "read"
    fn: object  # fn(seq) -> None; raises on failure
    rows: int  # input rows the operation processes
    in_bytes: int = 0  # input bytes (write operations, for write_amp)
    prep: object = None  # run before the timer starts: input arrival
    after: object = None  # run after the timer stops: bookkeeping


def tree_files(path: str) -> list[str]:
    return [os.path.join(r, f) for r, _d, fs in os.walk(path) for f in fs]


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in tree_files(path))


class Workload:
    name = ""
    NOMINAL_CYCLE_S = 1.0  # one cycle's wall time on a 4-core host

    def __init__(self, spark, tracer, inputs: str, manifest: dict, work: str, warm_up: bool = False):
        self.warm_up = warm_up  # True for the set-up pass on a small input
        self.spark = spark
        self.tracer = tracer
        self.inputs = inputs
        self.manifest = manifest
        self.work = work
        os.makedirs(work, exist_ok=True)
        self.failed: dict[int, str] = {}  # op seq -> reason, from verify()

    def prepare(self) -> None:
        """Untimed work between set-up and the timed phase."""

    def cycle(self, i: int) -> list[Op]:
        """Operations of cycle ``i``. The timed phase runs whole cycles,
        so every run sees the same mix of operation kinds."""
        raise NotImplementedError

    def warm_ops(self) -> list[Op]:
        """The set-up warm-up pass: every operation kind once."""
        return self.cycle(0)

    def out_dirs(self) -> list[str]:
        """Directories whose new bytes count toward ``write_amp``."""
        return [self.work]

    def verify(self) -> None:
        """Check every recorded output; fill ``self.failed``."""

    def layer_metrics(self, spans, n_ops: int) -> dict:
        """Layer metrics that need workload knowledge (traced runs)."""
        return {}


# --------------------------------------------------------------------
class CsvEtl(Workload):
    """Write: ``execute_run`` around ``PipelineEngine.run_pipeline`` on
    one directory of CSV files (overwriting table ``products``). Read:
    ``preview(10)`` plus ``stats()`` on the table just written."""

    name = "csv_etl"
    NOMINAL_CYCLE_S = 1.9
    # untimed cycles on the full input: a process's first ~10 writes
    # run slower while the JVM compiles the hot paths
    WARM_CYCLES = 8
    TABLE = "products"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.engine = PipelineEngine(self.spark, os.path.join(self.work, "tables"))
        self.registry = RunRegistry()
        t, e = self.tracer, self.engine
        e.ingest = t.wrap("sources.csv", "construct", e.ingest)
        e.load = t.wrap("engine", "load", e.load, after=self._load_bytes)
        e.preview = t.wrap("engine", "preview", e.preview)
        e.stats = t.wrap("engine", "stats", e.stats)
        self.writes: list[tuple[int, dict, object]] = []  # seq, batch, run record
        self.reads: list[tuple[int, dict, list, dict]] = []  # seq, batch, preview, stats
        self.last_batch: dict | None = None

    def prepare(self):
        if not self.warm_up:
            for i in range(self.WARM_CYCLES):
                for op in self.cycle(i):
                    op.fn(-1)
            # the timed cycles run the same batches: check only theirs
            self.writes, self.reads = [], []

    @staticmethod
    def _load_bytes(result, span) -> None:
        span.attrs["bytes"] = tree_bytes(result.table_path)
        span.attrs["rows"] = result.rows_written

    def cycle(self, i):
        batch = self.manifest["batches"][i % len(self.manifest["batches"])]
        return [
            Op("write", lambda seq: self._write(seq, batch), batch["rows"], batch["bytes"]),
            Op("read", self._read, 0),
            Op("read", self._read, 0),
        ]

    def _write(self, seq, batch):
        src = os.path.join(self.inputs, batch["dir"])
        run = self.registry.create({"source": src})
        with self.tracer.span("control.state", "execute_run") as s:
            execute_run(
                self.registry, run.run_id,
                lambda: self.engine.run_pipeline(src, self.TABLE).rows_written,
            )
            if s is not None:
                s.attrs["in_rows"] = batch["rows"]
        rec = self.registry.get(run.run_id)
        self.writes.append((seq, batch, rec))
        self.last_batch = batch
        if rec.status != "completed":
            raise RuntimeError(f"run {rec.run_id} {rec.status}: {rec.error}")

    def _read(self, seq):
        preview = self.engine.preview(self.TABLE, 10)
        stats = self.engine.stats(self.TABLE)
        self.reads.append((seq, self.last_batch, preview, stats))

    def out_dirs(self):
        return [self.engine.warehouse_dir]

    def verify(self):
        cols = self.manifest["columns"]
        for seq, batch, rec in self.writes:
            if rec.records_processed != batch["kept_rows"]:
                self.failed[seq] = f"wrote {rec.records_processed} rows, expected {batch['kept_rows']}"
        for seq, batch, preview, stats in self.reads:
            want = batch["kept_rows"]
            names = [c["name"] for c in stats["columns"]]
            if stats["total_records"] != want:
                self.failed[seq] = f"stats total {stats['total_records']}, expected {want}"
            elif names != cols:
                self.failed[seq] = f"columns {names}, expected {cols}"
            elif len(preview) != min(10, want) or any(list(r) != cols for r in preview):
                self.failed[seq] = "preview rows or keys differ"
            elif any(v is None for r in preview for v in r.values()):
                self.failed[seq] = "preview holds a null after dropna"

    def layer_metrics(self, spans, n_ops):
        by_id = {s.sid: s for s in spans}
        loads = [s for s in spans if s.key == "engine.load"]
        kept = [s.attrs["rows"] / by_id[s.parent].attrs["in_rows"] for s in loads]
        loads = [s.attrs["bytes"] for s in loads]
        return {
            "sources.csv.files": self.manifest["files_per_write"],
            "engine.load.bytes_written": statistics.median(loads) if loads else 0,
            "engine.clean.kept_frac": statistics.median(kept) if kept else 0.0,
            "control.state.failed_runs": sum(1 for r in self.registry.all() if r.status == "failed"),
        }


# --------------------------------------------------------------------
class NeardupFeed(Workload):
    """Write: one epoch — the next generated batch file lands in the
    staged directory and ``run_streaming_neardup`` drains it
    (``compact_every=5`` folds the state in-stream every fifth epoch).
    Read: the accumulated pair set, collected, eight after each epoch.
    ``prepare`` drains the first ``WARM_EPOCHS`` batches untimed, so
    every timed epoch probes history on a warm probe path, and each
    cycle of five epochs holds exactly one compaction."""

    name = "neardup_feed"
    NOMINAL_CYCLE_S = 28.0
    COMPACT_EVERY = 5
    WARM_EPOCHS = 2
    READS_PER_EPOCH = 8

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.staged = os.path.join(self.work, "staged")
        self.state = os.path.join(self.work, "state")
        self.checkpoint = os.path.join(self.work, "checkpoint")
        os.makedirs(self.staged)
        self.index_table = f"pb_neardup_idx_{os.path.basename(self.work.rstrip('/'))}"
        self.fed = 0  # batches handed to the stream
        self.pairs_df = None
        self.reads: list[tuple[int, int, set]] = []  # seq, batches fed, pairs
        self._cached: list = []
        self.pairs_after: dict[int, int] = {}  # batches fed -> pairs (traced runs)

    def _batch_file(self, b):
        return os.path.join(self.inputs, f"batch-{b:04d}.parquet")

    def prepare(self):
        if not self.warm_up:
            for b in range(self.WARM_EPOCHS):
                self._arrive(b)
                self._write(-1 - b)
            if self.tracer.enabled:
                self.pairs_after[self.fed] = self.pairs_df.count()

    def _epoch(self, b):
        write = Op("write", self._write, self.manifest["docs_per_batch"],
                   os.path.getsize(self._batch_file(b)), prep=lambda: self._arrive(b))
        return [write] + [Op("read", self._read, 0) for _ in range(self.READS_PER_EPOCH)]

    def cycle(self, i):
        first = self.WARM_EPOCHS + self.COMPACT_EVERY * i
        if first + self.COMPACT_EVERY > self.manifest["batches"]:
            raise RuntimeError("generated corpus exhausted")
        return [op for b in range(first, first + self.COMPACT_EVERY) for op in self._epoch(b)]

    def warm_ops(self):
        return self._epoch(0)[:2]

    def _arrive(self, b):
        shutil.copyfile(self._batch_file(b), os.path.join(self.staged, f"batch-{b:04d}.parquet"))

    def _materialize(self, df, span):
        """Inside the span: compute and cache a lazy dedup result, so
        the span holds its work; the epoch writer then reads the cache."""
        df.persist()
        span.attrs["count"] = df.count()
        self._cached.append(df)

    def _write(self, seq):
        t = self.tracer
        saved = {}
        if t.enabled:
            # the epoch writer imports these at call time, so module
            # attributes patched here are the ones it runs
            saved = {
                "lsh_band_entries": dedup_ops.lsh_band_entries,
                "lsh_bucket_candidates": dedup_ops.lsh_bucket_candidates,
                "lsh_probe_candidates": dedup_ops.lsh_probe_candidates,
            }
            dedup_ops.lsh_band_entries = t.wrap("operators.dedup", "signature", saved["lsh_band_entries"],
                                                after=self._materialize)
            for n in ("lsh_bucket_candidates", "lsh_probe_candidates"):
                setattr(dedup_ops, n, t.wrap("operators.dedup", "candidates", saved[n],
                                             after=self._materialize))
            saved["compact_neardup_state"] = sinks.compact_neardup_state
            sinks.compact_neardup_state = t.wrap("streaming.sinks", "compact", saved["compact_neardup_state"])
        try:
            with t.span("streaming.sinks", "epoch"):
                stream = read_docs_stream(self.spark, self.staged)
                self.pairs_df = run_streaming_neardup(
                    stream, self.spark, state_root=self.state, checkpoint=self.checkpoint,
                    threshold=0.8, epoch_partitions=2, compact_every=self.COMPACT_EVERY,
                    index_table=self.index_table,
                )
        finally:
            for n, f in saved.items():
                setattr(sinks if n == "compact_neardup_state" else dedup_ops, n, f)
            for df in self._cached:
                df.unpersist()
            self._cached = []
            self.fed += 1

    def _read(self, seq):
        with self.tracer.span("streaming.sinks", "read"):
            rows = self.pairs_df.collect()
        self.reads.append((seq, self.fed, {(r.d1, r.d2, r.jaccard) for r in rows}))
        self.pairs_after[self.fed] = len(rows)

    def out_dirs(self):
        from urllib.parse import urlparse

        warehouse = urlparse(self.spark.conf.get("spark.sql.warehouse.dir")).path  # index tables
        return [self.state, self.checkpoint, warehouse]

    def verify(self):
        if not self.reads:
            return
        files = [self._batch_file(b) for b in range(max(f for _s, f, _p in self.reads))]
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet({files!r})")
            oracle = con.execute(_EXACT_PAIRS_SQL).fetchall()
        finally:
            con.close()
        per_batch = self.manifest["docs_per_batch"]
        for seq, fed, got in self.reads:
            want = {(d1, d2, j) for d1, d2, j in oracle if d2 < fed * per_batch}
            if got != want:
                self.failed[seq] = f"pairs after {fed} batches: {len(got)} vs oracle {len(want)}"

    def layer_metrics(self, spans, n_ops):
        epochs = [s for s in spans if s.key == "streaming.sinks.epoch"]
        fed = sorted(self.pairs_after)
        pairs = [self.pairs_after[b] - self.pairs_after[a] for a, b in zip(fed, fed[1:])]
        per_epoch = {e.sid: 0 for e in epochs}
        for s in spans:
            if s.key == "operators.dedup.candidates":
                per_epoch[s.parent] += s.attrs["count"]
        cands = list(per_epoch.values())
        files = tree_files(self.state)
        return {
            "operators.dedup.candidates": statistics.median(cands) if cands else 0,
            "operators.dedup.pairs": statistics.median(pairs) if pairs else 0,
            "operators.dedup.candidate_precision": sum(pairs) / sum(cands) if sum(cands) else 0.0,
            "streaming.sinks.state_bytes": sum(os.path.getsize(f) for f in files),
            "streaming.sinks.state_files": len(files),
        }


WORKLOADS = {w.name: w for w in (CsvEtl, NeardupFeed)}
