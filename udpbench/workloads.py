"""The benchmark's workloads: closed loop, one client, ``local[2]``.

A workload is a sequence of *rounds*.  A round is the unit the loop
aggregates over: the history workload's round runs a fixed query set (its
start rotated by round index), the ingest workload's round is one op on a
warehouse restored to the same pre-built state.  Every round is a pure
function of (seed, round index), so the traced loop can replay the
untraced loop's rounds exactly.  Answers are checked after each op, outside
its timed region.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from udpbench import expected as X
from udpbench import inputs as I
from udpbench.tracing import NullTracer


@dataclass
class Op:
    name: str
    dur: float
    ok: bool
    note: str = ""
    docs: int = 0
    extra: dict = field(default_factory=dict)


def _dir_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def table_file_counts(root: str) -> tuple[int, int]:
    """(parquet data files in live snapshots, marker files) under a
    warehouse root.  Markers are the table layer's commit, claim, intent and
    lock files."""
    data = markers = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                data += 1
            elif f.endswith((".commit", ".claim", ".obs", ".intent", ".lock")):
                markers += 1
    return data, markers


class Workload:
    """Shared set-up helpers.  Subclasses implement ``prepare`` (inputs),
    ``setup`` (timed engine set-up), ``run_round``, ``round_score`` (what
    the warm-up compares between rounds), ``space_amp`` and ``end_state``,
    and set the warm-up's bounds: at least ``warmup_min_scored`` scored
    rounds, at most ``warmup_max_rounds`` rounds."""

    name = ""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.tracer = NullTracer()
        self.spark = None
        self.counters = None  # SparkCounters, set for the traced loop
        self.deltas: list[dict] = []  # per-op Spark counter deltas (traced)
        self.check_tables = False  # whole-warehouse checks after each op
        self.warm_ops: list[Op] = []
        self.round_times: list[float] = []
        self.problems: list[str] = []

    def attach(self, spark) -> None:
        self.spark = spark

    def _bootstrap(self, root: str):
        from unstructured_data_pipeline_spark import catalog, dist

        with self.tracer.span("dist.ensure_shipped"):
            dist.ensure_shipped(self.spark)
        with self.tracer.span("catalog.bootstrap"):
            tables = catalog.bootstrap_warehouse(self.spark, root)
            catalog.seed_invoice_prompts(self.spark, tables)
        return tables

    def _prebuild(self, tables, docs, with_ocr: bool = True) -> None:
        """One pipeline run over ``docs``, appended to the warehouse."""
        from unstructured_data_pipeline_spark.pipelines import batch
        from unstructured_data_pipeline_spark.schemas import NEW_UPLOADS

        spark = self.spark
        df = spark.createDataFrame(
            [(d.file_ref, f"@{d.stage}/{d.file_ref}", d.text) for d in docs],
            "file_ref string, file_url string, text string",
        )
        uploads = spark.createDataFrame(
            [(d.file_ref, f"@{d.stage}/{d.file_ref}", f"@{d.stage}", False, None)
             for d in docs],
            NEW_UPLOADS,
        )
        out = batch.run_document_pipeline(df, with_ocr=with_ocr, cache_intermediate=True)
        batch.persist_pipeline_outputs(out, tables, uploads)

    def after_setup(self) -> None:
        """Untimed work once set-up is done (expected answers)."""


# ---------------------------------------------------------------------------
# history: the read path


HISTORY_BASE_DOCS = 150
# one query per shape: scan + aggregate, six-way join, decorrelated left
# join, distinct count over events, window over events.  A short round keeps
# several whole rounds inside one run.
REGISTRY_QUERIES = (
    "q1_pricing_summary",
    "q5_region_volume",
    "customer_order_stats",
    "event_type_summary",
    "sessionize_summary",
)
HISTORY_OPS = ("history.latest", "history.class_summary", "history.flatten")


class History(Workload):
    """History-tab operators on ``ParquetTable.read()`` of the pipeline-built
    warehouse, plus short relational and event registry queries over the
    seeded fixture tables.  No commits in the loop."""

    name = "history"
    # round time falls steeply for about three rounds after set-up, then
    # by a few per cent a round for several more (a round is eight queries)
    warmup_min_scored = 6
    warmup_max_rounds = 9

    def prepare(self) -> None:
        self.fixture_dir = os.path.join(self.work, "fixtures")
        I.write_fixture_tables(self.seed, self.fixture_dir)
        self.base = I.base_corpus(self.seed, HISTORY_BASE_DOCS)
        # the pre-build is two appended pipeline runs: every document but a
        # no-OCR slice with OCR, then the no-OCR slice plus a re-processed
        # slice without OCR (has_ocr false for the first, two runs per
        # document for the second).  Slices are taken in length order so
        # their byte totals, and with them the warehouse size, do not swing
        # with the seed.
        ranked = sorted(self.base, key=lambda d: (len(d.text), d.doc_id))
        no_ocr = set(d.doc_id for d in ranked[3::10])
        again = set(d.doc_id for d in ranked[::7])
        first = [d for d in self.base if d.doc_id not in no_ocr]
        second = [d for d in self.base if d.doc_id in no_ocr | again]
        self.runs = [(first, True), (second, False)]
        self.mirror = X.HistoryMirror(self.runs)
        self.filters = I.history_filters(self.seed, 16)
        self.doc_bytes = sum(len(d.text.encode()) for docs, _ in self.runs for d in docs)

    def setup(self) -> None:
        self.root = os.path.join(self.work, "warehouse")
        self.tables = self._bootstrap(self.root)
        with self.tracer.span("setup.prebuild"):
            for docs, with_ocr in self.runs:
                self._prebuild(self.tables, docs, with_ocr)

    def after_setup(self) -> None:
        """Oracle answers for the registry queries (DuckDB, untimed)."""
        self.oracle = X.oracle_digests(list(REGISTRY_QUERIES), self.fixture_dir)

    def _ops(self, r: int):
        from unstructured_data_pipeline_spark.operators import history as H
        from unstructured_data_pipeline_spark.queries import REGISTRY

        f = self.filters[r % len(self.filters)]
        hf = H.HistoryFilters(
            classes=list(f["classes"]),
            stage_contains=f["stage_contains"],
            file_contains=f["file_contains"],
        )
        t = self.tables

        def latest():
            eav = t["documents_extracted_fields"].read()
            return H.documents_latest(
                eav, t["documents_processed"].read(), t["document_ocr"].read(), hf
            )

        ops = [
            ("history.latest", latest),
            ("history.class_summary",
             lambda: H.class_summary(t["documents_extracted_fields"].read(), hf)),
            ("history.flatten",
             lambda: H.field_flatten(t["documents_extracted_fields"].read(), hf)),
        ]
        for n in REGISTRY_QUERIES:
            fn = REGISTRY[n][0]
            ops.append((n, lambda fn=fn: fn(self.spark, self.fixture_dir)))
        k = r % len(ops)
        return f, ops[k:] + ops[:k]

    def run_round(self, r: int) -> list[Op]:
        f, ops = self._ops(r)
        sc = self.spark.sparkContext
        out = []
        for name, build in ops:
            registry = name not in HISTORY_OPS
            snap = self.counters.snapshot() if self.counters else None
            t0 = time.perf_counter()
            try:
                with self.tracer.span(name if not registry else "queries.op", query=name):
                    if registry and self.tracer.enabled:
                        gid = f"udpbench-build-{r}-{name}"
                        sc.setJobGroup(gid, name)
                        with self.tracer.span("queries.build", query=name) as a:
                            df = build()
                        a["jobs"] = len(sc.statusTracker().getJobIdsForGroup(gid))
                        sc.setLocalProperty("spark.jobGroup.id", None)
                        with self.tracer.span("queries.exec", query=name):
                            cols, rows = df.columns, df.collect()
                    else:
                        df = build()
                        cols, rows = df.columns, df.collect()
                dur = time.perf_counter() - t0
            except Exception as e:  # an engine failure is a failed op, not a crash
                out.append(Op(name, time.perf_counter() - t0, False, f"raised {e!r:.300}"))
                continue
            if snap is not None:
                self.deltas.append(self.counters.delta(snap))
            note = self._check(name, f, cols, rows)
            out.append(Op(name, dur, note is None, note or ""))
        return out

    def _check(self, name: str, f: dict, cols, rows) -> str | None:
        if name in REGISTRY_QUERIES:
            got = X.digest(cols, rows)
            want = self.oracle[name]
            return None if got == want else f"digest {got} != oracle {want}"
        if name == "history.class_summary":
            return X.multiset_mismatch(
                [(r["class_name"], r["docs"]) for r in rows], self.mirror.class_summary(f)
            )
        if name == "history.flatten":
            return X.multiset_mismatch(
                [(r["file_ref"], r["class_name"], r["field_name"], r["field_value_json"])
                 for r in rows],
                self.mirror.field_flatten(f),
            )
        if any(r["processed_at"] is None for r in rows):
            return "documents_latest row without processed_at"
        return X.multiset_mismatch(
            [(r["file_ref"], r["class_name"], r["stage"], r["fields_extracted"],
              r["has_ocr"]) for r in rows],
            self.mirror.documents_latest(f),
        )

    def round_score(self, ops: list[Op]) -> float:
        return sum(o.dur for o in ops)

    def space_amp(self) -> float:
        return _dir_bytes(self.root) / self.doc_bytes

    def end_state(self) -> dict:
        data, markers = table_file_counts(self.root)
        return {"table_files": data, "marker_files": markers}


# ---------------------------------------------------------------------------
# ingest: the write path


INGEST_BASE_DOCS = 120
BATCH_DOCS = 20


class Ingest(Workload):
    """Each op lands one seeded batch and drains it through the intake
    stream into the warehouse, then runs incremental dedup on it; one op in
    every ``REPLAY_EVERY`` (seeded phase) re-delivers the already-delivered
    batch 1 through the same idempotent functions.  Every op starts from
    the same state, restored untimed: ``INGEST_BASE_DOCS`` pre-built
    documents plus batch 1 (``BATCH_DOCS`` documents) delivered through the
    stream during set-up, its checkpoint and landed files.  An op grows the
    warehouse by at most ``BATCH_DOCS`` documents before the next restore."""

    name = "ingest"
    # op time falls for six to ten ops after set-up, steeply for the first
    # three or four; a fixed minimum puts every run at about the same point
    # of that slope, and the run's time budget does not allow waiting for
    # its end
    warmup_min_scored = 4
    warmup_max_rounds = 8

    def prepare(self) -> None:
        self.base = I.base_corpus(self.seed, INGEST_BASE_DOCS)
        self.delivered = I.delivered_batch(self.seed, self.base, BATCH_DOCS)
        self.base_bytes = sum(len(d.text.encode()) for d in self.base + self.delivered.docs)
        mirror = X.DedupMirror()
        self.base_verdicts = mirror.verdicts(0, self.base)
        self.delivered_verdicts = mirror.verdicts(1, self.delivered.docs)
        self.mirror = mirror
        self.amp: list[float] = []

    def _corpus(self, tables):
        from pyspark.sql import functions as F

        return tables["document_ocr"].read().select(
            F.substring("file_ref", 2, 8).cast("long").alias("doc_id"),
            F.get_json_object("ocr", "$.content").alias("text"),
        )

    def setup(self) -> None:
        from unstructured_data_pipeline_spark.operators.dedup import IncrementalLshDedup
        from unstructured_data_pipeline_spark.streaming import intake

        # built in place at the live paths (the stream checkpoint records
        # absolute file paths), then kept as a pristine copy
        self.live = os.path.join(self.work, "live")
        root = os.path.join(self.live, "warehouse")
        tables = self._bootstrap(root)
        with self.tracer.span("setup.prebuild"):
            self._prebuild(tables, self.base)
        with self.tracer.span("setup.index"):
            dd = IncrementalLshDedup(self.spark, root)
            base_flags = dd.process_batch(self._corpus(tables), self._corpus(tables), 0)
        with self.tracer.span("setup.deliver"):
            landing = os.path.join(self.live, "landing")
            os.makedirs(landing)
            self._land(landing, self.delivered.docs)
            q = intake.start_intake_stream(
                self.spark, landing, os.path.join(self.live, "checkpoint"), tables
            )
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"set-up intake stream failed: {q.exception()}")
            flags = dd.process_batch(self._batch_df(self.delivered), self._corpus(tables), 1)
        self.tables, self.dedup = tables, dd
        self.template = os.path.join(self.work, "template")
        shutil.copytree(self.live, self.template)
        self._base_flags = (base_flags, flags)

    def after_setup(self) -> None:
        for label, got, want in (
            ("base", self._base_flags[0], self.base_verdicts),
            ("batch 1", self._base_flags[1], self.delivered_verdicts),
        ):
            if {r["doc_id"]: r["is_dup"] for r in got.collect()} != want:
                self.problems.append(f"set-up: {label} dedup verdicts differ from the mirror")

    def _reset(self) -> tuple[str, str]:
        """Restore warehouse, landed files and stream checkpoint to the
        set-up state.  Untimed."""
        shutil.rmtree(self.live)
        shutil.copytree(self.template, self.live)
        return os.path.join(self.live, "landing"), os.path.join(self.live, "checkpoint")

    @staticmethod
    def _land(landing: str, docs) -> None:
        """Write each document under a hidden name, then rename it into
        place, so the file source never lists a partial file."""
        for d in docs:
            tmp = os.path.join(landing, f".{d.file_ref}.tmp")
            with open(tmp, "w", encoding="utf-8") as fh:
                fh.write(d.text)
            os.replace(tmp, os.path.join(landing, d.file_ref))

    def _batch_df(self, op: I.IngestOp):
        return self.spark.createDataFrame(
            [(d.doc_id, d.text) for d in op.docs], "doc_id long, text string"
        )

    def _redeliver(self, landing: str, op: I.IngestOp):
        """The batch a foreachBatch replay would hand the sink: the landed
        files read again with the intake stream's projection."""
        from pyspark.sql import functions as F

        paths = [os.path.join(landing, d.file_ref) for d in op.docs]
        return (
            self.spark.read.format("text").option("wholetext", "true").load(paths)
            .select(
                F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file_ref"),
                F.input_file_name().alias("file_url"),
                F.col("value").alias("text"),
            )
        )

    def _dedup(self, op: I.IngestOp, span: str):
        """process_batch against the warehouse's text lookup, in a span.
        Returns the verdicts, the SQL execution mark taken before the call
        and the span's attributes, which the traced loop fills after the op
        from the call's executions."""
        mark = self.counters.execution_mark() if self.counters else -1
        with self.tracer.span(span) as attrs:
            flags = self.dedup.process_batch(
                self._batch_df(op), self._corpus(self.tables), op.batch_id
            )
        return flags, (mark, attrs)

    def _op(self, op: I.IngestOp, landing: str, ckpt: str):
        from unstructured_data_pipeline_spark.pipelines import batch
        from unstructured_data_pipeline_spark.streaming import intake

        progress = []
        if op.replay:
            out = batch.run_document_pipeline(
                self._redeliver(landing, op), cache_intermediate=True
            )
            batch.persist_pipeline_outputs_idempotent(out, self.tables)
            flags, dedup = self._dedup(op, "dedup.replay")
        else:
            self._land(landing, op.docs)
            with self.tracer.span("intake.drain"):
                with self.tracer.span("intake.start"):
                    q = intake.start_intake_stream(self.spark, landing, ckpt, self.tables)
                q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(f"intake stream failed: {q.exception()}")
            progress = q.recentProgress
            flags, dedup = self._dedup(op, "dedup.process_batch")
        return flags, progress, dedup

    def run_round(self, r: int) -> list[Op]:
        op = I.ingest_op(self.seed, r, self.base, self.delivered, BATCH_DOCS)
        landing, ckpt = self._reset()
        snap = self.counters.snapshot() if self.counters else None
        t0 = time.perf_counter()
        try:
            with self.tracer.span("ingest.op", replay=op.replay):
                flags, progress, (mark, dedup_attrs) = self._op(op, landing, ckpt)
            dur = time.perf_counter() - t0
        except Exception as e:  # an engine failure is a failed op, not a crash
            return [Op("ingest.op", time.perf_counter() - t0, False,
                       f"raised {e!r:.300}", len(op.docs))]
        if snap is not None:
            self.deltas.append(self.counters.delta(snap))
            if dedup_attrs is not None:
                dedup_attrs.update(self.counters.dedup_metrics(mark, self.dedup.table.path))
        with self.tracer.pause():
            return [self._check_op(op, flags, dur, progress)]

    def _check_op(self, op: I.IngestOp, flags, dur: float, progress) -> Op:
        got = {row["doc_id"]: row["is_dup"] for row in flags.collect()}
        want = self.mirror.copy().verdicts(op.batch_id, op.docs)
        notes = []
        if got != want:
            bad = sorted(k for k in want if got.get(k) != want[k])[:5]
            notes.append(f"dedup verdicts differ from the mirror for {bad}")
        missed = [k for k, (_, e) in op.relands.items() if e == 0 and not got.get(k)]
        if missed:
            notes.append(f"verbatim re-lands not flagged: {missed[:5]}")
        new_docs = [] if op.replay else op.docs
        if self.check_tables:
            note = self._check_tables(new_docs)
            if note:
                notes.append(note)
        landed = sum(len(d.text.encode()) for d in new_docs)
        self.amp.append(_dir_bytes(os.path.join(self.live, "warehouse"))
                        / (self.base_bytes + landed))
        return Op("ingest.op", dur, not notes, "; ".join(notes), len(op.docs),
                  {"replay": op.replay, "progress": progress})

    def _check_tables(self, new_docs: list) -> str | None:
        """Warehouse state after the op == base + batch 1 + the op's new
        documents, each exactly once (a replay adds and changes nothing)."""
        want_p, want_e, want_o = [], [], []
        for d in self.base + self.delivered.docs + new_docs:
            p, e, o = X.pipeline_rows(d)
            want_p.append(p)
            want_e.extend(e)
            want_o.extend(o)
        t = self.tables
        got_p = t["documents_processed"].read().collect()
        got_e = t["documents_extracted_fields"].read().collect()
        got_o = t["document_ocr"].read().collect()
        bad_url = [r["file_ref"] for r in got_p + got_e
                   if not (r["file_url"] or "").endswith("/" + r["file_ref"])]
        if bad_url:
            return f"file_url does not name its file for {bad_url[:3]}"
        for label, got, want in (
            ("documents_processed",
             [(r["file_ref"], r["class_name"], r["extraction_result"]) for r in got_p], want_p),
            ("documents_extracted_fields",
             [(r["file_ref"], r["class_name"], r["field_name"], r["field_value"])
              for r in got_e], want_e),
            ("document_ocr", [(r["file_name"], r["ocr"], r["summary"]) for r in got_o], want_o),
        ):
            m = X.multiset_mismatch(got, want)
            if m:
                return f"{label}: {m}"
        return None

    def round_score(self, ops: list[Op]) -> float:
        """Fresh-batch op time (replays skip the stream, so they are not
        comparable); 0 for a replay round, which the warm-up skips."""
        return sum(o.dur for o in ops if not o.extra.get("replay"))

    def space_amp(self) -> float:
        return statistics.median(self.amp)

    def end_state(self) -> dict:
        data, markers = table_file_counts(os.path.join(self.live, "warehouse"))
        return {"table_files": data, "marker_files": markers}


WORKLOADS = {"ingest": Ingest, "history": History}
