"""The closed-loop workloads (one client: the next operation
starts only after the previous one completes).

Each workload drives the engine only through public entry points:

* ``ingest_ocr_heavy``: ``streaming.extract_stream.stream_extract_to_store``
  (an ``availableNow`` restart per landed increment, which runs
  ``operators.extract.extract`` with the costed recognizer) into
  ``sources.storage.ExtractionStore``, closed by one ``upsert``;
* ``curation_queries``: ``queries()[name]`` for five dedup, text and
  curation queries.

A workload exposes ``generate`` (inputs; untimed), ``warm_up`` (part of
each set-up), ``op`` (one timed unit of work), ``close`` (timed closing
step, if any), ``check`` (untimed output check) and, for the traced run,
``layers`` (per-layer metrics from the spans and the event log).
"""

from __future__ import annotations

import math
import os
import statistics
import time
from typing import Any

from perfbench import checks, inputs
from perfbench.trace import EventLog, Tracer, skew, window


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _med(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def tail(values: list[float]) -> tuple[float, float, int]:
    """The tail as ``(value, percentile, n)``: the highest percentile with
    at least ten samples beyond it, but never below the upper quartile
    (below 40 samples, p75), linearly interpolated between the two
    samples around it."""
    vals = sorted(values)
    n = len(vals)
    pct = max(75.0, 100.0 * (n - 10) / n)
    pos = pct / 100.0 * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return vals[lo] + (pos - lo) * (vals[hi] - vals[lo]), pct, n


SETUPS = 3  # set-ups per run; each ends with its workload's warm-up


class Workload:
    name = ""
    unit = "op"
    # the per-layer metrics ``layers`` returns; a traced run of another
    # workload reports them as 0
    LAYER_METRICS: tuple[str, ...] = ()
    # timed ops a run makes at the least (twice that in a traced run,
    # which alternates traced and untraced ops)
    MIN_OPS = 1

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.props: dict[str, Any] = {}
        self.exhausted = False

    def close(self, spark, tracer: Tracer | None) -> dict[str, Any] | None:
        return None

    def docs_per_s(self, ops: list[dict[str, Any]]) -> float:
        """Median over ops of docs per second of op wall."""
        return _med([o["docs"] / o["wall_s"] for o in ops if o["wall_s"] > 0])

    def latency(self, ops: list[dict[str, Any]]) -> dict[str, float]:
        """Median and tail (see ``tail``) of the ops' walls."""
        walls = [o["wall_s"] for o in ops]
        value, pct, n = tail(walls)
        return {"p50": _med(walls), "tail": value, "tail_percentile": pct, "n": n}


# ---------------------------------------------------------------------------
# ingest_ocr_heavy
# ---------------------------------------------------------------------------


class IngestOcrHeavy(Workload):
    """One op = land one increment file of the OCR-heavy ``make_corpus``
    mix, restart the ``availableNow`` stream from its checkpoint and wait
    until ``ExtractionStore.run_resumable`` has committed it. The costed
    recognizer does the OCR. The run closes with one ``upsert``."""

    name = "ingest_ocr_heavy"
    unit = "increment"
    LAYER_METRICS = tuple(
        f"extract.{m}" for m in (
            "explode_plain.wall_s", "plain.rows_in", "plain.rows_out", "ocr.media_rows",
            "ocr.tokens_out", "ocr.python_s", "ocr.stage_run_s", "ocr.handoff_s",
            "ocr.recognize_s", "ocr.fusion_s", "ocr.task_skew", "assemble.wall_s",
            "assemble.shuffle_bytes", "assemble.shuffle_records", "assemble.task_skew",
            "repartition.shuffle_bytes")
    ) + tuple(
        f"storage.{m}" for m in (
            "pending.wall_s", "pending.skip_frac", "run_resumable.wall_s", "upsert.wall_s",
            "bytes_written", "write_amp", "files_written")
    ) + tuple(
        f"stream.{m}" for m in (
            "start_s", "trigger_ms", "add_batch_ms", "get_batch_ms", "query_planning_ms",
            "wal_commit_ms", "fixed_ms")
    )
    N_INCREMENTS = 20
    NEW_PER_INCREMENT = 200
    REDELIVER_SHARE = 0.2
    UPSERT_DOCS = 50

    def generate(self) -> None:
        # one increment per set-up, landed by its warm-up, then the timed ones
        base = os.path.join(self.work, "ingest")
        gen = inputs.gen_ingest(base, self.seed, SETUPS + self.N_INCREMENTS,
                                self.NEW_PER_INCREMENT, self.REDELIVER_SHARE, self.UPSERT_DOCS)
        self.gen, self.props = gen, gen["props"]
        self.landing = os.path.join(base, "landing")
        os.makedirs(self.landing, exist_ok=True)
        self.ckpt = os.path.join(base, "checkpoint")
        self.store_root = os.path.join(base, "store")
        self.next = 0
        self.landed: list[dict[str, Any]] = []

    @staticmethod
    def _recognizer():
        from ocr_intern_spark.sources.corpus import costed_stub_ocr_tokens

        return costed_stub_ocr_tokens

    def _stream(self, spark, landing: str, store, ckpt: str):
        from ocr_intern_spark.streaming.extract_stream import (
            read_documents_stream,
            stream_extract_to_store,
        )

        t0 = time.perf_counter()
        q = stream_extract_to_store(
            read_documents_stream(spark, landing), self._recognizer(), store, ckpt
        ).start()
        start_s = time.perf_counter() - t0
        if not q.awaitTermination(120):
            q.stop()
            raise RuntimeError("increment did not commit within 120 s")
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        return q, start_s

    def warm_up(self, spark, k: int) -> None:
        """Land the next increment, as a timed op does. The warm-ups
        leave the store non-empty, so every timed increment runs the
        resume anti-join against committed docs."""
        self.op(spark, None)

    def _store(self, tracer: Tracer | None, rec: dict[str, Any]):
        from ocr_intern_spark.sources.storage import ExtractionStore

        if tracer is None:
            return ExtractionStore(self.store_root)

        class TracedStore(ExtractionStore):
            """Times the store calls the stream's batch handler makes."""

            def run_resumable(self, docs, extract_fn, run_id=None):
                with tracer.span("storage.run_resumable"):
                    res = super().run_resumable(docs, extract_fn, run_id=run_id)
                rec.setdefault("committed", []).append(res["docs_written"])
                return res

        return TracedStore(self.store_root)

    def op(self, spark, tracer: Tracer | None) -> dict[str, Any]:
        if self.next >= len(self.gen["increments"]):
            self.exhausted = True
            return {"docs": 0, "wall_s": 0.0}
        inc = self.gen["increments"][self.next]
        self.next += 1
        rec: dict[str, Any] = {"props": inc["props"], "new": len(inc["new"]),
                               "doc_ids": inc["new"] + inc["redelivered"]}
        store = self._store(tracer, rec)
        if tracer is not None:
            self._trace_layers(spark, tracer, store, inc, rec)
        t0 = time.perf_counter()
        os.replace(inc["path"], os.path.join(self.landing, os.path.basename(inc["path"])))
        if tracer is not None:
            with tracer.span("ingest.increment") as s:
                q, start_s = self._stream(spark, self.landing, store, self.ckpt)
            rec["increment"] = s
        else:
            q, start_s = self._stream(spark, self.landing, store, self.ckpt)
        wall = time.perf_counter() - t0
        self.landed.append(inc)
        out = {"docs": len(inc["new"]), "wall_s": wall}
        if tracer is not None:
            rec["start_s"] = start_s
            rec["progress"] = list(q.recentProgress)
            rec["store_bytes_after"] = _dir_bytes(store.extracted_path)
            out["trace"] = rec
        return out

    def _trace_layers(self, spark, tracer: Tracer, store, inc: dict, rec: dict) -> None:
        """Before the increment lands: the resume probe, then each
        extraction layer called on its own over the increment's input
        (explode + plain transform, the OCR stage, the full pipeline with
        the per-task OCR timing accumulator), each to a noop sink."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from ocr_intern_spark.operators import extract as ex

        sc = spark.sparkContext
        recognize = self._recognizer()
        incoming = spark.read.parquet(inc["path"])
        with tracer.span("storage.pending") as s:
            pending = store.pending(incoming).count()
        rec["pending"] = s
        rec["skip_frac"] = 1.0 - pending / max(1, inc["props"]["docs"])
        rec["store_bytes_before"] = _dir_bytes(store.extracted_path)

        count = F.count(F.lit(1)).alias("n")
        obs_in, obs_out = Observation("rows_in"), Observation("rows_out")
        with tracer.span("extract.explode_plain") as s:
            flat = ex.explode_spans(incoming).observe(obs_in, count)
            _noop(ex.transform_plain_spans(flat).observe(obs_out, count))
        rec["explode_plain"] = s
        rec["plain_rows_in"] = int(obs_in.get["n"])
        rec["plain_rows_out"] = int(obs_out.get["n"])

        obs_tok = Observation("tokens")
        acc_layer = sc.accumulator([], ex.ListAccumulator())
        with tracer.span("extract.ocr"):
            _noop(ex.ocr_media_spans(
                ex.explode_spans(incoming), recognize,
                ocr_partitions=sc.defaultParallelism, timing_acc=acc_layer,
            ).observe(obs_tok, count))
        rec["ocr_layer_media_rows"] = sum(r[1] for r in acc_layer.value)
        rec["tokens_out"] = int(obs_tok.get["n"])

        acc = sc.accumulator([], ex.ListAccumulator())
        obs_full = Observation("full")
        with tracer.span("extract.full") as s:
            _noop(ex.extract(incoming, recognize, ocr_timing_acc=acc).observe(
                obs_full, F.count(F.lit(1)).alias("docs"),
                F.coalesce(F.sum(F.size("spans")), F.lit(0)).alias("spans"),
            ))
        rec["full"] = s
        rec["ocr_timing"] = list(acc.value)
        rec["docs_out"] = int(obs_full.get["docs"])
        rec["spans_out"] = int(obs_full.get["spans"])

    def close(self, spark, tracer: Tracer | None) -> dict[str, Any]:
        """The closing ``upsert``: re-extract some of the first
        increment's new docs and MERGE them over their committed rows."""
        from ocr_intern_spark.operators.extract import extract
        from ocr_intern_spark.sources.storage import ExtractionStore

        store = ExtractionStore(self.store_root)
        updated = extract(spark.read.parquet(self.gen["upsert_path"]), self._recognizer())
        t0 = time.perf_counter()
        if tracer is not None:
            with tracer.span("storage.upsert"):
                store.upsert(updated)
        else:
            store.upsert(updated)
        return {"docs": self.UPSERT_DOCS, "wall_s": time.perf_counter() - t0}

    def check(self, spark) -> tuple[int, int, list[str]]:
        from pyspark.sql import functions as F

        from ocr_intern_spark.sources.corpus import stub_ocr_tokens
        from ocr_intern_spark.sources.storage import ExtractionStore

        store = ExtractionStore(self.store_root)
        delivered = {d for inc in self.landed for d in inc["new"] + inc["redelivered"]}
        expected = {d: self.gen["docs"][d] for d in delivered}
        rows = checks.collect_extracted(spark.read.parquet(store.extracted_path))
        # the costed recognizer emits exactly stub_ocr_tokens' tokens
        attempted, failed, notes = checks.check_extracted(rows, expected, stub_ocr_tokens)
        # every increment's metrics rows (warm-up ones included) together
        # count each new doc once
        written = store.metrics(spark).agg(F.sum("docs")).first()[0] or 0
        attempted += 1
        if written != len(expected):
            failed += 1
            notes.append(f"metrics docs {written} != docs written {len(expected)}")
        return attempted, failed, notes

    def layers(self, log: EventLog, ops: list[dict[str, Any]], tracer: Tracer) -> tuple[dict, list[str]]:
        recs = [o["trace"] for o in ops if "trace" in o]
        m = self._extract_layers(log, recs)
        problems = self._reconcile(recs)
        m.update(self._in_process_ocr(recs[-1]["doc_ids"] if recs else []))
        m.update(self._storage_stream_layers(log, recs, tracer))
        return m, problems

    @staticmethod
    def _reconcile(recs: list[dict[str, Any]]) -> list[str]:
        """Counts that must agree, from shape-independent sources: the
        generator, the benchmark's observations, the OCR stage's own
        accumulator and the store's commit results."""
        problems = []
        for r in recs:
            p = r["props"]
            for label, a, b in (
                ("docs in = docs out", p["docs"], r["docs_out"]),
                ("exploded rows = plain.rows_in", p["spans"], r["plain_rows_in"]),
                ("media rows = OCR input", p["media_refs"], sum(t[1] for t in r["ocr_timing"])),
                ("media rows = OCR layer input", p["media_refs"], r["ocr_layer_media_rows"]),
                ("assembly rows in = spans out + one sentinel per doc",
                 r["plain_rows_out"] + r["tokens_out"] + p["docs"],
                 r["spans_out"] + r["docs_out"]),
                ("committed docs = new docs", r["new"], sum(r.get("committed", []))),
            ):
                if a != b:
                    problems.append(f"{label}: {a} != {b}")
        return problems

    @staticmethod
    def _extract_layers(log: EventLog, recs: list[dict[str, Any]]) -> dict[str, float]:
        """Stage numbers of the full-pipeline call, classified by the
        operators each stage ran: the stage whose tasks ran Python is
        the OCR stage (it also carries the plain spans and sentinels
        into the assembly shuffle, so it is the one holding ``Union``);
        the aggregate stage that writes no shuffle is the assembly's
        reduce side; any other shuffle-writing stage is a repartition."""
        per = {k: [] for k in ("python", "stage_run", "ocr_skew", "asm_wall", "asm_bytes",
                               "asm_records", "asm_skew", "rep_bytes")}
        for r in recs:
            stages = log.stages_in(*window(r["full"]))
            ocr_tasks = [t for s in stages for t in s["tasks"] if t["python"]]
            final = [s for s in stages if "ObjectHashAggregate" in s["scopes"]
                     and not any(t["python"] or t["sw_bytes"] for t in s["tasks"])]
            union = [s for s in stages if "Union" in s["scopes"]]
            other = [s for s in stages if s not in union and s not in final]
            python_s = sum(t[2] for t in r["ocr_timing"]) / 1000.0
            per["python"].append(python_s)
            per["stage_run"].append(sum(t["run_ms"] for t in ocr_tasks) / 1000.0)
            per["ocr_skew"].append(skew([t["run_ms"] for t in ocr_tasks]))
            per["asm_wall"].append(sum(s["t1"] - s["t0"] for s in final) / 1000.0)
            per["asm_skew"].append(skew([t["run_ms"] for s in final for t in s["tasks"]]))
            per["asm_bytes"].append(sum(t["sw_bytes"] for s in union for t in s["tasks"]))
            per["asm_records"].append(sum(t["sw_records"] for s in union for t in s["tasks"]))
            per["rep_bytes"].append(sum(t["sw_bytes"] for s in other for t in s["tasks"]))
        return {
            "extract.explode_plain.wall_s": _med([r["explode_plain"]["wall_s"] for r in recs]),
            "extract.plain.rows_in": _med([r["plain_rows_in"] for r in recs]),
            "extract.plain.rows_out": _med([r["plain_rows_out"] for r in recs]),
            "extract.ocr.media_rows": _med([sum(t[1] for t in r["ocr_timing"]) for r in recs]),
            "extract.ocr.tokens_out": _med([r["tokens_out"] for r in recs]),
            "extract.ocr.python_s": _med(per["python"]),
            "extract.ocr.stage_run_s": _med(per["stage_run"]),
            "extract.ocr.handoff_s": _med([a - b for a, b in zip(per["stage_run"], per["python"])]),
            "extract.ocr.task_skew": _med(per["ocr_skew"]),
            "extract.assemble.wall_s": _med(per["asm_wall"]),
            "extract.assemble.shuffle_bytes": _med(per["asm_bytes"]),
            "extract.assemble.shuffle_records": _med(per["asm_records"]),
            "extract.assemble.task_skew": _med(per["asm_skew"]),
            "extract.repartition.shuffle_bytes": _med(per["rep_bytes"]),
        }

    def _in_process_ocr(self, doc_ids: list[str]) -> dict[str, float]:
        """Recognizer and fusion cost of one increment, measured in this
        process: the costed recognizer over a sample of its media refs
        (scaled to all of them), and ``make_ocr_stage`` over all its
        media rows with the tokens precomputed."""
        import pandas as pd

        from ocr_intern_spark.operators.extract import make_ocr_stage
        from ocr_intern_spark.sources.corpus import stub_ocr_tokens

        rows = [(d["doc_id"], s["offset"], pos, s["media_ref"])
                for d in (self.gen["docs"][i] for i in doc_ids)
                for pos, s in enumerate(d["spans"])
                if s["kind"] == "media" and s["media_ref"]]
        if not rows:
            return {"extract.ocr.recognize_s": 0.0, "extract.ocr.fusion_s": 0.0}
        recognize = self._recognizer()
        sample = [r[3] for r in rows[:128]]
        t0 = time.perf_counter()
        for ref in sample:
            recognize(ref)
        per_ref = (time.perf_counter() - t0) / len(sample)
        tokens = {r[3]: stub_ocr_tokens(r[3]) for r in rows}
        batch = pd.DataFrame(rows, columns=["doc_id", "offset", "pos", "media_ref"])
        stage = make_ocr_stage(tokens.__getitem__)
        t0 = time.perf_counter()
        for _ in stage(iter([batch])):
            pass
        return {"extract.ocr.recognize_s": per_ref * len(rows),
                "extract.ocr.fusion_s": time.perf_counter() - t0}

    @staticmethod
    def _storage_stream_layers(log: EventLog, recs: list[dict[str, Any]],
                               tracer: Tracer) -> dict[str, float]:
        runs = tracer.named("storage.run_resumable")
        per = {k: [] for k in ("trigger", "add", "get", "plan", "wal", "fixed", "bytes",
                               "amp", "files", "rr")}
        for r in recs:
            def dur(key: str, prog=r["progress"]) -> float:
                return sum(p["durationMs"].get(key, 0) for p in prog)

            t0, t1 = window(r["increment"])
            rr_ms = sum(s["wall_s"] for s in runs
                        if t0 <= s["t0_ms"] and s["t1_ms"] <= t1) * 1000.0
            per["rr"].append(rr_ms / 1000.0)
            per["trigger"].append(dur("triggerExecution"))
            per["add"].append(dur("addBatch"))
            per["get"].append(dur("getBatch"))
            per["plan"].append(dur("queryPlanning"))
            per["wal"].append(dur("walCommit"))
            per["fixed"].append(dur("triggerExecution") - rr_ms)
            written = sum(t["out_bytes"] for s in log.stages_in(t0, t1) for t in s["tasks"])
            grown = r["store_bytes_after"] - r["store_bytes_before"]
            per["bytes"].append(written)
            per["amp"].append(written / grown if grown > 0 else 0.0)
            per["files"].append(log.metric_sum(log.executions_in(t0, t1),
                                               "number of written files"))
        ups = tracer.named("storage.upsert")
        return {
            "storage.pending.wall_s": _med([r["pending"]["wall_s"] for r in recs]),
            "storage.pending.skip_frac": _med([r["skip_frac"] for r in recs]),
            "storage.run_resumable.wall_s": _med(per["rr"]),
            "storage.upsert.wall_s": ups[-1]["wall_s"] if ups else 0.0,
            "storage.bytes_written": _med(per["bytes"]),
            "storage.write_amp": _med(per["amp"]),
            "storage.files_written": _med(per["files"]),
            "stream.start_s": _med([r["start_s"] for r in recs]),
            "stream.trigger_ms": _med(per["trigger"]),
            "stream.add_batch_ms": _med(per["add"]),
            "stream.get_batch_ms": _med(per["get"]),
            "stream.query_planning_ms": _med(per["plan"]),
            "stream.wal_commit_ms": _med(per["wal"]),
            "stream.fixed_ms": _med(per["fixed"]),
        }


# ---------------------------------------------------------------------------
# curation_queries
# ---------------------------------------------------------------------------

CURATION_QUERIES = (
    "dedup_ngram_jaccard",
    "text_gopher_repetition",
    "text_quality_ensemble",
    "text_quality_classifier",
    "text_ccnet_buckets",
)


class CurationQueries(Workload):
    """One op = one of the five queries over the seeded documents table,
    its result collected into this process; the ops cycle through the
    queries in a fixed order."""

    name = "curation_queries"
    unit = "query"
    LAYER_METRICS = tuple(
        f"q.{q}.{m}" for q in CURATION_QUERIES for m in ("wall_s", "shuffle_bytes", "exchanges")
    ) + ("dedup.jaccard.candidate_rows", "dedup.jaccard.pairs_out", "dedup.jaccard.useful_frac")
    # one pass over the queries; in a traced run two, so that each
    # query is traced once and untraced once
    MIN_OPS = len(CURATION_QUERIES)
    N_DOCS = 1000
    WARM_DOCS = 100
    NEAR_DUP_SHARE = 0.08

    def generate(self) -> None:
        gen = inputs.gen_curation(os.path.join(self.work, "curation"), self.seed,
                                  self.N_DOCS, self.NEAR_DUP_SHARE)
        warm = inputs.gen_curation(os.path.join(self.work, "curation-warm"),
                                   self.seed + 1_000_003, self.WARM_DOCS, self.NEAR_DUP_SHARE)
        self.dir, self.props, self.warm_dir = gen["dir"], gen["props"], warm["dir"]
        self.results: list[tuple[str, list[str], list[tuple]]] = []

    def _queries(self):
        import __spark_entry__ as entrymod

        registry = entrymod.queries()
        return {name: registry[name] for name in CURATION_QUERIES}

    def _run(self, spark, fn, doc_dir: str) -> tuple[list[str], list[tuple]]:
        df = fn(spark, doc_dir)
        rows = [tuple(r) for r in df.collect()]
        spark.catalog.clearCache()
        return df.columns, rows

    def warm_up(self, spark, k: int) -> None:
        for fn in self._queries().values():
            self._run(spark, fn, self.warm_dir)

    def op(self, spark, tracer: Tracer | None) -> dict[str, Any]:
        name = CURATION_QUERIES[len(self.results) % len(CURATION_QUERIES)]
        fn = self._queries()[name]
        t0 = time.perf_counter()
        if tracer is not None:
            with tracer.span(f"q.{name}"):
                cols, rows = self._run(spark, fn, self.dir)
        else:
            cols, rows = self._run(spark, fn, self.dir)
        wall = time.perf_counter() - t0
        self.results.append((name, cols, rows))
        return {"query": name, "wall_s": wall}

    @staticmethod
    def _set_wall(ops: list[dict[str, Any]], stat) -> float:
        """A query-set wall: over the five queries, the sum of ``stat``
        of each query's walls in ``ops``."""
        walls = [[o["wall_s"] for o in ops if o["query"] == q] for q in CURATION_QUERIES]
        return sum(stat(w) for w in walls) if all(walls) else 0.0

    def docs_per_s(self, ops: list[dict[str, Any]]) -> float:
        set_wall = self._set_wall(ops, _med)
        return self.N_DOCS / set_wall if set_wall else 0.0

    def latency(self, ops: list[dict[str, Any]]) -> dict[str, float]:
        """One increment is one pass over the five queries. The p50 is
        the query-set wall from each query's median wall, the tail the
        one from each query's slowest wall. (A percentile over single
        query walls would mix five differently sized queries and move
        with how many runs of each fit in the run.)"""
        return {"p50": self._set_wall(ops, _med), "tail": self._set_wall(ops, max),
                "tail_percentile": 100.0, "n": len(ops)}

    def check(self, spark) -> tuple[int, int, list[str]]:
        oracle = checks.QueryOracle(self.dir, list(CURATION_QUERIES))
        failed, notes = 0, []
        for name, cols, rows in self.results:
            if not oracle.matches(name, cols, rows):
                failed += 1
                notes.append(f"hash mismatch {name}")
        return len(self.results), failed, notes

    def layers(self, log: EventLog, ops: list[dict[str, Any]], tracer: Tracer) -> tuple[dict, list[str]]:
        m: dict[str, float] = {}
        for name in CURATION_QUERIES:
            spans = tracer.named(f"q.{name}")
            shuffle, exchanges = [], []
            for s in spans:
                t0, t1 = window(s)
                shuffle.append(sum(t["sw_bytes"] for st in log.stages_in(t0, t1)
                                   for t in st["tasks"]))
                exchanges.append(sum(1 for e in log.executions_in(t0, t1)
                                     for n in log.plan_nodes(e) if n["nodeName"] == "Exchange"))
            m[f"q.{name}.wall_s"] = _med([s["wall_s"] for s in spans])
            m[f"q.{name}.shuffle_bytes"] = _med(shuffle)
            m[f"q.{name}.exchanges"] = _med(exchanges)
        # Jaccard: (pair, shingle) rows out of the inverted-index
        # self-join against the pairs that pass the threshold
        cand = []
        for s in tracer.named("q.dedup_ngram_jaccard"):
            execs = log.executions_in(*window(s))
            joins = [log.metric(n, "number of output rows") for e in execs
                     for n in log.plan_nodes(e) if "Join" in n["nodeName"]]
            cand.append(max(joins, default=0.0))
        pairs = [len(rows) for name, _c, rows in self.results if name == "dedup_ngram_jaccard"]
        m["dedup.jaccard.candidate_rows"] = _med(cand)
        m["dedup.jaccard.pairs_out"] = _med(pairs)
        m["dedup.jaccard.useful_frac"] = (
            m["dedup.jaccard.pairs_out"] / m["dedup.jaccard.candidate_rows"]
            if m["dedup.jaccard.candidate_rows"] else 0.0
        )
        return m, []


WORKLOADS = {w.name: w for w in (IngestOcrHeavy, CurationQueries)}
