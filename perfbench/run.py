#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the search engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload fixture --seed 42 --seconds 10 \
        --trace 0

One process, one Spark session on ``local[nproc / 2]`` (see
``spark_cores``), one closed-loop client. Set-up generates the seeded
corpus, computes the oracle's answers (untimed, ``tests/oracle.py``, in a
thread while the JVM starts), starts the session, builds the base index,
which also warms the session, and runs one checked ingest and one checked
batch per mode as warm-up. The timed loop then runs cycles until
``--seconds`` of timed work have passed (one cycle takes longer than
that, so a run is one cycle); a cycle is:

1. fold: ``incremental_index_update`` of a 10% increment, three times into
   fresh staging directories (the median is reported), then
   ``compact_staging`` of the last one into a fresh copy of the base index;
2. rebuild: ``build_index`` over base + increment;
3. search, spread between the steps above (before each ingest, after the
   compaction, after the rebuild): ``search_batch`` + ``collect`` of
   25-query batches (k=10) against the base index (opened in set-up), a
   distinct batch of the seeded query stream per repetition, each run once
   per mode: pure BM25 (``w_cosine = w_glove = 0``, block-max WAND on
   automatically) and the reference combined score (exhaustive).

Every output is checked against the oracle: each staged increment (its
urls); the compacted and the rebuilt index (corpus stats and vocabulary
of base + increment, plus one reference-score query batch against the
compacted index and the rebuilt index's posting count against the
compacted one); every search answer of the base index. Any mismatch other
than a counted tie reorder (see ``check.py``) makes the command exit with
status 1.

``--trace 1`` additionally enables the Spark event log, sets the Spark job
group per span, and reports per-layer metrics; ``--trace 0`` reports the
end-to-end metrics. The last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Spans and the
per-layer table go to ``perfbench/out/<run id>/``.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import math
import os
import shutil
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: workload -> corpus shape (``corpus.Shape`` fields)
WORKLOADS = {
    "fixture": {"base_docs": 2000, "increment_docs": 200},
    "web": {"base_docs": 1000, "increment_docs": 100,
            "vocab_size": 2_000_000, "zipf_s": 1.1},
}
K = 10
#: search batches per mode in one cycle
BATCHES_PER_MODE = 5
#: ingests of the increment in one cycle (the last one is compacted)
INGESTS = 3
#: checked search batches per mode that set-up runs as warm-up
WARMUP_BATCHES = 1
MODES = ("bm25", "ref")

#: end-to-end metrics (``--trace 0``): name -> unit
END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "build_docs_per_s": "docs/s",
    "index_mb": "MB",
    "bm25_batch_ms_p50": "ms",
    "ref_batch_ms_p50": "ms",
    "ingest_s": "s",
    "compact_s": "s",
    "compact_over_rebuild": "ratio",
}

#: per-layer metrics (``--trace 1``): name -> unit
PER_LAYER = {
    "parse.wall_s": "s",
    "parse.task_cpu_s": "s",
    "parse.task_skew": "ratio",
    "index_build.stats.wall_s": "s",
    "index_build.postings.wall_s": "s",
    "index_build.postings.shuffle_write_mb": "MB",
    "index_build.postings.spill_mb": "MB",
    "index_build.postings.task_skew": "ratio",
    "index_build.term_stats.wall_s": "s",
    "index_build.term_stats.shuffle_write_mb": "MB",
    "codec.postings_mb": "MB",
    "codec.bytes_per_posting": "B",
    "catalog.write_s": "s",
    "catalog.files_written": "count",
    "search.open_s": "s",
    "search.plan_s": "s",
    "search.execute_s": "s",
    "search.scan_rows": "count",
    "search.scan_mb": "MB",
    "search.scorer_task_s.bm25": "s",
    "search.scorer_task_s.ref": "s",
    "search.join_shuffle_mb": "MB",
    "search.jobs_per_batch": "count",
    "search.tie_reorders": "count",
    "incremental.ingest.wall_s": "s",
    "incremental.append.wall_s": "s",
    "incremental.merge.wall_s": "s",
    "incremental.merge.postings.wall_s": "s",
    "incremental.merge.shuffle_write_mb": "MB",
    "incremental.merge.spill_mb": "MB",
    "incremental.route_incremental_share": "ratio",
    "incremental.rebuild.wall_s": "s",
    "spark.jobs": "count",
    "spark.failed_tasks": "count",
    "spark.driver_gap_s": "s",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_cores() -> int:
    """Cores Spark gets: half the machine's, so the driver JVM's GC and
    JIT threads, the Python workers and the benchmark's own interpreter
    have cores of their own instead of preempting tasks."""
    return max(1, nproc() // 2)


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least ten samples beyond it, or
    100 (the maximum) when fewer than eleven samples exist."""
    return 100 if n < 11 else math.floor(100 * (1 - 10 / n))


def percentile(values: list[float], pct: int) -> float:
    """Nearest-rank percentile."""
    ordered = sorted(values)
    return ordered[max(0, math.ceil(pct / 100 * len(ordered)) - 1)]


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def data_files(path: str) -> set[str]:
    return {os.path.relpath(os.path.join(d, f), path)
            for d, _, files in os.walk(path) for f in files
            if f.endswith(".parquet")}


def read_table(index_path: str, name: str, columns=None):
    """One catalog table of an index, read with pyarrow (no Spark job)."""
    import pyarrow.dataset as ds
    from search_engine_spark.sources.catalog import CatalogAdapter

    table = CatalogAdapter(index_path).table_path(name)
    return ds.dataset(table, partitioning="hive").to_table(columns=columns)


class Bench:
    """One benchmark run: set-up, timed loop, checks, metrics."""

    def __init__(self, workload: str, seed: int, seconds: float,
                 traced: bool):
        from perfbench import corpus

        self.workload = workload
        self.shape = corpus.Shape(**WORKLOADS[workload])
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.run_id = "%s-s%d-t%d-%d" % (workload, seed, int(traced),
                                         int(time.time() * 1000))
        self.work = os.path.join(ROOT, "perfbench", ".work", self.run_id)
        self.out = os.path.join(ROOT, "perfbench", "out", self.run_id)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.batch_ms = {m: [] for m in MODES}
        self.tie_reorders = 0
        self.cycles: list[dict] = []
        self.timed_s = 0.0
        self.spark = None

    # -- helpers -----------------------------------------------------------
    def _path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def verdict(self, what: str, v) -> None:
        """Count one checked operation."""
        self.attempted += 1
        if not v.ok:
            self.failed += 1
            self.failures.append(f"{what}: {v.reason}")
            print(f"MISMATCH {what}: {v.reason}", file=sys.stderr)

    def op_failed(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.failures.append(f"{what}: raised")
        traceback.print_exc()

    def _spark_conf(self) -> dict:
        conf = {
            # a fixed-size heap: the driver JVM's resident set then follows
            # what the run touches rather than when the collector decided
            # to grow the heap
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": "-Xms2g",
            "spark.sql.warehouse.dir": self._path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self._path("events"),
                "spark.eventLog.compress": "false",
            })
        return conf

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        from search_engine_spark.config import EngineConfig
        from search_engine_spark.operators.index_build import build_index
        from search_engine_spark.operators.search import BM25SearchEngine

        from perfbench import corpus

        for d in ("local", "warehouse", "tmp", "events"):
            os.makedirs(self._path(d), exist_ok=True)
        os.makedirs(self.out, exist_ok=True)
        # keep the scratch files of every process this run starts (Python
        # workers, the launcher and driver JVMs, Spark's block manager)
        # inside the checkout
        os.environ["TMPDIR"] = self._path("tmp")
        os.environ["SPARK_LOCAL_DIRS"] = self._path("local")
        os.environ["JAVA_TOOL_OPTIONS"] = (
            "-XX:-UsePerfData -Djava.io.tmpdir=" + self._path("tmp"))
        os.environ["PYSPARK_PYTHON"] = sys.executable

        n = spark_cores()
        self.cfg = EngineConfig(
            num_buckets=n, shuffle_partitions=n,
            files_max_partition_bytes=8 * 1024 * 1024,
            files_open_cost_bytes=8 * 1024 * 1024,
            extra_spark_conf=self._spark_conf(),
        )
        self.cfgs = {
            "bm25": dataclasses.replace(self.cfg, w_cosine=0.0, w_glove=0.0),
            "ref": self.cfg,
        }
        # Benchmark-side inputs and oracle answers are untimed work of
        # this interpreter; they run in a thread while the driver JVM
        # starts and builds the base index, which only wait on it.
        self.base_path = self._path("base.parquet")
        self.inc_dir = self._path("incoming")
        with ThreadPoolExecutor(1) as pool:
            rows = pool.submit(corpus.write_corpus, self.shape,
                               self.seed, self.base_path, self.inc_dir)
            oracle = pool.submit(lambda: self._oracle_answers(*rows.result()))
            self._start_session(n)
            rows.result()
            tracer = self.tracer
            self.base_idx = self._path("base_index")
            pages = self.spark.read.parquet(self.base_path)
            with tracer.span("build_index", role="base") as s:
                m = build_index(self.spark, pages, self.base_idx, self.cfg)
            self._derive_build(s, m)
            oracle.result()
        self.engines = {}
        for mode, cfg in self.cfgs.items():
            with tracer.span("search.open", mode=mode):
                self.engines[mode] = BM25SearchEngine(
                    self.spark, self.base_idx, cfg)
        # The first ingest and the first batches of each mode of a session
        # run slower than later ones (streaming start-up, plan code
        # generation): run them here, checked, so the timed loop measures
        # the steady state.
        self.ingest(self._path("warm-up"))
        for b in range(WARMUP_BATCHES):
            for mode in MODES:
                self.search(self.engines[mode], mode, self.batches[b],
                            self.expected[mode][b], "search.warmup")
        self.setup_s = sum(s.wall for s in tracer.spans
                           if s.parent is None and s.phase == "setup")

    def _oracle_answers(self, base_rows: list, full_rows: list) -> None:
        from perfbench import check, corpus
        from tests.oracle import build_oracle

        base = build_oracle(base_rows)
        self.oracle = build_oracle(full_rows)
        self.increment_urls = set(self.oracle.doc_stats) - set(
            base.doc_stats)
        # a distinct batch per repetition, so a run's medians average over
        # several query mixes instead of repeating one; the first
        # WARMUP_BATCHES are the warm-up's
        self.batches = [corpus.query_batch(base.inverted_idx, self.seed, b)
                        for b in range(WARMUP_BATCHES + BATCHES_PER_MODE)]
        self.expected = {
            m: [check.oracle_rankings(base, q, c) for q in self.batches]
            for m, c in self.cfgs.items()
        }
        # the compacted index answers one reference-score batch
        self.expected_compacted = check.oracle_rankings(
            self.oracle, self.batches[0], self.cfgs["ref"])

    def _start_session(self, n: int) -> None:
        from search_engine_spark.session import get_spark

        from perfbench.trace import Tracer
        from scripts.bench_scaling import make_pyfiles_zip

        self.tracer = Tracer(self.run_id)
        with self.tracer.span("session"):
            self.spark = get_spark("perfbench", master=f"local[{n}]",
                                   config=self.cfg)
            self.spark.sparkContext.setLogLevel("ERROR")
            # ship the package so Python workers import it from anywhere
            self.spark.sparkContext.addPyFile(
                make_pyfiles_zip(self._path("engine.zip")))
        if self.traced:
            self.tracer.sc = self.spark.sparkContext

    def _derive_build(self, span, m: dict) -> None:
        """Derived child spans from ``build_index``'s reported walls."""
        from perfbench.trace import derive_sequence

        phases = [("parse", m["parse_sec"])] + [
            ("index_build." + k, v) for k, v in m["stage_sec"].items()]
        derive_sequence(self.tracer, span, span.start, phases)

    # -- operations ----------------------------------------------------------
    def search(self, engine, mode: str, queries: list, expected: dict,
               name: str = "search.batch") -> None:
        """One search batch, checked against the oracle's rankings."""
        from perfbench import check

        try:
            with self.tracer.span(name, mode=mode) as s:
                with self.tracer.span("search.plan", mode=mode):
                    df = engine.search_batch(queries, k=K)
                with self.tracer.span("search.execute", mode=mode):
                    rows = df.collect()
        except Exception:
            self.op_failed(f"{name} {mode}")
            return
        v = check.compare_batch(expected, rows, K)
        self.verdict(f"{name} {mode}", v)
        if name == "search.batch":
            self.batch_ms[mode].append(s.wall * 1000)
            self.tie_reorders += v.tie_reorders

    def check_index(self, what: str, path: str, oracle) -> None:
        from perfbench import check

        with self.tracer.span("check", what=what):
            stats = read_table(path, "corpus_stats").to_pylist()[0]
            terms = read_table(path, "term_stats", ["term", "df"])
            vocab = dict(zip(terms["term"].to_pylist(),
                             terms["df"].to_pylist()))
        self.verdict(what, check.compare_index(
            oracle, stats["n_docs"], stats["avg_doc_length"], vocab))

    def check_staging(self, staging: str):
        """The ingest staged exactly the increment's non-empty docs."""
        import pyarrow.dataset as ds

        from perfbench import check

        urls = ds.dataset(staging).to_table(columns=["url"])["url"].to_pylist()
        want = self.increment_urls
        return check.Verdict(
            len(urls) == len(want) and set(urls) == want,
            reason=f"staged {len(urls)} docs, increment has {len(want)}")

    def ingest(self, staging: str) -> tuple[float, int]:
        """One checked ``incremental_index_update`` of the increment into
        a fresh staging directory; returns its wall time and the number
        of files it staged."""
        from search_engine_spark.streaming.incremental import (
            incremental_index_update,
        )

        with self.tracer.span("incremental.ingest") as s:
            incremental_index_update(self.spark, self.inc_dir, staging,
                                     staging + ".checkpoint",
                                     config=self.cfg)
        self.verdict("ingest", self.check_staging(staging))
        return s.wall, len(data_files(staging))

    def count_postings(self, path: str) -> int:
        """Sum of ``local_df`` over the postings table."""
        with self.tracer.span("check", what="postings"):
            return sum(read_table(path, "postings", ["local_df"])
                       ["local_df"].to_pylist())

    def cycle(self, i: int) -> None:
        from search_engine_spark.operators.index_build import build_index
        from search_engine_spark.operators.search import BM25SearchEngine
        from search_engine_spark.sources.catalog import CatalogAdapter
        from search_engine_spark.streaming.incremental import compact_staging

        from perfbench import check
        from perfbench.trace import derive_sequence, median

        tracer = self.tracer
        rec: dict = {}
        # The search batches are spread over the cycle, between the fold
        # and rebuild steps, so a slow spell of the shared host that covers
        # part of a run slows only part of the samples behind each median.
        pending = iter(range(WARMUP_BATCHES, len(self.batches)))

        def search_next() -> bool:
            """Run the next batch of the stream once per mode, if any."""
            b = next(pending, None)
            if b is None:
                return False
            for mode in MODES:
                self.search(self.engines[mode], mode, self.batches[b],
                            self.expected[mode][b])
            return True

        # fold the increment into a fresh copy of the base index
        fold = self._path(f"fold{i}")
        idx = os.path.join(fold, "index")
        shutil.copytree(self.base_idx, idx)
        base_files = data_files(self.base_idx)
        try:
            walls, staged = [], 0
            for r in range(INGESTS):
                search_next()
                staging = os.path.join(fold, f"staging{r}")
                wall, files = self.ingest(staging)
                walls.append(wall)
                staged += files
            rec["ingest_s"] = median(walls)
            with tracer.span("incremental.compact") as s:
                out = compact_staging(self.spark, idx, staging,
                                      config=self.cfg)
            rec["compact_s"] = s.wall
            rec["incremental"] = bool(out["incremental"])
            merge = sum(out["stage_sec"].values())
            derive_sequence(tracer, s, s.start, [
                ("incremental.append", s.wall - merge)] + [
                ("incremental.merge." + k, v)
                for k, v in out["stage_sec"].items()])
            tracer.derive(s, "incremental.merge", s.end - merge, s.end)
            rec["files_written"] = staged + len(data_files(idx) - base_files)
            self.check_index("compacted index", idx, self.oracle)
            with tracer.span("check", what="open compacted index"):
                engine = BM25SearchEngine(self.spark, idx, self.cfgs["ref"])
            self.search(engine, "ref", self.batches[0],
                        self.expected_compacted, "search.check")
            rec["postings"] = self.count_postings(idx)
        except Exception:
            self.op_failed("fold")
        search_next()

        rebuilt = self._path(f"rebuild{i}")
        try:
            pages = self.spark.read.parquet(
                self.base_path, os.path.join(self.inc_dir, "pages.parquet"))
            with tracer.span("build_index", role="rebuild") as s:
                m = build_index(self.spark, pages, rebuilt, self.cfg)
            self._derive_build(s, m)
            rec["rebuild_s"] = s.wall
            rec["docs"] = m["n_docs"]
            rec["index_bytes"] = tree_bytes(rebuilt)
            rec["files_written"] = (rec.get("files_written", 0)
                                    + len(data_files(rebuilt)))
            rec["postings_bytes"] = tree_bytes(
                CatalogAdapter(rebuilt).table_path("postings"))
            self.check_index("rebuilt index", rebuilt, self.oracle)
            # its postings hold the same (term, doc) pairs as the
            # compacted index, which answered a query batch correctly
            n_post = self.count_postings(rebuilt)
            self.verdict("rebuilt postings", check.Verdict(
                n_post == rec.get("postings"),
                reason=f"{n_post} postings != compacted "
                       f"{rec.get('postings')}"))
            rec["postings"] = n_post
        except Exception:
            self.op_failed("rebuild")
        shutil.rmtree(fold, ignore_errors=True)
        shutil.rmtree(rebuilt, ignore_errors=True)
        while search_next():
            pass
        self.cycles.append(rec)

    def timed_loop(self) -> None:
        from perfbench.trace import RssSampler

        self.tracer.phase = "timed"
        with RssSampler() as rss:
            while self.timed_s < self.seconds:
                with self.tracer.span("cycle"):
                    self.cycle(len(self.cycles))
                self.timed_s = sum(s.wall for s in timed_ops(self.tracer))
        self.peak_rss_mb = rss.peak

    # -- run ---------------------------------------------------------------
    def run(self) -> int:
        from scripts.bench_scaling import contention_probe

        probes = {"before": contention_probe(),
                  "loadavg_before": os.getloadavg()}
        try:
            try:
                self.setup()
                self.timed_loop()
            finally:
                self.stop_spark()
            probes.update(after=contention_probe(),
                          loadavg_after=os.getloadavg())
            e2e = self.end_to_end()
            layer = self.per_layer() if self.traced else None
            self.tracer.write(os.path.join(self.out, "spans.jsonl"))
            self.report(probes, e2e, layer)
        finally:
            shutil.rmtree(self.work, ignore_errors=True)
        return 0 if not self.failed else 1

    def stop_spark(self) -> None:
        """Stop the session and the driver JVM it launched, and wait."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)

    def report(self, probes: dict, e2e: dict, layer: dict | None) -> None:
        print(f"perfbench run {self.run_id}: workload={self.workload} "
              f"seed={self.seed} trace={int(self.traced)} nproc={nproc()} "
              f"spark_cores={spark_cores()} "
              f"cycles={len(self.cycles)} timed_s={self.timed_s:.3f}")
        for key, val in probes.items():
            print(f"contention {key}: {val}")
        print("end-to-end metrics%s:" % (" (measured while traced)"
                                          if self.traced else ""))
        for name, unit in END_TO_END.items():
            print(f"  {name} = {e2e[name]!r} {unit}")
        # Printed, not gated (left out of BENCHMARK.json): with the few
        # batches a run affords, the tail is the maximum, which one slow
        # spell of the shared host sets.
        for mode in MODES:
            ms = self.batch_ms[mode]
            pct = tail_percentile(len(ms))
            why = (", fewer than 11 samples, so no percentile has ten "
                   "beyond it: the maximum" if pct == 100 else "")
            tail = percentile(ms, pct) if ms else 0.0
            print(f"  {mode}_batch_ms_tail = {tail!r} ms (p{pct} of "
                  f"{len(ms)} batches{why})")
        rate = self.failed / self.attempted if self.attempted else 1.0
        print(f"  error_rate = {rate!r} ratio ({self.failed} failed of "
              f"{self.attempted} checked operations; "
              f"{self.tie_reorders} tie reorders accepted)")
        for f in self.failures:
            print(f"  FAILED {f}")
        latest = os.path.join(os.path.dirname(self.out),
                              f"latest-{self.workload}-untraced.json")
        if not self.traced:
            with open(latest, "w") as f:
                json.dump({"run_id": self.run_id, "metrics": e2e}, f)
        else:
            with open(os.path.join(self.out, "layers.json"), "w") as f:
                json.dump({n: {"value": layer[n], "unit": u}
                           for n, u in PER_LAYER.items()}, f, indent=1)
            print("per-layer metrics (traced run; spans in "
                  f"{os.path.relpath(self.out, ROOT)}/spans.jsonl):")
            for name, unit in PER_LAYER.items():
                print(f"  {name} = {layer[name]!r} {unit}")
            if os.path.exists(latest):
                with open(latest) as f:
                    base = json.load(f)
                print(f"tracing overhead (traced minus untraced run "
                      f"{base['run_id']}; seeds may differ):")
                for name, unit in END_TO_END.items():
                    was = base["metrics"][name]
                    pct = 100 * (e2e[name] - was) / was if was else 0.0
                    print(f"  {name}: {e2e[name] - was:+.6g} {unit} "
                          f"({pct:+.1f}%)")
            else:
                print("tracing overhead: no untraced run of this workload "
                      "in this checkout yet")
        metrics = layer if self.traced else e2e
        units = PER_LAYER if self.traced else END_TO_END
        print(json.dumps({
            "correct": not self.failed,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {n: {"value": metrics[n], "unit": u}
                        for n, u in units.items()},
        }), flush=True)

    # -- metrics -------------------------------------------------------------
    def end_to_end(self) -> dict:
        from perfbench.trace import median

        cyc = [c for c in self.cycles if "rebuild_s" in c and "compact_s" in c]
        out = {
            "setup_s": self.setup_s,
            "peak_rss_mb": self.peak_rss_mb,
            "build_docs_per_s": median(c["docs"] / c["rebuild_s"]
                                       for c in cyc),
            "index_mb": median(c["index_bytes"] for c in cyc) / 2 ** 20,
            "ingest_s": median(c["ingest_s"] for c in cyc),
            "compact_s": median(c["compact_s"] for c in cyc),
            "compact_over_rebuild": median(c["compact_s"] / c["rebuild_s"]
                                           for c in cyc),
        }
        for mode in MODES:
            ms = self.batch_ms[mode]
            out[f"{mode}_batch_ms_p50"] = median(ms)
        return out

    def per_layer(self) -> dict:
        from perfbench.trace import (
            Attribution, median, read_event_log, task_skew,
        )

        log = read_event_log(self._path("events"))
        at = Attribution(self.tracer, log)
        t = self.tracer
        spans = t.named
        ncyc = len(spans("cycle"))

        def mb(n):
            return n / 2 ** 20

        def per_cycle(total):
            return total / ncyc

        rebuilds = spans("build_index")
        # plan/execute of the timed batches, not of the check batch
        batch_ids = {s.id for s in spans("search.batch")}
        plans = [s for s in spans("search.plan") if s.parent in batch_ids]
        execs = [s for s in spans("search.execute") if s.parent in batch_ids]
        parse = spans("parse")
        post = spans("index_build.postings")
        tstats = spans("index_build.term_stats")
        merge = spans("incremental.merge")
        cyc = [c for c in self.cycles if "postings" in c]
        ops = timed_ops(t)
        layer = {
            "parse.wall_s": median(s.wall for s in parse),
            "parse.task_cpu_s": median(sum(x.cpu_s for x in at.tasks(s))
                                       for s in parse),
            "parse.task_skew": median(task_skew(at.tasks(s)) for s in parse),
            "index_build.stats.wall_s": median(
                s.wall for s in spans("index_build.stats")),
            "index_build.postings.wall_s": median(s.wall for s in post),
            "index_build.postings.shuffle_write_mb": median(
                mb(sum(x.shuffle_write for x in at.tasks(s))) for s in post),
            "index_build.postings.spill_mb": median(
                mb(sum(x.spill for x in at.tasks(s))) for s in post),
            "index_build.postings.task_skew": median(
                task_skew(at.tasks(s)) for s in post),
            "index_build.term_stats.wall_s": median(s.wall for s in tstats),
            "index_build.term_stats.shuffle_write_mb": median(
                mb(sum(x.shuffle_write for x in at.tasks(s)))
                for s in tstats),
            "codec.postings_mb": mb(median(c["postings_bytes"] for c in cyc)),
            "codec.bytes_per_posting": median(
                c["postings_bytes"] / c["postings"] for c in cyc),
            "catalog.write_s": per_cycle(sum(
                at.write_wall(s)
                for s in rebuilds + spans("incremental.compact"))),
            "catalog.files_written": median(
                c.get("files_written", 0) for c in self.cycles),
            "search.open_s": median(s.wall for s in t.named("search.open",
                                                            "setup")),
            "search.plan_s": median(s.wall for s in plans),
            "search.execute_s": median(s.wall for s in execs),
            "search.scan_rows": median(sum(x.input_rows for x in at.tasks(s))
                                       for s in execs),
            "search.scan_mb": median(mb(sum(x.input_bytes
                                            for x in at.tasks(s)))
                                     for s in execs),
            "search.join_shuffle_mb": median(
                mb(sum(x.shuffle_write for x in at.tasks(s))) for s in execs),
            "search.jobs_per_batch": median(len(at.jobs(s))
                                            for s in spans("search.batch")),
            "search.tie_reorders": self.tie_reorders,
            "incremental.ingest.wall_s": median(
                s.wall for s in spans("incremental.ingest")),
            "incremental.append.wall_s": median(
                s.wall for s in spans("incremental.append")),
            "incremental.merge.wall_s": median(s.wall for s in merge),
            "incremental.merge.postings.wall_s": median(
                s.wall for s in spans("incremental.merge.postings")),
            "incremental.merge.shuffle_write_mb": median(
                mb(sum(x.shuffle_write for x in at.tasks(s))) for s in merge),
            "incremental.merge.spill_mb": median(
                mb(sum(x.spill for x in at.tasks(s))) for s in merge),
            "incremental.route_incremental_share": (
                sum(c.get("incremental", False) for c in self.cycles)
                / ncyc),
            "incremental.rebuild.wall_s": median(s.wall for s in rebuilds),
            "spark.jobs": per_cycle(sum(len(at.jobs(s)) for s in ops)),
            "spark.failed_tasks": sum(x.failed for s in ops
                                      for x in at.tasks(s)),
            "spark.driver_gap_s": per_cycle(sum(
                at.driver_gap(s) for s in ops)),
        }
        for mode in MODES:
            layer[f"search.scorer_task_s.{mode}"] = median(
                sum(x.run_s for x in at.tasks(s)) for s in execs
                if s.attrs["mode"] == mode)
        return layer


#: spans of the timed operations (checks are not timed)
TIMED_OPS = ("incremental.ingest", "incremental.compact", "build_index",
             "search.batch")


def timed_ops(tracer) -> list:
    """The timed operations of every cycle."""
    return [s for name in TIMED_OPS for s in tracer.named(name)]


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, default=42)
    parser.add_argument("--seconds", type=float, default=10)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import search_engine_spark  # noqa: F401
        import scripts.bench_scaling  # noqa: F401
        import tests.oracle  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine and its oracle must be importable "
              f"from {ROOT}: {e}", file=sys.stderr)
        return 2
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    return bench.run()


if __name__ == "__main__":
    sys.exit(main())
