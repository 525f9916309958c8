"""The three closed-loop workloads. One client issues each query or
micro-batch only after the previous one has finished.

- ``etl``: the 38 non-document registry queries on small TPC-H-ish and
  events tables. Plan construction, Catalyst and per-stage scheduling
  dominate; the Python kernels sit almost idle. Not in ``BENCHMARK.json``:
  its cold pass over 38 queries in a fresh JVM does not fit the run budget
  beside the other two.
- ``heavy``: the five heaviest registry queries on a larger document and
  lineitem set. Python kernels, exchanges and scans dominate.
- ``dedup_stream``: micro-batches through the streaming match-dedup sink
  against a seeded match index, with periodic compaction. The only
  workload that exercises the index append, commit and compaction code.

Each timed query is built through its registry builder and materialised
through a ``noop`` sink; ``release_staged`` runs after every query so no
query reuses another's staged caches.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

from . import datagen
from .probes import Py4jCounter, SparkProbe

ETL_QUERIES = [
    "conditioned_blocks", "profile_storage", "priority_runs",
    "asof_click_attribution", "user_sessions", "clicks_in_error_incidents",
    "monthly_rollup_cascade", "cube_returns", "returned_revenue_top",
    "nation_trade_volume", "span_first_last", "summary_stats", "approx_stats",
    "pricing_summary", "shipping_priority", "region_revenue", "top_customers",
    "order_priorities", "customer_order_distribution", "never_ordered_parts",
    "dedupe_suite", "grid_regularise", "cadence_report", "gap_suite",
    "range_mask", "unit_met_suite", "storage_lag", "tumbling_30min",
    "diel_cycle", "status_suite", "status_collation", "nearest_size_match",
    "calendar_days", "set_ops_nations", "incremental_append", "dim_translate",
    "pivot_melt_roundtrip", "height_interpolation",
]

HEAVY_QUERIES = [
    "llm_curation_suite", "doc_profile_b", "doc_winnow_fingerprint",
    "pricing_summary", "minhash_dedup_portable",
]

#: name -> (queries, scale factor, table families). ``ngram_jaccard`` is in
#: no workload: its per-language self-join is O(n^2) by design and would
#: swamp any pass it joined.
BATCH = {
    "etl": (ETL_QUERIES, 0.01, ("events", "tpch")),
    "heavy": (HEAVY_QUERIES, 0.01, ("documents", "tpch")),
}

#: dedup_stream shape: the index is seeded from a deduplicated prefix of
#: SEED_DOCS documents, then BATCH_DOCS-doc micro-batches follow, 30% of
#: each a planted exact or near duplicate of a seed document. Near plants
#: pair each stream doc with a unique seed doc, so the stream is at most
#: SEED_DOCS long. Compaction runs after every COMPACT_EVERY-th batch; a
#: cycle is the batches up to and including a compaction. WARMUP_CYCLES
#: untimed cycles come first: the first cycle of a fresh JVM runs 5-35%
#: slower than the next, by an amount that varies from run to run. The
#: stream holds the warm-up, up to two timed cycles and the traced run's
#: cycle.
SEED_DOCS = 2000
BATCH_DOCS = 250
DUP_FRAC = 0.3
COMPACT_EVERY = 2
WARMUP_CYCLES = 1

#: Untimed ``noop`` passes over a batch workload's queries after its
#: checked, collected pass. The JIT is still compiling through the first
#: passes of a fresh JVM: the first noop pass runs a fifth to a third
#: slower than the third, and by how much varies from run to run.
WARM_PASSES = 1


def _load_tool(name: str):
    """Import ``tools/<name>.py`` by path without letting the tool's own
    ``sys.path`` edits outlive the import."""
    saved = list(sys.path)
    try:
        path = os.path.join(datagen.ROOT, "tools", f"{name}.py")
        spec = importlib.util.spec_from_file_location(name, path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod
    finally:
        sys.path[:] = saved


def _run_oracle(data: str, sqls: dict[str, str]) -> dict:
    """Each query's DuckDB oracle result on the tables in ``data``."""
    import duckdb

    con = duckdb.connect(config={"threads": 2})
    try:
        for f in sorted(os.listdir(data)):
            if f.endswith(".parquet"):
                con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data, f)}'")
        return {name: con.sql(sql).df() for name, sql in sqls.items()}
    finally:
        con.close()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class BatchWorkload:
    """Registry queries, built and materialised one after another."""

    def __init__(self, ctx, name: str):
        self.ctx = ctx
        self.names, self.sf, self.tables = BATCH[name]
        self.data = os.path.join(ctx.work, "data")

    def generate(self) -> None:
        """Write the inputs, then start the DuckDB oracle on them in a
        thread, so it runs while the Spark session starts and warms up."""
        import __spark_entry__ as entry

        datagen.generate(self.data, self.ctx.seed, self.sf, self.tables)
        oracles = entry.oracle_sql()
        pool = ThreadPoolExecutor(1)
        self.oracle = pool.submit(_run_oracle, self.data, {n: oracles[n] for n in self.names})
        pool.shutdown(wait=False)

    def prepare(self, spark) -> None:
        """Untimed warm-up. Its first pass is also the correctness check:
        every query is collected once and compared with its DuckDB oracle
        under the rules of ``tools/check_correctness.py``. Then come
        WARM_PASSES noop passes over the queries that ran."""
        import __spark_entry__ as entry
        from tern_ep_data_pipeline_spark.operators.dedup import release_staged

        check = _load_tool("check_correctness")
        self.builders = entry.queries()
        got = {}
        for name in self.names:
            try:
                got[name] = self.builders[name](spark, self.data).toPandas()
            except Exception as exc:  # noqa: BLE001 - counted as a failure
                self.ctx.log(f"error {name}: {type(exc).__name__}: {str(exc)[:300]}")
            finally:
                release_staged(spark)
        want = self.oracle.result()
        for name in self.names:
            ok = False
            if name in got:
                status, detail = check.compare(name, got[name], want[name])
                ok = status == "OK"
                if not ok:
                    self.ctx.log(f"mismatch {name}: {status} {detail}")
            self.ctx.count(ok)
        for _ in range(WARM_PASSES):
            for name in got:
                self.run_query(spark, name, None)

    def run_query(self, spark, name: str, probe: SparkProbe | None) -> float:
        """Build and materialise one query; returns the seconds both took."""
        from tern_ep_data_pipeline_spark.operators.dedup import release_staged

        tr = self.ctx.tracer
        try:
            if probe is None:
                t0 = time.perf_counter()
                _noop(self.builders[name](spark, self.data))
                return time.perf_counter() - t0
            group = f"q{len(tr.spans)}:{name}"
            probe.set_group(group)
            with tr.span("query", query=name):
                with Py4jCounter() as calls, tr.span("build"):
                    t0 = time.perf_counter()
                    df = self.builders[name](spark, self.data)
                    t1 = time.perf_counter()
                build_jobs = len(probe.jobs(group))
                with tr.span("materialise"):
                    t2 = time.perf_counter()
                    _noop(df)
                    t3 = time.perf_counter()
            probe.clear_group()
            row = {"entry.build_s": t1 - t0, "entry.py4j_calls": calls.calls,
                   "entry.build_jobs": build_jobs, "materialise_s": t3 - t2}
            row.update(probe.scheduler(probe.jobs(group)))
            row.update(probe.new_executions())
            # forcing planning on the builder's frame replans it, so the
            # Catalyst phases are read after the timed materialise
            row.update(probe.catalyst(df))
            self.ctx.query_rows.append({"query": name, **row})
            for k, v in row.items():
                tr.add(k, v)
            return (t1 - t0) + (t3 - t2)
        finally:
            release_staged(spark)

    def measure(self, spark) -> dict:
        """Round-robin over the queries until the run's seconds are spent;
        each query's figure is the median of its samples."""
        samples: dict[str, list[float]] = {n: [] for n in self.names}
        t_end = time.perf_counter() + self.ctx.seconds
        i = 0
        while i < len(self.names) or time.perf_counter() < t_end:
            name = self.names[i % len(self.names)]
            i += 1
            try:
                samples[name].append(self.run_query(spark, name, None))
                self.ctx.count(True)
            except Exception as exc:  # noqa: BLE001 - counted as a failure
                self.ctx.log(f"error {name}: {type(exc).__name__}: {str(exc)[:300]}")
                self.ctx.count(False)
        per_query = {n: statistics.median(v) for n, v in samples.items() if v}
        self.ctx.record["per_query_s"] = per_query
        self.ctx.record["samples"] = sum(len(v) for v in samples.values())
        return {"wall_s": sum(per_query.values())}

    def traced(self, spark, probe: SparkProbe) -> float:
        """One traced pass; returns its wall (build plus materialise)."""
        return sum(self.run_query(spark, name, probe) for name in self.names)

    def count_bridge(self, spark) -> dict:
        """Each query's build-plus-``count()`` time, to set beside its
        ``noop`` time: the link to the older ``count()``-timed history."""
        from tern_ep_data_pipeline_spark.operators.dedup import release_staged

        noop = self.ctx.record["per_query_s"]
        rows = {}
        for name in self.names:
            t0 = time.perf_counter()
            self.builders[name](spark, self.data).count()
            rows[name] = {"count_s": time.perf_counter() - t0, "noop_s": noop.get(name)}
            release_staged(spark)
        return rows


class StreamWorkload:
    """Micro-batches through ``streaming.curation.match_dedup_batch`` with
    its default layout arguments, so whichever layout is the default is
    the one measured."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.data = os.path.join(ctx.work, "data")
        self.index = os.path.join(ctx.work, "match_index")
        self.decisions = os.path.join(ctx.work, "decisions")
        self.next_batch = 0
        self.digest = hashlib.sha256()

    def generate(self) -> None:
        sf = 2 * SEED_DOCS / datagen.load_gen_scaledata().DOCS_PER_SF
        datagen.generate(self.data, self.ctx.seed, sf, ("documents",))

    def prepare(self, spark) -> None:
        from tern_ep_data_pipeline_spark.operators.dedup import release_staged
        from tern_ep_data_pipeline_spark.operators.dedup_index import build_dedup_index

        tool = _load_tool("bench_stream_match")
        # The tool plants by doc_id modulo DUP_MOD; a modulus equal to the
        # batch size puts the 30% of duplicates in every batch rather than
        # in the first batches of each thousand docs.
        tool.DUP_MOD = BATCH_DOCS
        docs = spark.read.parquet(os.path.join(self.data, "documents.parquet"))
        t0 = time.perf_counter()
        seed = tool._dedup_seed(docs, SEED_DOCS)
        build_dedup_index(seed, self.index)
        self.ctx.layers["setup.index_seed_s"] = time.perf_counter() - t0
        release_staged(spark)
        self.stream = tool._make_stream(docs, seed, SEED_DOCS, SEED_DOCS, DUP_FRAC)
        # What _make_stream plants: below cut/2 (mod DUP_MOD) an exact copy
        # of the seed representative of the doc's residue, below cut a near
        # copy of seed doc (doc_id - SEED_DOCS); either only when that seed
        # doc survived the seed's exact-duplicate collapse.
        seed_ids = {r[0] for r in seed.select("doc_id").collect()}
        residues = {i % tool.DUP_MOD for i in seed_ids}
        cut = int(DUP_FRAC * tool.DUP_MOD)

        def planted(doc_id: int) -> str | None:
            k = doc_id % tool.DUP_MOD
            if k < cut // 2:
                return "exact" if k in residues else None
            if k < cut:
                return "near" if doc_id - SEED_DOCS in seed_ids else None
            return None

        self.planted = planted
        for _ in range(WARMUP_CYCLES):
            self.cycle(spark, None)

    def cycles_left(self) -> int:
        return (SEED_DOCS // BATCH_DOCS - self.next_batch) // COMPACT_EVERY

    def batch(self, spark, probe: SparkProbe | None) -> dict:
        """One micro-batch: match, write decisions, check the plants and,
        after every COMPACT_EVERY-th batch, compact. Returns its
        timings."""
        from pyspark.sql import functions as F

        from tern_ep_data_pipeline_spark.operators.dedup import release_staged
        from tern_ep_data_pipeline_spark.operators.dedup_index import compact_match_index
        from tern_ep_data_pipeline_spark.streaming.curation import match_dedup_batch

        b = self.next_batch
        self.next_batch += 1
        lo = SEED_DOCS + b * BATCH_DOCS
        part = self.stream.where(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < lo + BATCH_DOCS)).localCheckpoint()
        out_dir = os.path.join(self.decisions, f"batch={b}")
        tr = self.ctx.tracer
        group = f"batch{b}"
        if probe is not None:
            probe.new_executions()  # the batch's numbers start here
            probe.set_group(group)
        cell: dict = {"batch": b}
        with tr.span("batch", batch=b):
            t0 = time.perf_counter()
            with tr.span("match_dedup_batch"):
                out = match_dedup_batch(part, self.index)
            t1 = time.perf_counter()
            with tr.span("decisions_write"):
                out.write.mode("overwrite").parquet(out_dir)
            t2 = time.perf_counter()
            cell["latency_s"] = t2 - t0
            cell["match_s"] = t1 - t0
            cell["decisions_write_s"] = t2 - t1
            cell["append_route"] = spark.sparkContext.getLocalProperty(
                "tern.match_sink.append_route")
            if (b + 1) % COMPACT_EVERY == 0:
                cell["files_before_compact"] = _count_files(self.index)
                with tr.span("compact"):
                    t3 = time.perf_counter()
                    compact_match_index(spark, self.index)
                    cell["compact_s"] = time.perf_counter() - t3
        if probe is not None:
            probe.clear_group()
            stats = probe.scheduler(probe.jobs(group))
            stats.update(probe.new_executions())
            cell.update(stats)
            for name, v in stats.items():
                tr.add(name, v)
        release_staged(spark)
        decided = sorted(map(tuple, spark.read.parquet(out_dir).collect()))
        self.digest.update(repr(decided).encode())
        # Exact plants must classify exact. A near plant classifies near,
        # or fresh when MinHash banding misses it: with 8 bands of 4 rows a
        # pair at Jaccard 0.8 (a 10-token doc plus the 2-token suffix, the
        # shortest plants) is missed with probability (1 - 0.8**4)**8 ~ 1.5%,
        # so now and then a run sees a miss. More than a tenth of a batch's
        # near plants missed is a failure, as is any other status.
        kinds = [(self.planted(d), status) for d, status, _ in decided]
        near = sum(k == "near" for k, _ in kinds)
        missed = sum(k == "near" and s == "fresh" for k, s in kinds)
        wrong = [(d, k, s) for (d, s, _), (k, _) in zip(decided, kinds)
                 if k not in (None, s) and not (k == "near" and s == "fresh")]
        cell["planted"] = sum(k is not None for k, _ in kinds)
        cell["planted_wrong"] = len(wrong)
        cell["near_missed"] = missed
        ok = (not wrong and missed <= near / 10
              and [d for d, _, _ in decided] == list(range(lo, lo + BATCH_DOCS)))
        if not ok:
            self.ctx.log(f"batch {b}: {len(wrong)} planted duplicates misclassified "
                         f"(doc, planted, got): {wrong[:5]}; {missed} of {near} near "
                         f"plants missed; {len(decided)} decisions for {BATCH_DOCS} docs")
        self.ctx.count(ok)
        self.ctx.batch_rows.append(cell)
        return cell

    def cycle(self, spark, probe: SparkProbe | None) -> tuple[float, list[float]]:
        """Batches up to and including the next compaction; returns the
        cycle's wall and its batch latencies."""
        wall, lats = 0.0, []
        while True:
            cell = self.batch(spark, probe)
            lats.append(cell["latency_s"])
            wall += cell["latency_s"] + cell.get("compact_s", 0.0)
            if "compact_s" in cell:
                return wall, lats

    def measure(self, spark) -> dict:
        walls, lats = [], []
        t_end = time.perf_counter() + self.ctx.seconds
        # one cycle is kept back for the traced pass
        while not walls or (time.perf_counter() < t_end and self.cycles_left() > 1):
            w, ls = self.cycle(spark, None)
            walls.append(w)
            lats.extend(ls)
        self.ctx.record["cycles"] = len(walls)
        self.ctx.record["cycle_walls_s"] = walls
        self.ctx.record["decisions_sha256"] = self.digest.hexdigest()
        self.ctx.record["index_bytes_per_doc"] = self.index_bytes_per_doc(spark)
        self.ctx.record["batch_p50_s"] = statistics.median(lats)
        return {"wall_s": statistics.median(walls)}

    def traced(self, spark, probe: SparkProbe) -> float:
        n0 = len(self.ctx.batch_rows)
        wall, _ = self.cycle(spark, probe)
        tr = self.ctx.tracer
        for cell in self.ctx.batch_rows[n0:]:
            tr.add("index.match_s", cell["match_s"])
            tr.add("index.decisions_write_s", cell["decisions_write_s"])
            tr.add("index.compact_s", cell.get("compact_s", 0.0))
            route = cell["append_route"] or "none"
            tr.add(f"index.append_route.{route}", 1)
        files = [c["files_before_compact"] for c in self.ctx.batch_rows
                 if "files_before_compact" in c]
        tr.add("index.files_max", max(files))
        tr.add("index.bytes_per_doc", self.index_bytes_per_doc(spark))
        return wall

    def index_bytes_per_doc(self, spark) -> float:
        """Index bytes on disk per indexed document."""
        docs = spark.read.parquet(os.path.join(self.index, "exact")).count()
        return _dir_bytes(self.index) / docs


def _count_files(path: str) -> int:
    return sum(len(files) for _, _, files in os.walk(path))


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)
