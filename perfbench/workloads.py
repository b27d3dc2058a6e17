"""The benchmark workloads. Each is a closed loop driven by one client thread:
the next call into the package starts when the previous one returns.

A workload has a `prep` step (set-up: input, first executions), a `run_pass`
step (one pass over its fixed work) and a `check_pass` step (that pass's
output checks). Calls into the package are timed and recorded through
`Bench.op`; `check_pass` runs after the pass's timed and CPU windows.
"""

from __future__ import annotations

import datetime
import glob
import os
import random
import shutil
import time

import duckdb

from pyspark.sql import functions as F

import gen
from layers import median, percentile_tail

from spark_deal_observer_spark import benchkit
from spark_deal_observer_spark.operators import models
from spark_deal_observer_spark.operators.merge import DEAL_KEY
from spark_deal_observer_spark.operators.state import RESOLVED, resolve_tick, work_queue
from spark_deal_observer_spark.plans.deals import REF_TS
from spark_deal_observer_spark.plans.oracle_check import compare_query
from spark_deal_observer_spark.plans.registry import REGISTRY
from spark_deal_observer_spark.sources.tables import register_views
from spark_deal_observer_spark.streaming.egress import submit_eligible
from spark_deal_observer_spark.streaming.ingest import start_ingest
from spark_deal_observer_spark.streaming.sink import PartitionedDealTableSink


def _files(path: str) -> dict[str, int]:
    """parquet file -> size under a table directory."""
    return {
        p: os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    }


def _new_bytes(before: dict[str, int], after: dict[str, int]) -> int:
    return sum(size for p, size in after.items() if p not in before)


def _lag_files(ckpt: str, n_files: int) -> float:
    """Mean number of source files not yet read after each batch, from the
    file source's own log in the checkpoint (one file per batch, listing the
    files that batch read after a version line)."""
    log = os.path.join(ckpt, "sources", "0")
    batches = sorted((int(n) for n in os.listdir(log) if n.isdigit()))
    read, lags = 0, []
    for b in batches:
        with open(os.path.join(log, str(b))) as f:
            read += sum(1 for line in f.readlines()[1:] if line.strip())
        lags.append(n_files - read)
    return sum(lags) / len(lags) if lags else 0.0


def _table_sql(table: str, sql: str) -> tuple:
    """One row of `sql` over the sink's parquet files (as view `t`), read by
    DuckDB: the checks read the table from outside Spark."""
    con = duckdb.connect()
    try:
        glob_path = os.path.join(table, "*", "*.parquet").replace("'", "''")
        con.execute(
            f"CREATE VIEW t AS SELECT * FROM read_parquet('{glob_path}', hive_partitioning = true)"
        )
        return con.execute(sql).fetchone()
    finally:
        con.close()


# ---------------------------------------------------------------------------
# deal_stream: ingest -> enrich -> egress on one partitioned table
# ---------------------------------------------------------------------------

class DealStream:
    """Ingest micro-batches, then one enrichment tick and one egress tick, on
    one partitioned deal table; the table's invariants are checked after the
    pass."""

    name = "deal_stream"
    # the enrichment clock stands past the 3-day retry backoff, so the tick
    # retries the corpus's earlier failed attempts
    CLOCK = str(datetime.datetime.fromisoformat(REF_TS) + datetime.timedelta(days=4))
    MAX_DEALS = 1000
    # the warm-up pass's slices: the first meets an empty table and the
    # second an existing one, the two append paths of a measured pass
    WARMUP_SLICES = 2

    def __init__(self, bench):
        self.b = bench
        self.gen_dir = os.path.join(bench.work, "gen")
        self.source = os.path.join(bench.work, "source")
        self.manifest: dict = {}
        self.layer: dict[str, list[float]] = {}
        self._unchecked: dict = {}  # pass -> (pass dir, submitted count)

    def _add(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(value)

    def _stage(self, source: str, n_slices: int) -> None:
        """Copy the first slices into a stream source directory. The file
        source reads in modification-time order, and only reads, so every
        pass can share one directory."""
        os.makedirs(source)
        t0 = time.time() - n_slices
        for k in range(n_slices):
            fname = f"slice_{k:04d}.parquet"
            dst = os.path.join(source, fname)
            shutil.copyfile(os.path.join(self.gen_dir, fname), dst)
            os.utime(dst, (t0 + k, t0 + k))

    def prep(self) -> None:
        """Generate and stage the input, then run a warm-up pass over the
        first slices, so that the loops' first executions in the JVM (class
        loading, JIT and code generation) happen in set-up, as catalog_serve's
        do. The warm-up's figures are dropped and its table is not checked."""
        events = os.path.join(self.b.events_dir, "events.parquet")
        self.manifest = gen.generate(self.b.seed, events, self.gen_dir)
        self._stage(self.source, self.manifest["n_slices"])
        warm = os.path.join(self.b.work, "warmup-source")
        self._stage(warm, self.WARMUP_SLICES)
        self.run_pass("warmup", warm)
        shutil.rmtree(self._unchecked.pop("warmup")[0], ignore_errors=True)
        self.layer.clear()

    def run_pass(self, p, source: str | None = None) -> float:
        b, spark = self.b, self.b.spark
        source = source or self.source
        n_slices = len(os.listdir(source))
        d = os.path.join(b.work, f"pass{p}")
        table, ckpt = os.path.join(d, "table"), os.path.join(d, "ckpt")

        # -- ingest: drain the slices, one file per micro-batch --------------
        stage = b.tracer.open("stage", "ingest")
        before = benchkit.cpu_snapshot()
        q = start_ingest(spark, source, table, ckpt, available_now=True,
                         max_files_per_trigger=1)
        q.awaitTermination(150)
        drain_s = b.tracer.close(stage)
        foreign = benchkit.foreign_between(before, benchkit.cpu_snapshot())
        dirty = b.contaminated(foreign, drain_s)
        error = q.exception()
        if q.isActive:
            q.stop()
        progress = list(q.recentProgress)
        data_batches = [pr for pr in progress if pr.numInputRows > 0]
        for pr in progress:  # the drain's foreign CPU is shared out per batch
            b.record_op("batch", f"batch{pr.batchId}",
                        pr.durationMs.get("triggerExecution", 0) / 1e3, failed=False,
                        foreign=foreign / max(len(progress), 1), dirty=dirty)
        missing = n_slices - len(data_batches) if error is None else n_slices
        for _ in range(max(missing, 0)):
            b.record_op("batch", "missing", 0.0, failed=True)
        if error is not None:
            b.note(f"ingest failed: {error}")
        self._add("ingest.events_per_s",
                  sum(pr.numInputRows for pr in data_batches) / drain_s)
        batch_s = [pr.durationMs.get("triggerExecution", 0) / 1e3 for pr in progress]
        self._add("ingest.batch_p50_s", median(batch_s))
        if b.trace:
            self._trace_ingest(stage, q, progress, table, ckpt, n_slices)

        # -- one enrichment tick, then one egress tick, on the same table -----
        sink = PartitionedDealTableSink(spark, table)
        peers = spark.read.parquet(os.path.join(self.gen_dir, "miner_peers.parquet"))
        pays = spark.read.parquet(os.path.join(self.gen_dir, "payload_cids.parquet"))
        now = F.expr(f"TIMESTAMP_NTZ '{self.CLOCK}'")
        before = _files(sink.path) if b.trace else {}
        queue = work_queue(sink.read(), now, self.MAX_DEALS).count() if b.trace else 0

        def enrich():
            deals = sink.read()
            sink.merge_overwrite(
                resolve_tick(deals, peers, pays, now, max_deals=self.MAX_DEALS), ["id"]
            )

        span = b.op("enrich", "enrich_tick", enrich)
        enrich_s = span.attrs["wall_s"]
        self._add("enrich.tick_s", enrich_s)
        if b.trace:
            after = _files(sink.path)
            attempted, resolved = _table_sql(
                sink.path,
                f"SELECT COUNT(*), COUNT(*) FILTER (WHERE payload_retrievability_state = "
                f"'{RESOLVED}') FROM t "
                f"WHERE last_payload_retrieval_attempt = TIMESTAMP '{self.CLOCK}'",
            )
            self._add("state.queue_rows", queue)
            self._add("state.resolved_ratio", resolved / attempted if attempted else 0.0)
            self._add("state.rewritten_bytes", _new_bytes(before, after))
            self._add("state.jobs_per_tick", span.attrs.get("jobs", 0))

        posted = {"s": 0.0}

        def poster(payload):
            t0 = time.perf_counter()
            n = len(payload)
            posted["s"] += time.perf_counter() - t0
            return {"ingested": n}

        before = _files(sink.path) if b.trace else {}
        span = b.op("egress", "egress_tick", lambda: submit_eligible(sink, poster, now=now))
        egress_s = span.attrs["wall_s"]
        self._add("egress.tick_s", egress_s)
        res = span.attrs.get("result") or {"submitted": 0}
        if b.trace:
            self._add("egress.submitted", res["submitted"])
            self._add("egress.post_s", posted["s"])
            self._add("egress.rewritten_bytes", _new_bytes(before, _files(sink.path)))
            self._add("egress.jobs_per_tick", span.attrs.get("jobs", 0))
        self._unchecked[p] = (d, res["submitted"])
        return drain_s + enrich_s + egress_s

    def check_pass(self, p) -> None:
        """The end-to-end invariants, read by DuckDB from the table files after
        the pass: the table holds exactly the generator's distinct keys, each
        once (so ingest lost nothing and enrichment added or dropped no row);
        egress counted exactly the rows it flagged, and flagged only resolved
        deals. The pass's files are removed afterwards."""
        d, submitted = self._unchecked.pop(p)
        flagged = f"submitted_at = TIMESTAMP '{self.CLOCK}'"
        rows, keys, n_flagged, unresolved = _table_sql(
            os.path.join(d, "table"),
            f"SELECT COUNT(*), COUNT(DISTINCT ({', '.join(DEAL_KEY)})), "
            f"COUNT(*) FILTER (WHERE {flagged}), "
            f"COUNT(*) FILTER (WHERE {flagged} AND payload_cid IS NULL) FROM t",
        )
        want = self.manifest["expected_keys"]
        self.b.check(rows == want, f"table holds {rows} rows, generator expects {want} keys")
        self.b.check(rows == keys, f"{rows - keys} keys stored twice")
        self.b.check(n_flagged == submitted,
                     f"egress counted {submitted} submissions, table flags {n_flagged}")
        self.b.check(unresolved == 0, f"{unresolved} submitted deals unresolved")
        shutil.rmtree(d, ignore_errors=True)

    def local1_baseline(self) -> float:
        """One pass on a single-core session: the single-threaded baseline."""
        os.environ["SPARK_GRAFT_CPUS"] = "1"
        self.b.start_session()
        wall = self.run_pass("local1")
        self.check_pass("local1")
        return wall

    def _trace_ingest(self, stage, q, progress, table: str, ckpt: str, n_slices: int) -> None:
        b = self.b
        group = str(q.runId)
        jobs = b.spark_layers(stage, group)
        n = max(len(progress), 1)
        dur = [pr.durationMs for pr in progress]
        self._add("ingest.add_batch_s", sum(x.get("addBatch", 0) for x in dur) / 1e3 / n)
        self._add("ingest.planning_s", sum(x.get("queryPlanning", 0) for x in dur) / 1e3 / n)
        self._add("ingest.commit_s", sum(x.get("walCommit", 0) + x.get("commitOffsets", 0)
                                         for x in dur) / 1e3 / n)
        self._add("ingest.get_batch_s", sum(x.get("getBatch", 0) + x.get("latestOffset", 0)
                                            for x in dur) / 1e3 / n)
        self._add("ingest.jobs_per_batch", jobs / n)
        last = progress[-1] if progress else None
        ops = last.stateOperators if last else []
        self._add("ingest.state_rows", sum(o.numRowsTotal for o in ops))
        self._add("ingest.state_bytes", sum(o.memoryUsedBytes for o in ops))
        self._add("ingest.lag_files", _lag_files(ckpt, n_slices))
        batch_s = [x.get("triggerExecution", 0) / 1e3 for x in dur]
        label, tail = percentile_tail(batch_s)
        self._add("ingest.batch_tail_s", tail)
        b.note(f"ingest tail {label} over {len(batch_s)} batches")
        files = _files(table)
        stored = self.b.spark.read.parquet(table).count()
        self._add("sink.appended_rows", stored)
        # redelivered events dropped on the way in (in-stream dedup + sink anti-join)
        self._add("sink.dup_dropped_rows", self.manifest["delivered_events"] - stored)
        self._add("sink.table_files", len(files))
        # one append job writes one file name prefix: buckets per batch is the
        # number of partition directories each prefix appears in
        buckets: dict[str, set[str]] = {}
        for p in files:
            prefix = os.path.basename(p).split("-c000")[0].split("-", 2)[-1]
            buckets.setdefault(prefix, set()).add(os.path.basename(os.path.dirname(p)))
        self._add("sink.buckets_per_batch", median([len(v) for v in buckets.values()]))

    def summary(self) -> dict[str, float]:
        out = {k: median(v) for k, v in self.layer.items()}
        out["enrich.tick_p50_s"] = out.pop("enrich.tick_s", 0.0)
        out["egress.tick_p50_s"] = out.pop("egress.tick_s", 0.0)
        return out


# ---------------------------------------------------------------------------
# catalog_serve: a corpus snapshot is published, then the catalog is served
# ---------------------------------------------------------------------------

class CatalogServe:
    """Each pass starts from an empty model store. The PUBLISHED queries
    train and publish their artifacts (cold); then the SERVED queries run and
    the published artifacts are read (warm), in an order drawn from the seed.
    Every query's first execution happens in set-up; every query's rows are
    checked after each pass."""

    name = "catalog_serve"
    # A stratified sample of the 54 bench.py HEADLINE queries that publish no
    # model artifact: the queries are cut into five strata by Spark job count
    # (1-2, 3-5, 6-9, 10-19, 20+ jobs per call) and the query with the
    # stratum's median warm time is taken from each. The readings behind it
    # are catalog_sizing.json; README.md gives the rule's coverage.
    SERVED = ("window_top_order_per_cust", "interval_range_join", "dedup_lines",
              "hll_set_ops_audit", "event_analytics_suite")
    # an artifact-publishing query whose cold path is a driver-bound index build
    PUBLISHED = ("ann_sq8",)

    def __init__(self, bench):
        self.b = bench
        self.layer: dict[str, list[float]] = {}

    def _add(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(value)

    def prep(self) -> None:
        b = self.b
        register_views(b.spark, b.catalog_dir)
        for q in self.SERVED + self.PUBLISHED:
            fn = REGISTRY[q].fn
            b.op("first", q, lambda fn=fn: benchkit.time_noop(b.spark, fn, b.catalog_dir))

    def check_pass(self, _p) -> None:
        """Check every query's rows, the published ones read from the artifact
        the pass published: against the DuckDB twin where the query has one,
        else for being non-empty."""
        b = self.b
        for name in self.SERVED + self.PUBLISHED:
            qd = REGISTRY[name]
            b.spark.sparkContext.setJobGroup("perfbench-check", name)
            try:
                if qd.oracle is not None:
                    ok, msg = compare_query(b.spark, b.catalog_dir, qd.fn, qd.oracle)
                else:
                    ok, msg = qd.fn(b.spark, b.catalog_dir).limit(1).count() > 0, "no rows"
            except Exception as e:
                ok, msg = False, repr(e)
            b.check(ok, f"{name}: {msg}")

    def run_pass(self, p: int) -> float:
        b = self.b
        models.clear()
        cold = [b.query(q).attrs for q in self.PUBLISHED]
        if b.trace:
            self._add("models.artifacts", len(models._STORE))
        order = list(self.SERVED + self.PUBLISHED)
        random.Random(b.seed * 1000 + p).shuffle(order)
        served, warm = [], []
        for q in order:
            (warm if q in self.PUBLISHED else served).append(b.query(q).attrs)
        walls = [c["wall_s"] for c in served]
        self._add("serve.pass_s", sum(walls))
        self.layer.setdefault("serve.query_s", []).extend(walls)
        self._add("publish.cold_s", sum(c["wall_s"] for c in cold))
        self._add("publish.warm_s", sum(c["wall_s"] for c in warm))
        if b.trace:
            self._add("models.cold_jobs", sum(c["jobs"] for c in cold))
            self._add("models.warm_jobs", sum(c["jobs"] for c in warm))
        return sum(c["wall_s"] for c in cold + served + warm)

    def summary(self) -> dict[str, float]:
        walls = self.layer.pop("serve.query_s", [])
        label, tail = percentile_tail(walls) if walls else ("max", 0.0)
        self.b.note(f"query tail {label} over {len(walls)} calls")
        out = {k: median(v) for k, v in self.layer.items()}
        out["serve.query_p50_s"] = median(walls)
        out["serve.query_tail_s"] = tail
        return out


WORKLOADS = {w.name: w for w in (DealStream, CatalogServe)}
