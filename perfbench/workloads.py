"""The three benchmark workloads and the per-operation recorder they share.

Every workload is a closed loop with one client and no think time,
driving ``local[<cpus>]`` from this process. An *operation* is one call
into the package plus the action that forces its result: for a query,
``qs[name](spark, sf_dir)`` followed by a noop write. The recorder tags
each operation's Spark jobs with ``setJobGroup("<op>#<k>")``, times the
call (``build``) and the action (``exec``) separately, and records
whether it raised. Work the benchmark does for itself — checking
answers, staging inputs, trace-only probes — runs inside
:meth:`Bench.untimed` and is subtracted from every timing.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

from perfbench import checks, datagen, eventlog, procstat

ANALYST_MIX = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "q18_large_volume",
    "q21_waiting_supplier",
    "join_two_tables",
    "federated_kv_lookup",
    "preview_lineitem",
    "top_k_per_group",
    "sessionize",
    "range_join",
    "asof_join",
    "json_extract",
    "text_quality",
    "theil_sen_trend",
)
CURATION_MIX = (
    "dedup_ngram_jaccard",
    "containment_dedup",
    "bm25_retrieval",
    "hybrid_retrieval_rrf",
    "cluster_balanced_sample",
    "cdc_chunk_dedup",
)
INGEST_ROWS = 20_000  # TSV rows per ingest round; the crawler samples 10k
INGEST_ZONE = "processed"
INGEST_PRINCIPAL = "analyst"


@dataclass
class Op:
    name: str
    group: str
    phase: str  # "warmup" (untimed), "cold", "second" or "repeat" (steady rounds)
    start_ms: float
    wall_s: float = 0.0  # build_s + exec_s
    build_s: float = 0.0
    exec_s: float = 0.0
    stolen_s: float = 0.0  # taken out of wall_s, see procstat.stolen_s
    error: str | None = None


@dataclass
class Bench:
    """State of one benchmark run: session, recorded operations, failed
    checks and the time spent outside the measurement."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    data_dir: str
    oracle_dir: str
    run_dir: str
    process_t0: float  # perf_counter value at process start
    process_ticks: tuple[int, int]  # procstat.host_ticks() at process start
    excluded_s: float = 0.0  # benchmark's own work so far (data generation included)
    rng: np.random.Generator = field(init=False)
    ops: list[Op] = field(default_factory=list)
    excluded_cpu_s: float = 0.0
    bad_checks: list[str] = field(default_factory=list)
    wrong_ops: set[str] = field(default_factory=set)
    layers: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    calls: dict[str, int] = field(default_factory=dict)
    jvm_pid: int | None = None
    phase: str = "warmup"

    def __post_init__(self) -> None:
        self.rng = np.random.default_rng(self.seed)

    # ------------------------------------------------------------ timing
    @contextmanager
    def untimed(self):
        t, c = time.perf_counter(), self.process_cpu_s()
        try:
            yield
        finally:
            self.excluded_s += time.perf_counter() - t
            self.excluded_cpu_s += self.process_cpu_s() - c

    def mark_timed_start(self) -> None:
        self.phase = "cold"  # every operation's first call
        self._t0, self._h0 = time.perf_counter(), procstat.host_ticks()
        # process start to here, minus the benchmark's own work and the
        # time the hypervisor took away
        raw = self._t0 - self.process_t0 - self.excluded_s
        self.setup_s = raw - procstat.stolen_s(raw, self.process_ticks, self._h0)
        self.detail["setup_raw_s"] = raw
        self._ex0 = self.excluded_s

    def section_s(self) -> float:
        """Seconds of measurement so far in the timed section."""
        return time.perf_counter() - self._t0 - (self.excluded_s - self._ex0)

    def repeat(self, one_round) -> dict:
        """After the cold round: ``one_round()`` once more as the second
        round (every operation's second call), then as steady rounds,
        as many as the second round's time fits in ``--seconds``, two at
        least. The count is fixed before the steady rounds start, so host
        noise does not change the number of samples. The JVM keeps
        warming up over the first repeat rounds, so the figures that
        describe repeat operations (op_*, ops_per_s, cpu_s) come from the
        steady rounds alone. Returns repeat_call_s (the second round) and
        cpu_s."""
        self.phase = "second"
        o0 = len(self.ops)
        one_round()
        second_s = sum(o.wall_s for o in self.ops[o0:])
        self.phase = "repeat"
        walls, cpus = [], []
        for _ in range(max(2, round(self.seconds / max(second_s, 0.01)))):
            o0, c0 = len(self.ops), self.measured_cpu_s()
            one_round()
            walls.append(sum(o.wall_s for o in self.ops[o0:]))
            cpus.append(self.measured_cpu_s() - c0)
        self.mark_timed_end()
        self.detail["steady_rounds"] = {"wall_s": walls, "cpu_s": cpus}
        return {"repeat_call_s": second_s, "cpu_s": statistics.median(cpus)}

    def mark_timed_end(self) -> None:
        self.timed_s = self.section_s()
        busy, steal = (b - a for a, b in zip(self._h0, procstat.host_ticks()))
        self.detail["host_steal_share"] = steal / max(1, busy + steal)
        self.peak_rss_mb = procstat.vm_hwm_mb(self.jvm_pid) + procstat.self_maxrss_mb()
        # the heap in use right after a full collection: what the program
        # keeps, apart from how far the collector let the heap grow
        mx = self.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        mx.gc()
        self.heap_live_mb = mx.getHeapMemoryUsage().getUsed() / 2**20
        scratch = os.environ["SPARK_GRAFT_SCRATCH"]
        self.layers["scratch.bytes"] = _dir_bytes(scratch) if os.path.isdir(scratch) else 0

    # ----------------------------------------------------------- session
    def boot(self) -> None:
        """Start a Spark application through the package's session
        factory; on a traced run the event log is switched on."""
        from cdk_serverless_data_lake_sandbox_spark.session import get_spark

        # The heap keeps the JVM's own sizing up to SPARK_DRIVER_MEMORY.
        # No perf-data file: the run writes only under its own directory.
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.run_dir}/tmp -XX:-UsePerfData"
            ),
        }
        if self.trace:
            log_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{log_dir}",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layers["session.get_spark_s"] = time.perf_counter() - t
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        t = time.perf_counter()
        from cdk_serverless_data_lake_sandbox_spark.registry import all_queries

        self.qs = all_queries()
        self.layers["registry.all_queries_s"] = time.perf_counter() - t

    def stop_spark(self) -> None:
        """Stop the application, if one started, and wait for the JVM to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if getattr(self, "spark", None) is not None:
            self.spark.stop()
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    # -------------------------------------------------------- operations
    def op(self, name: str, build, action=None):
        """Run one operation: ``build()`` is the call into the package,
        ``action(result)`` forces it. Returns the built value, or None
        when the operation raised."""
        k = self.calls.get(name, 0)
        self.calls[name] = k + 1
        group = f"{name}#{k}"
        self.spark.sparkContext.setJobGroup(group, group)
        rec = Op(name, group, self.phase, time.time() * 1e3)
        t0, h0 = time.perf_counter(), procstat.host_ticks()
        t1, h1 = t0, h0
        out = None
        try:
            out = build()
            t1, h1 = time.perf_counter(), procstat.host_ticks()
            if action is not None:
                action(out)
        except Exception as e:  # an operation that raises is a failed operation
            rec.error = f"{type(e).__name__}: {str(e)[:300]}"
            out = None
        t2, h2 = time.perf_counter(), procstat.host_ticks()
        build_stolen = procstat.stolen_s(t1 - t0, h0, h1)
        exec_stolen = procstat.stolen_s(t2 - t1, h1, h2)
        rec.build_s = t1 - t0 - build_stolen
        rec.exec_s = t2 - t1 - exec_stolen
        rec.stolen_s = build_stolen + exec_stolen
        rec.wall_s = rec.build_s + rec.exec_s
        self.ops.append(rec)
        return out

    def query(self, name: str):
        return self.op(
            name,
            lambda: self.qs[name](self.spark, self.data_dir),
            lambda df: df.write.format("noop").mode("overwrite").save(),
        )

    def verify(self, name: str, df, expected: str) -> None:
        """Compare a query frame's answer with its oracle hash (untimed)."""
        with self.untimed():
            if df is None:
                return  # the raise is already counted
            try:
                ok = checks.result_hash(df.toPandas()) == expected
            except Exception as e:
                self.bad_checks.append(f"{name}: verification raised {type(e).__name__}")
                ok = False
            if not ok:
                self.wrong_ops.add(name)

    def check(self, label: str, ok: bool) -> None:
        if not ok:
            self.bad_checks.append(label)

    def scratch_keys(self) -> int:
        from cdk_serverless_data_lake_sandbox_spark.operators import _helpers

        return len(_helpers._MATERIALIZED)

    def process_cpu_s(self) -> float:
        jvm = procstat.tree_cpu_s(self.jvm_pid) if self.jvm_pid else 0.0
        return procstat.self_cpu_s() + jvm

    def measured_cpu_s(self) -> float:
        """CPU seconds of this process and the JVM tree so far, the
        benchmark's own work subtracted."""
        return self.process_cpu_s() - self.excluded_cpu_s

    def timed_ops(self) -> list[Op]:
        return [o for o in self.ops if o.phase != "warmup"]

    def repeat_ops(self) -> list[Op]:
        return [o for o in self.ops if o.phase == "repeat"]

    def failed(self, o: Op) -> bool:
        return o.error is not None or o.name in self.wrong_ops


def _shuffled(rng: np.random.Generator, names) -> list[str]:
    return [names[i] for i in rng.permutation(len(names))]


def catalog_probe(b: Bench) -> None:
    """Traced runs only, after the timed section: time
    ``catalog.load_tables`` cold and warm on a hard-linked mirror of the
    data, whose paths miss the schema cache the operations filled."""
    from cdk_serverless_data_lake_sandbox_spark import catalog

    mirror = os.path.join(b.run_dir, "catalog_probe")
    os.makedirs(mirror, exist_ok=True)
    for t in checks.TABLES:
        src, dst = os.path.join(b.data_dir, f"{t}.parquet"), os.path.join(mirror, f"{t}.parquet")
        try:
            os.link(src, dst)
        except OSError:
            shutil.copyfile(src, dst)
    for label in ("catalog.load_tables_cold_s", "catalog.load_tables_warm_s"):
        t = time.perf_counter()
        catalog.load_tables(b.spark, mirror)
        b.layers[label] = time.perf_counter() - t


def _plan_counts(b: Bench, frames) -> None:
    from cdk_serverless_data_lake_sandbox_spark.plans import plan_profile

    tot = dict.fromkeys(("exchanges", "scans", "bhj", "smj"), 0)
    for df in frames:
        if df is None:
            continue
        prof = plan_profile(df)
        for k in tot:
            tot[k] += prof[k]
    for k, v in tot.items():
        b.layers[f"plans.{k}"] = v


# ------------------------------------------------------------ workloads
def analyst_warm(b: Bench) -> dict:
    """Warm-up pass (in set-up, it takes the cold round's place), then
    shuffled passes: the second and the steady ones; the answers of the
    last pass are checked."""
    b.boot()
    with b.untimed():
        expected = checks.oracle_hashes(b.data_dir, list(ANALYST_MIX), b.oracle_dir)
    warm_start = len(b.ops)
    for name in _shuffled(b.rng, ANALYST_MIX):
        b.query(name)
    first_call = sum(o.wall_s for o in b.ops[warm_start:])
    keys_after_warmup = b.scratch_keys()
    b.mark_timed_start()
    frames = {}

    def one_pass():
        for name in _shuffled(b.rng, ANALYST_MIX):
            frames[name] = b.query(name)

    figures = b.repeat(one_pass)
    for name, df in frames.items():  # the last timed pass
        b.verify(name, df, expected[name])
    keys_built = b.scratch_keys() - keys_after_warmup
    b.check(f"scratch.keys_built after warm-up is {keys_built}, expected 0", keys_built == 0)
    b.layers["scratch.keys_built"] = keys_built
    if b.trace:
        with b.untimed():
            _plan_counts(b, [b.qs[n](b.spark, b.data_dir) for n in ANALYST_MIX])
    return {"first_call_s": first_call, **figures}


def curation_cold(b: Bench) -> dict:
    """One fresh application: every query's first call in a seeded
    order, then the second and the steady rounds, each reshuffled."""
    b.boot()
    with b.untimed():
        expected = checks.oracle_hashes(b.data_dir, list(CURATION_MIX), b.oracle_dir)
    b.mark_timed_start()
    keys0 = b.scratch_keys()
    first, first_frames, built = {}, {}, []
    for name in _shuffled(b.rng, CURATION_MIX):
        before = b.scratch_keys()
        first_frames[name] = b.query(name)
        first[name] = b.ops[-1].wall_s
        if b.scratch_keys() > before:
            built.append(name)
    frames, second = {}, {}

    def one_round():
        for name in _shuffled(b.rng, CURATION_MIX):
            frames[name] = b.query(name)
            second.setdefault(name, b.ops[-1].wall_s)

    figures = b.repeat(one_round)
    b.layers["scratch.keys_built"] = b.scratch_keys() - keys0
    # the first calls (which built the scratch entries) and the last round
    for name in CURATION_MIX:
        b.verify(name, first_frames[name], expected[name])
        b.verify(name, frames[name], expected[name])
    if b.trace:
        with b.untimed():
            _plan_counts(b, frames.values())
    b.detail["scratch.build_s"] = {n: first[n] - second[n] for n in sorted(built)}
    return {"first_call_s": sum(first.values()), **figures}


ORDERS_MAPPING = [
    ("o_orderkey", "bigint", "o_orderkey", "bigint"),
    ("o_custkey", "bigint", "o_custkey", "bigint"),
    ("o_orderstatus", "string", "o_orderstatus", "string"),
    ("o_totalprice", "double", "o_totalprice", "double"),
    ("o_orderdate", "date", "o_orderdate", "date"),
    ("o_orderpriority", "string", "o_orderpriority", "string"),
]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


def lake_ingest(b: Bench) -> dict:
    """Crawl, ETL, register, upsert and stream-append a seeded drop per
    round, then read the new zone back through the governed catalog.
    The first round is cold, then come the second and the steady rounds,
    each with a new drop."""
    from pyspark.sql import functions as F

    from cdk_serverless_data_lake_sandbox_spark.catalog import Lake, load_tables
    from cdk_serverless_data_lake_sandbox_spark.operators import etl
    from cdk_serverless_data_lake_sandbox_spark.sources import crawler
    from cdk_serverless_data_lake_sandbox_spark.streaming import jobs

    drops_dir = os.path.join(b.run_dir, "drops")
    lake_root = os.path.join(b.run_dir, "lake")
    landing = os.path.join(b.run_dir, "landing", "events")
    stream_data = os.path.join(lake_root, "stream", "events")
    stream_manifest = os.path.join(lake_root, "stream", "_manifest")
    checkpoint = os.path.join(b.run_dir, "checkpoint")

    def drop(r: int) -> dict:
        with b.untimed():
            return datagen.make_ingest_drop(
                os.path.join(drops_dir, str(r)), b.data_dir, b.seed, r, INGEST_ROWS
            )

    drops = [drop(0), drop(1)]
    b.boot()
    lake = Lake(b.spark, lake_root)
    lake.add_zone(INGEST_ZONE)
    lake.grant(INGEST_PRINCIPAL, INGEST_ZONE)
    customer = load_tables(b.spark, b.data_dir, ("customer",))["customer"]
    rounds: list[dict] = []
    stream_rows = 0
    frames = []
    b.mark_timed_start()
    keys0 = b.scratch_keys()
    r = 0

    def one_round():
        nonlocal r, stream_rows
        if r >= len(drops):
            drops.append(drop(r))
        d = drops[r]
        with b.untimed():  # the event files arrive in the landing directory
            os.makedirs(landing, exist_ok=True)
            for f in sorted(os.listdir(d["events"])):
                shutil.move(os.path.join(d["events"], f), os.path.join(landing, f"r{r}-{f}"))
        o0 = len(b.ops)
        table = f"orders_r{r}"

        counts = {}

        def count_crawl(df):
            # the price column must be read: the CSV reader only parses
            # (and so only detects malformed values in) the columns a
            # query needs
            row = df.select(
                F.count("*").alias("n"),
                F.sum(F.col("_corrupt").isNotNull().cast("int")).alias("bad"),
                F.count("o_totalprice").alias("priced"),
            ).collect()[0]
            counts.update(n=row["n"], bad=row["bad"])

        b.op("crawler.crawl_delimited", lambda: crawler.crawl_delimited(b.spark, d["tsv"]), count_crawl)
        b.check(f"round {r}: crawl rows {counts.get('n')} != {d['rows']}", counts.get("n") == d["rows"])
        b.check(
            f"round {r}: crawler.corrupt_rows {counts.get('bad')} != seeded {d['corrupt_rows']}",
            counts.get("bad") == d["corrupt_rows"],
        )
        b.layers["crawler.corrupt_rows"] = b.layers.get("crawler.corrupt_rows", 0) + (
            counts.get("bad") or 0
        )
        out = b.op(
            "etl.tsv_to_parquet_job",
            lambda: etl.tsv_to_parquet_job(
                b.spark,
                d["tsv"],
                os.path.join(lake_root, INGEST_ZONE),
                table,
                ORDERS_MAPPING,
                partition_keys=["o_orderpriority"],
            ),
        )
        paths = out or {}
        b.op(
            "catalog.lake_write",
            lambda: lake.register(
                INGEST_ZONE, table, paths["unpartitioned"], b.spark.read.parquet(paths["unpartitioned"])
            ),
        )
        def upsert():
            # the change batch carries new prices and a later order date,
            # the column the merge keeps the newest row by
            updates = b.spark.read.parquet(d["updates"]).withColumn(
                "o_orderdate", F.to_date(F.lit("2002-01-01")) + F.col("version").cast("int")
            )
            cur = b.spark.read.parquet(paths["unpartitioned"])
            changed = (
                cur.drop("o_totalprice", "o_orderdate")
                .join(updates.drop("version"), "o_orderkey")
                .select(*cur.columns)
            )
            etl.merge_upsert(b.spark, paths["unpartitioned"], changed, "o_orderkey", "o_orderdate")
            lake.register(
                INGEST_ZONE, table, paths["unpartitioned"], b.spark.read.parquet(paths["unpartitioned"])
            )

        b.op("etl.merge_upsert", upsert)

        def stream_append():
            q = (
                jobs.idempotent_sink(
                    jobs.read_event_stream(b.spark, landing, max_files_per_trigger=2),
                    stream_data,
                    stream_manifest,
                )
                .option("checkpointLocation", checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))

        b.op("streaming.idempotent_sink", stream_append)
        stream_rows += d["event_rows"]

        seen = {}

        def read_back():
            gov = lake.read(INGEST_PRINCIPAL, INGEST_ZONE, table)
            seen["n"] = gov.count()
            seen["preview"] = gov.orderBy("o_orderkey").limit(10).collect()
            keys = list(d["upserts"])
            seen["upserts"] = {
                row["o_orderkey"]: row["o_totalprice"]
                for row in gov.where(F.col("o_orderkey").isin(keys)).collect()
            }
            joined = gov.join(customer, gov.o_custkey == customer.c_custkey)
            seen["joined"] = joined.count()
            seen["stream"] = jobs.read_committed(b.spark, stream_data, stream_manifest).count()
            return joined

        frames.append(b.op("catalog.lake_read", read_back))
        b.check(f"round {r}: read back {seen.get('n')} rows, expected {d['rows']}", seen.get("n") == d["rows"])
        b.check(f"round {r}: join kept {seen.get('joined')} rows", seen.get("joined") == d["rows"])
        b.check(f"round {r}: preview has {len(seen.get('preview', []))} rows", len(seen.get("preview", [])) == 10)
        b.check(f"round {r}: upserted values not visible", seen.get("upserts") == d["upserts"])
        b.check(f"round {r}: stream shows {seen.get('stream')} rows, expected {stream_rows}", seen.get("stream") == stream_rows)

        ops = b.ops[o0:]
        input_rows = d["rows"] + len(d["upserts"]) + d["event_rows"]
        land_s = sum(o.wall_s for o in ops if o.name != "catalog.lake_read")
        rounds.append(
            {
                "wall_s": sum(o.wall_s for o in ops),
                "rows_per_s": input_rows / land_s,
                "post_query_s": ops[-1].wall_s,
                "input_bytes": d["input_bytes"],
            }
        )
        r += 1

    one_round()  # the cold round
    figures = b.repeat(one_round)
    keys_built = b.scratch_keys() - keys0
    b.check(f"scratch.keys_built on ingest is {keys_built}, expected 0", keys_built == 0)
    b.layers["scratch.keys_built"] = keys_built
    with b.untimed():
        written = _dir_bytes(lake_root)
        batches = len(os.listdir(stream_manifest)) if os.path.isdir(stream_manifest) else 0
        if b.trace:
            _plan_counts(b, frames)
    b.layers["streaming.batches"] = batches
    b.layers["etl.bytes_written"] = written
    b.detail["rounds"] = len(rounds)
    b.detail["ingest_rows_per_s"] = statistics.median(x["rows_per_s"] for x in rounds)
    b.detail["bytes_written_per_input_byte"] = written / sum(x["input_bytes"] for x in rounds)
    b.detail["post_ingest_query_s"] = statistics.median(x["post_query_s"] for x in rounds)
    per_op = {}
    for o in b.timed_ops():
        per_op.setdefault(o.name, []).append(o.wall_s)
    for op_name, label in (
        ("crawler.crawl_delimited", "crawler.crawl_delimited_s"),
        ("etl.tsv_to_parquet_job", "etl.tsv_to_parquet_job_s"),
        ("etl.merge_upsert", "etl.upsert_s"),
        ("catalog.lake_write", "catalog.lake_write_s"),
        ("catalog.lake_read", "catalog.lake_read_s"),
    ):
        b.detail[label] = statistics.median(per_op[op_name])
    b.detail["streaming.batch_s"] = sum(per_op["streaming.idempotent_sink"]) / max(1, batches)
    return {"first_call_s": rounds[0]["wall_s"], **figures}


WORKLOADS = {
    "analyst_warm": analyst_warm,
    "curation_cold": curation_cold,
    "lake_ingest": lake_ingest,
}
