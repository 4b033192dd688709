"""The benchmark's workloads, run against the package's public functions.

Every workload is a closed loop with one client: the next op starts when
the previous one has returned. A run is

1. input generation (untimed, before the session starts);
2. set-up, timed as ``setup_s``: session start, the initial load and a
   fixed count of warm-up ops of every op type;
3. the timed window: whole rounds of ops in a seeded interleaved order
   until ``--seconds`` have passed, each op with a host probe run next to
   it outside its timer and its result checked against the oracle;
4. the end-of-run checks (untimed): full live-state fingerprints, the
   time-travel state and the quarantine count against the oracle.

An op that raises or returns a wrong result counts as failed.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

import gen
import tracing

#: queries of ``analytic_mix``: relational, windowed, event, text,
#: vector and CDC entries of the registry. join_broadcast_dims,
#: agg_grouped and search_bm25_topk are left out for the run budget:
#: q3/q5 already broadcast their dimensions, q1 is a grouped
#: aggregation, and text_quality_score runs the text functions
QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "window_topk_per_group", "events_tumbling_agg", "text_quality_score",
    "ann_cosine_topk", "cdc_gold_customer_orders",
)
#: untimed warm-up ops: cycles of the CDC workloads after the initial
#: load (which already runs every op type once per topic), passes over
#: every query of analytic_mix
WARMUP_CYCLES = 1
WARMUP_PASSES = 1
#: how many versions back a cycle's time-travel read may reach
TIME_TRAVEL_DEPTH = 4
#: change batches generated per topic per second of the timed window:
#: enough while a cycle takes at least 1 / (4 topics * 2) s
BATCHES_PER_SECOND = 2

E2E_UNITS = {
    "setup_s": "s",
    "op_latency_s": "s",
    "throughput_per_s": "1/s",
    "read_latency_s": "s",
    "driver_mem_mb": "MB",
}
_SPARK_COUNTERS = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "executor_cpu_s": "s", "executor_run_s": "s", "gc_s": "s",
    "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
    "input_records": "count", "result_bytes": "bytes", "job_busy_s": "s",
    "driver_gap_s": "s", "slot_busy_ratio": "ratio",
}
_TRIGGER_PHASES = ("latestOffset", "queryPlanning", "addBatch", "walCommit",
                   "triggerExecution")
SHARE_LAYERS = ("harness", "cdc", "streaming", "tablelog", "registry", "spark")
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "cdc.ingest_s": "s",
    "cdc.latest_state_s": "s",
    "cdc.events_ingested": "count",
    "cdc.records_scanned_per_new_event": "ratio",
    "streaming.drain_s": "s",
    "streaming.batches_per_drain": "count",
    **{f"streaming.trigger.{p}_ms": "ms" for p in _TRIGGER_PHASES},
    "tablelog.merge_cdc_s": "s",
    "tablelog.files_added_per_commit": "count",
    "tablelog.files_removed_per_commit": "count",
    "tablelog.rewrite_ratio": "ratio",
    "tablelog.read_s": "s",
    "tablelog.live_files": "count",
    "tablelog.versions": "count",
    "tablelog.live_bytes": "bytes",
    "tablelog.bytes_on_disk": "bytes",
    "tablelog.storage_amplification": "ratio",
    "registry.build_s": "s",
    "registry.execute_s": "s",
    "registry.result_rows": "count",
    **{f"registry.{q}.latency_p50_s": "s" for q in QUERIES},
    **{f"spark.{k}": u for k, u in _SPARK_COUNTERS.items()},
    "mem.jvm_heap_live_mb": "MB",
    "mem.jvm_nonheap_mb": "MB",
    "mem.peak_rss_mb": "MB",
    "host.probe_p25_s": "s",
    "host.probe_p50_s": "s",
    "host.probe_p75_s": "s",
    **{f"share.{layer}": "ratio" for layer in SHARE_LAYERS},
    **{f"traced.{k}": u for k, u in E2E_UNITS.items()},
}


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(map(math.log, xs)) / len(xs))


def quartiles(xs) -> tuple[float, float, float]:
    if len(xs) < 2:
        v = xs[0] if xs else 0.0
        return v, v, v
    q = statistics.quantiles(xs, n=4)
    return q[0], q[1], q[2]


def _vmhwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(d, name))
    return total


@dataclass
class Run:
    """State of one benchmark run: its settings, the session, the
    tracer, and the op accounting every workload shares."""

    seed: int
    seconds: int
    traced: bool
    work: str
    scale: float = 1.0  # multiplies gen.SNAPSHOT_ROWS
    rng: random.Random = field(init=False)
    tracer: tracing.Tracer = field(init=False)
    spark: object = None
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    probes: list = field(default_factory=list)
    op_sids: list = field(default_factory=list)  # timed op spans
    memory: dict = field(default_factory=dict)  # MB, from record_memory
    cleanups: list = field(default_factory=list)  # undo traced-mode rebinding

    def __post_init__(self):
        self.rng = random.Random(f"{self.seed}:order")
        self.tracer = tracing.Tracer(enabled=self.traced)

    def start_session(self) -> float:
        """Start the Spark session; returns the seconds it took."""
        from cdc_local_data_pipeline_docker_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData",
        }
        if self.traced:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(app_name="perfbench",
                                   shuffle_partitions=os.cpu_count(),
                                   extra_conf=conf)
            self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def record_memory(self) -> None:
        """Memory of the driver at the end of the timed window. The JVM's
        heap and non-heap in use after a full GC are what the program
        keeps on the driver (cached plans, broadcast and memory-store
        blocks, listeners, class metadata and JIT code); a full GC leaves
        only live objects, so the figure does not follow GC timing or
        the heap size. The peak resident memory of this process plus its
        JVM is kept as a diagnostic: it mostly follows the heap the JVM
        chose to commit and the generator's state in this process."""
        from pyspark import SparkContext

        mx = SparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        mx.gc()
        mb = 1024.0 * 1024.0
        heap = mx.getHeapMemoryUsage().getUsed() / mb
        nonheap = mx.getNonHeapMemoryUsage().getUsed() / mb
        jvm = SparkContext._gateway.proc.pid
        self.memory = {
            "driver_mem_mb": heap + nonheap,
            "mem.jvm_heap_live_mb": heap,
            "mem.jvm_nonheap_mb": nonheap,
            "mem.peak_rss_mb": (_vmhwm_kb("self") + _vmhwm_kb(jvm)) / 1024.0,
        }

    def stop_session(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    def op(self, name: str, fn):
        """Run one timed op: a host probe first (outside the timer), then
        ``fn`` inside a top-level span. ``fn`` returns True when its
        result checked out. Returns the op's wall seconds."""
        self.probes.append(tracing.host_probe())
        self.attempted += 1
        self.tracer.op = self.attempted
        if self.traced:
            self.op_sids.append(len(self.tracer.spans))  # the span opened next
        t0 = time.perf_counter()
        with self.tracer.span(f"op.{name}"):
            try:
                ok = fn()
            except Exception as e:  # an op that raises counts as failed
                ok = False
                self.errors.append(f"{name}: {type(e).__name__}: {e}"[:300])
            else:
                if not ok:
                    self.errors.append(f"{name}: wrong result")
        wall = time.perf_counter() - t0
        self.tracer.op = None
        self.failed += not ok
        return wall

    def timed_spans(self) -> list:
        """Every span recorded inside a timed op."""
        ops = {self.tracer.spans[i].op for i in self.op_sids}
        return [s for s in self.tracer.spans if s.op in ops]

    def check(self, name: str, ok: bool) -> None:
        """An untimed end-of-run output check; a failure counts as a
        failed op."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{name}: wrong result")


# --- CDC workloads ---------------------------------------------------------

def live_fingerprint(df, topic: str, offset_col: str):
    """One-row DataFrame ``(n, crc)``: the row count and the sum of
    per-row crc32 of a live-state DataFrame, the Spark twin of
    ``gen.row_crc``. Decimals render as their string form, timestamps as
    epoch microseconds (the wire encodings)."""
    from pyspark.sql import functions as F

    from cdc_local_data_pipeline_docker_spark.catalog import (
        CDC_DECIMAL_COLUMNS, CDC_EPOCH_MICROS_COLUMNS)

    parts = []
    for f in gen.WIRE_FIELDS[topic]:
        c = F.col(f)
        if f in CDC_EPOCH_MICROS_COLUMNS[topic]:
            c = F.unix_micros(c.cast("timestamp"))
        elif f in CDC_DECIMAL_COLUMNS[topic]:
            c = c.cast("decimal(10,2)")
        parts.append(c.cast("string"))
    parts.append(F.col(offset_col).cast("string"))
    crc = F.sum(F.crc32(F.concat_ws("|", *parts).cast("binary")))
    return df.agg(F.count(F.lit(1)).alias("n"),
                  F.coalesce(crc, F.lit(0)).cast("long").alias("crc"))


def check_all(run: "Run", frames: dict, expect: dict) -> None:
    """End-of-run checks: collect the one-row ``(n, crc)`` DataFrames in
    ``frames`` in one Spark action (one job rather than one per table)
    and compare each with ``expect[name]``."""
    from functools import reduce

    from pyspark.sql import functions as F

    parts = [df.select(F.lit(name).alias("name"), "n", "crc")
             for name, df in frames.items()]
    got = {r["name"]: (r["n"], r["crc"])
           for r in reduce(lambda a, b: a.unionAll(b), parts).collect()}
    for name, want in expect.items():
        run.check(name, got.get(name) == want)


@dataclass
class CdcStream:
    """Landing state of the generated stream: batches are staged by the
    generator and moved into each topic's landing directory one at a time."""

    inputs: gen.CdcInputs
    land: str
    next_batch: dict = field(default_factory=lambda: {t: 0 for t in gen.TOPICS})

    def land_next(self, topic: str) -> int:
        k = self.next_batch[topic]
        src = self.inputs.files[topic, k]
        dst_dir = os.path.join(self.land, topic)
        os.makedirs(dst_dir, exist_ok=True)
        os.rename(src, os.path.join(dst_dir, os.path.basename(src)))
        self.next_batch[topic] = k + 1
        return k

    def exhausted(self, topic: str) -> bool:
        return self.next_batch[topic] > self.inputs.n_cycles


@dataclass
class CdcTimes:
    """What the timed cycles of a CDC workload measured."""

    syncs: list = field(default_factory=list)  # batch landed -> readable
    reads: list = field(default_factory=list)
    events: int = 0


def _topic_rounds(run: Run):
    """Endless seeded interleaving of topics: every round visits each
    topic once, in a freshly shuffled order."""
    while True:
        yield from run.rng.sample(gen.TOPICS, len(gen.TOPICS))


def _cdc_inputs(run: Run) -> CdcStream:
    n = WARMUP_CYCLES + 1 + BATCHES_PER_SECOND * run.seconds
    inputs = gen.generate_cdc(os.path.join(run.work, "stage"), run.seed, n,
                              run.scale)
    return CdcStream(inputs, os.path.join(run.work, "land"))


def _cdc_loop(run: Run, stream: CdcStream, load, cycle) -> tuple[float, float, list]:
    """Set-up and timed window of a CDC workload. ``load(topic)`` lands
    and syncs a topic's snapshot batch; ``cycle(topic, timed)`` lands and
    syncs the topic's next change batch and returns True when its result
    checked out. Returns (setup_s, session start s, timed op walls)."""
    setup_t0 = time.perf_counter()
    session_s = run.start_session()
    for t in gen.TOPICS:  # initial load: the snapshot batch of every topic
        load(t)
    warm = _topic_rounds(run)
    for _ in range(WARMUP_CYCLES):
        cycle(next(warm), timed=False)
    setup_s = time.perf_counter() - setup_t0

    # whole rounds, so every topic has the same number of timed cycles; a
    # topic without a batch left ends the window early, as no failure
    walls = []
    deadline = time.perf_counter() + run.seconds
    order = _topic_rounds(run)
    while time.perf_counter() < deadline:
        for _ in gen.TOPICS:
            t = next(order)
            if stream.exhausted(t):
                deadline = 0.0
                break
            walls.append(run.op("cycle", lambda t=t: cycle(t, timed=True)))
    run.record_memory()
    return setup_s, session_s, walls


def _cdc_result(setup_s: float, session_s: float, walls: list, times: CdcTimes,
                 inp: gen.CdcInputs, layer: dict) -> dict:
    """The result a CDC workload returns to ``run_workload``."""
    return {
        "e2e": {
            "setup_s": setup_s,
            "op_latency_s": median(times.syncs),
            "throughput_per_s": times.events / sum(walls) if walls else 0.0,
            "read_latency_s": median(times.reads),
        },
        "layer": {"session.start_s": session_s, "cdc.events_ingested": times.events,
                  **layer},
        "info": {"recent_update_share": inp.recent_update_share,
                 "live_rows_at_start": {t: inp.expect[t, 0][0] for t in gen.TOPICS}},
    }


def cdc_tablelog_sync(run: Run) -> dict:
    """Each cycle lands one topic's next change batch, drains it with
    ``start_tablelog_upsert_stream`` into that topic's tablelog table
    (one MERGE commit), reads the live state with ``read_live(...).count()``
    and an earlier version with ``log_read(version=...)``."""
    from pyspark.sql import functions as F

    from cdc_local_data_pipeline_docker_spark.sources import tablelog as TL
    from cdc_local_data_pipeline_docker_spark.streaming import tablelog_upsert as TU

    stream = _cdc_inputs(run)
    inp = stream.inputs
    roots = {t: os.path.join(run.work, "tables", t) for t in gen.TOPICS}
    ckpt = os.path.join(run.work, "stream")
    progress: list = []
    if run.traced:
        merge = TU.log_merge_cdc

        def traced_merge(*a, **k):
            with run.tracer.span("tablelog.merge_cdc"):
                return merge(*a, **k)

        TU.log_merge_cdc = traced_merge
        run.cleanups.append(lambda: setattr(TU, "log_merge_cdc", merge))

    def drain(topic: str) -> None:
        with run.tracer.span("streaming.drain"):
            q = TU.start_tablelog_upsert_stream(
                run.spark, os.path.join(stream.land, topic), topic,
                roots[topic], ckpt)
        if run.tracer.op is not None:  # a timed drain
            progress.append(q.recentProgress)

    def load(topic: str) -> None:
        stream.land_next(topic)
        drain(topic)
        TU.read_live(run.spark, roots[topic], topic).count()
        TL.log_read(run.spark, roots[topic], version=0).filter(
            ~F.col("is_tombstone")).count()

    times = CdcTimes()

    def cycle(topic: str, timed: bool) -> bool:
        k = stream.land_next(topic)
        t0 = time.perf_counter()
        drain(topic)
        td = time.perf_counter()
        with run.tracer.span("tablelog.read_live"):
            n_live = TU.read_live(run.spark, roots[topic], topic).count()
        t1 = time.perf_counter()
        v = run.rng.randint(max(0, k - TIME_TRAVEL_DEPTH), k - 1)
        with run.tracer.span("tablelog.log_read"):
            n_old = TL.log_read(run.spark, roots[topic], version=v).filter(
                ~F.col("is_tombstone")).count()
        t2 = time.perf_counter()
        if timed:
            times.syncs.append(t1 - t0)
            times.reads.extend((t1 - td, t2 - t1))
            times.events += inp.events[topic, k]
        return n_live == inp.expect[topic, k][0] and n_old == inp.expect[topic, v][0]

    setup_s, session_s, walls = _cdc_loop(run, stream, load, cycle)

    # end-of-run checks: full fingerprints of the live state and of one
    # earlier version per topic, and the commit count
    frames, expect = {}, {}
    for t in gen.TOPICS:
        k = stream.next_batch[t] - 1
        frames[f"live:{t}"] = live_fingerprint(
            TU.read_live(run.spark, roots[t], t), t, "last_offset")
        expect[f"live:{t}"] = inp.expect[t, k]
        v = run.rng.randint(0, k)
        old = TL.log_read(run.spark, roots[t], version=v).filter(~F.col("is_tombstone"))
        frames[f"time_travel:{t}@{v}"] = live_fingerprint(old, t, "kafka_offset")
        expect[f"time_travel:{t}@{v}"] = inp.expect[t, v]
        run.check(f"versions:{t}", len(TL.log_history(roots[t])) == k + 1)
    check_all(run, frames, expect)

    layer = _tablelog_layer(run, roots, progress) if run.traced else {}
    return _cdc_result(setup_s, session_s, walls, times, inp, layer)


def _tablelog_layer(run: Run, roots: dict, progress: list) -> dict:
    """Per-layer numbers of ``cdc_tablelog_sync`` from its spans, the
    drains' streaming progress and the tables' own logs (all read
    outside the timed path)."""
    from cdc_local_data_pipeline_docker_spark.sources import tablelog as TL

    spans = run.timed_spans()
    phases = {p: [] for p in _TRIGGER_PHASES}
    batches = []
    for prog in progress:
        batches.append(len({p.batchId for p in prog}))
        for p in prog:
            for ph in _TRIGGER_PHASES:
                if ph in p.durationMs:
                    phases[ph].append(p.durationMs[ph])
    added, removed, ratio = [], [], []
    live_files = versions = live_bytes = on_disk = 0
    for t, root in roots.items():
        hist = TL.log_history(root)
        for prev, rec in zip(hist, hist[1:]):
            added.append(rec["n_added"])
            removed.append(rec["n_removed"])
            ratio.append(rec["n_removed"] / prev["n_live"] if prev["n_live"] else 0.0)
        d = TL.log_detail(root)
        live_files += d["num_files"]
        versions += d["num_versions_retained"]
        live_bytes += d["size_bytes"]
        on_disk += _du(root)
    return {
        "streaming.drain_s": median(tracing.durations(spans, "streaming.drain")),
        "streaming.batches_per_drain": median(batches),
        **{f"streaming.trigger.{p}_ms": median(v) for p, v in phases.items()},
        "tablelog.merge_cdc_s": median(tracing.durations(spans, "tablelog.merge_cdc")),
        "tablelog.files_added_per_commit": median(added),
        "tablelog.files_removed_per_commit": median(removed),
        "tablelog.rewrite_ratio": median(ratio),
        "tablelog.read_s": median(tracing.durations(spans, "tablelog.read_live")
                                  + tracing.durations(spans, "tablelog.log_read")),
        "tablelog.live_files": live_files,
        "tablelog.versions": versions,
        "tablelog.live_bytes": live_bytes,
        "tablelog.bytes_on_disk": on_disk,
        "tablelog.storage_amplification": on_disk / live_bytes if live_bytes else 0.0,
    }


def cdc_batch_sync(run: Run) -> dict:
    """Each cycle lands one topic's next change batch, runs
    ``cdc.ingest.ingest_table`` for that topic (the reference's per-topic
    batch job), then ``materialize_latest(...).count()`` of its latest
    state."""
    from pyspark.sql import functions as F

    from cdc_local_data_pipeline_docker_spark.cdc.ingest import (
        ingest_table, materialize_latest)

    stream = _cdc_inputs(run)
    inp = stream.inputs
    out = os.path.join(run.work, "changelog")
    times = CdcTimes()

    def cycle(topic: str, timed: bool) -> bool:
        k = stream.land_next(topic)
        t0 = time.perf_counter()
        with run.tracer.span("cdc.ingest"):
            r = ingest_table(run.spark, os.path.join(stream.land, topic), topic, out)
        t1 = time.perf_counter()
        with run.tracer.span("cdc.latest_state"):
            n = materialize_latest(run.spark, out, topic).count()
        t2 = time.perf_counter()
        if timed:
            times.syncs.append(t2 - t0)
            times.reads.append(t2 - t1)
            times.events += inp.events[topic, k]
        bad = inp.malformed[topic, k] - (inp.malformed[topic, k - 1] if k else 0)
        return (r["n_rows"] == inp.events[topic, k] - bad
                and r["n_quarantined"] == bad and n == inp.expect[topic, k][0])

    def load(topic: str) -> None:
        run.check(f"load:{topic}", cycle(topic, timed=False))

    setup_s, session_s, walls = _cdc_loop(run, stream, load, cycle)

    frames, expect = {}, {}
    for t in gen.TOPICS:
        k = stream.next_batch[t] - 1
        frames[f"live:{t}"] = live_fingerprint(
            materialize_latest(run.spark, out, t), t, "last_offset")
        expect[f"live:{t}"] = inp.expect[t, k]
        bad = run.spark.read.parquet(os.path.join(out, f"{t}_quarantine"))
        frames[f"quarantine:{t}"] = bad.agg(F.count(F.lit(1)).alias("n"),
                                            F.lit(0).cast("long").alias("crc"))
        expect[f"quarantine:{t}"] = (inp.malformed[t, k], 0)
    check_all(run, frames, expect)

    layer = {}
    if run.traced:
        spans = run.timed_spans()
        layer = {
            "cdc.ingest_s": median(tracing.durations(spans, "cdc.ingest")),
            "cdc.latest_state_s": median(tracing.durations(spans, "cdc.latest_state")),
        }
    return _cdc_result(setup_s, session_s, walls, times, inp, layer)


# --- analytic mix ----------------------------------------------------------

class _TimedConnection:
    """DuckDB connection wrapper that sums the oracle's own time, so the
    checks done during warm-up can be left out of ``setup_s``."""

    def __init__(self, con):
        self.con = con
        self.seconds = 0.0

    def execute(self, sql):
        outer = self

        class _Result:
            def df(self):
                t0 = time.perf_counter()
                r = outer.con.execute(sql).df()
                outer.seconds += time.perf_counter() - t0
                return r

        return _Result()


def analytic_mix(run: Run) -> dict:
    """The registry queries over generated TPC-H-shaped tables, in a
    seeded order per pass. Warm-up is one pass through
    ``tools/driver_sim.check`` against the DuckDB oracle; timed ops build
    the query's DataFrame and ``collect`` it."""
    sf_dir = gen.generate_analytic(os.path.join(run.work, "tables"))
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tools"))
    import driver_sim
    from tests.oracle import duckdb_connection

    from cdc_local_data_pipeline_docker_spark import registry

    con = _TimedConnection(duckdb_connection(sf_dir))
    rows: dict[str, int] = {}
    lat: dict[str, list[float]] = {q: [] for q in QUERIES}
    execs: dict[str, list[float]] = {q: [] for q in QUERIES}
    build: list[float] = []
    n_rows: list[int] = []

    setup_t0 = time.perf_counter()
    session_s = run.start_session()
    for _ in range(WARMUP_PASSES):
        for q in run.rng.sample(QUERIES, len(QUERIES)):
            ok, msg = driver_sim.check(q, run.spark, con, sf_dir)
            run.check(f"oracle:{q} {msg}", ok)
            rows[q] = int(msg.split("rows=")[1].split()[0]) if "rows=" in msg else -1
    setup_s = time.perf_counter() - setup_t0 - con.seconds

    def query(q: str) -> bool:
        fn = registry.REGISTRY[q][0]
        t0 = time.perf_counter()
        with run.tracer.span("registry.build"):
            df = fn(run.spark, sf_dir)
        t1 = time.perf_counter()
        with run.tracer.span("registry.execute"):
            got = df.collect()
        t2 = time.perf_counter()
        build.append(t1 - t0)
        lat[q].append(t2 - t0)
        execs[q].append(t2 - t1)
        n_rows.append(len(got))
        return len(got) == rows[q]

    # whole passes, so every query has the same number of samples
    walls = []
    deadline = time.perf_counter() + run.seconds
    while time.perf_counter() < deadline:
        for q in run.rng.sample(QUERIES, len(QUERIES)):
            walls.append(run.op("query", lambda q=q: query(q)))
    run.record_memory()

    return {
        "e2e": {
            "setup_s": setup_s,
            "op_latency_s": geomean(median(v) for v in lat.values()),
            "throughput_per_s": len(walls) / sum(walls),
            "read_latency_s": geomean(median(v) for v in execs.values()),
        },
        "layer": {
            "session.start_s": session_s,
            "registry.build_s": median(build),
            "registry.execute_s": median([x for v in execs.values() for x in v]),
            "registry.result_rows": median(n_rows),
            **{f"registry.{q}.latency_p50_s": median(v) for q, v in lat.items()},
        },
    }


WORKLOADS = {
    "cdc_batch_sync": cdc_batch_sync,
    "cdc_tablelog_sync": cdc_tablelog_sync,
    "analytic_mix": analytic_mix,
}


def run_workload(name: str, seed: int, seconds: int, traced: bool, work: str,
                 scale: float = 1.0) -> dict:
    """Run one workload; returns the result object the CLI prints."""
    run = Run(seed, seconds, traced, work, scale)
    try:
        out = WORKLOADS[name](run)
    finally:
        run.stop_session()
        for undo in run.cleanups:
            undo()
    e2e = {**out["e2e"], "driver_mem_mb": run.memory["driver_mem_mb"]}
    p25, p50, p75 = quartiles(run.probes)
    info = {
        "workload": name,
        "timed_ops": len(run.probes),
        "error_rate": run.failed / max(1, run.attempted),
        "errors": run.errors[:10],
        "host.probe_s": {"p25": p25, "p50": p50, "p75": p75},
        "memory_mb": run.memory,
        **out.get("info", {}),
    }
    if traced:
        layer = {k: 0.0 for k in PER_LAYER_UNITS}
        layer.update(out["layer"])
        layer.update(run.memory)
        layer.update({"host.probe_p25_s": p25, "host.probe_p50_s": p50,
                      "host.probe_p75_s": p75})
        layer.update({f"traced.{k}": v for k, v in e2e.items()})
        jobs = tracing.read_event_log(os.path.join(work, "eventlog"))
        ops = [run.tracer.spans[i] for i in run.op_sids]
        per_op = tracing.op_spark_counters(ops, jobs, os.cpu_count())
        for k in _SPARK_COUNTERS:
            layer[f"spark.{k}"] = median([c[k] for c in per_op])
        shares = tracing.layer_shares(run.tracer.spans, run.op_sids, jobs)
        layer.update({f"share.{k}": v for k, v in shares.items()})
        ingest = [s for s in run.timed_spans() if s.name == "cdc.ingest"]
        if ingest:
            scanned = tracing.op_spark_counters(ingest, jobs, os.cpu_count())
            layer["cdc.records_scanned_per_new_event"] = (
                sum(c["input_records"] for c in scanned)
                / max(1, out["layer"]["cdc.events_ingested"]))
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    return {
        "info": info,
        "result": {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        },
    }

