"""The benchmark workloads, their warm-up, their correctness gate and
their per-layer measurements.

The engine is driven only through its public functions:
``streaming.pipeline.build_pipeline_query`` / ``parse_stream`` /
``route_and_tokenize``, ``functions.fpe.fpe_token_col`` and the
dashboard functions of ``operators.relational``.
"""

from __future__ import annotations

import os
import random
import sys
import time
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql import functions as F

from realtime_financial_transactions_data_pipeline_spark.functions import fpe
from realtime_financial_transactions_data_pipeline_spark.functions.scalar import pan_is_valid
from realtime_financial_transactions_data_pipeline_spark.operators import relational
from realtime_financial_transactions_data_pipeline_spark.streaming import pipeline

from perfbench import gen
from perfbench.tracing import group_counters, status_store

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DASHBOARD_QUERIES = (
    "q1_star_revenue_by_nation", "a1_a6_stat_cards", "a7_daily_timeseries",
    "a8_a9_group_by_dim", "a10b_count_distinct", "l1_l3_slicer_stack", "o1_o2_topk",
    "rollup_region_nation", "cube_segment_status", "o5_window_rank",
)
#: backfill_unique: the backlog one replay catches up on.
BACKFILL_FILES, BACKFILL_FILE_MSGS, BACKFILL_FILES_PER_TRIGGER = 48, 3_000, 16
#: live: 1,250 messages every 0.25 s is 5k msgs/s offered. Closer to the
#: loop's capacity on four cores (10k msgs/s with a dashboard client
#: beside it), CPU steal on a shared host nearly doubled p50 latency
#: between runs.
LIVE_FILE_MSGS, LIVE_INTERVAL_S, LIVE_CARD_POOL = 1_250, 0.25, 2_000
#: The first fifth of a live window is not timed: the query's first
#: micro-batch is slow and the queue it leaves takes a few batches to drain.
LIVE_WARM_IN_SHARE = 0.2
#: One second of live input, the slice the traced run splits into phases.
LIVE_BATCH_FILES = 4
TOKEN_SAMPLE = 200
#: The dashboard warm-up runs on star tables a tenth of the size.
WARM_STAR_SCALE = 0.1
#: Percentile reported as ``latency_tail_ms``: the highest with at least
#: ten samples beyond it at the smallest sample count a run yields.
TAIL_PCT = {"backfill_unique": 85, "live": 75}
STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")


def pct(values, p: float) -> float:
    """The ``p``-th percentile, linearly interpolated (0 for no values:
    the run has already failed its correctness gate then)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    if len(xs) == 1:
        return float(xs[0])
    k = (len(xs) - 1) * p / 100
    lo = int(k)
    return xs[lo] + (xs[min(lo + 1, len(xs) - 1)] - xs[lo]) * (k - lo)


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


@dataclass
class Run:
    """One benchmark run: its session, scratch root and failure ledger."""

    spark: object
    root: str
    seed: int
    tracer: object = None
    attempted: int = 0
    failed: int = 0
    notes: list = field(default_factory=list)

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"FAILED {name}: {detail}")
        return ok

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)


def write_wire_files(run: Run, dir_: str, tag: str, pans: list, per_file: int) -> list:
    """Write ``pans`` as wire files of ``per_file`` messages each into
    ``dir_``; returns [(file name, ledger)] in order."""
    os.makedirs(dir_, exist_ok=True)
    out = []
    for k in range(0, len(pans), per_file):
        name = f"{tag}{k // per_file:04d}"
        text, ledger = gen.wire_lines(run.seed, name, pans[k:k + per_file])
        with open(os.path.join(dir_, name + ".json"), "w") as f:
            f.write(text)
        out.append((name, ledger))
    return out


# ---------------------------------------------------------------------------
# Streaming query runs and their outputs
# ---------------------------------------------------------------------------


@dataclass
class StreamRun:
    """One started pipeline query and where it wrote."""

    out: str
    start: float
    query: object = None
    progress: list = field(default_factory=list)
    error: str | None = None
    end: float = 0.0

    @property
    def valid_dir(self) -> str:
        return f"{self.out}/valid"

    @property
    def errors_dir(self) -> str:
        return f"{self.out}/errors"

    def batches(self) -> list:
        """Progress of the triggers that ran a micro-batch (an idle trigger
        also reports progress, without ``addBatch``)."""
        return [p for p in self.progress if "addBatch" in p["durationMs"]]

    def commits(self) -> dict[int, float]:
        """batchId → epoch seconds at which that micro-batch committed."""
        return {
            p["batchId"]: _epoch(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1e3
            for p in self.batches()
        }


def start_query(run: Run, input_dir: str, out: str, *, available_now: bool,
                files_per_trigger: int | None = None, lookup_dir: str | None = None) -> StreamRun:
    writer = pipeline.build_pipeline_query(
        run.spark, input_dir, f"{out}/valid", f"{out}/errors", f"{out}/checkpoint",
        lookup_dir=lookup_dir, key=fpe.TEST_KEY, available_now=available_now,
        max_files_per_trigger=files_per_trigger,
    )
    sr = StreamRun(out=out, start=time.time())
    sr.query = writer.start()
    return sr


def stop_query(sr: StreamRun, error: str | None = None) -> StreamRun:
    sr.query.stop()
    sr.end = time.time()
    exc = sr.query.exception()
    sr.error = str(exc) if exc is not None else error
    sr.progress = list(sr.query.recentProgress)
    return sr


def replay(run: Run, input_dir: str, out: str, files_per_trigger: int | None,
           lookup_dir: str | None = None, timeout_s: float = 120) -> StreamRun:
    """Catch up on every file in ``input_dir`` (availableNow)."""
    sr = start_query(run, input_dir, out, available_now=True,
                     files_per_trigger=files_per_trigger, lookup_dir=lookup_dir)
    done = sr.query.awaitTermination(timeout_s)
    return stop_query(sr, None if done else f"query still running after {timeout_s}s")


def file_batches(run: Run, sr: StreamRun) -> dict[str, tuple[int, int, int, int]]:
    """file tag → (first micro-batch that wrote it, valid rows, distinct
    transaction ids, null-token rows), read back from the valid sink
    (transaction ids are ``<tag>-<i>``, so no id spans two files)."""
    rows = (
        run.spark.read.parquet(sr.valid_dir)
        .groupBy(F.regexp_extract("transaction_id", r"^(.*)-\d+$", 1).alias("f"))
        .agg(F.min("batch_id").alias("b"), F.count(F.lit(1)).alias("n"),
             F.countDistinct("transaction_id").alias("d"),
             F.count(F.when(F.col("card_token").isNull(), 1)).alias("z"))
        .collect()
    )
    return {r.f: (r.b, r.n, r.d, r.z) for r in rows}


def gate_stream(run: Run, sr: StreamRun, ledger: gen.Ledger, label: str, fmap: dict) -> None:
    """The ingest correctness gate for one query's sinks."""
    if not run.check(f"{label}: query finished", sr.error is None, str(sr.error)[:300]):
        return
    valid = run.spark.read.parquet(sr.valid_dir)
    n_valid, distinct, n_null = (sum(v[i] for v in fmap.values()) for i in (1, 2, 3))
    n_err = run.spark.read.parquet(sr.errors_dir).count()
    run.check(f"{label}: valid rows", n_valid == ledger.valid, f"{n_valid} != {ledger.valid}")
    run.check(f"{label}: dead-letter rows", n_err == ledger.invalid_pan, f"{n_err} != {ledger.invalid_pan}")
    run.check(f"{label}: null tokens", n_null == ledger.null_pan, f"{n_null} != {ledger.null_pan}")
    run.check(f"{label}: transaction_id unique", distinct == n_valid, f"{distinct} != {n_valid}")
    leaked = {"card_number", "_raw", "raw_message"} & set(valid.columns)
    run.check(f"{label}: no PAN or raw column", not leaked, str(leaked))
    sample = random.Random(run.seed).sample(sorted(ledger.tokenized), min(TOKEN_SAMPLE, len(ledger.tokenized)))
    got = {r.transaction_id: r for r in valid.filter(F.col("transaction_id").isin(sample)).collect()}
    bad = []
    for tid in sample:
        pan = ledger.tokenized[tid]
        row = got.get(tid)
        want = str(int(fpe.encrypt_digits(fpe.TEST_KEY, pan))).zfill(16)
        if row is None or row.card_token != want or pan in (str(v) for v in row):
            bad.append(tid)
    run.check(f"{label}: sampled tokens", not bad, f"{len(bad)} of {len(sample)} wrong, e.g. {bad[:3]}")
    seen = {"n_messages": 0, "n_invalid_pan": 0, "n_null_pan": 0}
    for p in sr.progress:
        row = (p["observedMetrics"] or {}).get("quality")
        for k in seen:
            seen[k] += int(row[k]) // pipeline.SINK_ACTIONS_PER_BATCH if row else 0
    want = {"n_messages": ledger.messages, "n_invalid_pan": ledger.invalid_pan, "n_null_pan": ledger.null_pan}
    run.check(f"{label}: quality metrics", seen == want, f"{seen} != {want}")


def observed_msgs(progress) -> int:
    """Messages the pipeline's ``quality`` observation counted."""
    return sum(int(p["observedMetrics"]["quality"]["n_messages"]) // pipeline.SINK_ACTIONS_PER_BATCH
               for p in progress if (p["observedMetrics"] or {}).get("quality"))


def stream_layers(runs: list[StreamRun], fmaps: list[dict], window_s: float,
                  delivered_share: float) -> dict:
    """Per-batch ``durationMs`` phases and orchestration counters."""
    progs = [p for sr in runs for p in sr.batches()]
    if not progs:
        return {}
    out = {f"pipeline.{ph}_ms_p50": pct([p["durationMs"].get(ph, 0) for p in progs], 50)
           for ph in STREAM_PHASES}
    trig = [p["durationMs"]["triggerExecution"] for p in progs]
    rows = [observed_msgs([p]) for p in progs]
    per_batch: dict[tuple[int, int], int] = {}
    for i, fm in enumerate(fmaps):
        for b, *_ in fm.values():
            per_batch[(i, b)] = per_batch.get((i, b), 0) + 1
    ids = [(i, p["batchId"]) for i, sr in enumerate(runs) for p in sr.batches()]
    out.update({
        "pipeline.trigger_ms_p50": pct(trig, 50),
        "pipeline.batches": len(progs),
        "pipeline.rows_per_batch_p50": pct(rows, 50),
        "pipeline.idle_share": max(0.0, 1 - sum(trig) / 1e3 / window_s),
        "pipeline.backlog_files_max": max(per_batch.values(), default=0),
        "pipeline.batches_retried": len(ids) - len(set(ids)),
        "pipeline.delivered_share": delivered_share,
    })
    return out


# ---------------------------------------------------------------------------
# Dashboard client
# ---------------------------------------------------------------------------


@dataclass
class Call:
    name: str
    start: float
    planned: float
    end: float
    rows: list | None
    cols: list | None = None
    error: str | None = None
    group: str | None = None


class DashboardClient:
    """Runs dashboard functions one after another, ``collect()``-ing each
    result the way a dashboard fetches rows."""

    def __init__(self, run: Run, star_dir: str, tag: str):
        self.run, self.star_dir, self.tag = run, star_dir, tag
        self.calls: list[Call] = []

    def call(self, name: str) -> Call:
        group = f"perfbench/{self.tag}/{name}/{len(self.calls)}"
        with self.run.tracer.span(f"relational.{name}", group=group):
            t0 = time.time()
            try:
                df = getattr(relational, name)(self.run.spark, self.star_dir)
                t1 = time.time()
                c = Call(name, t0, t1, 0.0, df.collect(), df.columns)
            except Exception as exc:  # noqa: BLE001 - a failed query is counted, not fatal
                c = Call(name, t0, t0, 0.0, None, error=f"{type(exc).__name__}: {exc}"[:300])
            c.end, c.group = time.time(), group
        self.calls.append(c)
        return c


def gate_dashboard(run: Run, client: DashboardClient, star_dir: str) -> None:
    """Each function's first result against its DuckDB oracle, and every
    later call's row count against the first."""
    import duckdb
    import importlib.util
    import pandas as pd

    from realtime_financial_transactions_data_pipeline_spark.registry import oracle_sql

    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(REPO_ROOT, "scripts", "check_oracle.py"))
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)
    oracles = oracle_sql()
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "orders", "lineitem", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{star_dir}/{t}.parquet')")
    first: dict[str, Call] = {}
    for c in client.calls:
        run.check(f"query {c.name}", c.error is None, str(c.error))
        if c.error is not None:
            continue
        if c.name not in first:
            first[c.name] = c
        else:
            n0 = len(first[c.name].rows)
            run.check(f"{c.name}: stable row count", len(c.rows) == n0, f"{len(c.rows)} != {n0}")
    for name, c in first.items():
        odf = con.execute(oracles[name]).fetchdf()
        sdf = pd.DataFrame([tuple(r) for r in c.rows], columns=c.cols)
        ok = sorted(sdf.columns) == sorted(odf.columns) and co.canon_rows(sdf) == co.canon_rows(odf)
        run.check(f"{name}: equals oracle", ok, f"{len(sdf)} rows vs oracle {len(odf)}")


def relational_layers(client: DashboardClient, jobs, stages) -> dict:
    ok = [c for c in client.calls if c.error is None]
    out = {"relational.queries_per_s": len(ok) / sum(c.end - c.start for c in ok) if ok else 0.0}
    for name in DASHBOARD_QUERIES:
        calls = [c for c in client.calls if c.name == name and c.error is None]
        if not calls:
            continue
        ctr = [group_counters(jobs, stages, {c.group}, (c.start, c.end)) for c in calls]
        q = f"relational.{name}"
        out[f"{q}.p50_ms"] = pct([(c.end - c.start) * 1e3 for c in calls], 50)
        out[f"{q}.plan_ms"] = pct([(c.planned - c.start) * 1e3 for c in calls], 50)
        for k, src in (("jobs", "jobs"), ("tasks", "tasks"), ("shuffle_bytes", "shuffle_read_bytes"),
                       ("input_bytes", "input_bytes")):
            out[f"{q}.{k}"] = pct([x[src] for x in ctr], 50)
    return out


# ---------------------------------------------------------------------------
# Static replay of one batch-sized slice: the ingest phase split
# ---------------------------------------------------------------------------


def layer_split(run: Run, files: list[str], lookup_dir: str) -> dict:
    """Run one micro-batch's worth of input as a static DataFrame through
    the pipeline's public functions, one phase at a time."""
    spark, span = run.spark, run.tracer.span
    out_dir = run.path("split")

    def timed(name: str, action) -> float:
        with span(name, group=f"perfbench/split/{name}") as s:
            action()
        return (s["end"] - s["start"]) * 1e3

    def noop(df):
        return lambda: df.write.format("noop").mode("overwrite").save()

    parsed = pipeline.parse_stream(spark.read.text(files)).persist()
    m = {"pipeline.parse_ms": timed("pipeline.parse", parsed.count)}
    valid, errors = pipeline.route_and_tokenize(parsed, key=fpe.TEST_KEY)
    pans = parsed.filter(pan_is_valid(F.col("card_number")))
    m["fpe.tokenize_ms"] = timed(
        "fpe.tokenize", noop(pans.select(fpe.fpe_token_col(F.col("card_number"), key=fpe.TEST_KEY))))
    m["pipeline.route_errors_ms"] = timed("pipeline.route_errors", noop(errors))
    m["pipeline.valid_branch_ms"] = timed("pipeline.valid_branch", noop(valid))
    m["sink.valid_write_ms"] = timed("sink.valid_write", lambda: valid.write.parquet(f"{out_dir}/valid"))
    m["sink.error_write_ms"] = timed("sink.error_write", lambda: errors.write.parquet(f"{out_dir}/errors"))
    lookup = spark.read.parquet(lookup_dir)
    m["lookup.join_ms"] = timed("lookup.join", noop(
        spark.read.parquet(f"{out_dir}/valid").join(F.broadcast(lookup), "customer_id", "left")))
    per_task = (pans.groupBy(F.spark_partition_id().alias("p"))
                .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("card_number").alias("d")).collect())
    parsed.unpersist()
    m["fpe.pan_rows"] = sum(r.n for r in per_task)
    m["fpe.distinct_pans"] = sum(r.d for r in per_task)
    m["fpe.distinct_share"] = m["fpe.distinct_pans"] / max(1, m["fpe.pan_rows"])
    m["sink.files"] = 0
    for kind, key in (("valid", "sink.valid_bytes"), ("errors", "sink.error_bytes")):
        parts = [os.path.join(dp, f) for dp, _, fs in os.walk(f"{out_dir}/{kind}") for f in fs
                 if f.startswith("part-")]
        m[key] = sum(map(os.path.getsize, parts))
        m["sink.files"] += len(parts)
    return m


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


class Workload:
    """``__init__`` writes the inputs (untimed), ``warm_up`` runs the
    workload's plan once (timed as set-up), ``measure`` is the timed
    window, ``verify`` the correctness gate (it returns the window's
    end-to-end figures) and ``layers`` the per-layer metrics of a traced
    run."""

    name = ""

    def __init__(self, run: Run):
        self.run = run
        self.lookup_dir = run.path("lookup")
        gen.write_customer_lookup(run.seed, self.lookup_dir)
        self.warm_dir = run.path("warm_in")

    def warm_up(self, k: int) -> None:
        """One micro-batch over a batch-sized slice: JVM and codegen
        warm-up and the Python worker pool."""
        sr = replay(self.run, self.warm_dir, self.run.path(f"warm{k}"), None,
                    lookup_dir=self.lookup_dir if self.lookup else None)
        if sr.error:
            raise RuntimeError(f"warm-up replay failed: {sr.error}")

    def slice_files(self) -> list[str]:
        """A batch-sized slice of this workload's input."""
        raise NotImplementedError

    def stream_window(self) -> tuple[list[StreamRun], list[dict], float, float]:
        """(queries, their file maps, busy seconds, delivered share) of
        the last window."""
        raise NotImplementedError

    def layers(self, jobs, stages) -> dict:
        m = layer_split(self.run, self.slice_files(), self.lookup_dir)
        runs, fmaps, busy, delivered = self.stream_window()
        m.update(stream_layers(runs, fmaps, busy, delivered))
        window = (min(sr.start for sr in runs), max(sr.end for sr in runs))
        m.update({f"spark.{k}": v for k, v in group_counters(
            jobs, stages, {str(sr.query.runId) for sr in runs}, window).items()})
        m.update(dashboard_sweep(self.run))
        m.update(self.gen)
        return m


def dashboard_sweep(run: Run) -> dict:
    """The dashboard functions on the star tables: one untimed pass on
    tables a tenth of the size, then two passes on the full tables."""
    star, warm = run.path("star"), run.path("warm_star")
    gen.write_star_tables(run.seed, star)
    gen.write_star_tables(run.seed, warm, WARM_STAR_SCALE)
    order = random.Random(run.seed).sample(DASHBOARD_QUERIES, len(DASHBOARD_QUERIES))
    warm_client = DashboardClient(run, warm, "warm")
    for name in order:
        warm_client.call(name)
    client = DashboardClient(run, star, "sweep")
    for name in order + order[::-1]:
        client.call(name)
    gate_dashboard(run, client, star)
    return relational_layers(client, *status_store(run.spark.sparkContext))


class Backfill(Workload):
    """Replays a pre-written backlog of unique-PAN messages with
    availableNow, over and over, until the window closes."""

    name = "backfill_unique"
    lookup = False

    def __init__(self, run: Run):
        super().__init__(run)
        self.in_dir = run.path("backlog")
        pans = gen.unique_pans(run.seed, BACKFILL_FILES * BACKFILL_FILE_MSGS)
        self.ledger = gen.Ledger()
        for _, lg in write_wire_files(run, self.in_dir, "b", pans, BACKFILL_FILE_MSGS):
            self.ledger.add(lg)
        os.makedirs(self.warm_dir)
        for f in self.slice_files():
            os.link(f, os.path.join(self.warm_dir, os.path.basename(f)))
        self.gen = {"gen.msgs": self.ledger.messages, "gen.files": BACKFILL_FILES, "gen.late_ms_max": 0.0}
        self.n_replays = 0

    def measure(self, seconds: float, tag: str) -> None:
        until = time.time() + seconds
        self.window = []
        while not self.window or time.time() < until:
            self.n_replays += 1
            out = self.run.path(f"{tag}{self.n_replays}")
            self.window.append(replay(self.run, self.in_dir, out, BACKFILL_FILES_PER_TRIGGER))

    def verify(self) -> dict:
        lat, msgs, busy = [], 0, 0.0
        self.fmaps = []
        for i, sr in enumerate(self.window):
            fmap = file_batches(self.run, sr) if sr.error is None else {}
            self.fmaps.append(fmap)
            gate_stream(self.run, sr, self.ledger, f"replay {i}", fmap)
            commits = sr.commits()
            if sr.error is None and len(fmap) == BACKFILL_FILES:
                lat += [(commits[b] - sr.start) * 1e3 for b, *_ in fmap.values()]
                msgs += self.ledger.messages
                busy += max(commits.values()) - sr.start
                print(f"replay {i}: {max(commits.values()) - sr.start:.2f}s, batches "
                      f"{[p['durationMs']['triggerExecution'] for p in sr.batches()]} ms", file=sys.stderr)
        self.busy = busy
        return {"rate_per_s": msgs / busy if busy else 0.0, "lat": lat}

    def slice_files(self) -> list[str]:
        files = sorted(os.listdir(self.in_dir))[:BACKFILL_FILES_PER_TRIGGER]
        return [os.path.join(self.in_dir, f) for f in files]

    def stream_window(self):
        delivered = sum(observed_msgs(sr.progress) for sr in self.window)
        return self.window, self.fmaps, self.busy, delivered / (self.ledger.messages * len(self.window))


class Live(Workload):
    """Open-loop ingest: one file every LIVE_INTERVAL_S, published on a
    schedule that does not wait for the pipeline."""

    name = "live"
    lookup = True

    def __init__(self, run: Run):
        super().__init__(run)
        self.ledgers: dict[str, gen.Ledger] = {}
        pans = gen.pooled_pans(run.seed, LIVE_BATCH_FILES * LIVE_FILE_MSGS, LIVE_CARD_POOL, stream=2**31)
        write_wire_files(run, self.warm_dir, "w", pans, LIVE_FILE_MSGS)

    def measure(self, seconds: float, tag: str) -> None:
        n = int(seconds / LIVE_INTERVAL_S)
        staged, in_dir = self.run.path(f"{tag}_staged"), self.run.path(f"{tag}_in")
        os.makedirs(in_dir)
        pans = gen.pooled_pans(self.run.seed, n * LIVE_FILE_MSGS, LIVE_CARD_POOL, stream=len(self.ledgers))
        files = write_wire_files(self.run, staged, f"{tag}_", pans, LIVE_FILE_MSGS)
        self.ledgers.update(files)
        sr = start_query(self.run, in_dir, self.run.path(f"{tag}_out"), available_now=False,
                         lookup_dir=self.lookup_dir)
        self.start = t0 = time.time() + 0.1
        self.t0 = t0 + LIVE_WARM_IN_SHARE * seconds
        self.due, late = {}, 0.0
        with self.run.tracer.span("gen.publish"):
            for k, (name, _) in enumerate(files):
                due = t0 + k * LIVE_INTERVAL_S
                time.sleep(max(0.0, due - time.time()))
                os.rename(os.path.join(staged, name + ".json"), os.path.join(in_dir, name + ".json"))
                late = max(late, time.time() - due)
                self.due[name] = due
        self.window_end = time.time()
        offered = sum(self.ledgers[f].messages for f in self.due)
        drain_until = time.time() + 60
        while time.time() < drain_until and sr.query.exception() is None:
            if (observed_msgs(sr.query.recentProgress) >= offered
                    and not sr.query.status["isTriggerActive"]):
                break
            time.sleep(0.05)
        self.sr = stop_query(sr)
        self.in_dir = in_dir
        self.gen = {"gen.msgs": offered, "gen.files": len(self.due), "gen.late_ms_max": late * 1e3}

    def verify(self) -> dict:
        ledger = gen.Ledger()
        for f in self.due:
            ledger.add(self.ledgers[f])
        self.fmap = file_batches(self.run, self.sr) if self.sr.error is None else {}
        gate_stream(self.run, self.sr, ledger, "live", self.fmap)
        commits = self.sr.commits()
        done = {f: commits[self.fmap[f][0]] for f in self.due if f in self.fmap}
        timed = [f for f, due in self.due.items() if due >= self.t0 and f in done]
        lat = [(done[f] - self.due[f]) * 1e3 for f in timed]
        self.run.check("live: timed files committed", bool(lat))
        delivered = sum(self.ledgers[f].messages for f, t in done.items() if t <= self.window_end)
        self.delivered_share = delivered / ledger.messages
        print(f"live: (batch ms, messages) "
              f"{[(p['durationMs']['triggerExecution'], observed_msgs([p])) for p in self.sr.batches()]}",
              file=sys.stderr)
        # Delivered rate: the timed files' messages over the time from the
        # first one being due to the last one committed, so a growing
        # backlog lowers it.
        span = max((done[f] for f in timed), default=self.t0) - self.t0
        return {"rate_per_s": sum(self.ledgers[f].messages for f in timed) / span if span > 0 else 0.0,
                "lat": lat}

    def slice_files(self) -> list[str]:
        """About one micro-batch of live input: the first second of files."""
        return [os.path.join(self.in_dir, f + ".json") for f in list(self.due)[:LIVE_BATCH_FILES]]

    def stream_window(self):
        return [self.sr], [self.fmap], self.sr.end - self.start, self.delivered_share


WORKLOADS = {w.name: w for w in (Backfill, Live)}
