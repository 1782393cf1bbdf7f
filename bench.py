"""Benchmark runner: executes every registered probe query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE COMPACT (<1 KB) JSON line:

    {"metric": "probe_suite_wall", "value": N, "unit": "sec",
     "sf": 0.1, "n_queries": N, "n_failed": N,
     "stream_msgs_per_sec": N, "queries": {...headline subset...}}

The driver captures only a stdout tail, so the final line must stay
small — rounds 1 and 2 both lost the bench gate to a fat line. Full
per-query timings go to BENCH_DETAIL.json next to this script; the
stdout line carries only the headline probes.

Each probe is timed to a FULL materialization — a noop-sink write that
consumes every column of every row (r15.2 series break, JSON-marked
``"eval": "noop"``; rounds 1-15.1 used ``count()``, which let Catalyst
skip cardinality-preserving work: column projections at best, and for
distinct-key left-join panels like x25 the ENTIRE plan). This is the
same work the driver's value harness does, minus the pandas transfer.
Failures are recorded as -1 for that query and never abort the suite.

Host-variance hardening (VERDICT r08 #2): probes whose first timing is
>= _RERUN_THRESHOLD are invoked a SECOND time (mirroring the driver's
double invocation) and BENCH_DETAIL records both timings plus the
min-of-2; the stdout headline uses the min. Two calibration anchors are
reported: ``calib_sec`` (pure-CPU JVM workload — normalizes CPU-bound
probes across hosts) and ``sched_calib`` (a 4-micro-batch availableNow
no-op stream — normalizes streaming/iterative probes, whose cost is
micro-batch scheduling latency that the CPU anchor cannot see; rounds
7-8 burned adjudication time on 2-2.5x whipsaws of exactly those
probes). ``value`` stays the PASS-1 wall so round-over-round suite
comparisons remain apples-to-apples; the second pass is reported
separately as ``rerun_sec``.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from realtime_financial_transactions_data_pipeline_spark.registry import all_probes
from realtime_financial_transactions_data_pipeline_spark.session import get_spark

#: Probes at or above this first-pass time (sec) get a second timed
#: invocation. 0.0 = EVERY probe gets min-of-2 protection (VERDICT r11
#: #3: sub-threshold probes had zero noise shielding, and round-11's
#: x3h/x4h looked 2.4x/1.6x regressed in-suite purely from host jitter,
#: costing an adjudication cycle — while the warm second pass of the
#: full suite adds only ~60% of pass-1 wall because fixtures and JVM
#: code caches are hot). ``value`` stays the PASS-1 wall so
#: round-over-round suite comparisons remain apples-to-apples.
_RERUN_THRESHOLD = 0.0


def _sched_calib(spark) -> float:
    """Scheduler-latency anchor: time a 4-micro-batch availableNow
    no-op file stream (maxFilesPerTrigger=1 over four one-row JSON
    files). This isolates Structured Streaming's per-batch scheduling +
    checkpoint cost — the dominant term for the streaming and iterative
    probe families — which varies with host load independently of the
    pure-CPU calib (r08: t8/x2i whipsawed 1.8-2.5x while calib_sec
    REPORTED a faster host)."""
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="bench_sched_calib_")
    src = os.path.join(root, "in")
    os.makedirs(src)
    for i in range(4):
        with open(os.path.join(src, f"{i}.json"), "w") as fh:
            fh.write('{"v": %d}\n' % i)
    t0 = time.time()
    q = (
        spark.readStream.schema("v long")
        .option("maxFilesPerTrigger", 1)
        .json(src)
        .writeStream.format("noop")
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    sec = round(time.time() - t0, 3)
    shutil.rmtree(root, ignore_errors=True)
    return sec


def _shuffle_written_bytes(spark) -> int:
    """Cumulative shuffle-write bytes across executors, read from the
    always-on JVM AppStatusStore (works with spark.ui.enabled=false, so
    bench needs no UI server and pass-1 walls keep their composition).
    Constant-time — one small py4j call per probe, not a stage-list
    walk that grows with suite length. Returns -1 if the (package-
    private, stable-since-2.3) accessor ever disappears; callers treat
    deltas involving -1 as unknown."""
    try:
        execs = spark.sparkContext._jsc.sc().statusStore().executorList(False)
        return sum(
            execs.apply(i).totalShuffleWrite() for i in range(execs.size())
        )
    except Exception:  # noqa: BLE001 — accounting must never fail bench
        return -1


def slowest_probes(
    min2: dict[str, float], memo_hit: dict[str, bool], k: int = 5
) -> dict[str, float]:
    """The ``k`` slowest probes for the headline. A probe served from the
    memo times the memo read, not its own plan, so it never takes a slot.
    (Detection is frame identity only: a probe that derives a new frame
    from a memo entry is not flagged.)"""
    timed = [(n, t) for n, t in min2.items() if not memo_hit.get(n)]
    return dict(sorted(timed, key=lambda kv: kv[1], reverse=True)[:k])


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    only = set(sys.argv[1:])

    spark = get_spark("bench")
    timings: dict[str, float] = {}
    stream_window_s: float | None = None
    probes = {n: p for n, p in sorted(all_probes().items())
              if not only or n in only}
    wants_streaming = any(re.match(r"^(t\d|j3|k[38]|x1e|x2n)", n) for n in probes)
    # The NEW round-9 measurement machinery (scheduler anchor + stream
    # warm-up) runs BEFORE the t_suite clock starts, so `value` keeps
    # the exact composition every prior round reported (JVM warm-up +
    # CPU calib + probe loop) and stays comparable. Neither step may
    # abort the suite — the module contract is that bench always prints
    # its JSON line.
    try:
        sched_calib = _sched_calib(spark)
    except Exception as exc:  # noqa: BLE001
        print(f"bench: sched calib failed: {exc}", file=sys.stderr)
        sched_calib = -1.0
    # Streaming-plan JIT warm-up: the alphabetically-first streaming
    # probe (j3) used to absorb ~4-5 s of one-shot whole-stage-codegen
    # compilation for the parse→validate→tokenize plan — its raw timing
    # whipsawed for exactly that reason while its warm cost is ~1.6 s.
    # Run the flagship plan once over a 50-customer slice so per-probe
    # timings measure the probe, not global JIT. Skipped for subset
    # runs with no streaming probe (the contract smoke test should not
    # pay a full pipeline spin-up it cannot benefit from).
    if wants_streaming:
        try:
            import shutil
            import tempfile

            from realtime_financial_transactions_data_pipeline_spark.functions.fpe import TEST_KEY
            from realtime_financial_transactions_data_pipeline_spark.streaming import pipeline as _plw

            wroot = tempfile.mkdtemp(prefix="bench_stream_warm_")
            _plw.synth_wire_messages(spark, sf_dir, copies=1, max_custkey=50)\
                .coalesce(1).write.mode("overwrite").text(f"{wroot}/in")
            # lookup_dir compiles the per-batch broadcast-join shape
            # too (j3's plan). The join key is customer_id, so derive
            # it from c_custkey — passing customer.parquet raw fails
            # with UNRESOLVED_USING_COLUMN and warms nothing.
            spark.read.parquet(f"{sf_dir}/customer.parquet").limit(50)\
                .selectExpr("c_custkey AS customer_id", "c_mktsegment")\
                .coalesce(1).write.mode("overwrite").parquet(f"{wroot}/dim")
            _plw.run_pipeline(spark, f"{wroot}/in", f"{wroot}/out", key=TEST_KEY,
                              lookup_dir=f"{wroot}/dim")
            shutil.rmtree(wroot, ignore_errors=True)
        except Exception as exc:  # noqa: BLE001 — never fail the suite
            print(f"bench: stream warm-up failed: {exc}", file=sys.stderr)
    # Python-worker pool pre-warm (VERDICT r14 #5): the first pandas-UDF
    # probe used to absorb the fork+import cost of spawning the Arrow
    # worker pool (pandas+pyarrow imports, ~1-2 s per worker, paid once
    # per core under worker reuse) — r14's x4j read 12.1 s pass-1 vs
    # 2.4 s min-of-2 purely from this. One no-op mapInPandas across 2x
    # the core count spawns and retains the pool BEFORE the suite
    # clock, so pass-1 measures the probe, not interpreter cold-start.
    # (Documented series break: r15+ pass-1 walls for pandas-UDF probes
    # drop to their warm cost; min-of-2 values are unaffected.)
    try:
        import multiprocessing

        _ncores = multiprocessing.cpu_count()
        spark.range(0, _ncores * 2, 1, _ncores * 2).mapInPandas(
            lambda it: it, "id long"
        ).count()
    except Exception as exc:  # noqa: BLE001 — never fail the suite
        print(f"bench: python-worker warm-up failed: {exc}", file=sys.stderr)
    t_suite = time.time()
    # JVM/codegen warm-up so the alphabetically-first probe doesn't
    # absorb session startup; counted in the suite total, not per-query.
    spark.range(0, 1_000_000).selectExpr("sum(id)").collect()
    # Host-speed calibration anchor: a fixed pure-JVM workload, timed.
    # The sandbox is a Firecracker microVM (no steal-time reporting), so
    # host oversubscription silently inflates wall clocks 1.5-3x between
    # boots; calib_sec lets round-over-round suite comparisons normalize
    # out the host factor (same-host q1 noise measured +-10%, while
    # cross-boot suite walls have differed ~2x at identical code).
    t_cal = time.time()
    spark.range(0, 50_000_000).selectExpr(
        "sum(id * 2654435761 % 1000003)"
    ).collect()
    calib_sec = round(time.time() - t_cal, 3)

    def _evaluate(df) -> None:
        """FULL evaluation to the noop sink (r15.2 series break,
        marked ``"eval": "noop"`` in the JSON line): ``count()`` lets
        Catalyst skip anything cardinality-preserving — a column
        projection at best, an ENTIRE posting pass at worst (x25's
        distinct-key left-join panel measured 0.0 MB shuffle under
        count vs 62 MB real at 10x — distinct-key outer-join
        elimination benched an empty plan). The noop sink consumes
        every column of every row JVM-side, the same work the
        driver's value harness induces, minus the pandas transfer."""
        df.write.format("noop").mode("overwrite").save()

    # memo-hit accounting (VERDICT r17 #2/#7): a probe whose TOP-LEVEL
    # result frame is served verbatim from the cross-probe derived-frame
    # memo (x2i today) reports a cache-hit timing, not a computation —
    # BENCH_DETAIL marks those probes so cross-round adjudication never
    # mistakes a 0.03 s memo read for a real plan win. Identity check
    # against the live memo values; policy note lives in caching.py
    # (final-RESULT memoization is out of bounds, derived relations only).
    from realtime_financial_transactions_data_pipeline_spark import caching as _caching

    def _is_memo_frame(df) -> bool:
        try:
            return any(df is v for v in _caching._MEMO.values())
        except Exception:  # noqa: BLE001 — accounting must never fail bench
            return False

    memo_hit: dict[str, bool] = {}
    shuffle_mb: dict[str, float] = {}
    for name, p in probes.items():
        sh0 = _shuffle_written_bytes(spark)
        t0 = time.time()
        try:
            df = p.fn(spark, sf_dir)
            memo_hit[name] = _is_memo_frame(df)
            _evaluate(df)
            timings[name] = round(time.time() - t0, 3)
        except Exception as exc:  # noqa: BLE001
            print(f"bench: {name} failed: {exc}", file=sys.stderr)
            timings[name] = -1.0
        sh1 = _shuffle_written_bytes(spark)
        # Pass-1 shuffle-write delta (VERDICT r14 stretch #8): a plan
        # regression shows up as a shuffle jump even when wall noise
        # hides it — bench_compare flags >2x growth. -1 = unknown.
        shuffle_mb[name] = (
            round((sh1 - sh0) / 1e6, 3) if sh0 >= 0 and sh1 >= 0 else -1.0
        )
        if name == "t1_t6_streaming_pipeline" and timings[name] > 0:
            # Snapshot the flagship probe's streaming window now — other
            # probes (j3) also call run_pipeline and would overwrite it.
            from realtime_financial_transactions_data_pipeline_spark.streaming import pipeline as _pl

            stream_window_s = _pl.LAST_STREAM_SECONDS
    total = round(time.time() - t_suite, 3)

    # Second pass over the expensive tail only: min-of-2 de-noises the
    # probes big enough to trigger cross-round adjudication, without
    # doubling the suite wall. Runs AFTER pass 1 completes so pass-1
    # wall stays comparable with every prior round's `value`.
    t_rerun = time.time()
    timings2: dict[str, float] = {}
    for name in [n for n, t in timings.items() if t >= _RERUN_THRESHOLD]:
        t0 = time.time()
        try:
            df2 = probes[name].fn(spark, sf_dir)
            memo_hit[name] = memo_hit.get(name, False) or _is_memo_frame(df2)
            _evaluate(df2)
            timings2[name] = round(time.time() - t0, 3)
        except Exception as exc:  # noqa: BLE001
            print(f"bench: {name} rerun failed: {exc}", file=sys.stderr)
            timings2[name] = -1.0
        if name == "t1_t6_streaming_pipeline" and timings2[name] > 0:
            # min-of-2 for the headline stream window too — the same
            # noise doctrine as queries_min: one cold-path sample must
            # not define the round's throughput number.
            from realtime_financial_transactions_data_pipeline_spark.streaming import pipeline as _pl

            if stream_window_s and _pl.LAST_STREAM_SECONDS:
                stream_window_s = min(stream_window_s, _pl.LAST_STREAM_SECONDS)
    rerun_sec = round(time.time() - t_rerun, 3)
    min2 = {
        n: (min(t, timings2[n]) if timings2.get(n, -1.0) > 0 else t)
        for n, t in timings.items()
    }
    # Headline: the full TPC-H 22 as one de-noised number (sum of each
    # q-probe's min-of-2). q1's shapes live under several names; the
    # regex keeps exactly the canonical 22 (q1b..q22, q1sql excluded as
    # a dialect-parity twin, not a distinct shape).
    tpch = {
        n: t for n, t in min2.items()
        if re.match(r"^q(1b|[2-9]|1[0-9]|2[0-2])_", n) and t > 0
    }
    tpch_suite_sec = round(sum(tpch.values()), 3) if len(tpch) >= 22 else None

    # Full per-query timings go to a sidecar file; the stdout line keeps
    # only a headline subset so it stays under the driver's tail capture.
    # Subset runs (explicit probe args, e.g. the contract smoke test)
    # write a .partial file so they never clobber the committed
    # full-suite round record.
    detail_name = "BENCH_DETAIL.partial.json" if only else "BENCH_DETAIL.json"
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               detail_name)
    with open(detail_path, "w") as fh:
        json.dump({"metric": "probe_suite_wall", "value": total,
                   "unit": "sec", "sf": sf, "eval": "noop",
                   "calib_sec": calib_sec,
                   "sched_calib": sched_calib,
                   "rerun_threshold": _RERUN_THRESHOLD,
                   "rerun_sec": rerun_sec,
                   "queries": timings, "queries_rerun": timings2,
                   "queries_min": min2,
                   "queries_shuffle_mb": shuffle_mb,
                   "queries_memo_hit": {n: True for n, h in memo_hit.items() if h},
                   "tpch_suite_sec": tpch_suite_sec}, fh,
                  indent=1, sort_keys=True)

    headline = slowest_probes(min2, memo_hit)
    headline.setdefault(
        "q1_star_revenue_by_nation",
        min2.get("q1_star_revenue_by_nation", -1.0),
    )
    # Compute-bound scaling sentinel (VERDICT r17 #3 / next-round #2):
    # the top-5-slowest headline at sf0.1 is structurally the
    # floor-bound streaming/iterative set whose 8-vs-32-core ratio is
    # ≈1 by construction, which false-positived the driver's
    # "cpus ignored" heuristic in r17. x2ac's 16× portable-PRF scan is
    # pure per-row JVM compute — the one probe family whose timing CAN
    # track core count — so it is always present for the low/high-core
    # comparison. Additions-only: existing keys keep their meaning.
    if "x2ac_minhash_calibration" in min2:  # absent in subset runs
        headline.setdefault(
            "x2ac_minhash_calibration", min2["x2ac_minhash_calibration"]
        )
    out = {
        "metric": "probe_suite_wall",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "eval": "noop",
        # The parallelism the suite ACTUALLY ran with (local[N] ⇒ N):
        # lets the driver's scaling check distinguish "ignored
        # $SPARK_GRAFT_CPUS" from "sampled serial probes".
        "cpus": spark.sparkContext.defaultParallelism,
        "n_queries": len(timings),
        "n_failed": sum(1 for t in timings.values() if t < 0),
        "calib_sec": calib_sec,
        "sched_calib": sched_calib,
        "rerun_sec": rerun_sec,
        "queries": headline,
        "detail": detail_name,
    }
    if tpch_suite_sec is not None:
        out["tpch_suite_sec"] = tpch_suite_sec
    # Streaming throughput vs BASELINE.md's ≤10k msg/s offered producer
    # rate: the flagship probe streams one wire message per customer row
    # through parse→validate→tokenize→dual-sink, so input_rows/wall is
    # end-to-end pipeline throughput (single node, cold start included).
    # The wire-copies factor is recorded alongside the rate so
    # round-over-round throughput comparisons stay apples-to-apples:
    # rounds 1-2 measured at copies=1, round 3+ at copies=4 (amortizes
    # the ~1 s stream-startup cost inside the same measurement window).
    t_stream = timings.get("t1_t6_streaming_pipeline", -1.0)
    if t_stream > 0:
        from realtime_financial_transactions_data_pipeline_spark.streaming.pipeline import WIRE_COPIES

        # The headline stream window gets two extra dedicated samples
        # (~3 s each on a ~265 s suite) on top of the pass-1/pass-2
        # snapshots, min-of-N like queries_min: the window is a ~1 s
        # quantity on a host with ±0.3 s scheduling jitter, and r11/r12
        # both burned adjudication cycles on single-sample readings that
        # standalone re-runs couldn't reproduce.
        from realtime_financial_transactions_data_pipeline_spark.streaming import pipeline as _plx

        for _ in range(2):
            try:
                probes["t1_t6_streaming_pipeline"].fn(spark, sf_dir).count()
                if _plx.LAST_STREAM_SECONDS and stream_window_s:
                    stream_window_s = min(stream_window_s, _plx.LAST_STREAM_SECONDS)
            except Exception as exc:  # noqa: BLE001
                print(f"bench: stream window sample failed: {exc}", file=sys.stderr)

        # Two rates, two explicit keys (round-5 ADVICE: round 5 silently
        # redefined stream_msgs_per_sec from probe-wall to query-window):
        #   stream_msgs_per_sec        — over the PROBE WALL, the
        #     definition rounds 1-4 reported, so round-over-round BENCH
        #     comparisons stay apples-to-apples;
        #   stream_msgs_per_sec_window — over the streaming query's own
        #     window (source read → parse → validate → tokenize → dual
        #     sink), excluding harness bookkeeping (input synthesis,
        #     sink re-reads).
        window = stream_window_s if stream_window_s else t_stream
        n_cust = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
        n_msgs = n_cust * WIRE_COPIES
        out["stream_msgs_per_sec"] = round(n_msgs / t_stream, 1)
        out["stream_msgs_per_sec_window"] = round(n_msgs / window, 1)
        out["stream_wire_copies"] = WIRE_COPIES
        out["stream_window_sec"] = round(window, 3)
        # Window definition v2 since round 12: query start → termination
        # (plan construction excluded). Rounds 1-11 archives used v1
        # (build_pipeline_query included, ~0.2 s wider) — bench_compare
        # warns when mixing definitions across the redefinition.
        out["stream_window_def"] = "v2_start_to_termination"
        out["stream_msgs_per_sec_1x"] = round(n_cust / window, 1)
    line = json.dumps(out)
    assert len(line) < 1024, f"bench stdout line too long: {len(line)}B"
    print(line)


if __name__ == "__main__":
    main()
