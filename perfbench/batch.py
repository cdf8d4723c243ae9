"""fads_batch: the flagship batch job on a seeded sf0.1-shaped events table.

events.parquet -> io.events_with_arrival -> fads_batch.fads_generalize
(k=10, buffer 30, TTL 60 s) -> noop sink, repeated for ``--seconds`` after
six warm-up jobs.  Every row is released when its job ends, so here a row's
latency, the job's drain and the job's wall time are one number per job.
"""

from __future__ import annotations

import os
import time

import numpy as np

import gen
from common import Ctx, Result, add_overhead, force_noop, median, pct, start_spark
from tracing import max_stage_id, stage_totals

N_EVENTS = 100_000
# process-tree CPU time per job falls by about half over the first six jobs
# while the JVM's JIT compiles; time only jobs after that
WARMUP_JOBS = 6
MIN_JOBS = 3


def _cfg():
    from pyfads import FADSConfig

    return FADSConfig(k=10, buffer_rows=30, reuse_ms=60_000,
                      qid_cols=("user_id", "value", "ts_millis"),
                      pid_col="event_id", arrival_col="arrival_ms")


def _generate(ctx: Ctx) -> "tuple[str, str, list]":
    """Generate three times; the copies must be byte-identical.  Returns
    (dir, fingerprint, seconds per generation)."""
    times, fps, dirs = [], [], []
    for i in range(3):
        t = time.perf_counter()
        d = os.path.join(ctx.work, f"gen{i}", f"events_s{ctx.seed}_n{N_EVENTS}")
        fps.append(gen.fingerprint([gen.write_events(ctx.seed, N_EVENTS, d)]))
        times.append(time.perf_counter() - t)
        dirs.append(d)
    if len(set(fps)) != 1:
        raise RuntimeError(f"events generator is not deterministic: {fps}")
    return dirs[0], fps[0], times


def _jobs(spark, ev_dir: str, cfg, tr, seconds: float, min_jobs: int,
          plan: bool = False) -> list:
    """Run the job at least ``min_jobs`` times and until ``seconds`` have
    passed.  Returns (build_s, plan_s, exec_s) per job; ``plan`` times
    Catalyst planning on its own before the write (which plans again)."""
    from pyfads import fads_generalize
    from pyfads.io import events_with_arrival

    out = []
    t_end = time.perf_counter() + seconds
    while len(out) < min_jobs or time.perf_counter() < t_end:
        with tr.span("bench.job"):
            t0 = time.perf_counter()
            with tr.span("io.events_with_arrival"):
                src = events_with_arrival(spark, ev_dir)
            with tr.span("fads_batch.fads_generalize"):
                df = fads_generalize(src, cfg)
            t1 = time.perf_counter()
            if plan:
                with tr.span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            with tr.span("spark.exec"):
                force_noop(df)
            t3 = time.perf_counter()
        out.append((t1 - t0, t2 - t1, t3 - t2))
    return out


def _e2e(jobs: list, peak_bytes: int) -> dict:
    walls = [sum(j) for j in jobs]
    return {
        "rows_per_s": median([N_EVENTS / w for w in walls]),
        "wall_s": median(walls),
        "latency_p50_ms": pct(walls, 50) * 1e3,
        "latency_p99_ms": pct(walls, 99) * 1e3,
        "drain_s": median(walls),
        "peak_rss_mb": peak_bytes / 2**20,
    }


def _check(arrays: dict, out_pdf, cfg, res: Result) -> float:
    """Compare released rows with pyfads.oracle.fads_oracle.  Returns the
    mean information loss of the oracle's intervals (each QID's width over
    its range in the whole input, averaged over QIDs and rows)."""
    from pyfads.oracle import fads_oracle

    ids = arrays["event_id"]
    ms = arrays["ts_us"] // 1000
    qid = np.stack([arrays["user_id"].astype(np.float64), arrays["value"],
                    ms.astype(np.float64)], axis=1)
    want = fads_oracle(
        [(int(e), tuple(q), int(t)) for e, q, t in zip(ids, qid.tolist(), ms)], cfg)
    n = len(ids)
    res.attempted += n
    exp_lo = np.array([want[int(e)][0] for e in ids])
    exp_hi = np.array([want[int(e)][1] for e in ids])
    got = out_pdf.drop_duplicates("event_id").set_index("event_id").reindex(ids)
    if len(out_pdf) != n:
        res.fail(f"fads_batch released {len(out_pdf)} rows for {n} inputs",
                 abs(len(out_pdf) - n))
    g_lo = got[[f"{q}_lo" for q in cfg.qid_cols]].to_numpy()
    g_hi = got[[f"{q}_hi" for q in cfg.qid_cols]].to_numpy()
    bad = ~((g_lo == exp_lo).all(axis=1) & (g_hi == exp_hi).all(axis=1)
            & (got["arrival_ms"].to_numpy() == ms))
    if bad.any():
        res.fail(f"fads_batch: {int(bad.sum())} rows differ from fads_oracle", int(bad.sum()))
    rng = qid.max(axis=0) - qid.min(axis=0)
    width = np.divide(exp_hi - exp_lo, rng, out=np.zeros_like(exp_lo), where=rng > 0)
    return float(width.mean())


def _layers(ctx: Ctx, spark, ev_dir: str, cfg, untraced: dict, res: Result):
    """The traced run: the same jobs with spans and planning split out, the
    status store's stage totals, in-process replays, and the local[1]
    baseline.  Returns the (restarted) session."""
    from pyfads.fads_batch import run_fads_pandas
    from pyfads.io import events_with_arrival

    m = res.metrics
    tr = res.tracer = ctx.tracer(True)
    first = max_stage_id(spark)
    ctx.rss.take_peak()
    jobs = _jobs(spark, ev_dir, cfg, tr, ctx.seconds, MIN_JOBS, plan=True)
    add_overhead(m, untraced, _e2e(jobs, ctx.rss.take_peak()))
    for k, v in stage_totals(spark, first, len(jobs)).items():
        m[f"spark.{k}"] = v
    m["spark.build_s"] = median([j[0] for j in jobs])
    m["spark.plan_s"] = median([j[1] for j in jobs])
    m["spark.exec_s"] = median([j[2] for j in jobs])

    with tr.span("io.events_with_arrival.forced"):
        t = time.perf_counter()
        force_noop(events_with_arrival(spark, ev_dir))
        m["io.events_with_arrival_s"] = time.perf_counter() - t
    pdf = events_with_arrival(spark, ev_dir).toPandas()
    with tr.span("fads_batch.run_fads_pandas"):
        t = time.perf_counter()
        run_fads_pandas(pdf, cfg)
        m["fads_batch.run_fads_pandas_s"] = time.perf_counter() - t
    m["fads_batch.rows"] = N_EVENTS

    spark.stop()
    spark = start_spark(ctx, cores=1, app="perfbench-local1")
    with tr.span("spark.local1"):
        one = _jobs(spark, ev_dir, cfg, ctx.tracer(False), 0.0, 3)
    m["fads_batch.local1_rows_per_s"] = median([N_EVENTS / sum(j) for j in one[1:]])
    return spark


def run(ctx: Ctx, workload: str) -> Result:
    from pyfads import fads_generalize
    from pyfads.io import events_with_arrival

    res = Result()
    cfg = _cfg()
    ev_dir, fp, gen_s = _generate(ctx)
    spark = start_spark(ctx)
    _jobs(spark, ev_dir, cfg, ctx.tracer(False), 0.0, WARMUP_JOBS)
    setup_s = time.perf_counter() - ctx.t_start - sum(gen_s) + median(gen_s)
    ctx.rss.take_peak()
    jobs = _jobs(spark, ev_dir, cfg, ctx.tracer(False), ctx.seconds, MIN_JOBS)
    e2e = _e2e(jobs, ctx.rss.take_peak())
    res.summary.update(input_fingerprint=fp, rows=N_EVENTS,
                       generate_s_median=round(median(gen_s), 4),
                       job_walls_s=[round(sum(j), 4) for j in jobs])
    if ctx.trace:
        spark = _layers(ctx, spark, ev_dir, cfg, e2e, res)
    else:
        res.metrics.update(e2e, setup_s=setup_s)

    # correctness gate, outside every timed region
    out = fads_generalize(events_with_arrival(spark, ev_dir), cfg).toPandas()
    res.summary["info_loss_mean"] = round(_check(gen.events_arrays(ctx.seed, N_EVENTS),
                                                 out, cfg, res), 6)
    spark.stop()
    return res
