"""taxi_stream_ref: the reference job as an open-loop stream.

A generator thread in this process drops one gzipped NYCTaxiRideSource file
of 1,000 rows every second — the reference's configured 1,000 rows/s — for
``--seconds`` seconds.  Each file is staged and then renamed into the
source directory on this schedule, which never waits on the query; how late
each write ran is recorded.  The query is wired like
``pyfads/taxi_job.py``: a text file source with ``maxFilesPerTrigger=1`` ->
``io.parse_taxi_lines`` -> ``taxi_job.with_auto_pid`` -> arrival =
startTime -> ``fads_stream.fads_generalize_stream`` (k=10, buffer 30, TTL
60 s, QIDs rideId/taxiId/endTime, 2 s end-of-input flush) -> parquet sink.

Files must come well inside the 2 s flush timeout: a longer gap between
input batches is taken as the end of input and flushes the FADS buffer
mid-stream.  Each micro-batch costs about 0.75 s even when empty, so at one
1,000-row file a second the stream runs at about its capacity.  One query
serves the whole run: a warm-up phase of two files, then the timed phase,
each ending with the flush.

A row's latency runs from its file's scheduled write to the sink commit of
the micro-batch that wrote it: the mtime of that batch's entry in the
sink's ``_spark_metadata`` log, which also maps rows to batches.  A row not
released by the deadline counts as failed and enters the latency sample
with the deadline as its release time.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time

import numpy as np
from pyspark.sql.streaming import StreamingQueryListener

import gen
from common import Ctx, Result, add_overhead, force_noop, median, pct, start_spark
from tracing import max_stage_id, stage_totals, stream_layers

ROWS_PER_FILE = 1_000
FILE_PERIOD_S = 1.0  # 1,000 rows/s; file i holds event second i
FLUSH_AFTER_MS = 2_000
DEADLINE_S = 60.0  # after the last scheduled write
WARMUP_FILES = 2


def _cfg():
    from pyfads import FADSConfig
    from pyfads.taxi_job import AUTO_PID_COL

    return FADSConfig(k=10, buffer_rows=30, reuse_ms=60_000,
                      qid_cols=("rideId", "taxiId", "endTime"),
                      pid_col=AUTO_PID_COL, arrival_col="arrival_ms")


def _generate(ctx: Ctx, n_files: int) -> "tuple[list, list, str, list]":
    """Rows, gz bytes, fingerprint and seconds per generation; generated
    three times, and the bytes must agree."""
    times, blobs = [], []
    for _ in range(3):
        t = time.perf_counter()
        rows = gen.taxi_rows(ctx.seed, n_files, ROWS_PER_FILE)
        files = gen.taxi_files(rows, n_files)
        times.append(time.perf_counter() - t)
        blobs.append(files)
    if any(b != blobs[0] for b in blobs):
        raise RuntimeError("taxi generator is not deterministic")
    fp = hashlib.sha256(b"".join(blobs[0])).hexdigest()[:16]
    return rows, blobs[0], fp, times


class _Generator(threading.Thread):
    """Open-loop writer: file i becomes visible at ``sched[i]`` (wall clock),
    whatever the query is doing.  Records when each file became visible."""

    def __init__(self, files: "list[bytes]", stage: str, src: str, sched: "list[float]",
                 first: int = 0):
        super().__init__(name="taxi-generator", daemon=True)
        self.files, self.stage, self.src, self.sched = files, stage, src, sched
        self.first = first  # file names keep growing across phases
        self.written: list[float] = []
        self.error: "BaseException | None" = None

    def run(self) -> None:
        try:
            for i, blob in enumerate(self.files):
                delay = self.sched[i] - time.time()
                if delay > 0:
                    time.sleep(delay)
                name = f"nycTaxiRides_{self.first + i:05d}.gz"
                tmp = os.path.join(self.stage, name)
                with open(tmp, "wb") as fh:
                    fh.write(blob)
                os.rename(tmp, os.path.join(self.src, name))
                self.written.append(time.time())
        except BaseException as exc:  # noqa: BLE001 - re-raised by the caller
            self.error = exc


class _SinkLog:
    """Reads the parquet sink's commit log incrementally: which files each
    micro-batch committed, how many rows they hold, and when it committed."""

    def __init__(self, out_dir: str):
        self.meta = os.path.join(out_dir, "_spark_metadata")
        self.batch_files: dict[int, list[str]] = {}
        self.batch_rows: dict[int, int] = {}
        self.batch_time: dict[int, float] = {}
        self.rows = 0
        self._seen_files: set[str] = set()

    def poll(self) -> int:
        import pyarrow.parquet as pq

        if not os.path.isdir(self.meta):
            return self.rows
        ids = []
        for name in os.listdir(self.meta):
            stem = name.split(".")[0]
            if stem.isdigit() and not name.endswith(".tmp") and not name.startswith("."):
                ids.append((int(stem), name))
        for b, name in sorted(ids):
            if b in self.batch_files:
                continue
            path = os.path.join(self.meta, name)
            with open(path) as fh:
                lines = fh.read().splitlines()
            self.batch_time[b] = os.stat(path).st_mtime_ns / 1e9
            new = []
            for ln in lines[1:]:  # first line is the log version
                f = json.loads(ln)["path"]
                f = f[5:] if f.startswith("file:") else f
                if f not in self._seen_files:
                    self._seen_files.add(f)
                    new.append(f)
            self.batch_files[b] = new
            self.batch_rows[b] = sum(pq.read_metadata(p).num_rows for p in new)
            self.rows += self.batch_rows[b]
        return self.rows


def _build_query(spark, src: str, out: str, ckpt: str, cfg):
    from pyspark.sql import functions as F

    from pyfads.fads_stream import fads_generalize_stream
    from pyfads.io import parse_taxi_lines
    from pyfads.taxi_job import with_auto_pid

    raw = spark.readStream.option("maxFilesPerTrigger", 1).text(src)
    enriched = with_auto_pid(parse_taxi_lines(raw)).withColumn(
        "arrival_ms", F.col("startTime"))
    released = fads_generalize_stream(enriched, cfg, flush_after_ms=FLUSH_AFTER_MS)
    return (released.writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt).outputMode("append").start())


class _ProgressLog(StreamingQueryListener):
    """Keeps every progress event (``recentProgress`` keeps the last 100)."""

    def __init__(self):
        self.events: list[dict] = []

    def onQueryStarted(self, event):  # noqa: N802
        pass

    def onQueryProgress(self, event):  # noqa: N802
        self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class _Query:
    """One long-lived query that inputs are fed to in phases.

    Each phase drops its files on its own open-loop schedule and waits until
    every row is released, the end-of-input flush included.  The flush
    removes the group's state, so the next phase starts from a fresh FADS
    state on a query whose JVM code, Python worker and state store are
    already warm."""

    def __init__(self, spark, ctx: Ctx, cfg, tr):
        base = os.path.join(ctx.work, "stream")
        self.stage, self.src, out, ckpt = (
            os.path.join(base, d) for d in ("stage", "in", "out", "ckpt"))
        for d in (self.stage, self.src, out):
            os.makedirs(d)
        with tr.span("spark.build"):
            t = time.perf_counter()
            self.q = _build_query(spark, self.src, out, ckpt, cfg)
            self.build_s = time.perf_counter() - t
        self.sink = _SinkLog(out)
        self.n_files = 0

    def phase(self, tag: str, files: "list[bytes]", offsets: "list[float]", n_rows: int,
              tr) -> dict:
        sink = self.sink
        sink.poll()
        done = set(sink.batch_files)
        t0 = time.time() + 0.5
        sched = [t0 + o for o in offsets]
        g = _Generator(files, self.stage, self.src, sched, first=self.n_files)
        self.n_files += len(files)
        deadline = sched[-1] + DEADLINE_S
        with tr.span(f"spark.stream.{tag}"):  # the benchmark only waits here
            g.start()
            while sink.poll() - sum(sink.batch_rows[b] for b in done) < n_rows \
                    and time.time() < deadline:
                if not self.q.isActive:
                    raise RuntimeError("streaming query died") from self.q.exception()
                time.sleep(0.05)
            g.join()
        # the last batch's progress event follows its sink commit
        t_end = time.time() + 2
        while (self.q.lastProgress or {}).get("batchId", -1) < max(sink.batch_files, default=-1) \
                and time.time() < t_end:
            time.sleep(0.02)
        if g.error is not None:
            raise g.error
        batches = sorted(set(sink.batch_files) - done)
        commit = {b: sink.batch_time[b] for b in batches}
        return {"sched": sched, "deadline": deadline, "written": g.written,
                "commit": commit,
                "files": [p for b in batches for p in sink.batch_files[b]],
                "file_batch": {p: b for b in batches for p in sink.batch_files[b]}}

    def stop(self) -> None:
        # stop between micro-batches when one comes within 2 s: stopping one
        # mid-commit only logs a state-store abort
        deadline = time.time() + 2
        while self.q.isActive and self.q.status.get("isTriggerActive") \
                and time.time() < deadline:
            time.sleep(0.01)
        self.q.stop()


def _lateness_ms(run: dict) -> "list[float]":
    return [(w - s) * 1e3 for w, s in zip(run["written"], run["sched"])]


def _read_output(phase: dict):
    import pandas as pd
    import pyarrow.parquet as pq

    parts = []
    for p in phase["files"]:
        df = pq.read_table(p).to_pandas()
        df["__batch"] = phase["file_batch"][p]
        parts.append(df)
    return pd.concat(parts, ignore_index=True) if parts else None


def _pid(r) -> str:
    """The row key taxi_job.with_auto_pid derives: rideId#START|END."""
    return f"{r[1]}#{'END' if ',END,' in r[5] else 'START'}"


def _e2e(run: dict, out_pdf, pids: "list[str]", file_idx, peak_bytes: int,
         res: "Result | None") -> dict:
    """End-to-end metrics of one stream.  A row not released by the deadline
    counts as failed (when ``res`` is given) and enters the latency sample
    with the deadline as its release time."""
    import pandas as pd

    deadline = run["deadline"]
    released = {}
    if out_pdf is not None:
        released = dict(zip(out_pdf["__pid"], out_pdf["__batch"].map(run["commit"])))
    rel_t = pd.Series(pids).map(released).to_numpy(dtype=np.float64)
    missing = int(np.isnan(rel_t).sum())
    if missing and res is not None:
        res.fail(f"{missing} rows not released within {DEADLINE_S:.0f} s of the last write",
                 missing)
    rel_t = np.where(np.isnan(rel_t), deadline, rel_t)
    lat = rel_t - np.asarray(run["sched"])[np.asarray(file_idx)]
    last_release = float(rel_t.max())
    wall = last_release - run["sched"][0]
    return {
        "rows_per_s": (len(pids) - missing) / wall,
        "wall_s": wall,
        "latency_p50_ms": pct(lat, 50) * 1e3,
        "latency_p99_ms": pct(lat, 99) * 1e3,
        "drain_s": last_release - run["written"][-1],
        "peak_rss_mb": peak_bytes / 2**20,
    }


def _oracle(rows: list, cfg) -> "tuple[list, dict]":
    """pyfads.oracle.fads_oracle over the generated rows in the order the
    stream sees them: file by file, then the (arrival, pid) sort the handler
    applies inside a micro-batch."""
    from pyfads.oracle import fads_oracle

    ordered = sorted(rows, key=lambda r: (r[3], _pid(r)))
    orows = [(_pid(r), (float(r[1]), float(r[2]), float(r[4] * 1000)), r[3] * 1000)
             for r in ordered]
    return orows, fads_oracle(orows, cfg)


def _check(orows: list, want: dict, out_pdf, cfg, res: Result) -> float:
    """Released rows must equal the oracle; returns the mean information loss
    of the oracle's intervals (width over the QID's input range)."""
    n = len(orows)
    res.attempted += n
    keys = [o[0] for o in orows]
    exp_lo = np.array([want[k][0] for k in keys])
    exp_hi = np.array([want[k][1] for k in keys])
    q = np.array([o[1] for o in orows])
    rng = q.max(axis=0) - q.min(axis=0)
    width = np.divide(exp_hi - exp_lo, rng, out=np.zeros_like(exp_lo), where=rng > 0)
    if out_pdf is None:
        return float(width.mean())  # every row is already counted as unreleased
    got = out_pdf.drop_duplicates(cfg.pid_col).set_index(cfg.pid_col)
    if len(got) != len(out_pdf):
        res.fail(f"{len(out_pdf) - len(got)} rows released twice", len(out_pdf) - len(got))
    g = got.reindex(keys)
    g_lo = g[[f"{c}_lo" for c in cfg.qid_cols]].to_numpy()
    g_hi = g[[f"{c}_hi" for c in cfg.qid_cols]].to_numpy()
    arr = np.array([o[2] for o in orows])
    present = g["arrival_ms"].notna().to_numpy()
    bad = present & ~((g_lo == exp_lo).all(axis=1) & (g_hi == exp_hi).all(axis=1)
                      & (g["arrival_ms"].to_numpy() == arr))
    if bad.any():
        res.fail(f"{int(bad.sum())} released rows differ from fads_oracle", int(bad.sum()))
    return float(width.mean())


class _FakeState:
    """GroupState stand-in for driving the stream handler in-process."""

    def __init__(self):
        self.exists = False
        self.hasTimedOut = False
        self.get = None

    def update(self, v):
        self.get, self.exists = v, True

    def remove(self):
        self.get, self.exists = None, False

    def setTimeoutDuration(self, ms):
        pass


def _replays(ctx: Ctx, spark, files: "list[bytes]", cfg, tr, m: dict) -> None:
    """The Python engine layers run inside Spark workers; time them by
    replaying the same per-file micro-batches through the public functions."""
    from pyspark.sql import functions as F

    from pyfads.fads_core import FADSState
    from pyfads.fads_stream import decode_state, encode_state, make_stream_handler
    from pyfads.io import parse_taxi_lines
    from pyfads.taxi_job import with_auto_pid

    src_dir = os.path.join(ctx.work, "replay")
    os.makedirs(src_dir)
    for i, blob in enumerate(files):
        with open(os.path.join(src_dir, f"nycTaxiRides_{i:05d}.gz"), "wb") as fh:
            fh.write(blob)
    with tr.span("io.parse_taxi_lines"):
        t = time.perf_counter()
        force_noop(parse_taxi_lines(spark.read.text(src_dir)))
        m["io.parse_taxi_lines_s"] = time.perf_counter() - t
    pdf = (with_auto_pid(parse_taxi_lines(spark.read.text(src_dir)))
           .withColumn("arrival_ms", F.col("startTime")).toPandas())
    chunks = [c for _a, c in pdf.groupby("arrival_ms", sort=True)]
    cols = list(pdf.columns)

    st = FADSState(cfg)
    proc_s, live = 0.0, 0
    for c in chunks:
        c = c.sort_values([cfg.arrival_col, cfg.pid_col], kind="mergesort")
        with tr.span("fads_core.process"):
            t = time.perf_counter()
            st.process(c[cfg.pid_col].to_numpy(),
                       c[list(cfg.qid_cols)].to_numpy(dtype=np.float64),
                       c[cfg.arrival_col].to_numpy(dtype=np.int64))
            proc_s += time.perf_counter() - t
        live = max(live, len(st.clusters))
    with tr.span("fads_core.flush"):
        t = time.perf_counter()
        st.flush()
        m["fads_core.flush_s"] = time.perf_counter() - t
    m["fads_core.process_s"] = proc_s
    m["fads_core.live_clusters_max"] = live

    handler = make_stream_handler(cfg, cols, FLUSH_AFTER_MS)
    state = _FakeState()
    h_s = dec_s = enc_s = 0.0
    blob_max = 0
    for c in chunks:
        with tr.span("fads_stream.handler"):
            t = time.perf_counter()
            for _ in handler((1,), iter([c]), state):
                pass
            h_s += time.perf_counter() - t
        blob = state.get[0]
        blob_max = max(blob_max, len(blob))
        with tr.span("fads_stream.decode_state"):
            t = time.perf_counter()
            fads, pending = decode_state(blob, cfg)
            dec_s += time.perf_counter() - t
        with tr.span("fads_stream.encode_state"):
            t = time.perf_counter()
            encode_state(fads, pending)
            enc_s += time.perf_counter() - t
    state.hasTimedOut = True
    with tr.span("fads_stream.handler"):
        t = time.perf_counter()
        for _ in handler((1,), iter([]), state):
            pass
        h_s += time.perf_counter() - t
    m.update({"fads_stream.handler_s": h_s, "fads_stream.decode_state_s": dec_s,
              "fads_stream.encode_state_s": enc_s,
              "fads_stream.state_blob_bytes_max": blob_max})


def run(ctx: Ctx, workload: str) -> Result:
    res = Result()
    n_files = max(1, int(round(ctx.seconds / FILE_PERIOD_S)))
    n_rows = n_files * ROWS_PER_FILE
    cfg = _cfg()
    rows, files, fp, gen_s = _generate(ctx, n_files)
    offsets = [i * FILE_PERIOD_S for i in range(n_files)]
    pids = [_pid(r) for r in rows]
    file_idx = [r[0] for r in rows]
    warm = gen.taxi_files(gen.taxi_rows(ctx.seed, WARMUP_FILES, ROWS_PER_FILE, stream=5),
                          WARMUP_FILES)
    spark = start_spark(ctx)
    off = ctx.tracer(False)
    query = _Query(spark, ctx, cfg, off)
    try:
        query.phase("warmup", warm, [0.5 * i for i in range(WARMUP_FILES)],
                    WARMUP_FILES * ROWS_PER_FILE, off)
        setup_s = time.perf_counter() - ctx.t_start - sum(gen_s) + median(gen_s)
        ctx.rss.take_peak()
        timed = query.phase("timed", files, offsets, n_rows, off)
        outs = [_read_output(timed)]
        e2e = _e2e(timed, outs[0], pids, file_idx, ctx.rss.take_peak(), res)
        res.summary.update(input_fingerprint=fp, rows=n_rows, files=n_files,
                           rows_per_file=ROWS_PER_FILE,
                           generate_s_median=round(median(gen_s), 4),
                           generator_late_ms_max=round(max(_lateness_ms(timed)), 3),
                           latency_samples=n_rows)
        if ctx.trace:
            m = res.metrics
            tr = res.tracer = ctx.tracer(True)
            listener = _ProgressLog()
            first = max_stage_id(spark)
            spark.streams.addListener(listener)
            try:
                traced = query.phase("traced", files, offsets, n_rows, tr)
                # listener events arrive after the query's own progress
                t_end = time.time() + 5
                while max((p["batchId"] for p in listener.events), default=-1) \
                        < max(traced["commit"]) and time.time() < t_end:
                    time.sleep(0.05)
            finally:
                spark.streams.removeListener(listener)
            outs.append(_read_output(traced))
            add_overhead(m, e2e, _e2e(traced, outs[1], pids, file_idx,
                                      ctx.rss.take_peak(), res))
            for k, v in stage_totals(spark, first).items():
                m[f"spark.{k}"] = v
            prog = [p for p in listener.events if p["batchId"] >= min(traced["commit"])]
            for p in prog:
                p["ts"] = _epoch(p["timestamp"])
            sl = stream_layers(prog, traced["written"])
            for k, v in sl.items():
                m[f"spark.stream.{k}"] = v
            m["spark.build_s"] = query.build_s
            m["spark.plan_s"] = sum(p["durationMs"].get("queryPlanning", 0) for p in prog) / 1e3
            m["spark.exec_s"] = e2e["wall_s"] + m["bench.overhead.wall_s"]
            m["bench.generator_late_ms_max"] = max(_lateness_ms(traced))
            _replays(ctx, spark, files, cfg, tr, m)
            res.summary["rows_per_batch_p50"] = sl["rows_per_batch"]
            res.summary["live_clusters_max"] = m["fads_core.live_clusters_max"]
        else:
            res.metrics.update(e2e, setup_s=setup_s)
    finally:
        query.stop()
    # correctness gate, outside every timed region
    orows, want = _oracle(rows, cfg)
    for out in outs:
        res.summary["info_loss_mean"] = round(_check(orows, want, out, cfg, res), 6)
    spark.stop()
    return res
