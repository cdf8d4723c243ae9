"""corpus_dedup: the training-data half on a seeded corpus.

A pass runs five registered entries — minhash_recall, dedup_containment,
dedup_semantic_docs, ann_ivf_topk and corpus_curation — each built by its
``queries()`` function and collected to the driver with ``toPandas()``.  One
untimed pass warms the JIT and the Python workers; passes then repeat for
``--seconds`` (at least one).  A query's latency is its build plus its
collect; a pass's wall time is the sum over the five.

The gate compares the last pass's outputs with each entry's ``oracle_sql()``
DuckDB twin under ``scripts/check_queries.py``'s compare rule, with
``SPARK_GRAFT_ORACLE_SF_DIR`` pointing at the generated corpus.
"""

from __future__ import annotations

import importlib.util
import os
import time

import gen
from common import Ctx, Result, add_overhead, force_noop, median, pct, start_spark
from metrics import CORPUS_ENTRIES
from tracing import max_stage_id, stage_totals

N_DOCS = 400
N_VECS = 800
MIN_PASSES = 1


def _generate(ctx: Ctx) -> "tuple[str, str, int, list]":
    """Generate three times (byte-identical); returns (dir, fingerprint,
    planted near-duplicates, seconds per generation)."""
    times, fps, dirs = [], [], []
    for i in range(3):
        t = time.perf_counter()
        d, planted = gen.write_corpus(ctx.seed, N_DOCS, N_VECS, os.path.join(ctx.work, f"gen{i}"))
        fps.append(gen.fingerprint([os.path.join(d, f) for f in
                                    ("documents.parquet", "embeddings.parquet")]))
        times.append(time.perf_counter() - t)
        dirs.append(d)
    if len(set(fps)) != 1:
        raise RuntimeError(f"corpus generator is not deterministic: {fps}")
    return dirs[0], fps[0], planted, times


def _pass(spark, sf_dir: str, tr, plan: bool = False) -> dict:
    """One pass over the entries: name -> (build_s, plan_s, exec_s, pdf)."""
    from pyfads.queries import QUERIES

    out = {}
    for layer, name in CORPUS_ENTRIES:
        with tr.span(f"{layer}.{name}"):
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            t1 = time.perf_counter()
            if plan:
                # toPandas reuses this Dataset's executed plan
                with tr.span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            with tr.span("spark.exec"):
                pdf = df.toPandas()
            t3 = time.perf_counter()
        out[name] = (t1 - t0, t2 - t1, t3 - t2, pdf)
    return out


def _passes(spark, sf_dir: str, tr, seconds: float, plan: bool = False) -> list:
    out = []
    t_end = time.perf_counter() + seconds
    while len(out) < MIN_PASSES or time.perf_counter() < t_end:
        with tr.span("bench.pass"):
            out.append(_pass(spark, sf_dir, tr, plan))
    return out


def _e2e(passes: list, peak_bytes: int) -> dict:
    walls = [sum(b + p + e for b, p, e, _ in ps.values()) for ps in passes]
    lat = [b + p + e for ps in passes for b, p, e, _ in ps.values()]
    return {
        "rows_per_s": median([(N_DOCS + N_VECS) / w for w in walls]),
        "wall_s": median(walls),
        "latency_p50_ms": pct(lat, 50) * 1e3,
        "latency_p99_ms": pct(lat, 99) * 1e3,
        # all input is present when a pass starts; the last result lands at
        # its end
        "drain_s": median(walls),
        "peak_rss_mb": peak_bytes / 2**20,
    }


def _check(root: str, sf_dir: str, last: dict, res: Result) -> None:
    import duckdb

    from pyfads.queries import ORACLES

    spec = importlib.util.spec_from_file_location(
        "check_queries", os.path.join(root, "scripts", "check_queries.py"))
    cq = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cq)
    con = duckdb.connect()
    try:
        for t in ("documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for _layer, name in CORPUS_ENTRIES:
            res.attempted += 1
            sql = ORACLES[name]
            sql = sql() if callable(sql) else sql
            problems = cq.compare(name, last[name][3].copy(), con.sql(sql).df())
            if problems:
                res.fail(f"{name}: " + "; ".join(problems))
    finally:
        con.close()


def run(ctx: Ctx, workload: str) -> Result:
    from pyfads.io import read_table

    res = Result()
    sf_dir, fp, planted, gen_s = _generate(ctx)
    # data-dependent oracles (golden codebooks, doc embeddings) read this
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir
    spark = start_spark(ctx)
    off = ctx.tracer(False)
    _pass(spark, sf_dir, off)
    setup_s = time.perf_counter() - ctx.t_start - sum(gen_s) + median(gen_s)
    ctx.rss.take_peak()
    passes = _passes(spark, sf_dir, off, ctx.seconds)
    e2e = _e2e(passes, ctx.rss.take_peak())
    last = passes[-1]
    res.attempted += sum(len(p) for p in passes)
    res.summary.update(input_fingerprint=fp, documents=N_DOCS, embeddings=N_VECS,
                       near_dup_share=round(planted / N_DOCS, 4),
                       generate_s_median=round(median(gen_s), 4),
                       pass_walls_s=[round(sum(sum(e[:3]) for e in ps.values()), 4)
                                     for ps in passes],
                       latency_samples=sum(len(p) for p in passes))
    if ctx.trace:
        m = res.metrics
        tr = res.tracer = ctx.tracer(True)
        first = max_stage_id(spark)
        tpasses = _passes(spark, sf_dir, tr, ctx.seconds, plan=True)
        add_overhead(m, e2e, _e2e(tpasses, ctx.rss.take_peak()))
        for k, v in stage_totals(spark, first, len(tpasses)).items():
            m[f"spark.{k}"] = v
        for i, key in enumerate(("build_s", "plan_s", "exec_s")):
            m[f"spark.{key}"] = median([sum(e[i] for e in ps.values()) for ps in tpasses])
        for layer, name in CORPUS_ENTRIES:
            m[f"{layer}.{name}.build_s"] = median([ps[name][0] for ps in tpasses])
            m[f"{layer}.{name}.exec_s"] = median([ps[name][1] + ps[name][2] for ps in tpasses])
        rec = tpasses[-1]["minhash_recall"][3].iloc[0]
        m["dedup.lsh_recall_bp"] = float(rec["recall_bp"])
        m["dedup.lsh_precision_bp"] = (10_000.0 * rec["n_hit"] / rec["n_lsh"]
                                       if rec["n_lsh"] else 10_000.0)
        with tr.span("io.read_table"):
            t = time.perf_counter()
            for table in ("documents", "embeddings"):
                force_noop(read_table(spark, sf_dir, table))
            m["io.read_table_s"] = time.perf_counter() - t
        last = tpasses[-1]
    else:
        res.metrics.update(e2e, setup_s=setup_s)
    _check(ctx.root, sf_dir, last, res)
    spark.stop()
    return res
