"""pyfads benchmark: one seeded workload per command.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root.  Workloads (see METRICS.md for why each
exists and which layer metric should move which end-to-end metric):

- ``fads_batch``        events -> io.events_with_arrival -> fads_generalize
                        (k=10, buffer 30, TTL 60 s) -> noop sink, repeated.
- ``taxi_stream_ref``   open loop, 1,000 rows/s as a 1,000-row gz file every
                        second, parse_taxi_lines -> fads_generalize_stream ->
                        parquet sink.
- ``corpus_dedup``      minhash_recall, dedup_containment,
                        dedup_semantic_docs, ann_ivf_topk, corpus_curation
                        over a seeded corpus, repeated.

Inputs are generated from ``--seed`` inside the run's scratch directory
(``.bench_work/`` under the current directory, removed at exit).  Outputs
are checked against ``pyfads.oracle.fads_oracle`` or the registered DuckDB
twins outside the timed region.  The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.  The
lines before it are a readable summary.  The exit code is 0 only when every
output was correct.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

import metrics as M  # noqa: E402

# Spark runs on local[CORES]: the generator, the driver and the Python
# workers share the machine, and two task slots keep run-to-run spread low
CORES = 2


def _final_metrics(spec: dict, workload: str, res, trace: bool) -> dict:
    if not trace:
        return {m["name"]: {"value": float(res.metrics[m["name"]]), "unit": m["unit"]}
                for m in spec["end_to_end"]}
    out = {}
    for m in spec["per_layer"]:
        name = m["name"]
        # KeyError here = a layer the workload crosses went unmeasured
        value = res.metrics[name] if M.measured_by(workload, name) else 0
        out[name] = {"value": float(value), "unit": m["unit"]}
    return out


def _dump_spans(root: str, args, res) -> str:
    """Write the traced run's spans (JSON lines), record each layer's self
    time as ``<layer>.self_s`` and print it as a table; returns the spans
    file, relative to the checkout."""
    rel = os.path.join(".bench_spans", f"{args.workload}-s{args.seed}.jsonl")
    os.makedirs(os.path.join(root, ".bench_spans"), exist_ok=True)
    res.tracer.dump(os.path.join(root, rel))
    selfs = res.tracer.self_times()
    for layer in M.SELF_LAYERS:
        res.metrics[f"{layer}.self_s"] = selfs.get(layer, 0.0)
    print(f"# self time by layer ({args.workload}):")
    for layer, v in sorted(selfs.items(), key=lambda kv: -kv[1]):
        print(f"#   {layer:<12} {v:10.4f} s")
    return rel


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="pyfads seeded benchmark")
    ap.add_argument("--workload", required=True, choices=M.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # on SIGTERM still run the clean-up below: stop the JVM, remove scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pyfads", "__init__.py")):
        print("perfbench: run from the repository root (pyfads/ not found here)",
              file=sys.stderr)
        return 2
    # the metric catalogue: names, units and direction of every metric
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    work = os.path.join(root, ".bench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the JVM, its Python workers and every tempfile stay inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM (the spark-submit launcher too): no hsperfdata file in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, root)

    from common import Ctx, stop_jvm
    from tracing import RssSampler

    ctx = Ctx(root=root, work=work, seed=args.seed, seconds=args.seconds,
              trace=bool(args.trace), t_start=T_START,
              rss=RssSampler().start(), cores=min(CORES, os.cpu_count() or 1))
    try:
        if args.workload == "fads_batch":
            import batch as wl
        elif args.workload == "corpus_dedup":
            import corpus as wl
        else:
            import stream as wl
        res = wl.run(ctx, args.workload)
    finally:
        ctx.rss.stop()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(root, ".bench_work"))
        except OSError:
            pass

    if res.tracer is not None:
        res.summary["spans_file"] = _dump_spans(root, args, res)
    res.summary["failed_share"] = res.failed / max(1, res.attempted)
    final = _final_metrics(spec, args.workload, res, ctx.trace)
    print(f"# workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace}")
    for k, v in res.summary.items():
        print(f"# {k}: {v}")
    for name, m in final.items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}")
    for name, unit in M.UNBOUNDED if not ctx.trace else ():
        print(f"# {name} = {res.metrics[name]:.6g} {unit} (not bounded)")
    for note in res.notes:
        print(f"# FAIL {note}")
    result = {
        "correct": bool(res.correct),
        "attempted": int(max(1, res.attempted)),
        "failed": int(res.failed),
        "metrics": final,
    }
    print(json.dumps(result))
    return 0 if res.correct else 1


if __name__ == "__main__":
    sys.exit(main())
