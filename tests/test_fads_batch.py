"""Golden-oracle + property tests for batch FADS (SURVEY.md §5 items 2/4)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pyfads import FADSConfig, fads_generalize, fads_generalize_partitioned
from pyfads.fads_batch import run_fads_pandas
from pyfads.oracle import fads_oracle

from tests.conftest import SF_DIR

CFG = FADSConfig(
    k=10,
    buffer_rows=30,
    reuse_ms=60_000,
    qid_cols=("user_id", "value", "ts_millis"),
    pid_col="event_id",
    arrival_col="arrival_ms",
)


def _events_df(spark):
    from pyfads.io import events_with_arrival
    return events_with_arrival(spark, SF_DIR)


def _events_pdf(spark, n=None):
    pdf = _events_df(spark).toPandas().sort_values(["arrival_ms", "event_id"]).reset_index(drop=True)
    return pdf if n is None else pdf.head(n)


def _oracle_result(pdf, cfg):
    rows = [
        (i, tuple(pdf.loc[i, c] for c in cfg.qid_cols), int(pdf.loc[i, cfg.arrival_col]))
        for i in range(len(pdf))
    ]
    return fads_oracle(rows, cfg)


def test_core_matches_oracle_events(spark):
    """Independent implementations (numpy core vs pure-Python oracle) agree
    row-for-row on real sf0.001 events."""
    pdf = _events_pdf(spark)
    got = run_fads_pandas(pdf, CFG)
    expected = _oracle_result(pdf, CFG)
    assert len(got) == len(pdf) == len(expected)
    got = got.set_index("event_id")
    key = {int(pdf.loc[i, "event_id"]): i for i in range(len(pdf))}
    for eid, row in got.iterrows():
        lo, hi = expected[key[int(eid)]]
        for j, q in enumerate(CFG.qid_cols):
            assert row[f"{q}_lo"] == pytest.approx(lo[j])
            assert row[f"{q}_hi"] == pytest.approx(hi[j])


def test_core_matches_oracle_random_configs(spark):
    """Sweep k/buffer/TTL on random data — both implementations agree."""
    rng = np.random.default_rng(7)
    n = 400
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n),
            "user_id": rng.integers(0, 50, n).astype(float),
            "value": rng.normal(100, 20, n).round(2),
            "ts_millis": np.sort(rng.integers(0, 1_000_000, n)).astype(float),
            "event_type": ["x"] * n,
        }
    )
    pdf["arrival_ms"] = pdf["ts_millis"].astype(np.int64)
    for k, b, ttl in [(3, 5, 10**9), (5, 12, 50_000), (10, 30, 0), (4, 4, 100_000)]:
        cfg = FADSConfig(k=k, buffer_rows=b, reuse_ms=ttl,
                         qid_cols=("user_id", "value", "ts_millis"),
                         pid_col="event_id", arrival_col="arrival_ms")
        got = run_fads_pandas(pdf, cfg).set_index("event_id")
        expected = _oracle_result(pdf, cfg)
        assert len(got) == n
        for i, (lo, hi) in expected.items():
            eid = int(pdf.loc[i, "event_id"])
            for j, q in enumerate(cfg.qid_cols):
                assert got.loc[eid, f"{q}_lo"] == pytest.approx(lo[j])
                assert got.loc[eid, f"{q}_hi"] == pytest.approx(hi[j])


def test_properties(spark):
    """k-anonymity invariants: |out|==|in|, interval contains value OR is a
    reused/suppress interval, lo<=hi always, infoLoss-style sanity."""
    pdf = _events_pdf(spark)
    out = run_fads_pandas(pdf, CFG)
    assert len(out) == len(pdf)
    # every released interval is well-formed
    for q in CFG.qid_cols:
        assert (out[f"{q}_lo"] <= out[f"{q}_hi"]).all()
    # suppressed/generalized intervals lie within global bounds
    for q in CFG.qid_cols:
        gmin, gmax = pdf[q].min(), pdf[q].max()
        assert (out[f"{q}_lo"] >= gmin - 1e-9).all()
        assert (out[f"{q}_hi"] <= gmax + 1e-9).all()
    # output ids are a permutation of input ids
    assert sorted(out["event_id"]) == sorted(pdf["event_id"])


def test_spark_parity_mode_matches_local(spark):
    """groupBy(lit(1)).applyInPandas == direct pandas run."""
    df = _events_df(spark)
    got = fads_generalize(df, CFG).toPandas().sort_values("event_id").reset_index(drop=True)
    local = run_fads_pandas(df.toPandas(), CFG).sort_values("event_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, local, check_like=True)


def test_partitioned_mode(spark):
    """Scale-out mode: per-group FADS; invariants hold within each group."""
    df = _events_df(spark)
    cfg = FADSConfig(k=5, buffer_rows=15, reuse_ms=60_000,
                     qid_cols=("user_id", "value", "ts_millis"),
                     pid_col="event_id", arrival_col="arrival_ms")
    out = fads_generalize_partitioned(df, cfg, "event_type")
    out_pdf = out.toPandas()
    assert len(out_pdf) == df.count()
    # per-group row preservation + equality with a local per-group run
    in_pdf = df.toPandas()
    for et, g in in_pdf.groupby("event_type"):
        local = run_fads_pandas(g.reset_index(drop=True), cfg)
        got_g = out_pdf[out_pdf.event_type == et].sort_values("event_id").reset_index(drop=True)
        local = local.sort_values("event_id").reset_index(drop=True)
        pd.testing.assert_frame_equal(got_g, local, check_like=True)


def test_config_validation():
    with pytest.raises(ValueError):
        FADSConfig(k=1)
    with pytest.raises(ValueError):
        FADSConfig(reuse_ms=-1)
    with pytest.raises(ValueError):
        FADSConfig(qid_cols=("a", "a"))
    with pytest.raises(ValueError):
        FADSConfig(qid_cols=("ts_millis", "value"), arrival_col="ts_millis")
    # pid-as-QID is VALID — the reference's own job keys on {0,1,5} with
    # pidKey=0 (TransactionGeneralizationJob.java:66-72); exercised
    # end-to-end in test_fads_stream.py::test_end_to_end_taxi_job_gz_to_parquet
    FADSConfig(qid_cols=("event_id", "value"), pid_col="event_id")


# -- distinct_pids option (reference Generalizer.java:205-216, intended) ----


def test_distinct_pids_noop_when_pids_unique(spark):
    """With globally unique PIDs, greedy unique-PID selection degenerates to
    plain top-(k-1): both modes must produce identical output."""
    pdf = _events_pdf(spark)
    base = run_fads_pandas(pdf, CFG)
    strict = run_fads_pandas(
        pdf, FADSConfig(**{**CFG.__dict__, "distinct_pids": True})
    )
    pd.testing.assert_frame_equal(
        base.sort_values("event_id").reset_index(drop=True),
        strict.sort_values("event_id").reset_index(drop=True),
        check_like=True,
    )


def _dup_pid_pdf(seed=11, n=300, n_pids=20):
    """Data where PIDs repeat heavily, so the uniqueness filter bites."""
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame(
        {
            "row_uid": np.arange(n),
            "person": rng.integers(0, n_pids, n),
            "user_id": rng.integers(0, 50, n).astype(float),
            "value": rng.normal(100, 20, n).round(2),
            "ts_millis": np.sort(rng.integers(0, 1_000_000, n)).astype(float),
        }
    )
    pdf["arrival_ms"] = pdf["ts_millis"].astype(np.int64)
    return pdf


def test_distinct_pids_core_matches_oracle():
    """Dual-implementation agreement on duplicate-PID data, both modes."""
    pdf = _dup_pid_pdf()
    for strict in (False, True):
        cfg = FADSConfig(
            k=5, buffer_rows=12, reuse_ms=100_000,
            qid_cols=("user_id", "value", "ts_millis"),
            pid_col="person", arrival_col="arrival_ms",
            distinct_pids=strict,
        )
        # pid_col is non-unique: sort exactly like run_fads_pandas does and
        # feed the oracle positional ids + pid values
        s = pdf.sort_values(["arrival_ms", "person"], kind="mergesort").reset_index(drop=True)
        rows = [
            (i, tuple(s.loc[i, c] for c in cfg.qid_cols), int(s.loc[i, "arrival_ms"]),
             int(s.loc[i, "person"]))
            for i in range(len(s))
        ]
        expected = fads_oracle(rows, cfg)
        got = run_fads_pandas(pdf, cfg)
        assert len(got) == len(pdf)
        got = got.set_index("row_uid")
        for i, (lo, hi) in expected.items():
            uid = int(s.loc[i, "row_uid"])
            for j, q in enumerate(cfg.qid_cols):
                assert got.loc[uid, f"{q}_lo"] == pytest.approx(lo[j])
                assert got.loc[uid, f"{q}_hi"] == pytest.approx(hi[j])


def test_distinct_pids_forces_fallback():
    """All rows share one PID: no k-1 unique-PID neighbour set ever exists,
    so every overflow release must suppress (no cluster is ever cached) —
    intervals equal the running global-bounds snapshot, never a kNN box."""
    n = 40
    pdf = pd.DataFrame(
        {
            "row_uid": np.arange(n),
            "person": np.zeros(n, dtype=np.int64),
            "user_id": np.linspace(0.0, 39.0, n),
            "value": np.linspace(100.0, 139.0, n),
            "ts_millis": np.arange(n, dtype=float),
        }
    )
    pdf["arrival_ms"] = np.arange(n, dtype=np.int64)
    cfg = FADSConfig(
        k=4, buffer_rows=8, reuse_ms=10**9,
        qid_cols=("user_id", "value"),
        pid_col="person", arrival_col="arrival_ms",
        distinct_pids=True,
    )
    out = run_fads_pandas(pdf, cfg).sort_values("row_uid").reset_index(drop=True)
    assert len(out) == n
    # row released at overflow i (buffer holds rows 0..8 -> row 0 released
    # when row 8 arrives): bounds snapshot covers rows seen so far
    first = out.iloc[0]
    assert first["user_id_lo"] == 0.0 and first["user_id_hi"] == 8.0
    assert first["value_lo"] == 100.0 and first["value_hi"] == 108.0
    # strict mode must differ from parity mode on this data
    base = run_fads_pandas(pdf, FADSConfig(**{**cfg.__dict__, "distinct_pids": False}))
    base = base.sort_values("row_uid").reset_index(drop=True)
    assert not out[["user_id_lo", "user_id_hi"]].equals(base[["user_id_lo", "user_id_hi"]])


# -- hot-key salting in scale-out mode (dedup _salt_cap discipline) ---------


def test_partitioned_hot_key_salting(spark):
    """One 10x-hot key: max_group_rows sub-splits it into arrival-contiguous
    runs; the output equals an independent local FADS over each run (proving
    every task is bounded at max_group_rows rows) and cold keys are
    untouched (single run)."""
    rng = np.random.default_rng(3)

    def mk(grp, n, base):
        return pd.DataFrame(
            {
                "event_id": np.arange(base, base + n),
                "grp": grp,
                "user_id": rng.uniform(0, 50, n).round(2),
                "value": rng.uniform(0, 100, n).round(2),
                "arrival_ms": np.sort(rng.integers(0, 10**6, n)).astype(np.int64),
            }
        )

    hot = mk("hot", 1000, 0)
    colds = [mk(f"cold{i}", 100, 10_000 * (i + 1)) for i in range(4)]
    pdf = pd.concat([hot, *colds], ignore_index=True)
    cfg = FADSConfig(
        k=5, buffer_rows=15, reuse_ms=60_000,
        qid_cols=("user_id", "value"),
        pid_col="event_id", arrival_col="arrival_ms",
    )
    cap = 250
    df = spark.createDataFrame(pdf)
    out = fads_generalize_partitioned(df, cfg, "grp", max_group_rows=cap).toPandas()
    assert len(out) == len(pdf)
    assert "__fads_run" not in out.columns

    # expected: chunk each group's arrival-ordered rows into runs of <= cap,
    # run FADS independently per run
    expect_frames = []
    for _, g in pdf.groupby("grp"):
        s = g.sort_values(["arrival_ms", "event_id"], kind="mergesort").reset_index(drop=True)
        for start in range(0, len(s), cap):
            expect_frames.append(run_fads_pandas(s.iloc[start : start + cap], cfg))
    expected = pd.concat(expect_frames, ignore_index=True)
    o = out.sort_values("event_id").reset_index(drop=True)
    e = expected[o.columns].sort_values("event_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(o, e, check_dtype=False)

    # the hot group really was split (4 runs of 250), colds were not
    assert len(hot) / cap == 4
    with pytest.raises(ValueError):
        fads_generalize_partitioned(df, cfg, "grp", max_group_rows=cfg.buffer_rows)


# -- legacy (shipped-bug-parity) distance mode ------------------------------


def test_legacy_distance_core_matches_oracle():
    """Dual-implementation agreement with the shipped (abs/hi)-lo distance,
    including distinct legacy columns standing in for the reference's raw
    fields 0..d-1."""
    rng = np.random.default_rng(5)
    n = 300
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n),
            "raw0": rng.uniform(1, 9, n).round(3),   # stand-in for field 0
            "raw1": rng.uniform(1, 9, n).round(3),   # stand-in for field 1
            "user_id": rng.uniform(0, 50, n).round(2),
            "value": rng.uniform(10, 200, n).round(2),
            "ts_millis": np.sort(rng.integers(0, 10**6, n)).astype(float),
        }
    )
    pdf["arrival_ms"] = pdf["ts_millis"].astype(np.int64)
    for lcols in (None, ("raw0", "raw1")):
        cfg = FADSConfig(
            k=4, buffer_rows=10, reuse_ms=100_000,
            qid_cols=("user_id", "value"),
            pid_col="event_id", arrival_col="arrival_ms",
            legacy_distance=True, legacy_distance_cols=lcols,
        )
        use = list(lcols or cfg.qid_cols)
        rows = [
            (i, tuple(pdf.loc[i, c] for c in cfg.qid_cols), int(pdf.loc[i, "arrival_ms"]),
             int(pdf.loc[i, "event_id"]), tuple(pdf.loc[i, c] for c in use))
            for i in range(n)
        ]
        expected = fads_oracle(rows, cfg)
        got = run_fads_pandas(pdf, cfg).set_index("event_id")
        for i, (lo, hi) in expected.items():
            for j, q in enumerate(cfg.qid_cols):
                assert got.loc[i, f"{q}_lo"] == pytest.approx(lo[j]), (lcols, i)
                assert got.loc[i, f"{q}_hi"] == pytest.approx(hi[j]), (lcols, i)

    # the shipped formula must actually diverge from the intended one here
    base = run_fads_pandas(
        pdf, FADSConfig(k=4, buffer_rows=10, reuse_ms=100_000,
                        qid_cols=("user_id", "value"),
                        pid_col="event_id", arrival_col="arrival_ms")
    )
    legacy = run_fads_pandas(
        pdf, FADSConfig(k=4, buffer_rows=10, reuse_ms=100_000,
                        qid_cols=("user_id", "value"),
                        pid_col="event_id", arrival_col="arrival_ms",
                        legacy_distance=True)
    )
    b = base.sort_values("event_id").reset_index(drop=True)
    l = legacy.sort_values("event_id").reset_index(drop=True)
    assert not b[["user_id_lo", "user_id_hi", "value_lo", "value_hi"]].equals(
        l[["user_id_lo", "user_id_hi", "value_lo", "value_hi"]]
    )


def test_legacy_distance_cols_validation():
    with pytest.raises(ValueError):
        FADSConfig(qid_cols=("a", "b"), pid_col="p", arrival_col="t",
                   legacy_distance=True, legacy_distance_cols=("x",))


def _chunked_release(pdf, cfg, size):
    """Feed arrival-sorted rows to one FADSState in chunks of ``size`` rows,
    then flush; the whole run as one output frame."""
    from pyfads.fads_batch import process_frame, release_frame
    from pyfads.fads_core import FADSState

    s = pdf.sort_values([cfg.arrival_col, cfg.pid_col], kind="mergesort")
    st = FADSState(cfg)
    pids = s[cfg.pid_col].to_numpy()
    rels = [
        process_frame(st, s.iloc[a : a + size], np.arange(a, min(a + size, len(s))),
                      pids=pids[a : a + size])
        for a in range(0, len(s), size)
    ]
    rels.append(st.flush())
    return release_frame(
        s,
        np.concatenate([r.row_ids for r in rels]),
        np.vstack([r.lo for r in rels]),
        np.vstack([r.hi for r in rels]),
        cfg,
        s.columns,
    )


_MODES = [
    {},
    {"pid_col": "person", "distinct_pids": True},
    {"legacy_distance": True, "legacy_distance_cols": ("raw0", "raw1")},
]
_MODE_IDS = ["intended", "distinct_pids", "legacy_distance"]


def _chunking_pdf(n, seed=3):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame(
        {
            "event_id": np.arange(n),
            "person": rng.integers(0, n // 6, n),
            "user_id": rng.integers(0, 40, n).astype(float),
            "value": rng.normal(100, 20, n).round(1),
            "raw0": rng.uniform(1, 9, n).round(3),
            "raw1": rng.uniform(1, 9, n).round(3),
        }
    )
    # runs of tied arrivals, so ties straddle chunk boundaries too
    pdf["arrival_ms"] = np.sort(rng.integers(0, n * 40, n)).astype(np.int64)
    return pdf


@pytest.mark.parametrize("kw", _MODES, ids=_MODE_IDS)
def test_chunking_equivalence(kw):
    """One engine, any chunking: the same arrival-sorted rows fed to
    FADSState.process in one call, or in chunks of 1, 7 and 1,000 rows, give
    the identical frame (rows, order and bits) in every distance/filter
    mode."""
    pdf = _chunking_pdf(2_500)
    cfg = FADSConfig(k=5, buffer_rows=15, reuse_ms=3_000,
                     qid_cols=("user_id", "value"), arrival_col="arrival_ms",
                     **{"pid_col": "event_id", **kw})
    whole = run_fads_pandas(pdf, cfg)
    assert len(whole) == len(pdf)
    for size in (1, 7, 1_000):
        pd.testing.assert_frame_equal(
            _chunked_release(pdf, cfg, size), whole, check_exact=True
        )


@pytest.mark.parametrize("kw", _MODES, ids=_MODE_IDS)
def test_chunking_equivalence_dense(kw):
    """Dense arrivals: more live clusters than the engine's initial cluster
    capacity (so the arrays grow), and a TTL that expires clusters across
    chunk boundaries (so full arrays compact instead).  Still identical for
    every chunking, and identical to the pure-Python oracle."""
    from pyfads import fads_core
    from pyfads.fads_batch import process_frame

    pdf = _chunking_pdf(3_000, seed=9)
    pdf["value"] = np.random.default_rng(9).uniform(0, 1_000, len(pdf))
    pdf["arrival_ms"] = np.arange(len(pdf), dtype=np.int64)
    cfg = FADSConfig(k=3, buffer_rows=6, reuse_ms=1_400,
                     qid_cols=("user_id", "value"), arrival_col="arrival_ms",
                     **{"pid_col": "event_id", **kw})
    # row by row, recording each reallocation of the cluster arrays as
    # (old capacity, clusters kept + the one added)
    st = fads_core.FADSState(cfg)
    reallocs = []
    pids = pdf[cfg.pid_col].to_numpy()
    for i in range(len(pdf)):
        created = st.created
        process_frame(st, pdf.iloc[i : i + 1], [i], pids=pids[i : i + 1])
        if st.created is not created:
            reallocs.append((len(created), st.n_clusters))
    # grew: every cluster kept and more capacity; compacted: expired ones dropped
    assert any(n - 1 == cap for cap, n in reallocs)
    assert any(n - 1 < cap for cap, n in reallocs)

    whole = run_fads_pandas(pdf, cfg)
    for size in (1, 7, 1_000):
        pd.testing.assert_frame_equal(
            _chunked_release(pdf, cfg, size), whole, check_exact=True
        )
    lcols = list(cfg.legacy_distance_cols or cfg.qid_cols)
    rows = [
        (i, tuple(pdf.loc[i, c] for c in cfg.qid_cols), int(pdf.loc[i, "arrival_ms"]),
         pdf.loc[i, cfg.pid_col], tuple(pdf.loc[i, c] for c in lcols))
        for i in range(len(pdf))
    ]
    expected = fads_oracle(rows, cfg)
    got = whole.set_index("event_id")
    for i, (lo, hi) in expected.items():
        for j, q in enumerate(cfg.qid_cols):
            assert got.loc[i, f"{q}_lo"] == lo[j]
            assert got.loc[i, f"{q}_hi"] == hi[j]
