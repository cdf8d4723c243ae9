"""FADS state machine — the one engine behind batch and streaming.

Re-implements the semantics of the reference's stateful ProcessFunction
(reference Generalizer.java:98-133 per-element loop, :136-189 release
decision, :59-74 end-of-stream flush, Cluster.java:18-85 bounding box /
fits / infoLoss) with the paper-intended fixes recorded in SURVEY.md §2.5:

1. kNN distance is ``abs(delta) / (hi - lo)`` over the *actual QID columns*
   (the reference has a precedence bug and indexes fields 0..n-1 instead of
   through ``keys[]`` — Generalizer.java:356).
2. ``bufferConstraint`` is a row *count* (Generalizer.java:123), not a time.
3. Suppression snapshots the global bounds at release time (the reference
   aliases the still-mutating bounds array — Generalizer.java:249 + :112-113).
4. infoLoss guards division by zero when a global range is 0
   (Cluster.java:82 would produce Inf/NaN); a zero global range contributes 0.
5. Time is a *logical arrival clock* (caller-supplied monotone longs, e.g.
   event-time millis or a sequence) instead of ``System.currentTimeMillis()``
   — deterministic and replayable.
6. kNN ties break by buffer (arrival) order via a stable sort; cluster-argmin
   ties break by creation order, first wins (the reference's PriorityQueue
   iteration order is an implementation detail).

Batch (:func:`pyfads.fads_batch.run_fads_pandas`) feeds a whole partition to
one ``process()`` call; streams feed one ``process()`` call per micro-batch
and carry the state between them through the codec in
:mod:`pyfads.fads_stream`.  Output does not depend on how the rows are
chunked.  The state is a handful of arrays:

- the buffer: at most ``buffer_rows`` QID rows plus their ids, PIDs,
  arrivals and legacy distance fields.  Each ``process()`` call puts them in
  front of the new chunk once, and releases gather rows from that block by
  index;
- the global bounds: one ``np.minimum/maximum.accumulate`` per chunk,
  seeded with the running ``glo``/``ghi``;
- the live clusters: preallocated ``boxes``/``created`` arrays with a head
  pointer for TTL expiry (creation times are nondecreasing).  Fit tests and
  the infoLoss argmin run vectorized over the live slice.

Every float operation keeps the order of the per-row definition (division by
the range, then the mean over dims), so intervals are bit-identical however
the rows are chunked — pinned against the pure-Python oracle in
:mod:`pyfads.oracle`.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from pyfads.config import FADSConfig

__all__ = ["FADSState", "ReleasedBatch"]

# initial capacity of the live-cluster arrays
_CLUSTER_CAP = 64


@dataclass
class ReleasedBatch:
    """Released rows in release order: row ids plus each row's interval."""

    row_ids: np.ndarray  # (r,)
    lo: np.ndarray  # (r, d)
    hi: np.ndarray  # (r, d)


def _cat(carried: np.ndarray, new: np.ndarray) -> np.ndarray:
    """Carried buffer rows in front of a new chunk (keeps the chunk's dtype
    when nothing is carried)."""
    return np.concatenate((carried, new)) if len(carried) else new


def _mean_scaled(x: np.ndarray, grange: np.ndarray):
    """Mean over the last axis of ``x / grange``, where a zero global range
    contributes 0 (G5 distance, G8 infoLoss — Cluster.java:79-85 plus the
    zero guard).  Sum then divide: the float ops of ``ndarray.mean``."""
    scaled = np.divide(x, grange, out=np.zeros_like(x), where=grange > 0)
    return scaled.sum(axis=-1) / x.shape[-1]


class _Releases:
    """Releases of one call: block positions, plus one interval per group
    of rows released together."""

    __slots__ = ("pos", "lo", "hi", "sizes")

    def __init__(self):
        self.pos: list[int] = []
        self.lo: list[np.ndarray] = []
        self.hi: list[np.ndarray] = []
        self.sizes: list[int] = []

    def add(self, pos: list, lo: np.ndarray, hi: np.ndarray) -> None:
        self.pos += pos
        self.lo.append(lo)
        self.hi.append(hi)
        self.sizes.append(len(pos))

    def batch(self, ids: np.ndarray, d: int) -> ReleasedBatch:
        if not self.pos:
            return ReleasedBatch(ids[:0], np.empty((0, d)), np.empty((0, d)))
        return ReleasedBatch(
            ids[np.asarray(self.pos, dtype=np.intp)],
            np.repeat(np.array(self.lo), self.sizes, axis=0),
            np.repeat(np.array(self.hi), self.sizes, axis=0),
        )


class FADSState:
    """Incremental FADS k-anonymizer over rows of (row_id, qid_vector, arrival).

    ``process(row_ids, qids, arrivals)`` consumes rows in the given order and
    returns whatever was released by buffer pressure; ``flush()`` drains the
    buffer at end-of-stream (reference close(), Generalizer.java:59-74).
    """

    def __init__(self, cfg: FADSConfig):
        self.cfg = cfg
        d = self.d = len(cfg.qid_cols)
        self.glo = np.full(d, np.inf)
        self.ghi = np.full(d, -np.inf)
        # buffered rows in arrival order (G1)
        self.buffer = np.empty((0, d))  # QID vectors
        self.buffer_ids = np.empty(0, dtype=np.int64)
        self.buffer_pids = np.empty(0, dtype=np.int64)
        self.buffer_arrivals = np.empty(0, dtype=np.int64)
        self.buffer_legacy = np.empty((0, d))  # legacy_distance fields
        # clusters in creation order, [lo, hi] per box; boxes[head:n_clusters]
        # are live (G3)
        self.boxes = np.empty((_CLUSTER_CAP, 2, d))
        self.created = np.empty(_CLUSTER_CAP, dtype=np.int64)
        self.head = 0
        self.n_clusters = 0
        self.last_arrival: int = 0

    @property
    def clusters(self) -> np.ndarray:
        """The live cluster boxes, oldest first, shape (c, 2, d)."""
        return self.boxes[self.head : self.n_clusters]

    # -- clusters ----------------------------------------------------------

    def _add_cluster(self, lo: np.ndarray, hi: np.ndarray, now: int) -> None:
        n = self.n_clusters
        if n == len(self.created):
            # full: move the live clusters to fresh arrays with room for as
            # many again.  Fresh arrays, never in-place moves, so the views
            # released rows hold keep their values.
            h, live = self.head, n - self.head
            cap = max(_CLUSTER_CAP, 2 * live)
            boxes = np.empty((cap, 2, self.d))
            boxes[:live] = self.boxes[h:n]
            created = np.empty(cap, dtype=np.int64)
            created[:live] = self.created[h:n]
            self.boxes, self.created, self.head, n = boxes, created, 0, live
        self.boxes[n] = lo, hi
        self.created[n] = now
        self.n_clusters = n + 1

    def _best_fitting(self, q: np.ndarray, grange: np.ndarray) -> int:
        """G7-G9: the strictly-fitting live cluster with the least infoLoss,
        first-created on ties (Generalizer.java:230-243, Cluster.java:55-62);
        -1 if none fits."""
        h = self.head
        if h == self.n_clusters:
            return -1
        live = self.boxes[h : self.n_clusters]
        fit = np.flatnonzero((q > live[:, 0]).all(axis=1) & (q < live[:, 1]).all(axis=1))
        if len(fit) <= 1:
            return h + int(fit[0]) if len(fit) else -1
        ils = _mean_scaled(live[fit, 1] - live[fit, 0], grange)
        return h + int(fit[np.argmin(ils)])  # first minimum == first created

    # -- release decision (G12, Generalizer.java:136-189) ------------------

    def _release_without_cluster(self, p, q, glo, ghi, grange, out: _Releases) -> None:
        """Reuse the best fitting old cluster, else suppress (the shared
        fallback of Generalizer.java:140-149 and :177-188)."""
        ci = self._best_fitting(q, grange)
        if ci >= 0:
            out.add([p], *self.boxes[ci])
        else:  # G11 suppress with the global bounds at release time
            out.add([p], glo, ghi)

    def _release_oldest(self, buf: list, blk, glo, ghi, now: int, out: _Releases) -> None:
        """Release the oldest buffered row.  ``buf`` holds positions into the
        block ``blk = (qids, legacy fields, pids)``."""
        cfg = self.cfg
        k1 = cfg.k - 1
        qs, legacy, pids = blk
        p = buf.pop(0)
        q = qs[p]
        grange = ghi - glo
        if len(buf) < k1:
            # cannot form a new cluster: reuse best old cluster or suppress
            self._release_without_cluster(p, q, glo, ghi, grange, out)
            return

        bidx = np.asarray(buf, dtype=np.intp)
        buf_q = qs[bidx]
        if cfg.legacy_distance:
            # shipped-bug parity (Generalizer.java:356): (abs(delta)/hi)-lo
            # over the raw legacy fields, no zero guard; NaN/Inf flow
            # through the stable argsort (NaN ordered last)
            with np.errstate(invalid="ignore", divide="ignore"):
                per_dim = np.abs(legacy[bidx] - legacy[p]) / ghi - glo
            dists = per_dim.sum(axis=1) / self.d
        else:
            # G5 intended: k-1 nearest by mean over dims of abs(delta)/(ghi-glo)
            dists = _mean_scaled(np.abs(buf_q - q), grange)
        if cfg.distinct_pids:
            # Intended PID-uniqueness filter (Generalizer.java:205-216, the
            # commented-out check): walk the stable distance order, greedily
            # taking the nearest neighbour whose PID is not already among the
            # chosen neighbours.  The pivot's own PID is NOT pre-excluded
            # (the reference's uniqueKeys map starts empty).  If fewer than
            # k-1 unique-PID neighbours exist, knn() returns null and the
            # caller reuses an old cluster / suppresses; the buffer is
            # untouched (Generalizer.java:177-188).
            bpids = pids[bidx]
            chosen: list[int] = []
            seen: set = set()
            for j in np.argsort(dists, kind="stable").tolist():
                pid = bpids[j]
                if pid in seen:
                    continue
                seen.add(pid)
                chosen.append(j)
                if len(chosen) == k1:
                    break
            if len(chosen) < k1:
                self._release_without_cluster(p, q, glo, ghi, grange, out)
                return
            order = np.asarray(chosen, dtype=np.intp)
        else:
            order = np.argsort(dists, kind="stable")[:k1]

        # G6: cluster box over the k-1 *neighbours only* (the pivot is
        # generalized with the neighbours' box even if it lies outside —
        # shipped reference behavior, Generalizer.java:155,173)
        nb_q = buf_q[order]
        knn_lo = nb_q.min(axis=0)
        knn_hi = nb_q.max(axis=0)

        ci = self._best_fitting(q, grange)
        if ci >= 0:
            old_lo, old_hi = self.boxes[ci]
            if _mean_scaled(old_hi - old_lo, grange) < _mean_scaled(knn_hi - knn_lo, grange):
                # reuse old cluster; neighbours stay buffered (Generalizer.java:162-165)
                out.add([p], old_lo, old_hi)
                return

        # release the neighbours (in buffer order), then the pivot, with the
        # new cluster, and cache it (Generalizer.java:166-176)
        keep = np.ones(len(buf), dtype=bool)
        keep[order] = False
        out.add(bidx[~keep].tolist() + [p], knn_lo, knn_hi)
        buf[:] = bidx[keep].tolist()
        self._add_cluster(knn_lo, knn_hi, now)

    def _carry(self, buf: list, ids, qs, pids, arrivals, legacy) -> None:
        """Keep the still-buffered rows of a block for the next call."""
        idx = np.asarray(buf, dtype=np.intp)
        self.buffer_ids = ids[idx]
        self.buffer = qs[idx]
        self.buffer_pids = pids[idx]
        self.buffer_arrivals = arrivals[idx]
        self.buffer_legacy = legacy[idx]

    # -- public API --------------------------------------------------------

    def process(
        self, row_ids, qids: np.ndarray, arrivals, pids=None, legacy_vals=None
    ) -> ReleasedBatch:
        """Consume rows (already in arrival order); return released rows.

        Per-element loop of Generalizer.java:98-133: buffer -> update global
        bounds -> expire clusters -> release oldest on buffer overflow.

        ``pids`` (optional) carries the PID value per row for the
        ``distinct_pids`` kNN filter; when omitted, ``row_ids`` double as
        PIDs (true for the streaming wrappers, which key rows by pid_col).
        ``legacy_vals`` (optional, (n, d)) carries the raw-field values the
        ``legacy_distance`` mode measures distances on; defaults to the
        QID vectors.
        """
        cfg = self.cfg
        qids = np.asarray(qids, dtype=np.float64).reshape(-1, self.d)
        row_ids = np.asarray(row_ids)
        arrivals = np.asarray(arrivals, dtype=np.int64)
        n = len(qids)
        if n == 0:
            return _Releases().batch(row_ids, self.d)
        pids = row_ids if pids is None else np.asarray(pids)
        legacy = qids if legacy_vals is None else np.asarray(legacy_vals, dtype=np.float64)

        m = len(self.buffer)
        ids = _cat(self.buffer_ids, row_ids)
        qs = _cat(self.buffer, qids)
        pids = _cat(self.buffer_pids, pids)
        arr_all = _cat(self.buffer_arrivals, arrivals)
        legacy = _cat(self.buffer_legacy, legacy)
        blk = (qs, legacy, pids)
        # G2 running global min/max (Generalizer.java:107-115) after each row
        glo = np.minimum.accumulate(np.vstack((self.glo, qids)), axis=0)[1:]
        ghi = np.maximum.accumulate(np.vstack((self.ghi, qids)), axis=0)[1:]

        B = cfg.buffer_rows
        reuse = cfg.reuse_ms
        buf = list(range(m))
        out = _Releases()
        for i, now in enumerate(arrivals.tolist()):
            buf.append(m + i)
            # G3 TTL expiry (Generalizer.java:117-120)
            while self.head < self.n_clusters and self.created[self.head] < now - reuse:
                self.head += 1
            if len(buf) > B:
                self._release_oldest(buf, blk, glo[i], ghi[i], now, out)

        self.glo, self.ghi = glo[-1].copy(), ghi[-1].copy()
        self.last_arrival = int(arrivals[-1])
        self._carry(buf, ids, qs, pids, arr_all, legacy)
        return out.batch(ids, self.d)

    def flush(self) -> ReleasedBatch:
        """End-of-stream drain (reference close(), Generalizer.java:59-74):
        bounds frozen at the last row, no expiry."""
        blk = (self.buffer, self.buffer_legacy, self.buffer_pids)
        buf = list(range(len(self.buffer)))
        out = _Releases()
        while buf:
            self._release_oldest(buf, blk, self.glo, self.ghi, self.last_arrival, out)
        released = out.batch(self.buffer_ids, self.d)
        self._carry([], self.buffer_ids, self.buffer, self.buffer_pids,
                    self.buffer_arrivals, self.buffer_legacy)
        return released
