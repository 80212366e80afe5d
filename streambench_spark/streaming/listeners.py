"""M6: per-batch streaming statistics — pull-based ``progress_stats``
from a query's recentProgress, and the listener-fed
``PeriodicStatsReporter`` (StreamBox's periodic ReportStatistics).
The YSB throughput metric (M1/A9) is read from progress events by
``perfbench/ysb_live``."""

from __future__ import annotations

from pyspark.sql.streaming import StreamingQueryListener


def progress_stats(query) -> list[dict]:
    """M6 analog: per-micro-batch, per-operator stats from the query's
    recentProgress — the Spark-native equivalent of StreamBox's periodic
    ``ReportStatistics`` table (sbx/EvaluationBundleContext.h:331-379).

    Returns one dict per (batch, state operator): rows in/out, rate,
    state rows, memory, and watermark-dropped rows.
    """
    out = []
    for p in query.recentProgress:
        base = {
            "batch_id": p["batchId"],
            "input_rows": p["numInputRows"],
            "rows_per_s": p.get("processedRowsPerSecond"),
            "batch_duration_ms": p.get("batchDuration"),
            "watermark": p.get("eventTime", {}).get("watermark"),
        }
        ops = p.get("stateOperators") or [{}]
        for op in ops:
            out.append(
                {
                    **base,
                    "operator": op.get("operatorName"),
                    "state_rows": op.get("numRowsTotal"),
                    "state_mem_bytes": op.get("memoryUsedBytes"),
                    "rows_dropped_by_watermark": op.get("numRowsDroppedByWatermark"),
                }
            )
    return out


class PeriodicStatsReporter:
    """M6: periodic per-transform stats — the StreamBox ``CallBackTimer``
    shape (sbx/EvaluationBundleContext.h:331-379,500-501,785-813: every
    3 s, each transform reports recent + lifetime KRec/s).

    Row counts come from a ``StreamingQueryListener`` bound to the query
    (every progress event is delivered exactly once, so no batch is lost
    even when hundreds complete within one sampling interval —
    ``recentProgress`` alone retains only the last ~100). A daemon
    thread snapshots the counters every ``interval_s``: recent rate =
    rows since the previous sample / elapsed; lifetime rate = all rows /
    total elapsed; state-operator rows/memory are the LAST KNOWN values
    (carried across quiet intervals, not reset). Samples accumulate in
    ``self.samples`` and each is handed to ``sink`` as a formatted line.

    Driver-side and O(1) per sample — it reads progress JSON the
    executors already ship; nothing touches the data path.

    ``query`` may be a running StreamingQuery OR a zero-arg callable that
    starts and returns one. Pass the callable form to get the
    exactly-once counter guarantee: ``start()`` registers the listener
    BEFORE starting the query, so no progress event can precede
    registration. With an already-running query, events that fired
    before ``start()`` are unobservable and the lifetime counters are a
    lower bound from reporter start.
    """

    def __init__(self, query, interval_s: float = 3.0, sink=None) -> None:
        import threading

        self.query = query
        self.interval_s = interval_s
        self.samples: list[dict] = []
        self._sink = sink
        self._lock = threading.Lock()
        self._rows_lifetime = 0
        self._rows_prev_sample = 0
        self._state_ops: list[dict] = []
        self._t0 = None
        self._t_prev = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

        self._pending: list = []

        outer = self

        class _Counter(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                p = event.progress
                # query is None only in the callable form, between
                # listener registration and the `self.query = factory()`
                # assignment completing. The query STARTS inside
                # factory() and the listener bus is async, so a fast
                # first micro-batch CAN report in that window (r08
                # review — the old drop here undercounted an
                # availableNow drain's first batch). Buffer until the
                # query id is known; start() replays the buffer.
                if outer.query is None:
                    with outer._lock:
                        if outer.query is None:
                            outer._pending.append(p)
                            return
                if str(p.id) != str(outer.query.id):
                    return
                outer._absorb(p)

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        self._listener = _Counter()

    def _absorb(self, p) -> None:
        with self._lock:
            self._rows_lifetime += p.numInputRows
            ops = p.stateOperators or []
            if ops:
                self._state_ops = [
                    {
                        "operator": op.operatorName,
                        "state_rows": op.numRowsTotal,
                        "state_mem_bytes": op.memoryUsedBytes,
                    }
                    for op in ops
                ]

    def _streams(self):
        from pyspark.sql import SparkSession

        return SparkSession.getActiveSession().streams

    def start(self) -> "PeriodicStatsReporter":
        import time as _t

        if callable(self.query):
            # exactly-once form: listener is live before the first
            # micro-batch can possibly report progress; events that
            # arrive while the query id is still unknown are buffered
            # by the listener and replayed here — each event is
            # delivered exactly once (buffered XOR direct), so nothing
            # is lost or double-counted
            factory, self.query = self.query, None
            try:
                # addListener (and _streams(), which raises when no session
                # is active) sit INSIDE the try: a failure anywhere before
                # the query starts must restore the factory (ADVICE r10)
                self._streams().addListener(self._listener)
                self.query = factory()
            except BaseException:
                # query never started: with query=None the listener would
                # buffer every progress event from every query on the
                # session indefinitely (r08 advice) — unhook it and drop
                # the buffer before propagating
                try:
                    self._streams().removeListener(self._listener)
                except Exception:
                    pass
                with self._lock:
                    self._pending.clear()
                # restore the factory so a retried start() re-enters this
                # branch instead of registering with query permanently None
                # (ADVICE r09)
                self.query = factory
                raise
            with self._lock:
                pending, self._pending = self._pending, []
            for p in pending:
                if str(p.id) == str(self.query.id):
                    self._absorb(p)
        else:
            self._streams().addListener(self._listener)
        self._t0 = self._t_prev = _t.time()
        self._thread.start()
        return self

    def stop(self) -> list[dict]:
        import time as _t

        self._stop.set()
        self._thread.join(timeout=self.interval_s + 5)
        try:
            self._streams().removeListener(self._listener)
        except Exception:
            pass  # session already torn down
        # final partial interval: rows processed after the last tick (or
        # a whole run shorter than interval_s) would otherwise appear in
        # NO sample and a fast drain would return [] with every counter
        # discarded
        if not self.samples or self._rows_lifetime != self._rows_prev_sample:
            self._sample(_t.time())
        return self.samples

    def _run(self) -> None:
        import time as _t

        while not self._stop.wait(self.interval_s):
            self._sample(_t.time())

    def _sample(self, now: float) -> None:
        with self._lock:
            rows_lifetime = self._rows_lifetime
            state_ops = list(self._state_ops)
        new_rows = rows_lifetime - self._rows_prev_sample
        recent_s = max(now - self._t_prev, 1e-3)
        lifetime_s = max(now - self._t0, 1e-3)
        sample = {
            "t_s": round(now - self._t0, 2),
            "recent_krec_s": round(new_rows / recent_s / 1000.0, 2),
            "lifetime_krec_s": round(rows_lifetime / lifetime_s / 1000.0, 2),
            "rows_lifetime": rows_lifetime,
            "state_operators": state_ops,
        }
        self._rows_prev_sample = rows_lifetime
        self._t_prev = now
        self.samples.append(sample)
        if self._sink is not None:
            self._sink(
                f"[stats +{sample['t_s']:7.2f}s] recent {sample['recent_krec_s']:9.2f} "
                f"KRec/s | lifetime {sample['lifetime_krec_s']:9.2f} KRec/s | "
                f"rows {sample['rows_lifetime']}"
            )
