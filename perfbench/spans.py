"""In-memory span recorder and the rebinding that places spans at the
package's public entry points, for the traced (``--trace 1``) run.

Spans record their name, start, end, parent and the query or batch they
belong to. The benchmark drives one client at a time, and a foreachBatch
callback runs while the driver thread waits on its stream, so one global
stack gives every span its parent.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

from stats import span_self_times


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.enabled = True
        self._stack: list[int] = []
        self._seen_scans: dict[int, object] = {}
        self.scan_calls = 0
        self.scan_repeats = 0

    @contextmanager
    def span(self, name: str, ref: str | None = None):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "ref": ref,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "wall": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn, ref_of=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, ref_of(args) if ref_of else None):
                return fn(*args, **kwargs)

        return traced

    def self_seconds(self, spans: list[dict] | None = None) -> dict[str, float]:
        """Total self time per span name over ``spans`` (default: all)."""
        closed = [s for s in (self.spans if spans is None else spans) if s["end"] is not None]
        ids = {s["id"] for s in closed}
        self_t = span_self_times(
            [dict(s, parent=s["parent"] if s["parent"] in ids else None) for s in closed]
        )
        out: dict[str, float] = {}
        for s in closed:
            out[s["name"]] = out.get(s["name"], 0.0) + self_t[s["id"]]
        return out

    def note_scan(self, df) -> None:
        """Count a ``load_table`` result while enabled; a frame handed out
        before, traced or not, is a scan-memo hit (the memo returns the same
        lazy frame object)."""
        if self.enabled:
            self.scan_calls += 1
            self.scan_repeats += id(df) in self._seen_scans
        self._seen_scans[id(df)] = df  # keep it alive so ids stay unique


def install(tracer: Tracer) -> None:
    """Rebind the package's public entry points to traced wrappers.

    ``load_table`` is rebound in every ``queries_*`` module that imported
    it; ``run_available_now`` and ``foreach_batch`` are looked up from
    ``streaming.runtime`` at call time, so rebinding them there suffices.
    The callback a query hands to ``foreach_batch`` is wrapped as well, so
    each micro-batch's own work is a span.
    """
    import sys

    from ibis_flink_example_spark import catalog
    from ibis_flink_example_spark.streaming import runtime

    original_load = catalog.load_table

    def load_table(spark, sf_dir, name):
        with tracer.span("catalog.load_table", name):
            df = original_load(spark, sf_dir, name)
        tracer.note_scan(df)
        return df

    catalog.load_table = load_table
    for mod_name, mod in list(sys.modules.items()):
        if mod_name.startswith("ibis_flink_example_spark.queries_") and getattr(
            mod, "load_table", None
        ) is original_load:
            mod.load_table = load_table

    runtime.run_available_now = tracer.wrap(
        "streaming.run_available_now", runtime.run_available_now
    )
    original_feb = runtime.foreach_batch

    def foreach_batch(df, fn, **kwargs):
        batch_fn = tracer.wrap("streaming.foreach_batch", fn, ref_of=lambda a: str(a[1]))
        with tracer.span("streaming.foreach_batch_start"):
            return original_feb(df, batch_fn, **kwargs)

    runtime.foreach_batch = foreach_batch
