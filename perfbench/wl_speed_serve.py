"""speed_serve: the speed layer, drained and then served live.

Two phases on one session, so one cold set-up serves both:

A. ``wl_speed_ingest``: closed drains of a standing Avro backlog through
   the word-count query -- ``ingest_eps``.
B. ``wl_serve_live``: open-loop JSON events into the hourly rollup with
   one closed-loop interval-query client beside it -- ``fresh_*`` and
   ``serve_*``.

Phase A gets ``DRAIN_SHARE`` of the measuring time, as a fixed number of
rounds; phase B gets the rest as its open-loop window.
"""

from __future__ import annotations

from wl_serve_live import ServeLive
from wl_speed_ingest import SpeedIngest

DRAIN_SHARE = 0.4


class SpeedServe:
    def __init__(self, props: dict, work: str, seed: int):
        self.drain = SpeedIngest(props["drain"], work, seed)
        self.live = ServeLive(props["live"], work, seed)

    def generate(self) -> str:
        return self.drain.generate()

    def warm(self, spark) -> None:
        self.drain.warm(spark)
        self.live.warm(spark)

    def ingest_phase(self) -> SpeedIngest:
        """The phase that yields ``ingest_eps``, run alone as the traced
        run's untraced reference."""
        return self.drain

    def measure(self, spark, seconds: float, tracer) -> dict:
        return {"drain": self.drain.measure(spark, DRAIN_SHARE * seconds, tracer),
                "live": self.live.measure(spark, (1 - DRAIN_SHARE) * seconds, tracer)}

    def corrupt(self, res: dict) -> None:
        self.drain.corrupt(res["drain"])

    def check(self, spark, res: dict, tracer) -> tuple[list[str], dict]:
        errors, extra = self.drain.check(spark, res["drain"], tracer)
        errors2, extra2 = self.live.check(spark, res["live"], tracer)
        return errors + errors2, {**extra, **extra2}

    def metrics(self, res: dict):
        e2e, layer, attempted, failed = self.drain.metrics(res["drain"])
        e2e2, layer2, attempted2, failed2 = self.live.metrics(res["live"])
        return {**e2e, **e2e2}, {**layer, **layer2}, attempted + attempted2, failed + failed2
