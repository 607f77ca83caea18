"""The shape every benchmark workload has; ``run.measure`` drives it."""

from __future__ import annotations

import shutil

import tracing as bt


class Workload:
    """``setup`` once, ``warmups`` untimed passes, then
    ``timed_passes(seconds)`` timed ones.

    A pass is ``make_input`` (a fresh directory, untimed), ``run_pass``
    (timed), ``check`` (untimed; returns operations attempted and a
    list of failure messages), ``cleanup``. ``layers`` turns a traced
    pass into per-layer metrics; ``extra_layers`` adds layers no pass
    enters. ``items_per_pass`` is the unit of work behind the context
    line's ``items_per_s``."""

    warmups = 1
    min_passes = 3
    pass_s = 4.7  # a warm pass's wall seconds on the reference host
    items_per_pass = 1

    def timed_passes(self, seconds: float) -> int:
        """Timed passes a run of ``seconds`` makes: ``seconds`` over the
        reference host's warm pass time, at least ``min_passes``. The
        count does not depend on the host's speed during the run, so
        every run measures the same passes."""
        return max(self.min_passes, round(seconds / self.pass_s))

    def setup(self, run) -> None:
        raise NotImplementedError

    def warmup(self, run, i: int) -> None:
        inp = self.make_input(run)
        out = self.run_pass(run, inp, bt.Spans(False))
        run.tally(*self.check(run, inp, out))
        self.cleanup(inp)

    def make_input(self, run) -> dict:
        raise NotImplementedError

    def run_pass(self, run, inp: dict, spans: bt.Spans):
        raise NotImplementedError

    def check(self, run, inp: dict, out) -> tuple[int, list[str]]:
        raise NotImplementedError

    def layers(self, run, out, spans: bt.Spans) -> dict:
        raise NotImplementedError

    def extra_layers(self, run) -> dict:
        """Per-layer metrics a traced run measures after its timed
        passes, outside them."""
        return {}

    def cleanup(self, inp: dict) -> None:
        shutil.rmtree(inp["dir"], ignore_errors=True)

    def describe(self) -> dict:
        return {}
