"""The interface every benchmark workload implements."""

from __future__ import annotations

import os

from .harness import fresh_dir


class Workload:
    """One set of generated inputs and the timed job that runs over them.

    ``build`` writes the inputs from the seed in plain Python, without Spark,
    so it can run while the session starts. ``prepare`` does the Spark side
    of set-up and ends with a warm-up pass of the job. ``reset`` restores
    the starting state before each timed ``run`` and ``check`` then verifies
    the committed output; neither is timed.
    """

    name = ""

    def __init__(self, work: str, seed: int, cpus: int) -> None:
        self.work = fresh_dir(os.path.join(work, self.name))
        self.seed = seed
        self.cpus = cpus
        self.spark = None
        self.n_in = 0        # input rows (docs or payloads) per run
        self.in_bytes = 0    # input payload bytes per run

    def build(self) -> None:
        raise NotImplementedError

    def prepare(self, spark) -> None:
        raise NotImplementedError

    def reset(self) -> None:
        raise NotImplementedError

    def run(self) -> None:
        raise NotImplementedError

    def check(self) -> int:
        """Rows of the last run that failed: error rows, rows missing,
        duplicated or wrong. A failed whole-output check returns n_in."""
        raise NotImplementedError

    def out_bytes(self) -> int:
        """Bytes of the data files the last run committed."""
        raise NotImplementedError

    def trace(self, tr) -> None:
        """Record this workload's per-layer spans and counters."""
        raise NotImplementedError
