"""batch_pipeline: everything the engine runs on Spark, on one session.

One pass ingests a micro-batch (``refresh.FeatureRefresh``: Delta and
Iceberg commits, change feed, online copy, read-back, maintenance),
builds training data from the event tables (``pit.PitTraining``: the
four generated query patterns), then curates a text corpus
(``corpus.CorpusDedup``: the LLM-data operators). The three stages
share one workload because every benchmark run pays a fresh JVM start;
the per-layer spans keep them apart.

Set-up warms the session with one untimed pass over the tiny inputs,
in a directory of its own, so that the timed pass finds every code
path warm (classes loaded, code generated, Python workers started) and
measures steady-state execution rather than first-call costs. (A
warm-up pass over the full inputs would warm the same paths and take
longer.)
"""

from __future__ import annotations

import os

from perfbench.harness import concurrently, start_spark, stop_spark
from perfbench.workloads import corpus, pit, refresh

SIZES = {
    size: {
        "refresh": refresh.SIZES[size],
        "pit": pit.SIZES[size],
        "corpus": corpus.SIZES[size],
    }
    for size in pit.SIZES
}


def _parts(rec, seed: int, sz: dict, run_dir: str) -> tuple:
    return (
        refresh.FeatureRefresh(rec, seed, sz["refresh"], run_dir),
        pit.PitTraining(rec, seed, sz["pit"], run_dir),
        corpus.CorpusDedup(rec, seed, sz["corpus"], run_dir),
    )


class Workload:
    COUNTED_SPANS = refresh.COMMITS
    KIND_SPANS = refresh.CALLS + pit.CALLS + corpus.CALLS
    BLOCK = 1

    def __init__(self, rec, seed: int, sz: dict, run_dir: str):
        self.rec, self.run_dir = rec, run_dir
        self.parts = _parts(rec, seed, sz, run_dir)
        self.refresh = self.parts[0]
        self.warm_parts = _parts(rec, seed, SIZES["tiny"], os.path.join(run_dir, "warm"))
        self.spark = None
        self.jvm_hwm_mb = 0.0

    def setup(self) -> None:
        rec = self.rec
        with rec.span("fixture.generate"):
            for part in self.parts + self.warm_parts:
                part.generate()
        spark = self.spark = start_spark(rec, self.run_dir)
        refresh_part, pit_part, corpus_part = self.parts
        warm_refresh, warm_pit, warm_corpus = self.warm_parts
        # four threads: most of a cold first call is driver-side class
        # loading, planning and code generation, which the stages can
        # overlap
        concurrently(
            rec,
            lambda: (refresh_part.register(spark), self._warm_up(warm_refresh)),
            lambda: (pit_part.register(spark), corpus_part.register(spark)),
            lambda: self._warm_up(warm_pit),
            lambda: self._warm_up(warm_corpus),
        )

    def _warm_up(self, part) -> None:
        """One untimed pass of a stage over the tiny inputs."""
        with self.rec.span("session.warmup"), self.rec.muted():
            part.register(self.spark)
            part.op()

    def op(self) -> None:
        for part in self.parts:
            part.op()

    def after_op(self) -> None:
        self.refresh.after_op()

    def verify(self, checks) -> None:
        for part in self.parts:
            part.verify(checks)

    def report(self) -> list[tuple[str, float, str, int]]:
        return self.refresh.report()

    def layer_metrics(self, samples, counters) -> dict[str, float]:
        return self.refresh.layer_metrics(samples, counters)

    def close(self) -> None:
        for part in self.parts + self.warm_parts:
            part.close()
        if self.spark is not None:
            self.jvm_hwm_mb = stop_spark(self.spark)
            self.spark = None
