"""The order of ``report["phases"]`` is an interface: the benchmark's
tracer (``perfbench.tracing.phase_windows``) rebuilds each phase's time
window from the key order alone and attributes Spark jobs to phases by it.
A phase marked out of order would silently charge one phase's jobs to
another, so the sequence is pinned here against the benchmark's own list."""

from __future__ import annotations

import os

from codeclone_spark.plans.ledger import Ledger
from codeclone_spark.plans.runner import RunConfig, run
from perfbench.run import PHASES

WAVE_PHASES = ("wave_facts_and_row_rules", "wave_partition_aggs", "wave_ledger_digests")


def test_phase_order_cold_resume_warm(spark, tiny_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("phase_order"))
    cfg = RunConfig(data_dir=tiny_dir, out_dir=out, wave_size=6)
    # several waves: each wave phase accumulates under one key, first-mark order
    cold = run(spark, cfg)
    led = Ledger(os.path.join(out, "ledger"))
    led.forget(sorted(led.partitions)[::2])
    led.save("forget")
    resume = run(spark, cfg)
    warm = run(spark, cfg)
    assert resume.report["inventory"]["partitions_resumed"] == 8
    assert warm.report["inventory"]["partitions_resumed"] == 16
    assert list(cold.report["phases"]) == list(PHASES)
    assert list(resume.report["phases"]) == list(PHASES)
    # nothing to decode: the wave phases are never marked
    assert list(warm.report["phases"]) == [p for p in PHASES if p not in WAVE_PHASES]
