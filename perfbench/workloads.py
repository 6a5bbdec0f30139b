"""The benchmark's workloads: set-up, one timed operation, and the output
checks every operation must pass.

``cold-validate``: a full ``runner.run`` of the corpus into an empty
out_dir, with no baseline, so every partition is decoded.

``gated-rerun``: set-up writes a baseline with ``update_baseline`` and runs
gated against it once; each operation copies that out_dir (untimed), forgets a seed-chosen quarter of
the partitions through ``Ledger.forget``/``save``, runs gated against the
baseline, then runs once more fully warm.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import SparkSession

from codeclone_spark import EXIT_GATE_FAILURE, EXIT_OK
from codeclone_spark.plans.ledger import Ledger
from codeclone_spark.plans.runner import RunConfig, RunResult, run

from perfbench.tracing import Tracer

# Rule -> planted defects, the same map as the engine's planted-truth test.
RULE_PLANTS = {
    "uniq:clip_id": ["dup_clip_id"],
    "audio:undecodable": ["undecodable"],
    "audio:snr": ["low_snr"],
    "audio:len_consistency": ["sr_mismatch", "dur_mismatch"],
    "stats:null:dur_ms": ["dur_null"],
    "stats:null:transcript": ["transcript_null"],
    "audio:transcript_eq": ["transcript_mismatch"],
    "ref:fixture_missing": ["fixture_missing"],
}


@dataclass
class Context:
    spark: SparkSession
    tracer: Tracer
    work: str
    data_dir: str
    manifest: dict[str, Any]
    seed: int
    prereq_out: str = ""
    baseline: str | None = None
    ref_digest: str = ""
    ref_by_rule: dict[str, int] = field(default_factory=dict)

    @property
    def clips(self) -> int:
        return int(self.manifest["n_total_rows"])


@dataclass
class OpResult:
    wall_s: float
    parts_s: dict[str, float]
    out_bytes: int
    errors: list[str]
    steal_pct: float = 0.0


def planted_errors(by_rule: dict[str, int], manifest: dict[str, Any]) -> list[str]:
    pc = manifest["planted_counts"]
    return [
        f"{rule}: {by_rule.get(rule, 0)} != planted {sum(pc[p] for p in plants)}"
        for rule, plants in RULE_PLANTS.items()
        if by_rule.get(rule, 0) != sum(pc[p] for p in plants)
    ]


def check_run(
    ctx: Context, res: RunResult, label: str, exit_code: int, resumed: int | None
) -> list[str]:
    """Errors of one ``runner.run`` result against the planted truth, the
    reference digest, the expected exit code and ledger reuse."""
    rep = res.report
    if "error" in rep:
        return [f"{label}: {rep['error']}"]
    errs = [f"{label}: {e}" for e in planted_errors(rep["findings"]["by_rule"], ctx.manifest)]
    digest = rep["integrity"]["run_digest"]
    if ctx.ref_digest and digest != ctx.ref_digest:
        errs.append(f"{label}: run_digest {digest[:16]} != {ctx.ref_digest[:16]}")
    if res.exit_code != exit_code:
        errs.append(f"{label}: exit {res.exit_code} != {exit_code}")
    got = rep["inventory"]["partitions_resumed"]
    if resumed is not None and got != resumed:
        errs.append(f"{label}: {got} partitions resumed, expected {resumed}")
    return errs


def tree_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    )


def _traced_run(
    ctx: Context, name: str, cfg: RunConfig, decoded_clips: int
) -> tuple[RunResult, float]:
    """One ``runner.run`` in its span; *decoded_clips* is the number of
    clips in the partitions it is expected to decode rather than resume."""
    with ctx.tracer.span("runner.run", kind=name, decoded_clips=decoded_clips) as s:
        res = run(ctx.spark, cfg)
    s.attrs["phases"] = res.report.get("phases", {})
    s.attrs["partitions"] = res.report.get("inventory", {}).get("partitions", 0)
    s.attrs["resumed"] = res.report.get("inventory", {}).get("partitions_resumed", 0)
    return res, s.dur


class ColdValidate:
    name = "cold-validate"
    min_ops = 2

    def prepare(self, ctx: Context) -> None:
        ctx.prereq_out = os.path.join(ctx.work, "prereq_out")
        res, _ = _traced_run(
            ctx, "prereq", RunConfig(data_dir=ctx.data_dir, out_dir=ctx.prereq_out), ctx.clips
        )
        errs = check_run(ctx, res, "prereq", EXIT_GATE_FAILURE, 0)
        if errs:
            raise RuntimeError("; ".join(errs))
        ctx.ref_digest = res.report["integrity"]["run_digest"]
        ctx.ref_by_rule = res.report["findings"]["by_rule"]

    def op(self, ctx: Context, i: int) -> OpResult:
        out = os.path.join(ctx.work, "ops", f"op{i}")
        with ctx.tracer.span("op", op=i):
            res, wall = _traced_run(
                ctx, "cold", RunConfig(data_dir=ctx.data_dir, out_dir=out), ctx.clips
            )
        # no baseline: the planted violations fail their gates
        errs = check_run(ctx, res, "cold", EXIT_GATE_FAILURE, 0)
        return OpResult(wall, {"cold_s": wall}, tree_bytes(out), errs)


class GatedRerun:
    name = "gated-rerun"
    min_ops = 1  # set-up already holds two full runs

    def prepare(self, ctx: Context) -> None:
        ctx.prereq_out = os.path.join(ctx.work, "prereq_out")
        ctx.baseline = os.path.join(ctx.work, "baseline", "baseline.json")
        os.makedirs(os.path.dirname(ctx.baseline))
        res, _ = _traced_run(
            ctx,
            "prereq",
            RunConfig(
                data_dir=ctx.data_dir,
                out_dir=ctx.prereq_out,
                baseline_path=ctx.baseline,
                update_baseline=True,
            ),
            ctx.clips,
        )
        errs = check_run(ctx, res, "prereq", EXIT_OK, 0)
        ctx.ref_digest = res.report["integrity"]["run_digest"]
        ctx.ref_by_rule = res.report["findings"]["by_rule"]
        # The update run keyed its ledger to the empty accepted set; one
        # gated run re-keys every partition to the new baseline, so the
        # operations start from a fully warm out_dir.
        res, _ = _traced_run(
            ctx,
            "prereq",
            RunConfig(data_dir=ctx.data_dir, out_dir=ctx.prereq_out, baseline_path=ctx.baseline),
            ctx.clips,
        )
        errs += check_run(ctx, res, "prereq-gated", EXIT_OK, 0)
        if errs:
            raise RuntimeError("; ".join(errs))
        # A seed-chosen quarter of each codec's hash buckets: a quarter of
        # the partitions and about a quarter of the clips on every seed (the
        # codecs are skewed, so a plain random quarter of the partitions
        # re-decodes 5-75% of the clips).
        parts = sorted(ctx.manifest["partitions"])
        by_codec: dict[str, list[str]] = {}
        for p in parts:
            by_codec.setdefault(p.rsplit("-b", 1)[0], []).append(p)
        rng = random.Random(ctx.seed)
        self.forget = sorted(
            p for group in by_codec.values() for p in rng.sample(group, len(group) // 4)
        )
        self.n_parts = len(parts)
        rows = Ledger(os.path.join(ctx.prereq_out, "ledger")).partitions
        self.forget_clips = sum(int(rows[p]["rows"]) for p in self.forget)

    def op(self, ctx: Context, i: int) -> OpResult:
        out = os.path.join(ctx.work, "ops", f"op{i}")
        shutil.copytree(ctx.prereq_out, out)
        cfg = RunConfig(data_dir=ctx.data_dir, out_dir=out, baseline_path=ctx.baseline)
        with ctx.tracer.span("op", op=i):
            with ctx.tracer.span("ledger.forget"):
                ledger = Ledger(os.path.join(out, "ledger"))
                ledger.forget(self.forget)
                ledger.save("forget")
            resumed = self.n_parts - len(self.forget)
            res, resume_s = _traced_run(ctx, "resume", cfg, self.forget_clips)
            errs = check_run(ctx, res, "resume", EXIT_OK, resumed)
            res, warm_s = _traced_run(ctx, "warm", cfg, 0)
            errs += check_run(ctx, res, "warm", EXIT_OK, self.n_parts)
        return OpResult(
            resume_s + warm_s,
            {"resume_s": resume_s, "gate_warm_s": warm_s},
            tree_bytes(out),
            errs,
        )


WORKLOADS = {w.name: w for w in (ColdValidate, GatedRerun)}
