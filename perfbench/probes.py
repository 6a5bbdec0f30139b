"""Layer probes for the traced run: direct calls into each module's public
functions, timed from here, with their outputs checked.

Each probe returns per-layer metrics and a list of check failures.  The
Spark probes force their lazy plans with an action inside the span, so a
span's duration is the work, not the plan building.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
from typing import Any, Callable
from urllib.parse import unquote, urlparse

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from codeclone_spark.functions.audio import (
    decode_map_in_pandas,
    facts_map_in_pandas,
    snr_map_in_pandas,
)
from codeclone_spark.operators.dedup import lsh_suppressed_buckets, lsh_verified_pairs
from codeclone_spark.operators.graph import connected_components
from codeclone_spark.operators.rules import (
    NEARDUP_RULE_ID,
    GateConfig,
    build_verdicts,
    evaluate_row_rules,
    evaluate_uniqueness,
    partition_aggregates,
    violation_key,
)
from codeclone_spark.operators.schema_diff import canonical_schema
from codeclone_spark.plans import baseline as bl
from codeclone_spark.plans.facts import (
    assemble_facts,
    decode_stage,
    join_meta,
    read_clips,
    read_fixtures_meta,
    read_fixtures_pcm,
    suspect_filter,
)
from codeclone_spark.plans.ledger import Ledger
from codeclone_spark.plans.render import render_outputs
from codeclone_spark.plans.report_query import query_run
from codeclone_spark.streaming import stream_validate

from perfbench import inputs
from perfbench.workloads import Context, planted_errors

FILE_REPS = 5  # repeats of the millisecond-scale driver-side file probes
NEARDUP_THRESHOLD = 0.9  # RunConfig.neardup_threshold default


def _repeat_ms(ctx: Context, name: str, fn: Callable[[], Any]) -> float:
    durs = []
    for _ in range(FILE_REPS):
        with ctx.tracer.span(name) as s:
            fn()
        durs.append(s.dur * 1000.0)
    return statistics.median(durs)


# ----------------------------------------------------------- kernels ------
def _read_clip_file(path: str) -> pd.DataFrame:
    """One hive-partitioned clips file, with ``part`` from its directory."""
    df = pq.read_table(path).to_pandas()
    df["part"] = os.path.basename(os.path.dirname(path)).split("=", 1)[1]
    return df


def spark_batches(ctx: Context) -> list[list[pd.DataFrame]]:
    """The clips as the Spark scan hands them to a mapInPandas kernel: for
    each input partition of the scan, its files' rows cut into batches of
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows."""
    cap = int(ctx.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    with ctx.tracer.span("audio.batches"):
        rows = (
            read_clips(ctx.spark, ctx.data_dir)
            .select(F.spark_partition_id().alias("pid"), F.input_file_name().alias("uri"))
            .distinct()
            .collect()
        )
    paths: dict[int, list[str]] = {}
    for r in rows:
        paths.setdefault(r["pid"], []).append(unquote(urlparse(r["uri"]).path))
    if len(rows) != len({r["uri"] for r in rows}):
        raise RuntimeError("a clips file spans several Spark input partitions")
    out = []
    for pid in sorted(paths):
        df = pd.concat([_read_clip_file(p) for p in sorted(paths[pid])], ignore_index=True)
        out.append([df.iloc[k : k + cap].reset_index(drop=True) for k in range(0, len(df), cap)])
    return out


def _kernel(
    ctx: Context, name: str, fn, parts: list[list[pd.DataFrame]]
) -> tuple[pd.DataFrame, float]:
    """Run one mapInPandas body in this thread, called once per input
    partition over its batches, as a Spark task calls it."""
    rows = sum(len(b) for batches in parts for b in batches)
    with ctx.tracer.span(name, rows=rows) as s:
        out = pd.concat([o for batches in parts for o in fn(iter(batches))], ignore_index=True)
    return out, s.dur * 1000.0 / max(rows, 1)


def _map_batches(parts, fn) -> list[list[pd.DataFrame]]:
    """*fn* applied to every batch, dropping batches and partitions it
    empties."""
    out = []
    for batches in parts:
        kept = [b for b in map(fn, batches) if len(b)]
        if kept:
            out.append(kept)
    return out


def kernel_probe(ctx: Context, spark_facts: dict[str, tuple]) -> tuple[dict, list[str]]:
    """Time the decode, SNR and fused facts kernels outside Spark and check
    their pcm_sha256 and snr_db against the Spark path's facts."""
    parts = spark_batches(ctx)
    meta = pq.read_table(os.path.join(ctx.data_dir, "fixtures_ref.parquet")).to_pandas()
    pcm = pq.read_table(
        os.path.join(ctx.data_dir, "fixtures_pcm"), columns=["clip_id", "pcm_ref"]
    ).to_pandas()
    fx = meta.rename(columns={"pcm_sha256": "fx_sha256"}).merge(pcm, on="clip_id", how="left")

    decoded, decode_ms = _kernel(ctx, "audio.decode", decode_map_in_pandas, parts)
    d = decoded[["clip_id", "decode_ok", "pcm_sha256"]].merge(
        fx[["clip_id", "fx_sha256"]], on="clip_id", how="left"
    )
    sus_ids = set(
        d.loc[
            d["decode_ok"] & d["fx_sha256"].notna() & (d["pcm_sha256"] != d["fx_sha256"]),
            "clip_id",
        ]
    )
    # phase C keeps the scan's partitioning: the suspect ids and the
    # fixture PCM are broadcast into it
    sus_parts = _map_batches(
        parts,
        lambda b: b.loc[b["clip_id"].isin(sus_ids), ["clip_id", "bytes", "codec"]].merge(
            pcm, on="clip_id"
        ),
    )
    snr, snr_ms = _kernel(ctx, "audio.snr", snr_map_in_pandas, sus_parts)

    def with_fixtures(b: pd.DataFrame) -> pd.DataFrame:
        joined = b.merge(fx, on="clip_id", how="left")
        for col in fx.columns:  # Arrow hands the kernel None for a missing fixture
            joined[col] = joined[col].astype(object).where(joined[col].notna(), None)
        return joined

    facts, facts_ms = _kernel(
        ctx, "audio.facts", facts_map_in_pandas, _map_batches(parts, with_fixtures)
    )

    errs = []
    for label, frame in (("decode", decoded), ("facts", facts)):
        bad = [
            cid
            for cid, sha in zip(frame["clip_id"], frame["pcm_sha256"])
            if spark_facts[cid][0] != (None if pd.isna(sha) else sha)
        ]
        if bad:
            errs.append(f"audio.{label}: pcm_sha256 differs from Spark on {len(bad)} clips")
    bad = [cid for cid, v in zip(snr["clip_id"], snr["snr_db"]) if spark_facts[cid][1] != v]
    if bad or set(snr["clip_id"]) != sus_ids:
        errs.append(f"audio.snr: snr_db differs from Spark on {len(bad)} clips")
    return {
        "audio.decode_ms_per_clip": decode_ms,
        "audio.snr_ms_per_clip": snr_ms,
        "audio.facts_ms_per_clip": facts_ms,
    }, errs


# ------------------------------------------------------ facts + rules -----
def facts_rules_probe(ctx: Context) -> tuple[dict, list[str], dict[str, tuple]]:
    spark, tr = ctx.spark, ctx.tracer
    clips = read_clips(spark, ctx.data_dir)
    meta = read_fixtures_meta(spark, ctx.data_dir)
    pcm = read_fixtures_pcm(spark, ctx.data_dir)
    with tr.span("facts.decode_stage") as s_dec:
        decoded = decode_stage(clips).persist()
        n = decoded.count()
    with tr.span("facts.assemble") as s_asm:
        sus = suspect_filter(join_meta(decoded, meta))
        sus_parts = sorted(r["part"] for r in sus.select("part").distinct().collect())
        n_sus = sus.count()
        facts = assemble_facts(decoded, clips, meta, pcm, suspect_parts=sus_parts).persist()
        facts.count()
    with tr.span("check.facts"):
        spark_facts = {
            r["clip_id"]: (r["pcm_sha256"], r["snr_db"])
            for r in facts.select("clip_id", "pcm_sha256", "snr_db").collect()
        }
    with tr.span("rules.row_rules") as s_rows:
        counts = (
            evaluate_row_rules(facts)
            .groupBy("partition", "rule_id")
            .agg(F.count(F.lit(1)).alias("n_viol"))
            .collect()
        )
    with tr.span("rules.partition_aggs") as s_aggs:
        part_rows = [(r["part"], int(r["rows"])) for r in partition_aggregates(facts).collect()]
    with tr.span("rules.uniqueness") as s_uniq:
        n_dups = evaluate_uniqueness(facts).count()
    with tr.span("rules.verdicts") as s_verd:
        counts_df = spark.createDataFrame(
            [(r["partition"], r["rule_id"], r["n_viol"], r["n_viol"]) for r in counts],
            "partition string, rule_id string, n_viol long, n_new long",
        )
        rows_df = spark.createDataFrame(part_rows, "part string, rows long")
        n_failed = build_verdicts(counts_df, rows_df, GateConfig()).filter(~F.col("pass")).count()
    facts.unpersist()
    decoded.unpersist()

    by_rule: dict[str, int] = {}
    for r in counts:
        by_rule[r["rule_id"]] = by_rule.get(r["rule_id"], 0) + int(r["n_viol"])
    by_rule["uniq:clip_id"] = n_dups
    errs = [f"rules: {e}" for e in planted_errors(by_rule, ctx.manifest)]
    if n != ctx.clips:
        errs.append(f"facts: {n} rows != {ctx.clips} clips")
    if n_failed == 0:
        errs.append("rules.verdicts: planted violations failed no gate")
    return {
        "facts.decode_stage_s": s_dec.dur,
        "facts.assemble_s": s_asm.dur,
        "facts.suspect_share": n_sus / max(n, 1),
        "rules.row_rules_s": s_rows.dur,
        "rules.partition_aggs_s": s_aggs.dur,
        "rules.uniqueness_s": s_uniq.dur,
        "rules.verdicts_s": s_verd.dur,
    }, errs, spark_facts


# ------------------------------------ ledger, baseline, render, query -----
def files_probe(ctx: Context, probe_dir: str) -> tuple[dict, list[str]]:
    """Driver-side file layers over a copy of the prerequisite run's out_dir."""
    out = os.path.join(probe_dir, "out")
    shutil.copytree(ctx.prereq_out, out)
    with open(os.path.join(out, "report.json")) as f:
        report = json.load(f)
    root = os.path.join(out, "ledger")
    load_ms = _repeat_ms(ctx, "ledger.load", lambda: Ledger(root))

    def _save() -> None:
        led = Ledger(root)
        for p, e in sorted(led.partitions.items()):
            led.record(p, e)
        led.save("probe")

    save_ms = _repeat_ms(ctx, "ledger.save", _save)
    errs = []
    if sorted(Ledger(root).partitions) != sorted(ctx.manifest["partitions"]):
        errs.append("ledger: re-saved ledger lost partitions")

    with ctx.tracer.span("baseline.keys"):
        viol = ctx.spark.read.parquet(os.path.join(out, "violations"))
        viol = viol.filter(F.col("rule_id") != NEARDUP_RULE_ID)
        keys = [r["vkey"] for r in viol.select(violation_key(viol).alias("vkey")).distinct().collect()]
        schema = canonical_schema(read_clips(ctx.spark, ctx.data_dir))
    path = os.path.join(probe_dir, "baseline.json")
    m = report["metrics"]
    write_ms = _repeat_ms(
        ctx,
        "baseline.write",
        lambda: bl.write_baseline(
            path,
            stats=m["stats"],
            histograms=m["histograms"],
            uniqueness=m["uniqueness"],
            accepted_violations=keys,
            schema={"columns": schema, "partition_keys": ["part"]},
        ),
    )
    load_bl_ms = _repeat_ms(ctx, "baseline.load", lambda: bl.load_baseline(path))
    snap, trust = bl.load_baseline(path)
    if not trust.trusted or len(snap["accepted_violations"]) != len(keys):
        errs.append(f"baseline: round trip not trusted ({trust.reason})")

    render_ms = _repeat_ms(ctx, "render", lambda: render_outputs(out, ["md", "sarif", "text"]))
    query_ms = _repeat_ms(ctx, "report_query", lambda: query_run(out, failed_only=True))
    q = query_run(out, limit=0)
    if q["violations"]["n_exemplar_rows"] != sum(report["findings"]["by_rule"].values()):
        errs.append("report_query: exemplar rows do not add up to the report totals")
    return {
        "ledger.load_ms": load_ms,
        "ledger.save_ms": save_ms,
        "baseline.load_ms": load_bl_ms,
        "baseline.write_ms": write_ms,
        "render.ms": render_ms,
        "report_query.ms": query_ms,
    }, errs


# --------------------------------------------------------- near-dup -------
def dedup_probe(ctx: Context, probe_dir: str) -> tuple[dict, list[str]]:
    """LSH -> verify -> connected components over the corpus transcripts
    with planted near-dup groups (asserted recovered), a chain (its
    component count reported) and an over-cap boilerplate group (its
    suppressed docs reported)."""
    spark, tr = ctx.spark, ctx.tracer
    pdf, groups, chain = inputs.neardup_docs(ctx.data_dir, ctx.seed)
    docs = spark.createDataFrame(pdf, "doc_id string, transcript string")
    scratch = os.path.join(probe_dir, "neardup_scratch")
    with tr.span("dedup.lsh_verified_pairs") as s_lsh:
        lsh_verified_pairs(
            docs, "doc_id", "transcript", threshold=NEARDUP_THRESHOLD, scratch_dir=scratch
        ).write.parquet(os.path.join(scratch, "pairs"))
    with tr.span("check.dedup.pairs"):
        n_cands = spark.read.parquet(os.path.join(scratch, "cands")).count()
        pairs = spark.read.parquet(os.path.join(scratch, "pairs"))
        n_pairs = pairs.count()
    with tr.span("graph.cc") as s_cc:
        connected_components(pairs, scratch_dir=scratch).write.parquet(
            os.path.join(scratch, "components")
        )
    with tr.span("check.dedup.components"):
        comps = spark.read.parquet(os.path.join(scratch, "components")).collect()
    with tr.span("dedup.suppressed"):
        hot = lsh_suppressed_buckets(docs, "doc_id", "transcript").collect()

    members: dict[str, set[str]] = {}
    label: dict[str, str] = {}
    for r in comps:
        members.setdefault(r["cluster_id"], set()).add(r["id"])
        label[r["id"]] = r["cluster_id"]
    errs = [
        f"dedup: planted group {g[0]} not recovered"
        for g in groups
        if members.get(g[0]) != set(g)
    ]
    # Docs lost to the cap: within one band every doc sits in one bucket,
    # so the per-band sum counts distinct docs; report the worst band.
    per_band: dict[int, int] = {}
    for r in hot:
        per_band[r["band"]] = per_band.get(r["band"], 0) + int(r["n"])
    return {
        "dedup.lsh_verified_pairs_s": s_lsh.dur,
        "dedup.candidates": n_cands,
        "dedup.verified_pairs": n_pairs,
        "dedup.verify_yield": n_pairs / max(n_cands, 1),
        "dedup.suppressed_buckets": len(hot),
        "dedup.suppressed_docs": max(per_band.values(), default=0),
        "graph.cc_s": s_cc.dur,
        "graph.cc_rounds": len(glob.glob(os.path.join(scratch, "round=*"))),
        "graph.components": len(members),
        # Recall, reported rather than asserted: a sliding-window chain can
        # lose every pair across one cut in LSH (seen on some seeds).
        "dedup.chain_components": len({label.get(c, c) for c in chain}),
    }, errs


# --------------------------------------------------------- streaming ------
def stream_probe(ctx: Context, probe_dir: str) -> tuple[dict, list[str]]:
    """Drain the corpus, staged as small files, through ``stream_validate``
    and compare its row-rule counts with the batch run's."""
    stream_dir = os.path.join(probe_dir, "stream_in")
    out = os.path.join(probe_dir, "stream_out")
    with ctx.tracer.span("stream.stage"):
        inputs.stage_stream(ctx.data_dir, stream_dir)
    with ctx.tracer.span("stream.drain") as s:
        q = stream_validate(
            ctx.spark, stream_dir, ctx.data_dir, out, os.path.join(probe_dir, "stream_ckpt")
        )
        q.awaitTermination(120)
    errs = []
    if q.isActive:
        q.stop()
        errs.append("stream: did not drain within 120 s")
    if q.exception() is not None:
        errs.append(f"stream: {q.exception()}")
    progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
    add = [p["durationMs"]["addBatch"] for p in progress]
    overhead = [p["durationMs"]["triggerExecution"] - p["durationMs"]["addBatch"] for p in progress]
    with ctx.tracer.span("check.stream"):
        got = {
            r["rule_id"]: int(r["n"])
            for r in ctx.spark.read.parquet(out)
            .groupBy("rule_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
    want = {
        k: v for k, v in ctx.ref_by_rule.items() if k not in ("uniq:clip_id", NEARDUP_RULE_ID)
    }
    if got != want:
        errs.append(f"stream: row-rule counts {got} != batch {want}")
    if sum(p["numInputRows"] for p in progress) != ctx.clips:
        errs.append("stream: micro-batches did not cover the corpus")
    return {
        "stream.drain_s": s.dur,
        "stream.batches": len(progress),
        "stream.add_batch_ms": statistics.median(add or [0]),
        "stream.trigger_overhead_ms": statistics.median(overhead or [0]),
    }, errs


def run_probes(ctx: Context, probe_dir: str) -> tuple[dict, list[str]]:
    metrics, errs, spark_facts = facts_rules_probe(ctx)
    for m, e in (
        kernel_probe(ctx, spark_facts),
        files_probe(ctx, probe_dir),
        dedup_probe(ctx, probe_dir),
        stream_probe(ctx, probe_dir),
    ):
        metrics |= m
        errs += e
    return metrics, errs
