"""End-to-end validation run: the reference pipeline re-expressed on Spark.

Stage map (reference §3.1 lifecycle -> ours; :func:`run` calls these
stage functions in order):

1. bootstrap       -> RunConfig; _parse_suppressions, _trust_baseline
2. discover        -> _discover: partition listing minus ledger's done set
3. process (map)   -> _run_wave: plans/facts.py:build_facts (decode, meta
                      join, SNR for sha-mismatch suspects)
4. analyze (reduce)-> _run_wave: one-pass row rules, one-groupBy partition
                      partials; _read_ledger; _uniqueness: global exact
                      uniqueness (column-pruned scan); _neardup (opt-in)
5. baseline diff   -> _counts: accepted-violation anti-join (broadcast);
                      _table_verdicts: drift KS/PSI, schema, near-dup
6. report          -> _write_sinks; _report: canonical JSON document with
                      integrity digest; _update_baseline
7. gate            -> per-(partition, rule) verdicts; exit codes 0/2/3

Waves: partitions process in deterministic chunks; each wave durably writes
its violations + ledger entries before the next starts, so a killed run
resumes by pruning done partitions at the scan (reference warm-path
semantics, core/discovery.py:118-190).  Default is one wave = full cluster
parallelism; waves exist for resumability, not scheduling.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any, Callable, Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from codeclone_spark import (
    EXIT_CONTRACT_ERROR,
    EXIT_GATE_FAILURE,
    EXIT_OK,
    REPORT_SCHEMA_VERSION,
    ENGINE_NAME,
    ENGINE_VERSION,
)
from codeclone_spark.operators.rules import (
    ALLOWED_SR,
    DRIFT_RULE_IDS,
    DUR_BIN_EDGES,
    NEARDUP_RULE_ID,
    NUMERIC_STATS_COLUMNS,
    RULE_SEVERITY,
    SCHEMA_RULE_IDS,
    TABLE_RULE_IDS,
    GateConfig,
    build_verdicts,
    evaluate_row_rules,
    evaluate_uniqueness,
    partition_aggregates,
    qsketch_counts_multi,
    violation_key,
)
from codeclone_spark.operators.schema_diff import canonical_schema, schema_diff
from codeclone_spark.plans import baseline as bl
from codeclone_spark.plans import health
from codeclone_spark.plans.facts import (
    build_facts,
    read_clips,
    read_fixtures_meta,
    read_fixtures_pcm,
)
from codeclone_spark.plans.ledger import (
    Ledger,
    accepted_set_sha,
    merge_partials,
    partition_data_signature,
)
from codeclone_spark.session import local_frame
from codeclone_spark.sources import validate_clips_schema, validate_data_dir

TABLE_SCOPE = "<table>"

# Ranked triage queue length (reference hotlist caps, report/suggestions.py)
REVIEW_QUEUE_K = 10
_SEV_WEIGHT = {"error": 3, "warn": 1}

# Remediation hints per rule (reference report/suggestions.py maps finding
# kinds to suggested actions the same way); keyed by exact rule_id with a
# family fallback.  Deterministic strings — they land in the canonical
# report and its golden snapshots.
_RULE_ACTIONS = {
    "audio:undecodable": "re-encode or quarantine the payloads; audit the "
                         "ingest codec pipeline for this partition",
    "audio:snr": "re-master from source or refresh the reference fixture "
                 "PCM for these clips",
    "audio:len_consistency": "recompute header dur_ms/sr_hz from the "
                             "decoded stream at ingest",
    "audio:transcript_eq": "re-run transcription or update fixtures if "
                           "the new transcripts are authoritative",
    "audio:silence": "review capture gain staging; drop or re-record "
                     "silent clips",
    "audio:clipping": "review capture gain staging; re-normalize clipped "
                      "clips",
    "ref:fixture_missing": "regenerate reference fixtures for this "
                           "partition (or gate ingest on fixture delivery)",
    "uniq:clip_id": "deduplicate at ingest; add a clip_id uniqueness "
                    "constraint upstream",
    "neardup:transcript": "review the new clone groups; purge via the "
                          "dedup keep-list manifest or accept them with "
                          "--update-baseline",
    "stats:null:dur_ms": "backfill dur_ms upstream or drop rows at ingest",
    "stats:null:transcript": "backfill transcripts upstream or route to "
                             "the transcription queue",
    "stats:range:dur_ms": "clamp or quarantine out-of-range durations at "
                          "ingest",
    "stats:domain:sr_hz": "resample to an allowed rate or extend the "
                          "allowed set deliberately",
    "stats:domain:codec": "transcode to an allowed codec or extend the "
                          "allowed set deliberately",
}


def _suggested_action(rule_id: str) -> str:
    return _RULE_ACTIONS.get(
        rule_id, "inspect exemplar violations and file a data-quality issue"
    )


@dataclass
class RunConfig:
    data_dir: str
    out_dir: str
    baseline_path: str | None = None
    gating: bool = True
    update_baseline: bool = False
    wave_size: int | None = None  # None -> single wave (max parallelism)
    # Partitions matching this regex are the TEST lane (reference
    # is_test_filepath routing): fully validated and reported, but their
    # gate verdicts are informational — they never fail a run.
    test_lane_pattern: str | None = None
    # Per-(rule, partition) suppression directives (reference
    # analysis/suppressions.py index, applied in metrics/dead_code.py:82-101):
    # each entry is "rule_id:partition" ("*" partition = all partitions).
    # Matching NEW violations are treated as accepted debt for gating —
    # still reported, counted under findings.suppressed_by_directive.
    suppressions: list[str] = field(default_factory=list)
    # Iceberg catalog identifier of the clips table (e.g. "cat.db.clips").
    # When set AND an Iceberg catalog is live, resume validity uses the
    # table's current snapshot id (one catalog call for all partitions)
    # instead of the local file-metadata fold — object stores don't provide
    # the stable mtimes the local fold depends on.
    iceberg_table: str | None = None
    # Final report sinks: False (default) writes one deterministically
    # sorted file per sink (golden-stable local layout); True partitions
    # both sinks by rule_id so the write fans out across tasks — at 10^6
    # partitions the dense verdict grid is O(partitions x rules) rows and
    # must not funnel through one writer.  The run digest is per-rule and
    # layout-independent either way (verified equal in tests).
    partitioned_sinks: bool = False
    # Near-dup transcript clone groups (the reference's core clone-group
    # loop: pairwise matches -> transitive groups -> baseline diff ->
    # fail-on-new gate, baseline/diff.py:23-32 + findings.py:96-115).
    # Opt-in: the stage adds an LSH + verify + connected-components pass
    # over every transcript, a separately-benched cost the headline
    # validation pass should not silently absorb.
    neardup_transcript: bool = False
    # exact-Jaccard acceptance threshold for a verified near-dup pair
    neardup_threshold: float = 0.9
    # LSH bucket cap (caps as backpressure) for the candidate stage
    neardup_max_bucket: int = 1024
    # bound the LSH aggregation buffers too (adversarial boilerplate
    # corpora; second pass over the signature pipeline, identical output)
    neardup_prefilter_hot: bool = False
    # Per-(rule, partition) violation exemplar cap: a pathological table
    # (e.g. an all-null column at 10^12 rows) must not materialize 10^12
    # violation rows.  Gate counts/verdicts/report totals use TRUE pre-cap
    # tallies (ledger rule_counts); excess exemplar rows are reported as
    # findings.suppressed_exemplars (reference suppressed_* counts, SURVEY
    # §2.8).  --update-baseline bypasses the cap so accepted keys stay
    # complete.
    exemplar_cap: int = 10_000
    # --update-baseline: accepted sets up to this size are inlined in the
    # baseline JSON (broadcast-join shape); larger sets are written as a
    # sorted parquet side table next to the baseline and anti-joined
    # distributively — the keys never materialize on the driver.
    accepted_inline_max: int = 10_000
    gates: GateConfig = field(default_factory=GateConfig)
    created_at: str = bl.DEFAULT_CREATED_AT


@dataclass
class RunResult:
    exit_code: int
    report: dict[str, Any]
    violations_path: str
    verdicts_path: str


def _chunks(items: list[str], size: int | None) -> list[list[str]]:
    if not items:
        return []
    if size is None or size >= len(items):
        return [items]
    return [items[i : i + size] for i in range(0, len(items), size)]


def _round_floats(obj: Any, nd: int = 6) -> Any:
    if isinstance(obj, float):
        return round(obj, nd)
    if isinstance(obj, dict):
        return {k: _round_floats(v, nd) for k, v in obj.items()}
    if isinstance(obj, list):
        return [_round_floats(v, nd) for v in obj]
    return obj


def _overlap(*thunks: Callable[[], Any]) -> list[Any]:
    """Run independent Spark actions on their own threads and return their
    results in argument order: the second job back-fills the first's
    straggler tail (guide §2.6 overlapping independent jobs).  Every result
    is read, so an exception in any thunk is raised here."""
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]


def _count_null(col: str) -> Column:
    """Rows of the group whose *col* is null: the NEW (not baseline-known)
    findings after a left join against an accepted-key frame."""
    return F.sum(F.when(F.col(col).isNull(), 1).otherwise(0))


def _sorted_digest(item: Column) -> Column:
    """sha256 over the group's *item* strings, sorted and ';'-joined (null
    items are left out): independent of row order and partitioning."""
    return F.sha2(F.concat_ws(";", F.sort_array(F.collect_list(item))), 256)


def _fold_digests(items: Iterable[str]) -> str:
    """Driver-side fold of per-group digests into one order-free digest."""
    return hashlib.sha256(";".join(sorted(items)).encode()).hexdigest()


class _Phases:
    """Wall seconds per runner phase (``report["phases"]``), summed over
    waves.  The key order is an interface: perfbench's tracer rebuilds each
    phase's window from it (pinned by tests/test_runner_phases.py)."""

    def __init__(self) -> None:
        self.t0 = self.last = time.monotonic()
        self.seconds: dict[str, float] = {}

    def mark(self, name: str) -> None:
        now = time.monotonic()
        self.seconds[name] = round(self.seconds.get(name, 0.0) + (now - self.last), 3)
        self.last = now


@dataclass
class _Inputs:
    clips: DataFrame
    fixtures_meta: DataFrame
    fixtures_pcm: DataFrame
    current_schema: dict[str, str]
    all_parts: list[str]
    lane_parts: set[str]
    data_sigs: dict[str, str]
    accepted_sha: str


@dataclass
class _LedgerView:
    """Everything the post-wave stages read from the ledger, gathered in
    one pass over the listed partitions (_read_ledger)."""

    table_stats: dict[str, Any] = field(default_factory=dict)
    quantiles: dict[str, dict[str, float | None]] = field(default_factory=dict)
    wave_parts: dict[str, list[str]] = field(default_factory=dict)
    count_rows: list[tuple[str, str, int, int]] = field(default_factory=list)
    part_rows: list[tuple[str, int]] = field(default_factory=list)
    rule_counts: dict[str, int] = field(default_factory=dict)
    suppressed: int = 0
    rows_test_lane: int = 0


@dataclass
class _NearDup:
    clusters: DataFrame
    viol: DataFrame
    metrics: dict[str, Any]


def run(spark: SparkSession, cfg: RunConfig) -> RunResult:
    """Validate ``cfg.data_dir`` end to end (stage map: module docstring)."""
    clock = _Phases()
    directives = _parse_suppressions(cfg.suppressions)
    os.makedirs(cfg.out_dir, exist_ok=True)
    ledger = Ledger(os.path.join(cfg.out_dir, "ledger"))
    trusted = _trust_baseline(cfg)
    if isinstance(trusted, RunResult):
        return trusted
    snapshot, trust, warnings = trusted
    inp = _discover(spark, cfg, snapshot)
    clock.mark("discovery")
    done = ledger.done_parts(inp.data_sigs, inp.accepted_sha) & set(inp.all_parts)
    todo = [p for p in inp.all_parts if p not in done]
    acc_df = _accepted_frame(spark, cfg, snapshot)
    for wave in _chunks(todo, cfg.wave_size):
        _run_wave(cfg, ledger, inp, acc_df, wave, clock)
    view = _read_ledger(ledger, inp.all_parts, inp.lane_parts)
    approx_ndv, uniq_viol = _uniqueness(inp.clips)
    nd = None
    if cfg.neardup_transcript:
        nd = _neardup(spark, cfg, ledger, inp, snapshot)
        clock.mark("neardup_clusters")
    all_viol, counts, n_supp_directive = _counts(
        spark, cfg, acc_df, uniq_viol, view, nd, directives
    )
    clock.mark("uniqueness_and_ndv")
    part_rows = local_frame(spark, view.part_rows, "part string, rows long")
    verdicts = build_verdicts(counts, part_rows, cfg.gates, test_lane=inp.lane_parts)
    table_verdicts, gate_metrics = _table_verdicts(
        spark, cfg, snapshot, view, inp.current_schema, nd, directives, warnings
    )
    review_queue = _review_queue(counts)
    paths = _write_sinks(cfg, all_viol, verdicts.unionByName(table_verdicts))
    # both frames were read by the review queue and the sinks
    uniq_viol.unpersist()
    counts.unpersist()
    clock.mark("final_writes")
    report = _report(
        spark, cfg, clock, paths, inp, view, resumed=len(done), approx_ndv=approx_ndv,
        n_supp_directive=n_supp_directive, review_queue=review_queue,
        gate_metrics=gate_metrics, nd=nd, trust=trust, warnings=warnings,
    )
    if cfg.update_baseline and cfg.baseline_path:
        _update_baseline(cfg, snapshot, inp, all_viol, nd, report)
        return RunResult(EXIT_OK, report, *paths)
    failed = report["findings"]["failed_gates"]
    return RunResult(EXIT_GATE_FAILURE if failed else EXIT_OK, report, *paths)


def _parse_suppressions(suppressions: list[str]) -> list[tuple[str, str]]:
    """Suppression directives, parsed and validated up front: a malformed or
    ill-scoped directive must fail before any cluster compute is spent."""
    directives: list[tuple[str, str]] = []
    for s in suppressions:
        # rule ids contain ':' themselves — split on the LAST colon
        rid, _, part = s.rpartition(":")
        if not rid or not part or not re.match(r"^[A-Za-z0-9:_\-]+$", rid):
            raise ValueError(f"malformed suppression {s!r} (rule_id:partition)")
        # Partition-scoped directives never match table-scope rules:
        # uniq:clip_id (and near-dup clusters) are attributed to
        # min(part) for reporting only, so "rule:<part>" would suppress
        # groups spanning OTHER partitions.  Only '*' may suppress them.
        if part != "*" and rid in (TABLE_RULE_IDS + [NEARDUP_RULE_ID]):
            raise ValueError(
                f"suppression {rid}:{part}: table-scope rules accept "
                "only the '*' partition"
            )
        directives.append((rid, part))
    return directives


def _trust_baseline(cfg: RunConfig) -> tuple[dict | None, bl.Trust, list[str]] | RunResult:
    """Stage 5a: baseline trust, checked BEFORE compute: fail-closed must
    not waste a cluster run (reference baseline_state.py:138-170).  Returns
    the usable snapshot (None when absent or degraded), the trust verdict
    and the warnings so far, or the contract-error result."""
    if not cfg.baseline_path:
        return None, bl.Trust(False, "no baseline configured"), []
    snapshot, trust = bl.load_baseline(cfg.baseline_path)
    if trust.trusted:
        return snapshot, trust, []
    if snapshot is None and trust.reason == "baseline missing":
        return None, trust, ["baseline missing: diff/drift disabled"]
    if cfg.gating and not cfg.update_baseline:
        # fail closed: untrusted baseline + gating requested
        report = {
            "report_schema_version": REPORT_SCHEMA_VERSION,
            "meta": _meta(cfg),
            "error": f"CONTRACT_ERROR: {trust.reason}",
        }
        return RunResult(EXIT_CONTRACT_ERROR, report, "", "")
    return None, trust, [f"untrusted baseline ({trust.reason}): degraded"]


def _discover(spark: SparkSession, cfg: RunConfig, snapshot: dict | None) -> _Inputs:
    """Read and validate the inputs, list the partitions and sign them."""
    validate_data_dir(cfg.data_dir)
    clips = read_clips(spark, cfg.data_dir)
    validate_clips_schema(clips)
    current_schema = canonical_schema(clips)
    fixtures_meta = read_fixtures_meta(spark, cfg.data_dir)
    fixtures_pcm = read_fixtures_pcm(spark, cfg.data_dir)

    # --- stage 2: discovery. For local hive layouts, partition values come
    # from the directory listing (pure metadata, no Spark job — the Iceberg
    # analog reads the partition manifest). Fallback: partition-column scan.
    clips_root = os.path.join(cfg.data_dir, "clips")
    if os.path.isdir(clips_root):
        all_parts = sorted(
            d.split("=", 1)[1]
            for d in os.listdir(clips_root)
            if d.startswith("part=")
        )
    else:
        all_parts = sorted(
            r["part"] for r in clips.select("part").distinct().collect()
        )
    lane_parts: set[str] = set()
    if cfg.test_lane_pattern:
        lane_rx = re.compile(cfg.test_lane_pattern)
        lane_parts = {p for p in all_parts if lane_rx.search(p)}
    # Resume validity = ledger entry exists AND the partition's data
    # signature still matches AND the entry's known/new split was computed
    # against the SAME accepted set (reference cache-probe semantics,
    # core/discovery.py:118-190: a cache hit requires the content signature
    # to match, not just the key to exist).
    # Signature source: a live Iceberg catalog supplies ONE table-wide
    # snapshot id (immutable; any commit changes it) — the authoritative
    # content signature on the production target, where file mtimes are
    # meaningless.  Otherwise fold local (name, size, mtime_ns) triples per
    # partition (plans/ledger.py).
    snap_sig = None
    if cfg.iceberg_table:
        from codeclone_spark.sources import iceberg as _ice

        snap_sig = _ice.snapshot_data_signature(spark, cfg.iceberg_table)
    data_sigs = (
        {p: snap_sig for p in all_parts}
        if snap_sig is not None
        else {p: partition_data_signature(clips_root, p) for p in all_parts}
    )
    # Baseline identity for the ledger's known/new split validity: sidecar
    # baselines carry their own streamed sha, inline sets hash here.
    accepted_ref = (snapshot or {}).get("accepted_ref") or {}
    accepted_sha = (
        accepted_ref["sha256"][:16]
        if accepted_ref
        else accepted_set_sha((snapshot or {}).get("accepted_violations", []))
    )
    return _Inputs(
        clips, fixtures_meta, fixtures_pcm, current_schema,
        all_parts, lane_parts, data_sigs, accepted_sha,
    )


def _accepted_frame(spark: SparkSession, cfg: RunConfig, snapshot: dict | None) -> DataFrame:
    """(vkey, accepted) rows of the baseline's accepted violations.

    Accepted-violation keys join once per wave to split true violation
    counts into known/new BEFORE the exemplar cap, so gate arithmetic
    never sees truncated counts (stage 5b reuses it).  Inline sets are a
    driver-literal broadcast; sidecar sets (large debt) are a parquet scan
    joined distributively — the keys never materialize on the driver."""
    accepted_ref = (snapshot or {}).get("accepted_ref") or {}
    if accepted_ref:
        return (
            spark.read.parquet(
                os.path.join(
                    os.path.dirname(cfg.baseline_path) or ".",
                    accepted_ref["path"],
                )
            )
            .select("vkey")
            .withColumn("accepted", F.lit(True))
        )
    accepted = sorted((snapshot or {}).get("accepted_violations", []))
    return F.broadcast(
        local_frame(
            spark, [(k,) for k in accepted] or [("\x00never",)], "vkey string"
        ).withColumn("accepted", F.lit(True))
    )


def _run_wave(
    cfg: RunConfig, ledger: Ledger, inp: _Inputs, acc_df: DataFrame, wave: list[str], clock: _Phases
) -> None:
    """Stages 3-4 for one wave: facts, row rules and the partition partials,
    committed to the ledger together with the wave's exemplar rows."""
    wave_id = hashlib.sha1("|".join(wave).encode()).hexdigest()[:12]
    wave_path = os.path.join(cfg.out_dir, "waves", f"wave-{wave_id}")
    facts, decoded = build_facts(
        inp.clips, inp.fixtures_meta, inp.fixtures_pcm, parts=wave
    )
    facts = facts.persist()

    wave_t0 = time.monotonic()
    rule_stats = _wave_row_rules(cfg, facts, acc_df, wave, wave_path)
    clock.mark("wave_facts_and_row_rules")

    # The two remaining wave aggregations (main partition aggregates +
    # quantile-sketch partials) both read the already-filled facts
    # cache and are independent — overlap them (guide §2.6); see
    # rules.qsk_bin for why the sketch is a separate groupBy.
    aggs, qsk_rows = _overlap(
        lambda: partition_aggregates(facts).collect(),
        lambda: qsketch_counts_multi(facts, NUMERIC_STATS_COLUMNS).collect(),
    )
    nbins_by_col = {s.name: s.nbins for s in NUMERIC_STATS_COLUMNS}
    qsk: dict[tuple[str, str], list[int]] = {}  # (col, part) -> bin counts
    for r in qsk_rows:
        arr = qsk.setdefault((r["col"], r["part"]), [0] * nbins_by_col[r["col"]])
        arr[int(r["bin"])] = int(r["n"])
    clock.mark("wave_partition_aggs")
    # fold per-rule stats into per-partition ledger fields (driver-side,
    # wave-sized): true counts, suppressed exemplars, stable digest
    stats_by_part: dict[str, list[Any]] = {}
    for r in rule_stats:
        stats_by_part.setdefault(r["partition"], []).append(r)
    wave_elapsed_ms = int((time.monotonic() - wave_t0) * 1000)
    aggs_by_part = {row["part"]: row.asDict() for row in aggs}
    for part in wave:
        stats = stats_by_part.get(part, [])
        ledger.record(
            part,
            {
                "wave": f"wave-{wave_id}",
                "data_sig": inp.data_sigs.get(part, "absent"),
                "baseline_sha": inp.accepted_sha,
                **_partition_partials(aggs_by_part.get(part, {}), qsk, part),
                "violations": sum(int(r["n_viol"]) for r in stats),
                "suppressed": sum(int(r["n_viol"] - r["n_kept"]) for r in stats),
                "rule_counts": {
                    r["rule_id"]: [int(r["n_viol"]), int(r["n_new"])] for r in stats
                },
                "digest": (
                    _fold_digests(f"{r['rule_id']}:{r['digest']}" for r in stats)
                    if stats
                    else "0" * 64
                ),
                "elapsed_ms": wave_elapsed_ms,  # wave wall (shared)
            },
        )
    facts.unpersist()
    decoded.unpersist()
    ledger.save()  # durable commit point: wave outputs + entries together
    clock.mark("wave_ledger_digests")


def _wave_row_rules(
    cfg: RunConfig, facts: DataFrame, acc_df: DataFrame, wave: list[str], wave_path: str
) -> list[Any]:
    """Row-rule violations of one wave: writes the capped exemplar rows and
    returns the per-(partition, rule) stats rows."""
    viol = evaluate_row_rules(facts)
    # Exemplar cap = OUTPUT bound only (reference max_blocks/max_segments
    # caps, SURVEY §2.8).  True per-(rule, partition) counts — including
    # the baseline-accepted split — are aggregated from the UNCAPPED
    # frame in the same pass as the exemplar digest, so gate verdicts,
    # report totals and ledger metrics never see truncated numbers.
    # --update-baseline bypasses the cap: accepted keys must be complete.
    # cap in (0, None) = capping disabled (0 kept its historical
    # "uncapped" meaning; a run that truly wants zero exemplar rows
    # should post-filter the violations output, not zero the cap)
    cap = None if (cfg.update_baseline or not cfg.exemplar_cap) else cfg.exemplar_cap
    viol = viol.withColumn("vkey", violation_key(viol)).join(
        acc_df, "vkey", "left"
    )
    w = Window.partitionBy("rule_id", "partition").orderBy(
        "clip_id", "observed"
    )
    viol = viol.withColumn("_rk", F.row_number().over(w))
    keep = F.lit(True) if cap is None else (F.col("_rk") <= cap)
    viol = viol.withColumn("_keep", keep).persist()
    # ONE aggregation: true counts + new-vs-known split + suppressed +
    # per-(partition, rule) exemplar digest (digest input bounded by cap).
    stats = viol.groupBy("partition", "rule_id").agg(
        F.count(F.lit(1)).alias("n_viol"),
        _count_null("accepted").alias("n_new"),
        F.sum(F.col("_keep").cast("long")).alias("n_kept"),
        _sorted_digest(
            F.when(F.col("_keep"), F.concat_ws("|", "rule_id", "clip_id", "observed"))
        ).alias("digest"),
    )
    exemplars = (
        viol.filter(F.col("_keep"))
        .drop("vkey", "accepted", "_rk", "_keep")
        .repartition(1 if len(wave) <= 8 else 8)
        .write.mode("overwrite")
    )
    # Independent consumers of the cached viol frame (stats collect +
    # exemplar write): overlap them so the second job back-fills the
    # first's tail (guide §2.6).  Both may fill the persist, and on a
    # multi-executor cluster each may compute a partition on its own,
    # so `_rk` can break ties differently in the two jobs.  That is
    # safe without a cache-filling action first: `_rk` ties only rows
    # equal on (rule_id, partition, clip_id, observed), and `expected`
    # and `severity` are per-rule literals, so tied rows are identical
    # in every written column (and in vkey/accepted, derived from
    # them).  Any tie-break keeps the same multiset of rows, so the
    # digest always matches the exemplars written (pinned by
    # test_capped_digest_matches_written_rows_with_tied_clip_ids).
    rule_stats, _ = _overlap(
        stats.collect,
        lambda: exemplars.parquet(os.path.join(wave_path, "violations")),
    )
    viol.unpersist()
    return rule_stats


def _partition_partials(
    agg: dict[str, Any], qsk: dict[tuple[str, str], list[int]], part: str
) -> dict[str, Any]:
    """The mergeable stats fields of *part*'s ledger entry, from its
    partition_aggregates row *agg* and the wave's quantile-sketch counts.
    A listed part= directory with ZERO rows produces no aggregate row; it
    still needs a ledger entry or every resume would KeyError on it and
    the run could never converge, so with ``agg == {}`` every field takes
    its zero default."""
    return {
        "rows": agg.get("rows", 0),
        "transcript_null": agg.get("transcript_null", 0),
        "undecodable": agg.get("undecodable", 0),
        "approx_ndv": agg.get("approx_ndv", 0),
        "dur_hist": [
            int(x) for x in agg.get("dur_hist", [0] * (len(DUR_BIN_EDGES) - 1))
        ],
        "colstats": {
            spec.name: {
                "null": int(agg.get(f"{spec.name}_null", 0)),
                "min": agg.get(f"{spec.name}_min"),
                "max": agg.get(f"{spec.name}_max"),
                "mean": (
                    float(agg[f"{spec.name}_mean"])
                    if agg.get(f"{spec.name}_mean") is not None
                    else None
                ),
                "qsk": qsk.get((spec.name, part), [0] * spec.nbins),
            }
            for spec in NUMERIC_STATS_COLUMNS
        },
        "sr_counts": {str(v): int(agg.get(f"sr_{v}", 0)) for v in ALLOWED_SR},
    }


def _read_ledger(ledger: Ledger, all_parts: list[str], lane_parts: set[str]) -> _LedgerView:
    """One pass over the ledger entries of the listed partitions."""
    view = _LedgerView()
    entries = []
    for p in all_parts:
        e = ledger.partitions.get(p)
        view.part_rows.append((p, int((e or {}).get("rows", 0))))
        if e is None:
            continue  # missing-from-ledger guard (a part listed but never processed)
        entries.append(e)
        if "wave" in e:
            view.wave_parts.setdefault(e["wave"], []).append(p)
        for rid, (nv, nn) in sorted(e.get("rule_counts", {}).items()):
            view.count_rows.append((p, rid, int(nv), int(nn)))
            view.rule_counts[rid] = view.rule_counts.get(rid, 0) + int(nv)
        view.suppressed += int(e.get("suppressed", 0))
        if p in lane_parts:
            view.rows_test_lane += int(e.get("rows", 0))
    view.table_stats = merge_partials(entries)
    # table-level quantiles per registry column from the merged fixed-bin
    # sketches (mergeable across waves/resumes — the ledger never rescans
    # completed partitions)
    colstats = view.table_stats.get("colstats", {})
    view.quantiles = {
        spec.name: {
            p: bl.sketch_quantile(
                colstats.get(spec.name, {}).get("qsk", []), spec.bin_width, q
            )
            for p, q in (("p50", 0.5), ("p95", 0.95), ("p99", 0.99))
        }
        for spec in NUMERIC_STATS_COLUMNS
    }
    return view


def _uniqueness(clips: DataFrame) -> tuple[int, DataFrame]:
    """Stage 4c: global exact uniqueness — column-pruned scan over ALL
    partitions (dups can span waves/partitions; reading 2 string cols of a
    100 TB table is cheap relative to decode, and Catalyst prunes to just
    those columns — verified in tests via ReadSchema)."""
    ids_only = clips.select("clip_id", "part")
    approx_ndv = ids_only.agg(
        F.approx_count_distinct("clip_id").alias("ndv")
    ).collect()[0]["ndv"]
    # Persisted: the report phase runs three independent actions over this
    # frame (review-queue top-k, violations write, verdicts write) and each
    # would otherwise re-scan the full corpus ids and redo the dup groupBy;
    # the frame itself is tiny (dup exemplars only).  Unpersisted after the
    # final writes.
    return approx_ndv, evaluate_uniqueness(ids_only).persist()


def _neardup(
    spark: SparkSession, cfg: RunConfig, ledger: Ledger, inp: _Inputs, snapshot: dict | None
) -> _NearDup:
    """Stage 4d (opt-in): near-dup transcript clone groups — the
    reference's core clone-group loop (pairwise matches -> transitive
    groups -> baseline diff -> fail-on-new gate, baseline/diff.py:23-32 +
    report/document/findings.py:96-115) over the composed dedup ladder.
    Clusters are keyed "<min_member_id>|<size>" (the sorted-group-id
    convention, clone_baseline.py:511-527; SIZE is part of the identity,
    so a cluster that grows or shrinks re-gates as NEW), diffed against
    the baseline's accepted `clones` section, and surfaced as one
    violation row per cluster plus ONE table-scope verdict (drift-rule
    convention — clusters span partitions, so the dense per-partition
    grid must not claim them; `partition` on the violation row is
    min(part) for reporting only)."""
    # The ladder (LSH -> exact verify -> connected components) is the
    # run's most expensive stage and is CORPUS-GLOBAL, so it gets its
    # own signature-keyed resume: the baseline-independent cluster
    # frame (cluster_id, size, partition) is materialized once per
    # (corpus data signature, ladder config) and reused on re-runs —
    # only the cheap known/new join against the baseline's clones
    # section re-derives (a baseline accept cycle must NOT force a
    # re-cluster; neither must a crash between sinks).  The ledger
    # entry rides a reserved pseudo-partition key (NUL byte — can't
    # collide with a directory name) in the same append-only segments,
    # and resume additionally demands the parquet _SUCCESS marker so a
    # torn write never passes.
    nd_key = "\x00neardup"
    nd_scratch = os.path.join(cfg.out_dir, "neardup_scratch")
    nd_clusters_path = os.path.join(cfg.out_dir, "neardup_clusters")
    nd_sig = hashlib.sha256(
        json.dumps(
            {
                "sigs": inp.data_sigs,
                "threshold": cfg.neardup_threshold,
                "max_bucket": cfg.neardup_max_bucket,
            },
            sort_keys=True,
        ).encode()
    ).hexdigest()
    nd_prev = ledger.partitions.get(nd_key)
    nd_resumed = bool(
        nd_prev
        and nd_prev.get("neardup_sig") == nd_sig
        and os.path.exists(os.path.join(nd_clusters_path, "_SUCCESS"))
    )
    if not nd_resumed:
        from codeclone_spark.operators.dedup import lsh_verified_pairs
        from codeclone_spark.operators.graph import connected_components

        ndocs = inp.clips.select(
            F.col("clip_id").alias("doc_id"), "part", "transcript"
        ).filter(
            F.col("transcript").isNotNull() & (F.length("transcript") > 0)
        )
        # one scratch dir for the whole ladder: the verified-pairs
        # stage materializes its LSH candidates there ("cands" —
        # exchange reuse does NOT survive AQE at scale, see
        # lsh_verified_pairs docstring) and connected_components roots
        # its iteration there ("edges", "round=*", "labels") —
        # filenames are disjoint by construction
        nd_edges = lsh_verified_pairs(
            ndocs,
            "doc_id",
            "transcript",
            max_bucket=cfg.neardup_max_bucket or None,
            threshold=cfg.neardup_threshold,
            prefilter_hot=cfg.neardup_prefilter_hot,
            scratch_dir=nd_scratch,
        )
        comps = connected_components(nd_edges, scratch_dir=nd_scratch)
        comps.join(
            ndocs.select(F.col("doc_id").alias("id"), "part"), "id"
        ).groupBy("cluster_id").agg(
            F.count(F.lit(1)).alias("size"),
            F.min("part").alias("partition"),
        ).write.mode("overwrite").parquet(nd_clusters_path)
        ledger.record(nd_key, {"neardup_sig": nd_sig})
        ledger.save("neardup")
    accepted_clones = sorted(
        ((snapshot or {}).get("clones") or {}).get(NEARDUP_RULE_ID, [])
    )
    acc_ck = F.broadcast(
        local_frame(
            spark,
            [(k,) for k in accepted_clones] or [("\x00never",)],
            "ckey string",
        ).withColumn("known", F.lit(True))
    )
    # every consumer below (summary agg, violation sink, baseline
    # keys) reads the materialized cluster frame — a tiny parquet
    # scan + one broadcast join, no persist to leak
    clusters = (
        spark.read.parquet(nd_clusters_path)
        .withColumn(
            "ckey",
            F.concat_ws("|", "cluster_id", F.col("size").cast("string")),
        )
        .join(acc_ck, "ckey", "left")
    )
    ndr = clusters.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.coalesce(_count_null("known"), F.lit(0)).alias("n_new"),
        F.coalesce(F.sum("size"), F.lit(0)).alias("n_members"),
        F.coalesce(F.max("size"), F.lit(0)).alias("largest"),
    ).collect()[0]
    metrics = {
        "resumed": nd_resumed,
        "threshold": cfg.neardup_threshold,
        "n_clusters": int(ndr["n_clusters"]),
        "n_new": int(ndr["n_new"]),
        "n_known": int(ndr["n_clusters"]) - int(ndr["n_new"]),
        "n_members": int(ndr["n_members"]),
        "largest_cluster": int(ndr["largest"]),
    }
    # observed carries only baseline-independent facts (size), so the
    # run digest is stable across accept cycles — known/new lives in
    # the verdict + metrics, exactly like the vkey-accepted rules
    viol = clusters.select(
        F.lit(NEARDUP_RULE_ID).alias("rule_id"),
        "partition",
        F.col("cluster_id").alias("clip_id"),
        F.concat_ws(
            "", F.lit("size="), F.col("size").cast("string")
        ).alias("observed"),
        F.lit("near-dup cluster accepted in baseline clones").alias(
            "expected"
        ),
        F.lit(RULE_SEVERITY[NEARDUP_RULE_ID]).alias("severity"),
    )
    return _NearDup(clusters, viol, metrics)


def _counts(
    spark: SparkSession, cfg: RunConfig, acc_df: DataFrame, uniq_viol: DataFrame,
    view: _LedgerView, nd: _NearDup | None, directives: list[tuple[str, str]],
) -> tuple[DataFrame, DataFrame, int]:
    """Stage 5b: every violation row; the (partition, rule_id, n_viol,
    n_new) counts of every finding, net of suppression directives,
    persisted; and the number of new violations the directives allowlisted.

    Row violations come from the waves the ledger references — each
    wave dir FILTERED to the partitions the ledger assigns to it.  After a
    crash-resume, a partition can be re-processed in a new wave while its
    old wave's dir still holds stale rows for it; the filter makes resume
    idempotent (verified by test_resume_converges).

    Row-rule counts come from the ledger's TRUE per-(partition, rule)
    tallies (aggregated before the exemplar cap in the wave pass); only the
    table-scope uniqueness rule — which never passes through a wave — is
    diffed here (broadcast anti-join, the reference's diff_clone_groups set
    difference, baseline/diff.py:23-32)."""
    all_viol = uniq_viol
    for w, parts in sorted(view.wave_parts.items()):
        all_viol = all_viol.unionByName(
            spark.read.parquet(os.path.join(cfg.out_dir, "waves", w, "violations")).filter(
                F.col("partition").isin(parts)
            )
        )
    if nd is not None:
        all_viol = all_viol.unionByName(nd.viol)
    uniq_keyed = uniq_viol.withColumn("vkey", violation_key(uniq_viol))
    uniq_counts = (
        uniq_keyed.join(acc_df, "vkey", "left")
        .groupBy("partition", "rule_id")
        .agg(
            F.count(F.lit(1)).alias("n_viol"),
            _count_null("accepted").alias("n_new"),
        )
    )
    counts_schema = "partition string, rule_id string, n_viol long, n_new long"
    counts = uniq_counts.unionByName(
        local_frame(spark, view.count_rows, counts_schema)
    )
    if nd is not None:
        # joins the counts frame so suppression directives and the review
        # queue treat clusters like any other finding; the dense verdict
        # grid drops the row (TABLE_SCOPE is not a partition) — the rule's
        # single table-scope verdict is appended with the drift rows
        nd_row = (TABLE_SCOPE, NEARDUP_RULE_ID, nd.metrics["n_clusters"], nd.metrics["n_new"])
        counts = counts.unionByName(local_frame(spark, [nd_row], counts_schema))

    # --- suppression directives: zero n_new for matching (rule, partition)
    # pairs (gate-level allowlist; the violation rows stay in the output)
    n_suppressed_directive = 0
    if directives:
        match = None
        for rid, part in directives:
            m = (F.col("rule_id") == rid) & (
                F.lit(part == "*") | (F.col("partition") == part)
            )
            match = m if match is None else (match | m)
        counts = counts.withColumn(
            "_supp", F.when(match, F.col("n_new")).otherwise(F.lit(0))
        ).withColumn("n_new", F.col("n_new") - F.col("_supp"))
        n_suppressed_directive = int(
            counts.agg(F.sum("_supp").alias("s")).collect()[0]["s"] or 0
        )
        counts = counts.drop("_supp")

    # counts feeds two actions: the review-queue collect and the verdict
    # sink (through the dense grid).  Persist the (partition, rule)-sized
    # frame so the uniq_counts join/groupBy lineage runs once (unpersisted
    # after the final writes).  Its ledger-count and near-dup rows are
    # local_frame LocalRelations, scanned in the JVM: neither action starts
    # a Python worker.
    return all_viol, counts.persist(), n_suppressed_directive


def _table_verdict(
    rid: str, ok: bool, reason: str, new: bool | None = None
) -> tuple[str, str, bool, str, str]:
    """One table-scope verdict row; novelty is "new" when *new* is true,
    which defaults to the gate failing.  A gate with nothing to compare
    passes with the reason "<rid>: skipped (<why>)"."""
    if new is None:
        new = not ok
    return (TABLE_SCOPE, rid, ok, reason, "new" if new else "known")


def _table_verdicts(
    spark: SparkSession, cfg: RunConfig, snapshot: dict | None, view: _LedgerView,
    current_schema: dict[str, str], nd: _NearDup | None, directives: list[tuple[str, str]],
    warnings: list[str],
) -> tuple[DataFrame, dict[str, Any]]:
    """One verdict row per table-scope gate (drift, schema evolution,
    near-dup), plus the report's drift and schema metrics.  Appends a
    warning for added (non-breaking) columns."""
    table_stats = view.table_stats
    # --- drift (driver-side math on merged mergeable partials)
    drift_verdicts: list[tuple[str, str, bool, str, str]] = []
    drift_metrics: dict[str, float] = {}
    if snapshot is not None:
        b_hist = snapshot["histograms"]["dur_ms"]["counts"]
        c_hist = table_stats["dur_hist"]
        b_sr = snapshot["histograms"]["sr_hz"]["counts"]
        c_sr = [table_stats["sr_counts"].get(str(v), 0) for v in ALLOWED_SR]
        checks = [
            ("drift:psi:dur_ms", bl.psi(b_hist, c_hist), cfg.gates.psi_max),
            ("drift:ks:dur_ms", bl.ks_stat(b_hist, c_hist), cfg.gates.ks_max),
            ("drift:psi:sr_hz", bl.psi(b_sr, c_sr), cfg.gates.psi_max),
        ]
        # quantile drift per registry column: max relative delta of
        # p50/p95/p99 vs snapshot (reference numeric-delta gating,
        # baseline/diff.py:35-108); a baseline written before a column
        # joined the registry simply skips that column's gate
        for spec in NUMERIC_STATS_COLUMNS:
            rid = f"drift:quantile:{spec.name}"
            b_q = (snapshot["stats"].get(spec.name) or {}).get("quantiles") or {}
            if not b_q:
                drift_verdicts.append(
                    _table_verdict(rid, True, f"{rid}: skipped (baseline has no quantiles)")
                )
                continue
            rel = 0.0
            for p in ("p50", "p95", "p99"):
                bq, cq = b_q.get(p), view.quantiles[spec.name].get(p)
                if bq is not None and cq is not None:
                    # floor the denominator at one sketch bin: deltas below
                    # the sketch's resolution are not meaningful drift
                    rel = max(rel, abs(cq - bq) / max(abs(bq), spec.bin_width))
            checks.append((rid, rel, cfg.gates.quantile_rel_max))
        for rid, val, mx in checks:
            ok = val <= mx
            drift_metrics[rid] = round(val, 6)
            reason = (
                f"{rid}: ok (stat={val:.6f} <= max={mx:g})"
                if ok
                else f"{rid}: stat={val:.6f} exceeds max={mx:g}"
            )
            drift_verdicts.append(_table_verdict(rid, ok, reason))
    else:
        for rid in DRIFT_RULE_IDS:
            drift_verdicts.append(
                _table_verdict(rid, True, f"{rid}: skipped (no trusted baseline)")
            )
    # --- schema-evolution diff vs the snapshot (reference api_surface
    # comparison wired into baseline/diff.py:84-89: removed/type-change are
    # breaking verdicts, added is informational)
    schema_metrics: dict[str, Any] = {}
    baseline_cols = ((snapshot or {}).get("schema") or {}).get("columns") or {}
    if baseline_cols:
        sdiff = schema_diff(current_schema, baseline_cols)
        schema_metrics = sdiff
        for rid, changes in (
            ("schema:removed", sdiff["removed"]),
            ("schema:type_change", [f"{c}:{b}->{n}" for c, b, n in sdiff["type_changed"]]),
        ):
            ok = not changes
            reason = (
                f"{rid}: ok (no breaking schema change)"
                if ok
                else f"{rid}: {', '.join(changes)}"
            )
            drift_verdicts.append(_table_verdict(rid, ok, reason))
        if sdiff["added"]:
            warnings.append(
                "schema: added columns (non-breaking): "
                + ", ".join(sdiff["added"])
            )
    else:
        for rid in SCHEMA_RULE_IDS:
            drift_verdicts.append(
                _table_verdict(rid, True, f"{rid}: skipped (no baseline schema)")
            )

    # --- near-dup gate: ONE table-scope verdict, fail on NEW clusters
    # (reference fail_on_new semantics, surfaces/cli/execution.py); a
    # '*'-scoped suppression directive converts new clusters to accepted
    # debt exactly like the counts-frame rules (already tallied into
    # n_suppressed_directive via the counts row)
    if nd is not None:
        nd_n, nd_new = nd.metrics["n_clusters"], nd.metrics["n_new"]
        nd_supp = any(
            rid == NEARDUP_RULE_ID and part == "*" for rid, part in directives
        )
        nd_eff = 0 if nd_supp else nd_new
        nd_budget, _ = cfg.gates.budget(NEARDUP_RULE_ID)
        nd_ok = nd_budget is None or nd_eff <= nd_budget
        if nd_ok and nd_n == 0:
            nd_reason = f"{NEARDUP_RULE_ID}: ok (0 clusters)"
        elif nd_ok:
            nd_reason = (
                f"{NEARDUP_RULE_ID}: ok ({nd_n} cluster(s), {nd_eff} new"
                + (
                    ", suppressed by directive"
                    if nd_supp and nd_new
                    else ""
                )
                + ", within budget)"
            )
        else:
            nd_reason = (
                f"{NEARDUP_RULE_ID}: {nd_eff} new near-dup cluster(s) "
                f"exceed budget (max_count={nd_budget})"
            )
        drift_verdicts.append(
            _table_verdict(NEARDUP_RULE_ID, nd_ok, nd_reason, new=nd_eff > 0)
        )

    drift_df = local_frame(
        spark,
        drift_verdicts,
        "partition string, rule_id string, pass boolean, reason string, "
        "novelty string",
    )
    return drift_df, {"drift": drift_metrics, "schema": schema_metrics}


def _review_queue(counts: DataFrame) -> list[dict[str, Any]]:
    """Derived triage queue: top-k (partition, rule) cells ranked by
    severity-weighted NEW-violation count (reference review-queue /
    hotlist surfaces, report/suggestions.py + report/document/derived.py,
    sorted (-count, id) like _findings_groups.py:231).  Computed as a
    distributed priority top-k over the counts frame — already net of
    suppression directives, so accepted/allowlisted debt never ranks."""
    w_map = F.create_map(
        *[
            x
            for rid, sev in sorted(RULE_SEVERITY.items())
            for x in (F.lit(rid), F.lit(_SEV_WEIGHT.get(sev, 3)))
        ]
    )
    rq_rows = (
        counts.filter(F.col("n_new") > 0)
        .withColumn(
            "score",
            F.coalesce(w_map[F.col("rule_id")], F.lit(3)) * F.col("n_new"),
        )
        .orderBy(F.desc("score"), "partition", "rule_id")
        .limit(REVIEW_QUEUE_K)
        .collect()
    )
    return [
        {
            "partition": r["partition"],
            "rule_id": r["rule_id"],
            "n_new": int(r["n_new"]),
            "severity": RULE_SEVERITY.get(r["rule_id"], "error"),
            "score": int(r["score"]),
            "action": _suggested_action(r["rule_id"]),
        }
        for r in rq_rows
    ]


def _write_sink(df: DataFrame, path: str, keys: tuple[str, ...], partitioned: bool) -> None:
    """Write one report sink with rows in a deterministic order of *keys*."""
    if partitioned:
        # Cluster-scale sink shape: hash-distribute rows by rule_id
        # (Exchange hashpartitioning, never SinglePartition) and write a
        # rule_id=<id> directory per rule — parallel writers, and downstream
        # per-rule consumers prune at the directory level.  Rows stay
        # deterministically sorted WITHIN each rule; the run digest folds
        # per-rule digests, so it is independent of this layout change.
        (
            df.repartition(F.col("rule_id"))
            .sortWithinPartitions("rule_id", *(k for k in keys if k != "rule_id"))
            .write.partitionBy("rule_id")
            .mode("overwrite")
            .parquet(path)
        )
    else:
        # repartition(1)+sortWithinPartitions = deterministic total order
        # without orderBy's range-sampling pre-job; right for the tiny
        # report tables a single-tenant run produces.
        df.repartition(1).sortWithinPartitions(*keys).write.mode(
            "overwrite"
        ).parquet(path)


def _write_sinks(cfg: RunConfig, all_viol: DataFrame, verdicts: DataFrame) -> tuple[str, str]:
    """Stage 6: canonical, deterministically-ordered outputs."""
    paths = (os.path.join(cfg.out_dir, "violations"), os.path.join(cfg.out_dir, "verdicts"))
    viol_keys = ("rule_id", "partition", "clip_id", "observed")
    # The two sink jobs are independent (different inputs past the shared
    # cached frames, different output dirs): overlap them.  Each write's
    # own commit protocol is untouched.
    _overlap(
        lambda: _write_sink(all_viol, paths[0], viol_keys, cfg.partitioned_sinks),
        lambda: _write_sink(verdicts, paths[1], ("partition", "rule_id"), cfg.partitioned_sinks),
    )
    return paths


def _report(
    spark: SparkSession, cfg: RunConfig, clock: _Phases, paths: tuple[str, str], inp: _Inputs,
    view: _LedgerView, *, resumed: int, approx_ndv: int, n_supp_directive: int,
    review_queue: list[dict[str, Any]], gate_metrics: dict[str, Any], nd: _NearDup | None,
    trust: bl.Trust, warnings: list[str],
) -> dict[str, Any]:
    """Stage 6 (report): the canonical report document, written to
    report.json with its integrity digests."""
    final_viol = spark.read.parquet(paths[0])
    final_verd = spark.read.parquet(paths[1])
    # ONE aggregation serves exemplar counts AND the run digest: per-rule
    # (count, digest-over-sorted-rows), folded into a global digest on the
    # driver (batched report collects — one job instead of two).
    rule_rows = final_viol.groupBy("rule_id").agg(
        F.count(F.lit(1)).alias("n"),
        _sorted_digest(
            F.concat_ws("|", "rule_id", "partition", "clip_id", "observed")
        ).alias("digest"),
    ).collect()
    exemplar_counts = {r["rule_id"]: r["n"] for r in rule_rows}
    run_digest = _fold_digests(f"{r['rule_id']}:{r['digest']}" for r in rule_rows)
    # True totals: ledger tallies (pre-cap) for row rules + the uncapped
    # table-scope uniqueness rows from the written output (near-dup: one
    # row per cluster, written uncapped like uniq:clip_id).
    rule_counts = dict(view.rule_counts)
    for rid in ("uniq:clip_id", NEARDUP_RULE_ID):
        if rid in exemplar_counts:
            rule_counts[rid] = exemplar_counts[rid]
    n_viol_total = sum(rule_counts.values())
    by_severity: dict[str, int] = {}
    for rid, n in rule_counts.items():
        sev = RULE_SEVERITY.get(rid, "error")
        by_severity[sev] = by_severity.get(sev, 0) + int(n)
    failed_gates = [
        {"partition": r["partition"], "rule_id": r["rule_id"], "reason": r["reason"]}
        for r in final_verd.filter(~F.col("pass")).orderBy("partition", "rule_id").collect()
    ]

    uniqueness = {
        "clip_id_approx_ndv": int(approx_ndv),  # HLL++ fast path
        "clip_id_exact_dup_groups": int(rule_counts.get("uniq:clip_id", 0)),
    }

    table_stats = view.table_stats
    rows = table_stats.get("rows", 0)
    stats_doc: dict[str, Any] = {}
    for spec in NUMERIC_STATS_COLUMNS:
        cs = table_stats.get("colstats", {}).get(spec.name, {})
        stats_doc[spec.name] = {
            "count": rows,
            "null_permille": round(1000.0 * cs.get("null", 0) / max(rows, 1), 3),
            "min": cs.get("min"),
            "max": cs.get("max"),
            "mean": cs.get("mean"),
            "quantiles": view.quantiles[spec.name],
        }
    stats_doc["transcript"] = {
        "count": rows,
        "null_or_empty_permille": round(
            1000.0 * table_stats.get("transcript_null", 0) / max(rows, 1), 3
        ),
    }
    histograms = {
        "dur_ms": {"bin_edges": DUR_BIN_EDGES, "counts": table_stats.get("dur_hist", [])},
        "sr_hz": {
            "values": list(ALLOWED_SR),
            "counts": [table_stats.get("sr_counts", {}).get(str(v), 0) for v in ALLOWED_SR],
        },
    }

    report = {
        "report_schema_version": REPORT_SCHEMA_VERSION,
        "meta": _meta(cfg),
        "inventory": {
            "partitions": len(inp.all_parts),
            "partitions_resumed": resumed,
            "partitions_test_lane": len(inp.lane_parts),
            "rows": rows,
            "rows_test_lane": view.rows_test_lane,
        },
        "findings": {
            "total_violations": int(n_viol_total),
            # exemplar rows beyond the per-(rule, partition) cap are counted
            # here, never silently dropped (reference suppressed_* counts)
            "suppressed_exemplars": int(view.suppressed),
            # new violations allowlisted by suppression directives
            "suppressed_by_directive": int(n_supp_directive),
            "by_rule": dict(sorted(rule_counts.items())),
            "by_severity": dict(sorted(by_severity.items())),
            "failed_gates": failed_gates,
        },
        "metrics": {
            "stats": stats_doc,
            "histograms": histograms,
            "uniqueness": uniqueness,
            **gate_metrics,
            # 0-100 scalar + grade (reference metrics/health.py:95-162)
            "health": health.health_score(
                rows=rows,
                violations=int(n_viol_total),
                undecodable=int(table_stats.get("undecodable", 0)),
            ),
        },
        "derived": {"review_queue": review_queue},
        "baseline": {"trusted": trust.trusted, "reason": trust.reason},
        "warnings": warnings,
        "elapsed_sec": round(time.monotonic() - clock.t0, 3),
        "phases": {
            **clock.seconds,
            "report_aggs": round(time.monotonic() - clock.last, 3),
        },
    }
    if nd is not None:
        # present only when the stage ran (report schema 1.2): absence
        # means "not computed", never "zero clusters"
        report["metrics"]["neardup"] = nd.metrics
    body = _round_floats(
        {k: v for k, v in report.items() if k not in ("elapsed_sec", "phases")}
    )
    report["integrity"] = {
        "run_digest": run_digest,
        "report_sha256": hashlib.sha256(
            json.dumps(body, sort_keys=True, separators=(",", ":")).encode()
        ).hexdigest(),
    }
    with open(os.path.join(cfg.out_dir, "report.json"), "w") as f:
        json.dump(report, f, sort_keys=True, indent=1)
    return report


def _update_baseline(
    cfg: RunConfig, snapshot: dict | None, inp: _Inputs, all_viol: DataFrame, nd: _NearDup | None,
    report: dict[str, Any],
) -> None:
    """Baseline update mode (§3.2: explicit governance action; gates not
    enforced against the snapshot just written)."""
    # Near-dup rows never enter the vkey accepted set: their acceptance
    # lives in the baseline `clones` section keyed "<min_id>|<size>" (a
    # vkey lacks the size, so a grown cluster would silently stay accepted)
    novkey = all_viol.filter(F.col("rule_id") != NEARDUP_RULE_ID)
    keyed = novkey.withColumn("vkey", violation_key(novkey))
    distinct_keys = keyed.select("vkey").distinct()
    n_keys = distinct_keys.count()
    if n_keys > cfg.accepted_inline_max:
        # large debt set: sorted parquet side table, written and
        # digest-folded entirely executor-side (never O(keys) driver)
        ref = bl.write_accepted_sidecar(distinct_keys, cfg.baseline_path)
        all_keys: list[str] = []
    else:
        ref = None
        all_keys = [
            r["vkey"] for r in distinct_keys.orderBy("vkey").collect()
        ]
    # clones section: replace this run's family when the stage ran,
    # CARRY FORWARD families from the prior snapshot otherwise — an
    # update run with the stage disabled must not silently un-accept
    # previously accepted clone groups.  Keys are one per clone GROUP
    # (not per member; the reference inlines exactly these in its
    # baseline JSON, clone_baseline.py:511-527), so the driver collect
    # is group-cardinality — orders of magnitude below row counts.
    clones_out = dict(((snapshot or {}).get("clones") or {}))
    if nd is not None:
        clones_out[NEARDUP_RULE_ID] = sorted(
            r["ckey"] for r in nd.clusters.select("ckey").collect()
        )
    metrics = report["metrics"]
    bl.write_baseline(
        cfg.baseline_path,
        stats=metrics["stats"],
        histograms=metrics["histograms"],
        uniqueness=metrics["uniqueness"],
        accepted_violations=all_keys,
        created_at=cfg.created_at,
        schema={"columns": inp.current_schema, "partition_keys": ["part"]},
        accepted_ref=ref,
        clones=clones_out,
    )


def _meta(cfg: RunConfig) -> dict[str, Any]:
    return {
        "generator": {"name": ENGINE_NAME, "version": ENGINE_VERSION},
        "data_dir": cfg.data_dir,
        "gating": cfg.gating,
        "created_at": cfg.created_at,
    }
