"""End-to-end validation run: the reference pipeline re-expressed on Spark.

Stage map (reference §3.1 lifecycle -> ours):

1. bootstrap       -> RunConfig
2. discover        -> partition listing minus ledger's done set (pruning)
3. process (map)   -> facts stage: plans/facts.py:build_facts (decode, meta
                      join, SNR for sha-mismatch suspects)
4. analyze (reduce)-> one-pass row rules, one-groupBy partition partials,
                      global exact uniqueness (column-pruned scan)
5. baseline diff   -> accepted-violation anti-join (broadcast), drift KS/PSI
6. report          -> canonical JSON document with integrity digest
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
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
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
    GateConfig,
    build_verdicts,
    evaluate_row_rules,
    partition_aggregates,
    qsketch_counts_multi,
    violation_key,
)
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


def run(spark: SparkSession, cfg: RunConfig) -> RunResult:
    t0 = time.monotonic()
    phases: dict[str, float] = {}
    _last = [t0]

    def _mark(name: str) -> None:
        now = time.monotonic()
        phases[name] = round(phases.get(name, 0.0) + (now - _last[0]), 3)
        _last[0] = now

    # --- suppression directives parse + validate up front: a malformed or
    # ill-scoped directive must fail before any cluster compute is spent
    directives: list[tuple[str, str]] = []
    if cfg.suppressions:
        import re as _re

        from codeclone_spark.operators.rules import TABLE_RULE_IDS

        for s in cfg.suppressions:
            # rule ids contain ':' themselves — split on the LAST colon
            rid, _, part = s.rpartition(":")
            if not rid or not part or not _re.match(r"^[A-Za-z0-9:_\-]+$", rid):
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

    os.makedirs(cfg.out_dir, exist_ok=True)
    ledger = Ledger(os.path.join(cfg.out_dir, "ledger"))

    # --- stage 5a: baseline trust (checked BEFORE compute: fail-closed must
    # not waste a cluster run; reference baseline_state.py:138-170)
    snapshot, trust = (None, bl.Trust(False, "no baseline configured"))
    warnings: list[str] = []
    if cfg.baseline_path:
        snapshot, trust = bl.load_baseline(cfg.baseline_path)
        if not trust.trusted:
            if snapshot is None and trust.reason == "baseline missing":
                warnings.append("baseline missing: diff/drift disabled")
                snapshot = None
            elif cfg.gating and not cfg.update_baseline:
                # fail closed: untrusted baseline + gating requested
                report = {
                    "report_schema_version": REPORT_SCHEMA_VERSION,
                    "meta": _meta(cfg),
                    "error": f"CONTRACT_ERROR: {trust.reason}",
                }
                return RunResult(EXIT_CONTRACT_ERROR, report, "", "")
            else:
                warnings.append(f"untrusted baseline ({trust.reason}): degraded")
                snapshot = None
    accepted = sorted((snapshot or {}).get("accepted_violations", []))
    accepted_ref = (snapshot or {}).get("accepted_ref") or {}

    from codeclone_spark.sources import validate_clips_schema, validate_data_dir

    validate_data_dir(cfg.data_dir)
    clips = read_clips(spark, cfg.data_dir)
    validate_clips_schema(clips)
    from codeclone_spark.operators.schema_diff import canonical_schema, schema_diff

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
    accepted_sha = (
        accepted_ref["sha256"][:16] if accepted_ref else accepted_set_sha(accepted)
    )
    _mark("discovery")
    done = ledger.done_parts(data_sigs, accepted_sha) & set(all_parts)
    todo = [p for p in all_parts if p not in done]
    resumed = len(done)

    waves_dir = os.path.join(cfg.out_dir, "waves")

    # Accepted-violation keys join once per wave to split true violation
    # counts into known/new BEFORE the exemplar cap, so gate arithmetic
    # never sees truncated counts (stage 5b reuses it).  Inline sets are a
    # driver-literal broadcast; sidecar sets (large debt) are a parquet scan
    # joined distributively — the keys never materialize on the driver.
    if accepted_ref:
        acc_df = (
            spark.read.parquet(
                os.path.join(
                    os.path.dirname(cfg.baseline_path) or ".",
                    accepted_ref["path"],
                )
            )
            .select("vkey")
            .withColumn("accepted", F.lit(True))
        )
    else:
        acc_df = F.broadcast(
            local_frame(
                spark, [(k,) for k in accepted] or [("\x00never",)], "vkey string"
            ).withColumn("accepted", F.lit(True))
        )

    # --- stages 3-4 per wave
    for wave in _chunks(todo, cfg.wave_size):
        wave_id = hashlib.sha1("|".join(wave).encode()).hexdigest()[:12]
        wave_path = os.path.join(waves_dir, f"wave-{wave_id}")
        facts, decoded = build_facts(clips, fixtures_meta, fixtures_pcm, parts=wave)
        facts = facts.persist()

        wave_t0 = time.monotonic()
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
        def _collect_rule_stats():
            return (
                viol.groupBy("partition", "rule_id")
                .agg(
                    F.count(F.lit(1)).alias("n_viol"),
                    F.sum(
                        F.when(F.col("accepted").isNull(), 1).otherwise(0)
                    ).alias("n_new"),
                    F.sum(F.col("_keep").cast("long")).alias("n_kept"),
                    F.sha2(
                        F.concat_ws(
                            ";",
                            F.sort_array(
                                F.collect_list(
                                    F.when(
                                        F.col("_keep"),
                                        F.concat_ws(
                                            "|", "rule_id", "clip_id", "observed"
                                        ),
                                    )
                                )
                            ),
                        ),
                        256,
                    ).alias("digest"),
                )
                .collect()
            )

        def _write_wave_viol() -> None:
            (
                viol.filter(F.col("_keep"))
                .drop("vkey", "accepted", "_rk", "_keep")
                .repartition(1 if len(wave) <= 8 else 8)
                .write.mode("overwrite")
                .parquet(os.path.join(wave_path, "violations"))
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
        with ThreadPoolExecutor(max_workers=2) as _wpool:
            _f_stats = _wpool.submit(_collect_rule_stats)
            _f_write = _wpool.submit(_write_wave_viol)
            rule_stats = _f_stats.result()
            _f_write.result()
        viol.unpersist()
        _mark("wave_facts_and_row_rules")

        # The two remaining wave aggregations (main partition aggregates +
        # quantile-sketch partials) both read the already-filled facts
        # cache and are independent — overlap them (guide §2.6); see
        # rules.qsk_bin for why the sketch is a separate groupBy.
        with ThreadPoolExecutor(max_workers=2) as _apool:
            _f_aggs = _apool.submit(
                lambda: partition_aggregates(facts).collect()
            )
            _f_qsk = _apool.submit(
                lambda: qsketch_counts_multi(
                    facts, NUMERIC_STATS_COLUMNS
                ).collect()
            )
            aggs = _f_aggs.result()
            _qsk_rows = _f_qsk.result()
        nbins_by_col = {s.name: s.nbins for s in NUMERIC_STATS_COLUMNS}
        qsk_by_col: dict[str, dict[str, list[int]]] = {
            s.name: {} for s in NUMERIC_STATS_COLUMNS
        }
        for r in _qsk_rows:
            col_arr = qsk_by_col[r["col"]]
            arr = col_arr.setdefault(
                r["part"], [0] * nbins_by_col[r["col"]]
            )
            arr[int(r["bin"])] = int(r["n"])
        _mark("wave_partition_aggs")
        # fold per-rule stats into per-partition ledger fields (driver-side,
        # wave-sized): true counts, suppressed exemplars, stable digest
        part_rules: dict[str, dict[str, list[int]]] = {}
        part_supp: dict[str, int] = {}
        part_dig_parts: dict[str, list[str]] = {}
        for r in rule_stats:
            p = r["partition"]
            part_rules.setdefault(p, {})[r["rule_id"]] = [
                int(r["n_viol"]), int(r["n_new"])
            ]
            part_supp[p] = part_supp.get(p, 0) + int(r["n_viol"] - r["n_kept"])
            part_dig_parts.setdefault(p, []).append(
                f"{r['rule_id']}:{r['digest']}"
            )
        vdig = {
            p: (
                hashlib.sha256(";".join(sorted(parts)).encode()).hexdigest(),
                sum(v[0] for v in part_rules[p].values()),
            )
            for p, parts in part_dig_parts.items()
        }
        wave_elapsed_ms = int((time.monotonic() - wave_t0) * 1000)
        seen_parts = set()
        for row in aggs:
            d = row.asDict()
            part = d.pop("part")
            seen_parts.add(part)
            dig, nviol = vdig.get(part, ("0" * 64, 0))
            ledger.record(
                part,
                {
                    "wave": f"wave-{wave_id}",
                    "data_sig": data_sigs.get(part, "absent"),
                    "baseline_sha": accepted_sha,
                    "rows": d["rows"],
                    "transcript_null": d["transcript_null"],
                    "undecodable": d["undecodable"],
                    "approx_ndv": d["approx_ndv"],
                    "dur_hist": [int(x) for x in d["dur_hist"]],
                    "colstats": {
                        spec.name: {
                            "null": int(d[f"{spec.name}_null"]),
                            "min": d[f"{spec.name}_min"],
                            "max": d[f"{spec.name}_max"],
                            "mean": (
                                float(d[f"{spec.name}_mean"])
                                if d[f"{spec.name}_mean"] is not None
                                else None
                            ),
                            "qsk": qsk_by_col[spec.name].get(
                                part, [0] * spec.nbins
                            ),
                        }
                        for spec in NUMERIC_STATS_COLUMNS
                    },
                    "sr_counts": {
                        str(v): int(d[f"sr_{v}"]) for v in ALLOWED_SR
                    },
                    "violations": int(nviol),
                    "suppressed": int(part_supp.get(part, 0)),
                    "rule_counts": part_rules.get(part, {}),
                    "digest": dig,
                    "elapsed_ms": wave_elapsed_ms,  # wave wall (shared)
                },
            )
        # A listed part= directory with ZERO rows produces no aggregate row;
        # it still needs a ledger entry or every resume would KeyError on it
        # and the run could never converge.
        for part in wave:
            if part not in seen_parts:
                ledger.record(
                    part,
                    {
                        "wave": f"wave-{wave_id}",
                        "data_sig": data_sigs.get(part, "absent"),
                        "baseline_sha": accepted_sha,
                        "rows": 0,
                        "transcript_null": 0,
                        "undecodable": 0,
                        "approx_ndv": 0,
                        "dur_hist": [0] * (len(DUR_BIN_EDGES) - 1),
                        "colstats": {
                            spec.name: {
                                "null": 0,
                                "min": None,
                                "max": None,
                                "mean": None,
                                "qsk": [0] * spec.nbins,
                            }
                            for spec in NUMERIC_STATS_COLUMNS
                        },
                        "sr_counts": {str(v): 0 for v in ALLOWED_SR},
                        "violations": 0,
                        "suppressed": 0,
                        "rule_counts": {},
                        "digest": "0" * 64,
                        "elapsed_ms": wave_elapsed_ms,
                    },
                )
        facts.unpersist()
        decoded.unpersist()
        ledger.save()  # durable commit point: wave outputs + entries together
        _mark("wave_ledger_digests")

    # missing-from-ledger guard (a part listed but never processed)
    entries = [ledger.partitions[p] for p in all_parts if p in ledger.partitions]
    table_stats = merge_partials(entries)

    # --- stage 4c: global exact uniqueness — column-pruned scan over ALL
    # partitions (dups can span waves/partitions; reading 2 string cols of a
    # 100 TB table is cheap relative to decode, and Catalyst prunes to just
    # those columns — verified in tests via ReadSchema).
    ids_only = clips.select("clip_id", "part")
    approx_ndv = ids_only.agg(
        F.approx_count_distinct("clip_id").alias("ndv")
    ).collect()[0]["ndv"]
    dup_groups = (
        ids_only
        .groupBy("clip_id")
        .agg(F.count(F.lit(1)).alias("n"), F.min("part").alias("partition"))
        .filter(F.col("n") > 1)
    )
    # Persisted: the report phase runs three independent actions over this
    # frame (review-queue top-k, violations write, verdicts write) and each
    # would otherwise re-scan the full corpus ids and redo the dup groupBy;
    # the frame itself is tiny (dup exemplars only).  Unpersisted after the
    # final writes.
    uniq_viol = dup_groups.select(
        F.lit("uniq:clip_id").alias("rule_id"),
        "partition",
        "clip_id",
        F.concat_ws("", F.lit("count="), F.col("n").cast("string")).alias("observed"),
        F.lit("unique clip_id").alias("expected"),
        F.lit(RULE_SEVERITY["uniq:clip_id"]).alias("severity"),
    ).persist()

    # --- stage 4d (opt-in): near-dup transcript clone groups — the
    # reference's core clone-group loop (pairwise matches -> transitive
    # groups -> baseline diff -> fail-on-new gate, baseline/diff.py:23-32 +
    # report/document/findings.py:96-115) over the composed dedup ladder.
    # Clusters are keyed "<min_member_id>|<size>" (the sorted-group-id
    # convention, clone_baseline.py:511-527; SIZE is part of the identity,
    # so a cluster that grows or shrinks re-gates as NEW), diffed against
    # the baseline's accepted `clones` section, and surfaced as one
    # violation row per cluster plus ONE table-scope verdict (drift-rule
    # convention — clusters span partitions, so the dense per-partition
    # grid must not claim them; `partition` on the violation row is
    # min(part) for reporting only).
    neardup_viol = None
    neardup_clusters = None
    neardup_metrics: dict[str, Any] = {}
    neardup_stats: tuple[int, int] | None = None
    if cfg.neardup_transcript:
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
                    "sigs": data_sigs,
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

            ndocs = clips.select(
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
        neardup_clusters = (
            spark.read.parquet(nd_clusters_path)
            .withColumn(
                "ckey",
                F.concat_ws("|", "cluster_id", F.col("size").cast("string")),
            )
            .join(acc_ck, "ckey", "left")
        )
        ndr = neardup_clusters.agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.coalesce(
                F.sum(F.when(F.col("known").isNull(), 1).otherwise(0)),
                F.lit(0),
            ).alias("n_new"),
            F.coalesce(F.sum("size"), F.lit(0)).alias("n_members"),
            F.coalesce(F.max("size"), F.lit(0)).alias("largest"),
        ).collect()[0]
        neardup_stats = (int(ndr["n_clusters"]), int(ndr["n_new"]))
        neardup_metrics = {
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
        neardup_viol = neardup_clusters.select(
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
        _mark("neardup_clusters")

    # Assemble row violations from the waves the ledger references — each
    # wave dir FILTERED to the partitions the ledger assigns to it.  After a
    # crash-resume, a partition can be re-processed in a new wave while its
    # old wave's dir still holds stale rows for it; the filter makes resume
    # idempotent (verified by test_resume_converges).
    wave_parts: dict[str, list[str]] = {}
    for p in all_parts:
        e = ledger.partitions.get(p)
        if e and "wave" in e:
            wave_parts.setdefault(e["wave"], []).append(p)
    wave_dfs = [
        spark.read.parquet(os.path.join(waves_dir, w, "violations")).filter(
            F.col("partition").isin(parts)
        )
        for w, parts in sorted(wave_parts.items())
    ]
    all_viol = uniq_viol
    for wdf in wave_dfs:
        all_viol = all_viol.unionByName(wdf)
    if neardup_viol is not None:
        all_viol = all_viol.unionByName(neardup_viol)

    # --- stage 5b: baseline accepted-set diff.  Row-rule counts come from
    # the ledger's TRUE per-(partition, rule) tallies (aggregated before the
    # exemplar cap in the wave pass); only the table-scope uniqueness rule —
    # which never passes through a wave — is diffed here (broadcast
    # anti-join, the reference's diff_clone_groups set difference,
    # baseline/diff.py:23-32).
    # Near-dup rows never enter the vkey accepted set: their acceptance
    # lives in the baseline `clones` section keyed "<min_id>|<size>" (a
    # vkey lacks the size, so a grown cluster would silently stay accepted)
    novkey = all_viol.filter(F.col("rule_id") != NEARDUP_RULE_ID)
    keyed = novkey.withColumn("vkey", violation_key(novkey))
    uniq_keyed = uniq_viol.withColumn("vkey", violation_key(uniq_viol))
    uniq_counts = (
        uniq_keyed.join(acc_df, "vkey", "left")
        .groupBy("partition", "rule_id")
        .agg(
            F.count(F.lit(1)).alias("n_viol"),
            F.sum(
                F.when(F.col("accepted").isNull(), 1).otherwise(0)
            ).alias("n_new"),
        )
    )
    row_count_tuples = [
        (p, rid, int(nv), int(nn))
        for p in all_parts
        if p in ledger.partitions
        for rid, (nv, nn) in sorted(
            ledger.partitions[p].get("rule_counts", {}).items()
        )
    ]
    counts_schema = "partition string, rule_id string, n_viol long, n_new long"
    counts = uniq_counts.unionByName(
        local_frame(spark, row_count_tuples, counts_schema)
    )
    if neardup_stats is not None:
        # joins the counts frame so suppression directives and the review
        # queue treat clusters like any other finding; the dense verdict
        # grid drops the row (TABLE_SCOPE is not a partition) — the rule's
        # single table-scope verdict is appended with the drift rows below
        counts = counts.unionByName(
            local_frame(
                spark,
                [
                    (
                        TABLE_SCOPE,
                        NEARDUP_RULE_ID,
                        neardup_stats[0],
                        neardup_stats[1],
                    )
                ],
                counts_schema,
            )
        )

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
    counts = counts.persist()
    _mark("uniqueness_and_ndv")
    part_rows = local_frame(
        spark,
        [
            (p, int(ledger.partitions.get(p, {}).get("rows", 0)))
            for p in all_parts
        ],
        "part string, rows long",
    )
    lane_parts: set[str] = set()
    if cfg.test_lane_pattern:
        import re as _lane_re

        lane_rx = _lane_re.compile(cfg.test_lane_pattern)
        lane_parts = {p for p in all_parts if lane_rx.search(p)}
    verdicts = build_verdicts(
        counts, part_rows, cfg.gates, set(accepted), test_lane=lane_parts
    )

    # table-level quantiles per registry column from the merged fixed-bin
    # sketches (mergeable across waves/resumes — the ledger never rescans
    # completed partitions)
    colstats = table_stats.get("colstats", {})
    quantiles_by_col = {
        spec.name: {
            p: bl.sketch_quantile(
                colstats.get(spec.name, {}).get("qsk", []), spec.bin_width, q
            )
            for p, q in (("p50", 0.5), ("p95", 0.95), ("p99", 0.99))
        }
        for spec in NUMERIC_STATS_COLUMNS
    }

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
                    (
                        TABLE_SCOPE,
                        rid,
                        True,
                        f"{rid}: skipped (baseline has no quantiles)",
                        "known",
                    )
                )
                continue
            rel = 0.0
            for p in ("p50", "p95", "p99"):
                bq, cq = b_q.get(p), quantiles_by_col[spec.name].get(p)
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
            drift_verdicts.append((TABLE_SCOPE, rid, ok, reason, "new" if not ok else "known"))
    else:
        for rid in DRIFT_RULE_IDS:
            drift_verdicts.append(
                (TABLE_SCOPE, rid, True, f"{rid}: skipped (no trusted baseline)", "known")
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
            drift_verdicts.append(
                (TABLE_SCOPE, rid, ok, reason, "known" if ok else "new")
            )
        if sdiff["added"]:
            warnings.append(
                "schema: added columns (non-breaking): "
                + ", ".join(sdiff["added"])
            )
    else:
        for rid in SCHEMA_RULE_IDS:
            drift_verdicts.append(
                (
                    TABLE_SCOPE,
                    rid,
                    True,
                    f"{rid}: skipped (no baseline schema)",
                    "known",
                )
            )

    # --- near-dup gate: ONE table-scope verdict, fail on NEW clusters
    # (reference fail_on_new semantics, surfaces/cli/execution.py); a
    # '*'-scoped suppression directive converts new clusters to accepted
    # debt exactly like the counts-frame rules (already tallied into
    # n_suppressed_directive via the counts row above)
    if neardup_stats is not None:
        nd_n, nd_new = neardup_stats
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
            (
                TABLE_SCOPE,
                NEARDUP_RULE_ID,
                nd_ok,
                nd_reason,
                "new" if nd_eff > 0 else "known",
            )
        )

    drift_df = local_frame(
        spark,
        drift_verdicts,
        "partition string, rule_id string, pass boolean, reason string, "
        "novelty string",
    )
    verdicts = verdicts.unionByName(drift_df)

    # --- derived triage queue: top-k (partition, rule) cells ranked by
    # severity-weighted NEW-violation count (reference review-queue /
    # hotlist surfaces, report/suggestions.py + report/document/derived.py,
    # sorted (-count, id) like _findings_groups.py:231).  Computed as a
    # distributed priority top-k over the counts frame — already net of
    # suppression directives, so accepted/allowlisted debt never ranks.
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
    review_queue = [
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

    # --- stage 6: canonical, deterministically-ordered outputs
    violations_path = os.path.join(cfg.out_dir, "violations")
    verdicts_path = os.path.join(cfg.out_dir, "verdicts")
    if cfg.partitioned_sinks:
        # Cluster-scale sink shape: hash-distribute rows by rule_id
        # (Exchange hashpartitioning, never SinglePartition) and write a
        # rule_id=<id> directory per rule — parallel writers, and downstream
        # per-rule consumers prune at the directory level.  Rows stay
        # deterministically sorted WITHIN each rule; the run digest folds
        # per-rule digests, so it is independent of this layout change.
        def _write_viol() -> None:
            (
                all_viol.repartition(F.col("rule_id"))
                .sortWithinPartitions("rule_id", "partition", "clip_id", "observed")
                .write.partitionBy("rule_id")
                .mode("overwrite")
                .parquet(violations_path)
            )

        def _write_verd() -> None:
            (
                verdicts.repartition(F.col("rule_id"))
                .sortWithinPartitions("rule_id", "partition")
                .write.partitionBy("rule_id")
                .mode("overwrite")
                .parquet(verdicts_path)
            )
    else:
        # repartition(1)+sortWithinPartitions = deterministic total order
        # without orderBy's range-sampling pre-job; right for the tiny
        # report tables a single-tenant run produces.
        def _write_viol() -> None:
            all_viol.repartition(1).sortWithinPartitions(
                "rule_id", "partition", "clip_id", "observed"
            ).write.mode("overwrite").parquet(violations_path)

        def _write_verd() -> None:
            verdicts.repartition(1).sortWithinPartitions(
                "partition", "rule_id"
            ).write.mode("overwrite").parquet(verdicts_path)

    # The two sink jobs are independent (different inputs past the shared
    # cached frames, different output dirs): submit both and let the second
    # back-fill the first's straggler tail (guide §2.6 overlapping
    # independent jobs).  Each write's own commit protocol is untouched.
    with ThreadPoolExecutor(max_workers=2) as _pool:
        for _fut in [_pool.submit(_write_viol), _pool.submit(_write_verd)]:
            _fut.result()
    uniq_viol.unpersist()
    counts.unpersist()
    _mark("final_writes")

    final_viol = spark.read.parquet(violations_path)
    final_verd = spark.read.parquet(verdicts_path)
    # ONE aggregation serves exemplar counts AND the run digest: per-rule
    # (count, digest-over-sorted-rows), folded into a global digest on the
    # driver (batched report collects — one job instead of two).
    rule_rows = final_viol.groupBy("rule_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sha2(
            F.concat_ws(
                ";",
                F.sort_array(
                    F.collect_list(
                        F.concat_ws("|", "rule_id", "partition", "clip_id", "observed")
                    )
                ),
            ),
            256,
        ).alias("digest"),
    ).collect()
    exemplar_counts = {r["rule_id"]: r["n"] for r in rule_rows}
    run_digest = hashlib.sha256(
        ";".join(
            sorted(f"{r['rule_id']}:{r['digest']}" for r in rule_rows)
        ).encode()
    ).hexdigest()
    # True totals: ledger tallies (pre-cap) for row rules + the uncapped
    # table-scope uniqueness rows from the written output.
    rule_counts: dict[str, int] = {}
    for p in all_parts:
        for rid, (nv, _nn) in ledger.partitions.get(p, {}).get(
            "rule_counts", {}
        ).items():
            rule_counts[rid] = rule_counts.get(rid, 0) + int(nv)
    if "uniq:clip_id" in exemplar_counts:
        rule_counts["uniq:clip_id"] = exemplar_counts["uniq:clip_id"]
    if NEARDUP_RULE_ID in exemplar_counts:
        # one row per cluster, written uncapped like uniq:clip_id
        rule_counts[NEARDUP_RULE_ID] = exemplar_counts[NEARDUP_RULE_ID]
    n_viol_total = sum(rule_counts.values())
    by_severity: dict[str, int] = {}
    for rid, n in rule_counts.items():
        sev = RULE_SEVERITY.get(rid, "error")
        by_severity[sev] = by_severity.get(sev, 0) + int(n)
    n_suppressed = sum(
        int(ledger.partitions.get(p, {}).get("suppressed", 0)) for p in all_parts
    )
    failed = [
        (r["partition"], r["rule_id"], r["reason"])
        for r in final_verd.filter(~F.col("pass")).orderBy("partition", "rule_id").collect()
    ]

    uniqueness = {
        "clip_id_approx_ndv": int(approx_ndv),  # HLL++ fast path
        "clip_id_exact_dup_groups": int(rule_counts.get("uniq:clip_id", 0)),
    }

    stats_doc: dict[str, Any] = {
        spec.name: {
            "count": table_stats.get("rows", 0),
            "null_permille": round(
                1000.0
                * colstats.get(spec.name, {}).get("null", 0)
                / max(table_stats.get("rows", 1), 1),
                3,
            ),
            "min": colstats.get(spec.name, {}).get("min"),
            "max": colstats.get(spec.name, {}).get("max"),
            "mean": colstats.get(spec.name, {}).get("mean"),
            "quantiles": quantiles_by_col[spec.name],
        }
        for spec in NUMERIC_STATS_COLUMNS
    }
    stats_doc |= {
        "transcript": {
            "count": table_stats.get("rows", 0),
            "null_or_empty_permille": round(
                1000.0
                * table_stats.get("transcript_null", 0)
                / max(table_stats.get("rows", 1), 1),
                3,
            ),
        },
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
            "partitions": len(all_parts),
            "partitions_resumed": resumed,
            "partitions_test_lane": len(lane_parts),
            "rows": table_stats.get("rows", 0),
            "rows_test_lane": sum(
                int(ledger.partitions.get(p, {}).get("rows", 0))
                for p in lane_parts
            ),
        },
        "findings": {
            "total_violations": int(n_viol_total),
            # exemplar rows beyond the per-(rule, partition) cap are counted
            # here, never silently dropped (reference suppressed_* counts)
            "suppressed_exemplars": int(n_suppressed),
            # new violations allowlisted by suppression directives
            "suppressed_by_directive": int(n_suppressed_directive),
            "by_rule": dict(sorted(rule_counts.items())),
            "by_severity": dict(sorted(by_severity.items())),
            "failed_gates": [
                {"partition": p, "rule_id": r, "reason": reason} for p, r, reason in failed
            ],
        },
        "metrics": {
            "stats": stats_doc,
            "histograms": histograms,
            "uniqueness": uniqueness,
            "drift": drift_metrics,
            "schema": schema_metrics,
            # 0-100 scalar + grade (reference metrics/health.py:95-162)
            "health": health.health_score(
                rows=table_stats.get("rows", 0),
                violations=int(n_viol_total),
                undecodable=int(table_stats.get("undecodable", 0)),
            ),
        },
        "derived": {"review_queue": review_queue},
        "baseline": {"trusted": trust.trusted, "reason": trust.reason},
        "warnings": warnings,
        "elapsed_sec": round(time.monotonic() - t0, 3),
        "phases": {**phases, "report_aggs": round(time.monotonic() - _last[0], 3)},
    }
    if cfg.neardup_transcript:
        # present only when the stage ran (report schema 1.2): absence
        # means "not computed", never "zero clusters"
        report["metrics"]["neardup"] = neardup_metrics
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

    # --- baseline update mode (§3.2: explicit governance action; gates not
    # enforced against the snapshot just written)
    if cfg.update_baseline and cfg.baseline_path:
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
        if cfg.neardup_transcript and neardup_clusters is not None:
            clones_out[NEARDUP_RULE_ID] = sorted(
                r["ckey"] for r in neardup_clusters.select("ckey").collect()
            )
        bl.write_baseline(
            cfg.baseline_path,
            stats=stats_doc,
            histograms=histograms,
            uniqueness=uniqueness,
            accepted_violations=all_keys,
            created_at=cfg.created_at,
            schema={"columns": current_schema, "partition_keys": ["part"]},
            accepted_ref=ref,
            clones=clones_out,
        )
        return RunResult(EXIT_OK, report, violations_path, verdicts_path)

    exit_code = EXIT_GATE_FAILURE if failed else EXIT_OK
    return RunResult(exit_code, report, violations_path, verdicts_path)


def _meta(cfg: RunConfig) -> dict[str, Any]:
    return {
        "generator": {"name": ENGINE_NAME, "version": ENGINE_VERSION},
        "data_dir": cfg.data_dir,
        "gating": cfg.gating,
        "created_at": cfg.created_at,
    }
