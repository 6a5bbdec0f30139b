"""Declarative rule registry + single-pass evaluation.

Modeled on the reference's ``METRIC_FAMILIES`` registry
(``metrics/registry.py:678-783``): each family supplies a *compute* (partial,
per-partition) and an *aggregate* (final) step plus baseline/gate keys.  Here:

- **Row rules** are (predicate, observed, expected) column triples over the
  facts frame.  ALL row rules evaluate in ONE scan: each rule becomes a
  ``when(pred, struct(...))`` element of an array column that is filtered and
  exploded — no per-rule unions, no repeated scans.  At 100 TB this is the
  difference between 1 pass and N passes.
- **Partition aggregates** (counts, null counts, min/max/mean, histogram
  partials) compute in ONE ``groupBy("part")`` — Spark's partial+final hash
  aggregation is exactly the reference's compute/aggregate fold.
- **Uniqueness** is its own shuffle (groupBy clip_id) — exact, like the
  reference's exact fingerprint grouping (``findings/clones/grouping.py:38-45``).

Rule-id scheme mirrors ``findings/ids.py:10-23``: ``family:detail[:column]``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from codeclone_spark.functions.audio import DUR_TOLERANCE_MS, SNR_MIN_DB
from codeclone_spark.session import local_frame

ALLOWED_SR = [8000, 16000, 22050, 44100, 48000]
ALLOWED_CODECS = ["pcm_s16le", "flac", "mp3", "vorbis"]
DUR_BOUNDS_MS = (50, 60_000)

# Fixed histogram bin edges (baseline drift contract; bin design follows the
# reference's log-scaled cluster-size buckets, analytics/partition_metrics.py:72-88).
DUR_BIN_EDGES = [0.0, 250.0, 400.0, 600.0, 900.0, 1400.0, 2100.0, 3200.0, 1e9]


@dataclass(frozen=True)
class RowRule:
    """A row-level violation rule over the facts frame."""

    rule_id: str
    predicate: Column
    observed: Column
    expected: str
    # applicability guard: rows where the rule simply doesn't apply
    applicable: Column | None = None


def _s(c: Column) -> Column:
    return c.cast("string")


def row_rules() -> list[RowRule]:
    """The registry. Order is part of the output contract (deterministic)."""
    return [
        RowRule(
            "audio:undecodable",
            F.col("error_kind").isNotNull(),
            F.col("error_kind"),
            "decodable audio payload",
        ),
        RowRule(
            "audio:len_consistency",
            F.abs(F.col("decoded_dur_ms") - F.col("dur_ms")) > DUR_TOLERANCE_MS,
            F.concat_ws(
                "",
                F.lit("decoded_dur_ms="),
                F.round("decoded_dur_ms", 2).cast("string"),
            ),
            f"within {DUR_TOLERANCE_MS:g}ms of header dur_ms",
            applicable=F.col("decoded_dur_ms").isNotNull()
            & F.col("dur_ms").isNotNull(),
        ),
        RowRule(
            "audio:snr",
            F.col("snr_db") < SNR_MIN_DB,
            F.concat_ws("", F.lit("snr_db="), F.round("snr_db", 2).cast("string")),
            f"SNR >= {SNR_MIN_DB:g} dB vs fixture PCM",
            applicable=F.col("snr_db").isNotNull(),
        ),
        RowRule(
            "audio:transcript_eq",
            ~F.col("transcript_match"),
            F.col("transcript"),
            "exact (NFC) match with fixture transcript",
            # null/empty transcripts belong to stats:null:transcript, not here
            applicable=F.col("transcript_match").isNotNull()
            & F.col("transcript").isNotNull()
            & (F.length("transcript") > 0),
        ),
        RowRule(
            "audio:silence",
            F.col("silence_ratio") > 0.98,
            F.concat_ws(
                "", F.lit("silence_ratio="), F.round("silence_ratio", 4).cast("string")
            ),
            "audible content (silence_ratio <= 0.98)",
            applicable=F.col("silence_ratio").isNotNull(),
        ),
        RowRule(
            "audio:clipping",
            F.col("clipping_ratio") > 0.02,
            F.concat_ws(
                "", F.lit("clipping_ratio="), F.round("clipping_ratio", 4).cast("string")
            ),
            "clipping_ratio <= 0.02",
            applicable=F.col("clipping_ratio").isNotNull(),
        ),
        RowRule(
            "ref:fixture_missing",
            F.col("fixture_status") == "missing_fixture",
            F.lit("missing_fixture"),
            "fixture row present for clip_id",
        ),
        RowRule(
            "stats:null:dur_ms",
            F.col("dur_ms").isNull(),
            F.lit("<null>"),
            "non-null dur_ms",
        ),
        RowRule(
            "stats:null:transcript",
            F.col("transcript").isNull() | (F.length("transcript") == 0),
            F.when(F.col("transcript").isNull(), F.lit("<null>")).otherwise(
                F.lit("<empty>")
            ),
            "non-empty transcript",
        ),
        RowRule(
            "stats:range:dur_ms",
            (F.col("dur_ms") < DUR_BOUNDS_MS[0]) | (F.col("dur_ms") > DUR_BOUNDS_MS[1]),
            _s(F.col("dur_ms")),
            f"dur_ms in [{DUR_BOUNDS_MS[0]}, {DUR_BOUNDS_MS[1]}]",
            applicable=F.col("dur_ms").isNotNull(),
        ),
        RowRule(
            "stats:domain:sr_hz",
            ~F.col("sr_hz").isin(ALLOWED_SR),
            _s(F.col("sr_hz")),
            f"sr_hz in {ALLOWED_SR}",
            applicable=F.col("sr_hz").isNotNull(),
        ),
        RowRule(
            "stats:domain:codec",
            ~F.col("codec").isin(ALLOWED_CODECS),
            F.coalesce(F.col("codec"), F.lit("<null>")),
            f"codec in {ALLOWED_CODECS}",
        ),
    ]


# Static id list (row_rules() builds Column exprs and needs a live session)
ROW_RULE_IDS = [
    "audio:undecodable",
    "audio:len_consistency",
    "audio:snr",
    "audio:transcript_eq",
    "audio:silence",
    "audio:clipping",
    "ref:fixture_missing",
    "stats:null:dur_ms",
    "stats:null:transcript",
    "stats:range:dur_ms",
    "stats:domain:sr_hz",
    "stats:domain:codec",
]
# Rules evaluated outside the single row pass (their own shuffle / driver step)
TABLE_RULE_IDS = ["uniq:clip_id"]
# Near-dup clone-group rule (opt-in stage, RunConfig.neardup_transcript):
# table-scope like uniq:clip_id — clusters span partitions, so the finding
# is attributed to min(part) for reporting only and partition-scoped
# suppressions are rejected.  NOT in TABLE_RULE_IDS: the dense verdict grid
# must not assert "ok (0 violations)" for a stage that never ran; the rule
# gets one table-scope verdict row when enabled (drift-rule convention).
NEARDUP_RULE_ID = "neardup:transcript"

# Rule-intrinsic triage severity (reference risk/severity bucketing:
# metrics registry families carry a risk class; errors are correctness
# breaks, warns are quality signals).  Gating is budget-driven either way —
# severity buckets the triage report, it does not bypass gates.
RULE_SEVERITY = {
    "audio:undecodable": "error",
    "audio:len_consistency": "error",
    "audio:snr": "error",
    "audio:transcript_eq": "error",
    "audio:silence": "warn",
    "audio:clipping": "warn",
    "ref:fixture_missing": "error",
    "stats:null:dur_ms": "warn",
    "stats:null:transcript": "warn",
    "stats:range:dur_ms": "error",
    "stats:domain:sr_hz": "error",
    "stats:domain:codec": "error",
    "uniq:clip_id": "error",
    "neardup:transcript": "warn",
    "drift:psi:dur_ms": "warn",
    "drift:ks:dur_ms": "warn",
    "drift:psi:sr_hz": "warn",
    "drift:quantile:dur_ms": "warn",
    "drift:quantile:rms": "warn",
    "drift:quantile:spectral_flatness": "warn",
    "schema:removed": "error",
    "schema:type_change": "error",
}
DRIFT_RULE_IDS = [
    "drift:psi:dur_ms",
    "drift:ks:dur_ms",
    "drift:psi:sr_hz",
    "drift:quantile:dur_ms",
    "drift:quantile:rms",
    "drift:quantile:spectral_flatness",
]
# schema-evolution verdicts vs the baseline snapshot (breaking changes only;
# added columns are informational, reported not gated)
SCHEMA_RULE_IDS = ["schema:removed", "schema:type_change"]

# Fixed-bin mergeable quantile sketch for dur_ms: 25 ms resolution over the
# legal duration domain + one overflow bin.  Per-partition count arrays merge
# by element-wise sum across waves/resumes (the property a t-digest would
# give; Spark's percentile_approx state is not ledger-persistable, so the
# sketch IS the distributed quantile path — percentile_approx remains the
# per-partition fast path in the same groupBy).
QSK_BIN_MS = 25
QSK_MAX_MS = 3200
QSK_NBINS = QSK_MAX_MS // QSK_BIN_MS + 1  # + overflow


@dataclass(frozen=True)
class NumericColSpec:
    """One declarative entry of the per-column stats family: the column
    gets null/min/max/mean partials, a mergeable fixed-bin quantile
    sketch, baseline quantiles, and a drift:quantile:<name> gate — the
    reference's METRIC_FAMILIES breadth (metrics/registry.py:678-783)
    expressed as data, not code."""

    name: str        # facts column
    bin_width: float  # sketch bin width (column units)
    nbins: int       # bins incl. one overflow bin


NUMERIC_STATS_COLUMNS: tuple[NumericColSpec, ...] = (
    NumericColSpec("dur_ms", float(QSK_BIN_MS), QSK_NBINS),
    # decoded-PCM RMS lives in [0, ~1]: 1/128 resolution + overflow
    NumericColSpec("rms", 1.0 / 128.0, 130),
    # spectral flatness lives in [0, 1]: same 1/128 lattice + overflow.
    # Third registry column: adding it costs ZERO extra wave jobs
    # (qsketch_counts_multi folds all columns into one aggregation —
    # asserted by test_plans_physical) — only this declaration plus a
    # SARIF id for its drift gate.
    NumericColSpec("spectral_flatness", 1.0 / 128.0, 130),
)
# every registry column carries a quantile-drift gate
assert all(
    f"drift:quantile:{s.name}" in DRIFT_RULE_IDS for s in NUMERIC_STATS_COLUMNS
)


def evaluate_row_rules(facts: DataFrame) -> DataFrame:
    """ONE pass: facts -> violations(rule_id, partition, clip_id, observed,
    expected).  Builds an array of nullable violation structs, drops nulls,
    explodes.  Catalyst keeps this inside a single WholeStageCodegen project +
    generate — no joins, no extra shuffles."""
    elems = []
    for r in row_rules():
        pred = r.predicate
        if r.applicable is not None:
            pred = r.applicable & pred
        elems.append(
            F.when(
                pred,
                F.struct(
                    F.lit(r.rule_id).alias("rule_id"),
                    F.coalesce(r.observed.cast("string"), F.lit("<null>")).alias(
                        "observed"
                    ),
                    F.lit(r.expected).alias("expected"),
                    F.lit(RULE_SEVERITY[r.rule_id]).alias("severity"),
                ),
            )
        )
    arr = F.filter(F.array(*elems), lambda x: x.isNotNull())
    return (
        facts.select(
            F.col("part").alias("partition"),
            F.col("clip_id"),
            F.explode(arr).alias("v"),
        )
        .select(
            F.col("v.rule_id").alias("rule_id"),
            "partition",
            "clip_id",
            F.col("v.observed").alias("observed"),
            F.col("v.expected").alias("expected"),
            F.col("v.severity").alias("severity"),
        )
    )


def evaluate_uniqueness(facts: DataFrame) -> DataFrame:
    """Exact duplicate detection on clip_id (reference ``build_groups``
    grouping.py:38-45 keeps groups with size > 1).  clip_id is a high-card
    uniform hash key, so this shuffle has no skew; map-side partial counts
    make it one efficient exchange.  Reads only ``clip_id`` and ``part`` (a
    column-pruned scan suffices); rows carry the violation-sink columns."""
    dups = (
        facts.groupBy("clip_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("part").alias("partition"),  # deterministic representative
        )
        .filter(F.col("n") > 1)
    )
    return dups.select(
        F.lit("uniq:clip_id").alias("rule_id"),
        F.col("partition"),
        F.col("clip_id"),
        F.concat_ws("", F.lit("count="), F.col("n").cast("string")).alias("observed"),
        F.lit("unique clip_id").alias("expected"),
        F.lit(RULE_SEVERITY["uniq:clip_id"]).alias("severity"),
    )


# ------------------------------------------------------ partition partials --
def _hist_expr(col: str, edges: list[float]) -> Column:
    """Mergeable histogram partial: array<long> of per-bin counts."""
    buckets = []
    for i in range(len(edges) - 1):
        lo, hi = edges[i], edges[i + 1]
        buckets.append(
            F.sum(
                F.when(
                    F.col(col).isNotNull()
                    & (F.col(col) >= lo)
                    & (F.col(col) < hi),
                    F.lit(1),
                ).otherwise(F.lit(0))
            )
        )
    return F.array(*buckets)


def qsk_bin(spec: NumericColSpec) -> Column:
    """Quantile-sketch bin index for a non-negative numeric column (last
    bin = overflow); null for null/negative values (excluded from the
    sketch).  The sketch itself is aggregated as groupBy(part, bin).count()
    — one array<long> of nbins counts per partition after the driver-side
    reshape — NOT as nbins separate aggregate expressions: that shape
    generated so much code that Janino compilation (~5 s per fresh plan)
    dwarfed the actual aggregation (~0.3 s)."""
    idx = F.least(
        (F.col(spec.name) / F.lit(spec.bin_width)).cast("int"),
        F.lit(spec.nbins - 1),
    )
    return F.when(F.col(spec.name).isNotNull() & (F.col(spec.name) >= 0), idx)


def qsketch_counts_multi(
    facts: DataFrame, specs: tuple[NumericColSpec, ...]
) -> DataFrame:
    """(part, col, bin, n) sketch partials for EVERY registry column in one
    Spark job: the per-column bin indices explode from one array, so adding
    a column to the registry costs zero extra wave jobs (the groupBy key
    grows by the tiny `col` dimension instead)."""
    entries = F.array(
        *[
            F.struct(F.lit(s.name).alias("col"), qsk_bin(s).alias("bin"))
            for s in specs
        ]
    )
    return (
        facts.select("part", F.explode(entries).alias("e"))
        .select("part", F.col("e.col").alias("col"), F.col("e.bin").alias("bin"))
        .filter(F.col("bin").isNotNull())
        .groupBy("part", "col", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def partition_aggregates(facts: DataFrame) -> DataFrame:
    """Per-partition stats in one groupBy (partial+final hash agg); only
    the fine-grained quantile sketch lives in its own tiny aggregation
    (:func:`qsketch_counts_multi` — codegen-size reasons).  Histogram partials
    are mergeable arrays so drift can be computed from the ledger across
    resumable waves without rescanning data."""
    sr_cats = [F.sum((F.col("sr_hz") == v).cast("long")).alias(f"sr_{v}") for v in ALLOWED_SR]
    # one (null, min, max, mean) quartet per registry column — the
    # mergeable quantile SKETCH is aggregated separately (qsketch_counts_multi)
    # to keep this plan's codegen unit small
    col_aggs = []
    for spec in NUMERIC_STATS_COLUMNS:
        c = spec.name
        col_aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_null"),
            F.min(c).alias(f"{c}_min"),
            F.max(c).alias(f"{c}_max"),
            F.avg(c).alias(f"{c}_mean"),
        ]
    return facts.groupBy("part").agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(
            (F.col("transcript").isNull() | (F.length("transcript") == 0)).cast("long")
        ).alias("transcript_null"),
        F.sum((~F.col("decode_ok")).cast("long")).alias("undecodable"),
        F.approx_count_distinct("clip_id").alias("approx_ndv"),
        _hist_expr("dur_ms", DUR_BIN_EDGES).alias("dur_hist"),
        *col_aggs,
        *sr_cats,
    )


@dataclass(frozen=True)
class GateConfig:
    """Per-rule violation budgets (reference ``MetricGateConfig`` /
    ``report/gates/evaluator.py``).  ``max_count`` is an absolute cap,
    ``max_permille`` a rate cap — a rule fails its partition when EITHER is
    exceeded.  Defaults are strict (0 tolerance) like ``--ci`` mode."""

    max_count: dict[str, int] = field(default_factory=dict)
    max_permille: dict[str, float] = field(default_factory=dict)
    # drift gates
    psi_max: float = 0.25
    ks_max: float = 0.25
    # max relative delta of any of p50/p95/p99 vs the baseline snapshot
    quantile_rel_max: float = 0.25

    def budget(self, rule_id: str) -> tuple[int | None, float | None]:
        """Configured budgets for *rule_id*; ``None`` = constraint unset.

        A rule configured in neither dict gets the strict-CI default: a
        zero count budget (any new violation fails).  A rule configured in
        only one dict is constrained by that budget alone — a
        max_count-only config must not be silently tightened by an
        implicit 0-permille cap (or vice versa)."""
        has_n = rule_id in self.max_count
        has_pm = rule_id in self.max_permille
        if not has_n and not has_pm:
            return (0, None)
        return (
            int(self.max_count[rule_id]) if has_n else None,
            float(self.max_permille[rule_id]) if has_pm else None,
        )


def build_verdicts(
    violation_counts: DataFrame,
    partition_rows: DataFrame,
    gates: GateConfig,
    test_lane: set[str] | None = None,
) -> DataFrame:
    """(partition, rule_id) -> pass/reason/novelty.

    *violation_counts*: (partition, rule_id, n_viol, n_new) where n_new counts
    violations NOT in the baseline accepted set — the caller applies that
    set, so only n_new reaches the gate.  *partition_rows*: (part,
    rows).  Every (partition x row rule) pair gets a verdict (dense grid), so
    a clean partition still asserts an explicit pass — the reference's gate
    evaluator enumerates every configured gate the same way.

    *test_lane* partitions (reference is_test_filepath lane routing,
    analysis/units.py:151,176) are validated and reported but never gate a
    run: their verdicts pass with an informational reason."""
    spark = violation_counts.sparkSession
    all_rules = ROW_RULE_IDS + TABLE_RULE_IDS
    rules_df = local_frame(spark, [(r,) for r in all_rules], "rule_id string")
    grid = partition_rows.select(
        F.col("part").alias("partition"), "rows"
    ).crossJoin(F.broadcast(rules_df))

    j = grid.join(violation_counts, ["partition", "rule_id"], "left").fillna(
        {"n_viol": 0, "n_new": 0}
    )

    # -1 encodes "constraint unset" in the broadcast literal maps (budgets
    # are non-negative by construction, so the sentinel can't collide).
    budget_count = F.create_map(
        *[
            x
            for r in all_rules
            for x in (
                F.lit(r),
                F.lit(gates.budget(r)[0] if gates.budget(r)[0] is not None else -1),
            )
        ]
    )
    budget_pm = F.create_map(
        *[
            x
            for r in all_rules
            for x in (
                F.lit(r),
                F.lit(gates.budget(r)[1] if gates.budget(r)[1] is not None else -1.0),
            )
        ]
    )
    max_n = budget_count[F.col("rule_id")]
    max_pm = budget_pm[F.col("rule_id")]
    # Accepted (baseline-known) violations don't trip the gate: only NEW ones
    # count against the budget (reference diff-gating: fail_on_new).
    eff = F.col("n_new")
    # Compare the UNROUNDED rate: rounding to 3 decimals first would let up
    # to 0.0005 permille (e.g. 4 violations in a 10^7-row partition) slip
    # under a zero-tolerance budget.  Round only for the reason string.
    eff_pm_raw = eff * 1000.0 / F.greatest(F.col("rows"), F.lit(1))
    eff_pm = F.round(eff_pm_raw, 3)
    # A rule fails when EITHER configured budget is exceeded (reference
    # report/gates/evaluator.py:500-521) -> pass requires BOTH to hold.
    count_ok = (max_n < 0) | (eff <= max_n)
    pm_ok = (max_pm < 0.0) | (eff_pm_raw <= max_pm)
    passed = count_ok & pm_ok

    reason = F.when(
        passed & (F.col("n_viol") == 0),
        F.concat_ws("", F.col("rule_id"), F.lit(": ok (0 violations)")),
    ).when(
        passed,
        F.format_string(
            "%s: ok (%d violation(s), %d new, within budget)",
            F.col("rule_id"),
            F.col("n_viol"),
            eff,
        ),
    ).otherwise(
        F.format_string(
            "%s: %d new violation(s) (%s permille) exceed budget (max_count=%s, max_permille=%s)",
            F.col("rule_id"),
            eff,
            eff_pm.cast("string"),
            F.when(max_n < 0, F.lit("unset")).otherwise(max_n.cast("string")),
            F.when(max_pm < 0.0, F.lit("unset")).otherwise(max_pm.cast("string")),
        )
    )
    novelty = F.when(F.col("n_new") > 0, F.lit("new")).otherwise(F.lit("known"))
    if test_lane:
        # Table-scope rules (uniq:clip_id) are attributed to min(part) only
        # for reporting; a duplicate group can span lane and production
        # partitions, so the lane pass-through must never apply to them.
        in_lane = F.col("partition").isin(sorted(test_lane)) & ~F.col(
            "rule_id"
        ).isin(TABLE_RULE_IDS)
        reason = F.when(
            in_lane & ~passed,
            F.concat(F.lit("test-lane (informational): "), reason),
        ).otherwise(reason)
        passed = in_lane | passed
    return j.select(
        "partition",
        "rule_id",
        passed.alias("pass"),
        reason.alias("reason"),
        novelty.alias("novelty"),
    )


def violation_key(df: DataFrame) -> Column:
    """Stable identity of a violation for baseline accepted-set matching
    (analog of the reference's sorted clone-group id sets,
    clone_baseline.py:511-527)."""
    return F.concat_ws(
        "|", df["rule_id"], df["partition"], F.coalesce(df["clip_id"], F.lit("-"))
    )
