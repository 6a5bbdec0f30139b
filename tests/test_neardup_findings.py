"""Near-dup transcript clone groups as first-class engine findings.

The reference's core loop: pairwise clone matches -> transitive groups ->
baseline diff (new vs known) -> fail-on-new gate -> --update-baseline
acceptance (reference baseline/diff.py:23-32,
report/document/findings.py:96-115, clone_baseline.py:511-527).
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from codeclone_spark import EXIT_GATE_FAILURE, EXIT_OK
from codeclone_spark.operators.rules import NEARDUP_RULE_ID
from codeclone_spark.plans import baseline as bl
from codeclone_spark.plans.runner import RunConfig, run

_BASE_A = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
    "kilo lima mike november oscar papa quebec romeo sierra tango"
)
_BASE_B = (
    "uniform victor whiskey xray yankee zulu north south east west "
    "zero one two three four five six seven eight nine ten eleven"
)


def _uniq_text(clip_id: str) -> str:
    """Per-clip transcript with no cross-clip shingle overlap (random hex
    words): the tiny corpus's natural 2-4-word transcripts collide at
    5-gram Jaccard >= 0.9, so the test corpus first makes every transcript
    unique and then plants exactly two controlled near-dup groups."""
    import hashlib

    return " ".join(
        hashlib.md5(f"{clip_id}:{j}".encode()).hexdigest() for j in range(4)
    )


@pytest.fixture(scope="module")
def neardup_dir(tiny_dir, tiny_manifest, tmp_path_factory) -> str:
    """Copy of the tiny corpus with two planted near-dup transcript groups
    (sizes 3 and 2).  Targets are fixture_missing clips: plant sets are
    disjoint and transcript_eq is inapplicable without a fixture row, so
    the plant couples to no other rule.  All other transcripts are
    rewritten unique (clips + fixture truth in lockstep, preserving the
    null/empty and '+ corrupted' plants)."""
    dst = os.path.join(str(tmp_path_factory.mktemp("neardup")), "corpus")
    shutil.copytree(tiny_dir, dst)
    targets = sorted(tiny_manifest["planted"]["fixture_missing"])[:5]
    texts = {
        targets[0]: _BASE_A,
        targets[1]: _BASE_A + " one",
        targets[2]: _BASE_A + " two",
        targets[3]: _BASE_B,
        targets[4]: _BASE_B,
    }

    def _clip_text(cid: str, old: str | None) -> str | None:
        if cid in texts:
            return texts[cid]
        if old is None or old == "":
            return old  # transcript_null plant preserved
        if old.endswith(" corrupted"):  # transcript_mismatch plant preserved
            return _uniq_text(cid) + " corrupted"
        return _uniq_text(cid)

    def _rewrite(path: str, id_col: str, tr_col: str, fn) -> None:
        t = pq.read_table(path)
        tr = [
            fn(i, old)
            for i, old in zip(
                t.column(id_col).to_pylist(), t.column(tr_col).to_pylist()
            )
        ]
        idx = t.schema.get_field_index(tr_col)
        t = t.set_column(idx, tr_col, pa.array(tr, pa.string()))
        pq.write_table(t, path)

    clips_root = os.path.join(dst, "clips")
    for part in sorted(os.listdir(clips_root)):
        pdir = os.path.join(clips_root, part)
        if not os.path.isdir(pdir):
            continue
        for fn in sorted(os.listdir(pdir)):
            if fn.endswith(".parquet"):
                _rewrite(
                    os.path.join(pdir, fn), "clip_id", "transcript", _clip_text
                )
    _rewrite(
        os.path.join(dst, "fixtures_ref.parquet"),
        "clip_id",
        "expected_transcript",
        lambda cid, old: _uniq_text(cid),
    )
    return dst


def _cfg(neardup_dir: str, out: str, **kw) -> RunConfig:
    return RunConfig(
        data_dir=neardup_dir,
        out_dir=out,
        neardup_transcript=True,
        neardup_threshold=0.9,
        **kw,
    )


@pytest.fixture(scope="module")
def accepted_baseline(spark, neardup_dir, tmp_path_factory):
    """(baseline_path, first_run_result): run once without a baseline
    (clusters all NEW), then accept everything via --update-baseline."""
    out1 = str(tmp_path_factory.mktemp("nd_run1"))
    r1 = run(spark, _cfg(neardup_dir, out1))
    base = os.path.join(str(tmp_path_factory.mktemp("nd_bl")), "baseline.json")
    out2 = str(tmp_path_factory.mktemp("nd_accept"))
    r2 = run(
        spark,
        _cfg(neardup_dir, out2, baseline_path=base, update_baseline=True),
    )
    assert r2.exit_code == EXIT_OK
    return base, r1


def test_new_clusters_gate(accepted_baseline):
    _, r1 = accepted_baseline
    nd = r1.report["metrics"]["neardup"]
    assert nd["n_clusters"] == 2
    assert nd["n_new"] == 2 and nd["n_known"] == 0
    assert nd["n_members"] == 5 and nd["largest_cluster"] == 3
    assert r1.report["findings"]["by_rule"][NEARDUP_RULE_ID] == 2
    assert r1.exit_code == EXIT_GATE_FAILURE
    failed = {
        (g["partition"], g["rule_id"])
        for g in r1.report["findings"]["failed_gates"]
    }
    assert ("<table>", NEARDUP_RULE_ID) in failed


def test_neardup_phase_sits_after_the_waves(accepted_baseline):
    """The near-dup ladder's phase is marked after the last wave phase and
    before the uniqueness phase (the benchmark's tracer attributes jobs by
    this key order; see tests/test_runner_phases.py)."""
    from perfbench.run import PHASES

    _, r1 = accepted_baseline
    cut = PHASES.index("uniqueness_and_ndv")
    expect = [*PHASES[:cut], "neardup_clusters", *PHASES[cut:]]
    assert list(r1.report["phases"]) == expect


def test_accepted_clones_section_shape(accepted_baseline, tiny_manifest):
    base, _ = accepted_baseline
    with open(base) as f:
        doc = json.load(f)
    keys = doc["clones"][NEARDUP_RULE_ID]
    assert keys == sorted(keys) and len(keys) == 2
    targets = sorted(tiny_manifest["planted"]["fixture_missing"])[:5]
    # '<min_member_id>|<size>' — sorted-group-id convention
    assert set(keys) == {f"{targets[0]}|3", f"{targets[3]}|2"}
    snap, trust = bl.load_baseline(base)
    assert trust.trusted and snap["clones"][NEARDUP_RULE_ID] == keys


def test_accept_then_green_and_digest_stable(
    spark, neardup_dir, accepted_baseline, tmp_path_factory
):
    base, r1 = accepted_baseline
    out = str(tmp_path_factory.mktemp("nd_green"))
    r3 = run(spark, _cfg(neardup_dir, out, baseline_path=base))
    assert r3.exit_code == EXIT_OK
    nd = r3.report["metrics"]["neardup"]
    assert nd["n_new"] == 0 and nd["n_known"] == 2
    # observed carries only baseline-independent facts, so acceptance
    # never moves the run digest
    assert (
        r3.report["integrity"]["run_digest"]
        == r1.report["integrity"]["run_digest"]
    )


def test_changed_cluster_regates_as_new(
    spark, neardup_dir, accepted_baseline, tmp_path_factory
):
    """Size is part of the cluster identity: a cluster whose size moved
    since acceptance must re-gate as NEW."""
    base, _ = accepted_baseline
    with open(base) as f:
        doc = json.load(f)
    keys = sorted(doc["clones"][NEARDUP_RULE_ID])
    head, size = keys[0].rsplit("|", 1)
    tweaked = [f"{head}|{int(size) + 1}"] + keys[1:]
    base2 = os.path.join(
        str(tmp_path_factory.mktemp("nd_bl2")), "baseline.json"
    )
    bl.write_baseline(
        base2,
        stats=doc["stats"],
        histograms=doc["histograms"],
        uniqueness=doc["uniqueness"],
        accepted_violations=doc["accepted_violations"],
        schema=doc["schema"],
        accepted_ref=doc["accepted_ref"],
        clones={NEARDUP_RULE_ID: tweaked},
    )
    out = str(tmp_path_factory.mktemp("nd_regate"))
    r = run(spark, _cfg(neardup_dir, out, baseline_path=base2))
    nd = r.report["metrics"]["neardup"]
    assert nd["n_new"] == 1 and nd["n_known"] == 1
    assert r.exit_code == EXIT_GATE_FAILURE


def test_suppression_star_scope(spark, neardup_dir, tmp_path_factory):
    # partition-scoped directives are rejected up front (clusters span
    # partitions; min(part) attribution is reporting-only)
    with pytest.raises(ValueError, match="table-scope"):
        run(
            spark,
            _cfg(
                neardup_dir,
                str(tmp_path_factory.mktemp("nd_badsupp")),
                suppressions=[f"{NEARDUP_RULE_ID}:flac-b00"],
            ),
        )
    out = str(tmp_path_factory.mktemp("nd_supp"))
    r = run(
        spark,
        _cfg(neardup_dir, out, suppressions=[f"{NEARDUP_RULE_ID}:*"]),
    )
    failed = {g["rule_id"] for g in r.report["findings"]["failed_gates"]}
    assert NEARDUP_RULE_ID not in failed
    assert r.report["findings"]["suppressed_by_directive"] >= 2


def test_stage_off_reports_nothing(tiny_run):
    # absence means "not computed", never "zero clusters" — the dense
    # verdict grid must not assert ok for a stage that never ran
    assert "neardup" not in tiny_run.report["metrics"]
    assert NEARDUP_RULE_ID not in tiny_run.report["findings"]["by_rule"]


def test_ladder_resume_signature_keyed(
    spark, neardup_dir, accepted_baseline, tmp_path_factory
):
    """The cluster frame is the run's most expensive product and is
    baseline-independent, so it resumes by (corpus signature, ladder
    config) key: a re-run over the same out_dir skips the ladder entirely
    (resumed=True) and lands on an identical digest; a ladder-config
    change invalidates the cache and recomputes."""
    base, _ = accepted_baseline
    out = str(tmp_path_factory.mktemp("nd_resume"))
    r1 = run(spark, _cfg(neardup_dir, out, baseline_path=base))
    assert r1.report["metrics"]["neardup"]["resumed"] is False
    assert r1.exit_code == EXIT_OK
    r2 = run(spark, _cfg(neardup_dir, out, baseline_path=base))
    nd = r2.report["metrics"]["neardup"]
    assert nd["resumed"] is True
    assert nd["n_clusters"] == 2 and nd["n_known"] == 2
    assert (
        r2.report["integrity"]["run_digest"]
        == r1.report["integrity"]["run_digest"]
    )
    # a ladder-config change is part of the signature: recompute
    cfg3 = RunConfig(
        data_dir=neardup_dir,
        out_dir=out,
        baseline_path=base,
        neardup_transcript=True,
        neardup_threshold=0.85,
    )
    r3 = run(spark, cfg3)
    assert r3.report["metrics"]["neardup"]["resumed"] is False
