"""``session.local_frame``: driver-literal frames planned as JVM
``LocalRelation``s, and a guard that the validation path builds every
driver-side frame with it.

A list-based ``createDataFrame`` is a Python RDD: every action over it runs
a ``ParallelCollectionRDD -> PythonRDD`` stage of Python-worker tasks.  The
guard makes any such call on the runner or stream drift path a test
failure instead of a silent per-action cost.
"""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from codeclone_spark.session import local_frame

DDL = "name string, n long, ok boolean"
STRUCT = StructType(
    [
        StructField("name", StringType(), False),
        StructField("n", LongType()),
        StructField("ok", BooleanType()),
    ]
)
ROWS = [("a", 1, True), ("b", None, False), ("c", 3, None)]


def _optimized_node(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().nodeName()


@pytest.mark.parametrize("rows", [ROWS, []], ids=["rows", "empty"])
@pytest.mark.parametrize("schema", [DDL, STRUCT], ids=["ddl", "struct"])
def test_local_frame_is_local_relation(spark, schema, rows):
    want = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    df = local_frame(spark, rows, schema)
    assert _optimized_node(df) == "LocalRelation"
    assert df.schema == want
    assert [tuple(r) for r in df.collect()] == rows


def test_local_frame_nulls_in_long_and_string(spark):
    df = local_frame(spark, [(None, None), ("x", 7)], "s string, n long")
    assert [tuple(r) for r in df.collect()] == [(None, None), ("x", 7)]
    assert df.filter("s is null and n is null").count() == 1


@pytest.fixture
def no_list_frames(monkeypatch):
    """Make a list- or tuple-based ``createDataFrame`` raise; Arrow tables
    (``local_frame``) and pandas frames pass through."""
    original = SparkSession.createDataFrame

    def guarded(self, data, *args, **kwargs):
        if isinstance(data, (list, tuple)):
            raise AssertionError("list-based createDataFrame on a guarded path")
        return original(self, data, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "createDataFrame", guarded)


def test_runner_and_drift_monitor_build_no_list_frames(
    spark, tiny_dir, tiny_manifest, tmp_path, no_list_frames
):
    """One run covers every driver-literal frame of the runner: the inline
    accepted set, the accepted clone keys, the ledger counts, the near-dup
    counts row, the partition rows, the drift verdicts and the verdict
    grid's rule ids; the drift monitor adds its per-batch verdict row."""
    from codeclone_spark.plans.runner import RunConfig, run
    from codeclone_spark.streaming import stream_drift_monitor

    base = str(tmp_path / "baseline.json")
    res = run(
        spark,
        RunConfig(
            data_dir=tiny_dir,
            out_dir=str(tmp_path / "out"),
            baseline_path=base,
            update_baseline=True,
            neardup_transcript=True,
        ),
    )
    pc = tiny_manifest["planted_counts"]
    n_clusters = res.report["metrics"]["neardup"]["n_clusters"]
    assert n_clusters > 0
    assert res.report["findings"]["by_rule"] == {
        "audio:len_consistency": pc["sr_mismatch"] + pc["dur_mismatch"],
        "audio:snr": pc["low_snr"],
        "audio:transcript_eq": pc["transcript_mismatch"],
        "audio:undecodable": pc["undecodable"],
        "neardup:transcript": n_clusters,
        "ref:fixture_missing": pc["fixture_missing"],
        "stats:null:dur_ms": pc["dur_null"],
        "stats:null:transcript": pc["transcript_null"],
        "uniq:clip_id": pc["dup_clip_id"],
    }

    out = str(tmp_path / "drift")
    q = stream_drift_monitor(
        spark, f"{tiny_dir}/clips", base, out, str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(300)
    assert q.exception() is None
    rows = spark.read.parquet(out).collect()
    assert rows and all(r["pass"] for r in rows)
    assert sum(r["rows"] for r in rows) == 2004
