"""Seeded benchmark inputs: the clip corpus, the stream staging of it, and
the near-dup transcript set with planted groups.

Everything derives from the ``--seed`` argument, so the same seed gives the
same inputs; the engine only ever sees the generated files.
"""

from __future__ import annotations

import os
import random

import pandas as pd
import pyarrow as pa
import pyarrow.dataset as pa_ds
import pyarrow.parquet as pq

from codeclone_spark import synth
from codeclone_spark.schema import CLIPS_SCHEMA

CLIPS = 2000  # base rows; synth adds the planted duplicate rows on top
PROFILE = "small"  # 8 hash buckets x 4 codecs = 32 partitions
STREAM_FILES = 192  # 3 micro-batches at stream_validate's 64 files/trigger

# Near-dup plants (dedup probe).  Group members share a long base text and
# differ by a one-word tail, so every pair clears the engine's 0.9 Jaccard
# threshold; the boilerplate group is larger than the LSH bucket cap, like
# "[music]" rows in real speech data.
NEARDUP_GROUPS = 5
NEARDUP_GROUP_SIZE = 4
NEARDUP_BASE_WORDS = 60
# A chain: each member is a sliding word window one word further along, so
# only members about a dozen steps apart clear the threshold and connected
# components needs many hops (pointer-doubling rounds) to join the chain
# into one cluster.
CHAIN_LEN = 100
CHAIN_WINDOW = 200
HOT_GROUP_SIZE = 1100  # > operators.dedup.DEFAULT_MAX_BUCKET (1024)
HOT_TEXT = "[music]"


def generate_corpus(data_dir: str, seed: int) -> dict:
    """(Re)generate the clip corpus and fixtures; returns the manifest."""
    return synth.generate(
        data_dir, profile=PROFILE, seed=seed, n_rows=CLIPS, force=True
    )


def read_clips_table(data_dir: str) -> pa.Table:
    """The clips dataset with ``part`` read back from the hive directories
    as a plain string column."""
    ds = pa_ds.dataset(
        os.path.join(data_dir, "clips"), format="parquet", partitioning="hive"
    )
    tbl = ds.to_table()
    return tbl.set_column(
        tbl.schema.get_field_index("part"), "part", tbl["part"].cast(pa.string())
    )


def stage_stream(data_dir: str, stream_dir: str) -> int:
    """Write the corpus as STREAM_FILES small flat parquet files in clip_id
    order, so ``stream_validate`` drains it in several micro-batches.
    Returns the row count."""
    tbl = read_clips_table(data_dir).sort_by("clip_id")
    tbl = tbl.select(CLIPS_SCHEMA.fieldNames())
    os.makedirs(stream_dir, exist_ok=True)
    step = -(-tbl.num_rows // STREAM_FILES)
    for k in range(STREAM_FILES):
        pq.write_table(
            tbl.slice(k * step, step),
            os.path.join(stream_dir, f"clips-{k:04d}.parquet"),
        )
    return tbl.num_rows


def neardup_docs(
    data_dir: str, seed: int
) -> tuple[pd.DataFrame, list[list[str]], list[str]]:
    """(doc_id, transcript) frame for the dedup ladder: the corpus's
    non-empty transcripts with NEARDUP_GROUPS planted near-dup groups and
    one chain (members replace existing transcripts), plus a
    HOT_GROUP_SIZE boilerplate group appended as new documents.  Returns the frame,
    the member ids of each near-dup group, and the chain's member ids."""
    tbl = read_clips_table(data_dir).select(["clip_id", "transcript"])
    df = tbl.to_pandas().drop_duplicates("clip_id")
    df = df[df["transcript"].notna() & (df["transcript"].str.len() > 0)]
    df = df.rename(columns={"clip_id": "doc_id"}).sort_values("doc_id")
    df = df.reset_index(drop=True)

    rng = random.Random(seed)
    rows = iter(rng.sample(range(len(df)), NEARDUP_GROUPS * NEARDUP_GROUP_SIZE + CHAIN_LEN))
    groups: list[list[str]] = []

    def plant(texts: list[str]) -> None:
        ids = []
        for text in texts:
            row = next(rows)
            df.at[row, "transcript"] = text
            ids.append(df.at[row, "doc_id"])
        groups.append(sorted(ids))

    # words outside synth's vocabulary, so no natural transcript joins a group
    def words(tag: str, n: int) -> list[str]:
        return [f"{tag}w{rng.randrange(10_000):04d}" for _ in range(n)]

    for g in range(NEARDUP_GROUPS):
        base = " ".join(words(f"g{g}", NEARDUP_BASE_WORDS))
        plant([f"{base} tail{k}" for k in range(NEARDUP_GROUP_SIZE)])
    chain = words("c", CHAIN_WINDOW + CHAIN_LEN - 1)
    plant([" ".join(chain[k : k + CHAIN_WINDOW]) for k in range(CHAIN_LEN)])
    chain_ids = groups.pop()
    hot = pd.DataFrame(
        {
            "doc_id": [f"hot-{i:06d}" for i in range(HOT_GROUP_SIZE)],
            "transcript": [HOT_TEXT] * HOT_GROUP_SIZE,
        }
    )
    return pd.concat([df, hot], ignore_index=True), groups, chain_ids
