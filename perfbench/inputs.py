"""Seeded benchmark inputs, generated once into the benchmark's cache.

Every corpus is keyed by (name, seed, size, GEN_VERSION) and written under
``<work>/cache/`` outside any timed region. A reused corpus is accepted only
when its row count matches the count recorded when it was written.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from epstein_browser_spark.pipeline import with_bucket
from epstein_browser_spark.synth import synth_transcripts_spark

GEN_VERSION = 2

# corpus sizes (turns); sized so a batch run fits the run budget of
# BENCHMARK.json on a 4-core box, see README.md "Sizing"
EXTRACT_TURNS = 12_000
# recoverable candidates: the prose ids among these whose conversation
# hashes to bucket 0, so the re-drive rewrites one bucket of the output
RECOVERABLE_RAW = 1_000
CURATE_TURNS = 1_000

# sized like the sf0.01 browser tables: the queries are planning-bound at
# either size, and sf0.1 (5000 docs, 600k lines) serves too few requests
# per run within the run budget on 4 cores
SERVE_DOCS = 500
SERVE_LINEITEMS = 60_000

# symbol run that makes prose "mostly non-alphabetic" (low quality) while
# staying outside the kernel's binary-strip set, so only the re-drive's
# aggressive pre-clean can recover the turn
_NOISE_GAP = " @#%&*+=@#%&*+=@#%&*+= "
NOISE_MARK = "@#%&"

_DOC_WORDS = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "the join customer vector"
).split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def id_offset(seed: int, slot: int) -> int:
    """Generator id offset for a seed: a multiple of 10, so the synth
    content-class mix (id % 10) is the same for every seed, and small enough
    that turn_idx = id stays within int32."""
    return (seed % 1000) * 2_000_000 + slot * 1_000_000


def parquet_rows(path: str) -> int:
    """Row count of a parquet directory, from the file footers."""
    return sum(pq.ParquetFile(os.path.join(path, n)).metadata.num_rows
               for n in os.listdir(path) if n.endswith(".parquet"))


def _cached(work: str, key: str, build) -> str:
    """Path of the parquet corpus ``key``; ``build(path)`` writes it on a
    miss. A reuse re-counts its rows, which must match the count recorded
    when it was written."""
    path = os.path.join(work, "cache", key)
    meta = path + ".json"
    if os.path.exists(meta):
        with open(meta) as f:
            want = json.load(f)["rows"]
        if os.path.isdir(path) and parquet_rows(path) == want:
            return path
    shutil.rmtree(path, ignore_errors=True)
    build(path)
    with open(meta, "w") as f:
        json.dump({"rows": parquet_rows(path), "gen_version": GEN_VERSION}, f)
    return path


def extract_corpus(spark, work: str, seed: int, n_buckets: int) -> str:
    """Mixed-content corpus (60% prose, 10% each spans/html/pdf/quality
    failures) plus recoverable noisy turns in the same conversations."""
    off = id_offset(seed, 0)
    n_convs = EXTRACT_TURNS // 40

    def build(path):
        base = synth_transcripts_spark(spark, EXTRACT_TURNS, id_offset=off)
        noisy = (
            synth_transcripts_spark(spark, RECOVERABLE_RAW, n_convs=n_convs,
                                    id_offset=off + EXTRACT_TURNS)
            .filter(F.col("tool").isNull() & (F.length("text") > 60))
            .withColumn("text", F.regexp_replace("text", " ", _NOISE_GAP))
        )
        noisy = with_bucket(noisy, n_buckets).filter("bucket = 0").drop("bucket")
        base.unionByName(noisy).coalesce(4).write.parquet(path)

    key = f"extract-s{seed}-n{EXTRACT_TURNS}-b{n_buckets}-v{GEN_VERSION}"
    return _cached(work, key, build)


def curate_corpus(spark, work: str, seed: int) -> str:
    """Diversified corpus: near-unique texts with low pairwise Jaccard."""
    off = id_offset(seed, 1)

    def build(path):
        synth_transcripts_spark(spark, CURATE_TURNS, diversify=True,
                                id_offset=off).coalesce(2).write.parquet(path)

    return _cached(work, f"curate-s{seed}-n{CURATE_TURNS}-v{GEN_VERSION}", build)


def serve_tables(work: str) -> str:
    """``documents`` and ``lineitem`` tables shaped like the sf0.01 browser
    tables (500 documents; 60k line items over ~15k orders). The query
    surface reads only these two. Fixed content: the serve seed sets the
    request order, not the data."""
    root = os.path.join(work, "cache", f"serve-d{SERVE_DOCS}-l{SERVE_LINEITEMS}-v{GEN_VERSION}")
    done = os.path.join(root, "_DONE")
    if os.path.exists(done):
        return root
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    rng = np.random.default_rng(42)
    n_words = rng.integers(8, 100, SERVE_DOCS)
    words = np.array(_DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in n_words]
    docs = pd.DataFrame({
        "doc_id": np.arange(SERVE_DOCS, dtype="int64"),
        "text": texts,
        "lang": rng.choice(_LANGS, SERVE_DOCS, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(SERVE_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    docs.to_parquet(os.path.join(root, "documents.parquet"), index=False)
    lines = rng.integers(1, 8, SERVE_LINEITEMS // 4)
    lines = lines[: np.searchsorted(np.cumsum(lines), SERVE_LINEITEMS)]
    orderkey = np.repeat(np.arange(1, len(lines) + 1, dtype="int64") * 4, lines)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines]).astype("int32")
    pd.DataFrame({"l_orderkey": orderkey, "l_linenumber": linenumber}).to_parquet(
        os.path.join(root, "lineitem.parquet"), index=False)
    open(done, "w").close()
    return root
