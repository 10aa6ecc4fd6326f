"""The two near-dup paths: the distributed pipeline (dedup.near_dup_pairs)
and its one-task twin (dedup.near_dup_pairs_single_task) must give the same
rows in the same order with the same schema, and the dedup_near_dups
registry query must pick between them by input bytes."""

import os

import duckdb
import numpy as np
import pandas as pd
import pytest
from pandas.testing import assert_frame_equal

from duckdb_routing_spark.operators import common, dedup
from duckdb_routing_spark.queries import REGISTRY
from duckdb_routing_spark.queries.llm import NEAR_DUP_ORACLE, NEAR_DUP_SINGLE_TASK_MAX_BYTES
from tests.conftest import SF_ORACLE, SF_SMOKE, TESTDATA
from tests.test_oracle_parity import canon

DOCS_DDL = "doc_id long, text string"


def _assert_same_paths(docs, threshold=0.8, max_bucket=None):
    """Distributed (ordered by the registry's sort) vs the twin as it comes
    out of its task: schema with nullability, then rows in order."""
    dist = dedup.near_dup_pairs(docs, threshold, max_bucket=max_bucket).orderBy("doc_a", "doc_b")
    single = dedup.near_dup_pairs_single_task(docs, threshold, max_bucket=max_bucket)
    assert single.schema == dist.schema
    want, got = dist.toArrow(), single.toArrow()
    assert got.schema == want.schema
    assert got.to_pylist() == want.to_pylist()
    return got.num_rows


def test_distributed_near_dups_match_oracle(spark):
    """The registry query takes the twin at fixture sizes, so the
    distributed pipeline gets its own oracle check here."""
    docs = spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF_ORACLE}/documents.parquet'")
    want = canon(con.sql(NEAR_DUP_ORACLE).df())
    got = canon(dedup.near_dup_pairs(docs, 0.8, max_bucket=None).toPandas())
    assert len(want) > 0
    assert_frame_equal(got, want, check_exact=True, check_dtype=False)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_paths_equal_on_fixtures(spark, sf):
    path = os.path.join(TESTDATA, sf, "documents.parquet")
    if not os.path.exists(path):
        pytest.skip(f"{path} absent")
    assert _assert_same_paths(spark.read.parquet(path)) > 0


VOCAB = ["the", "a", "of", "dog", "cat", "runs", "fast", "slow", "über", "café",
         "naïve", "日本語", "テキスト", "🙂", "x", "y", "z", "w"]


def _random_corpus(seed, n=80):
    """Random texts over a small vocabulary, with near-dup copies (one word
    changed), exact copies, repeated and edge spaces, short texts, NULL
    text and NULL or duplicated ids."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        words = list(rng.choice(VOCAB, size=int(rng.integers(0, 30))))
        rows.append([i, " ".join(words)])
    for i in range(n, n + n // 2):  # planted near-dups and exact copies
        text = rows[int(rng.integers(0, n))][1]
        ws = text.split(" ")
        if rng.random() < 0.6 and len(ws) > 3:
            ws[int(rng.integers(0, len(ws)))] = str(rng.choice(VOCAB))
        rows.append([i, " ".join(ws)])
    rows += [
        [1000, None],
        [None, "the dog runs fast and the cat runs slow"],
        [1001, ""],
        [1002, "x"],
        [1003, "x y"],
        [1004, "  the  dog   runs fast "],
        [1005, "the dog runs fast"],
        [7, "café naïve 日本語 テキスト 🙂 über"],  # duplicate id: pooled shingles
        [7, "the cat runs slow of a dog"],
    ]
    return pd.DataFrame(rows, columns=["doc_id", "text"]).astype({"doc_id": "Int64"})


@pytest.mark.parametrize("seed", [1, 2, 3])
@pytest.mark.parametrize("threshold,max_bucket", [(0.8, None), (0.3, None), (0.3, 2)])
def test_paths_equal_on_random_corpora(spark, seed, threshold, max_bucket):
    docs = spark.createDataFrame(_random_corpus(seed), DOCS_DDL)
    assert _assert_same_paths(docs, threshold, max_bucket) > 0


def test_paths_equal_star_pairing(spark):
    """Five identical texts share every bucket: max_bucket=3 star-pairs
    them through the hub, uncapped pairs them all."""
    text = "one two three four five six"
    rows = [(i, text) for i in (5, 3, 9, 1, 7)] + [(2, "one two three four five seven")]
    docs = spark.createDataFrame(rows, DOCS_DDL)
    assert _assert_same_paths(docs, 0.5, max_bucket=3) == 5
    assert _assert_same_paths(docs, 0.5, max_bucket=None) == 15


def test_paths_equal_on_empty_input(spark):
    docs = spark.createDataFrame([], DOCS_DDL)
    assert _assert_same_paths(docs) == 0


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_dispatch_by_input_bytes(spark, monkeypatch):
    """Below the bound the query is one scan into one MapInPandas and no
    Exchange; at or above it, the distributed pipeline."""
    fn = REGISTRY["dedup_near_dups"].fn
    monkeypatch.setattr(common, "dataset_bytes", lambda path: NEAR_DUP_SINGLE_TASK_MAX_BYTES - 1)
    small = _plan(fn(spark, SF_SMOKE))
    assert small.count("MapInPandas") == 1
    assert "Exchange" not in small
    monkeypatch.setattr(common, "dataset_bytes", lambda path: NEAR_DUP_SINGLE_TASK_MAX_BYTES)
    big = _plan(fn(spark, SF_SMOKE))
    assert "MapInPandas" not in big
    assert "Exchange" in big
