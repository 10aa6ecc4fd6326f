"""The batched nearest-seed kernel (similarity._argmin_rows) and its input
check (_stack_vectors), in plain numpy: no Spark session."""

import numpy as np
import pandas as pd
import pytest

from duckdb_routing_spark.operators.similarity import _argmin_rows, _stack_vectors


def test_argmin_rows_chunked_equals_whole_batch_and_ties_go_to_lowest_seed():
    """A step of 7 splits the batch into chunks with a short tail; every
    row's argmin must equal the whole-batch one, and an exact score tie
    must go to the lowest seed index (the JVM path's seed-id tie-break)."""
    rng = np.random.default_rng(3)
    S = rng.normal(size=(9, 16))
    S[5] = S[2]  # duplicate seed: every row ties between 2 and 5
    s2 = (S * S).sum(axis=1)
    V = rng.normal(size=(53, 16))
    V[10] = S[2]  # nearest is the duplicated seed itself
    whole = _argmin_rows(V, S, s2, step=len(V))
    chunked = _argmin_rows(V, S, s2, step=7)
    assert np.array_equal(whole, chunked)
    assert np.array_equal(whole, np.argmin(s2[None, :] - 2.0 * (V @ S.T), axis=1))
    assert whole[10] == 2 and 5 not in set(whole.tolist())
    # default step covers the batch in one chunk at this size
    assert np.array_equal(_argmin_rows(V, S, s2), whole)


@pytest.mark.parametrize(
    "bad, message",
    [
        ([1.0, 2.0, 3.0], "vector of 3 elements, dim is 4"),
        (None, "NULL vector"),
        ([1.0, np.nan, 0.0, 0.0], "NULL or NaN element"),
    ],
    ids=["ragged", "null_vector", "null_element"],
)
def test_stack_vectors_rejects_malformed_vectors(bad, message):
    """The batched path raises where _nearest_seeds raises (Arrow hands a
    NULL element over as NaN)."""
    good = [np.array([1.0, 0.0, 0.0, 0.0]), np.array([0.0, 1.0, 0.0, 0.0])]
    col = pd.Series(good + [None if bad is None else np.array(bad)], dtype=object)
    with pytest.raises(ValueError, match=f"nearest_seeds: {message}"):
        _stack_vectors(col, 4)
    assert _stack_vectors(pd.Series(good, dtype=object), 4).shape == (2, 4)
