"""BPE tokenizer: distributed train/encode vs an independent pure-Python
reference (Sennrich recipe), plus reconstruction and determinism
invariants. No SQL oracle — greedy rank-based merging is not reasonably
expressible in one DuckDB query (see registry notes) — so the reference
implementation below IS the oracle."""

from collections import Counter

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from duckdb_routing_spark.operators import bpe

SF = "/root/testdata/sf0.001"


# --- pure-Python reference (independent re-derivation, no Spark) -----------

def ref_train(texts, n_merges, min_count=2):
    freqs = Counter(w for t in texts for w in t.lower().split(" ") if w)
    vocab = {w: tuple(list(w) + [bpe.EOW]) for w in freqs}
    merges = []
    for _ in range(n_merges):
        pair_counts = Counter()
        for w, syms in vocab.items():
            f = freqs[w]
            for i in range(len(syms) - 1):
                pair_counts[(syms[i], syms[i + 1])] += f
        if not pair_counts:
            break
        # max count, ties lexicographically smallest pair
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if pair_counts[best] < min_count:
            break
        merges.append(best)
        a, b = best
        new_vocab = {}
        for w, syms in vocab.items():
            out = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = a + b
                else:
                    out.append(s)
            new_vocab[w] = tuple(out)
        vocab = new_vocab
    return merges


def ref_encode(text, merges):
    ranks = {p: i for i, p in enumerate(merges)}
    out = []
    for w in text.lower().split(" "):
        if not w:
            continue
        syms = list(w) + [bpe.EOW]
        while len(syms) >= 2:
            cands = [
                (ranks[(syms[i], syms[i + 1])], i)
                for i in range(len(syms) - 1)
                if (syms[i], syms[i + 1]) in ranks
            ]
            if not cands:
                break
            _, i = min(cands)
            syms[i : i + 2] = [syms[i] + syms[i + 1]]
        out.extend(syms)
    return out


# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").limit(60)


@pytest.fixture(scope="module")
def texts(docs):
    return [r.text for r in docs.select("text").collect()]


@pytest.fixture(scope="module")
def merges(docs):
    return bpe.bpe_train(docs, n_merges=25)


def test_train_matches_reference(merges, texts):
    assert merges == ref_train(texts, n_merges=25)
    assert len(merges) == 25  # corpus is big enough that no round dried up


def test_local_and_distributed_train_identical(docs, merges):
    """The size dispatch must be invisible: the heap-based driver-local
    trainer (default for bounded vocabularies) and the one-job-per-round
    distributed loop (forced via local_vocab_threshold=0) learn the exact
    same merge sequence."""
    assert bpe.bpe_train(docs, n_merges=25, local_vocab_threshold=0) == merges


def test_deep_train_is_prefix_stable_and_fast(docs, merges, texts):
    """A 1k-merge schedule (the scale the distributed loop cannot afford:
    1k scheduler round trips) runs through the local trainer and is
    prefix-consistent with the shallow train — greedy BPE extends, never
    rewrites, earlier merges. Also pinned against the independent
    reference at depth on the collected corpus."""
    deep = bpe.bpe_train(docs, n_merges=1000, min_count=1)
    assert deep[:25] == merges
    assert len(deep) > 100  # trains to corpus exhaustion, far past 25
    assert deep == ref_train(texts, n_merges=1000, min_count=1)


def test_encode_matches_reference(spark, docs, merges, texts):
    got = {
        r.doc_id: list(r.bpe_tokens)
        for r in bpe.bpe_encode(docs, merges).collect()
    }
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    for doc_id, text in zip(ids, texts):
        assert got[doc_id] == ref_encode(text, merges), f"doc {doc_id}"


def test_encode_reconstructs_text(docs, merges):
    """Lossless: stripping merge structure recovers the lowercased words."""
    enc = bpe.bpe_encode(docs, merges)
    joined = enc.select(
        "doc_id",
        F.array_join(F.transform("bpe_tokens", lambda t: F.replace(t, F.lit(bpe.EOW), F.lit(" "))), "").alias("rt"),
    )
    both = docs.select("doc_id", F.lower("text").alias("lt")).join(joined, "doc_id")
    bad = both.filter(F.rtrim(F.col("rt")) != F.regexp_replace("lt", " +", " ")).count()
    assert bad == 0


def test_merges_compress(docs, merges):
    """BPE must actually merge: fewer tokens than characters."""
    enc = bpe.bpe_encode(docs, merges)
    stats = (
        enc.join(docs, "doc_id")
        .select((F.sum("n_bpe_tokens")).alias("toks"), F.sum(F.length("text")).alias("chars"))
        .first()
    )
    assert stats.toks < stats.chars


def test_vocab_covers_every_emitted_token(spark, docs, merges, texts):
    vocab = bpe.bpe_vocab(docs, merges)
    assert vocab[bpe.UNK_ID] == "<unk>"
    assert len(vocab) == len(set(vocab))  # ids are a bijection
    emitted = {t for text in texts for t in ref_encode(text, merges)}
    assert emitted <= set(vocab), emitted - set(vocab)


def test_training_sequences_ids_decode_back(spark, docs, merges, texts):
    vocab = bpe.bpe_vocab(docs, merges)
    seqs = bpe.training_sequences(docs, merges, vocab, seq_len=32)
    got = {}
    for r in seqs.collect():
        got.setdefault(r.doc_id, []).append((r.seq_id, list(r.input_ids), r.n_ids))
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    for doc_id, text in zip(ids, texts):
        rows = sorted(got[doc_id])
        # window shape: seq_ids contiguous from 0, all full except the last
        assert [s for s, _, _ in rows] == list(range(len(rows)))
        assert all(n == 32 for _, _, n in rows[:-1])
        assert 1 <= rows[-1][2] <= 32
        # decoding the concatenated stream recovers the reference encoding
        flat = [vocab[i] for _, w, _ in rows for i in w]
        assert flat == ref_encode(text, merges), f"doc {doc_id}"
        assert bpe.UNK_ID not in [i for _, w, _ in rows for i in w]


def test_merges_df_roundtrip(spark, merges):
    df = bpe.merges_df(spark, merges)
    back = [(r.left, r.right) for r in df.orderBy("rank").collect()]
    assert back == merges


@pytest.mark.parametrize("escaped", ["false", "true"])
def test_merges_df_quote_and_backslash_tokens_under_either_literal_mode(spark, escaped):
    merges = [("it", "'s"), ("a\\", "b"), ("x", "y"), ("\\'", "\"\\n")]
    key = "spark.sql.parser.escapedStringLiterals"
    before = spark.conf.get(key)
    spark.conf.set(key, escaped)
    try:
        df = bpe.merges_df(spark, merges)
        back = [(r.left, r.right) for r in df.orderBy("rank").collect()]
    finally:
        spark.conf.set(key, before)
    assert back == merges
    assert [f.nullable for f in df.schema.fields] == [True, True, True]


# --- fuzz (pure-Python kernel, no Spark: runs hypothesis' full budget) ------

_words = st.text(
    alphabet=st.characters(blacklist_characters=" ", blacklist_categories=("Cs",)),
    min_size=1,
    max_size=12,
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_words, min_size=0, max_size=8), st.integers(0, 10_000))
def test_encode_word_fuzz_lossless_and_matches_reference(words, seed):
    """Arbitrary unicode words under an arbitrary (derived) merge table:
    the greedy kernel never raises, matches the reference, and always
    reconstructs the input."""
    import random

    rng = random.Random(seed)
    # the operators lowercase on entry; fuzz the post-lowercase space so the
    # kernel and reference see identical strings (unicode lower() can change
    # length, so normalize BEFORE deriving merges)
    words = [lw for w in words for lw in [w.lower()] if lw and " " not in lw]
    # derive a plausible merge table from the words' own characters
    chars = sorted({c for w in words for c in w}) + [bpe.EOW]
    merges = []
    pool = list(chars)
    for _ in range(min(10, len(pool) * 2)):
        a, b = rng.choice(pool), rng.choice(pool)
        if (a, b) not in merges:
            merges.append((a, b))
            pool.append(a + b)
    ranks = {p: i for i, p in enumerate(merges)}
    text = " ".join(words)
    for w in words:
        got = bpe._encode_word(w, ranks)
        assert got == ref_encode(w, merges), (w, merges)
        assert "".join(got) == w + bpe.EOW  # lossless
    assert ref_encode(text, merges) == [t for w in words if w for t in bpe._encode_word(w, ranks)]


def test_encode_null_and_empty_text(spark, merges):
    """NULL/empty text must yield empty token arrays, not a crashed job."""
    df = spark.createDataFrame([(1, None), (2, ""), (3, "a b")], "doc_id long, text string")
    rows = {r.doc_id: list(r.bpe_tokens) for r in bpe.bpe_encode(df, merges).collect()}
    assert rows[1] == [] and rows[2] == []
    assert rows[3] == ref_encode("a b", merges)
    vocab = bpe.bpe_vocab(df.filter("text IS NOT NULL"), merges)
    seqs = bpe.training_sequences(df, merges, vocab, seq_len=8)
    assert {r.doc_id for r in seqs.select("doc_id").distinct().collect()} == {3}
