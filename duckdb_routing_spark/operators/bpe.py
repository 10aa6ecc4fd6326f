"""Distributed byte-pair-encoding tokenizer.

Two halves, matching how BPE actually runs over a 100 TB corpus:

  - TRAIN (`bpe_train`): learn a merge table from the corpus. BPE training
    operates on the WORD-FREQUENCY table, not the raw corpus — the state is
    the distinct vocabulary (bounded: ~10^7 words even at planet scale)
    weighted by count, so one corpus-wide groupBy up front collapses 100 TB
    of text into a table the iterative loop can afford. Each merge round is
    one pair-count aggregation (map-side combinable) + a 1-row collect of
    the argmax pair + a JVM-side fold that applies the merge; the kmeans /
    dedup_clusters iteration mechanics (persist round N, unpersist N-1,
    driver sees only the argmax row) apply unchanged.

  - ENCODE (`bpe_encode`): tokenize documents with a TRAINED merge table.
    The ranks dict broadcasts to executors; an Arrow-batched pandas UDF
    runs the classic greedy lowest-rank-merge loop with per-batch word
    memoization (real corpora repeat words heavily, so the amortized cost
    per token is near-constant). This is the honest slow path — the merge
    loop is inherently sequential per word — and the only Python in the
    operator.

Semantics are the classic Sennrich et al. 2016 recipe: words split to
characters plus a terminal '</w>' marker; a merge (a, b) rewrites adjacent
(a, b) occurrences left-to-right non-overlapping; ties in pair counts break
lexicographically so training is deterministic and engine-reproducible.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, IntegerType, StringType

EOW = "</w>"


def word_freqs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus -> (word, freq): the one full-corpus pass of BPE training."""
    return (
        docs.select(F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _initial_symbols(word_col) -> F.Column:
    """chars of the word + the end-of-word marker as the final symbol."""
    return F.concat(F.split(word_col, ""), F.array(F.lit(EOW)))


def _pair_counts(words: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts over the current symbol sequences.

    transform over indexes + explode keeps this row-local (zero shuffle
    before the final pair-keyed partial aggregation)."""
    pairs = F.expr(
        "transform(sequence(1, size(syms) - 1), i -> struct(syms[i - 1] AS a, syms[i] AS b))"
    )
    return (
        words.filter(F.size("syms") >= 2)
        .select(F.explode(pairs).alias("p"), "freq")
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("n"))
    )


def _apply_merge(syms_col, a: str, b: str) -> F.Column:
    """Rewrite adjacent (a, b) -> a||b, left-to-right non-overlapping.

    A fold is exactly greedy left-to-right: once a merge lands, the merged
    symbol is the new 'last' and only pairs equal to (a, b) merge again.
    Runs JVM-side (interpreted higher-order function — fine here: the fold
    runs over the VOCABULARY table, not the corpus)."""
    merged = a + b
    return F.aggregate(
        syms_col,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == F.lit(a)) & (s == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _train_local(
    freqs: list[tuple[str, int]], n_merges: int, min_count: int
) -> list[tuple[str, str]]:
    """Driver-local BPE training over a COLLECTED word-frequency table —
    the classic heap-based incremental algorithm (Sennrich et al. 2016,
    the reference implementation's structure): a lazy max-heap of pair
    counts, and per merge only the words CONTAINING the merged pair are
    rewritten and their pair deltas re-counted. One merge round costs
    O(affected words), not O(vocabulary) and not one Spark job — a
    1k-merge train finishes in seconds where the distributed loop pays
    1k scheduler round trips.

    Exactly the distributed loop's semantics: weighted pair counts, argmax
    by (count DESC, a ASC, b ASC) — heapq's (-count, a, b) tuple order —
    left-to-right non-overlapping merge application, stop below min_count.
    Equality to the distributed loop is pytest-pinned (test_bpe)."""
    import heapq

    words = [list(w) + [EOW] for w, _ in freqs]
    fs = [f for _, f in freqs]
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    for wi, syms in enumerate(words):
        f = fs[wi]
        for i in range(len(syms) - 1):
            p = (syms[i], syms[i + 1])
            pair_counts[p] = pair_counts.get(p, 0) + f
            pair_words.setdefault(p, set()).add(wi)
    heap = [(-n, a, b) for (a, b), n in pair_counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        # lazy invalidation: entries whose count changed since push are
        # stale; the live count is always re-read from pair_counts
        best = None
        while heap:
            n, a, b = heap[0]
            if pair_counts.get((a, b), 0) != -n:
                heapq.heappop(heap)
                continue
            best = (a, b, -n)
            break
        if best is None or best[2] < min_count:
            break
        a, b, _n = best
        merges.append((a, b))
        merged = a + b
        affected = pair_words.pop((a, b), set())
        changed: set[tuple[str, str]] = set()
        for wi in affected:
            syms = words[wi]
            f = fs[wi]
            # membership in pair_words may be stale (the word was rewritten
            # since) — then the merge below is an identity and the
            # remove/re-add deltas cancel exactly
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pair_counts[p] -= f
                changed.add(p)
            out: list[str] = []
            for s in syms:
                if out and out[-1] == a and s == b:
                    out[-1] = merged
                else:
                    out.append(s)
            words[wi] = out
            for i in range(len(out) - 1):
                p = (out[i], out[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + f
                pair_words.setdefault(p, set()).add(wi)
                changed.add(p)
        for p in changed:
            n = pair_counts.get(p, 0)
            if n <= 0:
                pair_counts.pop(p, None)
                pair_words.pop(p, None)
            else:
                heapq.heappush(heap, (-n, p[0], p[1]))
    return merges


def bpe_train(
    docs: DataFrame,
    n_merges: int = 40,
    min_count: int = 2,
    text_col: str = "text",
    local_vocab_threshold: int = 1_000_000,
) -> list[tuple[str, str]]:
    """Learn `n_merges` BPE merges from the corpus; returns the ordered
    merge list (rank = list position). Deterministic: argmax pair per round
    ties by (count DESC, a ASC, b ASC).

    The corpus-wide work is ONE distributed pass either way (word_freqs —
    100 TB collapses to the bounded distinct vocabulary). What happens
    next is size-dispatched on the vocabulary row count:

      - <= local_vocab_threshold (the common case — planet-scale text is
        ~10^7 distinct words; the default 10^6 keeps driver memory around
        a GB): collect the (word, freq) table ONCE and run the classic
        heap-based incremental merge loop driver-local (_train_local). A
        GPT-2-class 50k-merge schedule is 50k O(affected-words) rounds,
        not 50k Spark jobs.
      - larger: the distributed loop — one pair-count aggregation
        (map-side combinable) + a 1-row argmax collect + a JVM fold per
        round, localCheckpoint-truncated lineage. Correct at any scale,
        but pays one scheduler round trip per merge; raise the threshold
        before reaching for it.
    """
    wf = word_freqs(docs, text_col).localCheckpoint()
    if wf.count() <= local_vocab_threshold:
        return _train_local(
            [(r["word"], r["freq"]) for r in wf.collect()], n_merges, min_count
        )
    # localCheckpoint per round, not persist: each round's symbol column is
    # an aggregate-HOF over the previous round's, so without lineage
    # TRUNCATION the logical plan nests n_merges deep and Catalyst
    # re-analysis dominates (measured: round time grows superlinearly past
    # ~10 rounds). The table is vocabulary-sized, so a materialized copy per
    # round is cheap; a lossy-executor cluster would use spark.checkpoint().
    words = wf.select(_initial_symbols(F.col("word")).alias("syms"), "freq").localCheckpoint()
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = (
            _pair_counts(words)
            .orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < min_count:
            break
        a, b = top[0]["a"], top[0]["b"]
        merges.append((a, b))
        words = words.select(
            _apply_merge(F.col("syms"), a, b).alias("syms"), "freq"
        ).localCheckpoint()
    return merges


def merges_df(spark, merges: list[tuple[str, str]]) -> DataFrame:
    """Merge list as a DataFrame (rank, left, right) — the artifact a
    production run writes once and every encode job reads back.

    Built as ONE literal expression string (single parse) rather than
    createDataFrame: the pickled ExistingRDD scan re-serializes every row
    per action, and the interleaved A/B (OPTIMIZATION_r11.md)
    measured build+action 0.63 -> 0.25 s at 200 merges. The per-element
    F.lit route (operators.common.literal_df) stays rejected — py4j
    Column construction per cell is the known plan-build tax; and the
    same A/B keeps clustering.centroids_df on createDataFrame (a k x dim
    double array literal PARSES in ~8 s — the literal trade inverts on
    numeric bulk). `when(true, _)` restores createDataFrame's nullable
    schema so downstream schema hashes are unchanged. Each token travels
    as hex of its UTF-8 bytes, so no SQL string escaping applies and
    quotes and backslashes round-trip whatever
    spark.sql.parser.escapedStringLiterals says."""
    if not merges:
        return spark.createDataFrame([], "rank INT, left STRING, right STRING")

    def s(x: str) -> str:
        return f"decode(unhex('{x.encode().hex()}'), 'UTF-8')"

    rows = ",".join(
        f"struct({i}, {s(a)}, {s(b)})" for i, (a, b) in enumerate(merges)
    )
    return spark.range(1).selectExpr(f"inline(array({rows})) AS (rank, left, right)").selectExpr(
        "if(true, cast(rank AS INT), null) AS rank",
        "if(true, left, null) AS left",
        "if(true, right, null) AS right",
    )


def _encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Classic greedy BPE: repeatedly merge the lowest-rank adjacent pair."""
    syms = list(word) + [EOW]
    while len(syms) >= 2:
        best_rank, best_i = None, -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_encode_udf(merges: list[tuple[str, str]]):
    """Arrow-batched encoder closed over the merge ranks (captured in the
    UDF closure — Spark broadcasts it with the task binary). Word-level
    memoization inside each batch: natural text repeats words, so each
    distinct word pays the merge loop once per batch."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    @pandas_udf(ArrayType(StringType()))
    def encode(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # iterator form (guide: init heavy state once per TASK): the word
        # cache survives across every Arrow batch of the partition instead
        # of restarting per batch — natural text repeats words far beyond
        # one 10k-row batch
        cache: dict[str, list[str]] = {}

        def enc(text) -> list[str]:
            if text is None:
                return []  # NULL text -> no tokens (the pipeline-safe read)
            out: list[str] = []
            for w in text.lower().split(" "):
                if not w:
                    continue
                got = cache.get(w)
                if got is None:
                    got = cache[w] = _encode_word(w, ranks)
                out.extend(got)
            return out

        for texts in batches:
            yield texts.map(enc)

    return encode


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize documents with a trained merge table:
    (doc_id, bpe_tokens, n_bpe_tokens)."""
    enc = bpe_encode_udf(merges)
    return docs.select(
        F.col(id_col).alias("doc_id"),
        enc(F.col(text_col)).alias("bpe_tokens"),
    ).select("doc_id", "bpe_tokens", F.size("bpe_tokens").alias("n_bpe_tokens"))


# ---------------------------------------------------------------------------
# token IDs + fixed-length training sequences (the text -> input_ids mile)
# ---------------------------------------------------------------------------

UNK_ID = 0


def bpe_vocab(docs: DataFrame, merges: list[tuple[str, str]], text_col: str = "text") -> list[str]:
    """Deterministic id table: every symbol the encoder can emit — the
    corpus alphabet (one distinct-chars pass, bounded by the script, not
    the corpus), the end-of-word marker, and each merge's product — sorted,
    with position 0 reserved for <unk> (chars unseen at vocab time).
    Returned as a plain list: id = index."""
    chars = [
        r.c
        for r in docs.select(
            F.explode(F.split(F.lower(F.col(text_col)), "")).alias("c")
        )
        .filter(F.col("c") != "")
        .distinct()
        .collect()
    ]
    syms = set(chars) | {EOW} | {a + b for a, b in merges}
    return ["<unk>"] + sorted(syms)


def bpe_encode_ids_udf(merges: list[tuple[str, str]], vocab: list[str]):
    """Arrow-batched text -> input_ids: the encode UDF with the (small)
    vocab dict folded into the same closure, so id mapping costs no extra
    stage or shuffle — one Arrow pass, zero exchanges."""
    ranks = {pair: i for i, pair in enumerate(merges)}
    ids = {s: i for i, s in enumerate(vocab)}

    @pandas_udf(ArrayType(IntegerType()))
    def encode_ids(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        cache: dict[str, list[int]] = {}  # per-task (iterator form), not per-batch

        def enc(text) -> list[int]:
            if text is None:
                return []  # NULL text -> no tokens (the pipeline-safe read)
            out: list[int] = []
            for w in text.lower().split(" "):
                if not w:
                    continue
                got = cache.get(w)
                if got is None:
                    got = cache[w] = [ids.get(s, UNK_ID) for s in _encode_word(w, ranks)]
                out.extend(got)
            return out

        for texts in batches:
            yield texts.map(enc)

    return encode_ids


def training_sequences(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    vocab: list[str],
    seq_len: int = 128,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Text -> fixed-length training sequences: (doc_id, seq_id, input_ids,
    n_ids), where input_ids slices the document's BPE id stream into
    seq_len-sized windows (final partial window kept — the trainer pads or
    drops; dropping silently here would lose tail tokens unaudited).

    Scale: encode is one Arrow stage; slicing is a row-local
    transform+posexplode (zero shuffle). Documents never concatenate across
    doc boundaries — cross-doc packing is `chunking.pack_sequences`'s job."""
    enc = bpe_encode_ids_udf(merges, vocab)
    with_ids = docs.select(F.col(id_col).alias("doc_id"), enc(F.col(text_col)).alias("ids"))
    return sequences_from_ids(with_ids, seq_len)


def sequences_from_ids(with_ids: DataFrame, seq_len: int) -> DataFrame:
    """(doc_id, ids) -> (doc_id, seq_id, input_ids, n_ids): the tokenizer-
    agnostic windowing mile — row-local transform+posexplode, zero shuffle,
    final partial window kept. Shared by the BPE, WordPiece, and unigram
    training_sequences variants."""
    n_seq = F.ceil(F.size("ids") / F.lit(seq_len)).cast("int")
    windows = F.transform(
        F.sequence(F.lit(0), n_seq - 1),
        lambda i: F.slice(F.col("ids"), i * seq_len + 1, seq_len),
    )
    return (
        with_ids.filter(F.size("ids") > 0)
        .select("doc_id", F.posexplode(windows).alias("seq_id", "input_ids"))
        .select("doc_id", "seq_id", "input_ids", F.size("input_ids").alias("n_ids"))
    )
