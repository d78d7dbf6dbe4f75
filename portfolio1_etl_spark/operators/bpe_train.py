"""BPE merge TRAINING — learn the merge table from the corpus itself
(the counterpart of ``functions.bpe``, which APPLIES a frozen vocab).

Algorithm (Sennrich et al., ACL 2016): start from characters; each
round counts adjacent piece pairs over the corpus (weighted by word
frequency), merges the most frequent pair everywhere (left-to-right,
non-overlapping), and repeats. The classic scale move is already
built in: training runs on the WORD-FREQUENCY table, not the corpus —
distinct words are orders of magnitude fewer than tokens, so after
the one corpus-sized wordcount every round touches only the (tiny,
broadcastable) word table.

Representation: a word's piece sequence is one string with each piece
wrapped in MARKER (U+0001) characters (``key`` → ``\x01k\x01\x01e\x01
\x01y\x01``). Applying merge (l, r) is then a single
``replace(enc, MARKER+l+MARKER+MARKER+r+MARKER, MARKER+lr+MARKER)`` —
and because each occurrence consumes its own wrappers, ``replace``'s
left-to-right non-overlapping scan implements BPE's merge semantics
exactly (``aaa`` merges to ``(aa)(a)``, not ``(aa)(aa)``..., and never
matches across piece boundaries the way a bare substring would). The
same encoding runs verbatim in DuckDB, so the oracle can replay
training round by round.

The marker is a control character precisely so it cannot collide with
piece content: an earlier ``_`` marker made words CONTAINING ``_``
ambiguous (``a_b`` encoded to the same string as pieces ``a,_,b`` and
``a_,b`` boundaries), silently corrupting merge semantics in BOTH
engines at once — undetectable by the differential oracle. The char
wrap regex also carries ``(?s)`` so newline characters inside words
(split is on single spaces only) are wrapped like any other char
instead of silently dropped. PRECONDITION (documented contract):
input words must not contain U+0001 itself — no text corpus does, and
the fuzz suite covers ``_``/newline words that the old encoding got
wrong.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from portfolio1_etl_spark.operators import checkpointing

#: piece-wrap marker: U+0001, chosen to be impossible in real tokens
#: (see module docstring for the precondition and the ``_`` history).
MARKER = "\x01"

#: pieces of an encoded word (outer markers trimmed, split on the
#: doubled inner marker)
PIECES = f"split(trim(BOTH '{MARKER}' FROM enc), '{MARKER}{MARKER}')"


def encode_chars(word_col: str) -> F.Column:
    """Initial encoding: every character its own wrapped piece.
    ``(?s)`` so a newline inside a word is a piece like any other."""
    return F.regexp_replace(F.col(word_col), "(?s)(.)", f"{MARKER}$1{MARKER}")


def _adjacent_pairs() -> str:
    """array<struct<l,r>> of adjacent piece pairs (empty for 1-piece
    words — slice of length 0 keeps the struct type without a CASE)."""
    p = PIECES
    return (
        f"zip_with(slice({p}, 1, size({p}) - 1), slice({p}, 2, size({p}) - 1), "
        "(a, b) -> struct(a as l, b as r))"
    )


def train_bpe_state(
    words: DataFrame,
    rounds: int,
    word_col: str = "word",
    freq_col: str = "freq",
) -> tuple[DataFrame, DataFrame]:
    """(merges, trained_words): the per-round merge rows of
    :func:`train_bpe_merges` plus the final word table — each word's
    LEARNED segmentation as its wrapped-piece encoding, which is the
    tokenizer's application artifact (tokenizing a corpus under the
    trained vocab = joining its words to this table)."""
    return _train(words, rounds, word_col, freq_col)


def train_bpe_merges(
    words: DataFrame,
    rounds: int,
    word_col: str = "word",
    freq_col: str = "freq",
) -> DataFrame:
    """Learn ``rounds`` merges; returns one row per round:
    (round, l, r, merged, cnt, n_pieces_after).

    ``cnt`` is the ADJACENCY count that elected the winner (ties break
    on (l, r)); ``n_pieces_after`` is the weighted corpus piece total
    after applying it — strictly less than the round before by the
    number of non-overlapping applications, so the output pins the
    merge APPLICATION, not just the election (an overlapping-merge bug
    shifts the census even when every election matches).

    Scale: each round is two tiny aggregates over the word table (pair
    count + census) and a broadcast of the 1-row winner into a narrow
    map; per-round state goes through ``checkpointing.materialize`` like
    every iterative operator here."""
    return _train(words, rounds, word_col, freq_col)[0]


def _train(
    words: DataFrame,
    rounds: int,
    word_col: str,
    freq_col: str,
) -> tuple[DataFrame, DataFrame]:
    wt = words.select(
        F.col(word_col).alias("word"),
        encode_chars(word_col).alias("enc"),
        F.col(freq_col).alias("freq"),
    )
    out: list[DataFrame] = []
    for rnd in range(1, rounds + 1):
        pairs = (
            wt.select(F.explode(F.expr(_adjacent_pairs())).alias("pr"), "freq")
            .groupBy(F.col("pr.l").alias("l"), F.col("pr.r").alias("r"))
            .agg(F.sum("freq").alias("cnt"))
        )
        best = pairs.orderBy(F.desc("cnt"), "l", "r").limit(1)
        wt = checkpointing.materialize(
            wt.crossJoin(F.broadcast(best)).select(
                "word",
                F.expr(
                    f"replace(enc, concat('{MARKER}', l, '{MARKER}{MARKER}', r, '{MARKER}'), "
                    f"concat('{MARKER}', l, r, '{MARKER}'))"
                ).alias("enc"),
                "freq",
            )
        )
        census = wt.agg(
            F.sum(F.col("freq") * F.size(F.expr(PIECES))).alias("n_pieces_after")
        )
        out.append(
            best.crossJoin(F.broadcast(census)).select(
                F.lit(rnd).cast("long").alias("round"),
                "l",
                "r",
                F.concat("l", "r").alias("merged"),
                F.col("cnt").cast("long").alias("cnt"),
                F.col("n_pieces_after").cast("long").alias("n_pieces_after"),
            )
        )
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res, wt
