"""BPE merge training (operators/bpe_train.py): equality with a plain
Python reference trainer, non-overlapping merge semantics, census
monotonicity, and mode-equality for the checkpoint policy."""

from __future__ import annotations

import os
from collections import Counter

import pytest

from portfolio1_etl_spark.operators.bpe_train import train_bpe_merges
from portfolio1_etl_spark.plans import REGISTRY


def _reference_train(word_freqs: dict[str, int], rounds: int):
    """Greedy BPE (Sennrich 2016), left-to-right non-overlapping."""
    state = {tuple(w): f for w, f in word_freqs.items()}
    out = []
    for rnd in range(1, rounds + 1):
        pairs: Counter = Counter()
        for pieces, f in state.items():
            for a, b in zip(pieces, pieces[1:]):
                pairs[(a, b)] += f
        (l, r), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        new_state: dict[tuple, int] = {}
        for pieces, f in state.items():
            merged, i = [], 0
            while i < len(pieces):
                if i + 1 < len(pieces) and pieces[i] == l and pieces[i + 1] == r:
                    merged.append(l + r)
                    i += 2
                else:
                    merged.append(pieces[i])
                    i += 1
            key = tuple(merged)
            new_state[key] = new_state.get(key, 0) + f
        state = new_state
        census = sum(len(p) * f for p, f in state.items())
        out.append((rnd, l, r, l + r, cnt, census))
    return out


def _spark_train(spark, word_freqs, rounds):
    words = spark.createDataFrame(
        list(word_freqs.items()), "word string, freq long"
    )
    rows = train_bpe_merges(words, rounds).collect()
    return sorted(
        (r.round, r.l, r.r, r.merged, r.cnt, r.n_pieces_after) for r in rows
    )


def test_matches_python_reference(spark):
    wf = {"aaab": 2, "ab": 3, "banana": 1, "bandana": 2, "a": 5}
    assert _spark_train(spark, wf, 5) == _reference_train(wf, 5)


def test_merge_is_left_to_right_non_overlapping(spark):
    """'aaaa' has three (a,a) adjacencies but only TWO non-overlapping
    applications: pieces after round 1 must be (aa, aa) — census 2."""
    rows = _spark_train(spark, {"aaaa": 1}, 1)
    assert rows == [(1, "a", "a", "aa", 3, 2)]


def test_census_strictly_decreases(spark, sf_dir):
    rows = sorted(
        (r.round, r.n_pieces_after)
        for r in REGISTRY["q123_bpe_train"].fn(spark, sf_dir).collect()
    )
    counts = [n for _, n in rows]
    assert all(a > b for a, b in zip(counts, counts[1:]))


@pytest.mark.parametrize("mode", ["local", "reliable"])
def test_checkpoint_modes_agree(spark, mode, request):
    """Without and with a session checkpoint directory (local and
    reliable per-round materialization) the merges are the same."""
    wf = {"ababab": 2, "bab": 1, "aa": 4}
    d = request.getfixturevalue("ckpt_dir") if mode == "reliable" else None
    assert _spark_train(spark, wf, 3) == _reference_train(wf, 3)
    if d is not None:
        assert any(files for _, _, files in os.walk(d))


def test_matches_reference_on_random_corpora(spark):
    """Property sweep: random word-frequency tables (including pair
    ties, repeated-letter words, singleton chars) must reproduce the
    Python reference trainer round-for-round."""
    import random

    rng = random.Random(6021)
    letters = "abcd"
    for trial in range(3):
        wf = {}
        for _ in range(rng.randint(3, 12)):
            w = "".join(rng.choice(letters) for _ in range(rng.randint(1, 7)))
            wf[w] = wf.get(w, 0) + rng.randint(1, 9)
        rounds = rng.randint(1, 4)
        assert _spark_train(spark, wf, rounds) == _reference_train(wf, rounds), (
            trial,
            wf,
        )
