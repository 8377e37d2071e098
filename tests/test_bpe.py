"""BPE induction + encoding: the Sennrich worked example, brute-force
reference equivalence on random corpora (catches heap/bookkeeping bugs in
the incremental learner), encode/learn agreement, kernel contracts."""

import random

from restructure_hdfs_topic_spark.operators.bpe import (
    _encode_word,
    bpe_encode,
    learn_bpe,
    word_frequencies,
)

# --- naive reference (full recount per merge — the textbook definition) ---


def _ref_learn(word_counts, n_merges, min_pair_count=2):
    vocab = {}
    for w, c in word_counts.items():
        vocab[tuple(w)] = vocab.get(tuple(w), 0) + c
    merges = []
    for _ in range(n_merges):
        pc = {}
        for pieces, cnt in vocab.items():
            for p in zip(pieces, pieces[1:]):
                pc[p] = pc.get(p, 0) + cnt
        if not pc:
            break
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if best[1] < min_pair_count:
            break
        (a, b), _ = best
        new = {}
        for pieces, cnt in vocab.items():
            out, i = [], 0
            while i < len(pieces):
                if i + 1 < len(pieces) and pieces[i] == a and pieces[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(pieces[i])
                    i += 1
            new[tuple(out)] = new.get(tuple(out), 0) + cnt
        vocab = new
        merges.append((a, b))
    return merges, vocab


def _docs_from_counts(spark, word_counts):
    rows = [(i, " ".join([w] * c)) for i, (w, c) in enumerate(sorted(word_counts.items()))]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_sennrich_worked_example(spark):
    wc = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    merges = learn_bpe(_docs_from_counts(spark, wc), 4)
    # (e,s) and (s,t) both count 9 -> lexicographic tie-break picks (e,s),
    # then (es,t) 9, then (l,o) 7, then (lo,w) 7.
    assert merges == [("e", "s"), ("es", "t"), ("l", "o"), ("lo", "w")]


def test_incremental_matches_reference_on_random_corpora(spark):
    for seed in (0, 1, 2):
        rng = random.Random(seed)
        wc = {
            "".join(rng.choice("abcd") for _ in range(rng.randint(1, 8))): rng.randint(1, 9)
            for _ in range(40)
        }
        want, ref_vocab = _ref_learn(wc, 25)
        got = learn_bpe(_docs_from_counts(spark, wc), 25)
        assert got == want, f"seed {seed}"
        # Greedy rank-based encoding reproduces the training-time pieces.
        ranks = {p: i for i, p in enumerate(got)}
        enc_vocab = {}
        for w, c in wc.items():
            k = tuple(_encode_word(w, ranks))
            enc_vocab[k] = enc_vocab.get(k, 0) + c
        assert enc_vocab == ref_vocab, f"seed {seed}"


def test_min_pair_count_stops_early(spark):
    wc = {"ab": 1, "cd": 1}  # every pair is a hapax
    assert learn_bpe(_docs_from_counts(spark, wc), 10) == []
    assert learn_bpe(_docs_from_counts(spark, wc), 10, min_pair_count=1) != []


def test_word_frequencies_cap_is_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "b b a a c")], "doc_id long, text string"
    )
    rows = word_frequencies(df, max_vocab=2).collect()
    # cnt desc then word: a(2), b(2) tie -> a first.
    assert [(r["word"], r["cnt"]) for r in rows] == [("a", 2), ("b", 2)]


def test_encode_contracts(spark):
    wc = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    docs = _docs_from_counts(spark, wc)
    merges = learn_bpe(docs, 4)
    test_docs = spark.createDataFrame(
        [(1, "lowest newest"), (2, ""), (3, None), (4, "xyz")],
        "doc_id long, text string",
    )
    out = {r["id"]: r for r in bpe_encode(test_docs, merges).collect()}
    # tokens concatenate back to the words, in order.
    assert "".join(out[1]["tokens"]) == "lowestnewest"
    assert out[1]["tokens"] == ["low", "est", "n", "e", "w", "est"]
    assert out[2]["tokens"] == [] and out[2]["n_tokens"] == 0
    assert out[3]["tokens"] == [] and out[3]["n_tokens"] == 0
    # unseen characters fall back to char pieces.
    assert out[4]["tokens"] == ["x", "y", "z"]
    # empty merge list -> pure character tokens.
    chars = {r["id"]: r["tokens"] for r in bpe_encode(test_docs, []).collect()}
    assert chars[1] == list("lowest") + list("newest")


def test_encode_partitioning_independence(spark):
    rows = [(i, f"alpha beta gamma{i % 5} alpha") for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges = learn_bpe(docs, 10)
    a = bpe_encode(docs.repartition(7), merges).collect()
    b = bpe_encode(docs.repartition(2), merges).collect()
    key = lambda r: (r["id"], tuple(r["tokens"]))  # noqa: E731
    assert sorted(map(key, a)) == sorted(map(key, b))


def test_learner_vocab_matches_greedy_encoder(spark):
    """learn_bpe_with_vocab's word->pieces table must equal _encode_word's
    greedy application for every vocabulary word (the equivalence that
    makes broadcasting the learner state into bpe_encode safe)."""
    import random

    from restructure_hdfs_topic_spark.operators.bpe import (
        _encode_word,
        learn_bpe_with_vocab,
    )

    rng = random.Random(17)
    docs = [
        (i, " ".join("".join(rng.choices("abcd", k=rng.randint(1, 7)))
                     for _ in range(rng.randint(3, 12))))
        for i in range(40)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    merges, vocab = learn_bpe_with_vocab(df, n_merges=30)
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    assert vocab  # non-empty
    for w, pieces in vocab.items():
        assert pieces == _encode_word(w, ranks), w
        assert "".join(pieces) == w


def test_bpe_encode_with_and_without_vocab_identical(spark):
    """bpe_encode(word_tokens=vocab) must be bit-identical to the
    derive-per-task path, including for words OUTSIDE the vocab."""
    import random

    from restructure_hdfs_topic_spark.operators.bpe import (
        bpe_encode,
        learn_bpe_with_vocab,
    )

    rng = random.Random(23)
    docs = [
        (i, " ".join("".join(rng.choices("abc", k=rng.randint(1, 6)))
                     for _ in range(rng.randint(2, 10))))
        for i in range(30)
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    merges, vocab = learn_bpe_with_vocab(df, n_merges=20)
    # Unseen words: encode a SHIFTED corpus with the same merges.
    shifted = [(i, t.replace("a", "ab")) for i, t in docs]
    df2 = spark.createDataFrame(shifted, "doc_id long, text string")
    for frame in (df, df2):
        a = {r["id"]: list(r["tokens"]) for r in bpe_encode(frame, merges).collect()}
        b = {
            r["id"]: list(r["tokens"])
            for r in bpe_encode(frame, merges, word_tokens=vocab).collect()
        }
        assert a == b


def test_marker_mode_round_trips(spark):
    """word_end_marker (Sennrich's actual formulation): the encoded stream
    decodes back to the whitespace-normalized text EXACTLY; learner vocab
    and fresh encoding agree in marker mode; markerless behavior is
    untouched (same merges as before for marker=None)."""
    from restructure_hdfs_topic_spark.operators.bpe import (
        bpe_decode,
        bpe_encode,
        learn_bpe_with_vocab,
    )

    rows = [
        (1, "low lower lowest  newer newest"),
        (2, "wide wider widest low low low"),
        (3, "  spaced\tout tokens "),
        (4, None),
        (5, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    merges, vocab = learn_bpe_with_vocab(docs, n_merges=20, word_end_marker="</w>")
    assert any("</w>" in a + b for a, b in merges)  # word-final units learned

    enc_fresh = bpe_encode(docs, merges, word_end_marker="</w>")
    enc_vocab = bpe_encode(docs, merges, word_tokens=vocab, word_end_marker="</w>")
    a = sorted((r["id"], tuple(r["tokens"])) for r in enc_fresh.collect())
    b = sorted((r["id"], tuple(r["tokens"])) for r in enc_vocab.collect())
    assert a == b

    got = {r["id"]: r["text"] for r in bpe_decode(enc_fresh, "</w>").collect()}
    for doc_id, text in rows:
        want = " ".join((text or "").split())
        assert got[doc_id] == want, (doc_id, got[doc_id], want)


def test_marker_mode_artifact_and_guards(spark):
    """bpe_encode rejects a vocab built under a different marker setting;
    learning rejects a marker that occurs in the corpus."""
    import pytest

    from restructure_hdfs_topic_spark.operators.bpe import (
        bpe_encode,
        learn_bpe_with_vocab,
    )

    docs = spark.createDataFrame(
        [(1, "low lower lowest newer newest")], "doc_id long, text string"
    )
    merges, vocab = learn_bpe_with_vocab(docs, n_merges=10, word_end_marker="</w>")

    # Marker-mode vocab + markerless encode call: loud mode-mismatch error.
    with pytest.raises(ValueError, match="different"):
        bpe_encode(docs, merges, word_tokens=vocab)
    # Marker in the corpus: learning refuses.
    bad = spark.createDataFrame([(1, "oops</w>word fine")], "doc_id long, text string")
    with pytest.raises(ValueError, match="occurs in corpus"):
        learn_bpe_with_vocab(bad, n_merges=4, word_end_marker="</w>")
