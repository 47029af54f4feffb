"""WordPiece tokenizer induction + greedy apply (operators/wordpiece.py)."""

from pyspark.sql import functions as F

from medallion_architecture_using_apache_iceberg_table_buckets_spark.operators.wordpiece import (
    UNK,
    _greedy_pieces,
    _vocab,
    wordpiece_learn,
    wordpiece_segment_corpus,
    wp_word_table,
)


def test_wp_word_table_representation(spark):
    """##-prefixed continuation symbols, no end marker, cap at 16."""
    df = spark.createDataFrame(
        [(1, "ab a " + "z" * 20)], "doc_id long, text string"
    )
    rows = {r["word"]: r["sym"] for r in wp_word_table(df).collect()}
    assert rows == {"ab": " a ##b ", "a": " a "}  # 20-char word capped out


def test_wordpiece_learn_likelihood_beats_frequency(spark):
    """The likelihood score prefers an exclusive pair over a more
    frequent but promiscuous one: with 'aa' appearing 30x and 'bc'
    20x but 'b'/'c' occurring ONLY together, count(b,c)/(u_b*u_c)
    > count(a,##a)/(u_a*u_{##a}) — raw-frequency BPE would merge the
    'a ##a' pair first."""
    rows = [(i, "aa " * 3 + "bc " * 2) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges, _ = wordpiece_learn(spark, df, num_merges=1)
    first = merges.collect()[0]
    assert (first["left"], first["right"]) == ("b", "##c")
    assert first["merged"] == "bc"
    # exact evidence columns reconstruct the score
    assert first["pair_count"] == 20
    assert first["left_count"] == 20 and first["right_count"] == 20


def test_wordpiece_merged_text_drops_inner_marker(spark):
    df = spark.createDataFrame(
        [(i, "banana band") for i in range(5)], "doc_id long, text string"
    )
    merges, _ = wordpiece_learn(spark, df, num_merges=4)
    for r in merges.collect():
        assert "##" not in r["merged"][2:], r
        if r["left"].startswith("##"):
            assert r["merged"].startswith("##")
        else:
            assert not r["merged"].startswith("##")


def test_greedy_segmentation_longest_match_and_unk(spark):
    df = spark.createDataFrame(
        [(i, "banana bandana ban") for i in range(10)],
        "doc_id long, text string",
    )
    merges, _ = wordpiece_learn(spark, df, num_merges=6)
    seed = wp_word_table(df)
    vocab = set(_vocab(seed, [r["merged"] for r in merges.collect()]))
    segs = {
        r["word"]: r["pieces"]
        for r in _greedy_pieces(seed.select("word", "c"), vocab).collect()
    }
    for word, pieces in segs.items():
        # lossless: concatenated contents reproduce the word
        joined = "".join(
            p[2:] if p.startswith("##") else p for p in pieces
        )
        assert joined == word, (word, pieces)
        # only the first piece is word-initial
        assert not pieces[0].startswith("##")
        assert all(p.startswith("##") for p in pieces[1:])
    # a word with a character the vocab never saw -> [UNK]
    segs2 = {
        r["word"]: r["pieces"]
        for r in _greedy_pieces(
            spark.createDataFrame([("qx", 1)], "word string, c long"),
            vocab,
        ).collect()
    }
    assert segs2["qx"] == [UNK]


def test_wordpiece_segment_corpus_contract(spark):
    long_word = "w" * 20
    df = spark.createDataFrame(
        [
            (1, "banana bandana"),
            (2, "banana " + long_word),
            (3, ""),
            (4, "bandana banana"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in wordpiece_segment_corpus(df).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1]["n_words"] == 2
    assert 2 <= out[1]["n_tokens"] <= len("bananabandana")
    # over-cap word is one [UNK] token
    assert out[2]["n_words"] == 2 and out[2]["n_tokens"] >= 2
    assert out[3]["n_words"] == 0 and out[3]["n_tokens"] == 0
    # order-sensitive fingerprint
    assert out[1]["token_fp"] != out[4]["token_fp"]


def test_wordpiece_learn_single_corpus_pass(spark):
    """With a precomputed word table, wordpiece_learn never touches
    the corpus DataFrame — segment_corpus therefore tokenizes the
    corpus exactly once (the BM25 single-pass rule). df=None would
    raise on any attempt to rebuild the word table."""
    df = spark.createDataFrame(
        [(i, "banana band") for i in range(5)], "doc_id long, text string"
    )
    seed = wp_word_table(df).localCheckpoint()
    merges, _ = wordpiece_learn(spark, None, num_merges=2, word_table=seed)
    ref, _ = wordpiece_learn(spark, df, num_merges=2)
    assert [tuple(r) for r in merges.collect()] == [
        tuple(r) for r in ref.collect()
    ]


def _reference_wordpiece(texts, num_merges):
    """Pure-Python WordPiece induction: ##-continuation seed symbols
    (words over 16 chars dropped), score cnt / (u_l * u_r) in doubles,
    ties by pair text, each merge applied left to right."""
    import collections
    import re

    wf = collections.Counter()
    for t in texts:
        for w in re.findall(r"[a-z]+", t.lower()):
            if len(w) <= 16:
                wf[tuple([w[0]] + ["##" + ch for ch in w[1:]])] += 1
    merges = []
    for rank in range(1, num_merges + 1):
        pairs, uni = collections.Counter(), collections.Counter()
        for syms, c in wf.items():
            for s in syms:
                uni[s] += c
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        (a, b), cnt = min(
            pairs.items(),
            key=lambda kv: (
                -(float(kv[1]) / (float(uni[kv[0][0]]) * float(uni[kv[0][1]]))),
                kv[0],
            ),
        )
        merged = a + b[2:]
        merges.append((rank, a, b, merged, cnt, uni[a], uni[b]))
        new_wf = collections.Counter()
        for syms, c in wf.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_wf[tuple(out)] += c
        wf = new_wf
    return merges


def test_wordpiece_learn_matches_reference_past_checkpoint_round(spark):
    """num_merges > 16 runs wordpiece_learn's every-16-rounds
    localCheckpoint branch; the merges still match the reference."""
    texts = [
        "the cat sat on the mat",
        "the bat and the rat chat",
        "that hat is flat, the cat agrees",
        "low lower lowest newer newest wider widest",
        "banana bandana band ban",
    ]
    ref = _reference_wordpiece(texts, 20)
    assert len(ref) == 20
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    merges, _ = wordpiece_learn(spark, df, num_merges=20)
    assert [tuple(r) for r in merges.orderBy("rank").collect()] == ref
