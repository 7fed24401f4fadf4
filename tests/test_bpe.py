"""BPE training/encoding pinned against a pure-Python reference
implementation (Sennrich et al. 2016 semantics: word-type counts,
greedy non-overlapping left-to-right merges, (count desc, pair asc)
tie-break)."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from jane_spark.operators.bpe import (
    END_OF_WORD,
    bpe_token_stats,
    encode_words,
    merges_df,
    train_bpe,
)


def py_train_bpe(texts: list[str], n_merges: int):
    wc = Counter(w for t in texts for w in t.split(" ") if w)
    vocab: dict[tuple, int] = {}
    for w, n in wc.items():
        syms = list(w)
        syms[-1] += END_OF_WORD
        vocab[tuple(syms)] = vocab.get(tuple(syms), 0) + n
    merges = []
    for _ in range(n_merges):
        pc: Counter = Counter()
        for syms, n in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += n
        if not pc:
            break
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        if cnt < 2:
            break
        merges.append((a, b, cnt))
        vocab = _py_apply_merge(vocab, a, b)
    return merges


def _py_apply_merge(vocab, a, b):
    out_vocab: dict[tuple, int] = {}
    for syms, n in vocab.items():
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        t = tuple(out)
        out_vocab[t] = out_vocab.get(t, 0) + n
    return out_vocab


def py_encode(word: str, merges) -> list[str]:
    syms = list(word)
    syms[-1] += END_OF_WORD
    for a, b, _ in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


CORPUS = [
    "low low low lower lower newest newest newest newest widest widest",
    "the newest gadget is the widest gadget",
    "a lone z",
]


def test_train_matches_python_twin(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )
    assert train_bpe(docs, 10) == py_train_bpe(CORPUS, 10)


def test_train_on_driver_corpus_matches_twin(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    texts = [r.text for r in docs.select("text").collect()]
    assert train_bpe(docs, 6) == py_train_bpe(texts, 6)


def test_non_bmp_characters_stay_whole_symbols(spark):
    """Symbols are code points: a character outside the BMP (a UTF-16
    surrogate pair in the JVM) must not split into two halves in
    training, encoding or token stats."""
    texts = ["😀😀 😀😀 😀😀 x😀", "𝔸b𝔸b 𝔸b𝔸b a😀b 𝔸"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    merges = train_bpe(docs, 5)
    assert merges == py_train_bpe(texts, 5)
    assert merges[0] == ("😀", "😀</w>", 3)
    words = sorted({w for t in texts for w in t.split(" ") if w})
    wdf = spark.createDataFrame([(w,) for w in words], "word string")
    got = {r.word: r.tokens for r in encode_words(wdf, merges).collect()}
    assert got == {w: py_encode(w, merges) for w in words}
    stats = bpe_token_stats(docs, merges).collect()
    assert {r.doc_id: r.n_bpe_tokens for r in stats} == {
        i: sum(len(py_encode(w, merges)) for w in t.split(" ") if w)
        for i, t in enumerate(texts)
    }


def test_greedy_overlap_semantics(spark):
    # 'aaa' + merge (a,a): non-overlapping left-to-right -> ['aa','a</w>']
    docs = spark.createDataFrame([(0, "aaa aaa")], "doc_id long, text string")
    merges = train_bpe(docs, 1)
    assert merges[0][:2] == ("a", "a")
    words = spark.createDataFrame([("aaa",), ("aaaa",)], "word string")
    enc = {r.word: r.tokens for r in encode_words(words, merges).collect()}
    assert enc["aaa"] == ["aa", "a" + END_OF_WORD]
    assert enc["aaaa"] == py_encode("aaaa", merges)


def test_encode_matches_python_twin(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )
    merges = train_bpe(docs, 8)
    words = sorted({w for t in CORPUS for w in t.split(" ") if w})
    wdf = spark.createDataFrame([(w,) for w in words], "word string")
    got = {r.word: r.tokens for r in encode_words(wdf, merges).collect()}
    for w in words:
        assert got[w] == py_encode(w, merges), w
        # round trip: concatenating tokens reproduces the word + marker
        assert "".join(got[w]) == w + END_OF_WORD


def test_token_stats_matches_python_twin(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )
    merges = train_bpe(docs, 8)
    got = {r.doc_id: r.n_bpe_tokens for r in bpe_token_stats(docs, merges).collect()}
    want = {
        i: sum(len(py_encode(w, merges)) for w in t.split(" ") if w)
        for i, t in enumerate(CORPUS)
    }
    assert got == want


def test_merges_df_shape(spark):
    docs = spark.createDataFrame([(0, "ab ab ab")], "doc_id long, text string")
    df = merges_df(spark, train_bpe(docs, 3))
    rows = df.collect()
    assert [r.rank for r in rows] == list(range(len(rows)))
    assert rows[0].pair_count >= rows[-1].pair_count


def test_train_stops_when_dry(spark):
    # every word unique single char: no pair reaches count 2
    docs = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    assert train_bpe(docs, 5) == []


def test_bpe_train_oracle_agrees_on_aa_runs(spark):
    """The unrolled SQL twin derives greedy merging from a CLOSED FORM
    (alternate positions within a==b runs) instead of the Spark fold —
    pin the two derivations against each other on the adversarial
    input family: long single-character runs where overlap handling
    decides the answer."""
    import duckdb

    from jane_spark.contracts import REGISTRY
    from jane_spark.operators.bpe import merges_df, train_bpe

    rows = [
        (1, "aaaa aaaaa aa"),
        (2, "aaa aaa baab"),
        (3, "abab ababab aabb"),
        (4, "aaaa aaaa aaaa"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sp = sorted(
        tuple(r)
        for r in merges_df(spark, train_bpe(docs, n_merges=4)).collect()
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    # reuse the registered 8-merge oracle text, re-generated at 4
    from jane_spark.contracts.curation import _bpe_train_oracle

    dk = sorted(tuple(r) for r in con.execute(_bpe_train_oracle(4)).fetchall())
    assert sp == dk, (sp, dk)


def test_wordpiece_greedy_and_unk_vs_oracle(spark):
    """WordPiece: the Spark fold vs the recursive-CTE twin on the
    adversarial inputs the contract corpus lacks — UNK words (the
    contract vocab covers its whole alphabet) and greedy-vs-optimal
    splits — plus hand-computed expectations."""
    import duckdb

    from jane_spark.contracts.curation import _wordpiece_oracle
    from jane_spark.operators.bpe import wordpiece_encode

    vocab = ("a", "b", "c", "##a", "##b", "##c", "ab", "##bc", "abc")
    rows = [(1, "abc ab a"), (2, "abcb cab"), (3, "xyz abq"), (4, "b")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    exploded = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    enc = wordpiece_encode(
        exploded.select("word").distinct(), list(vocab)
    )
    toks = {r["word"]: r["tokens"] for r in enc.collect()}
    assert toks["abc"] == ["abc"]                  # longest piece wins
    assert toks["abcb"] == ["abc", "##b"]
    assert toks["cab"] == ["c", "##a", "##b"]
    assert toks["xyz"] == ["[UNK]"]
    assert toks["abq"] == ["[UNK]"]                # dies mid-word -> UNK

    sp = sorted(
        (r["doc_id"], r["n_wp_tokens"])
        for r in exploded.join(
            enc.select("word", F.size("tokens").alias("n_wp")), "word"
        ).groupBy("doc_id").agg(F.sum("n_wp").alias("n_wp_tokens")).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    dk = sorted(tuple(r) for r in con.execute(_wordpiece_oracle(vocab)).fetchall())
    assert sp == dk, (sp, dk)


def test_wordpiece_literal_hash_prefix_word(spark):
    """A word literally starting with '##' may consume a continuation
    vocab piece at word start — the documented corner mirroring public
    BERT (tokenization.py adds '##' only when start > 0, probing the
    raw substring against the FULL vocab at position 0). Pinned so a
    future 'fix' can't silently diverge from both BERT and the oracle."""
    from jane_spark.operators.bpe import wordpiece_encode

    words = spark.createDataFrame([("##ab",), ("#a",)], "word string")
    toks = {
        r["word"]: r["tokens"]
        for r in wordpiece_encode(words, ["a", "##a", "##b", "#", "##ab"]).collect()
    }
    # start=0 raw probe: '##ab' matches the continuation piece '##ab'
    assert toks["##ab"] == ["##ab"]
    # '#a' -> '#' (initial), then continuation '##a' for the 'a'
    assert toks["#a"] == ["#", "##a"]


def _py_viterbi(word, vocab, unk=-1000):
    """Independent Python reference: max (score, -len) DP."""
    L = max(len(p) for p in vocab)
    n = len(word)
    best = [(0, 0)] + [None] * n  # (score, ntok)
    bp = [0] * (n + 1)
    for i in range(1, n + 1):
        cands = []
        for l in range(1, min(L, i) + 1):
            piece = word[i - l: i]
            s = vocab.get(piece)
            if s is None and l == 1:
                s = unk
            if s is None:
                continue
            cands.append((best[i - l][0] + s, -l))
        sc, negl = max(cands)
        bp[i] = -negl
        best[i] = (sc, best[i + negl][1] + 1)
    toks = []
    pos = n
    while pos > 0:
        toks.append(word[pos - bp[pos]: pos])
        pos -= bp[pos]
    return best[n][0], best[n][1], list(reversed(toks))


def test_unigram_viterbi_hand_cases(spark):
    """Viterbi beats greedy: 'batch' must segment ba+tch (-150), not
    the longest-first bat+ch (-165); whole-word pieces win when their
    score says so; unknown chars take the UNK score; ties prefer the
    shorter final piece (a+b over the equal-scoring 'ab')."""
    from jane_spark.operators.bpe import unigram_encode

    vocab = {
        **{c: -60 for c in "abcdefghijklmnopqrstuvwxyz"},
        "ba": -70, "tch": -80, "bat": -90, "ch": -75,
        "merge": -150, "order": -160, "or": -70, "der": -95,
        "ab": -120,  # exact tie with a+b (-60 + -60)
    }
    words = ["batch", "order", "merge", "ab", "z7z", "x"]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    got = {
        r["word"]: (r["score"], r["n_tokens"], r["tokens"])
        for r in unigram_encode(df, vocab).collect()
    }
    assert got["batch"] == (-150, 2, ["ba", "tch"])
    assert got["order"] == (-160, 1, ["order"])
    assert got["merge"] == (-150, 1, ["merge"])
    # tie: 'ab'(-120) == a+b(-120) -> shorter final piece wins
    assert got["ab"] == (-120, 2, ["a", "b"])
    assert got["z7z"] == (-1120, 3, ["z", "7", "z"])
    assert got["x"] == (-60, 1, ["x"])
    for w in words:
        assert got[w] == _py_viterbi(w, vocab), w


def test_unigram_matches_python_reference_on_corpus_vocab(spark):
    """The Spark DP vs the independent Python reference over every
    distinct corpus word under the contract vocabulary."""
    from jane_spark.contracts.curation import UNIGRAM_VOCAB
    from jane_spark.operators.bpe import unigram_encode

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    words = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word") != "").distinct()
    got = {
        r["word"]: (r["score"], r["n_tokens"], r["tokens"])
        for r in unigram_encode(words, UNIGRAM_VOCAB).collect()
    }
    assert len(got) >= 25
    for w, triple in got.items():
        assert triple == _py_viterbi(w, UNIGRAM_VOCAB), w
    # the vocabulary exercises non-greedy segmentation on real corpus
    # words: at least one word's token count differs from WordPiece-
    # style greedy longest-match under the same pieces
    assert got["batch"][2] == ["ba", "tch"]


def test_unigram_estep_counts_match_python(spark):
    """E-step piece counts vs the Python reference, plus the mass
    invariant: summed piece-length × count reconstructs the corpus
    character count exactly (every char belongs to exactly one piece)."""
    from collections import Counter

    from jane_spark.contracts.curation import UNIGRAM_VOCAB
    from jane_spark.operators.bpe import unigram_piece_counts

    texts = ["batch order merge batch", "spark table scan batch", "z7 order"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r["piece"]: r["cnt"]
        for r in unigram_piece_counts(docs, UNIGRAM_VOCAB).collect()
    }
    want: Counter = Counter()
    words = [w for t in texts for w in t.split(" ") if w]
    for w in words:
        for p in _py_viterbi(w, UNIGRAM_VOCAB)[2]:
            want[p] += 1
    assert got == dict(want)
    assert sum(len(p) * c for p, c in got.items()) == sum(
        len(w) for w in words
    )


def test_encode_words_udf_parity_and_scale(spark):
    """The Arrow-batched scale path must reproduce the fold chain
    byte-for-byte at contract scale (8 merges), and stay correct at a
    merge count the fold chain cannot codegen (60 merges — where only
    the Python twin can arbitrate)."""
    from jane_spark.operators.bpe import encode_words, encode_words_udf

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
    )
    merges = train_bpe(docs, 8)
    words = sorted({w for t in CORPUS for w in t.split(" ") if w})
    wdf = spark.createDataFrame([(w,) for w in words], "word string")
    fold = {r.word: r.tokens for r in encode_words(wdf, merges).collect()}
    udf = {r.word: r.tokens for r in encode_words_udf(wdf, merges).collect()}
    assert fold == udf

    # 60 merges over a run-heavy corpus: plan stays O(1), results match
    # the Python reference
    big_corpus = ["ab" * 8 + " " + "ba" * 6, "abab abba baab " * 4, "a b ab"]
    bdocs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(big_corpus)], "doc_id long, text string"
    )
    big_merges = train_bpe(bdocs, 60)
    bwords = sorted({w for t in big_corpus for w in t.split(" ") if w})
    bdf = spark.createDataFrame([(w,) for w in bwords], "word string")
    got = {r.word: r.tokens for r in encode_words_udf(bdf, big_merges).collect()}
    for w in bwords:
        assert got[w] == py_encode(w, big_merges), w


def _py_train_unigram(texts, n_iters=2, max_piece_len=4, seed_size=64,
                      prune_frac=0.2):
    """Independent Python twin of operators.bpe.train_unigram."""
    import math
    from collections import Counter

    def iscores(counts):
        total = sum(counts.values())
        return {
            p: int(round(round(100.0 * math.log(c / total), 9)))
            for p, c in counts.items()
        }

    wc = Counter(w for t in texts for w in t.split(" ") if w)
    sub = Counter()
    for w, n in wc.items():
        for i in range(len(w)):
            for l in range(1, max_piece_len + 1):
                if i + l <= len(w):
                    sub[w[i:i + l]] += n
    ranked = sorted(sub.items(), key=lambda kv: (-kv[1], kv[0]))
    singles = {p: c for p, c in ranked if len(p) == 1}
    multis = dict([(p, c) for p, c in ranked if len(p) > 1][:seed_size])
    seed = {**singles, **multis}
    scores = iscores(seed)
    counts = dict(seed)
    for _ in range(n_iters):
        used = Counter()
        for w, n in wc.items():
            for piece in _py_viterbi(w, scores)[2]:
                used[piece] += n
        counts = dict(used)
        ml = sorted((c, p) for p, c in counts.items() if len(p) > 1)
        for _, p in ml[: int(len(ml) * prune_frac)]:
            del counts[p]
        for p in singles:
            counts.setdefault(p, 0)
        scores = iscores({p: max(c, 1) for p, c in counts.items()})
    return sorted(((p, scores[p], c) for p, c in counts.items()),
                  key=lambda t: (-t[2], t[0]))


def test_train_unigram_matches_python_twin(spark):
    from jane_spark.operators.bpe import train_unigram

    texts = [
        "low lower lowest batch batch merge merge merge",
        "the batch stream stream lower low low",
        "merge order order scan",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = train_unigram(docs, n_iters=2, seed_size=24)
    want = _py_train_unigram(texts, n_iters=2, seed_size=24)
    assert got == want
    pieces = {p for p, _, _ in got}
    # the alphabet always survives; some multi-char piece must have won
    assert {c for t in texts for c in t if c != " "} <= pieces
    assert any(len(p) > 1 for p in pieces)


def test_train_unigram_on_fixture_corpus(spark, sf_dir):
    from jane_spark.operators.bpe import train_unigram

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    texts = [r["text"] for r in docs.select("text").collect()]
    got = train_unigram(docs, n_iters=2, seed_size=40)
    want = _py_train_unigram(texts, n_iters=2, seed_size=40)
    assert got == want


def test_unigram_encode_udf_parity_and_plan(spark):
    """The Arrow scale path must segment byte-identically to the
    expression DP (scores, counts, tokens) over real corpus words,
    and its plan must be ONE Arrow stage whose size is independent of
    the vocabulary (the encode_words_udf contract, applied to
    Unigram)."""
    from jane_spark.contracts.curation import UNIGRAM_VOCAB
    from jane_spark.operators.bpe import unigram_encode, unigram_encode_udf

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    words = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("word")
    ).filter(F.col("word") != "").distinct()
    expr_out = {
        r["word"]: (r["score"], r["n_tokens"], tuple(r["tokens"]))
        for r in unigram_encode(words, UNIGRAM_VOCAB).collect()
    }
    udf_out = {
        r["word"]: (r["score"], r["n_tokens"], tuple(r["tokens"]))
        for r in unigram_encode_udf(words, UNIGRAM_VOCAB).collect()
    }
    assert udf_out == expr_out and len(udf_out) >= 25
    # plan: one Arrow stage; node count unchanged by a 100x vocabulary
    big_vocab = {**UNIGRAM_VOCAB,
                 **{f"zz{i:04d}": -500 - i for i in range(3000)}}
    p_small = unigram_encode_udf(words, UNIGRAM_VOCAB)._jdf.queryExecution().executedPlan().toString()
    p_big = unigram_encode_udf(words, big_vocab)._jdf.queryExecution().executedPlan().toString()
    assert p_big.count("ArrowEvalPython") == 1
    assert len(p_small.splitlines()) == len(p_big.splitlines())
