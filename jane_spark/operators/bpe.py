"""BPE tokenizer training and application (north-star: the tokenizer
stage of an LLM data pipeline, Sennrich et al. 2016).

Training corpora don't just get *counted* by a tokenizer — the
tokenizer itself is trained on the corpus. The byte-pair-encoding loop
is: split words into symbol sequences (chars + an end-of-word marker),
repeatedly find the most frequent adjacent symbol pair and merge it,
record the merge ranks; encoding replays the ranked merges.

Spark-first shape — the key scale decision is what the loop iterates
over. The corpus is touched EXACTLY ONCE (one explode + one groupBy →
the word-type frequency table, the standard trick); every merge
iteration then runs on that vocabulary-sized table: one pair-count
shuffle (combinable partial aggregates, carries counts only) and ONE
row collected to the driver (the argmax pair — bounded like the IVF
centroid precedent). Symbol merging is a row-local higher-order fold —
no UDFs anywhere in the loop. Lineage is cut with localCheckpoint per
iteration (components.py precedent) so n_merges doesn't build an
n_merges-deep plan.

That loop costs two or three driver-scheduled jobs per merge however
small the vocabulary is. When the checkpointed word-type table fits
one task (``engine.onetask.in_one_task``: at most ``MAX_ROWS`` rows,
a bound set from measured timings of both paths), one Python task
runs every merge instead: the symbols still come from the JVM
(``_initial_symbols``), the task only counts pairs, takes the same
argmax and merges. Larger tables keep the distributed loop; both
paths return the same list.

Greedy left-to-right merge semantics match the reference algorithm
(non-overlapping scan: 'aaa' + (a,a) → ['aa','a']), pinned against a
pure-Python twin in tests.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jane_spark.engine.ckpt import Generations
from jane_spark.engine.onetask import in_one_task

END_OF_WORD = "</w>"
# train_bpe's distributed loop cuts lineage every CHECKPOINT_EVERY merges:
# re-running up to that many row-local merge folds per argmax is cheaper
# than materializing the vocabulary every merge (measured ~2x, bench corpus)
CHECKPOINT_EVERY = 3


def word_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus → (word, n) word-type table. The only corpus-sized
    shuffle in BPE training."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _initial_symbols(word: Column) -> Column:
    """Characters with END_OF_WORD glued to the last one:
    'low' → ['l', 'o', 'w</w>']."""
    # one element per code point ('.' in Java regex consumes a whole
    # surrogate pair; a zero-width split would cut between its halves
    # and turn every non-BMP character into two '?'), newlines included
    chars = F.regexp_extract_all(word, F.lit("(?s)."), 0)
    n = F.size(chars)
    return F.concat(
        F.slice(chars, 1, n - 1),
        F.array(F.concat(F.element_at(chars, -1), F.lit(END_OF_WORD))),
    )


def _adjacent_pairs(syms: Column) -> Column:
    """[(s_i, s_i+1)] structs; [] for single-symbol words (explicit
    guard — Spark's sequence(1, 0) is a DESCENDING sequence)."""
    return F.when(
        F.size(syms) > 1,
        F.transform(
            F.sequence(F.lit(1), F.size(syms) - 1),
            lambda i: F.struct(
                F.element_at(syms, i).alias("left"),
                F.element_at(syms, i + 1).alias("right"),
            ),
        ),
    ).otherwise(F.expr("array()").cast("array<struct<left:string,right:string>>"))


def _merge_pair(syms: Column, a: str, b: str) -> Column:
    """Row-local greedy left-to-right merge of adjacent (a, b) → ab.
    Fold with a (out, pend) accumulator: pend is the one-symbol
    lookbehind; a merge consumes it, anything else flushes it."""
    merged = a + b

    def step(acc, x):
        flush = F.struct(
            F.concat(acc["out"], F.array(acc["pend"])).alias("out"),
            x.alias("pend"),
        )
        merge = F.struct(
            F.concat(acc["out"], F.array(F.lit(merged))).alias("out"),
            F.lit(None).cast("string").alias("pend"),
        )
        take = F.struct(acc["out"].alias("out"), x.alias("pend"))
        return F.when(acc["pend"].isNull(), take).otherwise(
            F.when((acc["pend"] == a) & (x == b), merge).otherwise(flush)
        )

    return F.aggregate(
        syms,
        F.struct(
            F.expr("array()").cast("array<string>").alias("out"),
            F.lit(None).cast("string").alias("pend"),
        ),
        step,
        lambda acc: F.when(acc["pend"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pend"]))
        ),
    )


def train_bpe(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` ranked merges; returns
    [(left, right, pair_count), ...] in rank order. Ties break by
    (count desc, left asc, right asc) — byte-deterministic across
    partitionings. Only n_merges single-row collects reach the driver.

    A vocabulary table that fits one task
    (``engine.onetask.in_one_task``) skips the loop: one Python task
    runs every merge (:func:`_merge_loop`) over the symbols built above
    and returns the same list."""
    vocab = word_counts(docs, text_col).select(
        _initial_symbols(F.col("word")).alias("syms"), "n"
    )
    # the result is a plain driver list: every checkpoint dies at exit
    with Generations(docs.sparkSession) as g:
        vocab = g.cut(vocab)
        merges = _merges_in_one_task(vocab, n_merges)
        if merges is not None:
            return merges
        merges = []
        for i in range(n_merges):
            best = (
                vocab.select(F.explode(_adjacent_pairs(F.col("syms"))).alias("p"), "n")
                .groupBy("p.left", "p.right")
                .agg(F.sum("n").alias("cnt"))
                .orderBy(F.col("cnt").desc(), F.col("left").asc(), F.col("right").asc())
                .limit(1)
                .collect()
            )
            if not best or best[0]["cnt"] < 2:
                break  # nothing left worth merging
            a, b, cnt = best[0]["left"], best[0]["right"], int(best[0]["cnt"])
            merges.append((a, b, cnt))
            vocab = vocab.select(_merge_pair(F.col("syms"), a, b).alias("syms"), "n")
            if (i + 1) % CHECKPOINT_EVERY == 0:
                vocab = g.cut(vocab)
        return merges


def _merges_in_one_task(
    vocab: DataFrame, n_merges: int
) -> list[tuple[str, str, int]] | None:
    """:func:`_merge_loop` over the whole ``(syms, n)`` table in one
    Python task; None when the table does not fit one task."""
    import pyarrow as pa

    def train(t: pa.Table) -> pa.Table:
        words = zip(t.column("syms").to_pylist(), t.column("n").to_pylist())
        merges = _merge_loop(list(words), n_merges)
        return pa.table(
            [
                pa.array([m[i] for m in merges], typ)
                for i, typ in enumerate((pa.string(), pa.string(), pa.int64()))
            ],
            names=["left", "right", "cnt"],
        )

    got = in_one_task(vocab, train)
    return None if got is None else list(zip(*got.to_pydict().values()))


def _merge_loop(
    words: list[tuple[list[str], int]], n_merges: int
) -> list[tuple[str, str, int]]:
    """The training loop on driver-side data: ``words`` holds each word
    type's symbols and count. Per step: weighted adjacent-pair counts,
    the argmax by (count desc, left asc, right asc) — Python's ``str``
    order is code-point order, which is Spark's UTF-8 byte order — a
    stop below count 2, and the greedy left-to-right merge."""
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, n in words:
            for pair in zip(syms, syms[1:]):
                counts[pair] = counts.get(pair, 0) + n
        if not counts:
            break
        (a, b), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < 2:
            break
        merges.append((a, b, cnt))
        words = [(_merge_list(syms, a, b), n) for syms, n in words]
    return merges


def _merge_list(syms: list[str], a: str, b: str) -> list[str]:
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def merges_df(spark, merges: list[tuple[str, str, int]]) -> DataFrame:
    return spark.createDataFrame(
        [(i, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "rank int, left string, right string, pair_count long",
    )


def encode_words(words: DataFrame, merges: list[tuple[str, str, int]]) -> DataFrame:
    """(word, …) table → + tokens array<string>: replay the ranked
    merges as a chain of row-local folds (n_merges nested expressions —
    fine for the tens-of-merges contract scale; a production-sized
    merge table would move this one step to a dict-driven pandas UDF,
    same semantics)."""
    syms = _initial_symbols(F.col("word"))
    for a, b, _ in merges:
        syms = _merge_pair(syms, a, b)
    return words.withColumn("tokens", syms)


def bpe_token_stats(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document BPE token counts: encode the word-TYPE table once,
    equi-join it back to the exploded corpus (never re-encode repeated
    words), sum per document. Two shuffles total (word join + doc agg)."""
    exploded = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("word")
    ).filter(F.col("word") != "")
    encoded = encode_words(
        exploded.select("word").distinct(), merges
    ).select("word", F.size("tokens").alias("n_word_tokens"))
    return (
        exploded.join(encoded, on="word")
        .groupBy(id_col)
        .agg(F.sum("n_word_tokens").alias("n_bpe_tokens"))
    )


def wordpiece_encode(
    words: DataFrame,
    vocab: list[str],
    word_col: str = "word",
    unk: str = "[UNK]",
) -> DataFrame:
    """BERT's WordPiece encoding (greedy longest-match-first; Devlin
    et al. 2019 / the public BertTokenizer algorithm): at each
    position take the LONGEST vocab token matching the remaining
    word — continuation pieces carry the '##' prefix — and emit
    ``[UNK]`` for the whole word when no piece matches. The other
    dominant subword scheme beside BPE (encode_words), completing the
    tokenizer family.

    Row-local: ONE ``aggregate`` fold over at most ``len(word)``
    steps whose lambda tries piece lengths L..1 via vocabulary
    ``isin`` probes (Catalyst InSet — the PSL shape), so the
    expression size is O(max piece length), independent of word
    length, and the whole encode is a zero-shuffle projection.
    Word-TYPE tables feed it (the BPE precedent: repeated words never
    re-encode).

    Corner case, deliberate: a word that literally starts with "##"
    may match a '##'-prefixed (continuation) vocab piece at position
    1, because the word-initial probe tests the raw substring against
    the FULL vocabulary — up to the longest RAW piece length. This
    mirrors the public BERT WordpieceTokenizer exactly
    (google-research/bert tokenization.py: ``if start > 0: substr =
    "##" + substr`` — no prefix added at start, membership tested
    against the whole vocab), and the DuckDB oracle twin shares it."""
    vocab_set = set(vocab)
    if not vocab_set:
        raise ValueError("empty vocabulary")
    # raw lengths: the pos=1 probe must reach a full '##xyz' literal
    # (BERT start=0 semantics); pos>1 probes beyond the longest
    # continuation stem simply never match
    max_l = max(len(t) for t in vocab_set)
    w = F.col(word_col)
    n = F.length(w)
    empty = F.expr("array()").cast("array<string>")
    varr = F.array(*[F.lit(t) for t in sorted(vocab_set)])

    def step(acc, _i):
        pos = acc["pos"]
        done = acc["fail"] | (pos > n)
        # longest-match chain: first non-null wins (l = max_l .. 1)
        cand = None
        for l in range(max_l, 0, -1):
            sub = F.substring(w, pos, l)
            tok = F.when(pos == 1, sub).otherwise(F.concat(F.lit("##"), sub))
            hit = F.when(
                (pos + l - 1 <= n) & F.array_contains(varr, tok), tok
            )
            cand = hit if cand is None else F.coalesce(cand, hit)
        advance = F.length(cand) - F.when(pos > 1, 2).otherwise(0)
        matched = F.struct(
            (pos + advance).alias("pos"),
            F.concat(acc["toks"], F.array(cand)).alias("toks"),
            F.lit(False).alias("fail"),
        )
        failed = F.struct(
            (n + F.lit(1)).alias("pos"),
            F.array(F.lit(unk)).alias("toks"),
            F.lit(True).alias("fail"),
        )
        return F.when(done, acc).otherwise(
            F.when(cand.isNull(), failed).otherwise(matched)
        )

    init = F.struct(
        F.lit(1).alias("pos"), empty.alias("toks"), F.lit(False).alias("fail")
    )
    out = F.aggregate(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
        init,
        step,
        lambda acc: acc["toks"],
    )
    return words.withColumn(
        "tokens", F.when(n > 0, out).otherwise(empty)
    )


# ---------------------------------------------------------------- Unigram


def unigram_encode(
    words: DataFrame,
    vocab: dict[str, int],
    word_col: str = "word",
    unk_score: int = -1000,
) -> DataFrame:
    """Unigram-LM tokenization (Kudo 2018; the SentencePiece default —
    the third dominant subword scheme beside BPE and WordPiece): each
    word segments into the vocabulary pieces whose TOTAL score is
    maximal (Viterbi over piece log-probs), not greedy longest-match.

    ``vocab`` maps piece → INTEGER score (log-probs scaled to
    centi-nats): integer DP arithmetic makes every max/tie decision
    engine-portable — no float boundary can flip a segmentation
    between Spark and a SQL twin. Characters outside the vocabulary
    fall back to ``unk_score`` per char (SentencePiece's UNK), so the
    DP is total. Ties prefer the SHORTER final piece (max over
    (score, -len) — mirrored exactly by the oracle's integer key
    packing).

    Row-local: one ``aggregate`` fold builds score/count/backpointer
    arrays position by position (lambda tries piece lengths 1..L via a
    literal map lookup — expression size O(L), independent of word
    length), a second fold walks the backpointers into the token
    array. Zero shuffles; word-TYPE tables feed it (the BPE/WordPiece
    precedent: repeated words never re-encode).
    """
    if not vocab:
        raise ValueError("empty vocabulary")
    max_l = max(len(p) for p in vocab)
    w = F.col(word_col)
    n = F.length(w)
    kv = [
        x
        for piece, score in sorted(vocab.items())
        for x in (F.lit(piece), F.lit(int(score)).cast("long"))
    ]
    vmap = F.create_map(*kv)

    def step(acc, i):
        scores, cnts, bps = acc["scores"], acc["cnts"], acc["bps"]
        cands = []
        for l in range(1, max_l + 1):
            piece = F.substring(w, i - l + 1, l)
            sc = F.element_at(vmap, piece)
            if l == 1:
                sc = F.coalesce(sc, F.lit(int(unk_score)).cast("long"))
            prev = F.get(scores, i - l)
            cands.append(
                F.when(
                    (i >= F.lit(l)) & sc.isNotNull(),
                    F.struct(
                        (prev + sc).alias("s"),
                        F.lit(-l).alias("negl"),
                    ),
                )
            )
        best = F.array_max(
            F.filter(F.array(*cands), lambda c: c.isNotNull())
        )
        grown = F.struct(
            F.concat(scores, F.array(best["s"])).alias("scores"),
            F.concat(
                cnts, F.array(F.get(cnts, i + best["negl"]) + F.lit(1))
            ).alias("cnts"),
            F.concat(bps, F.array(-best["negl"])).alias("bps"),
        )
        return F.when(i > n, acc).otherwise(grown)

    init = F.struct(
        F.array(F.lit(0).cast("long")).alias("scores"),
        F.array(F.lit(0)).alias("cnts"),
        F.array(F.lit(0)).alias("bps"),
    )
    dp = F.aggregate(F.sequence(F.lit(1), F.greatest(n, F.lit(1))), init, step)
    # materialize the DP ONCE: the walk + outputs reference it several
    # times, and re-inlining the fold would re-run the whole DP per
    # reference (the with_normalized_url lesson)
    out = words.withColumn("__dp", dp)
    bps = F.col("__dp")["bps"]

    def walk(acc, _j):
        pos = acc["pos"]
        l = F.get(bps, pos)
        piece = F.substring(w, pos - l + 1, l)
        stepped = F.struct(
            (pos - l).alias("pos"),
            F.concat(F.array(piece), acc["toks"]).alias("toks"),
        )
        return F.when(pos <= 0, acc).otherwise(stepped)

    empty = F.expr("array()").cast("array<string>")
    walk_init = F.struct(n.alias("pos"), empty.alias("toks"))
    toks = F.aggregate(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
        walk_init,
        walk,
        lambda acc: acc["toks"],
    )
    return out.select(
        "*",
        F.when(n > 0, F.get(F.col("__dp")["cnts"], n)).otherwise(
            F.lit(0)
        ).alias("n_tokens"),
        F.when(n > 0, F.get(F.col("__dp")["scores"], n)).otherwise(
            F.lit(0).cast("long")
        ).alias("score"),
        F.when(n > 0, toks).otherwise(empty).alias("tokens"),
    ).drop("__dp")


def unigram_piece_counts(
    docs: DataFrame,
    vocab: dict[str, int],
    text_col: str = "text",
    unk_score: int = -1000,
) -> DataFrame:
    """Unigram-LM hard-EM E-step (Kudo 2018 §3.2, Viterbi counts): how
    often each vocabulary piece is USED when the corpus is segmented
    optimally under the current scores — the statistic the M-step
    renormalizes into new piece log-probs, and the contribution signal
    vocabulary pruning ranks by. The corpus is touched ONCE (the BPE
    word_counts shuffle); the Viterbi DP runs per word TYPE and the
    piece explosion carries the word frequency — one more
    vocabulary-sized shuffle, nothing corpus-sized."""
    wc = word_counts(docs, text_col)
    enc = unigram_encode(wc, vocab, unk_score=unk_score)
    return (
        enc.select(F.explode("tokens").alias("piece"), "n")
        .groupBy("piece")
        .agg(F.sum("n").alias("cnt"))
    )


def unigram_encode_udf(
    words: DataFrame,
    vocab: dict[str, int],
    word_col: str = "word",
    unk_score: int = -1000,
) -> DataFrame:
    """Production-scale Unigram-LM encode (the documented scale path
    for ``unigram_encode``, docs/SCALE.md): the expression DP carries
    the score map as a ``create_map`` literal — O(1) plan NODES but
    O(vocab) literals inside the projection, so a 32k-piece
    production vocabulary pays analyzer/codegen cost per query. This
    path runs the SAME integer Viterbi (max over (score, -len), UNK
    per char, ties to the shorter final piece) in ONE Arrow-batched
    stage with the vocabulary held once in the worker closure — plan
    size independent of the vocabulary, per-row work identical.
    Parity-pinned against unigram_encode and the Python twin."""
    if not vocab:
        raise ValueError("empty vocabulary")
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    v = {p: int(s) for p, s in vocab.items()}
    max_l = max(len(p) for p in v)
    unk = int(unk_score)

    def _enc_one(word: str):
        n = len(word)
        if n == 0:
            return (0, 0, [])
        best = [(0, 0)] + [None] * n
        bp = [0] * (n + 1)
        for i in range(1, n + 1):
            cands = []
            for l in range(1, min(max_l, i) + 1):
                s = v.get(word[i - l:i])
                if s is None and l == 1:
                    s = unk
                if s is None:
                    continue
                cands.append((best[i - l][0] + s, -l))
            sc, negl = max(cands)
            bp[i] = -negl
            best[i] = (sc, best[i + negl][1] + 1)
        toks, pos = [], n
        while pos > 0:
            toks.append(word[pos - bp[pos]:pos])
            pos -= bp[pos]
        return (best[n][1], best[n][0], list(reversed(toks)))

    out_t = StructType(
        [
            StructField("n_tokens", IntegerType()),
            StructField("score", LongType()),
            StructField("tokens", ArrayType(StringType())),
        ]
    )

    @F.pandas_udf(out_t)
    def _enc(col: pd.Series) -> pd.DataFrame:
        trips = col.map(_enc_one)
        return pd.DataFrame(
            {
                "n_tokens": trips.map(lambda t: t[0]),
                "score": trips.map(lambda t: t[1]),
                "tokens": trips.map(lambda t: t[2]),
            }
        )

    out = words.withColumn("__u", _enc(F.col(word_col)))
    return out.select(
        "*",
        F.col("__u.n_tokens").alias("n_tokens"),
        F.col("__u.score").alias("score"),
        F.col("__u.tokens").alias("tokens"),
    ).drop("__u")


def encode_words_udf(
    words: DataFrame,
    merges: list[tuple[str, str, int]],
    word_col: str = "word",
) -> DataFrame:
    """Production-scale BPE encode (the documented scale path for
    encode_words, docs/SCALE.md): the fold chain nests one expression
    per merge, and past ~8 merges the generated sorter crosses the
    JVM's 64 KB method limit into interpreted evaluation. This path
    replays the SAME ranked merges in ONE Arrow-batched stage — plan
    size O(1) in the merge count, per-row work identical — for
    production-sized merge tables (32k merges is a normal tokenizer).
    Greedy non-overlapping left-to-right semantics are byte-identical
    to encode_words; pinned by parity pytest and the Python twin."""
    from pyspark.sql.types import ArrayType, StringType

    ranked = [(a, b) for a, b, _ in merges]

    def _encode_one(word: str) -> list[str]:
        syms = list(word)
        if not syms:
            return []
        syms[-1] += END_OF_WORD
        for a, b in ranked:
            syms = _merge_list(syms, a, b)
        return syms

    @F.pandas_udf(ArrayType(StringType()))
    def _enc(col: pd.Series) -> pd.Series:
        return col.map(_encode_one)

    return words.withColumn("tokens", _enc(F.col(word_col)))


def seed_vocab_frames(
    docs: DataFrame,
    max_piece_len: int = 4,
    seed_size: int = 64,
    text_col: str = "text",
    wc: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The cluster-side halves of :func:`seed_unigram_vocab`:
    (alphabet singles, top-``seed_size`` multis) as DataFrames, each
    already ordered (cnt desc, piece asc) and — for the multis —
    truncated via ``limit`` so Spark plans a TakeOrdered, never a
    full-table collect. Exposed separately so plan guards can assert
    the truncation stays cluster-side. ``wc`` lets callers that
    already hold the word-TYPE table (train_unigram) pass it in so the
    corpus tokenize+count runs once, not twice (r15)."""
    if wc is None:
        wc = word_counts(docs, text_col).localCheckpoint(eager=True)
    w = F.col("word")
    pieces = wc.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.length(w)),
                    lambda i: F.filter(
                        F.transform(
                            F.sequence(
                                F.lit(1), F.lit(int(max_piece_len))
                            ),
                            lambda l: F.when(
                                i + l - 1 <= F.length(w),
                                F.substring(w, i, l),
                            ),
                        ),
                        lambda x: x.isNotNull(),
                    ),
                )
            )
        ).alias("piece"),
        "n",
    )
    counts = pieces.groupBy("piece").agg(F.sum("n").alias("cnt"))
    order = [F.col("cnt").desc(), F.col("piece").asc()]
    singles_df = counts.filter(F.length("piece") == 1).orderBy(*order)
    multis_df = (
        counts.filter(F.length("piece") > 1)
        .orderBy(*order)
        .limit(int(seed_size))
    )
    return singles_df, multis_df


def seed_unigram_vocab(
    docs: DataFrame,
    max_piece_len: int = 4,
    seed_size: int = 64,
    text_col: str = "text",
    wc: DataFrame | None = None,
) -> list[tuple[str, int]]:
    """Unigram training seed (Kudo 2018 §3.2 setup): all word
    substrings up to ``max_piece_len`` ranked by corpus frequency; the
    top ``seed_size`` multi-char pieces plus EVERY single character
    (the alphabet can never be pruned, or the model loses totality).
    Collects only the bounded union from :func:`seed_vocab_frames`."""
    singles_df, multis_df = seed_vocab_frames(
        docs, max_piece_len, seed_size, text_col, wc=wc
    )
    singles = [
        (r["piece"], int(r["cnt"])) for r in singles_df.collect()
    ]
    multis = [(r["piece"], int(r["cnt"])) for r in multis_df.collect()]
    return singles + multis


def _integer_scores(counts: list[tuple[str, int]]) -> dict[str, int]:
    """Piece counts → centi-nat integer log-prob scores:
    round(100 * ln(cnt/total)) with a 9 dp pre-round (the float-
    boundary playbook) so any engine computing the same formula lands
    on the same integer."""
    import math

    total = sum(c for _, c in counts)
    return {
        p: int(round(round(100.0 * math.log(c / total), 9)))
        for p, c in counts
    }


def train_unigram(
    docs: DataFrame,
    n_iters: int = 2,
    max_piece_len: int = 4,
    seed_size: int = 64,
    prune_frac: float = 0.2,
    text_col: str = "text",
) -> list[tuple[str, int, int]]:
    """Unigram-LM tokenizer training (Kudo 2018, hard-EM/Viterbi
    variant): seed vocabulary from substring frequencies, then
    ``n_iters`` rounds of (E) Viterbi-segment the corpus under the
    current integer scores and count piece usage — the oracle-backed
    unigram_piece_counts — and (M) re-score from the counts, pruning
    the lowest-count ``prune_frac`` of multi-char pieces each round
    (single characters are never pruned; pieces with zero Viterbi use
    drop first). Returns [(piece, score, count), ...] sorted by
    (count desc, piece asc).

    Scale shape: the corpus is touched ONCE (word types); every
    iteration is one vocabulary-sized DP + piece-count shuffle with a
    vocabulary-BOUNDED collect (train_bpe's loop contract: driver
    iteration is fine when each round's driver data is dimension-
    bounded). Pinned against a pure-Python twin in tests."""
    # the result is a plain driver list: the word table dies at exit
    with Generations(docs.sparkSession) as g:
        wc = g.hold(word_counts(docs, text_col))
        seed = seed_unigram_vocab(
            docs, max_piece_len, seed_size, text_col, wc=wc
        )
        scores = _integer_scores(seed)
        counts: dict[str, int] = dict(seed)
        for _ in range(n_iters):
            enc = unigram_encode(wc, scores)
            used = (
                enc.select(F.explode("tokens").alias("piece"), "n")
                .groupBy("piece")
                .agg(F.sum("n").alias("cnt"))
            )
            counts = {r["piece"]: int(r["cnt"]) for r in used.collect()}
            # pieces never chosen by any Viterbi path vanish implicitly;
            # prune the weakest used multi-char pieces explicitly
            # prune order fully deterministic: (count asc, piece asc)
            multis = sorted(
                (c, p) for p, c in counts.items() if len(p) > 1
            )
            n_prune = int(len(multis) * prune_frac)
            for _, p in multis[:n_prune]:
                del counts[p]
            # the alphabet survives even with zero standalone use
            for p, c in seed:
                if len(p) == 1 and p not in counts:
                    counts[p] = 0
            scores = _integer_scores(
                [(p, max(c, 1)) for p, c in counts.items()]
            )
    return sorted(
        ((p, scores[p], c) for p, c in counts.items()),
        key=lambda t: (-t[2], t[0]),
    )
