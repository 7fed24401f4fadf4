"""Deduplication operators (SURVEY.md §2 A4/D5/K1/K2 + north-star).

jane dedups uploads by content sha1 (unique per document type) and
resolves re-uploads to new versions [ref: src/jane/documents/models.py —
Document sha1 + upload path, conf=M; SURVEY.md §0 caveat]. The
north-star pipeline extends this to near-duplicate text detection at
100 TB: MinHash banding (LSH) and SimHash, both expressed as DataFrame
transformations whose joins are *equi* joins on bucket keys — never a
pairwise cross product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from jane_spark.operators.topk import argmax


# ------------------------------------------------------------ exact dedup


def exact_dedup(
    df: DataFrame,
    content_col: str,
    keep_order: list[Column],
    hash_fn: str = "md5",
) -> DataFrame:
    """Content-hash dedup keeping the first row per hash under
    ``keep_order`` (jane: sha1 unique + earliest wins; contract uses md5
    because DuckDB 1.0 lacks sha1 — SURVEY.md §2 H6).

    One shuffle on the hash. At 100 TB the hash groupBy is the cheapest
    possible dedup: map-side partial aggregation does most of the work.
    """
    hashed = df.withColumn("__h", getattr(F, hash_fn)(F.col(content_col)))
    return argmax(hashed, ["__h"], keep_order).drop("__h")


def duplicate_groups(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """All hash groups with >1 member — the audit view of exact dedup."""
    return (
        df.groupBy(F.md5(F.col(content_col)).alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_dupes"),
            F.sort_array(F.collect_set(F.col(id_col))).alias("ids"),
        )
        .filter(F.col("n_dupes") > 1)
    )


# ------------------------------------------------------- near-dup: MinHash


def _minhash_cols(token_array: Column, n_hashes: int) -> list[Column]:
    """k independent min-hashes of a token array via xxhash64 with per-
    function seeds. Higher-order functions only — JVM-side, no UDF."""
    cols = []
    for seed in range(n_hashes):
        hashed = F.transform(token_array, lambda t: F.xxhash64(t, F.lit(seed)))
        cols.append(F.array_min(hashed).alias(f"mh_{seed}"))
    return cols


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n_hashes: int = 32, shingle: int = 3
) -> DataFrame:
    """Word-shingle MinHash signature per document.

    shingles: k consecutive tokens joined — built with transform over a
    sequence of start offsets, then min-hashed per hash function.
    """
    tokens = F.split(F.col(text_col), " ")
    n = F.greatest(F.size(tokens) - (shingle - 1), F.lit(1))
    shingles = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, shingle)),
    )
    return df.select(F.col(id_col), *_minhash_cols(shingles, n_hashes))


def minhash_candidate_pairs(
    sigs: DataFrame, id_col: str, n_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """LSH banding: split the signature into bands, hash each band to a
    bucket, equi-join on (band, bucket) → candidate pairs. This is the
    100 TB shape: shuffle keyed by band-bucket, never all-pairs."""
    rows_per_band = n_hashes // bands
    band_cols = [
        F.xxhash64(*[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]).alias(
            f"band_{b}"
        )
        for b in range(bands)
    ]
    banded = sigs.select(F.col(id_col), *band_cols)
    melted = banded.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"band_{b}").alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.bucket")
    a = melted.alias("a")
    b = melted.alias("b")
    pairs = (
        a.join(
            b,
            on=(
                (F.col(f"a.band") == F.col(f"b.band"))
                & (F.col(f"a.bucket") == F.col(f"b.bucket"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            ),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .dropDuplicates()
    )
    return pairs


# ------------------------------------------------------- near-dup: SimHash


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """64-bit SimHash per document from word tokens: sum per-bit ±1 votes
    of each token's xxhash64, take the sign bit-vector. Expressed with
    explode + groupBy bit-votes (map-side combinable)."""
    from functools import reduce

    tokens = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).withColumn("h", F.xxhash64("tok"))
    # bit i of each token hash via unsigned shift (no 1<<63 long literals —
    # those overflow under ANSI arithmetic)
    votes = [
        F.sum(
            F.when(F.shiftrightunsigned(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    agg = tokens.groupBy(id_col).agg(*votes)
    bit_cols = [
        F.when(
            F.col(f"v{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        for i in range(bits)
    ]
    sig = agg.select(
        F.col(id_col),
        reduce(lambda a, b: a.bitwiseOR(b), bit_cols).alias("simhash"),
    )
    return sig


def banded_hamming_pairs(
    sig: DataFrame,
    id_col: str,
    hash_col: str,
    n_blocks: int,
    block_bits: int,
    max_hamming: int,
) -> DataFrame:
    """Generic pigeonhole-banded Hamming join over any 64-bit signature
    column: ``<= n_blocks - 1`` differing bits guarantee at least one
    equal block, so candidates come from ``n_blocks`` equi-joins on
    (block index, block value) and ``bit_count(xor)`` is the exact
    residual. Serves SimHash (4x16), image pHash and audio fingerprints
    (8x8). NULL signatures (undecodable items) are dropped; returns
    ``(id_a, id_b, hamming)`` with ``id_a < id_b``, distinct."""
    if not 0 <= max_hamming <= n_blocks - 1:
        raise ValueError(
            f"{n_blocks}-block pigeonhole guarantees max_hamming <= "
            f"{n_blocks - 1}, got {max_hamming}"
        )
    sig = sig.filter(F.col(hash_col).isNotNull())
    mask = (1 << block_bits) - 1
    blocks = [
        F.shiftrightunsigned(F.col(hash_col), block_bits * b)
        .bitwiseAND(F.lit(mask))
        .alias(f"blk_{b}")
        for b in range(n_blocks)
    ]
    b_df = sig.select(id_col, hash_col, *blocks)
    out = None
    for b in range(n_blocks):
        a = b_df.alias("a")
        c = b_df.alias("b")
        p = a.join(
            c,
            on=(
                (F.col(f"a.blk_{b}") == F.col(f"b.blk_{b}"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            ),
        ).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col(f"a.{hash_col}").bitwiseXOR(F.col(f"b.{hash_col}"))
            ).alias("hamming"),
        )
        out = p if out is None else out.unionByName(p)
    return out.filter(F.col("hamming") <= max_hamming).dropDuplicates(
        ["id_a", "id_b"]
    )


def simhash_near_pairs(sig: DataFrame, id_col: str, max_hamming: int = 3) -> DataFrame:
    """Candidate pairs within a Hamming radius via 4-block banding
    (pigeonhole: ≤3 differing bits ⇒ at least one 16-bit block equal) —
    equi-join per block, exact Hamming residual via bit_count(xor)."""
    return banded_hamming_pairs(
        sig, id_col, "simhash", n_blocks=4, block_bits=16,
        max_hamming=max_hamming,
    )


# ------------------------------- portable-hash variants (oracle-checkable)
#
# xxhash64 is Spark-only; these variants derive every hash from md5 hex
# (the one digest Spark and DuckDB share), so MinHash and SimHash
# signatures are bit-for-bit reproducible outside Spark — the audit path
# for cross-engine pipelines. ~2-3x the hash cost of xxhash64: keep the
# xxhash64 paths for production scale, use portable mode to certify.


def portable_hash32(s: Column) -> Column:
    """32-bit integer hash from the first 8 md5 hex chars.

    DuckDB twin: ``CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT)``.
    """
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint")


def minhash_signatures_portable(
    df: DataFrame, id_col: str, text_col: str, n_hashes: int = 16, shingle: int = 3
) -> DataFrame:
    """MinHash signature from salted portable hashes (seed-salted md5
    instead of seeded xxhash64); shingling identical to
    minhash_signatures."""
    tokens = F.split(F.col(text_col), " ")
    n = F.greatest(F.size(tokens) - (shingle - 1), F.lit(1))
    shingles = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, shingle)),
    )
    def salted(seed: int):
        # NB: must stay a ONE-arg lambda — F.transform hands a second
        # positional arg (the element index) to two-arg callables, so a
        # `s=seed` default would silently receive the index instead
        return lambda t: portable_hash32(F.concat(F.lit(f"{seed}:"), t))

    cols = [
        F.array_min(F.transform(shingles, salted(seed))).alias(f"mh_{seed}")
        for seed in range(n_hashes)
    ]
    return df.select(F.col(id_col), *cols)


def simhash32_portable(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit SimHash from portable token hashes — same vote/sign
    construction as simhash(); cross-engine reproducible."""
    from functools import reduce

    bits = 32
    tokens = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).withColumn("h", portable_hash32(F.col("tok")))
    votes = [
        F.sum(
            F.when(F.shiftrightunsigned(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    agg = tokens.groupBy(id_col).agg(*votes)
    bit_cols = [
        F.when(
            F.col(f"v{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
        ).otherwise(F.lit(0).cast("long"))
        for i in range(bits)
    ]
    return agg.select(
        F.col(id_col),
        reduce(lambda a, b: a.bitwiseOR(b), bit_cols).alias("simhash32"),
    )


# ---------------------------------------- near-dup: fuzzy string matching


def passjoin_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 2,
    hot_block_threshold: int = 256,
    max_salts: int = 256,
) -> DataFrame:
    """All pairs within Levenshtein distance ``max_dist`` (any lengths),
    via PassJoin-style segment blocking (Li, Deng, Feng: "PassJoin: a
    partition-based method for similarity joins", PVLDB 2011) — the
    d >= 2 answer that ``fuzzy_pairs`` (equal-length d=1 pigeonhole)
    explicitly refuses.

    Losslessness: partition the SHORTER string r of a pair into
    k = max_dist+1 segments. With ed(s, r) <= max_dist, at most
    max_dist edits touch r, so by pigeonhole one segment survives
    UNEDITED and appears in s as an exact substring; each edit shifts
    alignment by at most one position, so that substring starts within
    ±max_dist of the segment's own position. The probe side therefore
    enumerates, per string s, every substring that could be segment i
    of a partner of length l_r ∈ [len(s)-max_dist, len(s)] at start
    positions p_i ± max_dist — a CONSTANT fan-out per row (≤ (τ+1)²·
    (2τ+1) probe rows; 45 for τ=2), not a cross product. Equi-join on
    (partner length, segment index, segment text), then an exact
    thresholded levenshtein residual.

    Scale shape: one equi-join keyed by (l_r, i, seg). Degenerate
    shared prefixes (every TPC-H customer name starts "Customer#0")
    produce hot segment blocks; blocks whose INDEX side exceeds
    ``hot_block_threshold`` are split into s salt groups (small
    broadcast list of hot keys — bounded by n/threshold entries) and
    the probe side replicates across the s groups, distributing the
    inherent m·m' residual work across the cluster. The residual uses
    the thresholded ``levenshtein(a, b, τ)`` form: O(τ·len) per
    candidate with early exit, not the full O(len²) DP.
    """
    k = max_dist + 1
    tau = max_dist
    length = F.length(F.col(text_col))

    def seg_len(l, i):  # noqa: E741
        base, rem = (l / k).cast("int"), F.pmod(l, k)
        return base + F.when(i >= (k - rem), 1).otherwise(0)

    def seg_start(l, i):  # 1-based  # noqa: E741
        base, rem = (l / k).cast("int"), F.pmod(l, k)
        return 1 + i * base + F.greatest(i - (k - rem), F.lit(0))

    idx = df.select(
        F.col(id_col),
        F.col(text_col).alias("__t"),
        length.alias("__lr"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(k - 1)),
                lambda i: F.struct(
                    i.alias("i"),
                    F.substring(
                        F.col(text_col), seg_start(length, i), seg_len(length, i)
                    ).alias("seg"),
                ),
            )
        ).alias("__s"),
    ).select(id_col, "__t", "__lr", F.col("__s.i").alias("__i"), F.col("__s.seg").alias("__seg"))

    # probe: partner (indexed) lengths l_r <= len(s) only — the pair is
    # found with the SHORTER string as the partitioned side; the final
    # least/greatest canonicalization restores unordered pairs.
    def probe_structs(text, l):  # noqa: E741
        def per_len(lr):
            def per_seg(i):
                sl, sp = seg_len(lr, i), seg_start(lr, i)
                lo = F.greatest(sp - tau, F.lit(1))
                hi = F.least(sp + tau, l - sl + 1)
                return F.when(
                    hi >= lo,
                    F.transform(
                        F.sequence(lo, hi),
                        lambda q: F.struct(
                            lr.alias("lr"),
                            i.alias("i"),
                            F.substring(text, q, sl).alias("seg"),
                        ),
                    ),
                ).otherwise(F.array())

            return F.flatten(F.transform(F.sequence(F.lit(0), F.lit(k - 1)), per_seg))

        return F.flatten(
            F.transform(F.sequence(F.greatest(l - tau, F.lit(0)), l), per_len)
        )

    prb = df.select(
        F.col(id_col),
        F.col(text_col).alias("__t"),
        F.explode(probe_structs(F.col(text_col), length)).alias("__p"),
    ).select(
        id_col,
        "__t",
        F.col("__p.lr").alias("__lr"),
        F.col("__p.i").alias("__i"),
        F.col("__p.seg").alias("__seg"),
    ).dropDuplicates([id_col, "__lr", "__i", "__seg"])

    # hot-block handling: salt the index side of any (l_r, i, seg) block
    # bigger than the threshold; replicate probe rows across the salts.
    # The hot list is tiny (≤ n_index_rows/threshold) → broadcast join.
    hot = (
        idx.groupBy("__lr", "__i", "__seg")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > hot_block_threshold)
        .select(
            "__lr",
            "__i",
            "__seg",
            F.least(
                F.ceil(F.col("__n") / hot_block_threshold), F.lit(max_salts)
            ).cast("int").alias("__ns"),
        )
    )
    keys = ["__lr", "__i", "__seg"]
    idx_s = (
        idx.join(F.broadcast(hot), on=keys, how="left")
        .withColumn("__ns", F.coalesce(F.col("__ns"), F.lit(1)))
        .withColumn("__g", F.pmod(F.xxhash64(F.col(id_col)), F.col("__ns")).cast("int"))
    )
    prb_s = (
        prb.join(F.broadcast(hot), on=keys, how="left")
        .withColumn("__ns", F.coalesce(F.col("__ns"), F.lit(1)))
        .withColumn("__g", F.explode(F.sequence(F.lit(0), F.col("__ns") - 1)))
    )
    a, b = idx_s.alias("a"), prb_s.alias("b")
    cand = a.join(
        b,
        on=(
            (F.col("a.__lr") == F.col("b.__lr"))
            & (F.col("a.__i") == F.col("b.__i"))
            & (F.col("a.__seg") == F.col("b.__seg"))
            & (F.col("a.__g") == F.col("b.__g"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        ),
    ).select(
        F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
        F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
        # thresholded form: -1 when the distance exceeds tau (early exit)
        F.levenshtein(F.col("a.__t"), F.col("b.__t"), tau).alias("dist"),
    )
    return (
        cand.filter(F.col("dist") >= 0).dropDuplicates(["id_a", "id_b"])
    )


def fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 1,
    hot_block_threshold: int = 128,
    max_salts: int = 256,
) -> DataFrame:
    """Equal-length string pairs within Levenshtein distance 1, via
    lossless pigeonhole blocking — the record-linkage primitive
    (near-identical names/titles/urls differing in one character).

    Why the blocking is exact, not approximate: two EQUAL-LENGTH
    strings with Levenshtein ≤ 1 are identical or differ in exactly one
    substitution (any single indel would change the length), so
    splitting both into two halves guarantees one half is identical
    (pigeonhole). Equi-joining on (length, half index, half value)
    therefore finds EVERY qualifying pair; the exact
    ``levenshtein() <= 1`` residual discards false candidates.
    Same-length-only semantics are part of the operator contract.

    ``max_dist`` must be 1: for d ≥ 2 an insertion+deletion pair keeps
    the length but SHIFTS every chunk, so positional chunk blocking is
    no longer lossless (unit-test-demonstrated). Radius ≥ 2 needs
    substring-seed blocking with a position-shift window — that is
    ``passjoin_pairs`` above (PassJoin family), which also handles
    unequal lengths; use minhash/simhash for still-larger radii.

    Scale shape: the join is an equi-join on (length, chunk index,
    chunk text) — shuffle-partitioned by block, never a cross product.
    The residual runs on the COMPLEMENTARY half only: with one half
    equal and lengths equal, lev(full) ≤ 1 ⇔ lev(other half) ≤ 1 and
    the distances coincide in that range — half-length levenshtein is
    ~4× cheaper (O(L²) DP), which matters in hot blocks.

    Hot-block salting: a chunk value shared by a huge cluster (a common
    name prefix — the classic LSH hot-bucket problem) funnels m² pair
    candidates through ONE join key, serializing the stage. Blocks
    larger than ``hot_block_threshold`` are split into
    ``s = ceil(size / threshold)`` salt groups (deterministic hash of
    the complement half + id, capped at ``max_salts``), and the m²
    candidate grid is tiled into s·(s+1)/2 triangle cells — row with
    salt g joins as the LEFT side of cells (g, j≥g) and the RIGHT side
    of cells (i≤g, g), so every unordered salt pair lands in exactly
    one cell and the pair set is EXACTLY the unsalted one (equivalence
    proven in tests against the brute-force oracle). Quadratic WORK is
    inherent to the pair semantics; salting distributes it across the
    cluster instead of one task. Cold blocks get s = 1 — a single cell,
    zero row inflation.
    """
    if max_dist != 1:
        raise ValueError(
            "fuzzy_pairs supports max_dist=1 only: positional chunk "
            "blocking is not lossless for Levenshtein >= 2 (indel pairs "
            "shift chunks); use passjoin_pairs for d >= 2"
        )
    n_chunks = max_dist + 1
    length = F.length(F.col(text_col))
    half = F.floor(length / n_chunks).cast("int")
    # chunk 0 = first half, chunk 1 = second half (1-based substr);
    # each row carries its block half (cv) AND the complement (ov) so
    # the residual never touches the full string.
    first = F.substring(F.col(text_col), F.lit(1), half)
    second = F.substring(F.col(text_col), half + 1, length.cast("int"))
    chunks = F.array(
        F.struct(F.lit(0).alias("ci"), first.alias("cv"), second.alias("ov")),
        F.struct(F.lit(1).alias("ci"), second.alias("cv"), first.alias("ov")),
    )
    blocked = df.select(
        F.col(id_col), length.alias("__len"), F.explode(chunks).alias("__c")
    ).select(
        id_col,
        "__len",
        F.col("__c.ci").alias("__ci"),
        F.col("__c.cv").alias("__cv"),
        F.col("__c.ov").alias("__ov"),
    )
    # per-block salt count: 1 for cold blocks (no inflation), size/N
    # salt groups for hot ones. The count is one shuffle of m ROWS per
    # block (not m² pairs) on the same key the join uses.
    block_w = Window.partitionBy("__len", "__ci", "__cv")
    salted = (
        blocked.withColumn("__bs", F.count(F.lit(1)).over(block_w))
        .withColumn(
            "__s",
            F.least(
                F.ceil(F.col("__bs") / F.lit(hot_block_threshold)),
                F.lit(max_salts),
            ).cast("int"),
        )
        .withColumn(
            "__g",
            F.pmod(F.xxhash64(F.col("__ov"), F.col(id_col)), F.col("__s")).cast(
                "int"
            ),
        )
        .drop("__bs")
    )
    # triangle tiling: left covers cells (g, j >= g), right covers
    # cells (i <= g, g); an unordered salt pair {ga, gb} meets in
    # exactly the cell (min, max).
    a = salted.withColumn(
        "__j", F.explode(F.sequence(F.col("__g"), F.col("__s") - 1))
    ).withColumnRenamed("__g", "__i").alias("a")
    b = salted.withColumn(
        "__i", F.explode(F.sequence(F.lit(0), F.col("__g")))
    ).withColumnRenamed("__g", "__j").alias("b")
    # A pair meets in cell (min salt, max salt) with SIDES FIXED by
    # salt (left = smaller salt), so ids can arrive in either order:
    # canonicalize with least/greatest. Diagonal cells (i == j) hold
    # both orientations — keep id< there to halve candidates and drop
    # self-pairs; off-diagonal sides are disjoint salt groups, so no
    # self-pairs exist and every pair appears exactly once.
    diag = F.col("a.__i") == F.col("a.__j")
    cand = a.join(
        b,
        on=(
            (F.col("a.__len") == F.col("b.__len"))
            & (F.col("a.__ci") == F.col("b.__ci"))
            & (F.col("a.__cv") == F.col("b.__cv"))
            & (F.col("a.__i") == F.col("b.__i"))
            & (F.col("a.__j") == F.col("b.__j"))
            & F.when(
                diag, F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
            ).otherwise(F.lit(True))
        ),
    ).select(
        F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
        F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
        # one half equal + equal length ⇒ lev(full) == lev(complement)
        # whenever either is <= 1 (a single substitution lives entirely
        # in the complementary half)
        F.levenshtein(F.col("a.__ov"), F.col("b.__ov")).alias("dist"),
    )
    return cand.filter(F.col("dist") <= max_dist).dropDuplicates(["id_a", "id_b"])


def bloom_bitmap(
    store: DataFrame,
    key_col: str,
    n_bits_log2: int = 15,
    n_hashes: int = 4,
) -> list[int]:
    """Distributed Bloom-filter build over a key column: each key sets
    ``n_hashes`` bit positions (xxhash64 with per-probe seeds mod
    2^n_bits_log2); positions aggregate CLUSTER-SIDE into 64-bit words
    via one bit_or shuffle keyed by word index, and only the
    2^n_bits_log2 / 64 words reach the driver — the collect is bounded
    by the FILTER's sizing, never the store's cardinality (the
    IVF-centroid bounded-collect contract).

    This is the same design Spark's own InjectRuntimeFilter uses for
    shuffle pruning (BloomFilterAggregate → filter bytes shipped into
    the probe side's plan as a literal); that aggregate isn't in the
    public FunctionRegistry, so the build here is plain DataFrame ops.
    """
    if n_hashes < 1:
        raise ValueError("n_hashes must be >= 1")
    nb = 1 << n_bits_log2
    pos_cols = [
        F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(nb))
        for i in range(n_hashes)
    ]
    words = (
        store.select(F.explode(F.array(*pos_cols)).alias("pos"))
        .select(
            (F.col("pos") / 64).cast("int").alias("w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"
            ).alias("bit"),
        )
        .groupBy("w")
        .agg(F.bit_or("bit").alias("word"))
        .collect()
    )
    wmap = {r["w"]: r["word"] for r in words}
    return [wmap.get(i, 0) for i in range(nb // 64)]


def bloom_prefilter_anti_join(
    new: DataFrame,
    store: DataFrame,
    key_col: str,
    n_bits_log2: int = 15,
    n_hashes: int = 4,
) -> DataFrame:
    """EXACT anti-join with a Bloom prefilter — the 100 TB shape of
    incremental-ingest dedup (K15): rows of ``new`` whose key the
    filter rejects are DEFINITELY absent from the store (a Bloom
    filter has no false negatives) and skip the join entirely; only
    the "maybe" rows — true duplicates plus the fpp sliver — are
    verified by the exact left-anti join. Output is byte-identical to
    the plain anti-join for every sizing, which is exactly what the
    oracle and the equivalence pytest check.

    Scale shape: build = one word-keyed bit_or shuffle + a
    filter-sized collect; probe = a pure projection against the
    bitmap literal (n_hashes xxhash64 + array lookups per row, zero
    shuffles); the residual anti-join runs on the maybe-fraction of
    the batch instead of all of it — at a 0.5% fpp that is the
    duplicate rate plus noise. Filter bytes ride in the plan exactly
    like Spark's runtime bloom filters; beyond literal-friendly sizes
    (~2^27 bits) the store shards the filter by key prefix and each
    shard prunes its own partition."""
    nb = 1 << n_bits_log2
    bitmap = bloom_bitmap(store, key_col, n_bits_log2, n_hashes)
    # ONE SQL-string literal for the 2^n/64-word bitmap instead of
    # per-element F.lit calls (the centroid-table treatment, guide
    # §7.3 driver-side cost: ~512 py4j round-trips per build measured
    # as the dominant REBUILD cost of this row, r16). String→BIGINT
    # cast is exact for every int64, including the sign-bit words a
    # bare ...L literal could not express.
    arr = F.expr(
        "array(%s)"
        % ",".join(f"CAST('{int(wd)}' AS BIGINT)" for wd in bitmap)
    )
    # probe as ONE forall over the n_hashes positions so the bitmap
    # array literal appears exactly ONCE in the plan (the per-hash
    # loop embedded a copy per probe — 4×512 literal nodes for the
    # analyzer to walk); same AND-of-bit-tests result. column-API
    # (not string SQL) so key_col names that need backquoting —
    # spaces, dots, hyphens — still parse; call_function because
    # F.shiftleft only takes a literal int.
    positions = F.array(
        *[
            F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(nb))
            for i in range(n_hashes)
        ]
    )
    maybe = F.forall(
        positions,
        lambda p: F.element_at(arr, (p / 64).cast("int") + 1).bitwiseAND(
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
            )
        )
        != 0,
    )
    flagged = new.withColumn("__maybe", maybe)
    definite = flagged.filter(~F.col("__maybe")).drop("__maybe")
    suspects = flagged.filter(F.col("__maybe")).drop("__maybe")
    verified = suspects.join(
        store.select(key_col).distinct(), key_col, "left_anti"
    )
    return definite.unionByName(verified)


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold_pct: int = 90,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: (inner, outer) pairs where
    >= ``threshold_pct``% of the inner doc's DISTINCT tokens appear in
    the outer doc — Jaccard CONTAINMENT |A∩B|/|A|, the measure that
    catches quote-inclusion, boilerplate-supersets, and truncated
    re-crawls, all of which symmetric Jaccard dilutes below any usable
    threshold when |B| >> |A|.

    Decision is pure integer (100*common >= pct*|A|): no float
    boundary can flip a pair. Same inverted-index shape as the exact-
    Jaccard path — explode distinct tokens, equi-join on
    (block, token), count — never an all-pairs scan; ``block_col``
    bounds candidates (source/domain/shard). Emitted containment is
    fixed-point 1e-4 ((10000*common) div |A|). At 100 TB swap the
    exact index for the K14 prefix-filter (ssjoin) candidates; the
    skew knob is dropping top-DF tokens from the index side, which
    only lowers recall of the CANDIDATE stage, never flips the final
    integer test."""
    t = df.select(
        F.col(id_col).alias("id"),
        F.col(block_col).alias("block"),
        F.array_distinct(F.split(F.col(text_col), " ")).alias("toks"),
    )
    e = t.select(
        "id", "block", F.size("toks").alias("n_toks"),
        F.explode("toks").alias("tok"),
    )
    a, b = e.alias("a"), e.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("inner_id"),
            F.col("b.id").alias("outer_id"),
            F.col("a.n_toks").alias("n_inner"),
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return pairs.where(
        F.lit(100) * F.col("common") >= F.lit(threshold_pct) * F.col("n_inner")
    ).select(
        "inner_id",
        "outer_id",
        F.col("common").cast("bigint").alias("common"),
        F.col("n_inner").cast("bigint").alias("n_inner"),
        F.expr("CAST(10000 * common AS BIGINT) div n_inner").alias(
            "containment_e4"
        ),
    )


def temporal_dedup(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    id_col: str,
    window_us: int,
) -> DataFrame:
    """Suppress repeats within a trailing time window per key — the
    retry/bounce/double-click deduper. Rows group into gap-separated
    BURSTS (a new burst starts when the gap from the previous row
    exceeds the window — the sessionize trick); within a burst one row
    survives per ``window_us``-wide slot measured from the burst's
    first row, so a steady sub-window drizzle collapses to one row per
    window instead of surviving whole or vanishing after its first
    row. Equivalent to the sequential anchor-on-last-survivor rule
    whenever intra-burst gaps stay below the window (the drizzle case
    this operator exists for) — and unlike that sequential rule it is
    oracle-expressible and evaluated in parallel window passes.

    Deterministic: ordering (ts, id), slot ties keep the smallest id.
    ONE shuffle on the key; the burst id is a cumulative sum over gap
    flags, slot selection one more bounded window pass.
    """
    from pyspark.sql import Window

    from jane_spark.functions.time import ntz_epoch_us

    if window_us < 1:
        raise ValueError("window_us must be >= 1")
    base = df.withColumn("__us", ntz_epoch_us(F.col(ts_col)).cast("long"))
    order = [F.col("__us").asc(), F.col(id_col).asc()]
    w = Window.partitionBy(*keys).orderBy(*order)
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    # ONE partitioning serves everything: the burst flag via lag, the
    # burst START carried forward by an ignore-nulls last over the
    # cumulative frame (no (keys, burst)-partitioned second exchange),
    # the slot by integer division, and the survivor test by comparing
    # each row's slot to the previous row's (a slot can only repeat
    # within a burst, and a new burst always survives)
    flagged = base.withColumn(
        "__nb",
        F.coalesce(
            F.col("__us") - F.lag("__us").over(w) > window_us, F.lit(True)
        ),
    )
    slotted = flagged.withColumn(
        "__b0",
        F.last(F.when(F.col("__nb"), F.col("__us")), ignorenulls=True).over(
            wcum
        ),
    ).withColumn("__slot", F.expr(f"(__us - __b0) div {window_us}"))
    survived = slotted.withColumn(
        "__keep",
        F.col("__nb") | (F.col("__slot") != F.lag("__slot").over(w)),
    )
    return survived.where(F.col("__keep")).drop(
        "__us", "__nb", "__b0", "__slot", "__keep"
    )


def containment_dedup_increment(
    new: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str,
    threshold_pct: int = 90,
) -> DataFrame:
    """Incremental-crawl NEAR-dup gate, the fuzzy sibling of the K15
    exact anti-join: a NEW document is dropped when >=
    ``threshold_pct``% of its distinct tokens are contained in some
    EXISTING corpus document (same block) — truncated re-crawls,
    quote-wrapped reposts and boilerplate re-skins of content the
    store already has, which exact hashing misses entirely.

    Same inverted-index shape as ``containment_pairs`` but CROSS-
    table: the new batch's token index equi-joins the corpus index on
    (block, token); candidates are bounded by block co-occurrence,
    never |new| x |corpus|. Pure-integer verdict. Emits every new doc:
    ``(id, n_toks, best_common, is_dup)`` — best_common = the largest
    overlap any single corpus doc achieves (0 when no candidate).
    """
    def _index(df: DataFrame, side: str) -> DataFrame:
        t = df.select(
            F.col(id_col).alias(f"{side}_id"),
            F.col(block_col).alias("block"),
            F.array_distinct(F.split(F.col(text_col), " ")).alias("toks"),
        )
        return t.select(
            f"{side}_id",
            "block",
            F.size("toks").alias(f"{side}_n"),
            F.explode("toks").alias("tok"),
        )

    a = _index(new, "new")
    b = _index(corpus, "old")
    overlap = (
        a.join(b, ["block", "tok"])
        .groupBy("new_id", "new_n", "old_id")
        .agg(F.count(F.lit(1)).alias("common"))
        .groupBy("new_id", "new_n")
        .agg(F.max("common").alias("best_common"))
    )
    ids = new.select(
        F.col(id_col).alias("new_id"),
        F.size(F.array_distinct(F.split(F.col(text_col), " "))).alias(
            "new_n"
        ),
    )
    return ids.join(overlap, ["new_id", "new_n"], "left").select(
        F.col("new_id").alias("id"),
        F.col("new_n").cast("bigint").alias("n_toks"),
        F.coalesce(F.col("best_common"), F.lit(0))
        .cast("bigint")
        .alias("best_common"),
        (
            100 * F.coalesce(F.col("best_common"), F.lit(0))
            >= threshold_pct * F.col("new_n")
        ).alias("is_dup"),
    )


def bbit_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    b: int = 2,
    shingle: int = 3,
) -> DataFrame:
    """b-BIT MinHash (Li & König, WWW 2010 — "b-Bit Minwise
    Hashing"): keep only the lowest ``b`` bits of each of the k
    minhash values and PACK the signature into one BIGINT — here
    16 hashes × 2 bits = 32 bits per document instead of 16 × 32 =
    512 (a 16× storage/bandwidth cut, the paper's point: at b=2 you
    re-spend a little variance for an order-of-magnitude smaller
    sketch, and the loss is a CLOSED-FORM collision rate you correct
    for, not a bias). Emits ``(id, bsig)``; feed pairs to
    :func:`bbit_jaccard_topk` for the corrected estimate.

    Pure projection over the portable minhash columns — no shuffle,
    no Python; k·b must fit a BIGINT (≤ 63)."""
    if b < 1 or n_hashes * b > 63:
        raise ValueError("need 1 <= b and n_hashes*b <= 63")
    sigs = minhash_signatures_portable(
        df, id_col, text_col, n_hashes, shingle
    )
    mask = (1 << b) - 1
    packed = None
    for seed in range(n_hashes):
        piece = F.shiftleft(
            F.col(f"mh_{seed}").bitwiseAND(F.lit(mask)).cast("long"),
            seed * b,
        )
        packed = piece if packed is None else packed.bitwiseOR(piece)
    return sigs.select(F.col(id_col), packed.alias("bsig"))


def bbit_jaccard_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    b: int = 2,
    shingle: int = 3,
    probe_mod: int = 100,
    k_top: int = 10,
) -> DataFrame:
    """Top-k near-duplicates per probe document from b-bit signatures
    alone: matched slot count via ONE XOR + k masked zero-tests on
    the packed BIGINTs (never touching text or full signatures), and
    the Li-König collision-corrected Jaccard estimate as the exact
    integer rational

        jac_e4 = max(matched·2^b − k, 0) · 10^4  div  k·(2^b − 1)

    (from (m̂ − C)/(1 − C) with C = 1/2^b — the expected collision
    rate of unequal minhashes' low bits). Probes = ids ≡ 0 mod
    ``probe_mod``; output (a_id, b_id, matched, jac_e4, rk) bounded
    to k_top per probe. Scale shape: the probe side broadcasts (it
    is 1/probe_mod of the corpus); production pushes the same XOR
    arithmetic through an LSH-banded equi-join instead — this
    surface certifies the ESTIMATOR."""
    from jane_spark.operators.topk import top_k_per_group

    sigs = bbit_minhash(df, id_col, text_col, n_hashes, b, shingle)
    mask = (1 << b) - 1
    a = sigs.filter((F.col(id_col) % probe_mod) == 0).select(
        F.col(id_col).alias("a_id"), F.col("bsig").alias("a_sig")
    )
    bb = sigs.select(
        F.col(id_col).alias("b_id"), F.col("bsig").alias("b_sig")
    )
    x = F.col("a_sig").bitwiseXOR(F.col("b_sig"))
    matched = None
    for i in range(n_hashes):
        t = F.when(
            F.shiftrightunsigned(x, i * b).bitwiseAND(F.lit(mask)) == 0, 1
        ).otherwise(0)
        matched = t if matched is None else matched + t
    k, twob = n_hashes, 1 << b
    est = (
        F.broadcast(a)
        .crossJoin(bb)
        .filter(F.col("a_id") != F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            matched.cast("bigint").alias("matched"),
        )
        .withColumn(
            "jac_e4",
            F.expr(
                f"(greatest(matched * {twob} - {k}, 0) * 10000) "
                f"div {k * (twob - 1)}"
            ).cast("bigint"),
        )
    )
    return top_k_per_group(
        est,
        ["a_id"],
        [F.col("matched").desc(), F.col("b_id").asc()],
        k_top,
    ).withColumnRenamed("rn", "rk").withColumn(
        "rk", F.col("rk").cast("bigint")
    )


# ------------------------------------------ near-dup: WEIGHTED minhash


def icws_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    salt: str = "icws:",
) -> DataFrame:
    """ICWS weighted MinHash (Ioffe, ICDM 2010 — "Improved Consistent
    Sampling, Weighted Minhash and L1 Sketching"): the tf-WEIGHTED
    member of the K2/K51 sketch family. Plain MinHash treats a
    document as a SET, so "the the the spam spam" and one "the spam"
    collide identically; ICWS samples token k with probability
    w_k / Σw (its term frequency share) while staying CONSISTENT —
    the same (token, level) sample is drawn for the same token
    whatever document it appears in — so

        P[sig_A(t) == sig_B(t)]  =  Σ_k min(a_k, b_k) / Σ_k max(a_k, b_k)

    the WEIGHTED Jaccard similarity, per hash slot.

    The sampling replays Ioffe's closed form per (token, hash):
    r, c ~ Gamma(2,1), β ~ U(0,1), all md5-derived from
    (salt, hash, draw, token) — the D29/A-Res portability discipline
    (Gamma(2,1) = −ln(u·u′) of two independent uniforms). Then with
    integer tf w ≥ 1::

        t_k  = ⌊ ln(w)/r + β ⌋                (the quantized level)
        ln a = ln(c) − r·(t_k − β) − r        (log-domain: no exp)

    and the slot's sample is the argmin_k of ln a (ties by token —
    unreachable: bit-equal ln a needs equal md5 draws). Float
    exposure, stated exactly (ADVICE r14): the emitted surface is
    discrete — ``(id, hash_idx, token, t_k)`` — but BOTH discrete
    outputs sit on libm: the argmin over the ln-chain key is
    ORDER-only (the D29 rule), and **t_k itself is a floor over a
    libm expression**, so a JVM ``Math.log`` vs libm ulp difference
    at a floor boundary would flip an emitted t_k, not just an
    ordering. Neither admits an integer-rational reformulation (the
    ln of a uniform has no exact rational twin), so the posture is
    measured margins, pytest-probed on the fixture for BOTH
    exposures: the floor-boundary distance of ln(w)/r + β over every
    (token, slot), and the winner/runner-up argmin gap — each must
    dwarf the ~1e-15 relative cross-libm ulp of the chain. Exact
    ties in ln a are broken by the token string itself (identical in
    any engine), so a bit-equal tie is a non-event, never a hash
    risk.

    Plan: one tf aggregate (the only data shuffle), one
    hash-explode projection, one per-(id, hash) rank window. 100 TB
    shape: parameters are pure expressions of (token, hash) — no
    parameter table, no join, no RNG state; sketch size = n_hashes
    rows per document."""
    if n_hashes < 1:
        raise ValueError("n_hashes must be >= 1")
    from pyspark.sql import Window

    tf = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.col(text_col), " ")).alias("token"),
        )
        .filter(F.col("token") != "")
        .groupBy("id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    ex = tf.withColumn(
        "hash_idx",
        F.explode(F.sequence(F.lit(0), F.lit(n_hashes - 1))),
    )

    # the (r, c, β) draws are pure expressions of (token, hash_idx) —
    # Ioffe's CONSISTENCY property — computed inline per (id, token,
    # hash) row. A vocabulary-table broadcast-join twin was A/B'd in
    # the r15 optimization round and REVERTED: it added a distinct
    # shuffle + a per-execution broadcast build, doubled the tf
    # subtree under this function's self-join consumers (24 parquet
    # scans vs 16 in q_k53's plan), measured no faster at sf0.1, and
    # at 100 TB a corpus-wide vocabulary is not driver-broadcastable
    # anyway — the md5 chain is embarrassingly parallel map work,
    # which scales; a driver-sized parameter table does not.
    def u(i: int) -> Column:
        h = portable_hash32(
            F.concat(
                F.lit(salt),
                F.col("hash_idx").cast("string"),
                F.lit(f":{i}:"),
                F.col("token"),
            )
        )
        return (h + F.lit(1)) / F.lit(4294967296.0)

    r = -F.log(u(1) * u(2))
    c = -F.log(u(3) * u(4))
    beta = u(5)
    tk = F.floor(F.log(F.col("w").cast("double")) / r + beta)
    ln_a = F.log(c) - r * (tk.cast("double") - beta) - r
    scored = ex.select(
        "id",
        "hash_idx",
        "token",
        tk.cast("bigint").alias("tk"),
        ln_a.alias("__lna"),
    )
    # argmin as min(struct(lna, token, tk)) instead of a row_number
    # window: struct ordering is field-lexicographic, so the winner is
    # the same (lna asc, token asc) row the window picked — but a
    # groupBy aggregate gets map-side PARTIAL aggregation (guide §2.3
    # "aggregate before you shuffle"): the shuffle carries one
    # candidate per (id, hash_idx) per map partition instead of every
    # (id, token, hash) row into a full sort.
    return (
        scored.groupBy("id", "hash_idx")
        .agg(F.min(F.struct("__lna", "token", "tk")).alias("__w"))
        .select(
            "id", "hash_idx", F.col("__w.token").alias("token"),
            F.col("__w.tk").alias("tk"),
        )
    )


def icws_weighted_neardup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    min_collisions: int = 2,
    salt: str = "icws:",
) -> DataFrame:
    """Weighted near-duplicate candidates from ICWS sketches, each
    pair carrying its EXACT weighted Jaccard as an integer rational:
    candidates = pairs whose signatures collide in >=
    ``min_collisions`` of ``n_hashes`` slots (ONE equi-join on the
    discrete sample (hash_idx, token, t_k) — the LSH-band shape, no
    cross product); verification = Σ_k min(tf_a, tf_b) over an
    equi-join on token for candidate pairs only, with
    Σ max = W_a + W_b − Σ min from per-doc totals (no second join).
    Emits ``(a_id, b_id, n_coll, jw_num, jw_den)`` — all integers,
    E[n_coll / n_hashes] = jw_num / jw_den (Ioffe's theorem; pinned
    by pytest at higher n_hashes).

    Scale: the candidate join keys on the sketch sample — collision
    lists are the buckets; the verify join touches candidate pairs'
    tokens only. The quadratic all-pairs path exists nowhere."""
    if not (1 <= min_collisions <= n_hashes):
        raise ValueError(
            f"min_collisions must be in [1, n_hashes={n_hashes}]: below 1 "
            "the threshold admits non-colliding pairs the candidate join "
            "never produces; above n_hashes nothing can qualify"
        )
    sigs = icws_signatures(df, id_col, text_col, n_hashes, salt)
    cand = (
        sigs.alias("sa")
        .join(
            sigs.alias("sb"),
            ["hash_idx", "token", "tk"],
        )
        .filter(F.col("sa.id") < F.col("sb.id"))
        .select(
            F.col("sa.id").alias("a_id"), F.col("sb.id").alias("b_id")
        )
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_coll"))
        .filter(F.col("n_coll") >= min_collisions)
    )
    tf = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(F.split(F.col(text_col), " ")).alias("token"),
        )
        .filter(F.col("token") != "")
        .groupBy("id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    totals = tf.groupBy("id").agg(F.sum("w").alias("wt"))
    common = (
        cand.join(
            tf.select(
                F.col("id").alias("a_id"),
                "token",
                F.col("w").alias("wa"),
            ),
            "a_id",
        )
        .join(
            tf.select(
                F.col("id").alias("b_id"),
                "token",
                F.col("w").alias("wb"),
            ),
            ["b_id", "token"],
        )
        .groupBy("a_id", "b_id")
        .agg(F.sum(F.least("wa", "wb")).cast("bigint").alias("jw_num"))
    )
    return (
        cand.join(common, ["a_id", "b_id"], "left")
        .join(
            totals.select(F.col("id").alias("a_id"), F.col("wt").alias("wta")),
            "a_id",
        )
        .join(
            totals.select(F.col("id").alias("b_id"), F.col("wt").alias("wtb")),
            "b_id",
        )
        .select(
            "a_id",
            "b_id",
            "n_coll",
            F.coalesce(F.col("jw_num"), F.lit(0)).cast("bigint").alias(
                "jw_num"
            ),
            (
                F.col("wta") + F.col("wtb")
                - F.coalesce(F.col("jw_num"), F.lit(0))
            ).cast("bigint").alias("jw_den"),
        )
    )
