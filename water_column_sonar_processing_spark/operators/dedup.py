"""Deduplication operators for large-scale training-data pipelines.

Five strategies, ordered by cost:

- `exact_dedup`        md5(text) hash-groupBy; one shuffle on the digest.
- `minhash_lsh_pairs`  shingle -> minhash -> band -> bucket-join; the
                       classic near-dup detector. All hashing is explicit
                       integer arithmetic (a*x+b mod p) so results are
                       deterministic and oracle-reproducible.
- `simhash64`          64-bit simhash over token hashes; near-dups differ
                       in few bits. Native bit arithmetic.
- `ngram_jaccard_pairs` exact Jaccard on character n-gram sets for a
                       candidate pair list (the verify step after LSH).
- embedding cosine near-dup lives in operators/ann.py (same kernel).

Scale notes: minhash signatures are computed per-row in one pass (explode
shingles -> groupBy doc -> min per permutation); the band bucket join
shuffles only (band_id, band_hash) pairs. Hot buckets (boilerplate pages)
are the skew case — cap bucket size with a count filter before the
self-join (the standard guard) — see `max_bucket` param.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# 2^31-1: keeps a*h+b under 2^62 — no int64 overflow under Spark ANSI mode
MERSENNE_P = (1 << 31) - 1


def _perm_params(n_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for universal hashing (LCG-expanded seed)."""
    params = []
    state = seed
    for _ in range(n_perm):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (state % (MERSENNE_P - 1)) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % MERSENNE_P
        params.append((a, b))
    return params


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the min-id representative per identical text (md5 digest).

    Returns (digest, keep_id, dup_count). One shuffle, partial-agg'd."""
    return (
        df.select(F.md5(F.col(text_col)).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def shingles(text_col, n: int = 5):
    """Character n-gram shingle array (distinct), native expressions:
    sequence over start positions -> transform substring -> array_distinct."""
    t = F.col(text_col) if isinstance(text_col, str) else text_col
    starts = F.sequence(F.lit(1), F.greatest(F.length(t) - F.lit(n - 1), F.lit(1)))
    base = F.array_distinct(F.transform(starts, lambda i: F.substr(t, i, F.lit(n))))
    # NULL text -> EMPTY shingle set, not [NULL]: greatest() null-skips to
    # 1, so a NULL doc would otherwise get the constant one-element
    # [NULL] array — every NULL-text doc then LSH-buckets together,
    # verifies at Jaccard 1.0, and all but one get DELETED by
    # dedup_corpus despite being distinct documents (r4 review). With no
    # shingles they produce no signature rows and survive as singletons.
    # Measured cost of the branch: ~7% on minhash_lsh_pairs at sf0.1
    # (2.71s -> 2.90s min-of-3 back-to-back) — accepted for the
    # correctness guarantee.
    return F.when(t.isNull(), F.array().cast("array<string>")).otherwise(base)


def hashed_shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", shingle_n: int = 5) -> DataFrame:
    """(id, hs: array<long>) — xxhash64 of each distinct character shingle.

    The shared base of the minhash pipeline: signatures are derived from
    these longs (pmod to the Mersenne field), and the exact-Jaccard
    verify intersects them directly — computing this ONCE per corpus
    (and persisting it) removes a full shingling pass from dedup_corpus.
    Two distinct shingles colliding in 64 bits (~n^2/2^64 per doc pair)
    is the accepted approximation, same as the verify stage's."""
    return df.select(
        F.col(id_col),
        F.transform(shingles(text_col, shingle_n), lambda s: F.xxhash64(s)).alias("hs"),
    )


def _signatures_from_hashes(hs_df: DataFrame, id_col: str, n_perm: int) -> DataFrame:
    """Minhash signatures from precomputed (id, hs) shingle hashes.

    Values are bit-identical to hashing the strings inline: the per-
    shingle hash is pmod(xxhash64(shingle), P) either way. Only worth
    using when hs_df is PERSISTED and shared with another consumer
    (dedup_corpus's verify) — unpersisted, materializing the hash array
    before the explode measured ~50% slower than the direct
    explode-then-hash path minhash_signatures keeps (sf0.1 interleaved
    A/B: 2.4 s vs 3.7 s warm)."""
    params = _perm_params(n_perm)
    ex = hs_df.select(F.col(id_col), F.explode("hs").alias("h64")).withColumn(
        "h", F.pmod(F.col("h64"), F.lit(MERSENNE_P))
    )
    aggs = [
        F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(MERSENNE_P))).alias(f"m{i}")
        for i, (a, b) in enumerate(params)
    ]
    sig = ex.groupBy(id_col).agg(*aggs)
    return sig.select(F.col(id_col), F.array(*[F.col(f"m{i}") for i in range(n_perm)]).alias("sig"))


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n_perm: int = 32, shingle_n: int = 5
) -> DataFrame:
    """(id, sig: array<long>[n_perm]) minhash signatures.

    One pass: explode distinct shingles, apply all permutations as native
    column expressions, aggregate min per permutation. The shuffle is
    cheap by construction -- partial aggregation collapses each doc to
    n_perm longs map-side, so the Exchange carries 32 longs/doc, not the
    shingle set. A "zero-shuffle" per-row variant (array_min over a
    transform per permutation) was measured ~25% SLOWER at 32 perms:
    it materializes n_perm intermediate hash arrays per row, and that
    allocation bill exceeds the tiny partial-agg'd shuffle it saves."""
    params = _perm_params(n_perm)
    ex = df.select(F.col(id_col), F.explode(shingles(text_col, shingle_n)).alias("sh")).withColumn(
        "h", F.pmod(F.xxhash64("sh"), F.lit(MERSENNE_P))
    )
    aggs = [
        F.min(F.pmod(F.col("h") * F.lit(a) + F.lit(b), F.lit(MERSENNE_P))).alias(f"m{i}")
        for i, (a, b) in enumerate(params)
    ]
    sig = ex.groupBy(id_col).agg(*aggs)
    return sig.select(F.col(id_col), F.array(*[F.col(f"m{i}") for i in range(n_perm)]).alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    max_bucket: int = 1000,
    hashed: DataFrame | None = None,
    dedup_pairs: bool = True,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) via banded LSH.

    rows_per_band = n_perm // bands; docs sharing any band hash become a
    candidate pair. Buckets larger than max_bucket are dropped — the
    standard boilerplate/skew guard: a 10^6-doc template bucket would
    otherwise produce 10^12 candidate pairs. The cap is a documented
    recall bound, not silent truncation; callers needing the dropped
    buckets can lower bands or raise max_bucket.

    `hashed` optionally supplies a precomputed `hashed_shingles(df)`
    result (same id_col / shingle_n) so a caller that also needs the
    shingle hashes — dedup_corpus's verify stage — shares one shingling
    pass; output is bit-identical either way.

    `dedup_pairs=False` skips the final `.distinct()` and returns the
    raw band-expansion multiset (a pair sharing k band buckets appears k
    times; r6 sf1 dup factor 1.24). dedup_corpus uses it because BOTH
    its consumers absorb duplicates — the bitmap verify is per-row and
    connected_components distincts its edge set — so the 6.8M-pair
    shuffle the distinct costs (~2 s at sf1) buys nothing there. The
    public pair-list contract (this function's declared-query output)
    keeps the default."""
    if not (1 <= bands <= n_perm and n_perm % bands == 0):
        # ValueError, not assert: python -O strips asserts, silently
        # restoring the zero-recall failure mode this check prevents
        raise ValueError(
            f"bands must divide n_perm (got n_perm={n_perm}, bands={bands}): "
            "bands > n_perm makes every band slice empty (all docs collide, "
            "then the bucket cap drops EVERYTHING -> silent zero recall); a "
            "non-divisor silently ignores the trailing permutations"
        )
    rpb = n_perm // bands
    if hashed is not None:
        sig = _signatures_from_hashes(hashed, id_col, n_perm)
    else:
        sig = minhash_signatures(df, id_col, text_col, n_perm, shingle_n)
    band_cols = []
    for b in range(bands):
        band_sig = F.slice(F.col("sig"), b * rpb + 1, rpb)
        band_cols.append(F.struct(F.lit(b).alias("band"), F.xxhash64(band_sig.cast("string")).alias("bh")))
    banded = sig.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("bb")).select(
        F.col(id_col), F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    # r5 plan diet (was: window bucket-count + bucket self-join = two
    # shuffles of the banded rows): ONE groupBy collects each bucket's
    # ids, the size cap filters whole buckets, and the within-bucket
    # pair expansion is pure JVM array combinatorics: posexplode each
    # bucket to (i, id_a), then explode the ids AFTER position i — two
    # pipelined Generates, so the largest in-flight value is one bucket
    # array (max_bucket ids), never the ~max_bucket^2/2 upper triangle
    # (with string ids a flattened full-cap triangle would be tens of MB
    # in ONE row value — r5 review). Output volume matches the old
    # self-join's per-bucket output exactly.
    # r6 (the r5 advisor's memory finding): count buckets FIRST and
    # collect only survivors — the straight collect_list built an
    # over-cap bucket's full id array as ONE aggregation value before
    # the size filter could drop it (a 10^6-doc boilerplate bucket is
    # tens of MB in flight on one task, the OOM shape the cap exists to
    # prevent). The count agg partial-aggregates to (band, bh, n) longs,
    # the semi-join back re-keys the same shuffle, and collect_list then
    # never sees a bucket the cap would discard.
    # checkpoint: the count agg and the semi-join probe both consume
    # banded, and without truncation the build side re-runs the whole
    # signature pipeline from the source scan (plan-verified)
    banded = banded.localCheckpoint(eager=False)
    ok_buckets = (
        banded.groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter((F.col("_n") >= 2) & (F.col("_n") <= max_bucket))
        .select("band", "bh")
    )
    buckets = (
        banded.join(ok_buckets, ["band", "bh"], "left_semi")
        .groupBy("band", "bh")
        .agg(F.array_sort(F.collect_list(id_col)).alias("_ids"))
    )
    expanded = buckets.select(F.posexplode("_ids").alias("_i", "id_a"), "_ids").select(
        "id_a",
        F.explode(F.slice("_ids", F.col("_i") + F.lit(2), F.size("_ids"))).alias("id_b"),
    )
    return expanded.distinct() if dedup_pairs else expanded


def simhash64(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash over whitespace tokens (native bit arithmetic).

    For each bit position, sum +-1 votes of token-hash bits; the sign
    vector packs into one long. Explode tokens once; 64 conditional sums
    aggregate in a single partial-agg'd groupBy."""
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok")
    ).withColumn("th", F.xxhash64("tok"))
    aggs = []
    for bit in range(64):
        vote = F.when(F.shiftright(F.col("th"), bit).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1))
        aggs.append(F.sum(vote).alias(f"b{bit}"))
    votes = toks.groupBy(id_col).agg(*aggs)
    sh = F.lit(0).cast("long")
    for bit in range(64):
        sh = sh + F.when(F.col(f"b{bit}") > 0, F.lit(1 << bit if bit < 63 else -(1 << 63))).otherwise(F.lit(0))
    return votes.select(F.col(id_col), sh.alias("simhash"))


def hamming64(a, b) -> "F.Column":
    """Hamming distance between two packed 64-bit columns (bit_count xor)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """SimHash near-duplicate pairs (id_a < id_b, hamming <= max_hamming)
    via the banded multi-index of Manku/Jain/Das Sarma (WWW'07 'Detecting
    Near-Duplicates for Web Crawling').

    EXACT for max_hamming < bands (pigeonhole: two 64-bit hashes differing
    in < `bands` bits agree on at least one of the `bands` disjoint
    16-bit slices, so the band equi-join finds every qualifying pair);
    the hamming64 verify then removes false candidates. Plan shape is the
    same as MinHash LSH: explode bands -> bucket equi-join -> verify; the
    same hot-bucket cap guards boilerplate skew (documented recall bound,
    only affects buckets > max_bucket)."""
    if 64 % bands != 0:
        raise ValueError(f"bands must divide 64 (got {bands})")
    if max_hamming >= bands:
        raise ValueError(
            f"pigeonhole exactness needs max_hamming < bands (got {max_hamming} >= {bands}); "
            "raise bands or accept a lossy multi-probe variant explicitly"
        )
    width = 64 // bands
    mask = (1 << width) - 1
    sh = simhash64(df, id_col, text_col)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col("simhash"), b * width).bitwiseAND(F.lit(mask)).alias("bh"),
        )
        for b in range(bands)
    ]
    banded = sh.select(F.col(id_col), F.col("simhash"), F.explode(F.array(*band_cols)).alias("bb")).select(
        F.col(id_col), F.col("simhash"), F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh")
    )
    w = Window.partitionBy("band", "bh")
    banded = banded.withColumn("_bsz", F.count(F.lit(1)).over(w)).filter(F.col("_bsz") <= max_bucket).drop("_bsz")
    a = banded.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "band", "bh")
    b_ = banded.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "band", "bh")
    return (
        a.join(b_, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming64(F.col("sh_a"), F.col("sh_b")).cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )


def _local_verify_budget_bytes() -> int:
    """Per-worker byte budget for the hybrid bitmap verify (the broadcast
    doc x token-bitmap matrix every Python worker holds). Parameterised
    via SPARK_GRAFT_LOCAL_VERIFY_MB (default 1024): size it to
    executor-memory-overhead / cores-per-executor on a real cluster; 0
    disables the local path entirely."""
    import os

    return int(os.environ.get("SPARK_GRAFT_LOCAL_VERIFY_MB", "1024")) * (1 << 20)


def _collect_bitmap(sets: DataFrame, id_col: str, set_col: str):
    """Collect (ids, packed-bitmap matrix) for the local verify paths, or
    None when the corpus exceeds the SPARK_GRAFT_LOCAL_VERIFY_MB budget.

    One bit per distinct token value (pandas factorize), rows packed to
    bytes, so popcount(row_a AND row_b) == size(array_intersect(a, b))
    including its distinct semantics. The matrix is built by a boolean
    scatter + np.packbits per bounded row block: (row, code) index pairs
    are unique (token arrays are distinct-per-doc), so the scatter needs
    no unbuffered ufunc — measured 0.15 s vs 1.27 s for the
    np.bitwise_or.at build it replaces at the sf1 10.3M-token corpus
    (r6; same popcounts, pinned by the existing bitmap-verify tests)."""
    import numpy as np
    import pandas as pd

    budget = _local_verify_budget_bytes()
    if budget <= 0:
        return None
    elem = sets.schema[set_col].dataType.elementType.simpleString()
    if elem not in ("bigint", "int", "smallint"):
        return None  # bitmap packing is integer-token only
    stats = sets.select(
        F.count(F.lit(1)).alias("nd"), F.sum(F.size(set_col)).alias("tot")
    ).first()
    nd, tot = int(stats["nd"] or 0), int(stats["tot"] or 0)
    # collect bound: token arrays arrive once on the driver (8 B/token)
    if nd == 0 or tot * 8 > 4 * budget:
        return None
    # matrix pre-guard BEFORE the collect: estimate the vocabulary with
    # one distributed approx_count_distinct pass and reject early — the
    # first version collected + factorized the full token stream only to
    # discover the matrix was over budget (at the 250k-doc scaling
    # corpus: a ~900 MB collect and a 112M-token factorize, ~15 s of
    # serial driver work thrown away before the fallback ran). The +7%
    # margin covers the sketch's error; the exact post-factorize check
    # below remains the authority.
    # Run the pre-guard ONLY when the collect it protects is itself
    # heavy (> budget/8 ~ 128 MB at the default budget): below that the
    # direct collect + factorize costs ~1 s while the distributed ACD
    # pass costs ~2.5 s (r6 sf1 profile: the pass re-read the exploded
    # 10.3M-token stream just to approve an 82 MB collect — both in
    # dedup_corpus and ngram_jaccard's verify construction). The guard
    # choice only selects between two bit-identical verify paths, so
    # this is pure overhead removal; the over-budget exact check below
    # still rejects any corpus the sketch would have.
    if tot * 8 > budget >> 3:
        vocab_est = int(
            sets.select(F.explode(set_col).alias("_t"))
            .agg(F.approx_count_distinct("_t").alias("v"))
            .first()["v"]
        )
        if nd * (((int(vocab_est * 1.07) + 63) // 64) * 8) > budget:
            return None
    at = sets.select(F.col(id_col).alias("_id"), F.col(set_col).alias("_s")).toArrow()
    arr = at.column("_s").combine_chunks()
    lens = np.diff(arr.offsets.to_numpy()).astype(np.int64)
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    codes, uniq = pd.factorize(flat)
    vocab = len(uniq)
    # row width padded to 8 B so kernels can popcount via uint64 SWAR
    # (measured 2.6x over a pop8 byte-LUT gather on the sf1 scan)
    w_bytes = ((vocab + 63) // 64) * 8
    if nd * w_bytes > budget:
        return None
    # an empty vocabulary still gets one 8-byte word: the SWAR popcount
    # views each row as uint64
    matrix = np.zeros((nd, max(w_bytes, 8)), dtype=np.uint8)
    offs = np.zeros(nd + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    if vocab:
        # bounded bool scratch: <= 64 MB per block regardless of corpus
        bits = w_bytes * 8
        block = max(1, (64 << 20) // bits)
        for r0 in range(0, nd, block):
            r1 = min(r0 + block, nd)
            sel = slice(offs[r0], offs[r1])
            bm = np.zeros((r1 - r0, bits), dtype=bool)
            row_local = np.repeat(np.arange(r1 - r0), lens[r0:r1])
            bm[row_local, codes[sel]] = True
            matrix[r0:r1] = np.packbits(bm, axis=1)
    ids = pd.Index(at.column("_id").to_pandas())
    sizes = lens
    return ids, matrix, sizes


def _popcount_rows(a8):
    """Row-sum popcount of a uint8 matrix whose width is a multiple of 8,
    via uint64 SWAR (Hacker's Delight fig. 5-2 as numpy vector ops) —
    measured 2.6x over a pop8 byte-LUT gather at the sf1 scan shape."""
    import numpy as np

    v = np.ascontiguousarray(a8).view(np.uint64)
    m1 = np.uint64(0x5555555555555555)
    m2 = np.uint64(0x3333333333333333)
    m4 = np.uint64(0x0F0F0F0F0F0F0F0F)
    h = np.uint64(0x0101010101010101)
    v = v - ((v >> np.uint64(1)) & m1)
    v = (v & m2) + ((v >> np.uint64(2)) & m2)
    v = (v + (v >> np.uint64(4))) & m4
    return ((v * h) >> np.uint64(56)).sum(axis=1, dtype=np.int64)


def _pair_intersections_local(cand: DataFrame, sets: DataFrame, id_col: str, set_col: str):
    """(id_a, id_b, si) for candidate pairs via a BROADCAST BITMAP matrix,
    or None when the corpus exceeds the local budget (caller falls back to
    the distributed array join).

    The distributed verify join ships both token arrays per pair — at the
    r6 sf1 ngram_jaccard profile that is 25.4M pairs x two ~2.2k-long
    arrays ~ 220 GB of array movement, measured DRAM-bandwidth-bound
    (45 s; the r5 NOTES reached the same ceiling, and this round's
    head-to-head killed both alternatives: inverted-index gram counting
    154 s, PPJoin-at-0.7 424M candidates). The hybrid escape mirrors
    graph._local_cc's bounded-driver-work trade: collect each doc's token
    set ONCE, factorize tokens to bit positions, pack a (n_docs x
    ceil(vocab/64)) uint64 matrix, broadcast it, and compute |A∩B| per
    pair as popcount(AND) with vectorized numpy inside mapInPandas — the
    pairs themselves (two ids) are the only thing that moves per pair.
    Exactness: one bit per DISTINCT token value, so popcount(AND) equals
    size(array_intersect(a, b)) including its distinct semantics; callers
    re-apply their original Spark filter/value expressions on si, so
    results are bit-identical to the array-join path (pinned by pytest).

    Budget guard (documented scale stance, not a local[32] tune): the
    collected token volume and the packed matrix must fit the
    SPARK_GRAFT_LOCAL_VERIFY_MB budget; at corpus scale the guard fails
    and the shuffle-shaped array join runs unchanged."""
    import numpy as np

    bm = _collect_bitmap(sets, id_col, set_col)
    if bm is None:
        return None
    ids, matrix, sizes = bm
    import numpy as _np

    bc = cand.sparkSession.sparkContext.broadcast((ids, matrix, sizes.astype(_np.int64)))

    def _si_batches(batches):
        idx, m8, nsz = bc.value
        wid = m8.shape[1]
        for b in batches:
            ia = idx.get_indexer(b["id_a"])
            ib = idx.get_indexer(b["id_b"])
            si = np.empty(len(b), dtype=np.int64)
            for lo in range(0, len(b), 4096):  # bound the gather scratch
                hi = min(lo + 4096, len(b))
                anded = (
                    m8[ia[lo:hi]].reshape(hi - lo, wid)
                    & m8[ib[lo:hi]].reshape(hi - lo, wid)
                )
                si[lo:hi] = _popcount_rows(anded)
            out = b[["id_a", "id_b"]].copy()
            out["si"] = si
            # emit the set sizes too (known from the broadcast): callers
            # previously re-attached them with two broadcast joins over
            # every verified row — 5.8M rows at sf1 for dedup_corpus —
            # for values the kernel already holds (same lens array the
            # sizes frame was computed from)
            out["n_a"] = nsz[ia]
            out["n_b"] = nsz[ib]
            yield out

    id_t = cand.schema["id_a"].dataType.simpleString()
    return cand.mapInPandas(
        _si_batches, schema=f"id_a {id_t}, id_b {id_t}, si long, n_a long, n_b long"
    )


def _local_scan_budget_bytes(spark) -> int:
    """Memory-traffic cap for the local ALL-PAIRS bitmap scan: the scan
    touches ~nd^2/2 x row_bytes of broadcast matrix per full run, spread
    over defaultParallelism tasks. Parameterised via
    SPARK_GRAFT_LOCAL_SCAN_MB (default 2048 per core — ~0.1 s of DRAM
    traffic each); scale-adaptive through defaultParallelism, 0 disables."""
    import os

    per_core = int(os.environ.get("SPARK_GRAFT_LOCAL_SCAN_MB", "2048")) * (1 << 20)
    return per_core * spark.sparkContext.defaultParallelism


def _pairs_above_threshold_local(
    sets: DataFrame, id_col: str, set_col: str, threshold_x1000: int
):
    """(id_a, id_b, si) for EVERY unordered pair whose integer-exact
    Jaccard test passes, via a local all-pairs popcount scan over the
    broadcast bitmap — or None when the corpus exceeds the budget guards.

    Replaces the ENTIRE prefix-explode candidate join + 632M-row distinct
    for low thresholds on in-budget corpora (r6 sf1 ngram_jaccard
    profile: at t=0.15 the PPJoin prefixes are ~0.85n long, the token
    join emitted 632M raw matches with dup factor 24.8, and the
    map-side-dedup distinct alone cost ~7 s — while candidate count
    equals ~ALL doc pairs, which the bitmap scans at DRAM speed).

    EXACT: floor(si*1000/(na+nb-si)) >= tx  <=>  si*1000 >= tx*(na+nb-si)
    for positive integers (floor(a/b) >= t <=> a >= t*b), so the kernel
    filters with pure integer arithmetic and emits si; the caller
    recomputes the OUTPUT value with its original Spark expression. A
    pair with si == 0 is never emitted — mirroring the prefix join,
    where zero-overlap pairs never become candidates (relevant only for
    degenerate tx <= 0 callers).

    Coverage: each input row's id maps to a matrix position; the kernel
    emits pairs (pos_i, pos_j > pos_i), so every unordered pair is
    scanned exactly once across all tasks with no distinct needed."""
    import numpy as np

    spark = sets.sparkSession
    if threshold_x1000 < 1:
        return None
    stats = sets.select(
        F.count(F.lit(1)).alias("nd"), F.sum(F.size(set_col)).alias("tot")
    ).first()
    nd, tot = int(stats["nd"] or 0), int(stats["tot"] or 0)
    if nd == 0:
        return None
    # est. row bytes from mean set size (vocab <= tot); authority is the
    # exact post-collect check below
    scan_cap = _local_scan_budget_bytes(spark)
    if scan_cap <= 0 or nd * nd * max(tot // max(nd, 1), 1) // 8 > 4 * scan_cap:
        return None
    bm = _collect_bitmap(sets, id_col, set_col)
    if bm is None:
        return None
    ids, matrix, sizes = bm
    if nd * nd * matrix.shape[1] // 2 > scan_cap:
        return None
    tx = int(threshold_x1000)
    bc = spark.sparkContext.broadcast((ids, matrix, sizes.astype(np.int64)))
    id_t = sets.schema[id_col].dataType.simpleString()

    def _scan_batches(batches):
        idx, m8, nsz = bc.value
        ndl = len(idx)
        for b in batches:
            pos = idx.get_indexer(b["_id"])
            outs_a, outs_b, outs_si = [], [], []
            for p in pos:
                if p < 0 or p + 1 >= ndl:
                    continue
                anded = m8[p] & m8[p + 1 :]
                si = _popcount_rows(anded)
                # integer-exact threshold: si*1000 >= tx*(na+nb-si), si>=1
                nb = nsz[p + 1 :]
                keep = (si >= 1) & (si * 1000 >= tx * (nsz[p] + nb - si))
                if keep.any():
                    j = np.flatnonzero(keep) + p + 1
                    outs_a.append(np.full(len(j), p, dtype=np.int64))
                    outs_b.append(j)
                    outs_si.append(si[keep])
            import pandas as pd

            if outs_a:
                ai = np.concatenate(outs_a)
                bi = np.concatenate(outs_b)
                yield pd.DataFrame(
                    {
                        "id_a": idx.take(ai),
                        "id_b": idx.take(bi),
                        "si": np.concatenate(outs_si),
                        "n_a": nsz[ai],
                        "n_b": nsz[bi],
                    }
                )
            else:
                empty = np.array([], dtype=np.int64)
                yield pd.DataFrame(
                    {"id_a": idx[:0], "id_b": idx[:0], "si": empty, "n_a": empty, "n_b": empty}
                )

    # sizes ride along from the broadcast (see _si_batches): the caller's
    # jacc expression reads them without re-joining the 17.2M surviving
    # pairs (sf1) against a sizes frame twice
    return sets.select(F.col(id_col).alias("_id")).mapInPandas(
        _scan_batches, schema=f"id_a {id_t}, id_b {id_t}, si long, n_a long, n_b long"
    )


def jaccard_selfjoin_exact(
    df: DataFrame,
    id_col: str = "doc_id",
    set_col: str = "sh",
    threshold_x1000: int = 150,
    df_order: bool = True,
    hash_tokens: bool = True,
) -> DataFrame:
    """EXACT Jaccard similarity self-join via PPJoin-grade prefix
    filtering — the scale-shaped replacement for an all-pairs theta join.

    Published principles, re-derived as DataFrame ops:
    - prefix filter (Chaudhuri/Ganti/Kaushik ICDE'06; Bayardo WWW'07
      AllPairs): under any global token order, |a ∩ b| >= alpha implies
      the (|a|-alpha+1)- and (|b|-alpha+1)-prefixes share a token;
    - ascending-document-frequency token order (AllPairs §3): with
      df_order=True tokens are re-encoded as zero-padded df + token, so
      prefixes hold the RAREST tokens and the token equi-join fans out by
      rare-token co-occurrence instead of stop-shingle buckets — the
      dominant win at low thresholds (r5: the sf1 7,143-doc case went
      from >30 min to seconds). The re-encoding is injective, so set
      sizes, intersections, and the returned values are unchanged;
    - asymmetric prefixes (PPJoin, Xiao/Wang/Lin/Yu WWW'08 §3.1): with
      pairs oriented by (n, id), alpha >= ceil(2t/(1+t)*n_a) on the
      smaller side — its prefix shrinks to n - ceil(2t/(1+t)*n) + 1
      while the larger side keeps n - ceil(t*n) + 1;
    - stateless positional filter (PPJoin §3.2, join-safe form): a match
      of prefix token at 1-based positions (i, j) bounds the overlap by
      min(i,j) + min(n_a-i, n_b-j) (shared tokens up to the match occupy
      positions <= i AND <= j; the rest sit after both), so matches with
      bound < alpha are dropped BEFORE the distinct. For a qualifying
      pair EVERY match passes, so filter-then-distinct is lossless.

    Plan shape: (df-order re-encode: one explode + groupBy) -> explode
    prefixes with positions -> equi-join on token -> positional + length
    filters -> distinct pairs -> verify. No broadcast-nested-loop /
    cartesian anywhere.

    Returns (id_a, id_b, jacc_x1000) with id_a < id_b and
    floor(jaccard * 1000) >= threshold_x1000. Integer x1000 math keeps the
    result bit-identical to the all-pairs SQL oracle."""
    tx = threshold_x1000
    base = df.select(
        F.col(id_col).alias("_id"),
        F.array_sort(F.col(set_col)).alias("_sh"),
        F.size(set_col).alias("_n"),
    )
    if df_order:
        ex = base.select("_id", F.explode("_sh").alias("_tok"))
        dfreq = ex.groupBy("_tok").agg(F.count(F.lit(1)).alias("_df"))
        if hash_tokens:
            # int64 token id: df * 2^32 + first-32-md5-bits. Ascending tid
            # => ascending df (the rare-first property); the md5 low bits
            # only break ties WITHIN a df class. Long arrays make the
            # token join and the verify intersect ~10x cheaper than UTF8
            # comparisons (r5: verify was 80us/pair on string arrays).
            # Exactness: the encoding is engine-identical (md5 hex is
            # bit-equal in Spark and DuckDB), so oracle parity is exact
            # BY CONSTRUCTION even under a collision; values equal TRUE
            # string Jaccard whenever the encoding is injective on the
            # corpus vocabulary (two same-df tokens sharing 32 md5 bits —
            # ~|vocab|^2/2^33 birthday odds per df class; the pytest gate
            # asserts injectivity on the test corpora).
            tid = F.col("_df") * F.lit(4294967296) + F.conv(
                F.substring(F.md5("_tok"), 1, 8), 16, 10
            ).cast("long")
            dfreq = dfreq.withColumn("_t2", tid)
        else:
            dfreq = dfreq.withColumn(
                "_t2",
                F.concat(
                    F.lpad(F.col("_df").cast("string"), 10, "0"), F.lit("|"), F.col("_tok")
                ),
            )
        base = (
            ex.join(dfreq.select("_tok", "_t2"), "_tok")
            .groupBy("_id")
            .agg(F.array_sort(F.collect_list("_t2")).alias("_sh"))
            .withColumn("_n", F.size("_sh"))
        )
    # base feeds four branches (two prefix explodes + both verify sides):
    # without lineage truncation the encode re-executes per branch (the
    # r5 27.5s -> ~10s fix at sf0.1); the first count materializes it.
    # Repartition to full parallelism first: the re-encode groupBy's
    # AQE-coalesced output (sized by BYTES) leaves the downstream prefix
    # explode — which fans each row out ~1.6n-fold — on a handful of
    # tasks (r6 sf1 profile: 25.4M prefix rows generated by 6 tasks,
    # 250 exec-s; at 32 tasks the same work is ~8 s wall). Byte-based
    # coalescing is the wrong cost model for a Generate stage.
    sc = df.sparkSession.sparkContext
    base = base.repartition(sc.defaultParallelism).localCheckpoint(eager=False)
    # local all-pairs bitmap scan (r6): for low thresholds the prefix
    # filter degenerates (at tx=150 prefixes are ~0.85n, the token join
    # emits every pair ~25x and the distinct pays for all of them); when
    # the corpus fits the broadcast-bitmap budgets, scanning ALL pairs at
    # DRAM speed and emitting only survivors replaces the prefix explode,
    # the token join AND the candidate distinct. Output is bit-identical:
    # the kernel's integer test si*1000 >= tx*(na+nb-si) is floor-
    # equivalent to the jacc_x1000 >= tx filter, and the output value is
    # recomputed by the SAME Spark expression the array path uses
    # (pinned by tests/test_dedup_ann.py; guards documented in
    # _pairs_above_threshold_local / _collect_bitmap).
    si_scan = _pairs_above_threshold_local(
        base.select("_id", "_sh"), "_id", "_sh", tx
    )
    if si_scan is not None:
        jx2 = F.floor(
            F.col("si") * F.lit(1000) / (F.col("n_a") + F.col("n_b") - F.col("si"))
        ).cast("long")
        return (
            si_scan.withColumn("jacc_x1000", jx2)
            .filter(F.col("jacc_x1000") >= tx)
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
                "jacc_x1000",
            )
        )
    # ceil(t*n) with integer math; probe prefix = n - ceil(t*n) + 1;
    # index prefix (smaller side) = n - ceil(2t/(1+t)*n) + 1
    plen_probe = F.col("_n") - F.floor((F.col("_n") * tx + 999) / 1000).cast("int") + F.lit(1)
    plen_index = (
        F.col("_n")
        - F.floor((F.col("_n") * (2 * tx) + (1000 + tx) - 1) / (1000 + tx)).cast("int")
        + F.lit(1)
    )
    pref_index = base.select(
        "_id", "_n", F.posexplode(F.slice("_sh", 1, plen_index)).alias("_p", "_tok")
    )
    pref_probe = base.select(
        "_id", "_n", F.posexplode(F.slice("_sh", 1, plen_probe)).alias("_p", "_tok")
    )
    a = pref_index.select(
        F.col("_id").alias("id_a"), F.col("_n").alias("n_a"), (F.col("_p") + 1).alias("i_a"), "_tok"
    )
    b = pref_probe.select(
        F.col("_id").alias("id_b"), F.col("_n").alias("n_b"), (F.col("_p") + 1).alias("i_b"), "_tok"
    )
    # orientation: a is the (n, id)-lexicographically smaller record
    orient = (F.col("n_a") < F.col("n_b")) | (
        (F.col("n_a") == F.col("n_b")) & (F.col("id_a") < F.col("id_b"))
    )
    # positional overlap bound vs alpha = ceil(tx*(n_a+n_b)/(1000+tx))
    bound = F.least("i_a", "i_b") + F.least(
        F.col("n_a") - F.col("i_a"), F.col("n_b") - F.col("i_b")
    )
    cand = (
        a.join(b, "_tok")
        .filter(orient)
        .filter(F.col("n_b") * tx <= F.col("n_a") * 1000)  # length filter (n_a <= n_b)
        .filter(bound * (1000 + tx) >= tx * (F.col("n_a") + F.col("n_b")))
        .select("id_a", "id_b")
        .distinct()
    )
    si_local = _pair_intersections_local(cand, base.select("_id", "_sh"), "_id", "_sh")
    if si_local is not None:
        # hybrid bitmap verify: si from popcount(AND) == size(array_
        # intersect) exactly; the jacc expression below reapplies the
        # SAME Spark ops on the same integers as the array path, so the
        # output is bit-identical (set sizes ride the kernel output —
        # same lens the sizes frame was derived from — instead of two
        # per-pair joins)
        jx2 = F.floor(
            F.col("si") * F.lit(1000) / (F.col("n_a") + F.col("n_b") - F.col("si"))
        ).cast("long")
        return (
            si_local.withColumn("jacc_x1000", jx2)
            .filter(F.col("jacc_x1000") >= tx)
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
                "jacc_x1000",
            )
        )
    sh = base.select("_id", "_sh")
    si = F.size(F.array_intersect("sh_a", "sh_b"))
    sa, sb = F.size("sh_a"), F.size("sh_b")
    jx = F.floor(si * F.lit(1000) / (sa + sb - si)).cast("long")
    return (
        cand.join(sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")), "id_a")
        .join(sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")), "id_b")
        .withColumn("jacc_x1000", jx)
        .filter(F.col("jacc_x1000") >= tx)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "jacc_x1000",
        )
    )


def dedup_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 5,
    verify_threshold: float | None = 0.7,
    max_bucket: int = 1000,
) -> DataFrame:
    """End-to-end near-duplicate REMOVAL: the operator a training-data
    pipeline actually runs (pairs alone dedupe nothing).

    exact stage   md5 exact dupes drop first (free; no LSH recall caveat)
    candidates    minhash_lsh_pairs (banded, hot-bucket capped)
    verify        exact n-gram Jaccard >= verify_threshold (None = trust LSH)
    cluster       connected_components (large-star/small-star; a chain of
                  near-dups A~B~C collapses to ONE survivor even though
                  A,C were never a candidate pair)
    keep          min doc id per cluster; everything else anti-joined away

    Returns the df subset that survives, original schema unchanged. Every
    stage is a bucketed equi-join or partial-agg'd shuffle — no all-pairs
    anywhere; the LSH band parameters and max_bucket are the documented
    recall bounds.

    Corpus-skew knob: banded LSH's false-positive rate per pair is
    ~bands * J_background^(n_perm/bands). On vocab-saturated corpora
    (background cross-doc shingle Jaccard well above ~0.1 — e.g. a
    boilerplate-heavy crawl slice) candidate pairs grow superlinearly
    until the max_bucket cap truncates them, and the verify stage pays
    for every false candidate (measured: a synthetic 500k-doc corpus
    with a fixed 30k-word vocab produced 6.6M candidates, 93% verify-
    rejected, and the array-shipping verify join spilled). Raising rows
    per band (n_perm/bands — e.g. n_perm=64, bands=8) drives the
    background FP rate down exponentially at the cost of per-pair recall
    near the threshold; max_bucket bounds the worst case either way."""
    from .graph import connected_components

    # exact stage as ONE row_number window over the digest (r6; was
    # exact_dedup agg + digest join + anti-join = three scans of df and
    # two extra shuffles for the same survivor set — rank-1-per-digest
    # picks the identical min-id representative in a single pass)
    # NULL text ⇒ NULL digest: those rows all land in the window's NULL
    # partition, but they are DISTINCT documents, not duplicates (the old
    # join-on-digest skipped them implicitly because an equi-join never
    # matches NULL; pinned by test_null_text_docs_survive_dedup_corpus) —
    # keep every NULL-digest row regardless of its rank
    w_exact = Window.partitionBy("_digest").orderBy(F.col(id_col).asc())
    survivors = (
        df.withColumn("_digest", F.md5(F.col(text_col)))
        .withColumn("_rn", F.row_number().over(w_exact))
        .filter((F.col("_rn") == 1) | F.col("_digest").isNull())
        .drop("_digest", "_rn")
    )
    # localCheckpoint(eager=False), NOT persist(): survivors feeds the
    # shingling pass and the final anti-join — untruncated, the exact-dedup
    # window (and the source scan under it) re-executes per consumer.
    # persist() would go through the CacheManager, whose canonicalized-plan
    # matching lets a REPEATED dedup_corpus call (bench best-of-2) silently
    # read the previous call's cache — and entries are never released
    # without an explicit unpersist the lazy return value can't schedule.
    # localCheckpoint blocks are MEMORY_AND_DISK (spills, not OOMs), are
    # GC-cleaned with the DataFrame, and never match across calls.
    survivors = survivors.localCheckpoint(eager=False)

    if verify_threshold is not None:
        # ONE shingling pass, shared by signatures and verify (r5 diet;
        # the hashes are the same longs either way — see hashed_shingles).
        # Checkpointed for the same reason as survivors: two consumers.
        hs = hashed_shingles(survivors, id_col, text_col, shingle_n).localCheckpoint(eager=False)
        # dedup_pairs=False (r6): the band-expansion multiset goes straight
        # to the per-row verify / CC's own edge distinct — the 6.8M-pair
        # distinct shuffle bought nothing here (dup factor 1.24 at sf1);
        # the array-join fallback below re-applies distinct before any
        # arrays ship so the r5 scaling path is unchanged.
        pairs = minhash_lsh_pairs(
            survivors, id_col, text_col, n_perm, bands, shingle_n, max_bucket,
            hashed=hs, dedup_pairs=False,
        )
    else:
        # single consumer: the inline explode-then-hash path wins when the
        # hash arrays aren't shared (see _signatures_from_hashes); raw
        # multiset is fine — connected_components distincts its edges
        pairs = minhash_lsh_pairs(
            survivors, id_col, text_col, n_perm, bands, shingle_n, max_bucket,
            dedup_pairs=False,
        )
    if verify_threshold is not None:
        # verify on HASHED shingle sets (long arrays), not the raw
        # 5-char-string arrays: same Jaccard unless two distinct shingles
        # collide in 64 bits (~n^2/2^64 — negligible, and the golden twin
        # hashes identically so the oracle stays exact). Long-array
        # intersections are several times cheaper than string-array ones
        # and the candidate join shuffles ~8 bytes/shingle instead of a
        # string header per shingle — this stage dominated dedup_corpus
        # before the change. (array_intersect hashes, it does not merge —
        # sorting hs first bought nothing and cost a per-doc sort.)
        sh = hs
        sizes = sh.select(F.col(id_col), F.size("hs").alias("n"))
        # exact size prefilter BEFORE shipping arrays: J >= t forces
        # t * max(|a|,|b|) <= min(|a|,|b|) (jaccard_selfjoin_exact's
        # lemma), and the sizes join moves two ints per pair instead of
        # two shingle arrays — most size-mismatched candidates never
        # touch an array.
        compat = (
            pairs.join(sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a")), "id_a")
            .join(sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b")), "id_b")
            .filter(F.greatest("n_a", "n_b") * F.lit(verify_threshold) <= F.least("n_a", "n_b"))
            .select("id_a", "id_b")
        )
        # hybrid bitmap verify (see _pair_intersections_local): si ==
        # size(array_intersect) exactly, and the threshold test is the
        # same long/long double division the array path used. Measured
        # r6 head-to-head at sf1 (compat checkpointed, count-forced,
        # best-of-2): bitmap 3.2 s vs array join 28.9 s on 4.68M compat
        # pairs — the win arrived only after the collect went zero-copy
        # Arrow (the first toPandas attempt spent ~6 s serial on the
        # driver and lost). Falls back to the array join above budget.
        si_local = _pair_intersections_local(compat, sh.select(id_col, "hs"), id_col, "hs")
        if si_local is not None:
            # n_a/n_b ride the kernel output (same lens the sizes frame
            # was derived from), so no per-pair sizes joins here
            pairs = (
                si_local.filter(
                    F.col("si") / (F.col("n_a") + F.col("n_b") - F.col("si"))
                    >= F.lit(verify_threshold)
                )
                .select("id_a", "id_b")
            )
        else:
            # fallback ships full arrays per pair: drop the band-expansion
            # duplicates first (the r5-shaped path, unchanged at scale)
            compat = compat.distinct()
            si = F.size(F.array_intersect("hs_a", "hs_b"))
            pairs = (
                compat.join(sh.select(F.col(id_col).alias("id_a"), F.col("hs").alias("hs_a")), "id_a")
                .join(sh.select(F.col(id_col).alias("id_b"), F.col("hs").alias("hs_b")), "id_b")
                .filter(si / (F.size("hs_a") + F.size("hs_b") - si) >= F.lit(verify_threshold))
                .select("id_a", "id_b")
            )
    comp = connected_components(pairs)
    near_losers = comp.filter(F.col("node") != F.col("component")).select(F.col("node").alias(id_col))
    return survivors.join(near_losers, id_col, "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs -> (id_a, id_b, jaccard).

    The verify stage after LSH: joins each side's shingle set (array) via
    two broadcast-or-shuffle hash joins, then native array_intersect /
    array_union size arithmetic."""
    sh = df.select(F.col(id_col), shingles(text_col, shingle_n).alias("sh"))
    out = (
        pairs.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")) / F.size(F.array_union("sh_a", "sh_b")),
        )
        .select("id_a", "id_b", "jaccard")
    )
    return out.filter(F.col("jaccard") >= threshold)
