"""Deduplication family for web-text corpora — exact, MinHash+LSH, SimHash,
n-gram Jaccard.

All hot paths are native column expressions (hashing, shingling, signatures
via F.transform/F.array_min — inside codegen); only SimHash's 64-bit
majority-vote is a pandas UDF (Arrow-vectorized numpy, no per-row Python).

Scale design: MinHash-LSH is the 100 TB path — band buckets shard the
candidate space so the self-join is |bucket|² per bucket instead of n²;
the exact-Jaccard verify runs only on LSH candidates. Exact dedup is a
single hash-aggregate (map-side combinable).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from webscraper_spark.functions.canon import h60

MERSENNE31 = (1 << 31) - 1  # 31-bit domain: a*h+b never overflows int64 (ANSI mode)
_MINHASH_A = [3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59]
_MINHASH_B = [7919, 104729, 1299709, 15485863, 32452843, 49979687, 67867967, 86028121,
              100663319, 122949829, 141650939, 160481183, 179424673, 198491317, 217645177, 236887691]


def tokens(text: Column) -> Column:
    """Whitespace tokenization of trimmed text; empty text -> empty array."""
    t = F.trim(text)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, r"\s+"))


def ngram_join(toks: Column, n: int) -> Column:
    """Word n-grams with multiplicity from a token array, via n-1 chained
    zip_withs over n shifted slices — O(total tokens), vectorized array
    walks. A/B at n=5 on the sf0.1 corpus: 1.0s vs 2.7s for
    per-index slice+array_join vs 12.8s for per-index element_at (a
    computed index inside a transform lambda is the slow path in
    Spark's higher-order-function evaluation). < n tokens -> []."""
    k = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    acc = F.slice(toks, 1, k)
    for j in range(1, n):
        acc = F.zip_with(
            acc, F.slice(toks, j + 1, k), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.when(F.size(toks) < n, F.array().cast("array<string>")).otherwise(acc)


def shingles(text: Column, n: int = 3) -> Column:
    """Word n-gram shingles (distinct), as strings. Short docs
    (< n tokens) keep the whole-doc-as-one-shingle fallback."""
    toks = tokens(text)
    grams = F.when(
        F.size(toks) < n, F.array(F.array_join(toks, " "))
    ).otherwise(ngram_join(toks, n))
    return F.array_distinct(grams)


def shingle_hashes(text: Column, n: int = 3) -> Column:
    return F.transform(shingles(text, n), lambda s: h60(s))


def minhash_signature(hashes: Column, num_perm: int = 16) -> Column:
    """num_perm MinHash values: min over (a*h + b) mod M31 per permutation (31-bit domain, ANSI-safe).
    Pure column expressions — evaluated JVM-side."""
    def perm(a: int, b: int):
        return lambda h: F.pmod(F.pmod(h, F.lit(MERSENNE31)) * F.lit(a) + F.lit(b), F.lit(MERSENNE31))

    sigs = [
        F.array_min(F.transform(hashes, perm(_MINHASH_A[j], _MINHASH_B[j])))
        for j in range(num_perm)
    ]
    return F.array(*sigs)


def lsh_bands(sig: Column, bands: int = 4, num_perm: int = 16) -> Column:
    """Split the num_perm-long signature into `bands` equal slices; hash each
    slice. Returns array<struct<band:int, bucket:long>>."""
    if num_perm % bands != 0:
        raise ValueError(f"num_perm={num_perm} not divisible by bands={bands}")
    r = num_perm // bands
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            h60(F.concat_ws(",", F.transform(
                F.slice(sig, b * r + 1, r), lambda x: x.cast("string")
            ))).alias("bucket"),
        ),
    )


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: md5-group, keep the minimum id as the canonical survivor.
    Output: (hash, n_dups, keep_id) for groups with >1 member."""
    return (
        df.select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("h"))
        .groupBy("h")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Return the deduplicated relation (keep min id per distinct text)."""
    w_keep = (
        df.groupBy(F.md5(F.col(text_col)).alias("h"))
        .agg(F.min(F.col(id_col)).alias(id_col))
    )
    return df.join(w_keep, id_col, "left_semi")


def minhash_lsh_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n: int = 3, num_perm: int = 16, bands: int = 4, threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs via MinHash-LSH with exact-Jaccard verification.

    1. signature per doc (num_perm minhashes over word n-gram shingles)
    2. explode band buckets; self-join within (band, bucket) — the LSH shard.
       The band join carries IDs ONLY: shipping each doc's full shingle set
       x bands through the self-join shuffle was the measured hot spot
       (shingles are ~100x the id bytes); dedup the pair list, THEN fetch
       shingles once per side for the verify join.
    3. verify candidates with exact Jaccard over shingle sets; keep >= threshold
    Output: (id_a, id_b, jaccard) with id_a < id_b.

    Caching contract: the shared shingle table is persist()ed and the handle
    is attached to the returned DataFrame as `_shingle_cache`. One-shot
    callers can ignore it (Spark's LRU / ContextCleaner reclaims it under
    pressure); long-lived sessions issuing many calls should
    `result._shingle_cache.unpersist()` after materializing the result.
    """
    # One shingle pass, shared by the band stage and both verify join sides
    # (shingling is the compute-dense step; three lineage re-runs tripled
    # it). Repartition the RAW TEXT first — the doc table often arrives in
    # 1-2 file splits, which would serialize shingling — then persist the
    # shingle table (memory+disk; freed by Spark's LRU / context cleaner
    # with the returned plan).
    par = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    sh_tbl = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
        .repartition(par)
        .select("id", shingles(F.col("t"), n).alias("sh"))
        .persist()
    )
    banded = (
        sh_tbl.withColumn("sig", minhash_signature(F.transform(F.col("sh"), lambda s: h60(s)), num_perm))
        .select("id", F.explode(lsh_bands(F.col("sig"), bands, num_perm)).alias("bb"))
        .select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    pairs = (
        cand.join(sh_tbl.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sh_tbl.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    out = (
        pairs.withColumn("jaccard", inter.cast("double") / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    out._shingle_cache = sh_tbl  # explicit unpersist handle (see docstring)
    return out


def span_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    block: int = 10, min_df: int = 2,
) -> DataFrame:
    """C4-style corpus-level repeated-span removal over fixed token blocks.

    C4 (Raffel et al. 2020, §2.2) discards any three-sentence span that
    occurs more than once in the dataset. This corpus has no sentence
    delimiters, so the span unit is a fixed non-overlapping `block`-token
    window; any block whose corpus document-frequency reaches `min_df`
    is treated as boilerplate and ALL of its occurrences are dropped
    (the aggressive variant — keep-one-occurrence needs a global keeper
    election, a per-block arg-min aggregate, which callers can layer on
    via exact_duplicates-style keep_id logic).

    Plan shape (100 TB path):
      1. chunk: native transform/slice inside codegen — no shuffle
      2. block frequency: hash-aggregate on the block string — map-side
         combinable, so hot boilerplate blocks partially aggregate before
         the exchange (skew-safe; a window over block would not be)
      3. removal: left_anti join of exploded blocks against the boilerplate
         set (broadcast when small; AQE decides)
      4. reassembly: groupBy doc, array_sort over (pos, block) structs —
         order restored without relying on collect_list ordering

    Output: (doc_id, clean_text, blocks_kept, blocks_removed) — exact
    integer/string columns, independently verifiable in ANSI SQL.
    """
    toks = tokens(F.col(text_col))
    nblk = F.ceil(F.size(toks) / F.lit(block)).cast("int")
    # sequence(0, -1) would step backwards; guard the empty-doc case
    blocks = F.when(F.size(toks) == 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), nblk - 1),
            lambda bi: F.array_join(F.slice(toks, bi * block + 1, block), " "),
        )
    )
    docs = df.select(F.col(id_col).alias("doc_id"), blocks.alias("blocks"))
    ex = docs.select("doc_id", F.posexplode("blocks").alias("bi", "blk"))
    boiler = (
        ex.groupBy("blk").agg(F.count("*").alias("dfb"))
        .filter(F.col("dfb") >= min_df)
        .select("blk")
    )
    kept = ex.join(boiler, "blk", "left_anti")
    agg = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("bi", "blk"))),
                lambda s: s["blk"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("blocks_kept"),
    )
    return (
        docs.select("doc_id", F.size("blocks").alias("blocks_total"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("blocks_kept", F.lit(0)).cast("long").alias("blocks_kept"),
            (F.col("blocks_total") - F.coalesce("blocks_kept", F.lit(0)))
            .cast("long").alias("blocks_removed"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (the small-scale oracle path):
    inverted index on shingles -> pair counts -> |A∩B| / (|A|+|B|-|A∩B|).
    This is the shuffle-heavy exact variant; LSH above is the scale path.

    ``max_df``: drop shingles whose document frequency exceeds it before
    the self-join — the standard posting-list cap for inverted-index
    similarity at corpus scale. A shingle shared by d docs contributes
    d(d-1)/2 join rows, so one boilerplate shingle (navbars, license
    headers) makes the exact variant quadratic in corpus size; capped,
    the join cost is bounded by max_df^2 per distinct shingle. With the
    cap, Jaccard is computed over the *discriminative* feature space
    (per-doc set sizes are recomputed after the filter — stop-shingle
    removal, not an intersection-only lower bound). None = exact."""
    sh = df.select(F.col(id_col).alias("id"), shingles(F.col(text_col), n).alias("sh"))
    inv = sh.select("id", F.explode("sh").alias("g"))
    if max_df is not None:
        rare = inv.groupBy("g").agg(F.count("*").alias("df_g")).filter(F.col("df_g") <= max_df)
        inv = inv.join(rare.select("g"), "g")
        sizes = inv.groupBy("id").agg(F.count("*").alias("n_sh"))
    else:
        sizes = sh.select("id", F.size("sh").alias("n_sh"))
    a = inv.alias("a")
    b = inv.alias("b")
    pair_inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"))
    return (
        pair_inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn("jaccard", F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def contamination_overlap(
    train: DataFrame,
    eval_set: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: per training document, how many of its
    distinct word n-gram shingles occur in ANY eval-set document (the
    GPT-3/PaLM n-gram-overlap contamination check; typically n=8..13).

    Returns (doc_id, n_sh, hits, contam_frac) for documents with hits >= 1;
    contam_frac = hits / n_sh is an exact integer ratio, reproducible
    bit-for-bit by any IEEE-754 engine.

    Scale design: the eval side is the small one (benchmarks are thousands
    of docs -> at most a few million distinct grams), so its distinct gram
    set is BROADCAST and the 100 TB training side never shuffles for the
    membership test — explode -> broadcast hash semi-join (the hash map is
    built once per task, probed O(1) per gram). The per-doc re-aggregation
    partially combines map-side, so the only shuffle moves <= one row per
    (contaminated doc x partition)."""
    ev_grams = eval_set.select(
        F.explode(shingles(F.col(text_col), n)).alias("g")
    ).distinct()
    tr = train.select(F.col(id_col).alias("doc_id"), shingles(F.col(text_col), n).alias("sh"))
    hits = (
        tr.select("doc_id", F.size("sh").alias("n_sh"), F.explode("sh").alias("g"))
        .join(F.broadcast(ev_grams), "g")
        .groupBy("doc_id", "n_sh")
        .agg(F.count("*").alias("hits"))
    )
    return hits.select(
        "doc_id", "n_sh", "hits",
        (F.col("hits").cast("double") / F.col("n_sh")).alias("contam_frac"),
    )


_SWEEP_CAP = 4096  # bytes of column-sweep before falling back per-token


@F.pandas_udf(T.LongType())
def simhash64(tokens_s: pd.Series) -> pd.Series:
    """64-bit SimHash over token arrays — Arrow-vectorized numpy majority
    vote (the one dedup primitive not expressible as column ops).

    Batch-vectorized with FLAT memory: tokens are sorted by byte length and
    FNV-1a advances one byte-column per numpy pass over only the tokens that
    still have a byte at that position (a shrinking suffix of the sorted
    order). Total work is O(total_bytes), total allocation O(total_tokens) —
    the previous padded-matrix formulation was O(total_tokens x
    max_token_len) in BOTH, so one pathological 100KB token (minified JS /
    base64 from whitespace tokenization of real web text) multiplied memory
    for the whole Arrow batch. Votes come from a single np.add.reduceat.
    Output is bit-for-bit identical to the per-row reference (hash_str64,
    kept below as the test oracle)."""
    n_docs = len(tokens_s)
    counts = np.fromiter(
        (0 if t is None else len(t) for t in tokens_s), dtype=np.int64, count=n_docs
    )
    total = int(counts.sum())
    if total == 0:
        return pd.Series(np.zeros(n_docs, dtype=np.int64))
    flat = np.empty(total, dtype=object)
    pos = 0
    for t in tokens_s:
        if t is not None and len(t):
            flat[pos:pos + len(t)] = t
            pos += len(t)
    enc = pd.Series(flat, dtype=object).str.encode("utf-8").to_numpy()
    lens = np.fromiter((len(b) for b in enc), dtype=np.int64, count=total)
    max_len = int(lens.max())
    barr = np.frombuffer(b"".join(enc), dtype=np.uint8)
    offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
    # Length-sorted sweep: at byte position j only tokens with len > j are
    # live, and after the stable sort those form the suffix starting at
    # searchsorted(lens, j). Each pass is one gather + xor + multiply over
    # the live suffix; per-token op order is unchanged, so hashes stay
    # bit-identical to hash_str64.
    order = np.argsort(lens, kind="stable")
    lens_s = lens[order]
    offs_s = offs[order]
    h_s = np.full(total, 0xCBF29CE484222325, dtype=np.uint64)
    prime = np.uint64(0x100000001B3)
    # Column-sweep cap: beyond _SWEEP_CAP bytes the per-column numpy-call
    # overhead exceeds a plain Python byte loop over the (rare) long tokens,
    # so the tail of each >cap token finishes per-token instead of driving
    # max_len tiny numpy passes for the whole batch.
    sweep = min(max_len, _SWEEP_CAP)
    starts = np.searchsorted(lens_s, np.arange(sweep), side="right")
    for j in range(sweep):
        s = starts[j]
        b = barr[offs_s[s:] + j]
        h_s[s:] = (h_s[s:] ^ b.astype(np.uint64)) * prime  # uint64 wraps mod 2^64
    if max_len > _SWEEP_CAP:
        mask64 = (1 << 64) - 1
        for i in range(int(np.searchsorted(lens_s, _SWEEP_CAP, side="right")), total):
            hh = int(h_s[i])
            for ch in barr[offs_s[i] + _SWEEP_CAP: offs_s[i] + lens_s[i]].tobytes():
                hh = ((hh ^ ch) * 0x100000001B3) & mask64
            h_s[i] = hh
    h = np.empty_like(h_s)
    h[order] = h_s
    # Majority vote without the 8-byte ±1 expansion: unpack hash bytes to a
    # (tokens, 64) uint8 bit matrix (bit b in column b, little-endian), sum
    # set-bit COUNTS per doc, and take bit b iff 2*count_b > n_tokens —
    # identical to sign(sum(±1)) but ~8x less allocation per Arrow batch.
    bits = np.unpackbits(h.view(np.uint8).reshape(total, 8), axis=1, bitorder="little")
    nz = counts > 0
    doc_offs = np.concatenate(([0], np.cumsum(counts)[:-1]))
    ones = np.zeros((n_docs, 64), dtype=np.int64)
    ones[nz] = np.add.reduceat(bits, doc_offs[nz], axis=0, dtype=np.int64)
    majority = (2 * ones) > counts[:, None]
    packed = (majority.astype(np.uint64) * (np.uint64(1) << np.arange(64, dtype=np.uint64))).sum(axis=1)
    return pd.Series(packed.astype(np.uint64).astype(np.int64))


def hash_str64(s: str) -> int:
    """Deterministic 64-bit FNV-1a (no PYTHONHASHSEED dependence)."""
    h = 0xCBF29CE484222325
    for ch in s.encode("utf-8"):
        h ^= ch
        h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def simhash_pairs(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", max_hamming: int = 8) -> DataFrame:
    """SimHash near-dup pairs: block on the 4 x 16-bit segments (a pair within
    hamming<=3 shares at least one segment; wider radii still benefit), then
    verify hamming distance exactly."""
    base = df.select(F.col(id_col).alias("id"), simhash64(tokens(F.col(text_col))).alias("sh"))
    seg = base.select(
        "id", "sh",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("seg"), F.shiftright("sh", 16 * i).bitwiseAND(F.lit(0xFFFF)).alias("key"))
            for i in range(4)
        ])).alias("s"),
    ).select("id", "sh", F.col("s.seg").alias("seg"), F.col("s.key").alias("key"))
    a, b = seg.alias("a"), seg.alias("b")
    cand = (
        a.join(b, (F.col("a.seg") == F.col("b.seg")) & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.sh").alias("sh_a"), F.col("b.sh").alias("sh_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.withColumn("hamming", ham).filter(F.col("hamming") <= max_hamming).select("id_a", "id_b", "hamming")


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.9,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric shingle containment pairs (Broder's containment, the
    companion of Jaccard/resemblance): C(A|B) = |A∩B| / |A|.

    Catches the partial-duplication shape symmetric Jaccard misses — a
    short article quoted whole inside a long wrapper page (boilerplate
    shell, aggregator, print view) has LOW Jaccard (union dominated by
    the wrapper) but containment ~1.0 of the article in the wrapper;
    LLM-corpus dedup wants the contained copy dropped and the wrapper
    boilerplate-stripped, which requires knowing the DIRECTION.

    Same inverted-index + posting-cap machinery as ngram_jaccard_pairs
    (``max_df`` caps boilerplate-shingle blowup; with it, containment is
    measured over the discriminative shingle space, sizes recomputed
    post-cap). Emits pairs where either direction clears `threshold`:
    (id_a, id_b, c_a_in_b, c_b_in_a, relation) with relation
    'dup' (both directions — near-identical), 'a_in_b' (A is the
    contained doc), 'b_in_a'. Ratios rounded to 6 for cross-engine
    comparison; the threshold filters the unrounded values.
    """
    sh = df.select(F.col(id_col).alias("id"), shingles(F.col(text_col), n).alias("sh"))
    inv = sh.select("id", F.explode("sh").alias("g"))
    if max_df is not None:
        rare = inv.groupBy("g").agg(F.count("*").alias("df_g")).filter(F.col("df_g") <= max_df)
        inv = inv.join(rare.select("g"), "g")
        sizes = inv.groupBy("id").agg(F.count("*").alias("n_sh"))
    else:
        sizes = sh.select("id", F.size("sh").alias("n_sh"))
    a = inv.alias("a")
    b = inv.alias("b")
    pair_inter = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("nb"))
    ca = F.col("inter").cast("double") / F.col("na")
    cb = F.col("inter").cast("double") / F.col("nb")
    thr = F.lit(threshold).cast("double")
    return (
        pair_inter.join(sa, "id_a").join(sb, "id_b")
        .filter((ca >= thr) | (cb >= thr))
        .select(
            "id_a",
            "id_b",
            F.round(ca, 6).alias("c_a_in_b"),
            F.round(cb, 6).alias("c_b_in_a"),
            F.when((ca >= thr) & (cb >= thr), F.lit("dup"))
            .when(ca >= thr, F.lit("a_in_b"))
            .otherwise(F.lit("b_in_a"))
            .alias("relation"),
        )
    )
