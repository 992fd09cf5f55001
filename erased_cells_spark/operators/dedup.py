"""Deduplication operators over a documents table.

- exact:         md5 fingerprint groupBy (pure builtins; map-side combine).
- n-gram Jaccard: exact pairwise similarity via shingle-explode + equi-join —
                  correct but shuffle-heavy; the ground truth the approximate
                  paths must agree with.
- MinHash + LSH: signature (batch-vectorized numpy) → band buckets → id-only
                 bucket join → EXACT Jaccard verification of the candidates.
                 At scale the band join touches only same-bucket pairs; the
                 shuffle payload is (id, band, bucket) triples only — shingle
                 arrays are re-attached per candidate id by two narrow joins,
                 never carried through the band explode.
- SimHash:       63-bit signature built entirely from JVM builtins (explode →
                 md5 word hash → bit-count aggregation) with an exact DuckDB
                 SQL twin; 4×16-bit block buckets (any pair with hamming ≤ 3
                 shares ≥1 exact block — pigeonhole) → bit_count verify.

Shingling is pure JVM: word trigrams via transform(sequence(...)) and
xxhash64 per shingle — no Python in the hot path anywhere in this family.
Docs with fewer than n words produce NO shingles (empty set), matching the
SQL oracle's `len(w) >= n` filter convention.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from erased_cells_spark.functions.text import doc_fingerprint
from erased_cells_spark.operators.buckets import LSH_BUCKET_CAP, salt_hot_buckets
from erased_cells_spark.sources.pages import splitmix64

# ------------------------------------------------------------------- exact --
def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Duplicate groups by normalized-text fingerprint: (fp, n_docs, keep_id).
    keep_id = min id (canonical survivor)."""
    return (
        docs.select(F.col(id_col).alias("id"), doc_fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min("id").alias("keep_id"))
        .filter(F.col("n_docs") >= 2)
        .orderBy("fp")
    )


# ---------------------------------------------------------------- shingling --
SHINGLE_N = 3


_SPREAD_SLICE_BYTES = 1 << 20  # ≥1 MB of input per slice before a repartition
#                                is worth its shuffle (see guide §2: derive
#                                partitioning from input size, not a constant)


def _spread(docs: DataFrame, slice_bytes: int = _SPREAD_SLICE_BYTES) -> DataFrame:
    """Ensure the expensive per-doc stages (shingling, signatures) run at
    cluster parallelism: a large input whose scan arrived as few splits is
    repartitioned up to defaultParallelism. SCALE-ADAPTIVE (r8): the target
    is derived from the optimizer's input-size estimate (parquet scans
    report real file bytes), one slice per _SPREAD_SLICE_BYTES — a KB-scale
    table stays at its scan partitioning instead of paying a full shuffle
    round + 32-way task scheduling to parallelize microseconds of per-doc
    work (measured: the unconditional repartition costs ~0.5 s of pure
    shuffle overhead per query at sf0.1 while buying nothing). At real
    scale the estimate is large, the target is defaultParallelism, and the
    scan has plenty of splits anyway — exactly the old behavior.

    `slice_bytes` reflects the caller's per-byte COMPUTE intensity: the
    default suits cheap builtin scans (simhash's md5 votes); MinHash passes
    a much smaller slice because shingling + the 128-lane signature UDF
    cost ~50x more per input byte, so serializing them stops paying long
    before the shuffle overhead does."""
    want = docs.sparkSession.sparkContext.defaultParallelism
    try:
        est = int(docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        want = min(want, max(1, est // slice_bytes))
    except Exception:
        pass  # no estimate (non-SQL plan) → keep the defaultParallelism target
    if want > 1 and docs.rdd.getNumPartitions() < want:
        return docs.repartition(want)
    return docs


def shingles_expr(text: Column, n: int = SHINGLE_N, bound: bool = True) -> Column:
    """Distinct xxhash64 hashes of word n-gram shingles — pure JVM builtin
    expression (no Python worker). Docs shorter than n words get an EMPTY
    shingle set, the same convention as the SQL oracle's `len(w) >= n`
    filter (they participate in no Jaccard pairs).

    BOUND EVALUATION (r4, measured 9× at n=3 / 14× at n=13): the token
    array is bound as a LAMBDA VARIABLE via transform(array(split(...)),
    w -> ...), so the split runs once per row. Referencing the split
    expression directly inside the gram lambda looks identical but
    re-evaluates the split per (position × k) — higher-order functions
    evaluate interpreted, with no common-subexpression elimination across
    the lambda boundary.

    `bound=False` restores the inline (slow) form: required when the
    result feeds a pandas UDF inside a STATEFUL STREAMING plan — there the
    projection collapse puts the outer HOF wrapper into the Python UDF's
    argument and Spark fails to extract the UDF ([INTERNAL_ERROR] Cannot
    evaluate expression: minhash_udf(transform(...))); batch plans extract
    it fine."""
    def from_tokens(w: Column) -> Column:
        grams = F.transform(
            F.sequence(F.lit(0), F.size(w) - n),
            lambda i: F.xxhash64(F.concat_ws(" ", *[F.get(w, i + k) for k in range(n)])),
        )
        return F.when(F.size(w) >= n, F.array_distinct(grams)).otherwise(
            F.array().cast("array<bigint>")
        )

    if not bound:
        return from_tokens(F.split(text, " "))
    return F.get(F.transform(F.array(F.split(text, " ")), from_tokens), 0)


def shingle_set(text: str, n: int = SHINGLE_N) -> set:
    """String-level shingle set (pytest brute-force twin). Jaccard over the
    hashed sets equals Jaccard over these (xxhash64 collision-free at corpus
    scale), so the oracle works on strings directly."""
    words = text.split(" ")
    if len(words) < n:
        return set()
    return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    stop_gram_df_cap: int | None = None,
) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard ≥ threshold: (id_a, id_b, jaccard).
    id_a < id_b. Shuffle profile: explode + equi-join on shingle hash.

    GROUND-TRUTH TWIN, not a registered query (r5): a shingle shared by m
    docs emits m² intermediate join rows, so the exact form is quadratic on
    hot shingles by construction — the registered scale path is
    minhash_lsh_pairs. For corpora where the exact pass is still wanted at
    size, `stop_gram_df_cap` applies standard STOP-GRAM removal: shingles
    whose document frequency exceeds the cap are dropped from the shingle
    space before the join (similarity is then Jaccard over the informative
    shingles — sizes and intersections use the same filtered space, so the
    measure stays a true Jaccard, just on a reduced vocabulary; the
    unguarded default cap=None is the byte-exact oracle twin)."""
    sh = (
        _spread(docs, slice_bytes=128 << 10)
        .select(F.col(id_col).alias("id"), shingles_expr(F.col(text_col)).alias("shs"))
        .select("id", F.explode("shs").alias("sh"))
    )
    if stop_gram_df_cap is not None:
        hot = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > stop_gram_df_cap)
            .select("sh")
        )
        sh = sh.join(F.broadcast(hot), "sh", "left_anti")
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    sz_a = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    )


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    stats: dict | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard >= threshold via PREFIX FILTERING (the
    AllPairs/PPJoin family, Bayardo et al. WWW'07): identical output to
    ngram_jaccard_pairs, but the candidate join runs over each doc's
    PREFIX shingles only — the first p = sz - floor(threshold*sz) + 1
    shingles under the global (document-frequency asc, shingle asc)
    order. Completeness: J(A,B) >= t implies |A inter B| >= ceil(t*|A|)
    (o >= t(|A|+|B|-o) and |B| >= o give o >= t|A|), so the shared
    shingles cannot all hide in A's last ceil(t*|A|)-1 positions — A's
    prefix contains a shared shingle, and symmetrically for B; under one
    global total order the smallest shared shingle therefore lies in
    BOTH prefixes, so the prefix-prefix equi-join finds every qualifying
    pair. floor (not ceil) of the float product errs only toward a
    LONGER prefix, so float rounding can never cost a pair.

    Why it scales where the plain exact join cannot: a stop-shingle
    shared by m docs emits m^2 join rows in ngram_jaccard_pairs, but
    rarest-first ranking pushes hot shingles out of prefixes — the
    quadratic blowup now happens only on RARE shingles, where m is
    small. Candidates are then verified EXACTLY (one join back to full
    shingle sets + the cross-multiplied threshold), so output equals the
    brute-force pair set, shingle for shingle — unlike MinHash-LSH there
    is no probabilistic recall story to audit.

    `stats` (optional dict) receives {"candidates": ..., "pairs": ...}
    — the measured pruning, driver-side scalars only."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    from pyspark.sql import Window

    sh = (
        _spread(docs, slice_bytes=128 << 10)
        .select(F.col(id_col).alias("id"), shingles_expr(F.col(text_col)).alias("shs"))
        .select("id", F.explode("shs").alias("sh"))
    )
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    ranked = (
        sh.join(dfreq, "sh")
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("id").orderBy("df", "sh")),
        )
        .join(sizes, "id")
    )
    prefix = ranked.filter(
        F.col("rn") <= F.col("sz") - F.floor(F.col("sz") * F.lit(threshold)) + 1
    ).select("id", "sh")
    pa = prefix.alias("pa")
    pb = prefix.alias("pb")
    cand = (
        pa.join(pb, (F.col("pa.sh") == F.col("pb.sh")) & (F.col("pa.id") < F.col("pb.id")))
        .select(F.col("pa.id").alias("id_a"), F.col("pb.id").alias("id_b"))
        .distinct()
    )
    sa = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col("id").alias("__idb"), F.col("sh").alias("sh_b"))
    inter = (
        cand.join(sa, "id_a")
        .join(sb, (F.col("id_b") == F.col("__idb")) & (F.col("sh_a") == F.col("sh_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sz_a = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    )
    if stats is not None:
        stats["candidates"] = cand.count()
        stats["pairs"] = out.count()
    return out


# ------------------------------------------------------------------ MinHash --
N_HASHES = 128
LSH_BANDS = 32  # r = 4 rows/band → s-curve threshold ≈ (1/32)^(1/4) ≈ 0.42
_SEEDS = splitmix64(np.arange(1, N_HASHES + 1, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15))
_EMPTY_SIG = np.full(N_HASHES, np.uint64(0xFFFFFFFFFFFFFFFF), dtype=np.uint64)


_MINHASH_CHUNK = 1 << 16  # shingles per vectorized slab: 64k × 128 lanes
#                           ≈ 64 MB of hash matrix — big enough to amortize
#                           numpy dispatch, small enough to stay cache/RAM-sane
#                           regardless of the Arrow batch size


@pandas_udf(ArrayType(LongType()))
def minhash_udf(shs: pd.Series) -> pd.Series:
    """128 min-values of splitmix64(x ^ seed_i) per shingle set — vectorized
    in bounded multi-row slabs (flattened hash matrix + segment minima via
    np.minimum.reduceat); no per-row Python hashing, no unbounded temporaries
    (a whole-batch matrix at 10k docs × ~200 shingles would be ~1 GB)."""
    arrs = [np.asarray(a, dtype=np.int64).astype(np.uint64) for a in shs]
    lens = np.array([len(a) for a in arrs], dtype=np.int64)
    out = np.tile(_EMPTY_SIG, (len(arrs), 1))
    i = 0
    while i < len(arrs):
        j, tot = i, 0
        while j < len(arrs) and (tot == 0 or tot + lens[j] <= _MINHASH_CHUNK):
            tot += int(lens[j])
            j += 1
        seg = lens[i:j]
        nz = seg > 0
        if tot and nz.any():
            flat = np.concatenate([a for a in arrs[i:j] if len(a)])
            m = splitmix64(flat[:, None] ^ _SEEDS[None, :])  # (tot, 128)
            starts = np.zeros(int(nz.sum()), dtype=np.int64)
            np.cumsum(seg[nz][:-1], out=starts[1:])
            out[i:j][nz] = np.minimum.reduceat(m, starts, axis=0)
        i = j
    sig = (out >> np.uint64(1)).astype(np.int64)  # >>1: fits signed long
    return pd.Series(list(sig))


def minhash_signature(sh_hashes: np.ndarray) -> np.ndarray:
    """Single-set twin of minhash_udf (pytest oracle)."""
    if len(sh_hashes) == 0:
        return (_EMPTY_SIG >> np.uint64(1)).astype(np.int64)
    m = splitmix64(sh_hashes.astype(np.uint64)[:, None] ^ _SEEDS[None, :])
    return (m.min(axis=0) >> np.uint64(1)).astype(np.int64)


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    caches: list | None = None,
    bucket_cap: int = LSH_BUCKET_CAP,
    hot_report: list | None = None,
) -> DataFrame:
    """MinHash-LSH candidates → exact-Jaccard verification: precision is
    exact (every output pair is verified), recall is the LSH s-curve — with
    32 bands × 4 rows the curve midpoint is ≈0.42, so pairs with jaccard
    well above it are found with overwhelming probability (j=0.9 → miss
    ≈1e-15) while pairs near/below the midpoint can be missed even if they
    clear `threshold` (j=0.6 → ≈1% miss). Equality with the exact operator
    therefore holds when the corpus' true duplicates sit far above the
    midpoint (the planted-dup fixtures are all j ≥ 0.9); for a gray-zone
    workload, raise N_HASHES / re-tune bands.

    Shuffle sizing: the band explode and self-join carry ONLY (id, band,
    bucket) — 3 longs/row — and the (distinct) candidate pairs re-attach the
    shingle arrays by id with two narrow joins before verification, so the
    corpus shingle volume crosses the wire once per side, not once per band.

    Cache lifetime (ADVICE r2, tightened r4): the returned DataFrame
    references two cached intermediates (shingle sets; band triples) that
    each feed ≥2 plan branches — both are required for
    correctness-with-one-computation. CALLERS OWN THE LIFETIME: pass
    `caches=[]` and the two cached DataFrames are appended to it so the
    caller can `unpersist()` them after materializing the result (the
    registered queries do exactly that); without it, a long-lived session
    should `spark.catalog.clearCache()` after materialization."""
    r = N_HASHES // LSH_BANDS
    sh = _spread(docs, slice_bytes=64 << 10).select(
        F.col(id_col).alias("id"), shingles_expr(F.col(text_col)).alias("shs")
    ).cache()
    # empty shingle sets (short docs) share the all-max signature — exclude
    # them up front or every short doc band-joins every other short doc.
    sig = sh.filter(F.size("shs") > 0).select("id", minhash_udf(F.col("shs")).alias("sig"))
    # bands is cached: the self-join scans it from BOTH sides, and the cache
    # stops the minhash UDF + the bucket-hash expression running 2×. Cached
    # payload is (id, band, bucket) — 3 longs/row, NOT shingle arrays. The
    # bucket hash is ONE compact expression (xxhash64 over an array slice
    # inside transform), not 32 unrolled hash calls — the unrolled form costs
    # multiple seconds of Janino codegen compile alone.
    bands = sig.select(
        "id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)),
                lambda b: F.xxhash64(F.slice("sig", b * r + 1, r)),
            )
        ).alias("band", "bucket"),
    ).cache()
    # hot-bucket guard (see buckets.py): one boilerplate template putting m
    # docs in a band bucket would make the self-join below emit m² rows —
    # salt oversized buckets so the worst case is O(m·cap). On healthy
    # corpora the hot list collects empty and `guarded` is bands + a
    # literal 0 — the self-join keeps its unguarded shape and cost.
    guarded = salt_hot_buckets(
        bands, ["band", "bucket"], id_col="id", cap=bucket_cap, report=hot_report
    )
    if caches is not None:
        caches.extend([sh, bands])
    a = guarded.alias("a")
    b = guarded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sh_a = sh.select(F.col("id").alias("id_a"), F.col("shs").alias("shs_a"))
    sh_b = sh.select(F.col("id").alias("id_b"), F.col("shs").alias("shs_b"))
    pairs = cand.join(sh_a, "id_a").join(sh_b, "id_b")
    # exact verification with set arithmetic on the shingle arrays (builtin)
    inter = F.size(F.array_intersect("shs_a", "shs_b")).cast("double")
    union = F.size(F.array_union("shs_a", "shs_b")).cast("double")
    return (
        pairs.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    )


# ------------------------------------------------------------------ SimHash --
SIMHASH_BITS = 63  # bits 0..62: signature stays in a signed 64-bit lane on
#                    both engines (DuckDB BIGINT has no unsigned-64 shift twin)


SIMHASH_MAX_WORDS = 1 << 15  # enforced: packed 16-bit lanes are exact below this


def simhash_df(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, sim): 63-bit SimHash — PURE JVM builtins, no Python anywhere:
    explode words → md5-derived 64-bit word hash per occurrence (hi/lo
    32-bit halves via conv, computed map-side) → count-weighted per-bit
    majority vote in ONE groupBy(id). The md5 base makes the whole pipeline
    exactly expressible in DuckDB SQL (the CORRECTNESS oracle); bit j of
    the word hash = bit j of (hi·2³² + lo). Duplicate words vote once per
    occurrence (classic SimHash weighting) — summing the bit votes per
    occurrence equals summing cnt-weighted votes per distinct word, so the
    signature is identical to the r7 two-shuffle form while the only
    shuffle carries 17 packed longs per doc."""
    words = _spread(docs, slice_bytes=256 << 10).select(
        F.col(id_col).alias("id"), F.explode(F.split(F.col(text_col), " ")).alias("w")
    )
    # ONE shuffle total (r8, guide §2.4): hash every occurrence MAP-SIDE and
    # group directly by id — the r7 shape pre-aggregated occurrence counts
    # per (id, word) first, which de-duplicated md5 calls but paid a second
    # full shuffle of O(words) rows keyed by (id, word-string). md5 on a
    # short word is ~100 ns; a shuffle round is the expensive resource at
    # every scale (map×reduce block quadratic growth, §2.2). Per-occurrence
    # hashing sums the identical per-bit votes (±1 per occurrence ≡ ±cnt
    # per distinct word), so the signature is bit-identical; the surviving
    # shuffle carries 17 longs per DOC (packed partial sums), not per word.
    h = words.select("id", F.md5("w").alias("d")).select(
        "id",
        F.expr("cast(conv(substring(d, 1, 8), 16, 10) AS bigint)").alias("hi"),
        F.expr("cast(conv(substring(d, 9, 8), 16, 10) AS bigint)").alias("lo"),
    )

    # The signature expressions are built as SQL STRINGS (one JVM parse per
    # aggregate) rather than Column-builder chains: the 63-bit tree costs
    # thousands of py4j round-trips as Columns — measured 2.2 s of pure
    # driver time per query construction at sf0.1, dwarfing the executor
    # work. One F.expr per aggregate collapses that to milliseconds.
    def bit_sql(j: int) -> str:
        src, off = ("lo", j) if j < 32 else ("hi", j - 32)
        return f"(shiftrightunsigned({src}, {off}) & 1)"

    # SWAR-packed bit counters: 4 × 16-bit lanes per long → 16 packed sums
    # (+ count) instead of 63 independent sums. Each input row updates 16
    # aggregation buffer slots instead of 63 (and the shuffle rows carry 17
    # longs instead of 64) — measured ~25% faster end-to-end at sf0.1.
    # Every lane sum is bounded by the doc's total word occurrences n, so
    # n < 2^15 guarantees (a) no 16-bit lane ever carries into its neighbor
    # (bound 2^16) and (b) the packed long sum (lane 3 shifted by 48) stays
    # below 2^63. The bound is ENFORCED below with raise_error — an
    # oversized doc fails loudly instead of silently corrupting lanes.
    # Wrap safety rests on that guard alone: a non-ANSI session wraps the
    # packed sum silently, so an edit to the lane width or count must
    # re-derive SIMHASH_MAX_WORDS to reject every n that can carry or wrap.
    aggs = [F.expr("count(*) AS n")]
    for gi in range(16):
        terms = [
            f"shiftleft({bit_sql(4 * gi + t)}, {16 * t})"
            for t in range(4)
            if 4 * gi + t < SIMHASH_BITS
        ]
        aggs.append(F.expr(f"sum({' + '.join(terms)}) AS p{gi}"))
    g = h.groupBy("id").agg(*aggs)
    # majority vote per lane via the sign bit of (n - 2·cnt_j): negative ⟺
    # 2·cnt_j > n ⟺ signature bit j set — branch-free, one expression for
    # the whole 63-bit reconstruction.
    sim_terms = []
    for j in range(SIMHASH_BITS):
        gi, t = divmod(j, 4)
        cnt = f"(shiftrightunsigned(p{gi}, {16 * t}) & 65535)"
        sim_terms.append(f"shiftleft(shiftrightunsigned(n - 2 * {cnt}, 63), {j})")
    guard = (
        f"CASE WHEN n < {SIMHASH_MAX_WORDS} THEN ({' + '.join(sim_terms)}) "
        f"ELSE raise_error(concat('simhash: doc ', cast(id AS string), ' has ', "
        f"cast(n AS string), ' word occurrences (>= 2^15); "
        f"packed 16-bit lane counters would overflow')) END"
    )
    return g.select("id", F.expr(guard).alias("sim"))


def simhash_np(text: str) -> int:
    """Single-doc brute-force twin of simhash_df (pytest oracle)."""
    v = np.zeros(SIMHASH_BITS, dtype=np.int64)
    for w in text.split(" "):
        d = hashlib.md5(w.encode("utf-8")).hexdigest()
        h = (int(d[:8], 16) << 32) | int(d[8:16], 16)
        for j in range(SIMHASH_BITS):
            v[j] += 1 if (h >> j) & 1 else -1
    return sum(1 << j for j in range(SIMHASH_BITS) if v[j] > 0)


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    caches: list | None = None,
    bucket_cap: int = LSH_BUCKET_CAP,
    hot_report: list | None = None,
) -> DataFrame:
    """Near-dup pairs with simhash hamming distance ≤ max_hamming (≤ 3).
    Block index: 4×16-bit chunks of the 63-bit signature — by pigeonhole any
    pair within hamming 3 shares ≥1 exact chunk, so the bucket join has FULL
    recall for max_hamming ≤ 3 (asserted) — but ONLY while no block exceeds
    `bucket_cap`: inside a salted hot block a pair whose sole shared chunk
    lands in differing salts is never generated (pass `hot_report=[]` and
    check it is empty when full recall must hold, as the oracle paths do).

    Hot-block guard: the expected block population is N/2¹⁶ — at 10⁹ docs
    that is ~15k docs per (chunk, val) even WITHOUT boilerplate skew, so the
    block self-join is salted via buckets.salt_hot_buckets (O(m·cap) worst
    case, see buckets.py). The guarded block table is cached (it feeds both
    join sides); pass `caches=[]` to own the unpersist."""
    sh = simhash_df(docs, id_col, text_col)
    return hamming_block_pairs(
        sh,
        max_hamming=max_hamming,
        caches=caches,
        bucket_cap=bucket_cap,
        hot_report=hot_report,
    )


def hamming_block_pairs(
    sigs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "id",
    sig_col: str = "sim",
    caches: list | None = None,
    bucket_cap: int = LSH_BUCKET_CAP,
    hot_report: list | None = None,
) -> DataFrame:
    """Generic hamming-block candidate join over ANY ≤64-bit signature
    column (shared by SimHash text near-dup and dHash image near-dup):
    explode 4×16-bit chunks, guarded bucket self-join, exact
    bit_count(XOR) verification. By pigeonhole any pair within hamming 3
    shares ≥1 exact chunk, so recall is FULL for max_hamming ≤ 3 (asserted)
    — but ONLY while no block exceeds `bucket_cap`: hot blocks are salted
    (buckets.py), and a pair whose only shared chunk lands in a hot bucket
    with differing salts is never generated. Callers that assert set
    equality against an all-pairs ground truth (the oracle paths) must pass
    `hot_report=[]` and verify it stays empty. Expected block population is
    N/2¹⁶ — at 10⁹ items that is ~15k per (chunk, val) even without skew. The guarded block table is cached (it feeds both join
    sides); pass `caches=[]` to own the unpersist."""
    if max_hamming > 3:
        raise ValueError(
            f"max_hamming={max_hamming}: the 4-block index guarantees recall only for ≤ 3"
        )
    # cache the NARROW signatures (one row per item) — the signature
    # aggregation underneath is the costly stage and feeds the guard's
    # count job plus both self-join sides; the 4-way block explode is a
    # cheap JVM projection recomputed from the cache (caching the exploded
    # blocks instead measured 3× the materialization cost for no win)
    sh = sigs.select(F.col(id_col).alias("id"), F.col(sig_col).alias("sim")).cache()
    blocks = sh.select(
        "id",
        "sim",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk"),
                    F.shiftrightunsigned(F.col("sim"), c * 16).bitwiseAND(F.lit(0xFFFF)).alias("val"),
                )
                for c in range(4)
            ])
        ).alias("cb"),
    ).select("id", "sim", "cb.chunk", "cb.val")
    # Guard counts run over the exploded blocks in ONE scan that also
    # materializes the narrow cache. (Measured alternative — a union of 4
    # per-chunk groupBys straight off `sh` — is 1.5× SLOWER here: the four
    # scans race the not-yet-materialized cache inside one job, so each
    # recomputes the signature aggregation. The explode is a cheap JVM
    # projection; the count shuffle is ≤4·2¹⁶ keys after map-side combine.)
    guarded = salt_hot_buckets(
        blocks, ["chunk", "val"], id_col="id", cap=bucket_cap, report=hot_report
    )
    if caches is not None:
        caches.append(sh)
    a, b = guarded.alias("a"), guarded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.sim").alias("sim_a"), F.col("b.sim").alias("sim_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))).cast("long")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    )


# ------------------------------------------------------ chunk-level dedup --
def chunk_dedup(
    docs: DataFrame,
    *,
    words_per_chunk: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level duplicate-SPAN removal: CCNet paragraph dedup / C4's
    repeated-span rule re-expressed over fixed W-word chunks (crawl text
    arrives newline-free after extraction, so the word chunk is the
    deterministic stand-in for the paragraph boundary).

    Keeps exactly ONE copy of every distinct chunk corpus-wide — the
    occurrence with the smallest (doc_id, chunk_no) — and reassembles each
    doc from its surviving chunks in order. Returns one row per input doc:
    (doc_id, n_chunks, n_kept, kept_md5), kept_md5 = md5 of the reassembled
    text (md5('') when every chunk of the doc was claimed elsewhere), so
    the full reassembly — not just counts — is inside the checked surface.

    Plan (two shuffles, both key-skinny):
      1. chunking is pure JVM array work on the scan (split → transform/
         slice/array_join → posexplode) — no Python, no shuffle;
      2. global keep-one is ONE row_number window partitioned by md5(chunk)
         ordered by (doc_id, chunk_no) — the shuffle key is the 32-char
         digest, and each partition group is the duplicate set of one
         span (tiny unless the corpus repeats one boilerplate span
         pathologically — the same hot profile as an LSH bucket, same
         salting remedy);
      3. reassembly is one groupBy(doc_id) whose collect_list holds only
         that doc's own kept chunks (bounded by doc length, not corpus).
    """
    if words_per_chunk < 1:
        raise ValueError(f"words_per_chunk must be >= 1, got {words_per_chunk}")
    W = words_per_chunk
    words = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(F.size(words) / F.lit(float(W))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(words, i * F.lit(W) + 1, W), " "),
    )
    exploded = docs.select(
        F.col(id_col).alias("doc_id"), F.posexplode(chunks).alias("chunk_no", "chunk")
    )
    win = Window.partitionBy(F.md5(F.col("chunk"))).orderBy("doc_id", "chunk_no")
    ranked = exploded.withColumn("rn", F.row_number().over(win))
    kept_struct = F.when(
        F.col("rn") == 1, F.struct(F.col("chunk_no"), F.col("chunk"))
    )  # else NULL — collect_list drops nulls
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(kept_struct)),
                        lambda s: s.getField("chunk"),
                    ),
                    " ",
                )
            ).alias("kept_md5"),
        )
        .orderBy("doc_id")
    )


# -------------------------------------------------- numpy oracles (pytest) --
def jaccard_pairs_np(ids, texts, threshold: float):
    sets = [shingle_set(t) for t in texts]
    out = []
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            a, b = sets[i], sets[j]
            if not a or not b:
                continue
            jac = len(a & b) / len(a | b)
            if jac >= threshold:
                lo, hi = sorted((ids[i], ids[j]))
                out.append((lo, hi, jac))
    return sorted(out)
