"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference surface (its closest op is RawSimilarInPlace —
streaming/dsl/mmlib/algs/SQLRawSimilarInPlace.scala, pairwise doc
similarity); these are designed for 100 TB corpora:

- ExactDedup        hash-groupBy on content digest; one shuffle.
- MinHashDedup      word-shingle MinHash + LSH banding; candidate pairs
                    only within band buckets (no O(n²) cross join).
- SimHashDedup      64-bit SimHash fingerprints; dup buckets on equality.
- NgramJaccardDedup inverted-index n-gram join (exact Jaccard) — the
                    verify stage after LSH candidates.

All hashing defaults to a *portable* 60-bit hash derived from md5
(`conv(substr(md5(seed||':'||s),1,15),16,10)`) so the DuckDB oracle can
reproduce the exact same signatures.  Every hashing operator takes
`hashImpl="md5" | "xxhash64"`: flip to xxhash64 in production — one
JVM xxhash64 pass per value instead of md5 + hex + base-conv (the md5
tax on every shingle is real money at 100 TB), same 60-bit positive
range, not reproducible outside Spark (so not the oracle default).
The dedup OUTCOME (pair/survivor sets) is impl-independent — pinned by
tests/test_dedup_hashimpl.py.

Scale design notes (local[32] tests, 1000-executor target):
- Shingling/minhash is per-row, pure JVM codegen (`transform`/
  `array_min` over arrays — no explode, no Python).
- The only shuffles are the LSH band groupBy (keys ~uniform by
  construction — hashes), and the final pair-dedup groupBy.
- Band buckets with huge membership (degenerate content) would skew the
  pair join; `maxBucketSize` caps them (drops pathological buckets,
  logged via a count col) — same guard as industrial LSH dedup
  pipelines (e.g. the deduplicate-text-datasets approach).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import Column, functions as F

from streamingpro_spark.operators.base import (ETAlgorithm, eager_materialize,
                                                ensure_parallelism, get_bool,
                                                get_float, get_int,
                                                script_cache,
                                                would_eager_materialize)
from streamingpro_spark.operators.registry import register_et

if TYPE_CHECKING:
    from pyspark.sql import DataFrame


# ---------------------------------------------------------------------------
# shared building blocks (also used by __spark_entry__ queries)
# ---------------------------------------------------------------------------

def portable_hash64(col: Column, seed: int | str = 0,
                    impl: str = "md5") -> Column:
    """60-bit positive hash.  impl="md5" (default) is reproducible in
    DuckDB: CAST(CONCAT('0x', substr(md5(seed||':'||s),1,15)) AS BIGINT).
    impl="xxhash64" is the production path — one JVM hash pass, no hex
    decode — pmod'ed into the same [0, 2^60) range so downstream bit
    and band arithmetic behaves identically.  Null input hashes to NULL
    under BOTH impls: md5(concat) null-propagates naturally, but Spark's
    xxhash64 SKIPS null arguments (hashing just the seed literal to a
    non-null constant), so the xxhash64 branch needs an explicit guard —
    otherwise null-key rows silently change behavior between impls
    (e.g. a NULL < gate filter drops them under md5 but not xxhash64)."""
    if impl == "xxhash64":
        return F.when(col.isNull(), F.lit(None).cast("long")).otherwise(
            F.pmod(F.xxhash64(F.lit(f"{seed}:"), col), F.lit(1 << 60)))
    payload = F.concat(F.lit(f"{seed}:"), col)
    return F.conv(F.substring(F.md5(payload), 1, 15), 16, 10).cast("long")


def hash_impl(params) -> str:
    """Validate the operator-level `hashImpl` param (md5 | xxhash64)."""
    impl = params.get("hashImpl", "md5")
    if impl not in ("md5", "xxhash64"):
        raise ValueError(
            "hashImpl must be 'md5' (oracle-portable default) or "
            "'xxhash64' (production), got %r" % impl)
    return impl


def tokens_col(text: Column) -> Column:
    return F.split(F.lower(text), r"\s+")


def words_col(text: Column) -> Column:
    """tokens_col with empty entries dropped: leading/trailing
    whitespace (or a terminal newline) makes split emit '' tokens,
    which inflated n_tokens counts by 1 per padded side (round-9 fix;
    GopherQualityFilter already counted this way)."""
    return F.filter(tokens_col(text), lambda w: w != "")


def words_count_col(text: Column) -> Column:
    """size(words_col(text)) as ONE codegen regexp pass (optimization
    round 11): counting non-whitespace runs equals counting non-empty
    split tokens, without materializing the token array or running the
    interpreted higher-order filter per token — measured 1.6x faster
    over the sf0.1 corpus, identical on every edge (empty text -> 0,
    null -> null, padded/multi-space runs).  Use when only the COUNT
    is needed; keep words_col when the words themselves are."""
    return F.regexp_count(text, F.lit(r"\S+"))


def shingles_col(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams as an array — pure array functions, no explode.

    Built by zipping n shifted slices of the token array and
    concatenating element-wise (optimization round 11): the previous
    per-position `slice(toks, i, n)` inside the transform lambda was an
    interpreted array copy PER SHINGLE — the zip form does n slices per
    DOCUMENT and one 3-string concat per shingle, measured ~1.8x faster
    over the sf0.1 corpus with byte-identical output (including the
    legacy edge cases: a doc shorter than n emits its single truncated
    shingle; null text emits [''] — the coalesce reproduces the old
    concat_ws(null) behavior, pinned by test_shingles_col_zip_edges)."""
    toks = F.coalesce(tokens_col(text), F.array(F.lit("")))
    length = F.greatest(F.size(toks) - (n - 1), F.lit(1))
    parts = [F.slice(toks, j + 1, length) for j in range(n)]
    return F.array_distinct(
        F.transform(F.arrays_zip(*parts),
                    lambda s: F.concat_ws(" ", *[s[str(j)]
                                                 for j in range(n)])))


#: Mersenne prime for the universal-hash family
MH_P61 = (1 << 61) - 1


def mh_constants(k: int) -> tuple[list[int], list[int]]:
    """Deterministic (a_j, b_j) for the k-member universal-hash family
    h_j(m) = (a_j*m + b_j) mod P61 over a 30-bit base hash.  a_j odd and
    < 2^31 so a_j*m < 2^61 stays in BIGINT on both engines."""
    a = [((1103515245 * (j + 1)) % (1 << 30)) * 2 + 1 for j in range(k)]
    b = [(2654435761 * (j + 1)) % MH_P61 for j in range(k)]
    return a, b


def minhash_signature_df(df: "DataFrame", id_col: str, text_col: str,
                         num_hashes: int, n: int = 3,
                         impl: str = "md5") -> "DataFrame":
    """(__id, __mh array<long>) MinHash signatures, 100% JVM-side.

    Shape: explode shingles → ONE md5 base hash → k universal-hash
    derivations (a_j*m + b_j mod P61, the textbook one-permutation
    family) → groupBy(id) min-agg.  The partial aggregation combines
    map-side, so the shuffle carries one row per document, not per
    shingle.  Measured (sf0.1): k md5 calls per shingle was the dominant
    signature cost — deriving k hashes from one md5 cut the stage 6.2s →
    4.0s; an Arrow/pandas hashlib kernel was rejected earlier for
    worker-spawn latency variance (0.6s-50s under load) vs deterministic
    JVM codegen.  Bit-identical in DuckDB: base =
    CAST(md5hex[:8] AS BIGINT) % 2^30, then the same (a,b) arithmetic
    (mh_constants)."""
    ex = df.select(F.col(id_col).alias("__id"),
                   F.explode(shingles_col(F.col(text_col), n)).alias("__s"))
    if impl == "xxhash64":
        base = F.pmod(F.xxhash64(F.lit("mh:"), F.col("__s")),
                      F.lit(1 << 30))
    else:
        base = (F.conv(F.substring(
            F.md5(F.concat(F.lit("mh:"), F.col("__s"))), 1, 8), 16, 10)
            .cast("long") % F.lit(1 << 30))
    ex = ex.select("__id", base.alias("__m"))
    a, b = mh_constants(num_hashes)
    # one agg expression building the array directly (optimization
    # round 12, guide §1.2 driver-side): the k named min-aggs + a
    # follow-up array select cost one extra Dataset creation, and every
    # creation re-analyzes the whole subtree (the shingle zip is a big
    # expression) — per-invocation Catalyst cost, same values
    return ex.groupBy("__id").agg(F.array(*[
        F.min((F.col("__m") * F.lit(a[j]) + F.lit(b[j])) % F.lit(MH_P61))
        for j in range(num_hashes)]).alias("__mh"))


def minhash_band_rows(src, id_col: str, col: str, k: int, bands: int,
                      n: int, impl: str):
    """(__id, __band, __bh) LSH band rows — the unit MinHashDedup
    buckets on.  ONE pass computes the signature (the hash work) and
    explodes the band structs — a unionAll of per-band selects would
    rescan and recompute the signature once per band (observed 7× in
    bench).  Shared by MinHashDedup (inline) and MinHashSignatures
    (persisted for incremental reuse)."""
    r = k // bands
    sig = minhash_signature_df(src, id_col, col, k, n, impl)
    band_struct = F.array(*[
        F.struct(
            F.lit(b).alias("__band"),
            portable_hash64(
                F.concat_ws("_", *[F.col("__mh")[b * r + j]
                                   .cast("string") for j in range(r)]),
                f"band{b}", impl).alias("__bh"))
        for b in range(bands)])
    # inline() explodes the struct array straight into (__band, __bh)
    # columns — one Dataset creation instead of explode + destructure
    # (round 12; same rows, same schema, one less analysis pass over
    # the signature subtree)
    return sig.select(F.col("__id"), F.inline(band_struct))


# ---------------------------------------------------------------------------
# ETs
# ---------------------------------------------------------------------------

@register_et("ExactDedup")
class ExactDedup(ETAlgorithm):
    """Exact dedup on a content digest: keep the min-id row per digest.
    One shuffle on the digest (uniform keys — md5). `run docs as
    ExactDedup.`` where contentCol="text"`."""

    def train(self, df, path, params, context=None):
        col = params.get("contentCol", "text")
        id_col = params.get("idCol")
        # xxhash64: skip md5's hex materialization — the digest only
        # keys a groupBy, so raw longs are strictly cheaper.  TWO
        # independently-seeded hashes, because ExactDedup's contract is
        # EXACTNESS: a single 64-bit key reaches ~50% collision odds by
        # ~4B docs (birthday bound) — silent data loss at exactly the
        # corpus size the production impl targets.  128 combined bits
        # restores md5-class negligibility.
        digest = (F.struct(F.xxhash64(F.col(col)),
                           F.xxhash64(F.lit("ed2:"), F.col(col)))
                  if hash_impl(params) == "xxhash64"
                  else F.md5(F.col(col)))
        if id_col:
            # deterministic survivor: min id per digest, then semi-join
            survivors = (df.withColumn("__digest", digest)
                           .groupBy("__digest")
                           .agg(F.min(id_col).alias(id_col)))
            return (df.join(survivors, [id_col], "left_semi"))
        return df.withColumn("__digest", digest).dropDuplicates(["__digest"]) \
                 .drop("__digest")

    def explain_params(self):
        return [("contentCol", "column to fingerprint", "text"),
                ("idCol", "id column; survivor = min id per digest", ""),
                ("hashImpl", "md5 (oracle) | xxhash64 (production)", "md5")]


@register_et("BloomFilterDedup")
class BloomFilterDedup(ETAlgorithm):
    """Incremental dedup: drop rows of the INPUT batch whose content
    already exists in a REFERENCE corpus (`refTable`), without a
    big-big join.  The daily-ingest shape at 100 TB: the reference is
    the multi-TB history, the input is today's increment — an exact
    anti-join would shuffle the history every day; a bloom sketch
    prunes the probe to candidate duplicates first.

    Plan (no reference counterpart; standard incremental-ingest
    pattern):
      1. BUILD (one pass over ref, 100% JVM): k = `numHashes` bit
         positions per row (`pmod(xxhash64(seed_j, content), m)`),
         explode → `groupBy(pos >> 6)` + `bit_or` of the bit masks —
         ≤ m/64 word rows collected to the driver (m/8 bytes of
         bitmap, e.g. ~1.2 GB for 10^9 items at fpp=0.01 — broadcast
         territory, never a shuffle of the corpus itself).
      2. PROBE (map-only): the same k positions on the input side
         (JVM), membership tested against the broadcast bitmap in one
         vectorized Arrow kernel (`might_dup`).
      3. VERIFY (`mode="filter"`): bloom-positive rows only — the true
         dup rate + fpp fraction of the input — semi-join the ref on
         raw content to confirm, then anti-join the confirmed keys
         out.  Output is EXACT (false positives are verified away),
         which is why the contract query hash-matches a plain
         `NOT EXISTS` oracle.

    `mode="annotate"` adds the raw `might_dup` bloom answer instead
    (probabilistic — no oracle).  Null content is never a duplicate
    (kept), matching NOT EXISTS semantics.  Sizing: m from
    `expectedItems`/`fpp` (standard -n·ln p/ln²2), k = m/n·ln 2;
    `expectedItems` defaults to a ref count() pass."""

    def train(self, df, path, params, context=None):
        import math
        spark = df.sparkSession
        ref_name = params.get("refTable", "")
        if not ref_name:
            raise ValueError(
                'BloomFilterDedup needs refTable="<view>" — the corpus '
                "to dedup against")
        ref = spark.table(ref_name)
        col = params.get("contentCol", "text")
        rcol = params.get("refContentCol", col)
        mode = params.get("mode", "filter")
        if mode not in ("filter", "annotate"):
            raise ValueError("mode must be filter | annotate")
        fpp = get_float(params, "fpp", 0.01)
        if not 0.0 < fpp < 1.0:
            raise ValueError("fpp must be in (0, 1)")
        n_exp = get_int(params, "expectedItems", 0)
        ref_nn = ref.filter(F.col(rcol).isNotNull())
        if n_exp <= 0:
            n_exp = max(ref_nn.count(), 1)
        m = max(64, int(math.ceil(-n_exp * math.log(fpp)
                                  / (math.log(2) ** 2))))
        m -= m % 64                       # whole words
        # fail fast on an unbroadcastable bitmap: Spark's hard broadcast
        # ceiling is 8 GB, and a several-GB task-side buffer is a memory
        # hazard well before that.  Default cap 2^35 bits = 4 GB
        # (~2.9e9 items at fpp=0.01).  Failing here beats an OOM deep in
        # the probe stage.
        max_bits = get_int(params, "maxBits", 1 << 35)
        if m > max_bits:
            raise ValueError(
                f"BloomFilterDedup: derived bitmap of {m} bits "
                f"({m // (8 << 20)} MiB) exceeds maxBits={max_bits} "
                f"({max_bits // (8 << 20)} MiB) — too large to broadcast "
                f"safely (Spark's hard limit is 8 GB).  Remedies: raise "
                f"fpp (m scales with -ln fpp), shard the reference and "
                f"run per shard, use an exact left_anti join instead, or "
                f"raise maxBits explicitly if you know the cluster can "
                f"take it.")
        k = get_int(params, "numHashes", 0) \
            or max(1, round(m / n_exp * math.log(2)))

        def positions(c):
            return [F.pmod(F.xxhash64(F.lit(f"bf{j}:"), F.col(c)),
                           F.lit(m)) for j in range(k)]

        # build: one JVM pass; ≤ m/64 (word, bits) rows reach the driver
        words = (ref_nn
                 .select(F.explode(F.array(*positions(rcol))).alias("__p"))
                 .select(F.shiftright(F.col("__p"), 6).alias("__w"),
                         F.expr("shiftleft(1L, cast(__p % 64 as int))")
                          .alias("__b"))
                 .groupBy("__w").agg(F.bit_or("__b").alias("__bits")))
        import numpy as np
        bitmap = np.zeros(m // 64, dtype=np.int64)
        for r in words.collect():
            bitmap[r["__w"]] = r["__bits"]
        bc = spark.sparkContext.broadcast(bitmap.tobytes())

        def _might_kernel(pos_series):
            import numpy as _np
            import pandas as _pd
            bm = _np.frombuffer(bc.value, dtype=_np.int64) \
                    .view(_np.uint64)
            out = []
            for arr in pos_series:
                if arr is None:
                    out.append(False)     # null content: never a dup
                    continue
                p = _np.asarray(arr, dtype=_np.int64)
                bits = (bm[p >> 6] >> (p & 63).astype(_np.uint64)) \
                    & _np.uint64(1)
                out.append(bool(bits.all()))
            return _pd.Series(out)

        might = F.pandas_udf(_might_kernel, "boolean")
        qpos = F.when(F.col(col).isNotNull(),
                      F.array(*positions(col)))
        ann = df.withColumn("might_dup", might(qpos))
        if mode == "annotate":
            return ann
        # verify: only bloom-positive rows touch the ref; confirmed
        # keys anti-join out.  No forced broadcast: dup_keys is
        # true-dup-sized, and on a RE-ingested increment (the shape this
        # operator targets) that is nearly the whole batch — an explicit
        # F.broadcast would then ship an input-sized table to every
        # executor.  AQE sizes the join at runtime (broadcast when small,
        # shuffle when not).
        cand = ann.filter(F.col("might_dup")).select(col).distinct()
        dup_keys = cand.join(
            ref_nn.select(F.col(rcol).alias(col)).distinct(),
            [col], "left_semi")
        joined = df.join(dup_keys, [col], "left_anti")
        # materialize the filtered batch (optimization round 12, guide
        # §1.2/§5): filter mode's output is INCREMENT-sized by design
        # (the operator exists so the daily batch, not the history, is
        # the thing that moves), and it feeds whole dedup chains —
        # without a barrier every downstream plan embeds this plan's
        # full upstream lineage (curation regexes, the Arrow bloom
        # probe), and in lake_day_ingest the composed NearDedup actions
        # each re-analyzed ~12k-line trees, ~6 s of pure driver time
        # per day at sf0.1.  Truncating here makes every consumer
        # compose over a LogicalRDD leaf.  eagerCache="false" opts out,
        # exactly as in the sibling dedup operators.
        return eager_materialize(joined, params, context)

    def explain_params(self):
        return [("refTable", "corpus view to dedup against (required)", ""),
                ("contentCol", "input content column", "text"),
                ("refContentCol", "ref content column", "= contentCol"),
                ("mode", "filter (exact, bloom-pruned verify) | "
                 "annotate (raw might_dup)", "filter"),
                ("expectedItems", "ref cardinality for sizing "
                 "(0 = count the ref)", "0"),
                ("fpp", "target false-positive rate", "0.01"),
                ("numHashes", "override k (default from m/n)", "-"),
                ("maxBits", "fail-fast cap on the bitmap size",
                 str(1 << 35))]


@register_et("MinHashDedup")
class MinHashDedup(ETAlgorithm):
    """MinHash + LSH near-dup candidate pairs with exact-Jaccard verify.

    Output: (doc_a, doc_b, jaccard) for candidate pairs whose true
    shingle-Jaccard ≥ threshold.  Plan: per-row signature (codegen) →
    explode b bands → groupBy (band, hash) buckets → within-bucket pairs
    → exact verify.  No cross join at any point.

    `refTable` switches to INCREMENTAL mode (the daily-ingest shape,
    BloomFilterDedup's near-dup sibling): candidates are new×ref bucket
    collisions only — the input batch never self-joins, and the history
    never joins itself; doc_a is always the input's id, doc_b the
    ref's.  Signatures/bands/skew guard are identical on both sides.

    Bucketing shape (round 6): ONE shuffle on (band, bandHash) — a
    spillable window-count skew guard (drops `maxBucketSize`-violating
    mega-buckets WITHOUT materializing them; WindowExec buffers spill,
    collect_list buffers don't), then a groupBy over the same keys
    (exchange reused, no second shuffle) collecting each bounded
    bucket's ids, with pairs expanded IN-ROW by array transforms.
    This replaced the bucket self-join + cache barrier: same shuffle
    volume but no join stage and no materialization — measured 6.2s →
    4.4s end-to-end at sf0.1 with identical pair sets.  A higher-
    order-function signature (array_min over transform, zero shuffles)
    was prototyped and REJECTED: interpreted per-element md5 ran 10×
    slower than the codegen explode+groupBy signature; the shuffle is
    not the cost, the hash is.
    """

    def train(self, df, path, params, context=None):
        id_col = params.get("idCol", "doc_id")
        col = params.get("contentCol", "text")
        n = get_int(params, "shingleSize", 3)
        k = get_int(params, "numHashes", 12)
        bands = get_int(params, "numBands", 4)
        threshold = get_float(params, "threshold", 0.8)
        max_bucket = get_int(params, "maxBucketSize", 1000)
        impl = hash_impl(params)
        r = k // bands
        ref_name = params.get("refTable", "")
        ref_df = (ensure_parallelism(df.sparkSession.table(ref_name))
                  if ref_name else None)
        ref_bands_name = params.get("refBandsTable", "")
        if ref_bands_name and not ref_name:
            raise ValueError(
                "MinHashDedup: refBandsTable needs refTable too — the "
                "exact-Jaccard verify stage reads the candidates' text "
                "from the reference corpus")
        intra = get_bool(params, "intraBatch", False)
        if intra and ref_df is None:
            raise ValueError(
                "MinHashDedup: intraBatch only applies with refTable — "
                "self mode already pairs the input against itself")
        df = ensure_parallelism(df)

        def band_rows(src):
            return minhash_band_rows(src, id_col, col, k, bands, n, impl)

        def ref_band_rows():
            # precomputed by MinHashSignatures: the multi-TB history is
            # hashed ONCE, each increment reuses the stored band rows
            # instead of re-running md5+minhash over every history
            # shingle per batch.  The embedded params are VALIDATED —
            # mismatched banding would silently produce an empty/wrong
            # candidate set
            bt = df.sparkSession.table(ref_bands_name)
            need = {id_col, "band", "band_hash", "mh_params"}
            missing = need - set(bt.columns)
            if missing:
                raise ValueError(
                    f"MinHashDedup: refBandsTable={ref_bands_name!r} "
                    f"is missing columns {sorted(missing)} — produce "
                    f"it with MinHashSignatures")
            want = f"k={k},bands={bands},shingle={n},impl={impl}"
            # distinct(), not limit(1): a signatures table accidentally
            # unioned from two builds with different banding params
            # would pass a single-row probe and silently yield a wrong
            # candidate set for the mismatched portion.  The column is
            # an RLE constant in parquet, so this agg is ~free.
            got = sorted(r[0] for r in
                         bt.select("mh_params").distinct().collect())
            if len(got) > 1:
                raise ValueError(
                    f"MinHashDedup: refBandsTable={ref_bands_name!r} "
                    f"mixes rows from builds with different params "
                    f"{got} — rebuild it with one MinHashSignatures run")
            if got and got[0] != want:
                raise ValueError(
                    f"MinHashDedup: refBandsTable was built with "
                    f"{got[0]!r} but this run uses {want!r} — "
                    f"rebuild the signatures or match the params")
            return bt.select(F.col(id_col).alias("__id"),
                             F.col("band").alias("__band"),
                             F.col("band_hash").alias("__bh"))

        from pyspark.sql import Window

        def guarded(rows):
            # skew guard BEFORE collect_list, as a window count: the
            # WindowExec buffer spills to disk, so a pathological
            # mega-bucket (millions of boilerplate docs on one band
            # hash) is dropped without ever materializing in memory —
            # a size filter AFTER collect_list would have to build the
            # whole array in one non-spillable agg buffer first.  The
            # groupBy reuses the window's (band, bh) partitioning, so
            # this costs a sort, not a second shuffle (measured
            # slightly FASTER than the post-agg filter at sf0.1).
            w = Window.partitionBy("__band", "__bh")
            return (rows.withColumn("__n", F.count(F.lit(1)).over(w))
                        .filter(F.col("__n") <= max_bucket).drop("__n"))

        if ref_df is None:
            # bucket ids sorted → positional i<j expansion gives
            # doc_a < doc_b, exactly the old self-join's a.id < b.id
            grouped = (guarded(band_rows(df))
                       .groupBy("__band", "__bh")
                       .agg(F.sort_array(F.collect_list("__id"))
                            .alias("__ids"))
                       .filter(F.size("__ids") >= 2))
            pairs = (grouped.select(F.explode(F.flatten(F.transform(
                        F.col("__ids"), lambda x, i: F.transform(
                            F.slice(F.col("__ids"), i + F.lit(2),
                                    F.size("__ids") - i - 1),
                            lambda y: F.struct(x.alias("doc_a"),
                                               y.alias("doc_b"))))))
                        .alias("__p"))
                     # a doc_id appearing on several input rows lands in
                     # the bucket twice — positional i<j would emit the
                     # (id, id) self-pair the old strict a.id < b.id
                     # join never produced
                     .filter(F.col("__p.doc_a") != F.col("__p.doc_b"))
                     .select("__p.doc_a", "__p.doc_b").distinct())
        else:
            # both sides land in the SAME shuffle (side-tagged union);
            # the spillable per-(band,bh,side) window guard mirrors the
            # self-mode shape — mega-buckets are dropped before any
            # collect_list buffer builds
            ref_rows = (ref_band_rows() if ref_bands_name
                        else band_rows(ref_df))
            tagged = (band_rows(df).withColumn("__side", F.lit(0))
                      .unionByName(ref_rows
                                   .withColumn("__side", F.lit(1))))
            guard_w = Window.partitionBy("__band", "__bh")
            # one window over the SAME keys the groupBy uses (exchange
            # reused).  Per-side caps: an input side over the cap drops
            # the whole bucket (matching self mode); a REF side over
            # the cap drops only the ref rows — the input rows stay so
            # intra-batch SELF pairs still form, exactly what self-mode
            # dedup over the same batch would have found (without this,
            # skewed lake-side boilerplate would silently degrade the
            # increment's intra recall).  In non-intra mode the kept
            # input rows produce no pairs anyway (size(__b)=0 buckets
            # are filtered before expansion), so outcomes match the old
            # per-side guards there too.
            tagged = (tagged
                      .withColumn("__na", F.count(F.when(
                          F.col("__side") == 0, 1)).over(guard_w))
                      .withColumn("__nb", F.count(F.when(
                          F.col("__side") == 1, 1)).over(guard_w))
                      .filter((F.col("__na") <= max_bucket)
                              & ((F.col("__side") == 0)
                                 | (F.col("__nb") <= max_bucket)))
                      .drop("__na", "__nb"))
            grouped = (tagged.groupBy("__band", "__bh")
                       .agg(F.sort_array(F.collect_list(
                                F.when(F.col("__side") == 0, F.col("__id"))))
                            .alias("__a"),
                            F.collect_list(
                                F.when(F.col("__side") == 1, F.col("__id")))
                            .alias("__b")))
            cross = (grouped
                     .filter((F.size("__a") >= 1) & (F.size("__b") >= 1))
                     .select(F.explode(F.flatten(F.transform(
                        F.col("__a"), lambda x: F.transform(
                            F.col("__b"),
                            lambda y: F.struct(x.alias("doc_a"),
                                               y.alias("doc_b"))))))
                        .alias("__p"))
                     .select("__p.doc_a", "__p.doc_b",
                             F.lit("ref").alias("pair_src")))
            if intra:
                # input×input candidates from the SAME grouped buckets —
                # no extra shuffle, no re-hash: both candidate sets
                # share the one (band, hash) exchange.  Same sorted
                # i<j expansion as self mode (doc_a < doc_b).
                selfp = (grouped.filter(F.size("__a") >= 2)
                         .select(F.explode(F.flatten(F.transform(
                            F.col("__a"), lambda x, i: F.transform(
                                F.slice(F.col("__a"), i + F.lit(2),
                                        F.size("__a") - i - 1),
                                lambda y: F.struct(x.alias("doc_a"),
                                                   y.alias("doc_b"))))))
                            .alias("__p"))
                         .filter(F.col("__p.doc_a") != F.col("__p.doc_b"))
                         .select("__p.doc_a", "__p.doc_b",
                                 F.lit("self").alias("pair_src")))
                pairs = cross.unionByName(selfp).distinct()
            else:
                pairs = cross.drop("pair_src").distinct()

        # shingle arrays for the verify stage: recomputed from text (cheap —
        # split/slice, no md5) instead of caching big arrays
        def shingle_side(src):
            return src.select(F.col(id_col).alias("__id"),
                              shingles_col(F.col(col), n).alias("__sh"))

        sh_a = shingle_side(df)
        if intra:
            # doc_b's text lives in the INPUT for self pairs and in the
            # REF for cross pairs — key the shingle lookup by
            # (pair_src, doc_b) so an id present in both corpora can
            # never verify against the wrong text
            sh_b = (shingle_side(df)
                    .withColumn("pair_src", F.lit("self"))
                    .unionByName(shingle_side(ref_df)
                                 .withColumn("pair_src", F.lit("ref"))))
            b_keys = ["doc_b", "pair_src"]
            out_cols = ["doc_a", "doc_b",
                        F.round("jaccard", 4).alias("jaccard"),
                        "pair_src"]
        else:
            sh_b = shingle_side(ref_df if ref_df is not None else df)
            b_keys = ["doc_b"]
            out_cols = ["doc_a", "doc_b",
                        F.round("jaccard", 4).alias("jaccard")]
        verified = (pairs
                    .join(sh_a.select(F.col("__id").alias("doc_a"),
                                      F.col("__sh").alias("__sha")), "doc_a")
                    .join(sh_b.withColumnRenamed("__id", "doc_b")
                              .withColumnRenamed("__sh", "__shb"), b_keys)
                    .withColumn("__inter",
                                F.size(F.array_intersect("__sha", "__shb")))
                    .withColumn("jaccard",
                                F.col("__inter") / (F.size("__sha") + F.size("__shb")
                                                    - F.col("__inter")))
                    .filter(F.col("jaccard") >= threshold)
                    .select(*out_cols)
                    # duplicate-id input rows fan the verify join out —
                    # identical verify rows collapse (tiny output;
                    # duplicate ids with DIFFERENT texts keep both
                    # jaccard rows, which is the honest answer)
                    .distinct())
        # `run` is an action: materialize the (small) pair output now
        # (single-pass plan — no bucket cache to free since the
        # collect_list bucketing, round 6)
        return eager_materialize(verified, params, context)

    def explain_params(self):
        return [("idCol", "document id column", "doc_id"),
                ("contentCol", "text column", "text"),
                ("shingleSize", "words per shingle", "3"),
                ("numHashes", "minhash functions", "12"),
                ("numBands", "LSH bands", "4"),
                ("threshold", "exact-Jaccard verify threshold", "0.8"),
                ("maxBucketSize", "skew guard: drop larger buckets", "1000"),
                ("refTable", "incremental mode: pairs are input x ref "
                 "only (no self-join)", ""),
                ("refBandsTable", "precomputed MinHashSignatures rows "
                 "for the ref side (skips re-hashing the history; "
                 "params validated)", ""),
                ("intraBatch", "with refTable: ALSO emit input x input "
                 "pairs from the same bucket shuffle, tagged by a "
                 "pair_src column (self|ref); a ref side over "
                 "maxBucketSize drops only the cross pairs — self "
                 "pairs survive, as self-mode dedup would find them",
                 "false"),
                ("eagerCache", "materialize output, free bucket cache", "true"),
                ("hashImpl", "md5 (oracle) | xxhash64 (production)", "md5")]


@register_et("MinHashSignatures")
class MinHashSignatures(ETAlgorithm):
    """Precompute a corpus's LSH band rows for reuse as MinHashDedup's
    `refBandsTable` — the incremental-ingest companion (BloomFilter-
    Dedup's near-dup sibling on the index side): the multi-TB history
    is hashed ONCE (md5+minhash over every shingle is the dominant
    cost), and each daily increment then buckets against the stored
    rows instead of re-hashing the history per batch.

    Output: (<idCol>, band, band_hash, mh_params) — persist it with
    `save` (parquet/versionedParquet).  `mh_params` embeds the banding
    parameters as a constant column (parquet RLE ≈ free) so the
    consuming MinHashDedup can fail fast on a mismatch instead of
    silently producing a wrong candidate set."""

    def train(self, df, path, params, context=None):
        id_col = params.get("idCol", "doc_id")
        col = params.get("contentCol", "text")
        n = get_int(params, "shingleSize", 3)
        k = get_int(params, "numHashes", 12)
        bands = get_int(params, "numBands", 4)
        impl = hash_impl(params)
        rows = minhash_band_rows(ensure_parallelism(df), id_col, col,
                                 k, bands, n, impl)
        tag = f"k={k},bands={bands},shingle={n},impl={impl}"
        return rows.select(F.col("__id").alias(id_col),
                           F.col("__band").alias("band"),
                           F.col("__bh").alias("band_hash"),
                           F.lit(tag).alias("mh_params"))

    def explain_params(self):
        return [("idCol", "document id column", "doc_id"),
                ("contentCol", "text column", "text"),
                ("shingleSize", "words per shingle", "3"),
                ("numHashes", "minhash functions", "12"),
                ("numBands", "LSH bands", "4"),
                ("hashImpl", "md5 (oracle) | xxhash64 (production)",
                 "md5")]


@register_et("SimHashDedup")
class SimHashDedup(ETAlgorithm):
    """60-bit SimHash fingerprint per document (matches the 60-bit
    portable hash width; bits ≥60 would always vote negative); near-dups share the
    fingerprint (or differ in few bits).

    The bit-majority is computed as 64 aggregate expressions over the
    token array (aggregate/filter — all codegen, no explode, no extra
    shuffle beyond none: it's per-row).  Output: (id, simhash).
    """

    BITS = 60

    def train(self, df, path, params, context=None):
        id_col = params.get("idCol", "doc_id")
        col = params.get("contentCol", "text")
        impl = hash_impl(params)
        df = ensure_parallelism(df)
        # hybrid plan: token hashing stays JVM-side (one hash per distinct
        # token — md5 oracle-reproducible, xxhash64 in production), the
        # 60-bit majority fold runs as an Arrow-batched numpy kernel (60
        # interpreted higher-order folds per row were the bench hotspot;
        # numpy does the same fold vectorized)
        toks = F.array_distinct(tokens_col(F.col(col)))
        hashes = F.transform(toks,
                             lambda t: portable_hash64(t, "simhash", impl))
        return df.select(F.col(id_col), hashes.alias("__hashes")) \
                 .withColumn("simhash", _init_simhash_udf()(F.col("__hashes"))) \
                 .drop("__hashes")

    def explain_params(self):
        return [("idCol", "document id column", "doc_id"),
                ("contentCol", "text column", "text"),
                ("hashImpl", "md5 (oracle) | xxhash64 (production)", "md5")]


_simhash_fold_udf = None


def _init_simhash_udf():
    global _simhash_fold_udf
    if _simhash_fold_udf is None:
        # nested so the pandas UDF pickles by value — a module-level kernel
        # pickles as a `streamingpro_spark.*` reference executors can't import
        def _simhash_fold(hash_series):
            """pandas UDF kernel: array<long> token hashes → 60-bit simhash."""
            import numpy as np
            import pandas as pd
            out = []
            shifts = np.arange(60, dtype=np.int64)
            for hs in hash_series:
                arr = np.asarray(hs, dtype=np.int64)
                if arr.size == 0:
                    out.append(0)
                    continue
                bits = (arr[:, None] >> shifts) & 1          # (n_tokens, 60)
                votes = 2 * bits.sum(axis=0) - arr.size      # +1/-1 majority
                out.append(int(((votes > 0).astype(np.int64) << shifts).sum()))
            return pd.Series(out)

        _simhash_fold_udf = F.pandas_udf(_simhash_fold, "long")
    return _simhash_fold_udf


def simhash_col(text: Column, bits: int = 60) -> Column:
    """Per-row SimHash: for each bit b, majority vote of token-hash bit b
    (+1/-1 weights); assemble sign bits into a bigint.

    Pure array expressions — distinct tokens hashed once with
    portable_hash64, then one aggregate() fold per bit.  At 100 TB this is
    embarrassingly parallel (no shuffle)."""
    toks = F.array_distinct(tokens_col(text))
    hashes = F.transform(toks, lambda t: portable_hash64(t, "simhash"))
    out = F.lit(0).cast("long")
    for b in range(bits):
        # vote_b = sum over tokens of (bit set ? 1 : -1)
        vote = F.aggregate(
            hashes, F.lit(0).cast("long"),
            lambda acc, h: acc + F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1,
                                        F.lit(1)).otherwise(F.lit(-1)))
        out = out + F.when(vote > 0, F.lit(2 ** b).cast("long")).otherwise(F.lit(0))
    return out


@register_et("NgramJaccardDedup")
class NgramJaccardDedup(ETAlgorithm):
    """Exact n-gram Jaccard pairs via an inverted-index join (docs sharing
    ≥1 shingle), no LSH approximation.  Quadratic only within shingle
    posting lists — the `minDf`/`maxDf` guard drops stop-shingles whose
    posting lists would explode the join (classic skew control)."""

    def train(self, df, path, params, context=None):
        id_col = params.get("idCol", "doc_id")
        col = params.get("contentCol", "text")
        n = get_int(params, "shingleSize", 3)
        threshold = get_float(params, "threshold", 0.8)
        max_df = get_int(params, "maxDf", 100)
        df = ensure_parallelism(df)

        sh = df.select(F.col(id_col).alias("__id"),
                       shingles_col(F.col(col), n).alias("__sh"))
        sizes = sh.select("__id", F.size("__sh").alias("__ns"))
        posting = sh.select("__id", F.explode("__sh").alias("__s"))
        # drop stop-shingles (posting list > maxDf) — skew guard
        df_counts = posting.groupBy("__s").agg(F.count("*").alias("__df")) \
                           .filter(F.col("__df") <= max_df)
        # persist the capped posting list: both sides of the self-join
        # scan it, and without the cache each side re-shingles the corpus
        # (plus a third pass for the df counts)
        posting = script_cache(posting.join(df_counts.select("__s"), "__s"),
                               context, "ngram_posting")
        posting.count()

        inter = (posting.alias("a")
                 .join(posting.alias("b"),
                       (F.col("a.__s") == F.col("b.__s"))
                       & (F.col("a.__id") < F.col("b.__id")))
                 .groupBy(F.col("a.__id").alias("doc_a"),
                          F.col("b.__id").alias("doc_b"))
                 .agg(F.count("*").alias("__inter")))
        out = (inter
               .join(sizes.select(F.col("__id").alias("doc_a"),
                                  F.col("__ns").alias("__na")), "doc_a")
               .join(sizes.select(F.col("__id").alias("doc_b"),
                                  F.col("__ns").alias("__nb")), "doc_b")
               .withColumn("jaccard", F.col("__inter")
                           / (F.col("__na") + F.col("__nb") - F.col("__inter")))
               .filter(F.col("jaccard") >= threshold)
               .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard")))
        mat = eager_materialize(out, params, context)
        if mat is not out:
            posting.unpersist()
        return mat

    def explain_params(self):
        return [("idCol", "document id column", "doc_id"),
                ("contentCol", "text column", "text"),
                ("shingleSize", "words per shingle", "3"),
                ("threshold", "Jaccard threshold", "0.8"),
                ("maxDf", "drop shingles appearing in more docs (skew guard)", "100"),
                ("eagerCache", "materialize output, free posting cache", "true")]


@register_et("EmbeddingDedup")
class EmbeddingDedup(ETAlgorithm):
    """Embedding-cosine near-dup pairs.  Baseline: blocked brute force
    (see similarity.py for the ANN scale paths).  The threshold compares
    the ROUNDED (4dp) cosine so the oracle's filter sees identical
    doubles.

    When the corpus fits `broadcastLimit` rows (default 200k ids ×
    dim doubles — executor-memory bounded), the whole normalized matrix
    is broadcast and ONE mapInPandas pass does a blocked matmul per
    Arrow batch, emitting only the above-threshold pairs — the
    self-join formulation shipped |N|²/2 pair rows (two arrays each)
    through Arrow (7.3s → ~1s at sf0.1).

    Above the limit — the path that actually runs at 100 TB — it is an
    SRP-LSH banded candidate join: banding (bitsPerTable, numTables)
    derived from the cosine threshold and a per-pair `missProb` budget
    (similarity.derive_srp_banding), signatures one BLAS matmul per
    Arrow batch, candidates = pairs sharing any (table, signature)
    bucket (skew-guarded by `maxBucketSize`, the MinHashDedup pattern),
    exact-cosine verify on candidates only.  No cartesian anywhere:
    the shuffles are the band groupBy (hash-uniform keys), the pair
    distinct, and the two verify joins.  Pairs AT the threshold are
    found with prob ≥ 1-missProb; pairs above it with higher prob —
    the standard LSH-dedup contract (an exact all-pairs join at that
    scale is information-theoretically a cartesian).
    """

    def train(self, df, path, params, context=None):
        import numpy as np
        id_col = params.get("idCol", "vec_id")
        col = params.get("embeddingCol", "embedding")
        threshold = get_float(params, "threshold", 0.95)
        limit = get_int(params, "broadcastLimit", 200_000)
        df = ensure_parallelism(df)
        base = df.select(F.col(id_col).alias("__id"), F.col(col).alias("__v"))
        head = base.limit(limit + 1).collect() if limit > 0 else []
        if head and len(head) <= limit:
            ids = np.array([r[0] for r in head])
            M = np.array([list(r[1]) for r in head], dtype=float)
            nn = np.linalg.norm(M, axis=1, keepdims=True)
            nn[nn == 0] = 1.0
            bc = df.sparkSession.sparkContext.broadcast((ids, M / nn))
            thr = threshold
            id_t = df.schema[id_col].dataType.simpleString()
            out_schema = f"id_a {id_t}, id_b {id_t}, cosine double"

            def block_pairs(batches):
                import numpy as _np
                import pandas as _pd
                _ids, _M = bc.value
                for pdf in batches:
                    if not len(pdf):
                        continue
                    B = _np.array([list(v) for v in pdf["__v"]], dtype=float)
                    bn = _np.linalg.norm(B, axis=1, keepdims=True)
                    bn[bn == 0] = 1.0
                    S = _np.round((B / bn) @ _M.T, 4)       # (b, N)
                    bids = pdf["__id"].to_numpy()
                    # id_a < id_b keeps each pair once across blocks
                    mask = (S >= thr) & (bids[:, None] < _ids[None, :])
                    ai, bi = _np.nonzero(mask)
                    yield _pd.DataFrame({"id_a": bids[ai],
                                         "id_b": _ids[bi],
                                         "cosine": S[ai, bi]})

            return base.mapInPandas(block_pairs, out_schema)
        # corpus exceeds the broadcast bound: SRP-LSH banded candidates +
        # exact verify (the MinHashDedup shape, cosine-space)
        import numpy as np
        from streamingpro_spark.operators.similarity import (
            derive_srp_banding, make_srp_udf, normalized_col, pair_dot_udf)
        bits, n_tables = derive_srp_banding(
            threshold, miss_prob=get_float(params, "missProb", 1e-6))
        seed = get_int(params, "seed", 42)
        max_bucket = get_int(params, "maxBucketSize", 100_000)
        id_t = df.schema[id_col].dataType.simpleString()
        first = base.select("__v").first()
        if first is None:     # empty corpus: the broadcast path never ran
            return df.sparkSession.createDataFrame(
                [], f"id_a {id_t}, id_b {id_t}, cosine double")
        dim = len(first[0])
        planes = np.random.RandomState(seed).standard_normal(
            (n_tables * bits, dim))
        srp_udf = make_srp_udf(df.sparkSession, planes, n_tables, bits)
        v = base.select("__id", normalized_col(F.col("__v")).alias("__n"))
        with_sig = script_cache(
            v.select("__id", "__n", srp_udf(F.col("__n")).alias("__sigs")),
            context, "embdedup_sig")

        from pyspark.sql import Window
        # same one-shuffle skew guard as MinHashDedup: the window count
        # over (table, sig) also establishes the join partitioning
        guard_w = Window.partitionBy("__t", "__sig")
        buckets = (with_sig.select("__id", F.posexplode("__sigs"))
                   .withColumnRenamed("pos", "__t")
                   .withColumnRenamed("col", "__sig")
                   .withColumn("__cnt", F.count(F.lit(1)).over(guard_w))
                   .filter(F.col("__cnt") <= max_bucket).drop("__cnt"))
        pairs = (buckets.alias("a")
                 .join(buckets.alias("b"),
                       (F.col("a.__t") == F.col("b.__t"))
                       & (F.col("a.__sig") == F.col("b.__sig"))
                       & (F.col("a.__id") < F.col("b.__id")))
                 .select(F.col("a.__id").alias("id_a"),
                         F.col("b.__id").alias("id_b"))
                 .distinct())
        out = (pairs
               .join(with_sig.select(F.col("__id").alias("id_a"),
                                     F.col("__n").alias("__na")), "id_a")
               .join(with_sig.select(F.col("__id").alias("id_b"),
                                     F.col("__n").alias("__nb")), "id_b")
               .select("id_a", "id_b",
                       pair_dot_udf()(F.col("__na"), F.col("__nb"))
                        .alias("cosine"))
               .filter(F.col("cosine") >= threshold))
        mat = eager_materialize(out, params, context)
        if mat is not out:
            with_sig.unpersist()
        return mat

    def explain_params(self):
        return [("idCol", "vector id column", "vec_id"),
                ("embeddingCol", "array<float> column", "embedding"),
                ("threshold", "cosine threshold", "0.95"),
                ("broadcastLimit", "max rows for the broadcast matmul path "
                                   "(0 forces the LSH path)", "200000"),
                ("missProb", "LSH path: per-pair miss budget at threshold",
                 "1e-6"),
                ("maxBucketSize", "LSH path: drop larger (table,sig) buckets",
                 "100000"),
                ("seed", "LSH path: hyperplane seed", "42"),
                ("eagerCache", "LSH path: materialize output, free caches",
                 "true")]


def _cluster_self_pairs(df, params, context):
    """Shared NearDedup/SoftDedup step: MinHash verified pairs over df
    itself → DupClusters labels.  Returns (clustered, cleanup) where
    cleanup(spark) drops the uuid pairs view once the caller has
    materialized away from the lazy plan over it."""
    import uuid as _uuid
    pairs = MinHashDedup().train(df, "", params, context)
    view = f"__near_dedup_pairs_{_uuid.uuid4().hex[:8]}"
    pairs.createOrReplaceTempView(view)
    clustered = DupClusters().train(
        df, "", {**params, "pairsTable": view}, context)

    def cleanup(spark):
        spark.catalog.dropTempView(view)

    return clustered, cleanup


@register_et("NearDedup")
class NearDedup(ETAlgorithm):
    """One-shot near-duplicate REMOVAL — the composition users chain by
    hand (examples/04): MinHash+LSH candidate pairs with exact-Jaccard
    verify (MinHashDedup) → connected components over the verified
    pairs (DupClusters) → keep the min-id document per cluster.
    Output: the INPUT rows minus non-survivor near-duplicates (full
    schema preserved).

    With `refTable` (incremental ingest): drop every input doc that has
    a verified near-dup in the reference corpus, AND near-dups WITHIN
    the increment itself (two copies of the same new document must not
    both enter the lake).  Both candidate sets come out of ONE bucket
    shuffle (MinHashDedup intraBatch mode — the band rows are computed
    once); the intra-batch pairs then run the same cluster→min-id
    survivor pipeline as self mode.  Removal set = (input docs with a
    ref near-dup) ∪ (intra-batch non-survivors) — a whole intra-batch
    cluster can drop when its survivor is itself a ref-dup, which is
    correct: that content already lives in the lake.

    All MinHashDedup knobs pass through (threshold / numHashes /
    numBands / shingleSize / maxBucketSize / hashImpl), as do
    DupClusters' (maxIter / checkpointEvery).  Scale = the sum of its
    parts: the single-shuffle bucket pairing and the shallow label
    propagation, both audited in SCALE.md."""

    def train(self, df, path, params, context=None):
        import uuid as _uuid
        id_col = params.get("idCol", "doc_id")
        spark = df.sparkSession
        if params.get("refTable"):
            # incremental: ONE signature pass + ONE bucket shuffle
            # yields both candidate sets (pair_src self|ref).  The pair
            # output is small, and the inner train's eager checkpoint
            # already materializes it AND truncates the composed
            # lineage, so the ref-dup filter and the intra-batch
            # clustering scan the computed partitions directly — the
            # former unconditional persist+count here was a redundant
            # second barrier (optimization round 11; the OTHER
            # direction, keeping the pairs lazy and persisting only,
            # measured WORSE: every downstream action re-optimizes the
            # full composed lineage driver-side, see
            # OPTIMIZATION_r11.md Finding 7).  Only when no
            # materialization happened (caller set eagerCache=false, or
            # dynamic allocation without a checkpoint dir) does the
            # persist become load-bearing against re-running the LSH
            # pipeline per downstream action.
            pairs = MinHashDedup().train(
                df, "", {**params, "intraBatch": "true"}, context)
            if not would_eager_materialize(pairs, params):
                pairs = script_cache(pairs, context,
                                     "near_dedup_incr_pairs")
                pairs.count()
            # (1) any input doc with a verified ref near-dup goes
            ref_dups = (pairs.filter(F.col("pair_src") == "ref")
                        .select(F.col("doc_a").alias(id_col)).distinct())
            # (2) intra-batch near-dups: same cluster→min-id survivor
            # pipeline as self mode, over the self-tagged pairs
            view = f"__near_dedup_self_pairs_{_uuid.uuid4().hex[:8]}"
            pairs.filter(F.col("pair_src") == "self") \
                 .select("doc_a", "doc_b", "jaccard") \
                 .createOrReplaceTempView(view)
            clustered = DupClusters().train(
                df, "", {**params, "pairsTable": view}, context)
            non_survivors = (clustered.filter(~F.col("keep"))
                             .select(id_col))
            drop_ids = ref_dups.unionByName(non_survivors).distinct()
            joined = df.join(drop_ids, [id_col], "left_anti")
            out = eager_materialize(joined, params, context)
            if out is not joined:
                spark.catalog.dropTempView(view)
                pairs.unpersist()
            return out
        clustered, cleanup = _cluster_self_pairs(df, params, context)
        # anti-join on the NON-survivors (optimization round 11): the
        # survivor list is corpus-sized, but the docs actually removed
        # are only the dup-cluster losers — a tiny set AQE broadcasts,
        # so the corpus is never shuffled to apply the removal.
        # keep=false ⇔ membership in the removal set for every non-null
        # id; NULL-id rows are KEPT (a null key never matches an anti
        # join) — the defined semantics since round 11, consistent with
        # the refTable branch above, which always anti-joined.  (The
        # pre-r11 semi-join on survivors dropped NULL-id rows as a side
        # effect of null-key matching, not by design.)  Pinned by
        # test_near_dedup_null_id_rows_kept.
        non_survivors = clustered.filter(~F.col("keep")).select(id_col)
        joined = df.join(non_survivors, [id_col], "left_anti")
        out = eager_materialize(joined, params, context)
        if out is not joined:
            # materialized → the lazy plan over the temp view is gone;
            # safe to drop it (otherwise the uuid view lives out the
            # session, same lifecycle as other script temp views)
            cleanup(spark)
        return out

    def explain_params(self):
        own = [("idCol", "document id column", "doc_id"),
               ("refTable", "incremental mode: drop input docs with a "
                "near-dup in this corpus, plus intra-batch "
                "non-survivors", "")]
        taken = {name for name, *_ in own}
        # NearDedup overrides refTable's semantics — the inherited
        # MinHashDedup row would render a confusing duplicate in
        # `!show et/NearDedup` help output
        inherited = [p for p in MinHashDedup().explain_params()
                     if p[0] not in taken]
        return own + inherited + [("maxIter", "label-propagation bound",
                                   "20")]


@register_et("SoftDedup")
class SoftDedup(ETAlgorithm):
    """Soft deduplication: keep EVERY document but emit a training
    weight that down-weights duplicated content — the
    reweight-instead-of-remove alternative to NearDedup for corpora
    where removal loses information (duplicated text often correlates
    with quality/popularity; soft-dedup literature, e.g. SoftDeDup,
    down-weights "common" spans instead of excising them).

    Same chain as NearDedup — MinHash+LSH verified pairs → connected
    components — but the output is the full input plus
    (dup_cluster_id, dup_cluster_size, sample_weight) where
    sample_weight = 1 / |cluster| (singletons: cluster of one, weight
    1.0).  Sampling (or loss-weighting) by sample_weight makes each
    near-dup cluster contribute one document's worth of training mass
    in expectation, preserving WHICH copy is seen as a uniform choice.

    Scale: MinHashDedup's single (band, hash) shuffle + DupClusters'
    shallow label propagation (both audited in SCALE.md) + one
    |clusters|-row size aggregate joined back on the id — strictly
    cheaper than NearDedup's anti-join variant since nothing is
    removed.  All MinHashDedup / DupClusters knobs pass through."""

    def train(self, df, path, params, context=None):
        id_col = params.get("idCol", "doc_id")
        weight_digits = get_int(params, "weightDigits", 6)
        if params.get("refTable"):
            # input x ref pairs reference doc ids absent from df, so
            # label propagation cannot connect two input docs through a
            # shared reference near-dup — the weights would be silently
            # wrong.  NearDedup implements refTable's removal
            # semantics; weighting against a reference corpus has none.
            raise ValueError(
                "SoftDedup weights near-dup clusters WITHIN the input "
                "corpus and has no refTable mode — for incremental "
                "ingest use NearDedup refTable (removal), then "
                "SoftDedup over the deduplicated lake")
        spark = df.sparkSession
        clustered, cleanup = _cluster_self_pairs(df, params, context)
        # size aggregate over DUP-CLUSTER MEMBERS only (optimization
        # round 11, guide §2.3 — filter before the exchange): every
        # singleton has size 1 / weight 1.0 by definition, so the
        # corpus-sized groupBy + corpus-sized size join reduce to a
        # tiny aggregate over docs whose cluster has ≥ 2 members
        # (keep=false rows plus their survivors), which AQE broadcasts
        # into the one left join below; missing rows coalesce to the
        # singleton defaults.  Output identical to the old full
        # aggregate for UNIQUE ids — round(1/1, d) = 1.0.  Known
        # divergence on DUPLICATE ids (k rows sharing one id, no
        # keep=false member): the old corpus-wide groupBy reported
        # size k / weight 1/k, the singleton default reports 1 / 1.0
        # per row.  Duplicate ids are a contract violation for every
        # dedup operator (idCol is the document key); the defined
        # behavior is the singleton default, pinned by
        # test_soft_dedup_duplicate_id_rows.
        dup_clusters = (clustered.filter(~F.col("keep"))
                        .select("cluster_id").distinct())
        sizes = (clustered.join(dup_clusters, "cluster_id", "left_semi")
                 .groupBy("cluster_id")
                 .agg(F.count(F.lit(1)).alias("__csz")))
        ann = (clustered.join(dup_clusters, "cluster_id", "left_semi")
               .join(sizes, "cluster_id")
               .select(F.col(id_col),
                       F.col("cluster_id").alias("dup_cluster_id"),
                       F.col("__csz").cast("long")
                        .alias("dup_cluster_size"),
                       F.round(F.lit(1.0) / F.col("__csz"), weight_digits)
                        .alias("sample_weight")))
        # overwrite convention (round-9, matching PerplexityBucket /
        # TokenBudgetSample): re-running over already-weighted input
        # must REPLACE the three output columns, not emit ambiguous
        # duplicate names
        joined = (df.drop("dup_cluster_id", "dup_cluster_size",
                          "sample_weight")
                  .join(ann, [id_col], "left")
                  # NULL-id rows keep all-null annotations, exactly as
                  # the old corpus-wide ann join left them (a null key
                  # never matched)
                  .withColumn("dup_cluster_id",
                              F.coalesce(F.col("dup_cluster_id"),
                                         F.col(id_col)))
                  .withColumn("dup_cluster_size",
                              F.when(F.col(id_col).isNotNull(),
                                     F.coalesce(F.col("dup_cluster_size"),
                                                F.lit(1).cast("long"))))
                  .withColumn("sample_weight",
                              F.when(F.col(id_col).isNotNull(),
                                     F.coalesce(F.col("sample_weight"),
                                                F.lit(1.0)))))
        out = eager_materialize(joined, params, context)
        if out is not joined:
            cleanup(spark)
        return out

    def explain_params(self):
        own = [("idCol", "document id column", "doc_id"),
               ("weightDigits", "round sample_weight to this many "
                "decimals", "6")]
        taken = {name for name, *_ in own}
        # refTable is rejected (rendered error in train), and
        # refBandsTable/intraBatch only apply WITH refTable — don't
        # advertise dead-end inherited rows
        inherited = [p for p in MinHashDedup().explain_params()
                     if p[0] not in taken
                     and p[0] not in ("refTable", "refBandsTable",
                                      "intraBatch")]
        return own + inherited + [("maxIter", "label-propagation bound",
                                   "20")]


def _dup_graph(pairs, ids, a_col, b_col):
    """DupClusters' propagation graph, lazy: both directions of every
    pair plus a self-loop on each endpoint, kept only where BOTH ends
    are input ids.  The self-loops are the identity of `A + I`, so one
    join+groupBy per round sees a node's own label next to its
    neighbours'.  Restricting `dst` as well as `src` is what stops an
    out-of-corpus id from bridging two docs (round 1 reads raw `dst`).
    One explode instead of a union: each union branch would repeat the
    restriction subtree."""
    a, b = F.col(a_col), F.col(b_col)
    e = F.explode(F.array(F.struct(a.alias("src"), b.alias("dst")),
                          F.struct(b.alias("src"), a.alias("dst")),
                          F.struct(a.alias("src"), a.alias("dst")),
                          F.struct(b.alias("src"), b.alias("dst"))))
    return (pairs.select(e.alias("e")).select("e.src", "e.dst")
            .join(ids.select(F.col("id").alias("src")), "src", "left_semi")
            .join(ids.select(F.col("id").alias("dst")), "dst", "left_semi"))


def _dup_rounds(graph, labels, rounds):
    """`rounds` lazy min-label propagation steps over `graph` (runs no
    action) → (id, label, __chg), where __chg flags a label the LAST
    step lowered.  `labels=None` starts from every node labelled by its
    own id, which makes the first step join-free.  Every step reads the
    previous labels once, so the plan grows by a constant per round."""
    for _ in range(rounds):
        if labels is None:
            labels = (graph.groupBy(F.col("src").alias("id"))
                      .agg(F.min("dst").alias("label"))
                      .withColumn("__chg", F.col("label") < F.col("id")))
            continue
        nl = labels.select(F.col("id").alias("dst"),
                           F.col("label").alias("nl"))
        labels = (graph.join(nl, "dst")
                  .groupBy(F.col("src").alias("id"))
                  .agg(F.min("nl").alias("label"),
                       F.min(F.when(F.col("src") == F.col("dst"),
                                    F.col("nl"))).alias("__old"))
                  .select("id", "label",
                          (F.col("label") < F.col("__old")).alias("__chg")))
    return labels


@register_et("DupClusters")
class DupClusters(ETAlgorithm):
    """Connected components over near-dup pairs — the step that turns
    pairwise dedup output (MinHashDedup/NgramJaccardDedup/EmbeddingDedup)
    into one canonical document per duplicate cluster.

    `run docs as DupClusters.`` where pairsTable="dup_pairs" and
    idCol="doc_id" [and pairACol="doc_a" and pairBCol="doc_b"]`
    → (doc_id, cluster_id, keep) with cluster_id = min id in the
    component and keep = (doc_id == cluster_id).

    Algorithm: min-label propagation to fixpoint as a min-semiring
    mat-vec with `A + I` (Scalable Linear Algebra Programming for Big
    Data Analysis, EDBT 2021).  The graph (`_dup_graph`) is built once:
    both edge directions plus a self-loop per endpoint, over ONLY the
    nodes that appear in the pair graph AND the input — a doc with no
    pair row can never change its label, so every round is
    dup-graph-sized, not corpus-sized; singletons re-attach through one
    broadcast-ready left join at the end.  Each round (`_dup_rounds`)
    is one `graph ⋈ labels` → `groupBy(src)`: `min(nl)` is the new
    label and the self-loop's `nl` the old one, so the labels are read
    once per round and the plan grows linearly.  Round 1 is join-free
    (every label is still its own id).  The iteration count is the
    component diameter — near-dup clusters are shallow (cliques or
    short chains); `maxIter` bounds pathological chains with a rendered
    error.  (O(log d) pointer-jumping would pay only on deep graphs.)
    """

    def train(self, df, path, params, context=None):
        id_col = params.get("idCol", "doc_id")
        pairs_tbl = params.get("pairsTable")
        a_col = params.get("pairACol", "doc_a")
        b_col = params.get("pairBCol", "doc_b")
        max_iter = get_int(params, "maxIter", 20)
        if not pairs_tbl:
            raise ValueError('DupClusters needs pairsTable="..."')
        spark = df.sparkSession
        all_ids = df.select(F.col(id_col).alias("id"))
        # cached once and materialized by the first round's action:
        # pairsTable is often a lazy view over MinHashDedup output
        # (examples/04), which every round would otherwise re-run
        graph = script_cache(
            _dup_graph(spark.table(pairs_tbl), all_ids, a_col, b_col),
            context, "dup_graph")
        ckpt_every = get_int(params, "checkpointEvery", 5)
        # labels: the persisted (id, label, __chg) of the last action
        labels, converged, changed = None, False, -1
        it = 0
        # Rounds per ACTION grow 2→2→4→8 while the graph keeps
        # propagating: each action costs a fixed driver round trip
        # (planning + AQE + codegen), so shallow near-dup graphs
        # (cliques converge in one action, verified-pair components in
        # ≤2) pay no speculative rounds, while a diameter-d chain needs
        # about d/8 actions.  Convergence is judged on the LAST round's
        # change count alone, which is sound because min-label
        # propagation is monotone: a round with zero changes IS the
        # fixpoint, whatever earlier rounds did.
        span_target, action_no = 2, 0
        while it < max_iter and not converged:
            span = min(span_target, max_iter - it)
            action_no += 1
            if action_no >= 2:
                span_target = min(span_target * 2, 8)
            cur = _dup_rounds(graph, labels, span)
            # truncate lineage every few rounds so analysis time stays
            # flat however many rounds run
            if (it // ckpt_every) != ((it + span) // ckpt_every):
                sc = spark.sparkContext
                cur = (cur.checkpoint(eager=False)
                       if sc.getCheckpointDir()
                       else cur.localCheckpoint(eager=False))
            cur = cur.persist()
            changed = cur.filter(F.col("__chg")).count()
            if labels is not None:
                labels.unpersist()
            labels = cur
            it += span
            converged = changed == 0
        if not converged:
            # the last allowed round may have reached the fixpoint
            # EXACTLY (changed > 0 but the labels are now final) —
            # convergence is only observable by a zero-change round, so
            # one more step decides before declaring failure: a correct
            # result tuned to maxIter == component depth must not
            # become a spurious error
            step = _dup_rounds(graph, labels, 1)
            converged = step.filter(F.col("__chg")).count() == 0
            labels = step if labels is None else labels
        if not converged:
            # a component with diameter > maxIter would come out
            # MISLABELED (split into several clusters, extra docs
            # marked keep) — fail with the remedy instead of silently
            # shipping wrong survivors into a dedup pipeline
            labels.unpersist()
            graph.unpersist()
            state = (f"{changed} labels still changing" if changed >= 0
                     else "no rounds run")
            raise ValueError(
                f"DupClusters: label propagation had not converged "
                f"after maxIter={max_iter} rounds ({state}) — the "
                f"pair graph has a component "
                f"with diameter > {max_iter}, and stopping now would "
                f"mislabel it (splitting one duplicate cluster into "
                f"several survivors).  Raise maxIter (one join+groupBy "
                f"per extra round), or pre-partition the pairs if the "
                f"graph is genuinely that deep.")
        # singletons (no pair row) re-attach here: labels is distinct
        # on id and tiny (pair-graph nodes only), so AQE broadcasts it
        # and the corpus side is never shuffled; a missing label means
        # "own cluster".  Every label is an input id, so casting it to
        # the id type (the pairs' may be wider) is lossless.
        out = (all_ids
               .join(labels.withColumnRenamed("label", "__lab"),
                     "id", "left")
               .select(F.col("id").alias(id_col),
                       F.coalesce(F.col("__lab").cast(
                           all_ids.schema["id"].dataType), F.col("id"))
                        .alias("cluster_id"))
               .withColumn("keep", F.col(id_col) == F.col("cluster_id")))
        mat = eager_materialize(out, params, context)
        if mat is not out:
            labels.unpersist()
            graph.unpersist()
        elif context is not None:
            # lazy path: hand the final label cache to the engine's
            # end-of-script reaper
            context.cached_tables[f"__et_dup_labels_{id(labels)}"] = \
                (labels, "script")
        return mat

    def explain_params(self):
        return [("pairsTable", "table of duplicate pairs", ""),
                ("idCol", "document id column", "doc_id"),
                ("pairACol", "pair column a", "doc_a"),
                ("pairBCol", "pair column b", "doc_b"),
                ("maxIter", "max label-propagation rounds; rendered "
                 "error (not silent mislabeling) if a component is "
                 "deeper", "20"),
                ("checkpointEvery", "truncate label lineage every N rounds", "5"),
                ("eagerCache", "materialize output, free caches", "true")]


@register_et("ContaminationCheck")
class ContaminationCheck(ETAlgorithm):
    """Benchmark-contamination detection: flag corpus documents sharing
    ≥ minOverlap distinct word shingles with any document of a benchmark
    table (the train/test leakage check every LLM data pipeline runs).

    `run docs as ContaminationCheck.`` where benchmarkTable="bench" and
    shingleSize="3" and minOverlap="2" [and benchIdCol="bench_id"]`
    → (doc_id, bench_id, shared_shingles) pairs.

    Scale: inverted-index join keyed by shingle — the benchmark side is
    tiny relative to the corpus, so its posting lists broadcast; the
    corpus explodes once (map-only) and the only shuffle is the
    (doc, bench) pair count with map-side combine.
    """

    def train(self, df, path, params, context=None):
        id_col = params.get("idCol", "doc_id")
        col = params.get("contentCol", "text")
        bench_tbl = params.get("benchmarkTable")
        bench_id = params.get("benchIdCol", params.get("idCol", "doc_id"))
        bench_col = params.get("benchContentCol", col)
        n = get_int(params, "shingleSize", 3)
        min_overlap = get_int(params, "minOverlap", 2)
        if not bench_tbl:
            raise ValueError('ContaminationCheck needs benchmarkTable="..."')
        spark = df.sparkSession
        bench = spark.table(bench_tbl)
        corpus_post = df.select(F.col(id_col).alias("doc_id"),
                                F.explode(shingles_col(F.col(col), n))
                                 .alias("__s"))
        bench_post = bench.select(F.col(bench_id).alias("bench_id"),
                                  F.explode(shingles_col(F.col(bench_col), n))
                                   .alias("__s"))
        return (corpus_post.join(F.broadcast(bench_post), "__s")
                .groupBy("doc_id", "bench_id")
                .agg(F.count(F.lit(1)).alias("shared_shingles"))
                .filter(F.col("shared_shingles") >= min_overlap))

    def explain_params(self):
        return [("benchmarkTable", "table of benchmark docs", ""),
                ("idCol", "corpus id column", "doc_id"),
                ("contentCol", "corpus text column", "text"),
                ("benchIdCol", "benchmark id column", "doc_id"),
                ("benchContentCol", "benchmark text column", "text"),
                ("shingleSize", "words per shingle", "3"),
                ("minOverlap", "min shared distinct shingles", "2")]


@register_et("SemDeDup")
class SemDeDup(ETAlgorithm):
    """Semantic dedup via cluster-scoped cosine (SemDeDup, Abbas et al.
    2023): k-means cells over the embedding space, full pairwise cosine
    ONLY within each cell — the O(N²/K) trick that makes embedding dedup
    tractable at corpus scale.  Output: (id_a, id_b, cosine, cell)
    candidate pairs with cosine ≥ threshold; feed DupClusters to pick
    keepers.

    Plan: centroids trained on a bounded driver sample (shared recipe
    with IVFSimilaritySearch — sample quality affects recall, never
    correctness of emitted pairs); ONE Arrow pass assigns cells; a
    window count sub-splits cells larger than `maxCellSize` by a
    secondary hash (bounded per-group memory — documented recall trade,
    same spirit as MinHashDedup's bucket cap); applyInPandas per
    (cell, sub) runs a CHUNKED matmul (1024-row blocks, upper triangle)
    so peak memory is block×cell, not cell².

    `nlist="1"` with `maxCellSize` >= the corpus row count degenerates
    to exact brute-force pair generation — that configuration is the
    DuckDB-oracle contract (same oracle as EmbeddingDedup); recall at
    nlist > 1 (or once the sub-split engages) is the tunable
    approximation.
    """

    def train(self, df, path, params, context=None):
        import numpy as np
        id_col = params.get("idCol", "vec_id")
        col = params.get("embeddingCol", "embedding")
        threshold = get_float(params, "threshold", 0.9)
        nlist = get_int(params, "nlist", 16)
        seed = get_int(params, "seed", 42)
        iters = get_int(params, "kmeansIter", 5)
        sample_n = get_int(params, "trainSample", 10000)
        max_cell = get_int(params, "maxCellSize", 8192)
        df = ensure_parallelism(df)
        base = df.select(F.col(id_col).alias("__id"), F.col(col).alias("__v"))

        from streamingpro_spark.operators.similarity import (
            l2_rows, lloyd_spherical, load_centroids)

        id_t = df.schema[id_col].dataType.simpleString()
        cent = None
        # reuse an IVFIndexBuild's persisted centroids instead of
        # re-sampling + Lloyd per run — at 100 TB the clustering is an
        # artifact you build once and share across SemDeDup,
        # IVFSimilaritySearch and repeat dedup passes.  Source: the
        # explicit indexPath param (must exist), or — mirroring
        # IVFSimilaritySearch's API — the operator's own backtick path
        # when it already holds a centroids.json (`run t as
        # SemDeDup.`/idx``), opportunistically.
        import os as _os
        idx_path = params.get("indexPath", "")
        if idx_path:
            real_idx = (context.resource_real_path(idx_path)
                        if context else idx_path)
            cent = load_centroids(real_idx)
        elif path:
            real_idx = (context.resource_real_path(path)
                        if context else path)
            if _os.path.exists(_os.path.join(real_idx, "centroids.json")):
                cent = load_centroids(real_idx)
        if cent is None:
            # spherical k-means on a bounded driver sample (IVF recipe)
            sample_rows = base.select("__v").limit(sample_n).collect()
            if not sample_rows:
                # empty input (a normal upstream-filter outcome) -> zero
                # pairs, not a numpy axis error on a 1-D empty array
                return df.sparkSession.createDataFrame(
                    [], f"id_a {id_t}, id_b {id_t}, cosine double, "
                        f"cell int")
            sample = l2_rows(np.array([list(r[0]) for r in sample_rows],
                                      dtype=float))
            nlist = max(1, min(nlist, len(sample)))
            cent = lloyd_spherical(sample, nlist, iters, seed)
        bc = df.sparkSession.sparkContext.broadcast(cent)

        def assign_cells(batches):
            import numpy as _np
            for pdf in batches:
                if not len(pdf):
                    continue
                M = _np.array([list(v) for v in pdf["__v"]], dtype=float)
                nn = _np.linalg.norm(M, axis=1, keepdims=True)
                nn[nn == 0] = 1.0
                pdf = pdf.copy()
                pdf["__cell"] = ((M / nn) @ bc.value.T).argmax(axis=1)
                yield pdf

        v_t = df.schema[col].dataType.simpleString()
        assigned = base.mapInPandas(
            assign_cells, f"__id {id_t}, __v {v_t}, __cell int")

        # sub-split oversized cells by a secondary hash: the window count
        # shuffles ONCE on __cell and that partitioning feeds the group
        from pyspark.sql import Window
        w = Window.partitionBy("__cell")
        assigned = (assigned
                    .withColumn("__n", F.count(F.lit(1)).over(w))
                    .withColumn("__sub",
                                F.pmod(portable_hash64(
                                    F.col("__id").cast("string"), "semcell",
                                    hash_impl(params)),
                                    F.ceil(F.col("__n") / max_cell)
                                     .cast("long")))
                    .drop("__n"))

        thr = threshold

        def cell_pairs(pdf):
            import numpy as _np
            import pandas as _pd
            out_a, out_b, out_c, out_cell = [], [], [], []
            if len(pdf) > 1:
                order = _np.argsort(pdf["__id"].to_numpy(), kind="stable")
                ids = pdf["__id"].to_numpy()[order]
                M = _np.array([list(v) for v in pdf["__v"]],
                              dtype=float)[order]
                nn = _np.linalg.norm(M, axis=1, keepdims=True)
                nn[nn == 0] = 1.0
                M = M / nn
                cell = int(pdf["__cell"].iloc[0])
                # chunked upper-triangle matmul: block × cell, never cell²
                B = 1024
                for s in range(0, len(M), B):
                    S = _np.round(M[s:s + B] @ M.T, 4)     # (b, n)
                    for i in range(S.shape[0]):
                        gi = s + i
                        js = _np.nonzero(S[i, gi + 1:] >= thr)[0] + gi + 1
                        out_a.extend([ids[gi]] * len(js))
                        out_b.extend(ids[js])
                        out_c.extend(S[i, js])
                        out_cell.extend([cell] * len(js))
            return _pd.DataFrame({"id_a": out_a, "id_b": out_b,
                                  "cosine": out_c, "cell": out_cell})

        out_schema = (f"id_a {id_t}, id_b {id_t}, cosine double, cell int")
        return (assigned.groupBy("__cell", "__sub")
                .applyInPandas(cell_pairs, out_schema))

    def explain_params(self):
        return [("idCol", "id column", "vec_id"),
                ("embeddingCol", "embedding array column", "embedding"),
                ("threshold", "cosine similarity cutoff", "0.9"),
                ("nlist", "k-means cells (1 = exact brute force)", "16"),
                ("indexPath", "reuse an IVFIndexBuild's persisted "
                 "centroids.json instead of re-training (the backtick "
                 "path is also checked, like IVFSimilaritySearch)", ""),
                ("maxCellSize", "cells above this split by hash", "8192"),
                ("trainSample", "driver sample rows for k-means", "10000"),
                ("kmeansIter", "Lloyd iterations", "5"),
                ("seed", "sampling/init seed", "42"),
                ("hashImpl", "md5 (oracle) | xxhash64 (production)", "md5")]


@register_et("ExactSubstrDedup")
class ExactSubstrDedup(ETAlgorithm):
    """Exact duplicated-substring detection — the window-hash
    approximation of suffix-array substring dedup ("Deduplicating
    Training Data Makes Language Models Better", Lee et al. 2022,
    arXiv:2107.06499).  No reference counterpart (closest:
    SQLRawSimilarInPlace.scala, whole-doc similarity).

    Instead of one corpus-global suffix array (inherently sequential),
    slide a `windowSize`-token window (stride `stride`) over every
    document and hash each window; any window occurring more than once
    corpus-wide marks a duplicated span — exactly the ≥W-token repeated
    substrings a suffix array finds, discretized to stride positions.

    mode=annotate (default): input + n_windows / dup_windows /
    dup_window_fraction per doc.
    mode=remove: additionally excise every token covered by a
    duplicated window (text_dedup column) — per-token coverage is an
    `exists` over the doc's duplicated window starts, pure codegen.

    Scale: the explode produces ~tokens/stride rows per doc; the ONLY
    shuffles are the occurrence count keyed by window hash (uniform
    hash-derived keys) and the per-doc re-agg.  At 100 TB use
    stride=windowSize/2 (guarantees any ≥2W-token duplicate still
    collides) and hashImpl="xxhash64" instead of the oracle-portable
    md5 hash.

    countStrategy picks how occurrences are counted:
    - "join" (default): groupBy count + join back, with the explode
      cached so it computes once — AQE skew-join splits boilerplate hot
      keys.  On web text boilerplate (a window repeated millions of
      times) is the NORM, so the skew-safe plan is the default.
    - "window": ONE pass — count over Window.partitionBy(hash) flags
      duplicates on the same shuffle the per-doc re-agg feeds from
      (measured 1.8× faster at 50k docs: the groupBy+join alternative
      re-runs the explode+hash for both join sides).  Fast OPT-IN for
      corpora known to be free of mega-repeated spans: a pathological
      hot window serializes its key into one task.
    """

    def train(self, df, path, params, context=None):
        id_col = params.get("idCol", "doc_id")
        col = params.get("contentCol", "text")
        w = get_int(params, "windowSize", 50)
        stride = get_int(params, "stride", 1)
        mode = params.get("mode", "annotate")
        impl = hash_impl(params)
        df = ensure_parallelism(df)

        toks = tokens_col(F.col(col))
        starts = F.when(
            F.size(toks) >= w,
            F.sequence(F.lit(1), F.size(toks) - (w - 1), F.lit(stride))
        ).otherwise(F.array().cast("array<int>"))
        wins = F.transform(
            starts,
            lambda i: F.struct(
                i.alias("__start"),
                portable_hash64(F.concat_ws(" ", F.slice(toks, i, w)),
                                "esd", impl).alias("__wh")))

        ex = (df.select(F.col(id_col).alias("__id"),
                        F.explode_outer(wins).alias("__w"))
                .select("__id", F.col("__w.__start").alias("__start"),
                        F.col("__w.__wh").alias("__wh")))
        strategy = params.get("countStrategy", "join")
        if strategy == "join":
            # skew-safe path: cache the explode (both the count and the
            # flag join consume it), groupBy count, AQE skew-join back
            ex = script_cache(ex, context, "esd_windows")
            counts = ex.groupBy("__wh").agg(F.count(F.lit(1)).alias("__cnt"))
            flagged = (ex.join(counts, "__wh", "left")
                         .withColumn("__dup", F.col("__cnt") > 1))
        else:
            from pyspark.sql import Window
            # salt the null key: docs shorter than the window emit one
            # null __wh each, and un-salted they would all serialize
            # into a single window partition
            part_key = F.coalesce(F.col("__wh"), F.xxhash64(F.col("__id")))
            flagged = (ex.withColumn(
                "__cnt",
                F.count(F.col("__wh")).over(Window.partitionBy(part_key)))
                .withColumn("__dup", (F.col("__cnt") > 1)
                            & F.col("__wh").isNotNull()))
        aggs = [
            F.count(F.col("__wh")).alias("n_windows"),
            F.sum(F.when(F.col("__dup"), 1).otherwise(0)).alias("dup_windows"),
        ]
        if mode == "remove":
            # the per-doc start list is only needed for span excision —
            # annotate mode skips the collect_list shuffle bytes
            aggs.append(F.sort_array(F.collect_list(
                F.when(F.col("__dup"), F.col("__start")))).alias("__dup_starts"))
        per_doc = flagged.groupBy("__id").agg(*aggs)
        out = (df.join(per_doc, F.col(id_col) == F.col("__id"), "left")
                 .drop("__id")
                 .withColumn("n_windows", F.coalesce("n_windows", F.lit(0)))
                 .withColumn("dup_windows", F.coalesce("dup_windows", F.lit(0)))
                 .withColumn("dup_window_fraction",
                             F.round(F.col("dup_windows") /
                                     F.greatest("n_windows", F.lit(1)), 4)))
        if mode == "remove":
            # filter the RAW token split (same \s+ boundaries as the
            # lowercased hashing tokens, so indices align) — excision
            # must not lowercase the surviving text
            raw_toks = F.split(F.col(col), r"\s+")
            starts_arr = F.coalesce(F.col("__dup_starts"),
                                    F.array().cast("array<int>"))
            survivors = F.filter(
                raw_toks,
                lambda t, i: ~F.exists(
                    starts_arr,
                    lambda s: (i + 1 >= s) & (i + 1 < s + w)))
            out = (out.withColumn("text_dedup", F.concat_ws(" ", survivors))
                      .drop("__dup_starts"))
        return out

    def explain_params(self):
        return [("idCol", "document id column", "doc_id"),
                ("contentCol", "text column", "text"),
                ("windowSize", "tokens per window", "50"),
                ("stride", "window start step (W/2 at scale)", "1"),
                ("mode", "annotate | remove (excise covered tokens)", "annotate"),
                ("countStrategy", "join (AQE skew-safe) | window (1-pass "
                 "opt-in for boilerplate-free corpora)", "join"),
                ("hashImpl", "md5 (oracle) | xxhash64 (production)", "md5")]


@register_et("ParagraphDedup")
class ParagraphDedup(ETAlgorithm):
    """CCNet-style paragraph-level exact dedup (Wenzek et al. 2020,
    arXiv:1911.00359 §3.1): split docs into paragraphs, normalize
    (lowercase, strip non-alphanumeric), hash, keep only the globally
    FIRST occurrence of each paragraph (min (doc_id, position)), and
    reassemble documents from the surviving paragraphs.

    Output: doc_id, text (deduped), n_paras, n_kept — one row per INPUT
    document.  Documents whose every paragraph was seen earlier
    elsewhere (or whose text is null/normalized-empty) come back with
    n_kept=0 and empty text (CCNet drops them downstream).

    `sep` is a LITERAL separator (applied via \\Q..\\E regex quoting on
    split, and verbatim on reassembly); a sep containing the literal
    sequence \\E is unsupported.

    Scale: one posexplode (rows × paragraphs) into a script-lifetime
    cache (three consumers — survivor pick, per-doc counts, reassembly
    — would otherwise re-scan and re-hash the corpus 3×), one
    min-struct groupBy on the paragraph hash (map-side combined — the
    survivor pick never builds a per-hash row list), one join back on
    (hash,doc,pos), one per-doc reassembly groupBy.  Normalized-empty
    paragraphs are dropped before the shuffle: the "" paragraph is the
    one degenerate hot key in real corpora.
    """

    def train(self, df, path, params, context=None):
        id_col = params.get("idCol", "doc_id")
        col = params.get("contentCol", "text")
        sep = params.get("sep", "\n")
        df = ensure_parallelism(df)

        paras = script_cache(
            (df.select(F.col(id_col).alias("__id"),
                       F.posexplode(F.split(F.col(col),
                                            "\\Q" + sep + "\\E"))
                        .alias("__pos", "__para"))
               .withColumn("__norm",
                           F.regexp_replace(F.lower(F.col("__para")),
                                            "[^a-z0-9 ]", ""))
               .filter(F.trim(F.col("__norm")) != "")
               .withColumn("__ph", portable_hash64(F.col("__norm"), "pd",
                                                   hash_impl(params)))),
            context, "paradedup_paras")
        paras.count()  # materialize once before the three consumers
        first = (paras.groupBy("__ph")
                      .agg(F.min(F.struct("__id", "__pos")).alias("__first")))
        kept = (paras.join(first, "__ph")
                     .filter((F.col("__id") == F.col("__first.__id"))
                             & (F.col("__pos") == F.col("__first.__pos")))
                     .drop("__first"))
        n_paras = (paras.groupBy("__id")
                        .agg(F.count(F.lit(1)).alias("n_paras")))
        rebuilt = (kept.groupBy("__id").agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(F.transform(
                F.sort_array(F.collect_list(F.struct("__pos", "__para"))),
                lambda s: s["__para"]), sep).alias("text")))
        # join back to the input ids: a doc whose every paragraph was
        # dropped (all-duplicate OR null/normalized-empty text) still
        # emits its row
        # (no eager_materialize here: the output is corpus-sized — the
        # paragraph cache is freed by the engine's script-lifetime reaper)
        return (df.select(F.col(id_col).alias("__id"))
                  .join(n_paras.join(rebuilt, "__id", "left"), "__id", "left")
                  .select(F.col("__id").alias(id_col),
                          F.coalesce("text", F.lit("")).alias("text"),
                          F.coalesce("n_paras", F.lit(0)).alias("n_paras"),
                          F.coalesce("n_kept", F.lit(0)).alias("n_kept")))

    def explain_params(self):
        return [("idCol", "document id column", "doc_id"),
                ("contentCol", "text column", "text"),
                ("sep", "literal paragraph separator", "\\n"),
                ("hashImpl", "md5 (oracle) | xxhash64 (production)", "md5")]
