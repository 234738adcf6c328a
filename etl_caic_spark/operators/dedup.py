"""Deduplication operators for large-scale text corpora (BASELINE.json
north star; SURVEY.md §2.C "LLM-data-pipeline extensions").

Four tiers, all pure DataFrame dataflow (no Python in the hot path, no
O(n²) full cross products):

- exact_dedup:        content-hash groupBy, keep-first.
- ngram_jaccard_pairs: exact Jaccard over word k-gram shingles via a
                       shingle-inverted-index self-join (SQL-expressible →
                       strong DuckDB oracle).
- minhash_lsh_pairs:  MinHash signatures + LSH banding → candidate pairs →
                      signature-similarity verification. The 100 TB path:
                      cost is O(docs × shingles) + a band-bucket shuffle,
                      never all-pairs.
- simhash_pairs:      63-bit SimHash fingerprints + 4-block pigeonhole
                      banding for hamming-distance candidates.

Build cost: the shingles, the md5 MinHash signatures, the band explode
and the band join + verify of the md5 family are SQL text (the join and
verify one ``spark.sql`` statement), so building a pair frame is a
handful of py4j calls, not one per expression node.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_caic_spark.util import widen_narrow_scan


def word_shingles_sql(text: str, k: int = 3) -> str:
    """SQL text of the distinct word k-gram shingles of column ``text``,
    JVM-side only: split → sliding windows via transform(sequence) →
    array_distinct. Documents shorter than k words contribute their full
    text as the one shingle (so they still participate)."""
    words = f"split(`{text}`, ' ')"
    return (
        f"array_distinct(transform(sequence(0, greatest(size({words}) - {k}, 0)), "
        f"i -> concat_ws(' ', slice({words}, i + 1, {k}))))"
    )


def word_shingles(text: str, k: int = 3):
    """word_shingles_sql as a Column."""
    return F.expr(word_shingles_sql(text, k))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep-first exact dedup by content hash. Returns one row per distinct
    content with keep_id (min id), n_dups, and the hash.

    Scale: a single hash-partitioned aggregate on the 128-bit content hash;
    the reference's build-side dedup (task.ts:97-100) is the same shape but
    last-write-wins over ids (see caic pipeline operator)."""
    h = F.md5(F.col(text_col)).alias("content_hash")
    return (
        df.select(h, F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").cast("bigint").alias("n_dups"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bucket_cols: list[str],
    k: int = 3,
    threshold: float = 0.2,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs within buckets.

    Inverted-index join: explode distinct shingles, self-join on
    (bucket, shingle) with id_a < id_b, count common shingles, then
    jaccard = |A∩B| / (|A| + |B| - |A∩B|).

    Scale: the join key is the shingle — frequency-skewed shingles are the
    hazard. `max_shingle_df` is the production guard: shingles appearing
    in more than that many documents (stop-shingles) are dropped from the
    index AND the size computation, bounding any bucket's candidate count
    at df² per shingle and redefining similarity over informative shingles
    only. The df filter is a window over the same (bucket, shingle) key
    the self-join shuffles on, so it rides the exchange that already
    exists. Buckets bound the candidate space."""
    shingled = widen_narrow_scan(df).select(
        F.col(id_col).alias("doc"),
        *[F.col(c) for c in bucket_cols],
        F.explode(word_shingles(text_col, k)).alias("shingle"),
    )
    if max_shingle_df is not None:
        w = Window.partitionBy(*bucket_cols, "shingle")
        shingled = (
            shingled.withColumn("_df", F.count("*").over(w))
            .filter(F.col("_df") <= max_shingle_df)
            .drop("_df")
        )
    # Materialized once, AFTER the df-cap so the checkpoint holds already-
    # capped data: it feeds the per-doc size agg AND both self-join sides
    # (the join sides share one exchange via ReuseExchange, but the size
    # agg shuffles on a different key and would otherwise re-run the
    # scan+explode — and, uncapped, the cap window itself three times).
    shingled = shingled.localCheckpoint()
    sizes = shingled.groupBy("doc").agg(F.count("*").alias("n_shingles"))

    a = shingled.alias("a")
    b = shingled.alias("b")
    cond = (F.col("a.shingle") == F.col("b.shingle")) & (
        F.col("a.doc") < F.col("b.doc")
    )
    for c in bucket_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    common = (
        a.join(b, cond)
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_shingles").alias("nb"))
    jac = (
        common.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("na") + F.col("nb") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return jac.select("doc_a", "doc_b", "common", "na", "nb", "jaccard")


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    k: int = 3,
) -> DataFrame:
    """Per-document MinHash signature: one explode over distinct shingles,
    then num_hashes seeded xxhash64 minima in a single aggregate (map-side
    partial min → tiny shuffle)."""
    shingled = widen_narrow_scan(df).select(
        F.col(id_col).alias("doc"),
        F.explode(word_shingles(text_col, k)).alias("shingle"),
    )
    mins = [
        F.min(F.xxhash64("shingle", F.lit(j))).alias(f"h{j}") for j in range(num_hashes)
    ]
    sig = shingled.groupBy("doc").agg(*mins)
    return sig.select(
        "doc", F.array(*[F.col(f"h{j}") for j in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 32,
    bands: int = 16,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + LSH near-dup pairs.

    banding: signature split into `bands` bands of num_hashes/bands rows;
    band hash = xxhash64(band slice); docs sharing any (band, hash) bucket
    become candidates; candidates verified by estimated Jaccard =
    fraction of agreeing signature positions.

    Scale: candidate generation is a groupBy on (band_idx, band_hash) —
    no all-pairs; huge buckets (degenerate content) are the skew hazard,
    capped upstream by exact-dedup first."""
    rows = num_hashes // bands
    # Materialize signatures once — both sides of the band self-join would
    # otherwise re-run the shingle explode + 32-way min aggregate.
    sig = minhash_signatures(df, id_col, text_col, num_hashes, k).localCheckpoint()

    banded = sig.select(
        "doc",
        "sig",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.struct(
                    bi.alias("band_idx"),
                    F.xxhash64(
                        F.concat_ws(",", F.slice("sig", bi * rows + 1, rows))
                    ).alias("band_hash"),
                ),
            )
        ).alias("band"),
    ).select("doc", "sig", "band.band_idx", "band.band_hash")

    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    est = cand.withColumn(
        "est_jaccard",
        F.aggregate(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        / F.lit(num_hashes),
    )
    return est.filter(F.col("est_jaccard") >= threshold).select(
        "doc_a", "doc_b", "est_jaccard"
    )


def minhash_md5_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    k: int = 3,
) -> DataFrame:
    """Engine-portable MinHash signatures: h_j(shingle) = md5(j || '|' ||
    shingle), minima taken in LEXICOGRAPHIC order over the hex strings —
    reproducible by any engine (unlike the Spark-specific xxhash64 fast
    path). Returns (doc, sig: array<string>[num_hashes]), NOT
    checkpointed — the caller decides materialization."""
    mins = ", ".join(
        f"min(md5(concat_ws('|', '{j}', shingle)))" for j in range(num_hashes)
    )
    return (
        widen_narrow_scan(df)
        .selectExpr(
            f"`{id_col}` AS doc", f"explode({word_shingles_sql(text_col, k)}) AS shingle"
        )
        .groupBy("doc")
        .agg(F.expr(f"array({mins}) AS sig"))
    )


def _md5_band_sql(num_hashes: int, bands: int) -> str:
    """SQL generator over a ``sig`` column: one (band_idx, band_hash) row
    per band, band key = md5 of the band's comma-joined minima."""
    rows = num_hashes // bands
    return (
        f"inline(transform(sequence(0, {bands - 1}), bi -> named_struct("
        f"'band_idx', bi, 'band_hash', "
        f"md5(concat_ws(',', slice(sig, bi * {rows} + 1, {rows}))))))"
    )


def _md5_banded(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(doc, band_idx, band_hash) rows of an md5 signature frame."""
    return sig.selectExpr("doc", _md5_band_sql(num_hashes, bands))


def minhash_md5_candidate_pairs(
    df: DataFrame | None,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    k: int = 3,
    threshold: float = 0.5,
    checkpoint_sig: bool = True,
    sig: DataFrame | None = None,
) -> DataFrame:
    """THE shared shingle → md5 signature → banded-candidates builder
    (r12 ADVICE: previously duplicated between minhash_lsh_pairs_md5 and
    eval_minhash_quality's inline sig-carry variant, so a change to
    hashing or banding could silently desynchronize the audit from the
    operator it audits — now both are thin wrappers over this one
    function, and the estimated-Jaccard verify is the SAME float compare
    agree/num_hashes >= threshold in both shapes).

    Returns (doc_a, doc_b, est_jaccard) — candidates sharing at least
    one (band_idx, band_hash) bucket, verified by estimated Jaccard.

    Two plan shapes, same pair set:

    - checkpoint_sig=True (the production deduper): signatures are
      materialized once (localCheckpoint), the band self-join carries
      only (doc, band), and est_jaccard re-joins the sig frame — right
      at 10^10 docs where carrying the full sig through the band
      shuffle would multiply sig bytes by the band count.
    - checkpoint_sig=False (the single-job audit shape): the sig array
      rides THROUGH the band explode so both self-join sides are the
      SAME subtree (merge hints force identical shuffle exchanges →
      ReusedExchange computes the sig pipeline once) and the whole leg
      is one job with no blocking checkpoint.

    ``sig`` lets a caller that sweeps several band configs reuse ONE
    signature frame (pass it pre-checkpointed; `df` may be None then)."""
    if sig is None:
        sig = minhash_md5_signatures(df, id_col, text_col, num_hashes, k)
        if checkpoint_sig:
            sig = sig.localCheckpoint()
    band = _md5_band_sql(num_hashes, bands)
    on = "a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc < b.doc"
    if checkpoint_sig:
        pairs = f"""
            WITH banded AS (SELECT doc, {band} FROM {{sig}}),
            cand AS (
              SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
              FROM banded a JOIN banded b ON {on}
            )
            SELECT c.doc_a, c.doc_b, sa.sig AS sig_a, sb.sig AS sig_b
            FROM cand c
            JOIN {{sig}} sa ON sa.doc = c.doc_a
            JOIN {{sig}} sb ON sb.doc = c.doc_b"""
    else:
        # merge-join hint on BOTH sides: a broadcast plan would wrap one
        # side in a BroadcastExchange (not reusable against the other
        # side's shuffle) and the sig aggregate would execute twice;
        # with identical shuffle exchanges the second side is a
        # ReusedExchange and the sig pipeline runs exactly once. DISTINCT
        # over the carried sigs: sig is functional on doc, so the pairs
        # are the same either shape.
        pairs = f"""
            WITH banded AS (SELECT doc, sig, {band} FROM {{sig}})
            SELECT /*+ MERGE(a, b) */ DISTINCT
              a.doc AS doc_a, b.doc AS doc_b, a.sig AS sig_a, b.sig AS sig_b
            FROM banded a JOIN banded b ON {on}"""
    # estimated Jaccard = the fraction of agreeing signature positions
    return sig.sparkSession.sql(
        f"""
        SELECT doc_a, doc_b, est_jaccard FROM (
          SELECT doc_a, doc_b,
            aggregate(zip_with(sig_a, sig_b, (x, y) -> CAST(x = y AS INT)),
                      0, (acc, x) -> acc + x) / {num_hashes} AS est_jaccard
          FROM ({pairs})
        ) WHERE est_jaccard >= {float(threshold)!r}D""",
        sig=sig,
    )


def minhash_lsh_pairs_md5(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 8,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + LSH with ENGINE-PORTABLE hashing — a thin wrapper over
    minhash_md5_candidate_pairs (checkpoint_sig=True, the production
    shape; see its docstring for both shapes and the sharing contract).

    md5 is standardized, so — unlike the xxhash64 fast path above, whose
    seed mixing is Spark-specific — every step is reproducible by any
    engine and the whole MinHash+LSH pipeline gets a hash-matched DuckDB
    oracle. min-of-md5 over a random permutation of shingle space is
    exactly the MinHash estimator (P[min agrees] = Jaccard); hex-string
    ordering is just an order-isomorphic encoding of the 128-bit value.

    Scale shape is IDENTICAL to minhash_lsh_pairs: one shingle explode,
    map-side partial minima, band-bucket equi-join — never all-pairs. The
    md5 column hash costs ~2-3× xxhash64's JVM intrinsic, so at 100 TB
    run the xxhash path and keep this as the cross-engine-verifiable twin
    (same banding math, same candidate semantics)."""
    return minhash_md5_candidate_pairs(
        df,
        id_col,
        text_col,
        num_hashes=num_hashes,
        bands=bands,
        k=k,
        threshold=threshold,
        checkpoint_sig=True,
    )


def simhash_fingerprints(
    df: DataFrame, id_col: str, text_col: str, bits: int = 63
) -> DataFrame:
    """63-bit SimHash: explode words with term counts; per bit position sum
    +count/-count by whether xxhash64(word) has the bit set; sign vector →
    fingerprint. 63 bits keeps the fingerprint in a positive BIGINT.

    Formulated as (doc, bit) rows — posexplode the per-occurrence ±1
    contribution vector, sum per (doc, bit), then fold the sign vector
    back into one BIGINT — rather than one 63-aggregate groupBy. Every
    expression is small and generic, so it stays inside whole-stage
    codegen and shares JIT-compiled code with the rest of the engine
    instead of compiling a one-off kilo-line aggregate method per run.

    The classic per-(doc, word) term-count pre-aggregate is skipped on
    purpose: ±1 per word OCCURRENCE sums to exactly ±count per distinct
    word, so the fingerprint is identical and the (doc, word) shuffle —
    a full pass over every token — disappears. The only shuffle left is
    the map-side-combining (doc, bit) aggregate (≤ 63 partials per doc
    per task)."""
    words = widen_narrow_scan(df).select(
        F.col(id_col).alias("doc"), F.explode(F.split(text_col, " ")).alias("word")
    )
    wh = words.select("doc", F.xxhash64("word").alias("wh"))
    # bit_get (unlike shiftright) takes a Column position, so the whole
    # ±1 vector is ONE small transform lambda instead of `bits` unrolled
    # expressions — keeps the generated method tiny (fast to codegen-
    # compile AND JIT-warm; the 63-way unrolled form cost ~4s one-time).
    contrib = wh.select(
        "doc",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bits - 1)),
                lambda i: F.when(F.bit_get(F.col("wh"), i) == 1, F.lit(1)).otherwise(
                    F.lit(-1)
                ),
            )
        ).alias("bit", "c"),
    )
    bit_sums = contrib.groupBy("doc", "bit").agg(F.sum("c").alias("s"))
    # 2^bit is exact in double up to 2^62, so pow+cast is lossless here.
    return bit_sums.groupBy("doc").agg(
        F.sum(
            F.when(F.col("s") > 0, F.pow(F.lit(2.0), F.col("bit")).cast("bigint"))
            .otherwise(F.lit(0))
        ).alias("fingerprint")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = 63,
    blocks: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs with hamming distance <= max_hamming.

    Pigeonhole banding: split the fingerprint into `blocks` bit-blocks; any
    pair within hamming <= blocks-1 must agree on at least one whole block,
    so joining on (block_idx, block_value) finds all such pairs without an
    all-pairs scan. Requires max_hamming <= blocks - 1 for completeness."""
    if max_hamming > blocks - 1:
        raise ValueError("completeness requires max_hamming <= blocks - 1")
    # Materialize fingerprints once (one bigint per doc) — both sides of
    # the block self-join would otherwise re-run the word-count shuffle and
    # the 63-way bit-sum aggregate.
    fp = simhash_fingerprints(df, id_col, text_col, bits).localCheckpoint()
    width = bits // blocks + 1
    mask = (1 << width) - 1
    blocked = fp.select(
        "doc",
        "fingerprint",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("block_idx"),
                        F.shiftright(F.col("fingerprint"), bi * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("block_val"),
                    )
                    for bi in range(blocks)
                ]
            )
        ).alias("blk"),
    ).select("doc", "fingerprint", "blk.block_idx", "blk.block_val")
    a = blocked.alias("a")
    b = blocked.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.fingerprint").alias("fp_a"),
            F.col("b.fingerprint").alias("fp_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        pairs.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def keep_first_after_pairs(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """Given near-dup pairs, drop the higher-id member of every pair
    (greedy single-pass policy; a full connected-components dedup would use
    an iterative join — out of scope for the operator itself)."""
    drop = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    return df.join(drop, on=id_col, how="left_anti")


def _simhash_fp_md5(
    df: DataFrame, id_col: str, text_col: str, bits: int
) -> DataFrame:
    """Engine-portable SimHash fingerprint frame (doc, fingerprint):
    word hash = first `bits` bits of md5(word), occurrence-level ±1 bit
    contributions, sign of the per-bit sums packed into a BIGINT. Shared
    by simhash_pairs_md5 (single-block candidates, the frozen 32-bit
    pin) and simhash_pairs_md5_combo (block-combination candidates, the
    scale shape). localCheckpoint: the fp frame feeds both sides of a
    self-join plus the hamming verify."""
    assert bits % 4 == 0 and bits <= 60, bits  # conv needs <= 15 hex chars
    words = widen_narrow_scan(df).select(
        F.col(id_col).alias("doc"),
        F.explode(F.split(F.col(text_col), " ")).alias("word"),
    )
    wh = words.select(
        "doc",
        F.conv(F.substring(F.md5("word"), 1, bits // 4), 16, 10)
        .cast("bigint")
        .alias("wh"),
    )
    contrib = wh.select(
        "doc",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bits - 1)),
                lambda i: F.when(F.bit_get(F.col("wh"), i) == 1, F.lit(1)).otherwise(
                    F.lit(-1)
                ),
            )
        ).alias("bit", "c"),
    )
    bit_sums = contrib.groupBy("doc", "bit").agg(F.sum("c").alias("s"))
    return (
        bit_sums.groupBy("doc")
        .agg(
            F.sum(
                F.when(
                    F.col("s") > 0,
                    F.pow(F.lit(2.0), F.col("bit")).cast("bigint"),
                ).otherwise(F.lit(0))
            ).alias("fingerprint")
        )
        .localCheckpoint()
    )


def simhash_pairs_md5_combo(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = 60,
    blocks: int = 6,
) -> DataFrame:
    """SimHash near-dup pairs with BLOCK-COMBINATION candidate keys —
    the published at-scale shape (Manku et al., Detecting Near-
    Duplicates for Web Crawling): split the fingerprint into `blocks`
    blocks and key candidates on every (blocks - max_hamming)-subset of
    block values, so a colliding key carries (blocks - max_hamming) *
    width bits instead of one block's width. Pigeonhole-complete: a
    pair at hamming <= max_hamming differs in <= max_hamming blocks, so
    some (blocks - max_hamming)-subset of blocks is identical in both.

    With the defaults (60-bit fp, 6 blocks of 10, key = a block TRIPLE
    = 30 bits, C(6,3) = 20 tables) the random candidate-collision rate
    is n²·20/2^30 vs n²·4/2^15 for the single-block 4x15 shape — the
    r15 ensemble probe measured the difference as the super-linear term
    in the 100x row. Row cost is 20 small rows per doc — linear.

    The FINAL pair set is blocking-independent (candidates are verified
    by exact bit_count(xor) <= max_hamming), so any consumer's oracle
    can pin the semantics as the plain hamming relation."""
    from itertools import combinations

    assert bits % blocks == 0, (bits, blocks)
    width = bits // blocks
    mask = (1 << width) - 1
    keep = blocks - max_hamming
    assert keep >= 1, (blocks, max_hamming)
    fp = _simhash_fp_md5(df, id_col, text_col, bits)
    combos = list(combinations(range(blocks), keep))
    # pack each combo's block values into ONE bigint key (width*keep
    # bits) — an equi-join column, engine-portable integer arithmetic
    keyed = fp.select(
        "doc",
        "fingerprint",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(ci).alias("combo_idx"),
                        sum(
                            (
                                F.shiftright(
                                    F.col("fingerprint"), bi * width
                                ).bitwiseAND(F.lit(mask))
                                * (1 << (width * pos))
                            )
                            for pos, bi in enumerate(combo)
                        ).alias("key"),
                    )
                    for ci, combo in enumerate(combos)
                ]
            )
        ).alias("ck"),
    ).select("doc", "fingerprint", "ck.combo_idx", "ck.key")
    a = keyed.alias("a")
    b = keyed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.combo_idx") == F.col("b.combo_idx"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.fingerprint").alias("fp_a"),
            F.col("b.fingerprint").alias("fp_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        pairs.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_pairs_md5(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = 32,
) -> DataFrame:
    """SimHash near-dup pairs with ENGINE-PORTABLE hashing: the word hash
    is the first `bits` bits of md5(word) (conv of the leading bits/4 hex
    chars), so — unlike the xxhash64 path above — the fingerprint, the
    pigeonhole blocks, and the candidate set are all reproducible by any
    engine and the query carries a full DuckDB oracle.

    `bits`-bit fingerprints in 4 blocks of bits/4: complete for
    hamming <= 3 by pigeonhole, random block-collision rate 2^-(bits/4).
    The default 32/4x8 is dedup_simhash_md5's frozen semantics pin; its
    1024-bucket block space saturates beyond ~10^5 docs (candidate
    pairs go quadratic — measured in the r15 ensemble probe), so scale
    consumers use simhash_pairs_md5_combo above (block-combination
    keys, 2^30 key space). Same dataflow as simhash_pairs (occurrence-
    level ±1 contributions, (doc, bit) sums, block equi-join — never
    all-pairs); md5+conv costs ~2-3× the xxhash64 intrinsic, so at
    100 TB run the xxhash path and keep this as the verifiable twin."""
    blocks = 4
    width = bits // blocks
    mask = (1 << width) - 1
    fp = _simhash_fp_md5(df, id_col, text_col, bits)
    blocked = fp.select(
        "doc",
        "fingerprint",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("block_idx"),
                        F.shiftright(F.col("fingerprint"), bi * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("block_val"),
                    )
                    for bi in range(blocks)
                ]
            )
        ).alias("blk"),
    ).select("doc", "fingerprint", "blk.block_idx", "blk.block_val")
    a = blocked.alias("a")
    b = blocked.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.fingerprint").alias("fp_a"),
            F.col("b.fingerprint").alias("fp_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        pairs.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
