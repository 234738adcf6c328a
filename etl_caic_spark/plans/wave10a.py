"""Round-9 wave E (file wave10a): product quantization — the third ANN
pillar — fully oracled via integer-frozen codebooks; plus stratified
curriculum ordering for training-data scheduling.

The similarity family had exact top-k (sim_topk_cosine), LSH buckets
(sim_lsh_cosine) and IVF routing (sim_topk_ivf*); PRODUCT QUANTIZATION
is the remaining standard scale path (Jegou et al., "Product
Quantization for Nearest Neighbor Search"): compress each vector to M
subspace codes against per-subspace codebooks, then answer queries with
an ASYMMETRIC DISTANCE COMPUTATION (ADC) lookup table — M*K
query-to-codeword distances computed once, each candidate scored by M
table lookups instead of a D-dim scan.

``sim_pq_adc`` makes every step engine-exact so the whole pipeline
hash-matches a DuckDB oracle (the same freeze-the-randomness discipline
as dedup_minhash_md5):
- coordinates quantize to integer micro-units once
  (round(x * 1e6) — float32 -> double widening is exact, one rounded
  multiply, identical on both engines);
- the K=16 initial codewords per subspace are the subvectors of the 16
  anchor vectors with the smallest md5('pq-v1|' || vec_id) (portable
  draw), ranked among themselves by that hash;
- ONE Lloyd step refines them: per (subspace, code, dim) the centroid
  is round(sum(x_micro) / count) — an integer sum (order-free) and a
  single rounded division;
- assignment (both rounds) is argmin of exact BIGINT squared distances
  with code-index tiebreak;
- the ADC table (M*K = 128 rows) and all scores are exact BIGINT
  micro^2 sums; the ADC top-100 shortlist is then RE-RANKED by exact
  distance and the top-10 published — the standard two-stage serving
  shape (coarse ADC scan, exact rerank of a constant-size shortlist).
  Probed on the fixture: the shortlist captures 9/10 of the true
  top-10 (random embeddings are PQ's worst case — near-equidistant
  points; the rerank stage is what makes the answer usable, exactly as
  in production systems).

Scale shape: the codebook path touches the corpus twice (two
broadcast-joined assignments — the anchor/centroid frames are M*K*dim
rows, KILOBYTES at any corpus size); the query path is the 32-row ADC
LUT broadcast onto the code table — one M-lookup sum per candidate and
a TakeOrderedAndProject top-k. No shuffle is ever keyed by anything but
vec_id. At 100 TB you train the codebook on a sample (same plan over a
sampled scan) and the apply/query path is unchanged — the reason PQ is
the billion-vector default.

``data_curriculum_order`` is the training-side companion: order a
corpus easy-to-hard (by token count) while keeping every difficulty
tier stratum-balanced across languages — the curriculum-learning
schedule a pretraining run feeds its dataloader. The position is a
CLOSED FORM, pos = (stratum_rank - 1) * |strata| + stratum_index, so
the only window is the stratum-partitioned rank (no global sort at any
corpus size); positions are sparse where strata exhaust, which
preserves the schedule order (densify with a prefix rank only if a
dataloader needs contiguous ids).

Reference parity: the reference (task.ts:88-189) has no similarity or
training-data surface — SURVEY §2.C extension mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_caic_spark.registry import register
from etl_caic_spark.sources import load_table
from etl_caic_spark.util import widen_narrow_scan

_PQ_M = 8  # subspaces
_PQ_SUBDIM = 8  # dims per subspace (64-dim embeddings)
_PQ_K = 16  # codewords per subspace (4-bit codes)
_PQ_SHORTLIST = 100  # ADC candidates kept for the exact re-rank
_PQ_TOPK = 10

# The WITH-body shared by sim_pq_adc and its recall audit
# (plans/wave14a.eval_pq_recall): everything from coordinate
# quantization through the ADC shortlist. Kept as one string so the
# audit certifies the EXACT same construction the serving query runs.
PQ_CTES = f"""
    dims AS (
      SELECT vec_id, g.i AS d,
             CAST(round(CAST(embedding[g.i + 1] AS DOUBLE) * 1e6) AS BIGINT) AS x
      FROM embeddings,
           LATERAL (SELECT unnest(generate_series(0, len(embedding) - 1)) AS i) g
    ),
    sub AS (SELECT vec_id, d // {_PQ_SUBDIM} AS s, d, x FROM dims),
    anch AS (
      SELECT vec_id,
             CAST(row_number() OVER (ORDER BY md5('pq-v1|' || CAST(vec_id AS VARCHAR)),
                                     vec_id) AS BIGINT) - 1 AS k
      FROM (SELECT DISTINCT vec_id FROM embeddings)
      QUALIFY k < {_PQ_K}
    ),
    aw AS (
      SELECT anch.k, sub.s, sub.d, sub.x
      FROM anch JOIN sub ON sub.vec_id = anch.vec_id
    ),
    d1 AS (
      SELECT v.vec_id, v.s, a.k,
             CAST(sum((v.x - a.x) * (v.x - a.x)) AS BIGINT) AS dist
      FROM sub v JOIN aw a ON a.s = v.s AND a.d = v.d
      GROUP BY 1, 2, 3
    ),
    code1 AS (
      SELECT vec_id, s, k FROM d1
      QUALIFY row_number() OVER (PARTITION BY vec_id, s
                                 ORDER BY dist, k) = 1
    ),
    cent AS (
      SELECT c.s, c.k, v.d,
             CAST(round(CAST(sum(v.x) AS DOUBLE) / count(*)) AS BIGINT) AS cx
      FROM code1 c JOIN sub v ON v.vec_id = c.vec_id AND v.s = c.s
      GROUP BY 1, 2, 3
    ),
    d2 AS (
      SELECT v.vec_id, v.s, ct.k,
             CAST(sum((v.x - ct.cx) * (v.x - ct.cx)) AS BIGINT) AS dist
      FROM sub v JOIN cent ct ON ct.s = v.s AND ct.d = v.d
      GROUP BY 1, 2, 3
    ),
    code2 AS (
      SELECT vec_id, s, k FROM d2
      QUALIFY row_number() OVER (PARTITION BY vec_id, s
                                 ORDER BY dist, k) = 1
    ),
    q AS (SELECT s, d, x FROM sub WHERE vec_id = 0),
    lut AS (
      SELECT ct.s, ct.k,
             CAST(sum((q.x - ct.cx) * (q.x - ct.cx)) AS BIGINT) AS part
      FROM cent ct JOIN q ON q.s = ct.s AND q.d = ct.d
      GROUP BY 1, 2
    ),
    adc AS (
      SELECT c.vec_id, CAST(sum(l.part) AS BIGINT) AS adc_micro2
      FROM code2 c JOIN lut l ON l.s = c.s AND l.k = c.k
      WHERE c.vec_id <> 0
      GROUP BY 1
    ),
    short AS (
      SELECT vec_id, adc_micro2 FROM adc
      ORDER BY adc_micro2, vec_id LIMIT {_PQ_SHORTLIST}
    )"""

_PQ_SQL = f"""
    WITH {PQ_CTES},
    rerank AS (
      SELECT v.vec_id, min(sh.adc_micro2) AS adc_micro2,
             CAST(sum((v.x - q.x) * (v.x - q.x)) AS BIGINT) AS exact_micro2
      FROM short sh
      JOIN sub v ON v.vec_id = sh.vec_id
      JOIN q ON q.s = v.s AND q.d = v.d
      GROUP BY 1
    )
    SELECT vec_id, adc_micro2, exact_micro2
    FROM rerank
    ORDER BY exact_micro2, vec_id
    LIMIT {_PQ_TOPK}
"""


def _pq_width(emb: DataFrame) -> int:
    """Partition count for the coordinate-stream checkpoint: 1 while the
    scan's plan-time size estimate fits in one file split, otherwise the
    cluster's defaultParallelism."""
    spark = emb.sparkSession
    size = emb._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    if int(size) <= split:
        return 1
    return spark.sparkContext.defaultParallelism


def pq_shortlist_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The PQ serving pipeline up to the ADC shortlist, shared by
    sim_pq_adc and its recall audit (plans/wave14a.eval_pq_recall):
    returns (sub, q, short) where sub is the checkpointed
    (vec_id, s, d, x) integer-micro coordinate stream, q the vec_id=0
    query slice (s, d, qx) and short the 100-row (_PQ_SHORTLIST) ADC
    shortlist (vec_id, adc_micro2). Mirrors PQ_CTES exactly."""
    emb = load_table(spark, sf_dir, "embeddings")
    # localCheckpoint: the quantized coordinate stream feeds five
    # consumers (anchor frame, two assignment rounds, the query slice,
    # the exact rerank) — without it each re-runs scan+posexplode; the
    # materialized frame is |vectors| x dims x 4 columns, the same
    # bounded-intermediate class as the curation pipeline's checkpoints
    # NOT widened (measured, r12): unlike the md5-heavy shingle
    # explodes, this pipeline's per-stage compute is light and its cost
    # is ~15 sequential mini-stages — widening the scan to 32 tasks per
    # stage ADDED ~0.7 s of task/AQE overhead (bench 4.4 -> 5.1) with
    # no compute to amortize it. At real scale the scan arrives wide on
    # its own and widen_narrow_scan is the no-op branch either way.
    # r16: checkpoint HASH-PARTITIONED BY vec_id. Width 1 while the
    # embeddings scan fits in one file split (plan-time Catalyst size
    # estimate of the scan vs spark.sql.files.maxPartitionBytes; no job):
    # the r15 width sweep {1,8,32} stands there, 2.77/3.45/4.43 — task
    # overhead swamps the tiny compute. A larger scan hashes into
    # defaultParallelism partitions, so at scale the coordinate stream
    # never funnels through one task. localCheckpoint preserves the child's
    # outputPartitioning in the LogicalRDD, so every downstream
    # groupBy/join keyed on vec_id (both assignment rounds, adc, the
    # exact rerank legs of sim_pq_adc AND eval_pq_recall) now satisfies
    # its ClusteredDistribution from the checkpoint and plans WITHOUT an
    # Exchange — the pipeline's cost is ~15 serial mini-stages of pure
    # orchestration (guide §2.4: remove shuffles outright), and this
    # removes 4 of the exchanges plus their AQE stage materializations.
    sub = (
        emb.select("vec_id", F.posexplode("embedding").alias("d", "xf"))
        .select(
            "vec_id",
            F.expr(f"d div {_PQ_SUBDIM}").alias("s"),
            "d",
            F.round(F.col("xf").cast("double") * 1e6).cast("bigint").alias("x"),
        )
        .repartition(_pq_width(emb), "vec_id")
        .localCheckpoint()
    )
    # r16: anchor ids come from the CHECKPOINTED coordinate stream (the
    # d = 0 slice has exactly one row per vector — vec_id is the
    # embeddings fixture's unique key, pinned by
    # tests/test_fixture_contract.py), replacing a second parquet scan
    # + a 2-stage distinct aggregate with a map-only filter. The
    # oracle's DISTINCT vec_id is a no-op on a unique key: same ids.
    ids = sub.filter(F.col("d") == 0).select("vec_id")
    hashed = ids.select(
        "vec_id",
        F.md5(F.concat(F.lit("pq-v1|"), F.col("vec_id").cast("string"))).alias("h"),
    )
    # rank the K anchors among themselves by the portable draw. r16: a
    # row_number window over the K-row top frame (already a single
    # partition after the limit) replaces the count-smaller self-join,
    # whose ta/tb sides each re-ran the scan+distinct+sort subtree
    # (plans/r15/sim_pq_adc_before.txt ops (5)-(15): two parquet scans,
    # two aggregates, two TakeOrdered for one 16-row frame). Identical
    # k values: count of strictly-(h, vec_id)-smaller rows == rank - 1
    # under the same total order.
    top = hashed.orderBy("h", "vec_id").limit(_PQ_K)
    wk = Window.orderBy("h", "vec_id")
    anch = top.select(
        "vec_id", (F.row_number().over(wk) - 1).cast("bigint").alias("k")
    )
    aw = F.broadcast(
        anch.join(sub, "vec_id").select("k", "s", "d", F.col("x").alias("ax"))
    )

    def assign(codewords: DataFrame, cx: str) -> DataFrame:
        # ONE groupBy at (vec, s) with K conditional distance sums and a
        # least(struct(dist, k)) argmin in the projection — the previous
        # two chained groupBys ((vec,s,k) then (vec,s)) cost an extra
        # exchange per assignment round; fused, the whole round is one
        # shuffle (r13 A/B: shortlist leg 3.3 -> 1.7 s at sf0.1,
        # byte-identical output). Every (vec, s) row joins all K
        # codewords of its subspace, so no dK column is ever null and
        # the struct argmin keeps the exact (dist, k) tiebreak.
        j = sub.join(codewords, ["s", "d"])
        sq = (F.col("x") - F.col(cx)) * (F.col("x") - F.col(cx))
        aggs = [
            F.sum(F.when(F.col("k") == kk, sq)).cast("bigint").alias(f"d{kk}")
            for kk in range(_PQ_K)
        ]
        g = j.groupBy("vec_id", "s").agg(*aggs)
        structs = [
            F.struct(F.col(f"d{kk}").alias("dist"), F.lit(kk).alias("k"))
            for kk in range(_PQ_K)
        ]
        return g.select(
            "vec_id", "s", F.least(*structs).getField("k").alias("k")
        )

    code1 = assign(aw, "ax")
    cent = F.broadcast(
        code1.join(sub, ["vec_id", "s"])
        .groupBy("s", "k", "d")
        .agg(
            F.round(F.sum("x").cast("double") / F.count("*"))
            .cast("bigint")
            .alias("cx")
        )
    )
    code2 = assign(cent, "cx")
    q = sub.filter(F.col("vec_id") == 0).select("s", "d", F.col("x").alias("qx"))
    lut = F.broadcast(
        cent.join(F.broadcast(q), ["s", "d"])
        .groupBy("s", "k")
        .agg(
            F.sum((F.col("qx") - F.col("cx")) * (F.col("qx") - F.col("cx")))
            .cast("bigint")
            .alias("part")
        )
    )
    adc = (
        code2.filter(F.col("vec_id") != 0)
        .join(lut, ["s", "k"])
        .groupBy("vec_id")
        .agg(F.sum("part").cast("bigint").alias("adc_micro2"))
    )
    # NO checkpoint on the shortlist or the query slice (r12 rework of
    # the r11 multi-consumer pass): both consumers were made
    # single-subtree instead — sim_pq_adc's rerank consumes short once,
    # and eval_pq_recall now assembles all three counts from ONE full
    # outer join (the eval_minhash_quality single-job lesson), so the
    # eager barriers were pure cost (~1 blocking job each on a
    # 100-row / 64-row frame). q re-filters the CHECKPOINTED sub — a
    # map-only rebuild, not a pipeline re-run.
    short = (
        adc.orderBy(F.asc("adc_micro2"), F.asc("vec_id"))
        .limit(_PQ_SHORTLIST)
        .coalesce(1)
    )
    return sub, q.coalesce(1), short


@register("sim_pq_adc", oracle=_PQ_SQL, tags=("similarity", "llm", "scale"))
def sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ + ADC-shortlist + exact-rerank top-10 neighbors of the
    vec_id=0 query (module docstring: integer-frozen codebooks —
    md5-anchor init, one Lloyd step with round(sum/count) centroids,
    exact BIGINT micro^2 distances; ADC estimate carried alongside the
    exact rerank distance so the quantization error is auditable).

    Plan shape: one posexplode builds the (vec, subspace, dim, micro)
    stream; both assignment rounds broadcast the codeword frame
    (M*K*subdim = 1024 rows) onto it and reduce per (vec, subspace,
    code) with an argmin via min(struct(dist, k)) — no window over
    anything row-scale; the ADC LUT is M*K = 128 rows broadcast onto
    the code table; shortlist and final top-k are both
    TakeOrderedAndProject, and the exact rerank touches only the
    broadcast 100-row shortlist."""
    sub, q, short = pq_shortlist_frames(spark, sf_dir)
    rerank = (
        F.broadcast(short)
        .join(sub, "vec_id")
        .join(F.broadcast(q), ["s", "d"])
        .groupBy("vec_id")
        .agg(
            F.min("adc_micro2").cast("bigint").alias("adc_micro2"),
            F.sum((F.col("x") - F.col("qx")) * (F.col("x") - F.col("qx")))
            .cast("bigint")
            .alias("exact_micro2"),
        )
    )
    return rerank.select("vec_id", "adc_micro2", "exact_micro2").orderBy(
        F.asc("exact_micro2"), F.asc("vec_id")
    ).limit(_PQ_TOPK)


# --------------------------------------------------------------------------
# data_curriculum_order
# --------------------------------------------------------------------------

_CURRICULUM_SQL = """
    WITH docs AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    strata AS (
      SELECT a.lang,
             CAST(count(b.lang) AS BIGINT) AS lang_idx,
             (SELECT CAST(count(DISTINCT lang) AS BIGINT) FROM documents)
               AS n_strata
      FROM (SELECT DISTINCT lang FROM documents) a
      LEFT JOIN (SELECT DISTINCT lang FROM documents) b ON b.lang < a.lang
      GROUP BY a.lang
    ),
    ranked AS (
      SELECT doc_id, lang, n_tokens,
             CAST(row_number() OVER (PARTITION BY lang
                                     ORDER BY n_tokens, doc_id) AS BIGINT)
               AS stratum_rank
      FROM docs
    )
    SELECT r.doc_id, r.lang, r.n_tokens, r.stratum_rank,
           CAST((r.stratum_rank - 1) * s.n_strata + s.lang_idx + 1 AS BIGINT)
             AS curriculum_pos
    FROM ranked r JOIN strata s ON s.lang = r.lang
"""


@register("data_curriculum_order", oracle=_CURRICULUM_SQL, tags=("llm", "sampling", "scale"))
def data_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified curriculum schedule (module docstring): documents
    ordered easy-to-hard by token count with every difficulty tier
    interleaving all languages round-robin; curriculum_pos is the
    closed-form (stratum_rank - 1) * |strata| + stratum_index + 1, so
    ordering needs only a stratum-PARTITIONED rank window plus a
    broadcast |strata|-row dim — no global window, no global sort."""
    d = load_table(spark, sf_dir, "documents")
    docs = d.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    langs = d.select("lang").distinct()
    la, lb = langs.alias("la"), langs.alias("lb")
    strata = (
        la.join(F.broadcast(lb), F.col("lb.lang") < F.col("la.lang"), "left")
        .groupBy(F.col("la.lang").alias("lang"))
        .agg(F.count(F.col("lb.lang")).cast("bigint").alias("lang_idx"))
        .crossJoin(
            F.broadcast(
                langs.agg(F.countDistinct("lang").cast("bigint").alias("n_strata"))
            )
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy("n_tokens", "doc_id")
    ranked = docs.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.row_number().over(w).cast("bigint").alias("stratum_rank"),
    )
    return ranked.join(F.broadcast(strata), "lang").select(
        "doc_id",
        "lang",
        "n_tokens",
        "stratum_rank",
        ((F.col("stratum_rank") - 1) * F.col("n_strata") + F.col("lang_idx") + 1)
        .cast("bigint")
        .alias("curriculum_pos"),
    )
