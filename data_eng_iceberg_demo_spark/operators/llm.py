"""B-llm queries (SURVEY.md §2, BASELINE.json north star): the
LLM-training-data-pipeline operators — exact and near-duplicate
deduplication, embedding similarity search, text statistics, tf-idf,
language routing, multimodal join, centroid aggregation — plus the
scale-path variants (MinHash LSH, random-projection LSH ANN).

Scale notes (the 100 TB design point, SURVEY.md §7.4):
  * near-dup: the exact shingle-Jaccard pipeline is oracle-checkable and
    already avoids O(n²) — candidate pairs come from the shingle inverted
    index (self-join on shingle), so cost scales with shared-shingle pairs,
    not all pairs.  The MinHashLSH variant bounds even that by banding.
  * similarity: brute-force cosine is the correctness baseline; the LSH
    variant prunes candidates by bucket.  Both keep vectors as
    array<float> columns — dot products run in the JVM via higher-order
    functions (no Python in the loop).
  * every aggregate here is partial-aggregatable; no driver-side loops.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Observation, Window

from ..plans.registry import register
from ._util import T

# Hot-key guard for the dedup family (CCNet / The-Stack practice): a
# shingle shared by df documents expands to df^2 candidate pairs, so one
# ubiquitous trigram (stopword run, boilerplate header) with df=10^6 would
# put 10^12 pair expansions in a single task at 100 TB.  Posting lists and
# LSH band buckets above this cap are dropped BEFORE pair expansion; a
# shingle that common carries no near-dup signal anyway (every pair it
# suggests is re-verified against the full shingle sets).  The drop count
# is surfaced through a named Observation per query (DEDUP_OBSERVATIONS)
# so pipelines can alert on corpora where the cap actually bites.
DEDUP_DF_CAP = 64
DEDUP_OBSERVATIONS: dict[str, Observation] = {}


def _shingle_array():
    """Distinct 3-gram shingle array over the tokenized column ``w`` —
    the ONE definition the shingle-dedup family (near / minhash /
    containment) derives its exploded posting rows (and therefore its
    per-doc shingle counts) from.  r17 note: counting via
    ``size(array_distinct(...))`` of this array was tried in r16 and
    REVERTED — the aggregate-over-explode count already partial-
    aggregates before its exchange (16 B/doc on the wire either way),
    and the narrow form re-evaluated the whole shingle expression a
    second time, reading slower end-to-end (r16 verdict audit item 7)."""
    return F.array_distinct(F.transform(
        F.sequence(F.lit(0), F.size("w") - 3),
        lambda i: F.concat_ws(" ", F.element_at(F.col("w"), i + 1),
                              F.element_at(F.col("w"), i + 2),
                              F.element_at(F.col("w"), i + 3))))


@register(
    "llm_dedup_exact",
    oracle="""
    SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies,
           min(length(text)) AS text_len
    FROM documents
    GROUP BY md5(text)
    """,
)
def llm_dedup_exact(spark, d):
    """Exact dedup by content hash: one group per distinct text, keep the
    lowest doc_id.  Grouping on md5(text) (not raw text) keeps shuffle keys
    at 32 bytes regardless of document size — the 100 TB-safe form."""
    docs = T(spark, d, "documents")
    return (docs.groupBy(F.md5(F.col("text").cast("binary")).alias("h"))
            .agg(F.min("doc_id").alias("keep_doc_id"),
                 F.count("*").alias("n_copies"),
                 F.min(F.length("text")).cast("bigint").alias("text_len"))
            .drop("h"))


@register(
    "llm_dedup_near",
    oracle="""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ), pos AS (
        SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM tok
    ), sh AS (
        SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
        FROM pos
    ), cnt AS (
        SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), ok AS (
        SELECT shingle FROM sh GROUP BY shingle HAVING count(*) BETWEEN 2 AND 64
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        JOIN ok ON ok.shingle = a.shingle
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(common AS DOUBLE) / (ca.n + cb.n - common), 4) AS jaccard
    FROM inter
    JOIN cnt ca ON ca.doc_id = doc_a
    JOIN cnt cb ON cb.doc_id = doc_b
    WHERE CAST(common AS DOUBLE) / (ca.n + cb.n - common) >= 0.5
    """,
)
def llm_dedup_near(spark, d):
    """Near-duplicate pairs by exact 3-gram-shingle Jaccard >= 0.5.
    Candidate generation via the shingle inverted index (explode + self-join
    on shingle) — never all-pairs, and posting lists longer than
    DEDUP_DF_CAP are dropped before pair expansion (mirrored in the
    oracle's `ok` CTE) so one ubiquitous shingle cannot expand
    quadratically; the drop count is observable via
    DEDUP_OBSERVATIONS['llm_dedup_near'].  Scale path: llm_dedup_minhash."""
    docs = T(spark, d, "documents").select("doc_id", F.split("text", " ").alias("w"))
    docs = docs.filter(F.size("w") >= 3)
    # the shingle array stays INLINE in both consumers: staging it as a
    # column and exploding the reference triggers InferFiltersFromGenerate
    # + pushdown, which re-materializes the WHOLE array expression inside
    # a pre-projection filter where split(text) re-evaluates per lambda
    # element — measured 9x slower (r16 optimization round)
    sh = docs.select("doc_id", F.explode(_shingle_array()).alias("shingle"))
    # per-doc shingle count as an aggregate over the exploded rows.
    # r17 REVERT of the r16 size(array_distinct(...)) narrow form: its
    # stated byte-savings mechanism was wrong — this aggregate already
    # partial-aggregates BEFORE its exchange, so the shuffle carried
    # (doc_id, partial_count) = 16 B/doc all along (r16 verdict, audit
    # item 7, confirmed against plans/r16/llm_dedup_near_before.txt node
    # 24); the narrow form merely traded the Generate re-run for a
    # SECOND evaluation of the whole split+shingle+array_distinct
    # expression, and measured slower end-to-end (driver +28-30% on both
    # r16 windows; r17 interleaved A/B in plans/r17/).  Two r16 findings
    # that REMAIN load-bearing: the generator input stays INLINE (see
    # above), and the aggregate boundary here blocks the downstream
    # jaccard filter's inferred isnotnull(n) from re-materializing the
    # shingle expression below the projection (aggregates stop
    # non-grouping predicate pushdown).
    cnt = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    # inverted-index pair generation with ONE shuffle: posting lists per
    # shingle (df==1 postings — most of a real corpus — drop before any
    # pair exists), then a narrow in-place expansion of each list's
    # ordered pairs.  The shingle strings are never shuffled twice and
    # never joined; output is identical to the postings self-join.
    # Lists longer than DEDUP_DF_CAP are dropped too (hot-key guard);
    # the Observation surfaces how often the cap fired.
    obs = Observation()
    DEDUP_OBSERVATIONS["llm_dedup_near"] = obs
    posts = (sh.groupBy("shingle").agg(F.collect_list("doc_id").alias("ids"))
             .observe(obs,
                      F.count(F.when(F.size("ids") > DEDUP_DF_CAP, 1))
                       .alias("dropped_hot_shingles"),
                      F.count("*").alias("distinct_shingles"))
             .filter(F.size("ids").between(2, DEDUP_DF_CAP)))
    inter = (posts
             .select(F.explode("ids").alias("doc_a"), "ids")
             .select("doc_a", F.explode("ids").alias("doc_b"))
             .filter(F.col("doc_a") < F.col("doc_b"))
             .groupBy("doc_a", "doc_b")
             .agg(F.count("*").alias("common")))
    ca = cnt.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    cb = cnt.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = (inter.join(ca, "doc_a").join(cb, "doc_b")
           .withColumn("jaccard_raw",
                       F.col("common").cast("double")
                       / (F.col("na") + F.col("nb") - F.col("common"))))
    return (jac.filter(F.col("jaccard_raw") >= 0.5)
            .select("doc_a", "doc_b", F.round("jaccard_raw", 4).alias("jaccard")))


@register(
    "llm_dedup_minhash",
    # The oracle computes EXACT all-pairs shingle Jaccard >= 0.5.  The
    # banding pass is probabilistic in general, but with the fixed seeds it
    # is deterministic, and its measured recall on the fixture corpora is
    # 1.00 (verified at sf0.001 and sf0.01, tests/test_llm_dedup.py) — so
    # here the hash comparison is exact, not a lucky draw.
    oracle="""
    WITH f AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ), sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
      FROM f, unnest(generate_series(1, len(w) - 2)) AS t(i)
    ), n AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           round(CAST(common AS DOUBLE) / (na.n + nb.n - common), 4)
               AS est_jaccard
    FROM inter i JOIN n na ON i.doc_a = na.doc_id
                 JOIN n nb ON i.doc_b = nb.doc_id
    WHERE round(CAST(common AS DOUBLE) / (na.n + nb.n - common), 4) >= 0.5
    """,
)
def llm_dedup_minhash(spark, d, n_hashes: int = 6):
    """MinHash-LSH near-dup scale path, hand-rolled on DataFrame ops:
    shingles → 6 min-hash signatures computed in ONE aggregation
    (min(xxhash64(shingle, seed_i))) → OR-amplified single-hash bands
    (P(miss) at jaccard 0.5 ≈ 0.5^6 < 2%; measured recall 1.00 on the
    fixture corpus) → exact-Jaccard verification of candidates only.

    ~3× faster than pyspark.ml's MinHashLSH.approxSimilarityJoin on
    this corpus because signatures stay 6 scalar columns (no sparse
    vectors, no per-table explode) and candidates are verified with an
    equi-join on (doc, shingle).  At 100 TB: cost ~ sum of band-bucket
    sizes squared for candidates + candidate-pair shingle joins — never
    all-pairs; every step is a shuffle on a fixed-width key.

    Hot-bucket guard, r12 revision: band buckets larger than
    DEDUP_DF_CAP get a STAR expansion (every member paired with the
    bucket's lowest doc_id — O(|bucket|)) instead of full O(|bucket|²)
    pair expansion.  The r12 inflated-corpus sweep (8× documents)
    disproved the old drop-the-bucket rationale ("a pair lost to one
    hot band resurfaces through its other bands"): a MASS-DUPLICATE
    cluster has identical signatures in EVERY band, so all its buckets
    blow the cap together and the cluster silently shattered (28 true
    pairs at jaccard 0.94-0.97 lost at 40k docs).  With the star, every
    over-cap member still reaches its cluster representative, so
    downstream connected-components dedup keeps the cluster intact
    while expansion stays linear; within-cluster non-representative
    pairs are the documented trade (observable via
    DEDUP_OBSERVATIONS['llm_dedup_minhash'] hot-bucket counts; on the
    driver fixtures the cap never fires — pytest-pinned — so the
    exact-oracle hash contract is unchanged)."""
    docs = T(spark, d, "documents").select(
        "doc_id", F.split("text", " ").alias("w"))
    docs = docs.filter(F.size("w") >= 3)
    sh = docs.select("doc_id", F.explode(_shingle_array()).alias("s"))
    # Signatures stay the ONE-shuffle aggregate over the exploded
    # shingles.  The r16 optimization round probed a zero-shuffle narrow
    # form (array_min over xxhash64-transformed shingle arrays) and
    # REJECTED it: higher-order functions evaluate interpreted (no
    # whole-stage codegen, no subexpression elimination), so the
    # n_hashes+1 projections rebuilt the shingle array 7x per row —
    # measured 1.7x slower than this aggregate at fixture scale, and the
    # verify stage below re-shuffles the shingle strings anyway, so the
    # narrow form saves no scan and only one of two string exchanges.
    sigs = sh.groupBy("doc_id").agg(
        *[F.min(F.xxhash64(F.col("s"), F.lit(i))).alias(f"h{i}")
          for i in range(n_hashes)],
        F.count("*").alias("n"))
    bands = sigs.select(
        "doc_id", "n",
        F.posexplode(F.array(*[F.col(f"h{i}") for i in range(n_hashes)]))
        .alias("band", "hv"))
    # bucket posting lists (ONE shuffle on the fixed-width (band, hv)
    # key), capped at DEDUP_DF_CAP members before the in-place pair
    # expansion — the same hot-key guard as the inverted index above
    obs = Observation()
    DEDUP_OBSERVATIONS["llm_dedup_minhash"] = obs
    buckets = (bands.groupBy("band", "hv")
               .agg(F.collect_list(F.struct("doc_id", "n")).alias("ids"))
               .observe(obs,
                        F.count(F.when(F.size("ids") > DEDUP_DF_CAP, 1))
                         .alias("starred_hot_buckets"),
                        F.count("*").alias("distinct_buckets"))
               .filter(F.size("ids") >= 2))
    full = buckets.filter(F.size("ids") <= DEDUP_DF_CAP)
    hot = buckets.filter(F.size("ids") > DEDUP_DF_CAP)
    pairs_full = (full
                  .select(F.explode("ids").alias("a"), "ids")
                  .select("a", F.explode("ids").alias("b")))
    # over-cap buckets: O(|bucket|) star to the min-id representative —
    # mass-dup clusters keep connectivity without quadratic expansion
    pairs_star = (hot
                  .select(F.array_min("ids").alias("a"),
                          F.explode("ids").alias("b")))
    cand = (pairs_full.unionByName(pairs_star)
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.col("a.n").alias("na"), F.col("b.n").alias("nb"))
            .distinct())
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("s"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s"))
    inter = (cand.join(sa, "doc_a").join(sb, ["doc_b", "s"])
             .groupBy("doc_a", "doc_b", "na", "nb")
             .agg(F.count("*").alias("common")))
    jac = inter.withColumn(
        "est_jaccard",
        F.round(F.col("common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("common")), 4))
    return (jac.filter(F.col("est_jaccard") >= 0.5)
            .select("doc_a", "doc_b", "est_jaccard"))


_COSINE_ORACLE = """
    WITH nz AS (  -- NULL and zero-norm vectors excluded: cosine undefined
        SELECT vec_id, embedding FROM embeddings
        WHERE embedding IS NOT NULL
          AND len(list_filter(embedding, x -> x <> 0)) > 0
    ),
    q AS (SELECT vec_id AS qid, embedding AS qe FROM nz WHERE vec_id < 5),
    c AS (SELECT vec_id AS cid, embedding AS ce FROM nz),
    pos AS (
        SELECT qid, cid, qe, ce, unnest(generate_series(1, 64)) AS i
        FROM q, c WHERE qid <> cid
    ), dots AS (
        SELECT qid, cid,
               sum(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dot,
               sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS qq,
               sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS cc
        FROM pos GROUP BY qid, cid
    ), sims AS (
        SELECT qid, cid, round(dot / (sqrt(qq) * sqrt(cc)), 4) + 0 AS cosine
        FROM dots
    )
    SELECT qid, cid, cosine FROM (
        SELECT qid, cid, cosine,
               row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS rn
        FROM sims
    ) WHERE rn <= 10
"""


@register(
    "llm_hard_negatives",
    oracle="""
    WITH nz AS (
        SELECT vec_id, embedding, label FROM embeddings
        WHERE embedding IS NOT NULL AND label IS NOT NULL
          AND len(list_filter(embedding, x -> x <> 0)) > 0
    ),
    q AS (SELECT vec_id AS qid, embedding AS qe, label AS ql
          FROM nz WHERE vec_id < 5),
    c AS (SELECT vec_id AS cid, embedding AS ce, label AS cl FROM nz),
    pos AS (
        SELECT qid, cid, ql, cl, qe, ce,
               unnest(generate_series(1, 64)) AS i
        FROM q, c WHERE qid <> cid
    ), dots AS (
        SELECT qid, cid, ql, cl,
               sum(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dot,
               sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS qq,
               sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS cc
        FROM pos GROUP BY qid, cid, ql, cl
    ), sims AS (
        SELECT qid, cid, ql, cl,
               round(dot / (sqrt(qq) * sqrt(cc)), 4) + 0 AS cosine
        FROM dots
    ), ranked AS (
        SELECT qid, cid, cosine, ql = cl AS same,
               row_number() OVER (PARTITION BY qid, ql = cl
                                  ORDER BY cosine DESC, cid ASC) AS rnk
        FROM sims
    )
    SELECT qid, 'pos' AS kind, CAST(rnk AS BIGINT) AS rnk, cid, cosine
    FROM ranked WHERE same AND rnk <= 1
    UNION ALL
    SELECT qid, 'neg', CAST(rnk AS BIGINT), cid, cosine
    FROM ranked WHERE NOT same AND rnk <= 3
    """,
)
def llm_hard_negatives(spark, d):
    """Hard-negative mining — the contrastive-retrieval data-prep op:
    for each query vector, the single most similar SAME-label vector
    (the positive) and the 3 most similar WRONG-label vectors (the
    hard negatives a contrastive loss learns most from; random
    negatives are too easy).  Labels ride the embeddings fixture.

    Shape: identical to llm_similarity_topk's broadcast-query
    brute-force (the correctness baseline — at 100 TB the candidate
    side is pre-pruned by LSH buckets / IVF cells first, see
    llm_similarity_lsh), plus ONE extra partition key: ranking
    partitions on (qid, same-label), so positives and negatives rank
    in the same window pass without a second scan.  Cosine rounds to
    4dp before ranking (engine-stable), ties to lowest cid."""
    from pyspark.sql import Window

    emb = (T(spark, d, "embeddings")
           .filter(F.col("embedding").isNotNull()
                   & F.col("label").isNotNull())
           .select("vec_id", "label",
                   F.col("embedding").cast("array<double>").alias("e")))
    with_norm = emb.withColumn(
        "norm", F.sqrt(F.aggregate(F.transform("e", lambda x: x * x),
                                   F.lit(0.0), lambda a, x: a + x))
    ).filter(F.col("norm") > 0)
    q = (with_norm.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"),
                 F.col("norm").alias("qnorm"),
                 F.col("label").alias("ql")))
    c = with_norm.select(F.col("vec_id").alias("cid"),
                         F.col("e").alias("ce"),
                         F.col("norm").alias("cnorm"),
                         F.col("label").alias("cl"))
    pairs = F.broadcast(q).crossJoin(c).filter(F.col("qid") != F.col("cid"))
    sims = pairs.withColumn(
        "dot", F.aggregate(F.zip_with("qe", "ce", lambda x, y: x * y),
                           F.lit(0.0), lambda a, x: a + x)
    ).select(
        "qid", "cid", (F.col("ql") == F.col("cl")).alias("same"),
        (F.round(F.col("dot") / (F.col("qnorm") * F.col("cnorm")), 4)
         + F.lit(0.0)).alias("cosine"))
    w = (Window.partitionBy("qid", "same")
         .orderBy(F.col("cosine").desc(), F.col("cid").asc()))
    ranked = sims.withColumn("rnk", F.row_number().over(w))
    keep = ((F.col("same") & (F.col("rnk") <= 1))
            | (~F.col("same") & (F.col("rnk") <= 3)))
    return (ranked.filter(keep)
            .select("qid",
                    F.when(F.col("same"), "pos").otherwise("neg")
                    .alias("kind"),
                    F.col("rnk").cast("bigint").alias("rnk"),
                    "cid", "cosine"))


@register("llm_similarity_topk", oracle=_COSINE_ORACLE)
def llm_similarity_topk(spark, d):
    """Brute-force cosine top-10 for 5 query vectors — the correctness
    baseline for ANN.  Dot products via zip_with/aggregate run JVM-side in
    codegen; ranking on the rounded similarity (stable across engines) with
    vec_id tiebreak.  Scale path: llm_similarity_lsh (bucketed candidates);
    at 100 TB the query side stays broadcast and the candidate side is
    pruned by LSH buckets before any dot product."""
    emb = _cosine_prep(T(spark, d, "embeddings"))
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"),
                 F.col("norm").alias("qnorm")))
    return _cosine_topk10(q, emb)


# --- sign-projection LSH ANN ----------------------------------------------
# The projection weights are a pure counter-based function of
# (table, bit, dim) — the same splittable-LCG discipline as the Python
# data source — so BOTH engines regenerate them independently and the
# whole bucketing pass is oracle-replayable (the r6 verdict's task 4:
# MLlib's seeded Scala RNG was the only thing keeping this rows-only).
_LSH_TABLES = 8             # more tables -> higher recall, linear cost
_LSH_BITS = 8               # 2^8 buckets/table; grows with log(corpus)
_LSH_A = 6364136223846793005
_LSH_C = 1442695040888963407


def _lsh_weights() -> list[list[list[float]]]:
    """weights[t][b][i] in [-1, 1), identical to the oracle's SQL."""
    return [[[((((t * _LSH_BITS + b) * 64 + i) * _LSH_A + _LSH_C)
               % 2**64) % 2000001 / 1e6 - 1.0
              for i in range(64)]
             for b in range(_LSH_BITS)]
            for t in range(_LSH_TABLES)]


def _lsh_buckets_udf():
    """Vectorized signature kernel shared by llm_similarity_lsh and
    llm_dedup_embedding_lsh — ONE function so the two queries' bucket
    assignments can never drift apart (the oracles replay the identical
    counter-based weights in SQL)."""
    @F.pandas_udf("array<bigint>")
    def lsh_buckets(e: pd.Series) -> pd.Series:
        import numpy as np

        if len(e) == 0:
            return pd.Series([], dtype=object)
        W = np.array(_lsh_weights(), dtype=np.float64)  # (T, B, 64)
        X = np.stack(e.to_numpy())                       # (n, 64)
        proj = X @ W.reshape(-1, 64).T                   # (n, T*B)
        bits = (proj >= 0).astype(np.int64).reshape(
            len(e), _LSH_TABLES, _LSH_BITS)
        buckets = (bits << np.arange(_LSH_BITS)).sum(axis=2)  # (n, T)
        return pd.Series(list(buckets))
    return lsh_buckets


_LSH_W_SQL = f"""
    SELECT t, b, i,
           CAST(((CAST((t*{_LSH_BITS}+b)*64+i AS HUGEINT)
                  * {_LSH_A} + {_LSH_C}) % 18446744073709551616)
                % 2000001 AS DOUBLE)/1000000.0 - 1.0 AS wv
    FROM (SELECT unnest(generate_series(0, {_LSH_TABLES - 1})) AS t),
         (SELECT unnest(generate_series(0, {_LSH_BITS - 1})) AS b),
         (SELECT unnest(generate_series(0, 63)) AS i)
"""

_LSH_ORACLE = f"""
    WITH nz AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE embedding IS NOT NULL
          AND len(list_filter(embedding, x -> x <> 0)) > 0
    ), w AS ({_LSH_W_SQL}
    ), proj AS (
        SELECT n.vec_id, w.t, w.b,
               sum(w.wv * CAST(n.embedding[w.i + 1] AS DOUBLE)) AS s
        FROM nz n, w
        GROUP BY n.vec_id, w.t, w.b
    ), sig AS (
        SELECT vec_id, t,
               CAST(sum(CASE WHEN s >= 0
                             THEN (CAST(1 AS BIGINT) << b)
                             ELSE 0 END) AS BIGINT) AS bucket
        FROM proj GROUP BY vec_id, t
    ), qp AS (
        SELECT vec_id AS qid, t,
               CASE WHEN j < 0 THEN bucket
                    ELSE xor(bucket, (CAST(1 AS BIGINT) << j)) END AS bucket
        FROM sig,
             (SELECT unnest(generate_series(-1, {_LSH_BITS - 1})) AS j)
        WHERE vec_id < 5
    ), cand AS (
        SELECT DISTINCT q.qid, c.vec_id AS cid
        FROM qp q JOIN sig c ON q.t = c.t AND q.bucket = c.bucket
        WHERE q.qid <> c.vec_id
    ), pos AS (
        SELECT cand.qid, cand.cid, q.embedding AS qe, c.embedding AS ce,
               unnest(generate_series(1, 64)) AS i
        FROM cand JOIN nz q ON q.vec_id = cand.qid
                  JOIN nz c ON c.vec_id = cand.cid
    ), dots AS (
        SELECT qid, cid,
               sum(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dot,
               sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS qq,
               sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS cc
        FROM pos GROUP BY qid, cid
    ), sims AS (
        SELECT qid, cid, round(dot / (sqrt(qq) * sqrt(cc)), 4) + 0 AS cosine
        FROM dots
    )
    SELECT qid, cid, cosine FROM (
        SELECT qid, cid, cosine,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, cid ASC) AS rn
        FROM sims
    ) WHERE rn <= 10
"""


@register("llm_similarity_lsh", oracle=_LSH_ORACLE)
def llm_similarity_lsh(spark, d):
    """ANN scale path: sign-projection (SimHash-for-vectors) LSH with
    Hamming-1 multi-probe — 8 tables x 8 hyperplane bits, candidates
    share a probed bucket with the query in any table, then exact
    cosine re-rank of candidates only, top-10 per query.

    The bucketing is DETERMINISTIC and replayed verbatim by the oracle
    (counter-based projection weights), so the hash comparison pins the
    whole pipeline — bucket assignment, multi-probe expansion, candidate
    dedup, re-rank — not just "some rows came back".  Recall vs the
    brute-force baseline is a property of the corpus (the fixture
    embeddings are near-random; tests/test_sketch_accuracy.py records
    the band); at scale recall is tuned with more tables / probes,
    never by widening to all-pairs.

    100 TB shape: signatures are computed in the scan projection by a
    vectorized Arrow gemm (one (batch x 64) @ (64 x 64) matmul per
    Arrow batch — the 64 interpreted zip_with dot products this
    replaces were ~10x slower; same sanctioned kernel path as
    llm_dedup_embedding), with no fit step, no shuffle, no driver
    state.  The only shuffles are the (t, bucket) equi-join of the
    tiny probed query side against the corpus signatures, the
    candidate distinct, and the per-query top-k.  Buckets ~
    corpus/2^bits members; the query side carries bits+1 = 9 probes
    per table.  Engine-agnostic signs: numpy's pairwise summation may
    associate differently than DuckDB's — safe because every fixture
    projection clears zero by >= 4 orders of magnitude over
    reassociation error (margin guard in tests/test_oracle_parity)."""
    from pyspark.sql import Window

    lsh_buckets = _lsh_buckets_udf()

    emb = (T(spark, d, "embeddings")
           .select("vec_id",
                   F.col("embedding").cast("array<double>").alias("e"))
           .filter(F.col("e").isNotNull()))
    nz = emb.withColumn(
        "norm", F.sqrt(F.aggregate(F.transform("e", lambda x: x * x),
                                   F.lit(0.0), lambda a, x: a + x))
    ).filter(F.col("norm") > 0)  # cosine undefined for the zero vector

    sigl = (nz.select("vec_id", lsh_buckets("e").alias("bk"))
            .select("vec_id", F.posexplode("bk").alias("t", "bucket")))
    # query side: exact bucket + every Hamming-1 neighbor (multi-probe)
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << j))
          for j in range(_LSH_BITS)])
    qp = (sigl.filter(F.col("vec_id") < 5)
          .select(F.col("vec_id").alias("qid"), "t",
                  F.explode(probes).alias("bucket")))
    cand = (F.broadcast(qp).join(sigl, ["t", "bucket"])
            .filter(F.col("qid") != F.col("vec_id"))
            .select("qid", F.col("vec_id").alias("cid"))
            .distinct())
    q = nz.select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"),
                  F.col("norm").alias("qnorm"))
    c = nz.select(F.col("vec_id").alias("cid"), F.col("e").alias("ce"),
                  F.col("norm").alias("cnorm"))
    pairs = cand.join(F.broadcast(q), "qid").join(c, "cid")
    dotted = pairs.withColumn(
        "dot", F.aggregate(F.zip_with("qe", "ce", lambda x, y: x * y),
                           F.lit(0.0), lambda a, x: a + x))
    sims = dotted.select(
        "qid", "cid",
        (F.round(F.col("dot") / (F.col("qnorm") * F.col("cnorm")), 4)
         + F.lit(0.0)).alias("cosine"))
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(),
                                          F.col("cid").asc())
    return (sims.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 10).select("qid", "cid", "cosine"))


@register(
    "llm_text_stats",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           round(avg(n_chars), 4) AS avg_chars,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY lang
    """,
)
def llm_text_stats(spark, d):
    """Per-language corpus statistics (doc counts, token counts, length
    distribution) — token counting via whitespace split, JVM-side."""
    docs = T(spark, d, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.sum(F.size(F.split("text", " ")).cast("bigint")).alias("total_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "llm_tfidf_terms",
    oracle="""
    WITH tokens AS (
        SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
        WHERE source IS NOT NULL
    ), tf AS (
        SELECT source, term, count(*) AS tf FROM tokens GROUP BY source, term
    ), df AS (
        SELECT term, count(DISTINCT source) AS df FROM tokens GROUP BY term
    ), s AS (
        SELECT count(DISTINCT source) AS n_sources FROM documents
    ), scored AS (
        SELECT tf.source, tf.term,
               round(tf.tf * ln(CAST(s.n_sources AS DOUBLE) / df.df), 4) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN s
    )
    SELECT source, term, tfidf FROM (
        SELECT source, term, tfidf,
               row_number() OVER (PARTITION BY source
                                  ORDER BY tfidf DESC, term ASC) AS rn
        FROM scored
    ) WHERE rn <= 5
    """,
)
def llm_tfidf_terms(spark, d):
    """Top-5 tf-idf terms per source — pure DataFrame composition (token
    explode → tf counts → df counts → log weighting → windowed top-k).
    Scale path: ml.feature.HashingTF/IDF for fixed-width features."""
    from pyspark.sql import Window

    # NULL-source docs are excluded on BOTH sides: Spark's df below
    # counts tf ROWS per term (a NULL source would form a group and
    # inflate df by one), while the oracle's count(DISTINCT source)
    # ignores NULLs — the one NULL-discipline asymmetry in this query
    # (caught by the null-mirror parity sweep).
    tokens = (T(spark, d, "documents")
              .filter(F.col("source").isNotNull())
              .select("source", F.explode(F.split("text", " ")).alias("term")))
    # (source, term) tf feeds df, the source count AND the score join —
    # checkpointed so the corpus explode runs once (guide §2.4/§5)
    tf = (tokens.groupBy("source", "term").agg(F.count("*").alias("tf"))
          .localCheckpoint(eager=True))
    # df/n_sources derive from tf, not raw tokens: one row per (source,
    # term) instead of one per token crosses the second shuffle
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    s = tf.select(F.countDistinct("source").alias("n_sources"))
    scored = (tf.join(df, "term").crossJoin(F.broadcast(s))
              .select("source", "term",
                      F.round(F.col("tf") * F.log(F.col("n_sources").cast("double")
                                                  / F.col("df")), 4).alias("tfidf")))
    w = Window.partitionBy("source").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 5).select("source", "term", "tfidf"))


@register(
    "llm_lang_filter_route",
    oracle="""
    SELECT lang, doc_id, source, n_chars
    FROM documents
    WHERE lang IN ('en', 'de')
    """,
)
def llm_lang_filter_route(spark, d):
    """Language filter/routing: the predicate pushes to the scan; the
    write path would partitionBy(lang) so each language lands in its own
    partition directory (partition-pruned downstream reads)."""
    return (T(spark, d, "documents")
            .filter(F.col("lang").isin("en", "de"))
            .select("lang", "doc_id", "source", "n_chars"))


@register(
    "llm_multimodal_join",
    oracle="""
    SELECT d.doc_id, d.lang, d.n_chars,
           CAST(e.label AS BIGINT) AS label,
           CAST(len(e.embedding) AS BIGINT) AS dim,
           round(CAST(e.embedding[1] AS DOUBLE), 6) AS e0
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
)
def llm_multimodal_join(spark, d):
    """Multimodal record assembly: text document ⋈ embedding vector into a
    struct column (text + vector + metadata), flattened for hashing.  At
    scale both sides co-partition on the id — one shuffle, or none with
    bucketed storage."""
    docs = T(spark, d, "documents")
    emb = T(spark, d, "embeddings")
    rec = (docs.join(emb, docs.doc_id == emb.vec_id)
           .select(F.struct("doc_id", "lang", "n_chars").alias("doc"),
                   F.struct("label", "embedding").alias("media")))
    return rec.select(
        F.col("doc.doc_id").alias("doc_id"),
        F.col("doc.lang").alias("lang"),
        F.col("doc.n_chars").alias("n_chars"),
        F.col("media.label").cast("bigint").alias("label"),
        F.size("media.embedding").cast("bigint").alias("dim"),
        F.round(F.element_at("media.embedding", 1).cast("double"), 6).alias("e0"),
    )


@register(
    "llm_embedding_agg",
    oracle="""
    SELECT CAST(label AS BIGINT) AS label, i - 1 AS dim,
           round(avg(CAST(embedding[i] AS DOUBLE)), 4) + 0 AS centroid
    FROM (SELECT label, embedding, unnest(generate_series(1, 64)) AS i
          FROM embeddings)
    GROUP BY label, dim
    """,
)
def llm_embedding_agg(spark, d):
    """Per-label centroid of the 64-dim embeddings via posexplode + group
    average — fully partial-aggregatable ((label,dim) keys), unlike a
    naive collect-then-average.  Scale path: ml.stat.Summarizer.mean over
    vectors for one-pass per-partition summaries."""
    emb = T(spark, d, "embeddings").select(
        F.col("label").cast("bigint").alias("label"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "val"))
    return (emb.groupBy("label", F.col("dim").cast("bigint").alias("dim"))
            .agg((F.round(F.avg("val"), 4) + F.lit(0.0)).alias("centroid")))


# ---------------------------------------------------------- text analysis

# Tiny per-language marker lists for the n-gram/stopword language-ID
# heuristic.  The fixture corpus shares one analytics vocabulary across all
# langs, so markers are drawn from it — the *operator pattern* (per-lang
# overlap scoring + argmax routing) is what matters at scale.
_LANG_MARKERS = {
    "en": ("the", "a", "data", "query"),
    "es": ("table", "row", "scan", "filter"),
    "de": ("group", "sort", "merge", "window"),
    "fr": ("stream", "batch", "value", "join"),
    "zh": ("spark", "hash", "line", "customer"),
}


@register(
    "llm_lang_id",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang AS lang_actual,
               len(list_filter(list_distinct(string_split(text, ' ')),
                   x -> x IN ('the', 'a', 'data', 'query'))) AS s_en,
               len(list_filter(list_distinct(string_split(text, ' ')),
                   x -> x IN ('table', 'row', 'scan', 'filter'))) AS s_es,
               len(list_filter(list_distinct(string_split(text, ' ')),
                   x -> x IN ('group', 'sort', 'merge', 'window'))) AS s_de,
               len(list_filter(list_distinct(string_split(text, ' ')),
                   x -> x IN ('stream', 'batch', 'value', 'join'))) AS s_fr,
               len(list_filter(list_distinct(string_split(text, ' ')),
                   x -> x IN ('spark', 'hash', 'line', 'customer'))) AS s_zh
        FROM documents
    )
    SELECT doc_id, lang_actual,
           CASE greatest(s_en, s_es, s_de, s_fr, s_zh)
                WHEN s_de THEN 'de' WHEN s_en THEN 'en' WHEN s_es THEN 'es'
                WHEN s_fr THEN 'fr' ELSE 'zh' END AS lang_guess,
           CAST(greatest(s_en, s_es, s_de, s_fr, s_zh) AS BIGINT) AS best_score
    FROM scored
    """,
)
def llm_lang_id(spark, d):
    """Language-ID heuristic: score each document's distinct-token overlap
    against per-language marker lists, classify by argmax (alphabetical-ish
    tiebreak mirrored exactly in the oracle CASE).  At scale the marker
    lists broadcast as literals inside codegen — no join, no shuffle."""
    docs = T(spark, d, "documents")
    toks = F.array_distinct(F.split("text", " "))
    scores = {lang: F.size(F.array_intersect(
        toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in _LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    guess = (F.when(best == scores["de"], "de")
             .when(best == scores["en"], "en")
             .when(best == scores["es"], "es")
             .when(best == scores["fr"], "fr")
             .otherwise("zh"))
    return docs.select(
        "doc_id", F.col("lang").alias("lang_actual"),
        guess.alias("lang_guess"), best.cast("bigint").alias("best_score"))


@register(
    "llm_quality_score",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang, string_split(text, ' ') AS w, n_chars FROM documents
    )
    SELECT doc_id, lang,
           CAST(len(w) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(w)) AS BIGINT) AS n_types,
           CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS type_token_ratio,
           CAST(n_chars AS DOUBLE) / len(w) AS avg_token_len,
           CASE WHEN len(w) >= 20
                 AND CAST(len(list_distinct(w)) AS DOUBLE) / len(w) > 0.2
                THEN 'keep' ELSE 'drop' END AS quality_route
    FROM t
    """,
)
def llm_quality_score(spark, d):
    """Quality scoring for corpus filtering: token count, type/token ratio
    (lexical diversity), average token length, and the keep/drop routing
    decision a training-data pipeline applies before dedup.  Pure codegen
    expressions — no UDF, no shuffle."""
    docs = T(spark, d, "documents")
    w = F.split("text", " ")
    n_tok = F.size(w)
    n_typ = F.size(F.array_distinct(w))
    ttr = n_typ.cast("double") / n_tok
    return docs.select(
        "doc_id", "lang",
        n_tok.cast("bigint").alias("n_tokens"),
        n_typ.cast("bigint").alias("n_types"),
        ttr.alias("type_token_ratio"),
        (F.col("n_chars").cast("double") / n_tok).alias("avg_token_len"),
        F.when((n_tok >= 20) & (ttr > 0.2), "keep").otherwise("drop")
        .alias("quality_route"),
    )


@register(
    "llm_fingerprint",
    oracle="""
    WITH fp AS (
        SELECT doc_id, lang,
               md5(array_to_string(list_sort(list_distinct(
                   string_split(text, ' '))), ' ')) AS content_fp,
               md5(text) AS exact_fp
        FROM documents
    )
    SELECT doc_id, lang, exact_fp, content_fp,
           count(*) OVER (PARTITION BY content_fp) AS fp_group_size
    FROM fp
    """,
)
def llm_fingerprint(spark, d):
    """Document fingerprinting: an exact-content hash plus an order-
    insensitive bag-of-words fingerprint (sorted distinct tokens → md5) —
    the cheap first pass before shingle/MinHash near-dup.  Fingerprints are
    32-byte shuffle keys regardless of document size."""
    from pyspark.sql import Window

    docs = T(spark, d, "documents")
    # NULL text must fingerprint as NULL, matching the oracle's
    # md5(NULL): without the guard concat_ws SKIPS the NULL and yields
    # md5('') — silently merging NULL-text docs with empty-string docs
    # into one fp group (caught by the null-mirror parity sweep).
    content_fp = F.when(F.col("text").isNull(), F.lit(None)).otherwise(
        F.md5(F.concat_ws(
            " ", F.sort_array(F.array_distinct(F.split("text", " "))))
            .cast("binary")))
    fp = docs.select(
        "doc_id", "lang",
        F.md5(F.col("text").cast("binary")).alias("exact_fp"),
        content_fp.alias("content_fp"))
    return fp.withColumn(
        "fp_group_size", F.count("*").over(Window.partitionBy("content_fp")))


# --- SimHash near-dup ------------------------------------------------------
# Both engines derive the same 60-bit token hash from md5 hex (Spark: conv;
# DuckDB: positional digit sum — verified bit-identical), so the whole
# fingerprint pipeline is oracle-checkable.
_SIMHASH_BITS = 60
_SIMHASH_BANDS = 4          # 4 bands x 15 bits: any pair with hamming <= 3
_SIMHASH_MAXHAM = 3         # must agree on >= 1 band (pigeonhole) -> banding
                            # candidate generation is EXACT, not approximate.

_DIGSUM = " + ".join(
    f"(strpos('0123456789abcdef', substr(h,{i},1))-1)*{16 ** (15 - i)}"
    for i in range(1, 16))
_VSUM = ", ".join(
    f"sum(CASE WHEN (th >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
    for j in range(_SIMHASH_BITS))
_FPSUM = " + ".join(
    f"(CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END)"
    for j in range(_SIMHASH_BITS))

_SIMHASH_ORACLE = f"""
    WITH tok AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
        FROM documents
    ), hashed AS (
        SELECT doc_id, {_DIGSUM} AS th
        FROM (SELECT doc_id, md5(w) AS h FROM tok)
    ), vecs AS (
        SELECT doc_id, {_VSUM} FROM hashed GROUP BY doc_id
    ), fp AS (
        SELECT doc_id, {_FPSUM} AS f FROM vecs
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.f, b.f)) AS BIGINT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.f, b.f)) <= {_SIMHASH_MAXHAM}
"""


def simhash_fingerprints(docs, id_col: str = "doc_id",
                         text_col: str = "text"):
    """60-bit SimHash per document: sign of the per-bit sum of +-1
    token-hash bits over distinct whitespace tokens.  Returns
    (id_col, f BIGINT).  Exposed for reuse/testing."""
    from functools import reduce
    from operator import add

    tok = docs.select(
        id_col,
        F.explode(F.array_distinct(F.split(text_col, " "))).alias("w"))
    th = F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("bigint")
    hashed = tok.select(id_col, th.alias("th"))
    sums = hashed.groupBy(id_col).agg(*[
        F.sum(F.when(F.shiftright(F.col("th"), j).bitwiseAND(F.lit(1)) == 1,
                     1).otherwise(-1)).alias(f"v{j}")
        for j in range(_SIMHASH_BITS)])
    fp_col = reduce(add, [
        F.when(F.col(f"v{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        for j in range(_SIMHASH_BITS)])
    return sums.select(id_col, fp_col.cast("bigint").alias("f"))


def simhash_pairs(fp, id_col: str = "doc_id",
                  max_hamming: int = _SIMHASH_MAXHAM):
    """Banded candidate join over fingerprints + exact hamming filter.
    With 4 bands of 15 bits, any pair within hamming 3 agrees on >= 1
    band (pigeonhole), so banding loses nothing for max_hamming <= 3."""
    band_w = _SIMHASH_BITS // _SIMHASH_BANDS
    bands = fp.select(
        id_col, "f",
        F.posexplode(F.array(*[
            F.shiftright(F.col("f"), band_w * b)
            .bitwiseAND(F.lit((1 << band_w) - 1))
            for b in range(_SIMHASH_BANDS)])).alias("band", "bv"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bv") == F.col("b.bv"))
                   & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
            .select(F.col(f"a.{id_col}").alias("doc_a"),
                    F.col(f"b.{id_col}").alias("doc_b"),
                    F.col("a.f").alias("fa"), F.col("b.f").alias("fb"))
            .distinct())
    return (cand
            .withColumn("hamming",
                        F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
                        .cast("bigint"))
            .filter(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming"))


@register("llm_dedup_simhash", oracle=_SIMHASH_ORACLE)
def llm_dedup_simhash(spark, d):
    """SimHash near-dup: 60-bit fingerprint per document, pairs at
    hamming <= 3 via exact LSH banding (see simhash_pairs).  At 100 TB
    the band join touches only same-bucket pairs (cost ~ sum of
    bucket^2), never n^2, and the fingerprint is a fixed 8-byte
    shuffle key."""
    docs = T(spark, d, "documents")
    return simhash_pairs(simhash_fingerprints(docs))


@register(
    "llm_dedup_embedding",
    oracle="""
    WITH pos AS (
        SELECT a.vec_id va, b.vec_id vb, a.embedding ae, b.embedding be,
               unnest(generate_series(1, 64)) AS i
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ), dots AS (
        SELECT va, vb,
               sum(CAST(ae[i] AS DOUBLE) * CAST(be[i] AS DOUBLE)) AS dot,
               sum(CAST(ae[i] AS DOUBLE) * CAST(ae[i] AS DOUBLE)) AS aa,
               sum(CAST(be[i] AS DOUBLE) * CAST(be[i] AS DOUBLE)) AS bb
        FROM pos GROUP BY va, vb
    )
    SELECT va AS vec_a, vb AS vec_b,
           round(dot / (sqrt(aa) * sqrt(bb)), 4) + 0 AS cosine
    FROM dots
    WHERE round(dot / (sqrt(aa) * sqrt(bb)), 4) >= 0.45
    """,
)
def llm_dedup_embedding(spark, d, n_blocks: int = 8, threshold: float = 0.45):
    """Embedding-cosine near-dup: all pairs above a cosine threshold,
    computed with the BLOCKED kernel — vectors are grouped into blocks,
    block *pairs* (upper triangle) are joined, and each pair runs one
    numpy matmul inside mapInPandas.  Per-pair cost is a BLAS gemm, not
    a per-row Catalyst fold; executor memory is bounded by block size,
    never by n.  This exact all-pairs form is the CORRECTNESS/RECALL
    BASELINE at test scale; the declared 100 TB path is
    llm_dedup_embedding_lsh, which runs the same verification behind
    the deterministic sign-projection candidate filter (r11 verdict
    task 3) — recall vs this baseline is pinned in
    tests/test_llm_dedup.py."""
    import numpy as np
    import pandas as pd

    emb = (T(spark, d, "embeddings")
           .select("vec_id",
                   F.col("embedding").cast("array<double>").alias("e"))
           .filter(F.col("e").isNotNull()))  # numpy kernel needs dense rows
    blocked = (emb.groupBy(F.pmod("vec_id", F.lit(n_blocks)).alias("blk"))
               .agg(F.collect_list(F.struct("vec_id", "e")).alias("vecs")))
    a = blocked.select(F.col("blk").alias("blk_a"), F.col("vecs").alias("va"))
    b = blocked.select(F.col("blk").alias("blk_b"), F.col("vecs").alias("vb"))
    pairs = a.join(b, F.col("blk_a") <= F.col("blk_b"))

    def block_cosine(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for va, vb, same in zip(pdf["va"], pdf["vb"],
                                    pdf["blk_a"] == pdf["blk_b"]):
                ids_a = np.array([r["vec_id"] for r in va])
                ids_b = np.array([r["vec_id"] for r in vb])
                ma = np.array([r["e"] for r in va])
                mb = np.array([r["e"] for r in vb])
                ma /= np.linalg.norm(ma, axis=1, keepdims=True)
                mb /= np.linalg.norm(mb, axis=1, keepdims=True)
                cos = np.round(ma @ mb.T, 4)
                ii, jj = np.nonzero(cos >= threshold)
                if same:
                    # both (i,j) and (j,i) are in this matrix: keep one
                    keep = ids_a[ii] < ids_b[jj]
                    lo, hi = ids_a[ii][keep], ids_b[jj][keep]
                    cv = cos[ii, jj][keep]
                else:
                    # each unordered pair appears once; normalize order
                    lo = np.minimum(ids_a[ii], ids_b[jj])
                    hi = np.maximum(ids_a[ii], ids_b[jj])
                    cv = cos[ii, jj]
                out_a.append(lo)
                out_b.append(hi)
                out_c.append(cv)
            yield pd.DataFrame({
                "vec_a": np.concatenate(out_a) if out_a else [],
                "vec_b": np.concatenate(out_b) if out_b else [],
                "cosine": np.concatenate(out_c) if out_c else [],
            })

    return pairs.mapInPandas(
        block_cosine, "vec_a bigint, vec_b bigint, cosine double")


_BPE_PAT = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@register(
    "llm_token_count",
    oracle=f"""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
           CAST(sum(len(regexp_extract_all(text, '{_BPE_PAT}'))) AS BIGINT)
               AS bpe_tokens,
           round(avg(CAST(len(regexp_extract_all(text, '{_BPE_PAT}'))
                 AS DOUBLE) / len(string_split(text, ' '))), 4)
               AS bpe_per_ws
    FROM documents
    GROUP BY source
    """,
)
def llm_token_count(spark, d):
    """Token counting per source: whitespace tokens plus a BPE-ish
    regex tokenizer (word / number / single-symbol pieces — the shape a
    byte-pair pretokenizer produces).  Pure JVM regex in codegen; token
    counts partial-aggregate so the shuffle carries one row per source."""
    docs = T(spark, d, "documents")
    bpe = F.size(F.expr(f"regexp_extract_all(text, '{_BPE_PAT}', 0)"))
    ws = F.size(F.split("text", " "))
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(ws).cast("bigint").alias("ws_tokens"),
        F.sum(bpe).cast("bigint").alias("bpe_tokens"),
        F.round(F.avg(bpe.cast("double") / ws), 4).alias("bpe_per_ws"),
    )


_CLUSTER_EDGE_CTE = """
    tok AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ), pos AS (
        SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM tok
    ), sh AS (
        SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
        FROM pos
    ), cnt AS (
        SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), ok AS (
        SELECT shingle FROM sh GROUP BY shingle HAVING count(*) BETWEEN 2 AND 64
    ), inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        JOIN ok ON ok.shingle = a.shingle
        GROUP BY 1, 2
    ), edge AS (
        SELECT doc_a, doc_b FROM inter
        JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
        WHERE CAST(common AS DOUBLE) / (ca.n + cb.n - common) >= 0.5
    ), bidir AS (
        SELECT doc_a AS src, doc_b AS dst FROM edge
        UNION ALL SELECT doc_b, doc_a FROM edge
    )
"""


# directed-edge count below which the CC loop is LATENCY-bound rather
# than data-bound: the per-round frames are O(dup nodes) ≤ 2×edges rows,
# so under this bound every stage is a handful of KB and the round cost
# is stage scheduling, not work (r17 interleaved A/B at sf0.1 with 180
# edges: 8 parts + AQE ≈ 2.03 s/loop vs 2 parts + AQE-off ≈ 1.55 s).
# Above it, _cc_loop_conf gives one partition per 500k edges.
_CC_TINY_EDGES = 500_000


def _cc_loop_conf(iso, n_edges: int, caller_parts) -> None:
    """Size the CC loop's child session from the edge count that
    _cc_bidir MATERIALIZED (scale-adaptive, never a local-core
    constant): tiny dup subgraphs run the per-round label frames at 2
    partitions with AQE OFF — each round is 4-6 tiny stages whose cost
    is scheduling latency, and adaptive re-planning only adds to it.
    Real edge volumes keep AQE on (runtime coalescing/skew handling
    matter there) and take one partition per ~500k edges, floor 8: a
    mass-dup corpus makes the edge frame the round's real payload (r16
    100x probe: 11.2M directed edges ran 4x core-starved at a pinned
    8).  The caller's own partition count caps it — a deliberately tiny
    session must not be out-parallelized by the loop.
    _canonical_components restores the child's inherited confs after
    the loop (the closing attach join is corpus-sized)."""
    tiny = n_edges < _CC_TINY_EDGES
    parts = 2 if tiny else min(int(caller_parts),
                               max(8, n_edges // 500_000 + 1))
    iso.conf.set("spark.sql.shuffle.partitions", str(parts))
    iso.conf.set("spark.sql.adaptive.enabled", str(not tiny).lower())


def _cc_bidir(edges):
    """Materialize the DIRECTED dup-pair frame once and derive the
    bidirectional edge frame from the checkpointed blocks with two
    narrow selects.  The previous form unioned two selects over the
    LAZY edge plan and localCheckpointed the union — executing the
    whole edge build (inverted-index / LSH candidate join + verify)
    TWICE for one materialization (r16 optimization round: the plan
    showed the verify subtree duplicated under Union; only the
    candidate-join exchanges were reused).  Checkpointing the directed
    pairs halves the edge build at every scale — what the loop iterates
    is O(dup pairs) either way, and the two direction selects are
    narrow maps over the checkpoint blocks.  Returns
    ``(bidir, directed_edge_count)``; the count is a cheap
    checkpoint-block scan the callers feed to _cc_loop_conf."""
    a, b = edges.columns
    ck = edges.localCheckpoint(eager=True)
    bidir = (ck.select(F.col(a).alias("src"), F.col(b).alias("dst"))
             .unionByName(
                 ck.select(F.col(b).alias("src"), F.col(a).alias("dst"))))
    return bidir, ck.count() * 2


def _min_label_propagation(bidir, max_iter: int):
    """Iterative min-label connected components over a (src, dst)
    bidirectional edge frame DERIVED NARROWLY FROM A CHECKPOINTED frame
    (_cc_bidir is the canonical producer: two narrow selects over the
    checkpointed directed pairs — r17 docstring fix, the r16 advisor
    caught the stale "caller has localCheckpointed bidir" wording; a
    fully LAZY frame here would re-run the whole edge build every
    round):
    each round every node takes the min of its own label and its
    neighbors'; rounds = graph diameter (tiny for dup clusters — they
    are near-cliques).  Returns (node, lbl) for every node with at
    least one edge; isolated nodes are the caller's closing left-join.

    Extracted r16 so llm_dedup_clusters (shingle-Jaccard edges) and
    llm_dedup_embedding_lsh_canonical (embedding-cosine edges) share
    the ONE loop — the convergence rule (labels are monotone
    non-increasing, so the label SUM strictly decreases until the
    fixpoint; an O(1)-output aggregate detects it without joining old
    labels against new) must never drift between edge domains.
    _canonical_components owns the child session and the loop conf.

    Each round is neighbor-min propagation PLUS a pointer-jumping
    shortcut (node's label drops to its label's label — the classic
    O(log diameter) CC accelerator, r16): plain propagation needs
    diameter rounds, so a duplicate CHAIN longer than max_iter (drifted
    re-crawls where only near neighbors pass the threshold — a path
    graph, measured on the r16 100x staged corpus) would previously
    exit the loop with silently wrong labels.  The jump engages from
    the THIRD round only (r16 optimization round): dup graphs are
    near-cliques or guard-produced stars that reach their fixpoint in
    1-2 plain rounds, so rounds 0-1 skip the jump's extra self-join +
    exchange (the fixpoint is identical — the jump only accelerates);
    long chains still get 18 jumped rounds, covering diameter ~3+2^18.
    If the sum STILL has not reached its fixpoint after max_iter
    rounds the loop fails typed (RuntimeError) instead of returning a
    wrong answer."""
    nodes = bidir.select(F.col("src").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("lbl"))
    prev_sum = None
    prev_cached = None
    converged = False
    for rnd in range(max_iter):
        neigh = (bidir.join(labels, bidir.src == labels.node)
                 .groupBy(F.col("dst").alias("node"))
                 .agg(F.min("lbl").alias("nlbl")))
        prop = (labels.join(neigh, "node", "left")
                .select("node",
                        F.least("lbl", F.coalesce("nlbl", "lbl"))
                        .alias("lbl")))
        # pointer jumping: look the round's label up as a NODE and take
        # ITS label — labels are always node ids of the subgraph, so
        # the self-join always resolves; effective propagation distance
        # doubles per round at the cost of one more tiny-frame join.
        # Skipped for the first two rounds (see docstring): near-clique
        # / star dup graphs converge before the jump can pay for its
        # exchange, and on a chain the first two plain rounds cost one
        # join less while the later jumped rounds still cover 2^18.
        if rnd >= 2:
            jump = prop.select(F.col("node").alias("lbl"),
                               F.col("lbl").alias("ll"))
            new_labels = (prop.join(jump, "lbl", "left")
                          .select("node",
                                  F.least("lbl", F.coalesce("ll", "lbl"))
                                  .alias("lbl")))
        else:
            new_labels = prop
        # cache each round, but localCheckpoint every 3rd: round plans
        # NEST (round N's lineage contains round N-1's), so an
        # unbounded-round run (long-chain graphs) OOMs the driver just
        # RENDERING the plan tree (r16: measured at ~round 10 on a
        # 400-node path); the periodic checkpoint caps nesting depth at
        # 3 while the common ≤4-round dup graph pays at most one.
        # Checkpointed frames are never unpersisted — their blocks back
        # later rounds' lineage and free on GC (the bidir discipline);
        # plain cached rounds release eagerly as before.
        if (rnd + 1) % 3 == 0:
            new_labels = new_labels.localCheckpoint(eager=True)
            fresh_cache = None
        else:
            new_labels = new_labels.cache()
            fresh_cache = new_labels
        cur_sum = new_labels.agg(F.sum("lbl")).collect()[0][0]
        if prev_cached is not None:
            prev_cached.unpersist()
        prev_cached = fresh_cache
        labels = new_labels
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        raise RuntimeError(
            f"connected components did not converge in {max_iter} "
            "rounds — component diameter exceeds ~2^max_iter, raise "
            "max_iter (silent wrong labels are not an option)")
    return labels


@register(
    "llm_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_CLUSTER_EDGE_CTE},
    walk(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT b.dst, w.lbl FROM walk w JOIN bidir b ON b.src = w.node
        WHERE w.lbl < b.dst
    )
    SELECT node AS doc_id, min(lbl) AS canonical_id,
           CAST(min(lbl) <> node AS BOOLEAN) AS is_duplicate
    FROM walk GROUP BY node
    """,
)
def llm_dedup_clusters(spark, d, max_iter: int = 20):
    """Duplicate-cluster resolution: connected components over the
    near-dup pair graph (shingle-Jaccard >= 0.5 edges), each doc labeled
    with its component's minimum doc_id — the keep/drop verdict an actual
    dedup pipeline emits.

    Iterative min-label propagation: each round every node takes the min
    of its own label and its neighbors'; rounds = graph diameter (tiny
    for dup clusters — they are near-cliques).  The driver loop only
    checks a per-round convergence count; labels and edges stay
    distributed, and each round is one shuffle on node id.  This is the
    standard large-graph CC pattern (GraphX/GraphFrames use the same
    shape) and is the piece that turns O(pairs) near-dup output into an
    O(docs) keep-list at 100 TB.

    The edge build and the loop run through
    :func:`_canonical_components`."""
    return _canonical_components(
        spark, d, "doc_id",
        lambda s: llm_dedup_near(s, d).select("doc_a", "doc_b"),
        lambda s: T(s, d, "documents").select("doc_id"), max_iter)


def _canonical_components(spark, d, key: str, edges, nodes, max_iter: int):
    """The one CC driver behind llm_dedup_clusters and
    llm_dedup_embedding_lsh_canonical: (key, canonical_id, is_duplicate)
    for every node of ``nodes(session)`` (one column, ``key``) over the
    directed dup pairs ``edges(session)``, on a ``child_session``.  The
    corpus-sized edge build runs at the caller's inherited parallelism
    and checkpoints once (_cc_bidir); _cc_loop_conf then sizes the loop
    from the edge count, since per-round task overhead, not data,
    bounds CC on the tiny label frames.  The loop runs on the dup
    SUBGRAPH only; afterwards the child gets its inherited confs back
    and ONE corpus-sized left join attaches every isolated node as its
    own canonical id."""
    from ..session import INHERITED_CONFS, child_session

    iso = child_session(spark)
    inherited = {k: iso.conf.get(k) for k in INHERITED_CONFS}
    bidir, n_edges = _cc_bidir(edges(iso))
    _cc_loop_conf(iso, n_edges, inherited["spark.sql.shuffle.partitions"])
    labels = (_min_label_propagation(bidir, max_iter)
              .withColumnRenamed("node", key))
    for k, v in inherited.items():
        iso.conf.set(k, v)
    canonical = F.coalesce("lbl", key)
    return (nodes(iso).join(labels, key, "left")
            .select(key, canonical.alias("canonical_id"),
                    (canonical != F.col(key)).alias("is_duplicate")))


@register(
    "llm_docs_to_chunks",
    oracle="""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS w,
               len(string_split(text, ' ')) AS n
        FROM documents
    ), starts AS (
        SELECT doc_id, w, n, unnest(generate_series(1, n, 25)) AS s
        FROM tok
    )
    SELECT doc_id,
           CAST((s - 1) / 25 AS BIGINT) AS chunk_idx,
           array_to_string(list_slice(w, s, least(s + 49, n)), ' ')
               AS chunk_text,
           CAST(least(s + 49, n) - s + 1 AS BIGINT) AS n_tokens
    FROM starts
    """,
)
def llm_docs_to_chunks(spark, d):
    """Document chunking: overlapping token windows (size 50, stride 25)
    — the canonical LLM-pretraining preprocessing step.  Pure JVM array
    ops (split → sequence of starts → posexplode → slice), so chunking
    runs in whole-stage codegen with no Python; output rows carry the
    chunk text plus its index and token count.  At 100 TB this is a
    narrow map — no shuffle at all."""
    docs = T(spark, d, "documents").select(
        "doc_id", F.split("text", " ").alias("w"))
    docs = docs.withColumn("n", F.size("w"))
    starts = docs.select(
        "doc_id", "w", "n",
        F.posexplode(F.sequence(F.lit(1), F.col("n"), F.lit(25)))
        .alias("chunk_idx", "s"))
    return starts.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.concat_ws(" ", F.slice("w", F.col("s"),
                                 F.least(F.lit(50), F.col("n") - F.col("s") + 1)))
        .alias("chunk_text"),
        (F.least(F.col("s") + 49, F.col("n")) - F.col("s") + 1)
        .cast("bigint").alias("n_tokens"))


@register(
    "llm_pii_scrub",
    oracle="""
    WITH aug AS (
        SELECT doc_id,
               text || ' contact user' || doc_id ||
               '@example.com or +1-555-0' || doc_id || ' now' AS raw
        FROM documents
    )
    SELECT doc_id,
           regexp_replace(
               regexp_replace(raw, '[a-z0-9.]+@[a-z0-9.]+', '[EMAIL]', 'g'),
               '\\+?[0-9][0-9-]{7,}', '[PHONE]', 'g') AS clean,
           CAST(length(raw) - length(
               regexp_replace(
                   regexp_replace(raw, '[a-z0-9.]+@[a-z0-9.]+', '[EMAIL]', 'g'),
                   '\\+?[0-9][0-9-]{7,}', '[PHONE]', 'g')) AS BIGINT)
               AS bytes_redacted
    FROM aug
    """,
)
def llm_pii_scrub(spark, d):
    """PII scrubbing: regex redaction of emails and phone numbers — the
    compliance pass every training-data pipeline runs before tokenizing.
    The fixture corpus has no PII, so a deterministic synthetic
    email+phone is appended per doc (identically in the oracle) and the
    scrubber must remove exactly that.  Pure JVM regexp_replace in
    codegen; a narrow map at any scale."""
    docs = T(spark, d, "documents")
    raw = F.concat(
        F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-0"), F.col("doc_id").cast("string"),
        F.lit(" now"))
    aug = docs.select("doc_id", raw.alias("raw"))
    clean = F.regexp_replace(
        F.regexp_replace(F.col("raw"), r"[a-z0-9.]+@[a-z0-9.]+", "[EMAIL]"),
        r"\+?[0-9][0-9-]{7,}", "[PHONE]")
    return aug.select(
        "doc_id", clean.alias("clean"),
        (F.length("raw") - F.length(clean)).cast("bigint")
        .alias("bytes_redacted"))


@register(
    "llm_embedding_quantize",
    oracle="""
    WITH pos AS (
        SELECT vec_id, label, embedding AS e,
               unnest(generate_series(1, 64)) AS i
        FROM embeddings
        WHERE embedding IS NOT NULL
    ), comp AS (
        SELECT vec_id, label, CAST(e[i] AS DOUBLE) AS x,
               max(abs(CAST(e[i] AS DOUBLE)))
                   OVER (PARTITION BY vec_id) AS scale
        FROM pos
    ), q AS (
        SELECT vec_id, label, x, scale,
               CASE WHEN scale = 0 THEN 0
                    ELSE round(x * 127.0 / scale) END AS qv
        FROM comp
    )
    SELECT label,
           CAST(count(DISTINCT vec_id) AS BIGINT) AS n_vecs,
           round(avg(pow(x - qv * scale / 127.0, 2)) * 1e6, 4)
               AS mse_x1e6,
           CAST(max(abs(qv)) AS BIGINT) AS max_q
    FROM q
    GROUP BY label
    """,
)
def llm_embedding_quantize(spark, d):
    """int8 symmetric quantization of embeddings (scale = max|x|/127 per
    vector) with reconstruction-error accounting per label — the
    compression step that cuts a 100 TB float32 embedding store 4× for
    ANN serving.  All arithmetic stays in JVM higher-order functions;
    the oracle replays it per-component.  max_q == 127 proves the full
    int8 range is used; mse quantifies the fidelity loss."""
    emb = (T(spark, d, "embeddings")
           .filter(F.col("embedding").isNotNull())  # mirrored in the oracle
           .select("vec_id", "label",
                   F.col("embedding").cast("array<double>").alias("e")))
    comp = emb.select(
        "vec_id", "label",
        F.posexplode("e").alias("i", "x"),
        F.array_max(F.transform("e", lambda v: F.abs(v))).alias("scale"))
    # the all-zero vector has scale 0: it quantizes to all-zero qv with
    # zero reconstruction error — not an ANSI divide-by-zero (null-mirror
    # parity sweep; the oracle carries the same CASE)
    q = comp.withColumn(
        "qv", F.when(F.col("scale") == 0, F.lit(0.0))
        .otherwise(F.round(F.col("x") * 127.0 / F.col("scale"))))
    return q.groupBy("label").agg(
        F.countDistinct("vec_id").alias("n_vecs"),
        F.round(F.avg(F.pow(F.col("x") - F.col("qv") * F.col("scale") / 127.0,
                            2)) * 1e6, 4).alias("mse_x1e6"),
        F.max(F.abs("qv")).cast("bigint").alias("max_q"))


_MIX_HASH_DUCK = " + ".join(
    f"(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)),{i},1))-1)"
    f"*{16 ** (8 - i)}" for i in range(1, 9))


@register(
    "llm_dataset_mixture",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, lang, source,
               ({_MIX_HASH_DUCK}) % 100 AS bucket
        FROM documents
    )
    SELECT doc_id, lang, source FROM h
    WHERE bucket < (CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 30 ELSE 10 END)
    """,
)
def llm_dataset_mixture(spark, d):
    """Dataset-mixture sampling: per-language keep rates (en 50%, de 30%,
    rest 10%) decided by a STABLE content hash of the key, not rand() —
    so the sample is reproducible across runs, engines and cluster
    sizes, and re-running the pipeline on grown data keeps previously
    selected documents selected (the property training-data curation
    needs).  A narrow map: no shuffle, no state."""
    docs = T(spark, d, "documents")
    bucket = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                     16, 10).cast("bigint") % 100)
    rate = (F.when(F.col("lang") == "en", 50)
            .when(F.col("lang") == "de", 30).otherwise(10))
    return (docs.withColumn("bucket", bucket)
            .filter(F.col("bucket") < rate)
            .select("doc_id", "lang", "source"))


def _diverse_seed_init(X, k, thr=0.8):
    """Deterministic DIVERSITY-FILTERED seeding (leader/canopy
    selection) over unit rows: accept sample rows in id order, skipping
    any whose cosine to an already-accepted seed exceeds thr; fill from
    the remaining rows in id order if the sample holds fewer than k
    diverse directions.  First-k/lowest-id seeding has NO recall
    guarantee on clustered data — if the first k ids all land in one
    tight cluster, Lloyd shatters that cluster across near-identical
    cells while the other clusters collapse into a few giant ones, and
    nprobe misses most true neighbors (r12 verdict task 5).  The filter
    fixes exactly that case and NOTHING else: on corpora whose first k
    rows are already diverse (near-orthogonal fixture vectors: pairwise
    |cos| ~ 1/sqrt(dim) << thr) it reduces bit-for-bit to first-k, so
    existing recall pins are unchanged — measured head-to-head,
    farthest-point/D²-style inits LOST recall on the random fixture
    (0.76 vs 0.90 mean) by chasing hull outliers, which is why this is
    a filter on id order rather than a distance-greedy seeder.  Both
    regimes are pinned in tests/test_llm_dedup.py."""
    return X[_diverse_seed_indices(X, k, thr)].copy()


def _diverse_seed_indices(X, k, thr=0.8):
    """Row indices _diverse_seed_init selects (callers that need to map
    the seeds back to companion arrays use this directly)."""
    k = min(k, len(X))
    sel: list[int] = []
    for i in range(len(X)):
        if len(sel) == k:
            break
        if not sel or float((X[sel] @ X[i]).max()) < thr:
            sel.append(i)
    if len(sel) < k:
        chosen = set(sel)
        for i in range(len(X)):
            if len(sel) == k:
                break
            if i not in chosen:
                sel.append(i)
    return sel


def _lloyd_train(X, k, iters, cosine):
    """Shared bounded-sample Lloyd loop behind ivf_centroids and
    ivfadc_trained_centroids (ONE source of truth for the seeding,
    iteration count and empty-cell carry-over — the r12 'PQ helper
    duplication' lesson applied up front): diversity-filtered seeding,
    then `iters` mean-update rounds.  cosine=True assigns by max dot
    and re-normalizes (unit centroids over unit rows); cosine=False
    assigns by L2 argmin in the raw space (the filter still runs on
    unit rows so the threshold stays a cosine)."""
    import numpy as np

    if cosine:
        C = _diverse_seed_init(X, k)
    else:
        norms = np.linalg.norm(X, axis=1, keepdims=True)
        C = X[_diverse_seed_indices(X / np.maximum(norms, 1e-300), k)].copy()
    for _ in range(iters):
        if cosine:
            assign = (X @ C.T).argmax(axis=1)
        else:
            assign = ((X[:, None, :] - C[None, :, :]) ** 2).sum(2).argmin(1)
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
        if cosine:
            C /= np.linalg.norm(C, axis=1, keepdims=True)
    return C


def ivf_centroids(emb_df, k=16, iters=5, sample_n=2048):
    """Train the IVF coarse quantizer: Lloyd iterations over a BOUNDED,
    deterministic sample (first sample_n vectors by vec_id) with
    deterministic DIVERSITY-FILTERED init (r13; bare first-k-rows init
    before — see _diverse_seed_init for why that degrades on clustered
    data and why distance-greedy inits were rejected).  This is the
    standard ANN recipe (faiss trains IVF on a sample too):
    the driver never holds more than sample_n * dim doubles no matter
    the table size.  Returns unit-normalised centroids, so
    nearest-by-dot == nearest-by-cosine."""
    import numpy as np

    sample = emb_df.orderBy("vec_id").limit(sample_n).select("e").collect()
    if not sample:
        return None  # empty corpus: nothing to quantize
    X = np.array([r["e"] for r in sample], dtype=np.float64)
    # zero-norm vectors carry no direction: drop them from training
    # rather than dividing by 0 (NaN centroids / RuntimeWarning)
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    X = X[norms[:, 0] > 0] / norms[norms[:, 0] > 0]
    if not len(X):
        return None
    return _lloyd_train(X, k, iters, cosine=True)


_ANN_VERDICT_ORACLE_FMT = """
    SELECT qid, CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(cid) AS BIGINT) AS exact_cid_sum,
           max(cosine) AS exact_best_cosine,
           TRUE AS recall_ok
    FROM ({exact}) exact
    GROUP BY qid
"""


def _ann_recall_verdict(spark, d, ann, floor):
    """BAND-VERDICT wrapper for ANN queries (r15; r14 verdict task 1):
    the driver has no rows-only channel — a query without an oracle
    records ``err: no_oracle`` and checks NOTHING (r7/r9/r14 samples) —
    so the declared output of an approximate-recall query is the
    deterministic, DuckDB-replayable EXACT side per query vector
    (count, id-sum and best cosine of the brute-force top-10) plus
    ``recall_ok`` = |ANN ∩ exact| / |exact| >= floor computed FROM the
    ANN result.  The oracle replays the exact aggregate + TRUE, so a
    recall collapse now breaks a hash row on every driver sample
    instead of living only in pytest.  The exact side reuses
    _cosine_prep/_cosine_topk10 — byte-identical expressions to
    llm_similarity_topk, whose parity pin certifies the exact replay.

    ANN is deterministic by construction (counter-based weights,
    stable argsort, explicit tiebreaks), so the boolean is stable; the
    per-query floor is calibrated per entry point with a regeneration
    margin under the measured minimum across all three fixture
    scales."""
    emb = _cosine_prep(T(spark, d, "embeddings"))
    q = (emb.filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"),
                 F.col("norm").alias("qnorm")))
    # the brute-force top-10 feeds TWO consumers (the replayable stats
    # and the ANN-hit count) — without a checkpoint each re-ran the
    # whole corpus pass (r17; guide §2.4/§5: the frame is ≤ queries×10
    # rows, the cheapest possible materialization barrier)
    exact = _cosine_topk10(q, emb).localCheckpoint(eager=True)
    ex_stats = exact.groupBy("qid").agg(
        F.count("*").alias("n_exact"),
        F.sum("cid").cast("bigint").alias("exact_cid_sum"),
        F.max("cosine").alias("exact_best_cosine"))
    hits = (ann.select("qid", "cid")
            .join(exact.select("qid", "cid"), ["qid", "cid"])
            .groupBy("qid").agg(F.count("*").alias("n_hit")))
    return (ex_stats.join(hits, "qid", "left")
            .select("qid", "n_exact", "exact_cid_sum", "exact_best_cosine",
                    ((F.coalesce(F.col("n_hit"), F.lit(0))
                      / F.col("n_exact")) >= floor).alias("recall_ok")))


def _ivf_ann(spark, d, k=16, nprobe=None, sample_n=2048):
    """ANN scale path #2 — IVF (inverted-file) partitioning: a 16-cell
    coarse quantizer assigns every vector to its nearest centroid; each
    query probes only its nprobe=6 nearest cells, so the exact re-rank
    touches ~nprobe/k of the corpus instead of all of it.  The
    assignment is one vectorized Arrow batch pass (the only Python in
    the pipeline); the candidate restriction is a broadcast equi-join on
    cell id; the re-rank runs JVM-side in codegen.  At 100 TB: k grows
    to ~sqrt(n) cells, assignment stays a narrow map, and each query
    still reads only its probed cells — the classic IVF contract."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.functions import pandas_udf

    emb = (T(spark, d, "embeddings")
           .select("vec_id",
                   F.col("embedding").cast("array<double>").alias("e"))
           .filter(F.col("e").isNotNull()))  # quantizer needs dense rows
    C = ivf_centroids(emb, k=k, sample_n=sample_n)
    if C is None:  # empty corpus: empty result, same schema, no crash
        return emb.select(F.col("vec_id").alias("qid"),
                          F.col("vec_id").alias("cid"),
                          F.lit(0.0).alias("cosine")).limit(0)
    # default nprobe=6 of 16 cells: measured mean recall@10 >= 0.90
    # (min 0.8) across all three fixture scale factors; nprobe=4
    # bottomed at 0.68.  Callers scaling k must scale nprobe with it
    # to keep the scan fraction (llm_similarity_ivf_scaled).
    if nprobe is None:
        nprobe = 6
    nprobe = min(nprobe, len(C))

    def _unit_rows(es):
        # zero-norm vectors have no direction; dividing by a clamped
        # norm leaves them as zero rows (cell assignment arbitrary,
        # cosine 0 downstream) instead of NaN + RuntimeWarning
        X = np.array(es.tolist(), dtype=np.float64)
        n = np.linalg.norm(X, axis=1, keepdims=True)
        return X / np.maximum(n, 1e-300)

    @pandas_udf("int", "SCALAR")
    def cell_of(es):
        return pd.Series((_unit_rows(es) @ C.T).argmax(axis=1).astype("int32"))

    @pandas_udf("array<int>", "SCALAR")
    def probes_of(es):
        order = np.argsort(-(_unit_rows(es) @ C.T),
                           axis=1)[:, :nprobe].astype("int32")
        return pd.Series(list(order))

    with_norm = emb.withColumn(
        "norm", F.sqrt(F.aggregate(F.transform("e", lambda x: x * x),
                                   F.lit(0.0), lambda a, x: a + x)))
    # a zero-norm vector has no direction: it can neither query nor be
    # a neighbor (cosine undefined; under ANSI the division would abort
    # the job) — drop it from both sides before any pairing
    with_norm = with_norm.filter(F.col("norm") > 0)
    cand = with_norm.withColumn("cell", cell_of("e")).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce"),
        F.col("norm").alias("cnorm"), "cell")
    q = (with_norm.filter(F.col("vec_id") < 5)
         .withColumn("cell", F.explode(probes_of("e")))
         .select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"),
                 F.col("norm").alias("qnorm"), "cell"))
    pairs = (cand.join(F.broadcast(q), "cell")
             .filter(F.col("qid") != F.col("cid")))
    dotted = pairs.withColumn(
        "dot", F.aggregate(F.zip_with("qe", "ce", lambda x, y: x * y),
                           F.lit(0.0), lambda a, x: a + x))
    sims = dotted.select(
        "qid", "cid",
        (F.round(F.col("dot") / (F.col("qnorm") * F.col("cnorm")), 4)
         + F.lit(0.0)).alias("cosine"))
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(),
                                          F.col("cid").asc())
    return (sims.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 10).select("qid", "cid", "cosine"))


@register("llm_similarity_ivf",
          oracle=_ANN_VERDICT_ORACLE_FMT.format(exact=_COSINE_ORACLE))
def llm_similarity_ivf(spark, d):
    """IVF ANN, declared as its BAND-VERDICT form (r15; r14 verdict
    task 1): _ivf_ann's top-10 (the engine, docstring there) scored
    against the brute-force exact top-10 — per query vector the output
    is the exact side's deterministic aggregate plus ``recall_ok`` =
    recall@10 >= 0.7, hash-oracled via the exact replay + TRUE (see
    _ann_recall_verdict).  Floor 0.7: measured per-query minimum 0.8
    at nprobe=6 across all three fixture scales (mean 0.90-0.98,
    pinned in tests/test_llm_dedup.py); the certification adds one
    broadcast brute-force pass over the 5-query set, which is the
    price of making the driver check recall every sample instead of
    recording err:no_oracle and checking nothing."""
    return _ann_recall_verdict(spark, d, _ivf_ann(spark, d), floor=0.7)


@register("llm_similarity_ivf_scaled",
          oracle=_ANN_VERDICT_ORACLE_FMT.format(exact=_COSINE_ORACLE))
def llm_similarity_ivf_scaled(spark, d):
    """IVF at the CORPUS-SCALED cell count (r15): every IVF docstring
    in this module promises "k grows to ~sqrt(n) at 100 TB" — this
    entry makes that executable and driver-certified instead of prose.
    k = clamp(ceil(sqrt(n_vectors)), 16, n) cells trained by the same
    bounded-sample diversity-filtered Lloyd, nprobe = ceil(3k/8) (the
    same 6-of-16 scan fraction as the fixed-k form, so the fraction of
    the corpus each query touches stays constant while per-cell
    posting lists shrink as 1/sqrt(n) — the property that makes IVF
    the 100 TB ANN shape).  The corpus size comes from ONE bounded
    count aggregate; everything downstream is the _ivf_ann plan.
    Measured recall@10 at the scaled geometry: mean 0.90-0.96 / min
    0.8 across all three fixture scales (k=23/np=9 at 500 vectors,
    k=45/np=17 at 2000); band-verdict floor 0.7 (see
    _ann_recall_verdict).

    The training sample scales WITH k (r15 review): a fixed 2048-row
    sample under sqrt(n) cells silently degenerates past n ~ 160k
    (fewer than ~13 training vectors per cell) and saturates outright
    at k = 2048 — while nprobe, derived from the UNCLAMPED k, would
    quietly drift the scan fraction off the documented 3/8.  Here
    sample_n = 40k (the faiss points-per-centroid floor), k is clamped
    to what the driver-side training cap can support (cap 65536 rows =
    ~34 MB of float64 at 64 dims, so k saturates honestly at 1638),
    and nprobe derives from the FINAL k.  Beyond the cap a production
    build trains k-means distributedly (the
    _quantized_cluster_assign / mapInPandas assignment stages are
    already cluster-side); the cap is a driver-memory bound, not a
    plan-shape one."""
    import math

    n = (T(spark, d, "embeddings")
         .filter(F.col("embedding").isNotNull()).count())
    if n == 0:  # empty corpus: same empty verdict as the fixed form
        return llm_similarity_ivf(spark, d)
    train_cap = 65536
    k = min(max(16, math.isqrt(n - 1) + 1), n, train_cap // 40)
    sample_n = min(max(2048, 40 * k), train_cap)
    nprobe = max(6, -(-3 * k // 8))
    return _ann_recall_verdict(
        spark, d,
        _ivf_ann(spark, d, k=k, nprobe=nprobe, sample_n=sample_n),
        floor=0.7)


@register(
    "llm_pack_sequences",
    oracle="""
    WITH tok AS (
        SELECT doc_id, source, len(string_split(text, ' ')) AS ntok
        FROM documents
    ), packed AS (
        SELECT doc_id, source, ntok,
               CAST(floor((sum(ntok) OVER (PARTITION BY source ORDER BY doc_id
                           ROWS UNBOUNDED PRECEDING) - ntok) / 512.0)
                    AS BIGINT) AS seq_id
        FROM tok
    )
    SELECT source, seq_id, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ntok) AS BIGINT) AS seq_tokens,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM packed GROUP BY source, seq_id
    """,
)
def llm_pack_sequences(spark, d):
    """Sequence packing — the pretraining step that concatenates documents
    into fixed-budget context windows (cap 512 tokens here).  Each doc's
    sequence id is the 512-bucket of its START offset in the per-source
    token stream (deterministic doc_id order), i.e. contiguous packing
    where the straddling doc belongs to the window it starts in.  Cost:
    ONE shuffle on source for the running sum; the pack assignment and
    roll-up reuse that partitioning.  At 100 TB, source-keyed streams
    pack independently — no global coordination."""
    from pyspark.sql import Window

    docs = T(spark, d, "documents").select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("ntok"))
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    packed = docs.withColumn(
        "seq_id",
        F.floor((F.sum("ntok").over(w) - F.col("ntok")) / 512.0)
        .cast("bigint"))
    return (packed.groupBy("source", "seq_id")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("ntok").cast("bigint").alias("seq_tokens"),
                 F.min("doc_id").cast("bigint").alias("first_doc")))


@register(
    "llm_decontaminate",
    oracle="""
    WITH ev AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
        WHERE doc_id < 50 AND len(string_split(text, ' ')) >= 8
    ), evsh AS (
        SELECT DISTINCT array_to_string(list_slice(w, i, i + 7), ' ') AS sh
        FROM ev, unnest(generate_series(1, len(w) - 7)) AS t(i)
    ), tr AS (
        SELECT doc_id, w FROM documents
        WHERE doc_id >= 50 AND len(string_split(text, ' ')) >= 8
    ), trsh AS (
        SELECT DISTINCT doc_id, array_to_string(list_slice(w, i, i + 7), ' ')
               AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
              WHERE doc_id >= 50) tr2,
             unnest(generate_series(1, len(w) - 7)) AS t(i)
        WHERE len(w) >= 8
    )
    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_hits
    FROM trsh t JOIN evsh e ON t.sh = e.sh
    GROUP BY t.doc_id
    """,
)
def llm_decontaminate(spark, d):
    """Benchmark decontamination — the eval-leakage check every serious
    pretraining pipeline runs: find training docs sharing any 8-gram
    with the eval set (docs 0-49 stand in for the benchmark).  Eval
    8-grams are a tiny distinct set, so the check is a BROADCAST
    semi-ish join against them — the 100 TB training corpus shingles
    stream past in place, nothing shuffles but per-doc hit counts."""
    docs = T(spark, d, "documents").select(
        "doc_id", F.split("text", " ").alias("w"))
    docs = docs.filter(F.size("w") >= 8)

    def grams(df):
        return df.select(
            "doc_id",
            F.explode(F.array_distinct(F.transform(
                F.sequence(F.lit(0), F.size("w") - 8),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(F.col("w"), i + k)
                           for k in range(1, 9)])))).alias("sh"))

    ev = grams(docs.filter(F.col("doc_id") < 50)).select("sh").distinct()
    tr = grams(docs.filter(F.col("doc_id") >= 50))
    return (tr.join(F.broadcast(ev), "sh")
            .groupBy("doc_id").agg(F.count("*").alias("n_hits")))


@register(
    "llm_quality_gopher",
    oracle="""
    WITH t AS (
        SELECT doc_id, lang, text, string_split(text, ' ') AS w
        FROM documents
    ), m AS (
        SELECT doc_id, lang,
               len(w) AS n_tokens,
               len(replace(text, ' ', '')) * 1.0 / len(w) AS mean_wlen,
               len(list_intersect(w, ['the','a','and','of','to'])) > 0
                   AS has_stop,
               list_max(list_transform(list_distinct(w),
                   x -> len(list_filter(w, y -> y = x)))) * 1.0 / len(w)
                   AS top_frac
        FROM t
    )
    SELECT doc_id, lang,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(mean_wlen, 4) AS mean_word_len,
           has_stop AS has_stopword,
           ROUND(top_frac, 4) AS top_token_frac,
           CASE WHEN n_tokens BETWEEN 15 AND 90
                 AND mean_wlen <= 5.0
                 AND has_stop
                 AND top_frac <= 0.15
                THEN 'keep' ELSE 'drop' END AS gopher_route
    FROM m
    """,
)
def llm_quality_gopher(spark, d):
    """Gopher-style rule filter (Rae et al. 2021 §A1.1, adapted to the
    fixture corpus): document word-count bounds, mean word length bound,
    required stopword presence, and a max single-token dominance cap —
    the heuristic pre-filter a pretraining pipeline applies before any
    model-based scoring.  Every rule is a higher-order array function
    over the token array — whole-stage codegen, zero shuffle, zero
    Python: at 100 TB this is a pure map over the corpus scan.  The
    dominant-token count is computed as the longest equal run of the
    SORTED token array (one O(n log n) sort + one O(n) aggregate pass
    per doc — not the O(distinct·n) transform×filter form, which goes
    quadratic on long documents).  Thresholds chosen to split the
    fixtures nontrivially on every rule."""
    docs = T(spark, d, "documents")
    w = F.split("text", " ")
    n_tok = F.size(w)
    mean_wlen = (F.length(F.regexp_replace("text", " ", "")).cast("double")
                 / n_tok)
    has_stop = F.arrays_overlap(
        w, F.array(*[F.lit(s) for s in ("the", "a", "and", "of", "to")]))

    def _step(a, x):
        run = F.when(x == a.prev, a.run + 1).otherwise(F.lit(1))
        return F.struct(x.alias("prev"), run.alias("run"),
                        F.greatest(a.best, run).alias("best"))

    top_cnt = F.aggregate(
        F.array_sort(w),
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                 F.lit(0).alias("best")),
        _step, lambda a: a.best)
    top_frac = top_cnt.cast("double") / n_tok
    keep = ((n_tok >= 15) & (n_tok <= 90) & (mean_wlen <= 5.0)
            & has_stop & (top_frac <= 0.15))
    return docs.select(
        "doc_id", "lang",
        n_tok.cast("bigint").alias("n_tokens"),
        F.round(mean_wlen, 4).alias("mean_word_len"),
        has_stop.alias("has_stopword"),
        F.round(top_frac, 4).alias("top_token_frac"),
        F.when(keep, "keep").otherwise("drop").alias("gopher_route"),
    )


@register(
    "llm_unigram_logprob",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), tf AS (
        SELECT tok, CAST(count(*) AS DOUBLE) AS cnt FROM tok GROUP BY tok
    ), tot AS (
        SELECT sum(cnt) AS n FROM tf
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           ROUND(avg(ln(cnt / n)), 4) AS avg_logprob
    FROM tok JOIN tf USING (tok) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def llm_unigram_logprob(spark, d):
    """Unigram language-model scoring — the cheap perplexity proxy used
    to rank corpus quality (CCNet-style): per-document mean log
    probability of its tokens under the corpus's own unigram
    distribution.  Two aggregations (term frequencies, then per-doc
    mean) plus one token-keyed equi-join; NO broadcast hint on the
    frequency table — token vocabulary grows with the corpus (Heaps'
    law), so the join must stay shuffle-based and AQE may demote it at
    runtime.  The corpus-total is a 1-row aggregate and does broadcast.
    All arithmetic in the JVM."""
    tok = (T(spark, d, "documents")
           .select("doc_id", F.explode(F.split("text", " ")).alias("tok")))
    # the vocab-sized frequency table feeds the corpus total AND the
    # scoring join — each re-ran the corpus explode + aggregation
    # without the checkpoint (guide §2.4/§5)
    tf = (tok.groupBy("tok").agg(F.count("*").cast("double").alias("cnt"))
          .localCheckpoint(eager=True))
    total = tf.agg(F.sum("cnt").alias("n"))
    return (tok.join(tf, "tok")
            .join(F.broadcast(total))
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_tokens"),
                 F.round(F.avg(F.log(F.col("cnt") / F.col("n"))), 4)
                  .alias("avg_logprob")))


@register(
    "llm_train_test_split",
    oracle="""
    WITH h AS (
        SELECT doc_id, lang,
               (""" + " + ".join(
        f"(strpos('0123456789abcdef', substr(md5(text),{i},1))-1)"
        f"*{16 ** (8 - i)}" for i in range(1, 9)) + """) % 1000 AS bucket
        FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN bucket < 900 THEN 'train'
                WHEN bucket < 950 THEN 'valid'
                ELSE 'test' END AS split
    FROM h
    """,
)
def llm_train_test_split(spark, d):
    """Leakage-resistant train/valid/test split (90/5/5): the bucket is a
    stable hash of the document CONTENT (md5(text)), not the doc id — so
    exact duplicates always land in the same split and re-ingesting the
    corpus never moves a document across the boundary (the two
    properties an id- or rand()-based split silently violates).  A
    narrow map over the scan: no shuffle, no state, reproducible on any
    engine or cluster size."""
    docs = T(spark, d, "documents")
    bucket = (F.conv(F.substring(F.md5("text"), 1, 8), 16, 10)
              .cast("bigint") % 1000)
    return docs.select(
        "doc_id", "lang",
        F.when(bucket < 900, "train")
         .when(bucket < 950, "valid")
         .otherwise("test").alias("split"))


# winnowing parameters: k-token grams, window of consecutive gram hashes
_WINNOW_K = 4
_WINNOW_WIN = 5

# materialized sketch index per fixture dir (llm_dedup_incremental):
# the "kept between ingests" index a production pipeline maintains
_sketch_index_cache: dict[str, str] = {}

# DuckDB: same 32-bit integer a Spark `conv(substr(md5(g),1,8),16,10)` yields
_GRAM_HASH_DUCK = " + ".join(
    f"(strpos('0123456789abcdef', substr(md5(g),{i},1))-1)*{16 ** (8 - i)}"
    for i in range(1, 9))


@register(
    "llm_winnow_fingerprint",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
    ), g AS (
        SELECT doc_id, lang,
               list_transform(
                   generate_series(1, len(w) - {_WINNOW_K - 1}),
                   i -> array_to_string(w[i:i+{_WINNOW_K - 1}], ' ')) AS grams
        FROM t WHERE len(w) >= {_WINNOW_K + _WINNOW_WIN - 1}
    ), h AS (
        SELECT doc_id, lang,
               list_transform(grams, g -> CAST({_GRAM_HASH_DUCK} AS BIGINT))
                   AS gh
        FROM g
    ), sk AS (
        SELECT doc_id, lang, len(gh) AS n_grams,
               list_sort(list_distinct(list_transform(
                   generate_series(1, len(gh) - {_WINNOW_WIN - 1}),
                   i -> list_min(gh[i:i+{_WINNOW_WIN - 1}])))) AS sketch
        FROM h
    )
    SELECT doc_id, lang,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(len(sketch) AS BIGINT) AS sketch_size,
           md5(array_to_string(sketch, ',')) AS sketch_fp
    FROM sk
    """,
)
def llm_winnow_fingerprint(spark, d):
    """Winnowing document fingerprint (Schleimer/Wilkerson/Aiken, the
    MOSS algorithm): hash every 4-token gram (rolling-hash family —
    realized as the first 8 md5 hex digits so both engines agree
    bit-for-bit), then keep the MINIMUM hash of every 5-hash window.
    Window minima change only where content changes, so near-identical
    documents share most selected hashes while the sketch stays a
    guaranteed-density sample of the gram stream — the local-dedup /
    plagiarism-detection fingerprint the bag-of-words md5 can't give.
    Everything is higher-order array functions in codegen: zero shuffle,
    zero Python, sketch keys are 8-byte ints regardless of document
    size."""
    k, win = _WINNOW_K, _WINNOW_WIN
    # w must be a materialized COLUMN before the transform lambda
    # touches it: a raw split(text) expression inside a higher-order
    # lambda re-evaluates PER ELEMENT — O(tokens^2) per document,
    # measured 105.7 s -> 0.44 s on a 40k-token doc (r13 big-doc probe)
    toks = (T(spark, d, "documents")
            .select("doc_id", "lang", F.split("text", " ").alias("w"))
            .filter(F.size("w") >= k + win - 1))
    w = F.col("w")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(w) - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice(w, i, k)))
    gh = F.transform(
        grams, lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10)
        .cast("bigint"))
    staged = toks.select("doc_id", "lang", gh.alias("gh"))
    sketch = F.array_sort(F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.size("gh") - (win - 1)),
        lambda i: F.array_min(F.slice("gh", i, win)))))
    # materialize the sketch as a column consumed twice downstream:
    # multi-use references survive project collapse, so the window-min
    # pass runs once per doc (single-use refs get inlined and recomputed
    # — the trap documented at llm_dedup_incremental)
    with_sketch = staged.select(
        "doc_id", "lang",
        F.size("gh").cast("bigint").alias("n_grams"),
        sketch.alias("sketch"))
    return with_sketch.select(
        "doc_id", "lang", "n_grams",
        F.size("sketch").cast("bigint").alias("sketch_size"),
        F.md5(F.concat_ws(",", "sketch").cast("binary")).alias("sketch_fp"))


@register(
    "llm_dedup_incremental",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
        WHERE len(string_split(text, ' ')) >= {_WINNOW_K + _WINNOW_WIN - 1}
    ), h AS (
        SELECT doc_id,
               list_transform(
                   list_transform(
                       generate_series(1, len(w) - {_WINNOW_K - 1}),
                       i -> array_to_string(w[i:i+{_WINNOW_K - 1}], ' ')),
                   g -> CAST({_GRAM_HASH_DUCK} AS BIGINT)) AS gh
        FROM t
    ), sk AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, len(gh) - {_WINNOW_WIN - 1}),
                   i -> list_min(gh[i:i+{_WINNOW_WIN - 1}]))) AS sketch
        FROM h
    ), pairs AS (
        SELECT n.doc_id AS new_id, o.doc_id AS old_id,
               len(list_intersect(n.sketch, o.sketch)) AS n_shared
        FROM sk n JOIN sk o
          ON n.doc_id >= 250 AND o.doc_id < 250
    )
    SELECT new_id, CAST(count(*) AS BIGINT) AS n_matches,
           CAST(max(n_shared) AS BIGINT) AS max_shared
    FROM pairs WHERE n_shared >= 2
    GROUP BY new_id
    """,
)
def llm_dedup_incremental(spark, d):
    """Incremental-ingest dedup: flag documents of a NEW batch (doc_id
    ≥ 250) whose winnowing sketch shares ≥2 selected hashes with any
    document of the established corpus (doc_id < 250) — the pattern a
    continuously-growing training corpus runs on every ingest, where
    re-deduplicating the whole corpus would be O(corpus) per batch.
    Candidates come from an inverted index on sketch hashes (explode →
    hash-keyed equi-join), so cost scales with shared-hash pairs, never
    |new|×|old|; the established side's sketch index is exactly what a
    production pipeline keeps materialized between ingests — and this
    query materializes it the same way (computed once, written to
    scratch parquet, read by both join sides), rather than letting each
    side of the self-join recompute the full gram-hash pipeline under
    whatever codegen the planner picks for it.  The oracle verifies via
    exact all-pairs sketch intersection."""
    import os

    from ..scratch import scratch_dir

    staged = _sketch_index_cache.get(d)
    if staged is None or not os.path.isdir(staged):
        k, win = _WINNOW_K, _WINNOW_WIN
        # w staged as a COLUMN before any lambda touches it (the raw
        # split(text) expression re-evaluates per element inside a
        # higher-order lambda — the llm_winnow_fingerprint O(tokens^2)
        # finding, r13 big-doc probe)
        toks = (T(spark, d, "documents")
                .select("doc_id", F.split("text", " ").alias("w"))
                .filter(F.size("w") >= k + win - 1))
        w = F.col("w")
        grams = F.transform(
            F.sequence(F.lit(1), F.size(w) - (k - 1)),
            lambda i: F.concat_ws(" ", F.slice(w, i, k)))
        gh = F.transform(
            grams, lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10)
            .cast("bigint"))
        sketch = F.array_distinct(F.transform(
            F.sequence(F.lit(1), F.size("gh") - (win - 1)),
            lambda i: F.array_min(F.slice("gh", i, win))))
        # explode the sketch IN the select that consumes the materialized
        # gh column: a chained select(sketch)->select(explode) lets
        # project collapse inline the whole gram-hash pipeline into every
        # window-min reference (O(n²) md5 evaluations per doc — measured
        # 11 s vs 0.5 s for this shape at sf0.01)
        idx_df = (toks.select("doc_id", gh.alias("gh"))
                  .select("doc_id", F.explode(sketch).alias("hx")))
        staged = scratch_dir("winnow_idx_")
        idx_df.write.mode("overwrite").parquet(staged)
        _sketch_index_cache[d] = staged
    idx = spark.read.parquet(staged)
    new = idx.filter(F.col("doc_id") >= 250).withColumnRenamed("doc_id", "new_id")
    old = idx.filter(F.col("doc_id") < 250).withColumnRenamed("doc_id", "old_id")
    shared = (new.join(old, "hx")
              .groupBy("new_id", "old_id")
              .agg(F.count("*").alias("n_shared"))
              .filter(F.col("n_shared") >= 2))
    return (shared.groupBy("new_id")
            .agg(F.count("*").alias("n_matches"),
                 F.max("n_shared").alias("max_shared")))


_BM25_QUERY_TERMS = [
    (0, ("join", "hash", "row")),
    (1, ("fast", "vector", "scan")),
    (2, ("customer", "order", "data")),
]

_BM25_ORACLE = """
    WITH q(qid, tok) AS (VALUES
        (0, 'join'), (0, 'hash'), (0, 'row'),
        (1, 'fast'), (1, 'vector'), (1, 'scan'),
        (2, 'customer'), (2, 'order'), (2, 'data')),
    docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    dl AS (SELECT doc_id, len(w) AS dl FROM docs),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tok AS (SELECT doc_id, unnest(w) AS tok FROM docs),
    tfq AS (
        SELECT doc_id, tok, count(*) AS tf
        FROM tok JOIN (SELECT DISTINCT tok FROM q) USING (tok)
        GROUP BY 1, 2),
    dfq AS (SELECT tok, count(*) AS df FROM tfq GROUP BY tok),
    scored AS (
        SELECT q.qid, t.doc_id,
               sum(CAST(round(
                   ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                   * t.tf * 2.2
                   / (t.tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))
                   * 1000000) AS BIGINT)) AS sf
        FROM tfq t
        JOIN q ON q.tok = t.tok
        JOIN dfq ON dfq.tok = t.tok
        JOIN dl ON dl.doc_id = t.doc_id
        CROSS JOIN stats
        GROUP BY 1, 2)
    SELECT qid, doc_id, round(CAST(sf AS DOUBLE) / 1000000, 4) AS bm25
    FROM (SELECT qid, doc_id, sf,
                 row_number() OVER (PARTITION BY qid
                                    ORDER BY sf DESC, doc_id) AS rn
          FROM scored)
    WHERE rn <= 10
"""


def _bm25_postings(spark, d):
    """The bounded query-term postings frame (doc_id, tok, tf).  The
    term filter runs INSIDE the explode (higher-order filter over the
    token array, keeping duplicates for tf), so non-query tokens are
    never even generated — for a parameterized query set too large to
    inline, this becomes a broadcast join after the explode.  Extracted
    (r17) so the keep-list plan pin can inspect this exact subtree: the
    caller checkpoints the aggregate, which hides the explode from the
    final query's explain."""
    docs = T(spark, d, "documents").select(
        "doc_id", F.split("text", " ").alias("w"))
    terms = sorted({t for _qid, ts in _BM25_QUERY_TERMS for t in ts})
    tok = docs.select(
        "doc_id",
        F.explode(F.filter("w", lambda x: x.isin(terms))).alias("tok"))
    return tok.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))


@register("llm_bm25_topk", oracle=_BM25_ORACLE)
def llm_bm25_topk(spark, d):
    """BM25 top-10 retrieval (k1=1.2, b=0.75, Lucene idf) for a fixed
    query set — the lexical-search workhorse of training-data curation
    (targeted quality filtering, eval-adjacent document hunts, retrieval
    baselines).  Scale shape: the query-term keep-list broadcasts onto
    the token stream BEFORE the tf aggregation, so only postings of
    query terms ever shuffle — corpus-sized tokens never do; document
    length is a narrow projection; n_docs/avgdl is a 1-row broadcast;
    df comes from the already-restricted tf aggregate.  Per-term scores
    are rounded to 1e-6 and summed as BIGINT, so the cross-engine
    aggregation is integer-exact regardless of partial-aggregation
    order; ranking ties break on doc_id.  Top-10 per query is a
    window-rank filter — one shuffle on qid, never a global sort."""
    from pyspark.sql import Window

    k1, b = 1.2, 0.75
    qterms = spark.createDataFrame(
        [(qid, t) for qid, terms in _BM25_QUERY_TERMS for t in terms],
        "qid int, tok string")
    docs = T(spark, d, "documents").select(
        "doc_id", F.split("text", " ").alias("w"))
    dl = docs.select("doc_id", F.size("w").alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    # the query-term postings aggregate is BOUNDED (docs x |terms| max,
    # keep-list filtered) and feeds both the df aggregate and the score
    # join — without the checkpoint each consumer re-ran the corpus
    # explode (guide §2.4/§5, the r17 fan-out class).  The keep-list
    # discipline itself lives in _bm25_postings so the plan pin
    # (tests/test_plans.py) inspects the exact production subtree even
    # though the checkpoint hides it from the final explain.
    tfq = _bm25_postings(spark, d).localCheckpoint(eager=True)
    dfq = tfq.groupBy("tok").agg(F.count("*").alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1.0)
    term_score = (idf * F.col("tf") * (k1 + 1)
                  / (F.col("tf") + k1 * ((1 - b) + b * F.col("dl")
                                         / F.col("avgdl"))))
    # no hint on dfq: it is bounded by construction (one row per query
    # term) but its subtree scans the corpus, and the repo's hint policy
    # only hints relations whose boundedness is provable from the plan —
    # AQE broadcasts the 9-row aggregate at runtime anyway
    scored = (tfq.join(F.broadcast(qterms), "tok")
              .join(dfq, "tok")
              .join(dl, "doc_id")
              .join(F.broadcast(stats))
              .withColumn("sfix",
                          F.round(term_score * 1000000).cast("bigint"))
              .groupBy("qid", "doc_id").agg(F.sum("sfix").alias("sf")))
    w = Window.partitionBy("qid").orderBy(F.col("sf").desc(), F.col("doc_id"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 10)
            .select("qid", "doc_id",
                    F.round(F.col("sf").cast("double") / 1000000, 4)
                    .alias("bm25")))


@register(
    "llm_repetition_filter",
    oracle="""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ), g2 AS (
        SELECT doc_id, w[i] || ' ' || w[i+1] AS gram
        FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
              FROM tok)
    ), g3 AS (
        SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
        FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
              FROM tok)
    ), c2 AS (
        SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY 1, 2
    ), c3 AS (
        SELECT doc_id, gram, count(*) AS c FROM g3 GROUP BY 1, 2
    ), a2 AS (
        SELECT doc_id, max(c) AS top2, sum(c) AS tot2 FROM c2 GROUP BY 1
    ), a3 AS (
        SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup3,
               sum(c) AS tot3
        FROM c3 GROUP BY 1
    )
    SELECT doc_id,
           round(top2 * 1.0 / tot2, 4) AS top2_frac,
           round(dup3 * 1.0 / tot3, 4) AS dup3_frac,
           CASE WHEN round(top2 * 1.0 / tot2, 4) > 0.05
                  OR round(dup3 * 1.0 / tot3, 4) > 0.02
                THEN 'drop' ELSE 'keep' END AS repetition_route
    FROM a2 JOIN a3 USING (doc_id)
    """,
)
def llm_repetition_filter(spark, d):
    """Gopher-style repetition rules (Rae et al. 2021 §A1.1, the
    duplicate-n-gram family): per document, the fraction of word
    2-grams claimed by the single most frequent 2-gram (boilerplate /
    template pages repeat one phrase) and the fraction of word 3-gram
    occurrences whose 3-gram appears more than once (looping generator
    output).  Docs breaching either cap are routed 'drop' — the
    repetition pre-filter a pretraining pipeline runs alongside the
    length/stopword rules in llm_quality_gopher.

    Scale shape: both n-gram sizes ride ONE explode (a union of tagged
    gram arrays built in-row with higher-order functions), then one
    shuffle keyed by (doc_id, n, gram) for the occurrence counts and a
    partial-aggregated rollup to per-doc metrics — cost is O(tokens)
    per doc with 32-byte-bounded shuffle rows (grams are word triples),
    never a self-join.  Fractions compare as identically-rounded
    doubles of small-integer ratios, so the route is engine-stable."""
    docs = T(spark, d, "documents").select(
        "doc_id", F.split("text", " ").alias("w"))
    docs = docs.filter(F.size("w") >= 3)

    def gram_structs(n):
        return F.transform(
            F.sequence(F.lit(0), F.size("w") - n),
            lambda i: F.struct(
                F.lit(n).alias("n"),
                F.concat_ws(" ", *[F.element_at(F.col("w"), i + k)
                                   for k in range(1, n + 1)]).alias("gram")))

    exploded = docs.select(
        "doc_id",
        F.explode(F.concat(gram_structs(2), gram_structs(3))).alias("g"))
    cnt = (exploded.groupBy("doc_id", "g.n", "g.gram")
           .agg(F.count("*").alias("c")))
    per_doc = cnt.groupBy("doc_id").agg(
        F.max(F.when(F.col("n") == 2, F.col("c"))).alias("top2"),
        F.sum(F.when(F.col("n") == 2, F.col("c"))).alias("tot2"),
        F.sum(F.when((F.col("n") == 3) & (F.col("c") > 1), F.col("c"))
              .otherwise(F.when(F.col("n") == 3, F.lit(0)))).alias("dup3"),
        F.sum(F.when(F.col("n") == 3, F.col("c"))).alias("tot3"))
    top2_frac = F.round(F.col("top2") * 1.0 / F.col("tot2"), 4)
    dup3_frac = F.round(F.col("dup3") * 1.0 / F.col("tot3"), 4)
    return per_doc.select(
        "doc_id",
        top2_frac.alias("top2_frac"),
        dup3_frac.alias("dup3_frac"),
        F.when((top2_frac > 0.05) | (dup3_frac > 0.02), "drop")
         .otherwise("keep").alias("repetition_route"))


@register(
    "llm_bpe_pair_counts",
    oracle="""
    WITH words AS (
        SELECT w, count(*) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        WHERE len(w) >= 2
        GROUP BY w
    ), pairs AS (
        SELECT substr(w, i, 2) AS pair, freq
        FROM (SELECT w, freq, unnest(generate_series(1, len(w) - 1)) AS i
              FROM words)
    )
    SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count
    FROM pairs GROUP BY pair
    ORDER BY pair_count DESC, pair
    LIMIT 20
    """,
)
def llm_bpe_pair_counts(spark, d):
    """One BPE-training iteration (Sennrich et al. 2016): corpus-wide
    counts of adjacent symbol pairs, the argmax of which becomes the
    next merge.  The classic two-level shape: aggregate the corpus to a
    WORD-TYPE frequency table first (vocabulary is orders of magnitude
    smaller than the token stream), then explode each distinct word
    into its adjacent character pairs weighted by the word's frequency
    — so the pair expansion runs over the vocab, not the corpus.  Top
    pairs come back through TakeOrderedAndProject (distributed top-k,
    never a global sort) under a total order (count desc, pair) that
    makes the reported set deterministic across engines."""
    words = (T(spark, d, "documents")
             .select(F.explode(F.split("text", " ")).alias("w"))
             .filter(F.length("w") >= 2)
             .groupBy("w").agg(F.count("*").alias("freq")))
    pairs = words.select(
        F.explode(F.transform(
            F.sequence(F.lit(1), F.length("w") - 1),
            lambda i: F.substr(F.col("w"), i, F.lit(2)))).alias("pair"),
        "freq")
    return (pairs.groupBy("pair").agg(F.sum("freq").alias("pair_count"))
            .orderBy(F.desc("pair_count"), "pair").limit(20))


@register(
    "llm_dedup_cross_source",
    oracle="""
    WITH d AS (
        SELECT doc_id, source,
               md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS h,
               TRY_CAST(substr(source, 4) AS BIGINT) AS prio
        FROM documents
        WHERE text IS NOT NULL
    ), r AS (
        SELECT doc_id, source, h,
               count(*) OVER (PARTITION BY h) AS n_docs,
               row_number() OVER (PARTITION BY h
                                  ORDER BY prio ASC NULLS LAST, doc_id) AS rn
        FROM d
    ), s AS (SELECT h, count(DISTINCT source) AS ns FROM d GROUP BY h)
    SELECT r.doc_id AS keep_doc_id, r.source AS keep_source,
           CAST(n_docs AS BIGINT) AS n_docs, CAST(ns AS BIGINT) AS n_sources
    FROM r JOIN s USING (h) WHERE rn = 1 AND n_docs > 1
    """,
)
def llm_dedup_cross_source(spark, d):
    """Cross-source canonical pick (the CCNet/C4 multi-crawl pattern):
    documents sharing a content fingerprint — here the md5 of the
    first-5-word prefix, the cheap family key an ingest pipeline dedups
    on before the expensive near-dup pass — collapse to ONE canonical
    copy chosen by source priority (lower src-number wins), doc_id as
    the final tiebreak.  Reports each surviving copy with its family
    size and how many distinct sources carried it.

    Scale shape: one shuffle on the 32-byte digest; the pick is a
    row_number window and the family stats ride the same partitioning —
    never a self-join, and raw text never shuffles (the digest is
    computed in the scan-side map).

    NULL text is filtered on BOTH sides before hashing: Spark's
    concat_ws over a NULL split array yields '' (hashing every NULL-text
    doc into the md5('') family) while DuckDB's array_to_string returns
    NULL — dedup families must come from real content only."""
    from pyspark.sql import Window

    docs = T(spark, d, "documents").filter(F.col("text").isNotNull()).select(
        "doc_id", "source",
        F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 5))
              .cast("binary")).alias("h"),
        # try_cast: a source id that is not numeric (or NULL) must rank
        # LAST, not crash the ANSI cast
        F.expr("try_cast(substring(source, 4, 10) AS BIGINT)").alias("prio"))
    w = Window.partitionBy("h")
    ranked = (docs
              .withColumn("n_docs", F.count("*").over(w))
              .withColumn("n_sources",
                          F.size(F.collect_set("source").over(w)).cast("bigint"))
              .withColumn("rn", F.row_number().over(
                  w.orderBy(F.col("prio").asc_nulls_last(), "doc_id"))))
    return (ranked.filter((F.col("rn") == 1) & (F.col("n_docs") > 1))
            .select(F.col("doc_id").alias("keep_doc_id"),
                    F.col("source").alias("keep_source"),
                    "n_docs", "n_sources"))


@register(
    "llm_bigram_logprob",
    oracle="""
    WITH tok AS (
        SELECT doc_id, w, i, w[i] AS cur, w[i+1] AS nxt
        FROM (SELECT doc_id, string_split(text, ' ') AS w,
                     unnest(generate_series(1, len(string_split(text, ' ')) - 1)) AS i
              FROM documents
              WHERE len(string_split(text, ' ')) >= 2)
    ), big AS (
        SELECT cur, nxt, count(*) AS c2 FROM tok GROUP BY cur, nxt
    ), uni AS (
        SELECT cur, sum(c2) AS c1 FROM big GROUP BY cur
    ), v AS (SELECT count(DISTINCT nxt) AS vs FROM big)
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(CAST(round(ln((c2 + 1.0) / (c1 + vs)) * 1000000)
                         AS BIGINT)) AS BIGINT) AS logprob_fp6
    FROM tok JOIN big USING (cur, nxt) JOIN uni USING (cur)
    CROSS JOIN v
    GROUP BY doc_id
    """,
)
def llm_bigram_logprob(spark, d):
    """Bigram language-model scoring with add-one smoothing — the next
    step up from llm_unigram_logprob's perplexity proxy: per document,
    the total log P(w_i | w_{i-1}) of its adjacent pairs under the
    corpus's own bigram counts.  The per-pair log-probs are doubles both
    engines compute identically (same counts, same ln), so the per-doc
    total is accumulated as FIXED-POINT micro-nats (round(lp*1e6) summed
    as BIGINT) — order-independent and exact across engines, the
    discipline llm_bm25_topk introduced, strictly stronger than
    unigram's rounded-average + fixture-guard approach.  Shapes: bigram
    counts shuffle on the pair, the conditional join shuffles on the
    predecessor token; neither side broadcasts (vocabulary scales with
    the corpus); the smoothing vocab size is a 1-row broadcast."""
    docs = (T(spark, d, "documents")
            .select("doc_id", F.split("text", " ").alias("w"))
            .filter(F.size("w") >= 2))
    tok = docs.select(
        "doc_id",
        F.explode(F.transform(
            F.sequence(F.lit(1), F.size("w") - 1),
            lambda i: F.struct(
                F.element_at(F.col("w"), i).alias("cur"),
                F.element_at(F.col("w"), i + 1).alias("nxt")))).alias("p")
    ).select("doc_id", "p.cur", "p.nxt")
    # bigram-type counts feed the predecessor aggregate, the vocab
    # count AND the scoring join (3 consumers; guide §2.4/§5 — the
    # kneser-ney fix, same shape)
    big = (tok.groupBy("cur", "nxt").agg(F.count("*").alias("c2"))
           .localCheckpoint(eager=True))
    uni = big.groupBy("cur").agg(F.sum("c2").alias("c1"))
    v = big.agg(F.countDistinct("nxt").alias("vs"))
    lp = F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("vs")))
    return (tok.join(big, ["cur", "nxt"]).join(uni, "cur")
            .join(F.broadcast(v))
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_bigrams"),
                 F.sum(F.round(lp * 1e6).cast("bigint")).alias("logprob_fp6")))


@register(
    "llm_dedup_exact_normalized",
    oracle="""
    WITH norm AS (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))
                   AS h
        FROM documents WHERE text IS NOT NULL
    )
    SELECT CAST(min(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM norm GROUP BY h
    """,
)
def llm_dedup_exact_normalized(spark, d):
    """Exact dedup AFTER canonicalization (the C4 recipe): lowercase,
    strip everything but [a-z0-9 ], trim — so case and punctuation
    variants of the same content collapse into one group.  Same
    32-byte-digest shuffle discipline as llm_dedup_exact; the normalize
    step is a codegen string map at the scan.  regexp semantics pinned
    cross-engine by the oracle (DuckDB needs the 'g' flag for
    replace-all; Spark's regexp_replace is always global)."""
    docs = T(spark, d, "documents").filter(F.col("text").isNotNull())
    h = F.md5(F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""))
              .cast("binary"))
    return (docs.groupBy(h.alias("h"))
            .agg(F.min("doc_id").alias("keep_doc_id"),
                 F.count("*").alias("n_copies"))
            .drop("h"))


@register(
    "llm_line_dedup",
    oracle="""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS w,
               len(string_split(text, ' ')) AS n
        FROM documents WHERE text IS NOT NULL
    ), l AS (
        SELECT doc_id,
               array_to_string(list_slice(w, s, least(s + 2, n)), ' ')
                   AS line,
               least(s + 2, n) - s + 1 AS line_tokens
        FROM (SELECT doc_id, w, n,
                     unnest(generate_series(1, n, 3)) AS s FROM d)
    ), b AS (
        SELECT line FROM l GROUP BY line
        HAVING count(DISTINCT doc_id) >= 3
    )
    SELECT l.doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(b.line) AS BIGINT) AS n_boiler_lines,
           CAST(coalesce(sum(CASE WHEN b.line IS NULL
                                  THEN l.line_tokens END), 0) AS BIGINT)
               AS n_kept_tokens,
           round(CAST(coalesce(sum(CASE WHEN b.line IS NULL
                                        THEN l.line_tokens END), 0)
                      AS DOUBLE) / sum(l.line_tokens), 4) AS kept_ratio
    FROM l LEFT JOIN b USING (line)
    GROUP BY l.doc_id
    """,
)
def llm_line_dedup(spark, d):
    """Cross-document LINE removal — the C4/CCNet cleaning rule that is
    NOT document dedup: any line occurring verbatim in >= 3 distinct
    documents is boilerplate (headers, navigation, license banners) and
    is dropped from every document that carries it, while the documents
    themselves survive.  Output is the per-document cleansing report
    (line count, boilerplate count, kept tokens, kept ratio) a pipeline
    thresholds on.  The fixture corpus has no newlines, so "lines" are
    non-overlapping 3-token windows — the windowing is the fixture
    adaptation; the cross-doc frequency rule is the real semantics.

    Scale shape: lines shuffle once on their 32-byte md5 (raw line text
    never shuffles past the first aggregate), the boilerplate set is
    corpus-sized so it carries NO broadcast hint (at fixture scale the
    planner's size-based call still broadcasts it; at 100 TB its stats
    exceed the threshold and the join reverts to shuffle-hash), and
    the per-doc report is one more partial-aggregated shuffle.  NULL
    text is excluded on both sides (concat_ws vs array_to_string NULL
    divergence, the llm_dedup_cross_source lesson)."""
    docs = (T(spark, d, "documents").filter(F.col("text").isNotNull())
            .select("doc_id", F.split("text", " ").alias("w")))
    docs = docs.withColumn("n", F.size("w"))
    lines = docs.select(
        "doc_id",
        F.explode(F.transform(
            F.sequence(F.lit(1), F.col("n"), F.lit(3)),
            lambda s: F.struct(
                F.md5(F.concat_ws(" ", F.slice("w", s, F.lit(3)))
                      .cast("binary")).alias("lh"),
                (F.least(s + 2, F.col("n")) - s + F.lit(1))
                 .cast("bigint").alias("line_tokens")))).alias("ln")) \
        .select("doc_id", "ln.lh", "ln.line_tokens")
    boiler = (lines.groupBy("lh")
              .agg(F.countDistinct("doc_id").alias("nd"))
              .filter(F.col("nd") >= 3)
              .select("lh", F.lit(True).alias("is_boiler")))
    return (lines.join(boiler, "lh", "left")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_lines"),
                 F.count("is_boiler").alias("n_boiler_lines"),
                 F.coalesce(F.sum(F.when(F.col("is_boiler").isNull(),
                                         F.col("line_tokens"))), F.lit(0))
                  .cast("bigint").alias("n_kept_tokens"),
                 F.round(
                     F.coalesce(F.sum(F.when(F.col("is_boiler").isNull(),
                                             F.col("line_tokens"))),
                                F.lit(0)).cast("double")
                     / F.sum("line_tokens"), 4).alias("kept_ratio")))


@register(
    "llm_dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE {_CLUSTER_EDGE_CTE},
    walk(node, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT b.dst, w.lbl FROM walk w JOIN bidir b ON b.src = w.node
        WHERE w.lbl < b.dst
    ),
    clusters AS (
        SELECT node AS doc_id, min(lbl) AS canonical_id
        FROM walk GROUP BY node
    ),
    q AS (
        SELECT doc_id,
               CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')) AS ttr,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    ranked AS (
        SELECT c.canonical_id, c.doc_id, q.ttr, q.n_tokens,
               count(*) OVER (PARTITION BY c.canonical_id) AS n_members,
               row_number() OVER (PARTITION BY c.canonical_id
                                  ORDER BY q.ttr DESC, q.n_tokens DESC,
                                           c.doc_id ASC) AS rn
        FROM clusters c JOIN q USING (doc_id)
    )
    SELECT canonical_id, doc_id AS keep_doc_id,
           CAST(n_members AS BIGINT) AS n_members,
           round(ttr, 4) AS best_ttr
    FROM ranked WHERE rn = 1 AND n_members > 1
    """,
)
def llm_dedup_keep_best(spark, d):
    """Canonical selection by QUALITY, not by id — the CCNet refinement
    of cluster dedup: within each near-dup cluster, keep the member with
    the best lexical diversity (type/token ratio; ties: more tokens,
    then lowest doc_id) instead of blindly keeping the minimum id.  A
    composition of two declared operators — llm_dedup_clusters' label
    frame joined to the quality features — demonstrating that the
    engine's pipeline steps compose into the actual production decision.

    The pick orders by an UNROUNDED double both engines derive from the
    same exact integers (distinct-count / count), so the argmax is
    engine-stable; only the REPORTED ttr is rounded.  Scale shape: the
    cluster labels are O(docs), the quality features are a narrow map,
    and the pick is one window over the cluster partitioning."""
    from pyspark.sql import Window

    clusters = llm_dedup_clusters(spark, d).select("doc_id", "canonical_id")
    docs = T(spark, d, "documents").select(
        "doc_id", F.split("text", " ").alias("w"))
    q = docs.select(
        "doc_id",
        (F.size(F.array_distinct("w")).cast("double") / F.size("w"))
        .alias("ttr"),
        F.size("w").cast("bigint").alias("n_tokens"))
    w = Window.partitionBy("canonical_id")
    ranked = (clusters.join(q, "doc_id")
              .withColumn("n_members", F.count("*").over(w))
              .withColumn("rn", F.row_number().over(
                  w.orderBy(F.col("ttr").desc(), F.col("n_tokens").desc(),
                            F.col("doc_id").asc()))))
    return (ranked.filter((F.col("rn") == 1) & (F.col("n_members") > 1))
            .select("canonical_id", F.col("doc_id").alias("keep_doc_id"),
                    "n_members", F.round("ttr", 4).alias("best_ttr")))


_SUBSTR_K = 8  # span grain: 8-token windows (Lee et al. use 50 BPE tokens)

_SUBSTR_ORACLE = f"""
    WITH f AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
        WHERE len(string_split(text, ' ')) >= {_SUBSTR_K}
    ), g AS (
        SELECT doc_id, i - 1 AS start,
               md5(array_to_string(w[i:i+{_SUBSTR_K - 1}], ' ')) AS gh
        FROM f, unnest(generate_series(1, len(w) - {_SUBSTR_K - 1})) AS t(i)
    ), rep AS (
        SELECT gh FROM g GROUP BY gh HAVING count(DISTINCT doc_id) >= 2
    ), cov AS (
        SELECT g.doc_id, g.start, g.start + {_SUBSTR_K - 1} AS e
        FROM g JOIN rep USING (gh)
    ), marked AS (
        SELECT doc_id, start, e,
               CASE WHEN start <= max(e) OVER (
                        PARTITION BY doc_id ORDER BY start
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 0 ELSE 1 END AS new_island
        FROM cov
    ), isl AS (
        SELECT doc_id, start, e,
               sum(new_island) OVER (PARTITION BY doc_id ORDER BY start
                                     ROWS UNBOUNDED PRECEDING) AS island
        FROM marked
    )
    SELECT doc_id, CAST(min(start) AS BIGINT) AS span_start,
           CAST(max(e) AS BIGINT) AS span_end,
           CAST(max(e) - min(start) + 1 AS BIGINT) AS span_len,
           CAST(count(*) AS BIGINT) AS n_grams
    FROM isl GROUP BY doc_id, island
"""


@register("llm_substring_dedup", oracle=_SUBSTR_ORACLE)
def llm_substring_dedup(spark, d):
    """Cross-document repeated-substring detection (the span-level dedup
    of Lee et al., "Deduplicating Training Data Makes Language Models
    Better", simplified from suffix arrays to fixed K-gram grain): every
    8-token window occurring in >= 2 distinct documents marks its span
    covered, and per document the covered windows merge into MAXIMAL
    repeated regions (gaps-and-islands over a running max-end window) —
    the (doc_id, span_start, span_len) report a curation pass would cut
    or down-weight.  Within-doc repetition is deliberately out of scope
    (that is llm_repetition_filter's job).

    100 TB shape: windows shuffle as md5 digests, never raw text (at
    scale xxhash64 halves the key again — md5 here because the oracle
    must replay it); there is NO pair expansion anywhere — cost is
    O(total occurrences of repeated windows), linear in corpus size, so
    no hot-gram cap is needed (contrast the pairwise dedup family); the
    island merge rides one (doc_id, start) window partitioning."""
    from pyspark.sql import Window

    K = _SUBSTR_K
    docs = (T(spark, d, "documents")
            .select("doc_id", F.split("text", " ").alias("w"))
            .filter(F.size("w") >= K))
    grams = docs.select(
        "doc_id",
        F.posexplode(F.transform(
            F.sequence(F.lit(1), F.size("w") - (K - 1)),
            lambda i: F.md5(F.concat_ws(
                " ", F.slice(F.col("w"), i, K)).cast("binary")),
        )).alias("start", "gh"))
    rep = (grams.groupBy("gh")
           .agg(F.count_distinct("doc_id").alias("nd"))
           .filter(F.col("nd") >= 2)
           .select("gh"))
    # posexplode's pos is the 0-based token offset already (the lambda's
    # 1-based slice index is internal to the transform)
    cov = (grams.join(rep, "gh")
           .select("doc_id", "start",
                   (F.col("start") + (K - 1)).alias("e")))
    w_run = Window.partitionBy("doc_id").orderBy("start")
    prev_end = F.max("e").over(
        w_run.rowsBetween(Window.unboundedPreceding, -1))
    marked = cov.withColumn(
        "new_island",
        F.when(F.col("start") <= prev_end, 0).otherwise(1))
    isl = marked.withColumn(
        "island", F.sum("new_island").over(
            w_run.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    return (isl.groupBy("doc_id", "island")
            .agg(F.min("start").alias("span_start"),
                 F.max("e").alias("span_end"),
                 (F.max("e") - F.min("start") + 1).alias("span_len"),
                 F.count("*").alias("n_grams"))
            .select("doc_id", "span_start", "span_end", "span_len",
                    "n_grams"))


@register(
    "llm_perplexity_bucket",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ), tf AS (
        SELECT tok, CAST(count(*) AS DOUBLE) AS cnt FROM tok GROUP BY tok
    ), tot AS (SELECT sum(cnt) AS n FROM tf),
    scored AS (
        SELECT doc_id, ROUND(avg(ln(cnt / n)), 4) AS avg_logprob
        FROM tok JOIN tf USING (tok) CROSS JOIN tot
        GROUP BY doc_id
    ), vals AS (
        SELECT avg_logprob AS v, count(*) AS c FROM scored GROUP BY 1
    ), td AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM scored),
    cum AS (
        SELECT v, sum(c) OVER (ORDER BY v DESC
                               ROWS UNBOUNDED PRECEDING) AS cum
        FROM vals
    ), cuts AS (
        SELECT max(CASE WHEN 3 * cum >= nd THEN v END) AS c_head,
               max(CASE WHEN 3 * cum >= 2 * nd THEN v END) AS c_mid
        FROM cum CROSS JOIN td
    )
    SELECT doc_id, avg_logprob,
           CASE WHEN avg_logprob >= c_head THEN 'head'
                WHEN avg_logprob >= c_mid THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM scored CROSS JOIN cuts
    """,
)
def llm_perplexity_bucket(spark, d):
    """CCNet-style perplexity bucketing: rank every document by its
    unigram mean log-probability (the cheap perplexity proxy of
    llm_unigram_logprob) and route it to head / middle / tail terciles —
    the corpus partitioning CCNet feeds to downstream samplers (head =
    most fluent third).  Tercile cutoffs are DISCRETE data values
    picked by pure integer arithmetic (largest score v with
    3*count(score >= v) >= n, resp. >= 2n) over the GROUPED distinct
    scores — not interpolated percentiles, whose last-ULP engine
    differences flipped an entire tie plateau between buckets at
    sf0.1 (quantile_cont's interpolated cutoff landed a hair on
    different sides of a -3.4015 plateau per engine), and not a
    global ntile() window, which both funnels the corpus through one
    un-partitioned window task AND splits tied scores across buckets
    nondeterministically.  Ties stay coherent by construction: every
    doc at the cutoff value lands in the same bucket in any engine.
    Scale shape: the only window runs over DISTINCT 4dp-rounded
    scores (a bounded grid, not the corpus); routing is a broadcast
    of two scalars + CASE at full parallelism."""
    from pyspark.sql import Window

    tok = (T(spark, d, "documents")
           .select("doc_id", F.explode(F.split("text", " ")).alias("tok")))
    tf = tok.groupBy("tok").agg(F.count("*").cast("double").alias("cnt"))
    total = tf.agg(F.sum("cnt").alias("n"))
    # the per-doc score frame (doc_id, avg_logprob — O(docs) narrow)
    # feeds the distinct-score grid, the doc count AND the final
    # routing join; each re-ran the corpus explode + tf join without
    # the checkpoint (guide §2.4/§5)
    scored = (tok.join(tf, "tok")
              .join(F.broadcast(total))
              .groupBy("doc_id")
              .agg(F.round(F.avg(F.log(F.col("cnt") / F.col("n"))), 4)
                   .alias("avg_logprob"))
              .localCheckpoint(eager=True))
    vals = scored.groupBy(F.col("avg_logprob").alias("v")).agg(
        F.count("*").alias("c"))
    nd = scored.agg(F.count("*").alias("nd"))
    cum = vals.withColumn(
        "cum", F.sum("c").over(
            Window.orderBy(F.col("v").desc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    cuts = (cum.join(F.broadcast(nd))
            .agg(F.max(F.when(3 * F.col("cum") >= F.col("nd"), F.col("v")))
                 .alias("c_head"),
                 F.max(F.when(3 * F.col("cum") >= 2 * F.col("nd"),
                              F.col("v"))).alias("c_mid")))
    return (scored.join(F.broadcast(cuts))
            .select("doc_id", "avg_logprob",
                    F.when(F.col("avg_logprob") >= F.col("c_head"), "head")
                    .when(F.col("avg_logprob") >= F.col("c_mid"), "middle")
                    .otherwise("tail").alias("ppl_bucket")))


_FUNNEL_ORACLE = """
    WITH nz AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE embedding IS NOT NULL
          AND len(list_filter(embedding, x -> x <> 0)) > 0
          AND len(list_filter(embedding[1:16], x -> x <> 0)) > 0
    ),
    q AS (SELECT vec_id AS qid, embedding AS qe FROM nz WHERE vec_id < 5),
    c AS (SELECT vec_id AS cid, embedding AS ce FROM nz),
    pos16 AS (
        SELECT qid, cid, qe, ce, unnest(generate_series(1, 16)) AS i
        FROM q, c WHERE qid <> cid
    ), d16 AS (
        SELECT qid, cid,
               sum(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dot,
               sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS qq,
               sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS cc
        FROM pos16 GROUP BY qid, cid
    ), short AS (
        SELECT qid, cid FROM (
            SELECT qid, cid,
                   row_number() OVER (
                       PARTITION BY qid
                       ORDER BY round(dot / (sqrt(qq) * sqrt(cc)), 4) + 0
                                DESC, cid ASC) AS rn
            FROM d16
        ) WHERE rn <= 50
    ), pos AS (
        SELECT s.qid, s.cid, q.embedding AS qe, c2.embedding AS ce,
               unnest(generate_series(1, 64)) AS i
        FROM short s JOIN nz q ON q.vec_id = s.qid
                     JOIN nz c2 ON c2.vec_id = s.cid
    ), dots AS (
        SELECT qid, cid,
               sum(CAST(qe[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS dot,
               sum(CAST(qe[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)) AS qq,
               sum(CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)) AS cc
        FROM pos GROUP BY qid, cid
    ), sims AS (
        SELECT qid, cid, round(dot / (sqrt(qq) * sqrt(cc)), 4) + 0 AS cosine
        FROM dots
    )
    SELECT qid, cid, cosine FROM (
        SELECT qid, cid, cosine,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY cosine DESC, cid ASC) AS rn
        FROM sims
    ) WHERE rn <= 10
"""


@register("llm_similarity_funnel", oracle=_FUNNEL_ORACLE)
def llm_similarity_funnel(spark, d):
    """Two-stage retrieval funnel (the Matryoshka-representation
    pattern): a CHEAP first pass ranks candidates by cosine on the
    first 16 embedding dimensions only — 4x less arithmetic and, in a
    real store, 4x less I/O via column pruning of a dims-split layout —
    keeping a top-50 shortlist per query; the full 64-dim cosine then
    re-ranks only the shortlist for the final top-10.  Both stages are
    deterministic (4dp rounding + vec_id tiebreak, the topk
    discipline), so the oracle replays the funnel exactly — including
    which candidates survive the stage-1 cut.

    100 TB shape: stage 1 is the only corpus-wide pass and touches a
    16-dim prefix per vector; stage 2 touches 50 vectors per query.
    Compare llm_similarity_lsh (bucket prefilter, sublinear candidates)
    — the funnel trades a full-but-cheaper linear pass for exact
    stage-1 recall.  Zero-prefix vectors are excluded on both sides
    (prefix cosine undefined), as zero-norm vectors are for topk."""
    from pyspark.sql import Window

    def norm_of(col):
        return F.sqrt(F.aggregate(F.transform(col, lambda x: x * x),
                                  F.lit(0.0), lambda a, x: a + x))

    def dot_of(a, b):
        return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                           F.lit(0.0), lambda a, x: a + x)

    emb = (T(spark, d, "embeddings")
           .select("vec_id",
                   F.col("embedding").cast("array<double>").alias("e"))
           .filter(F.col("e").isNotNull())
           .withColumn("e16", F.slice("e", 1, 16))
           .withColumn("n64", norm_of(F.col("e")))
           .withColumn("n16", norm_of(F.col("e16")))
           .filter((F.col("n64") > 0) & (F.col("n16") > 0)))
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe"),
        F.col("e16").alias("qe16"), F.col("n64").alias("qn64"),
        F.col("n16").alias("qn16"))
    c = emb.select(F.col("vec_id").alias("cid"), F.col("e").alias("ce"),
                   F.col("e16").alias("ce16"), F.col("n64").alias("cn64"),
                   F.col("n16").alias("cn16"))
    stage1 = (F.broadcast(q).crossJoin(c)
              .filter(F.col("qid") != F.col("cid"))
              .withColumn("cos16", F.round(
                  dot_of(F.col("qe16"), F.col("ce16"))
                  / (F.col("qn16") * F.col("cn16")), 4) + F.lit(0.0)))
    w1 = Window.partitionBy("qid").orderBy(F.col("cos16").desc(),
                                           F.col("cid").asc())
    short = (stage1.withColumn("rn", F.row_number().over(w1))
             .filter(F.col("rn") <= 50)
             .select("qid", "cid", "qe", "ce", "qn64", "cn64"))
    sims = short.select(
        "qid", "cid",
        (F.round(dot_of(F.col("qe"), F.col("ce"))
                 / (F.col("qn64") * F.col("cn64")), 4)
         + F.lit(0.0)).alias("cosine"))
    w2 = Window.partitionBy("qid").orderBy(F.col("cosine").desc(),
                                           F.col("cid").asc())
    return (sims.withColumn("rn", F.row_number().over(w2))
            .filter(F.col("rn") <= 10).select("qid", "cid", "cosine"))


# --- round-8 pipeline additions ---------------------------------------

def _duck_hex8(expr: str) -> str:
    """DuckDB: the same 32-bit integer Spark's
    ``conv(substr(md5(x),1,8),16,10)`` yields, as a positional
    hex-digit sum over ``expr``'s md5 (the proven llm_train_test_split
    pattern)."""
    return "(" + " + ".join(
        f"(strpos('0123456789abcdef', substr(md5({expr}),{i},1))-1)"
        f"*{16 ** (8 - i)}" for i in range(1, 9)) + ")"


@register(
    "llm_quality_classifier",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, unnest(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) AS tok
        FROM documents WHERE text IS NOT NULL
    ), w AS (
        SELECT doc_id, ({_duck_hex8('tok')} % 2001 - 1000) AS wt FROM t
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(wt) AS DOUBLE) / (1000.0 * count(*)) AS score,
           CASE WHEN sum(wt) >= 0 THEN 'keep' ELSE 'drop' END AS label
    FROM w GROUP BY doc_id
    """,
)
def llm_quality_classifier(spark, d):
    """Model-based quality filter plumbing — the fastText-style linear
    scorer every pretraining pipeline runs (CCNet / DCLM): each token
    hashes to a FIXED weight in [-1, 1] (md5-derived, standing in for
    trained weights) and the doc's score is the mean weight; docs score
    >= 0 keep.  The Spark side never shuffles: tokens hash and sum
    INSIDE the projection (transform + aggregate over the split array,
    whole-stage codegen), so a 100 TB corpus scores in one map pass —
    the shape that matters, since a real classifier just swaps the
    weight lookup for a broadcast table or an Arrow-batched model UDF.
    Weight sums stay INTEGER (order-independent — a float sum would be
    reassociation-sensitive across engines); the single final division
    is bit-identical."""
    docs = T(spark, d, "documents").filter(F.col("text").isNotNull())
    # ASCII-only case fold (translate, not lower): Java and DuckDB
    # disagree on Unicode casing edges ('I\u0307' vs 'i' for U+0130,
    # SS for \u00df...), so full lower() is not an engine-stable
    # feature key (SURVEY.md \u00a75.2; caught by the unicode sweep)
    toks = F.split(F.translate("text", "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"), " ")
    wt = lambda tok: (F.conv(F.substring(F.md5(tok), 1, 8), 16, 10)
                      .cast("bigint") % 2001 - 1000)
    s = F.aggregate(toks, F.lit(0).cast("bigint"),
                    lambda acc, tok: acc + wt(tok))
    n = F.size(toks)
    return docs.select(
        "doc_id", n.cast("bigint").alias("n_tokens"),
        (s.cast("double") / (1000.0 * n)).alias("score"),
        F.when(s >= 0, "keep").otherwise("drop").alias("label"))


@register(
    "llm_dataset_card",
    oracle="""
    SELECT CASE WHEN GROUPING(source) = 1 THEN '(all)'
                ELSE coalesce(source, '(none)') END AS src,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(coalesce(len(string_split(text, ' ')), 0)) AS BIGINT)
               AS n_tokens,
           CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           round(CAST(count(*) FILTER (WHERE text IS NOT NULL)
                      - count(DISTINCT md5(text)) AS DOUBLE)
                 / count(*), 4) AS dup_rate
    FROM documents
    GROUP BY GROUPING SETS ((source), ())
    HAVING count(*) > 0
    """,
)
def llm_dataset_card(spark, d):
    """Dataset datasheet — the per-source summary block a training-data
    release ships (docs, token volume, distinct-text count, language
    spread, exact-dup rate), plus a grand-total row via grouping sets.
    ONE shuffle keyed on source; the dup counter hashes text to a
    16-byte digest BEFORE the distinct-aggregate shuffle, so corpus
    text never moves — the same digest-not-text discipline as the dedup
    family.  NULL sources group as their own '(none)' row (distinct
    from the grouping-set total, disambiguated by GROUPING())."""
    docs = T(spark, d, "documents")
    n_tok = F.coalesce(F.size(F.split("text", " ")), F.lit(0))
    agg = (docs.groupingSets([["source"], []], "source")
           .agg(F.count("*").alias("n_docs"),
                F.sum(n_tok).cast("bigint").alias("n_tokens"),
                F.countDistinct(F.md5("text")).alias("n_distinct_texts"),
                F.countDistinct("lang").alias("n_langs"),
                F.round((F.count("text") - F.countDistinct(F.md5("text")))
                        .cast("double") / F.count("*"), 4).alias("dup_rate"),
                F.grouping("source").alias("g")))
    # n_docs > 0 on BOTH sides: a no-op on any non-empty corpus, but it
    # pins the one cross-engine divergence grouping sets carry — DuckDB
    # emits the () grand-total row over an EMPTY relation, Spark does
    # not (SURVEY.md §5.2; same pin as the grouping-set family).
    return agg.filter(F.col("n_docs") > 0).select(
        F.when(F.col("g") == 1, "(all)")
        .otherwise(F.coalesce("source", F.lit("(none)"))).alias("src"),
        "n_docs", "n_tokens", "n_distinct_texts", "n_langs", "dup_rate")


@register(
    "events_count_min_sketch",
    oracle=f"""
    WITH rows_ AS (SELECT unnest(generate_series(0, 3)) AS row_id),
    cells AS (
        SELECT r.row_id,
               {_duck_hex8("CAST(r.row_id AS VARCHAR) || ':' || CAST(e.user_id AS VARCHAR)")}
                   % 32 AS col_id
        FROM events e CROSS JOIN rows_ r
        WHERE e.user_id IS NOT NULL
    )
    SELECT row_id, col_id, CAST(count(*) AS BIGINT) AS cnt
    FROM cells GROUP BY row_id, col_id
    """,
)
def events_count_min_sketch(spark, d):
    """Count-min sketch over the event stream's user dimension: 4
    md5-derived hash rows x 32 columns; each event increments one cell
    per row.  The sketch is a 128-cell MERGEABLE summary — per-segment
    sketches add cell-wise, so heavy-hitter queries over a 100 TB
    stream union partial sketches instead of re-scanning (the same
    segment-merge contract as agg_bitmap_distinct / the HLL family),
    and the map-side partial aggregate means the shuffle carries at
    most 128 rows per task.  Deterministic hashes make the full sketch
    hash-checkable — estimation-error behavior is the accuracy-band
    pytest's job."""
    ev = T(spark, d, "events").filter(F.col("user_id").isNotNull())
    # bigint hash rows: the oracle's generate_series is BIGINT and the
    # driver's schema compare is width-strict (r8 review finding)
    rows = F.array(*[F.lit(i).cast("bigint") for i in range(4)])
    cell = (ev.select("user_id", F.explode(rows).alias("row_id"))
            .withColumn("col_id", F.conv(F.substring(F.md5(
                F.concat_ws(":", F.col("row_id").cast("string"),
                            F.col("user_id").cast("string"))), 1, 8),
                16, 10).cast("bigint") % 32))
    return (cell.groupBy("row_id", "col_id")
            .agg(F.count("*").alias("cnt")))


@register(
    "llm_cdc_chunking",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
        WHERE text IS NOT NULL
    ), tok AS (
        SELECT doc_id, i, w[i] AS tok
        FROM t, unnest(generate_series(1, len(w))) AS s(i)
    ), b AS (
        SELECT doc_id, i,
               CASE WHEN i > 1 AND {_duck_hex8('tok')} % 16 = 0
                    THEN 1 ELSE 0 END AS boundary
        FROM tok
    ), c AS (
        SELECT doc_id, i,
               1 + sum(boundary) OVER (PARTITION BY doc_id ORDER BY i)
                   AS chunk_idx
        FROM b
    )
    SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           CAST(count(*) AS BIGINT) AS n_tokens
    FROM c GROUP BY doc_id, chunk_idx
    """,
)
def llm_cdc_chunking(spark, d):
    """Content-defined chunking — the rolling-hash boundary trick that
    makes near-dup detection insertion-robust (a token whose hash = 0
    mod 16 STARTS a new chunk, so an edit only reshapes its own chunk,
    unlike fixed windows where everything downstream shifts).  The
    Spark side is a LINEAR array fold entirely inside the projection
    (aggregate over the split array carrying a (current-run, lengths)
    struct accumulator — no shuffle, no per-doc window), then one
    posexplode to chunk rows; the oracle spells the same boundaries as
    a per-doc running sum, which is fine at oracle scale but would be
    an extra corpus-wide shuffle in the engine."""
    docs = T(spark, d, "documents").filter(F.col("text").isNotNull())
    toks = F.split("text", " ")
    is_b = lambda tok: (F.conv(F.substring(F.md5(tok), 1, 8), 16, 10)
                        .cast("bigint") % 16 == 0)
    init = F.struct(F.lit(0).cast("int").alias("cur"),
                    F.array().cast("array<int>").alias("lens"))
    step = lambda acc, tok: F.struct(
        F.when(is_b(tok) & (acc["cur"] > 0), F.lit(1))
        .otherwise(acc["cur"] + 1).alias("cur"),
        F.when(is_b(tok) & (acc["cur"] > 0),
               F.concat(acc["lens"], F.array(acc["cur"])))
        .otherwise(acc["lens"]).alias("lens"))
    fin = lambda acc: F.when(acc["cur"] > 0,
                             F.concat(acc["lens"], F.array(acc["cur"]))) \
        .otherwise(acc["lens"])
    lens = F.aggregate(toks, init, step, fin)
    return (docs.select("doc_id", F.posexplode(lens)
                        .alias("pos", "n_tokens"))
            .select("doc_id", (F.col("pos") + 1).cast("bigint")
                    .alias("chunk_idx"),
                    F.col("n_tokens").cast("bigint").alias("n_tokens")))


_VOCAB_V = 256


@register(
    "llm_vocab_coverage",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' ')) AS tok
        FROM documents WHERE text IS NOT NULL
    ), vocab AS (
        SELECT tok FROM (
            SELECT tok, count(*) AS c FROM tok GROUP BY tok
            ORDER BY c DESC, tok ASC LIMIT {_VOCAB_V})
    )
    SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (WHERE v.tok IS NULL) AS BIGINT) AS n_oov,
           CAST(count(*) FILTER (WHERE v.tok IS NULL) AS DOUBLE)
               / count(*) AS oov_rate
    FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY t.doc_id
    """,
)
def llm_vocab_coverage(spark, d):
    """Two-pass vocabulary build + coverage audit: pass 1 ranks tokens
    by corpus frequency (count desc, token asc — a total order, so the
    top-{_VOCAB_V} cut is deterministic) and keeps the top {_VOCAB_V};
    pass 2 re-scans the corpus and reports each doc's OOV rate against
    that vocabulary.  The vocab is O(V) — BROADCAST to the coverage
    join, so the second pass is map-side only; the only corpus-keyed
    shuffle is pass 1's token count, which partial-aggregates to
    distinct-token size.  This is the sizing loop a tokenizer/vocab
    decision runs before committing a 100 TB tokenization."""
    docs = T(spark, d, "documents").filter(F.col("text").isNotNull())
    tok = docs.select("doc_id",
                      F.explode(F.split(F.translate(
                          "text", "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"), " ")).alias("tok"))
    vocab = (tok.groupBy("tok").agg(F.count("*").alias("c"))
             .orderBy(F.col("c").desc(), F.col("tok").asc())
             .limit(_VOCAB_V).select("tok", F.lit(1).alias("in_v")))
    return (tok.join(F.broadcast(vocab), "tok", "left")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_tokens"),
                 F.sum(F.when(F.col("in_v").isNull(), 1).otherwise(0))
                 .cast("bigint").alias("n_oov"))
            .select("doc_id", "n_tokens", "n_oov",
                    (F.col("n_oov").cast("double") / F.col("n_tokens"))
                    .alias("oov_rate")))


_STRAT_QUOTA = 40


@register(
    "llm_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC)
                   AS rk
        FROM documents WHERE lang IS NOT NULL
    ) WHERE rk <= {_STRAT_QUOTA}
    """,
)
def llm_stratified_sample(spark, d):
    """Exact-quota stratified sampling — up to N=40 docs PER LANGUAGE,
    chosen by md5(doc_id) rank so the draw is deterministic, uniform
    within each stratum, and STABLE under corpus growth near the
    boundary (a new doc displaces at most one pick in its own
    stratum).  sample_fraction covers Bernoulli sampling; training-data
    mixtures need exact per-stratum counts, which Bernoulli cannot
    promise.  One shuffle on lang; at 100 TB with a bounded quota the
    per-stratum rank never materializes more than quota rows per
    reducer after the partial top-k (Spark's WindowGroupLimit pushes
    rk <= N below the sort)."""
    docs = T(spark, d, "documents").filter(F.col("lang").isNotNull())
    w = (Window.partitionBy("lang")
         .orderBy(F.md5(F.col("doc_id").cast("string")).asc(),
                  F.col("doc_id").asc()))
    return (docs.select("doc_id", "lang",
                        F.row_number().over(w).alias("rk"))
            .filter(F.col("rk") <= _STRAT_QUOTA)
            .select("doc_id", "lang"))


_KANON_K = 5


@register(
    "dq_k_anonymity",
    oracle=f"""
    SELECT coalesce(lang, '(none)') AS lang,
           coalesce(source, '(none)') AS source,
           CAST(count(*) AS BIGINT) AS n_docs,
           count(*) >= {_KANON_K} AS releasable
    FROM documents
    GROUP BY lang, source
    """,
)
def dq_k_anonymity(spark, d):
    """k-anonymity audit over the quasi-identifier pair (lang, source):
    any combination carried by fewer than k=5 docs is flagged
    non-releasable (the suppression rule privacy review applies before
    publishing corpus slices; complements llm_pii_scrub's value-level
    scrubbing with group-level protection).  One partial-aggregated
    shuffle on the QI pair — output is O(distinct QI combos), so the
    audit is a metadata-sized result at any corpus scale."""
    docs = T(spark, d, "documents")
    return (docs.groupBy(
        F.coalesce("lang", F.lit("(none)")).alias("lang"),
        F.coalesce("source", F.lit("(none)")).alias("source"))
        .agg(F.count("*").alias("n_docs"))
        .select("lang", "source", "n_docs",
                (F.col("n_docs") >= _KANON_K).alias("releasable")))


@register(
    "llm_embedding_power_iteration",
    oracle="""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                              x -> CAST(floor(CAST(x AS DOUBLE) * 64) AS
                                        BIGINT)) AS q
        FROM embeddings WHERE embedding IS NOT NULL
    ), d1 AS (
        SELECT vec_id, q, list_sum(q) AS dot1 FROM q
    ), w AS (
        SELECT i AS dim, sum(q[i] * dot1) AS w
        FROM d1, unnest(generate_series(1, 64)) AS s(i)
        GROUP BY i
    ), d2 AS (
        SELECT d1.vec_id, sum(d1.q[w.dim] * w.w) AS dot2
        FROM d1, w GROUP BY d1.vec_id
    ), u AS (
        SELECT i AS dim, sum(q.q[i] * d2.dot2) AS u
        FROM q JOIN d2 USING (vec_id),
             unnest(generate_series(1, 64)) AS s(i)
        GROUP BY i
    )
    SELECT CAST(dim AS INT) AS dim, CAST(u AS BIGINT) AS u
    FROM u
    """,
)
def llm_embedding_power_iteration(spark, d):
    """Distributed power iteration — two multiplications of the corpus
    Gram matrix against a fixed start vector (all-ones), yielding
    u = (EᵀE)² · 1: the kernel under spectral embedding diagnostics /
    semantic-dedup centroid seeding.  Each multiply provably raises
    the Rayleigh quotient; how fast u aligns with the dominant
    eigenvector depends on the spectral GAP, which the isotropic
    random fixture deliberately lacks — so the pinned claims are
    bit-exactness vs the dense computation and monotone convergence
    (tests/test_sketch_accuracy.py).  Arithmetic is INTEGER-EXACT end to end — vectors
    quantize to floor(64·x) (one float multiply both engines compute
    bit-identically, then floor), every dot/sum is int64 (bounds:
    |q|≤64-ish, dot2 ≲ 5e9, u ≲ 2e15 at sf0.1 — far inside int64), so
    the 64-row result hash-matches with no float-reassociation risk,
    unlike a naive float implementation whose sum order differs per
    engine.  Scale shape: per-dim partial sums combine map-side (the
    shuffle carries 64 rows/task), the 64-row w vector BROADCASTS back
    for the second pass, and the corpus is scanned exactly twice — no
    driver-side matrix, no collect."""
    emb = (T(spark, d, "embeddings").filter(F.col("embedding").isNotNull())
           .select("vec_id", F.transform(
               "embedding",
               lambda x: F.floor(x.cast("double") * 64).cast("bigint"))
               .alias("q")))
    d1 = emb.withColumn("dot1", F.aggregate(
        "q", F.lit(0).cast("bigint"), lambda a, x: a + x))
    w = (d1.select(F.posexplode("q").alias("dim0", "qv"), "dot1")
         .groupBy("dim0").agg(F.sum(F.col("qv") * F.col("dot1")).alias("w")))
    # second pass: dot2 = q · w via a 64-row broadcast join on the dim
    d2 = (d1.select("vec_id", "q", F.posexplode("q").alias("dim0", "qv"))
          .join(F.broadcast(w), "dim0")
          .groupBy("vec_id").agg(F.sum(F.col("qv") * F.col("w"))
                                 .alias("dot2")))
    u = (emb.join(d2, "vec_id")
         .select(F.posexplode("q").alias("dim0", "qv"), "dot2")
         .groupBy("dim0").agg(F.sum(F.col("qv") * F.col("dot2")).alias("u")))
    return u.select((F.col("dim0") + 1).cast("int").alias("dim"),
                    F.col("u").cast("bigint").alias("u"))


@register(
    "llm_token_budget_histogram",
    oracle="""
    WITH tok AS (
        SELECT len(list_filter(string_split(text, ' '),
                               x -> x <> '')) AS n
        FROM documents WHERE text IS NOT NULL
    ), b AS (
        SELECT CAST(length(bin(n)) - 1 AS BIGINT) AS k,
               count(*) AS c, sum(n) AS s
        FROM tok WHERE n >= 1 GROUP BY 1
    ), tot AS (SELECT sum(c) AS tc FROM b)
    SELECT CAST(1 << k AS BIGINT) AS bucket_lo,
           CAST(c AS BIGINT) AS n_docs,
           CAST(s AS BIGINT) AS n_tokens,
           CAST(round(CAST(sum(c) OVER (ORDER BY k
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) / tc * 1000000) AS BIGINT) AS cum_docs_ppm
    FROM b CROSS JOIN tot
    """,
)
def llm_token_budget_histogram(spark, d):
    """Token-budget histogram — per power-of-two length bucket, doc
    and token counts plus the cumulative doc share: the curve that
    answers 'what context window covers X% of the corpus' and sizes
    packing/truncation budgets before a training run.

    Exact-arithmetic notes: the bucket is floor(log2(n)) computed as
    length(bin(n)) - 1 — pure INTEGER string length, because both
    engines implement log2 as ln(n)/ln(2) whose float error flips
    exact powers of two down a bucket.  The cumulative share is an
    integer-ratio double rounded to ppm (the fixed-point discipline).
    Shape: one narrow map + one ~10-row bucket aggregate; the window
    and the 1-row total broadcast run over the bucket relation, never
    the corpus."""
    tok = (T(spark, d, "documents").filter(F.col("text").isNotNull())
           .select(F.size(F.filter(F.split("text", " "),
                                   lambda x: x != "")).alias("n"))
           .filter(F.col("n") >= 1))
    b = (tok.select((F.length(F.bin("n")) - 1).cast("bigint").alias("k"),
                    "n")
         .groupBy("k").agg(F.count("*").alias("c"), F.sum("n").alias("s")))
    tot = b.agg(F.sum("c").alias("tc"))
    w = (Window.orderBy("k")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (b.crossJoin(F.broadcast(tot))
            .select(F.expr("shiftleft(1L, CAST(k AS INT))")
                    .cast("bigint").alias("bucket_lo"),
                    F.col("c").cast("bigint").alias("n_docs"),
                    F.col("s").cast("bigint").alias("n_tokens"),
                    F.round(F.sum("c").over(w).cast("double")
                            / F.col("tc") * 1e6)
                    .cast("bigint").alias("cum_docs_ppm")))


@register(
    "llm_mixture_temperature",
    oracle="""
    WITH s AS (
        SELECT source, count(*) AS n_docs FROM documents GROUP BY source
    ), f AS (
        SELECT source, n_docs,
               CAST(round(sqrt(CAST(n_docs AS DOUBLE)) * 1000000)
                    AS BIGINT) AS sqrt_fp6
        FROM s
    ), tot AS (SELECT sum(sqrt_fp6) AS z FROM f)
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs, sqrt_fp6,
           CAST(round(CAST(sqrt_fp6 AS DOUBLE) / z * 1000000) AS BIGINT)
               AS weight_ppm
    FROM f CROSS JOIN tot
    """,
)
def llm_mixture_temperature(spark, d):
    """Temperature-scaled mixture weights — the multilingual-LM
    sampling rule (alpha = 0.5 here): each source's epoch weight is
    n_s^alpha / sum(n_s^alpha), flattening the source distribution so
    small corpora are oversampled relative to proportional mixing.
    The companion to llm_dataset_mixture (which APPLIES fixed rates);
    this computes the rates.

    Float discipline: sqrt(n) is one libm call both engines compute
    identically from the same integer, immediately pinned to
    fixed-point micro-units; the normalizer is then an INT64 sum —
    no float accumulation order anywhere, so the hash is stable (the
    PMI/fixed-point discipline).  Shape: one groupBy(source) (bounded
    by feed count) + a 1-row total cross join — whitelisted BNLJ
    class at worst; corpus touched once."""
    s = (T(spark, d, "documents").groupBy("source")
         .agg(F.count("*").alias("n_docs")))
    f = s.withColumn(
        "sqrt_fp6",
        F.round(F.sqrt(F.col("n_docs").cast("double")) * 1e6)
        .cast("bigint"))
    tot = f.agg(F.sum("sqrt_fp6").alias("z"))
    return (f.crossJoin(F.broadcast(tot))
            .select("source",
                    F.col("n_docs").cast("bigint").alias("n_docs"),
                    "sqrt_fp6",
                    F.round(F.col("sqrt_fp6").cast("double")
                            / F.col("z") * 1e6)
                    .cast("bigint").alias("weight_ppm")))


@register(
    "llm_preference_pairs",
    oracle="""
    WITH sc AS (
        SELECT source, doc_id,
               len(list_distinct(list_filter(string_split(text, ' '),
                                             x -> x <> ''))) * 1000
                   + n_chars AS score
        FROM documents WHERE text IS NOT NULL AND n_chars IS NOT NULL
    ), r AS (
        SELECT source, doc_id, score,
               row_number() OVER (PARTITION BY source
                                  ORDER BY score DESC, doc_id ASC)
                   AS rn_top,
               row_number() OVER (PARTITION BY source
                                  ORDER BY score ASC, doc_id ASC)
                   AS rn_bot
        FROM sc
    )
    SELECT t.source, t.doc_id AS chosen_doc_id,
           b.doc_id AS rejected_doc_id,
           CAST(t.score AS BIGINT) AS chosen_score,
           CAST(b.score AS BIGINT) AS rejected_score,
           CAST(t.score - b.score AS BIGINT) AS score_gap
    FROM (SELECT * FROM r WHERE rn_top = 1) t
    JOIN (SELECT * FROM r WHERE rn_bot = 1) b USING (source)
    WHERE t.doc_id <> b.doc_id
    """,
)
def llm_preference_pairs(spark, d):
    """Preference-pair construction — the DPO/RLHF data-prep step:
    within each source, pair the highest-quality document (chosen)
    with the lowest (rejected), under a deterministic integer quality
    score (distinct-word count x1000 + n_chars — an engine-shared
    proxy; production plugs in a reward model's scores).  Ties break
    to the lowest doc_id on BOTH ends; single-doc groups (chosen ==
    rejected) emit nothing.

    Shape: ONE groupBy(source) holding two struct-extrema — max of
    (score, -doc_id) and min of (score, doc_id) — so the per-group
    state is two fixed-width structs combined map-side; no window, no
    sort, no per-group row fan-out.  At 100 TB with a conversation key
    instead of source, this is the same single-shuffle aggregate."""
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    sc = (T(spark, d, "documents")
          .filter(F.col("text").isNotNull()
                  & F.col("n_chars").isNotNull())  # NULL score would
          # hit the engines' opposite NULL orderings (registry
          # null-guard discipline)
          .select("source", "doc_id",
                  (F.size(F.array_distinct(toks)) * 1000
                   + F.col("n_chars")).alias("score")))
    agg = (sc.groupBy("source")
           .agg(F.max(F.struct(F.col("score"),
                               (-F.col("doc_id")).alias("neg_id")))
                .alias("top"),
                F.min(F.struct(F.col("score"), F.col("doc_id")))
                .alias("bot")))
    return (agg.select(
        "source",
        (-F.col("top.neg_id")).cast("bigint").alias("chosen_doc_id"),
        F.col("bot.doc_id").cast("bigint").alias("rejected_doc_id"),
        F.col("top.score").cast("bigint").alias("chosen_score"),
        F.col("bot.score").cast("bigint").alias("rejected_score"),
        (F.col("top.score") - F.col("bot.score")).cast("bigint")
        .alias("score_gap"))
        .filter(F.col("chosen_doc_id") != F.col("rejected_doc_id")))


def _word_shingles(spark, d, key_col: str, k: int):
    """Distinct (key, md5-word-k-gram) relation over documents — the
    shared shingling front of llm_source_overlap_matrix and
    llm_ngram_novelty (one definition so the Spark side and the
    DuckDB oracles cannot drift independently; llm_decontaminate keeps
    its own raw-text 8-gram form, which is a different contract).
    Shingles leave this function as 32-char digests, never text."""
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    return (T(spark, d, "documents").filter(F.col("text").isNotNull())
            .select(key_col, toks.alias("w"))
            .filter(F.size("w") >= k)
            .select(key_col, F.explode(F.transform(
                F.sequence(F.lit(1), F.size("w") - (k - 1)),
                lambda i: F.md5(F.concat_ws(
                    " ", F.slice("w", i, k))))).alias("h"))
            .distinct())


@register(
    "llm_ngram_novelty",
    oracle="""
    WITH w AS (
        SELECT doc_id, list_filter(string_split(text, ' '),
                                   x -> x <> '') AS w
        FROM documents WHERE text IS NOT NULL
    ), sh AS (
        SELECT DISTINCT doc_id,
               md5(array_to_string(w[i:i+4], ' ')) AS h
        FROM w, unnest(generate_series(1, len(w) - 4)) AS t(i)
        WHERE len(w) >= 5
    ), fst AS (
        SELECT h, min(doc_id) AS first_doc FROM sh GROUP BY h
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_ngrams,
           CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST(round(CAST(sum(CASE WHEN first_doc = doc_id
                                    THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(*) * 1000000) AS BIGINT) AS novelty_fp6
    FROM sh JOIN fst USING (h)
    GROUP BY doc_id
    """,
)
def llm_ngram_novelty(spark, d):
    """Per-document n-gram novelty — for each doc, the fraction of its
    distinct word 5-grams whose FIRST corpus occurrence (min doc_id) is
    this doc: the cheap memorization/duplication diagnostic behind
    'how much of this shard is new text' curves, and the attribution
    rule ('earliest occurrence owns the n-gram') used by
    copy-detection pipelines.

    Scale shape: shingles travel as md5 digests, never text (dedup
    discipline); first-occurrence is ONE groupBy(h) min — the same
    digest-keyed shuffle the distinct already produced, so AQE reuses
    the partitioning — and the join back on h is co-partitioned.  The
    novelty ratio is one exact integer ratio rounded to fixed-point
    ppm, so both engines feed round() the identical double."""
    sh = _word_shingles(spark, d, "doc_id", 5)
    fst = sh.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1)
                  .otherwise(0))
    return (sh.join(fst, "h")
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_ngrams"),
                 novel.cast("bigint").alias("n_novel"),
                 F.round(novel.cast("double") / F.count("*") * 1e6)
                 .cast("bigint").alias("novelty_fp6")))


@register(
    "llm_source_overlap_matrix",
    oracle="""
    WITH w AS (
        SELECT source, list_filter(string_split(text, ' '),
                                   x -> x <> '') AS w
        FROM documents WHERE text IS NOT NULL
    ), sh AS (
        SELECT DISTINCT source, md5(array_to_string(w[i:i+4], ' ')) AS h
        FROM w, unnest(generate_series(1, len(w) - 4)) AS t(i)
        WHERE len(w) >= 5
    ), sz AS (
        SELECT source, count(*) AS n_sh FROM sh GROUP BY source
    ), pr AS (
        SELECT a.source AS src_a, b.source AS src_b,
               count(*) AS n_shared
        FROM sh a JOIN sh b USING (h)
        WHERE a.source < b.source
        GROUP BY 1, 2
    )
    SELECT src_a, src_b, CAST(n_shared AS BIGINT) AS n_shared,
           CAST(round(CAST(n_shared AS DOUBLE)
                      / least(sa.n_sh, sb.n_sh) * 1000000) AS BIGINT)
               AS containment_fp6
    FROM pr JOIN sz sa ON sa.source = src_a
            JOIN sz sb ON sb.source = src_b
    """,
)
def llm_source_overlap_matrix(spark, d):
    """Pairwise source-overlap matrix — the corpus-level
    generalization of llm_decontaminate's train-vs-eval check: for
    every pair of sources, how many distinct word 5-gram shingles they
    share and the containment ratio (shared / smaller side) — the
    diagnostic that decides which crawls duplicate which before
    mixture weighting.  The join key is the shingle digest, so sources
    sharing NO text never meet: per-hash fan-out is bounded by the
    source count (<= #sources rows per digest), never all-pairs of
    docs — the same banded shape as the MinHash-LSH family.  Shuffles
    carry 32-char digests, not text (dedup discipline); containment is
    one exact integer ratio rounded to fixed-point ppm so both engines
    feed round() the identical double."""
    # the distinct (source, digest) frame feeds the size aggregate AND
    # both self-join arms — three evaluations of the corpus shingle
    # pipeline without the checkpoint (plan read 8 scans / 20 exchanges
    # — guide §2.4/§5); what is stored is digests, never text.
    sh = _word_shingles(spark, d, "source", 5).localCheckpoint(eager=True)
    sz = sh.groupBy("source").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    pr = (a.join(b, "h")
          .filter(F.col("a.source") < F.col("b.source"))
          .groupBy(F.col("a.source").alias("src_a"),
                   F.col("b.source").alias("src_b"))
          .agg(F.count("*").alias("n_shared")))
    sa = sz.select(F.col("source").alias("src_a"),
                   F.col("n_sh").alias("n_a"))
    sb = sz.select(F.col("source").alias("src_b"),
                   F.col("n_sh").alias("n_b"))
    return (pr.join(F.broadcast(sa), "src_a").join(F.broadcast(sb), "src_b")
            .select("src_a", "src_b",
                    F.col("n_shared").cast("bigint").alias("n_shared"),
                    F.round(F.col("n_shared").cast("double")
                            / F.least("n_a", "n_b") * 1e6)
                    .cast("bigint").alias("containment_fp6")))


@register(
    "llm_semantic_cluster_assign",
    oracle="""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                              x -> CAST(floor(CAST(x AS DOUBLE) * 64)
                                        AS BIGINT)) AS q
        FROM embeddings WHERE embedding IS NOT NULL
    ), c AS (
        SELECT vec_id AS cid, q AS cq FROM q ORDER BY vec_id LIMIT 4
    ), d AS (
        SELECT q.vec_id, c.cid,
               list_sum(list_transform(generate_series(1, 64),
                        i -> (q.q[i] - c.cq[i]) * (q.q[i] - c.cq[i])))
                   AS dist2
        FROM q CROSS JOIN c
    ), r AS (
        SELECT vec_id, cid, dist2,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist2, cid) AS rn
        FROM d
    )
    SELECT vec_id, CAST(cid AS BIGINT) AS cluster,
           CAST(dist2 AS BIGINT) AS dist2
    FROM r WHERE rn = 1
    """,
)
def llm_semantic_cluster_assign(spark, d):
    """Nearest-centroid assignment — the partition step of semantic
    dedup / clustered corpus curation (SemDeDup-style): every vector
    is assigned to the closest of k fixed centroids by squared L2
    distance, ties to the lowest centroid id.  Centroids here are the
    k=4 lowest-vec_id vectors (deterministic; a production run would
    broadcast k-means centroids from a sample) collected as ONE
    bounded driver round of k rows — the dedup_clusters O(1)-driver
    discipline.

    Scale shape: the centroids become literal expressions, so the
    entire assignment is one map-side projection with ZERO exchanges
    (plan-pinned) — array_min over k (dist2, cid) structs picks the
    argmin per row without the k-times row multiplication a
    cross-join+window formulation would shuffle.  Arithmetic is
    INTEGER-EXACT (the power-iteration discipline): vectors quantize
    to floor(64·x), diffs are |.|<=2^14 and dist2 <= 64·2^14 — far
    inside int64 — so the hash carries no float-reassociation risk."""
    asg = _quantized_cluster_assign(spark, d)
    return asg.select("vec_id", "cluster", "dist2")


def _quantized_cluster_assign(spark, d, k: int = 4):
    """Shared quantize + nearest-centroid step (llm_semantic_cluster_
    assign and llm_semdedup): (vec_id, q, cluster, dist2) with q =
    floor(64·x) integer vectors and centroids = the k lowest-vec_id
    vectors inlined as literals (one bounded k-row driver collect,
    zero-exchange assignment — see llm_semantic_cluster_assign)."""
    emb = (T(spark, d, "embeddings").filter(F.col("embedding").isNotNull())
           .select("vec_id", F.transform(
               "embedding",
               lambda x: F.floor(x.cast("double") * 64).cast("bigint"))
               .alias("q")))
    cents = emb.orderBy("vec_id").limit(k).collect()  # k bounded rows
    if not cents:
        return emb.select("vec_id", "q",
                          F.lit(None).cast("bigint").alias("cluster"),
                          F.lit(None).cast("bigint").alias("dist2"))
    options = F.array(*[
        F.struct(
            F.aggregate(
                F.zip_with("q",
                           F.array(*[F.lit(int(v)) for v in c["q"]]),
                           lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x).alias("dist2"),
            F.lit(int(c["vec_id"])).cast("bigint").alias("cid"))
        for c in cents])
    pick = F.array_min(options)
    return emb.select("vec_id", "q",
                      pick["cid"].alias("cluster"),
                      pick["dist2"].cast("bigint").alias("dist2"))


_BPE_SEP = "\x1f"  # joins merged tokens; unit separator, never in fixture text
_BPE_ROUNDS = 3


def _bpe_oracle() -> str:
    """3 unrolled merge rounds: each round's argmax pair is a scalar
    subquery and its application a left-to-right non-overlapping
    replace — the same semantics Spark's replace() has, which is what
    makes the iterative algorithm exactly oracle-checkable."""
    sql = ["WITH s0 AS (SELECT doc_id, ' ' || text || ' ' AS s "
           "FROM documents WHERE text IS NOT NULL)"]
    for r in range(1, _BPE_ROUNDS + 1):
        sql.append(f"""
    , p{r} AS (
        SELECT w[i] || ' ' || w[i+1] AS pair, count(*) AS cnt
        FROM (SELECT list_filter(string_split(s, ' '), x -> x <> '') AS w
              FROM s{r-1}),
             unnest(generate_series(1, len(w) - 1)) AS t(i)
        GROUP BY pair
    ), b{r} AS (SELECT pair, cnt FROM p{r}
                ORDER BY cnt DESC, pair ASC LIMIT 1)""")
        if r < _BPE_ROUNDS:
            sql.append(f"""
    , s{r} AS (
        SELECT doc_id,
               replace(s, ' ' || (SELECT pair FROM b{r}) || ' ',
                       ' ' || replace((SELECT pair FROM b{r}), ' ', chr(31))
                           || ' ') AS s
        FROM s{r-1}
    )""")
    sql.append("""
    SELECT * FROM (""" + "\n    UNION ALL ".join(
        f"SELECT {r} AS round, pair, CAST(cnt AS BIGINT) AS cnt FROM b{r}"
        for r in range(1, _BPE_ROUNDS + 1)) + ")")
    return "".join(sql)


@register("llm_bpe_train_merges", oracle=_bpe_oracle())
def llm_bpe_train_merges(spark, d):
    """BPE tokenizer TRAINING — the iterative half llm_bpe_pair_counts
    stops short of: 3 merge rounds, each counting adjacent-pair
    frequencies over the whole corpus, picking the winner under a total
    order (count desc, pair asc), and applying it corpus-wide before
    the next count.  The per-round driver traffic is ONE bounded row
    (the argmax pair — the dedup_clusters O(1)-scalar discipline); the
    corpus-wide apply stays a codegen string replace whose left-to-
    right non-overlapping semantics Spark and DuckDB share, so the
    greedy 'a a a' -> '(a a) a' BPE rule is engine-stable and the whole
    training trace hash-checks.  At 100 TB each round is one
    partial-aggregated pair-count shuffle + one map pass — the exact
    shape of a production BPE trainer's distributed phase."""
    docs = (T(spark, d, "documents").filter(F.col("text").isNotNull())
            .select("doc_id", F.concat(F.lit(" "), F.col("text"),
                                       F.lit(" ")).alias("s")))
    out = []
    cur = docs
    for r in range(1, _BPE_ROUNDS + 1):
        toks = F.filter(F.split("s", " "), lambda x: x != "")
        pairs = cur.select(F.explode(F.zip_with(
            toks, F.slice(toks, 2, F.size(toks)),
            lambda a, b: F.concat_ws(" ", a, b))).alias("pair"))
        pc = (pairs.filter(~F.col("pair").endswith(" ") &
                           F.col("pair").contains(" "))
              .groupBy("pair").agg(F.count("*").alias("cnt")))
        top = (pc.orderBy(F.col("cnt").desc(), F.col("pair").asc())
               .limit(1).collect())  # one bounded row per round
        if not top:  # empty corpus: no pairs, no merges (oracle agrees)
            break
        best = top[0]
        out.append((r, best.pair, best.cnt))
        if r < _BPE_ROUNDS:
            cur = cur.withColumn("s", F.replace(
                "s", F.lit(f" {best.pair} "),
                F.lit(f" {best.pair.replace(' ', _BPE_SEP)} ")))
    return spark.createDataFrame(out, "round int, pair string, cnt long") \
        if out else spark.createDataFrame([], "round int, pair string, cnt long")


def _bpe_encode_oracle() -> str:
    """The training unroll (see _bpe_oracle) EXTENDED by one apply:
    every round's argmax merge is applied — including the last — and
    the final SELECT emits per-doc stats of the merged token stream.
    Each replace is guarded with CASE WHEN ... IS NULL so a corpus with
    no adjacent pairs degrades to the unmerged tokenization exactly
    like the Spark loop's early break (replace(s, NULL, ..) would
    otherwise NULL the document)."""
    sql = ["WITH s0 AS (SELECT doc_id, ' ' || text || ' ' AS s "
           "FROM documents WHERE text IS NOT NULL)"]
    for r in range(1, _BPE_ROUNDS + 1):
        sql.append(f"""
    , p{r} AS (
        SELECT w[i] || ' ' || w[i+1] AS pair, count(*) AS cnt
        FROM (SELECT list_filter(string_split(s, ' '), x -> x <> '') AS w
              FROM s{r-1}),
             unnest(generate_series(1, len(w) - 1)) AS t(i)
        GROUP BY pair
    ), b{r} AS (SELECT pair, cnt FROM p{r}
                ORDER BY cnt DESC, pair ASC LIMIT 1)
    , s{r} AS (
        SELECT doc_id,
               CASE WHEN (SELECT pair FROM b{r}) IS NULL THEN s
                    ELSE replace(s, ' ' || (SELECT pair FROM b{r}) || ' ',
                                 ' ' || replace((SELECT pair FROM b{r}),
                                                ' ', chr(31)) || ' ')
               END AS s
        FROM s{r-1}
    )""")
    sql.append(f"""
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(toks, x -> contains(x, chr(31))))
                AS BIGINT) AS n_merged,
           CAST(coalesce(list_sum(list_transform(toks, x -> len(x))), 0)
                AS BIGINT) AS n_chars
    FROM (SELECT doc_id,
                 list_filter(string_split(s, ' '), x -> x <> '') AS toks
          FROM s{_BPE_ROUNDS})""")
    return "".join(sql)


@register("llm_bpe_encode", oracle=_bpe_encode_oracle())
def llm_bpe_encode(spark, d):
    """BPE ENCODE — the third step of the tokenizer story
    (llm_bpe_pair_counts -> llm_bpe_train_merges -> here): the trained
    merge list is applied to every document and the query emits the
    per-doc token-budget columns downstream mixture/packing queries
    consume — post-merge token count, how many tokens are merged pairs,
    and total token characters.  The merge list is re-derived with the
    training loop (one bounded argmax row per round — the O(1)-driver
    discipline) so the query is self-contained and exactly
    oracle-checkable; a production pipeline would instead broadcast a
    pretrained merge table and run ONLY the apply passes.  Applying a
    merge is a codegen string replace whose left-to-right
    non-overlapping semantics Spark and DuckDB share, and the per-doc
    stats are narrow map-side expressions: at 100 TB encode is
    _BPE_ROUNDS map passes over the corpus plus the training loop's
    pair-count shuffles, with nothing corpus-sized ever crossing to the
    driver."""
    docs = (T(spark, d, "documents").filter(F.col("text").isNotNull())
            .select("doc_id", F.concat(F.lit(" "), F.col("text"),
                                       F.lit(" ")).alias("s")))
    cur = docs
    for _r in range(1, _BPE_ROUNDS + 1):
        toks = F.filter(F.split("s", " "), lambda x: x != "")
        pairs = cur.select(F.explode(F.zip_with(
            toks, F.slice(toks, 2, F.size(toks)),
            lambda a, b: F.concat_ws(" ", a, b))).alias("pair"))
        pc = (pairs.filter(~F.col("pair").endswith(" ") &
                           F.col("pair").contains(" "))
              .groupBy("pair").agg(F.count("*").alias("cnt")))
        top = (pc.orderBy(F.col("cnt").desc(), F.col("pair").asc())
               .limit(1).collect())  # one bounded row per round
        if not top:  # no adjacent pairs anywhere: emit unmerged stats
            break
        best = top[0]
        cur = cur.withColumn("s", F.replace(
            "s", F.lit(f" {best.pair} "),
            F.lit(f" {best.pair.replace(' ', _BPE_SEP)} ")))
    out_toks = F.filter(F.split("s", " "), lambda x: x != "")
    return cur.select(
        "doc_id",
        F.size(out_toks).cast("bigint").alias("n_tokens"),
        F.size(F.filter(out_toks, lambda x: x.contains(_BPE_SEP)))
        .cast("bigint").alias("n_merged"),
        F.aggregate(F.transform(out_toks, lambda x: F.length(x)),
                    F.lit(0).cast("bigint"), lambda a, x: a + x)
        .cast("bigint").alias("n_chars"))


@register(
    "llm_pmi_collocations",
    oracle="""
    WITH tok AS (
        SELECT w[i] AS cur, w[i+1] AS nxt
        FROM (SELECT string_split(text, ' ') AS w,
                     unnest(generate_series(1, len(string_split(text, ' ')) - 1)) AS i
              FROM documents
              WHERE text IS NOT NULL
                AND len(string_split(text, ' ')) >= 2)
    ), big AS (
        SELECT cur, nxt, count(*) AS c2 FROM tok GROUP BY cur, nxt
    ), una AS (SELECT cur, sum(c2) AS ca FROM big GROUP BY cur),
    unb AS (SELECT nxt, sum(c2) AS cb FROM big GROUP BY nxt),
    tot AS (SELECT sum(c2) AS np FROM big)
    SELECT cur, nxt, CAST(c2 AS BIGINT) AS c2,
           CAST(round(ln(CAST(c2 * np AS DOUBLE) / (ca * cb)) * 1000000)
                AS BIGINT) AS pmi_fp6
    FROM big JOIN una USING (cur) JOIN unb USING (nxt) CROSS JOIN tot
    WHERE c2 >= 10
    """,
)
def llm_pmi_collocations(spark, d):
    """Collocation mining by pointwise mutual information — the
    corpus-level companion to llm_bigram_logprob's per-doc scoring:
    adjacent pairs occurring >= 10 times ranked-able by
    pmi = ln(p(a,b) / (p(a)p(b))) over the pair distribution.  The log
    argument is ONE exact-integer ratio (c2*N / (ca*cb), int64-safe at
    any realistic corpus since counts enter linearly) so both engines
    feed ln the identical double, and the output is fixed-point
    micro-nats (the llm_bigram_logprob discipline).  Shapes: pair
    counts shuffle once on the pair; the two marginal joins re-shuffle
    only the DISTINCT-pair relation (vocabulary-sized, not
    corpus-sized); the pair total is a 1-row broadcast."""
    docs = (T(spark, d, "documents").filter(F.col("text").isNotNull())
            .select(F.split("text", " ").alias("w"))
            .filter(F.size("w") >= 2))
    tok = docs.select(F.explode(F.transform(
        F.sequence(F.lit(1), F.size("w") - 1),
        lambda i: F.struct(
            F.element_at(F.col("w"), i).alias("cur"),
            F.element_at(F.col("w"), i + 1).alias("nxt")))).alias("p")
    ).select("p.cur", "p.nxt")
    # pair counts feed both marginals, the total AND the output join
    # (4 consumers; guide §2.4/§5 — the kneser-ney fix, same shape)
    big = (tok.groupBy("cur", "nxt").agg(F.count("*").alias("c2"))
           .localCheckpoint(eager=True))
    una = big.groupBy("cur").agg(F.sum("c2").alias("ca"))
    unb = big.groupBy("nxt").agg(F.sum("c2").alias("cb"))
    tot = big.agg(F.sum("c2").alias("np"))
    pmi = F.log((F.col("c2") * F.col("np")).cast("double")
                / (F.col("ca") * F.col("cb")))
    return (big.filter(F.col("c2") >= 10)
            .join(una, "cur").join(unb, "nxt").join(F.broadcast(tot))
            .select("cur", "nxt", F.col("c2").cast("bigint").alias("c2"),
                    F.round(pmi * 1e6).cast("bigint").alias("pmi_fp6")))


@register(
    "llm_global_shuffle",
    oracle="""
    WITH keyed AS (
        SELECT doc_id,
               md5(CAST(doc_id AS VARCHAR) || ':epoch0') AS shuffle_key
        FROM documents
    )
    SELECT doc_id, shuffle_key,
           CAST(concat('0x', substring(shuffle_key, 1, 8)) AS BIGINT) % 8
               AS shard,
           CAST(row_number() OVER (
               PARTITION BY CAST(concat('0x', substring(shuffle_key, 1, 8))
                                 AS BIGINT) % 8
               ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos
    FROM keyed
    """,
)
def llm_global_shuffle(spark, d, n_shards: int = 8):
    """Deterministic global shuffle for training order: every document
    gets a content-independent pseudo-random key md5(id:salt), is routed
    to one of n_shards shards by the key's first hex char, and receives
    its within-shard position.  Changing the salt ('epoch0') re-deals
    the entire order — the standard epoch-reshuffle trick — while
    identical inputs always produce the identical order (no rand(), so
    retries and stragglers are safe).

    n_shards is a PARAMETER sized to the cluster (r9 verdict: a literal
    8 means 8 sequential rank tasks over corpus/8 each at 100 TB) — in
    production set it to ~2-4x the executor-core count so every core
    ranks a bounded slice; the registered query pins 8 only because the
    oracle SQL must encode the same constant.  The plan is exactly one
    hash exchange (shard) + per-partition sort+rank: no global ordering
    bottleneck at any shard count, and shard files stream out in
    parallel.  md5, not xxhash64: the key must be engine-reproducible,
    and md5 is the byte-stable hash both engines share (registry
    discipline §5.3)."""
    keyed = T(spark, d, "documents").select(
        "doc_id",
        F.md5(F.concat(F.col("doc_id").cast("string"),
                       F.lit(":epoch0"))).alias("shuffle_key"))
    # one shard expression for every n_shards (r10 advice: the old
    # ascii-of-first-hex-char default and the conv() scale branch could
    # drift apart unnoticed because the registry pins n_shards=8): 32
    # bits of key entropy mod n_shards serves a 1000-core cluster and
    # the oracle-pinned 8 alike — DuckDB mirrors it as
    # CAST(concat('0x', substring(key,1,8)) AS BIGINT) % 8
    shard = (F.conv(F.substring("shuffle_key", 1, 8), 16, 10)
             .cast("bigint") % n_shards)
    w = Window.partitionBy(shard).orderBy("shuffle_key", "doc_id")
    return keyed.select(
        "doc_id", "shuffle_key",
        shard.cast("bigint").alias("shard"),
        F.row_number().over(w).cast("bigint").alias("pos"))


@register(
    "llm_edit_distance_dedup",
    oracle="""
    WITH norm AS (
        SELECT doc_id,
               translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                               'abcdefghijklmnopqrstuvwxyz') AS t
        FROM documents
        WHERE text IS NOT NULL AND n_chars BETWEEN 20 AND 400
    ),
    bucketed AS (
        SELECT doc_id, t,
               substring(t, 1, 12) || ':' ||
                   CAST(length(t) // 40 AS VARCHAR) AS bucket,
               row_number() OVER (
                   PARTITION BY substring(t, 1, 12) || ':' ||
                       CAST(length(t) // 40 AS VARCHAR)
                   ORDER BY doc_id) AS rn
        FROM norm
    ),
    capped AS (SELECT * FROM bucketed WHERE rn <= 16)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.t, b.t) AS BIGINT) AS edit_dist
    FROM capped a JOIN capped b
      ON a.bucket = b.bucket AND a.doc_id < b.doc_id
    WHERE levenshtein(a.t, b.t) * 5
          <= greatest(length(a.t), length(b.t))
    """,
)
def llm_edit_distance_dedup(spark, d):
    """Edit-distance near-dup: candidate pairs come from a cheap
    blocking key (first 12 normalized chars + length bucket), and only
    those pairs pay the O(len a x len b) Levenshtein — the classic
    block-then-verify dedup shape.  Never all-pairs: the equi-join on
    the blocking key bounds candidates, buckets are capped at 16 docs
    (rank by doc_id, the DEDUP_DF_CAP discipline mirrored in the
    oracle), and the distance threshold is relative (dist <= max_len/5,
    in integer arithmetic so both engines agree exactly).  levenshtein()
    is a JVM codegen'd builtin in Spark and a native function in DuckDB
    — the identical metric, so the hash pins the whole pipeline."""
    norm = (T(spark, d, "documents")
            .filter(F.col("text").isNotNull()
                    & F.col("n_chars").between(20, 400))
            .select("doc_id",
                    F.translate("text", "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
                                "abcdefghijklmnopqrstuvwxyz").alias("t")))
    # floor-div, NEVER cast(double): DuckDB CAST(1.925 AS BIGINT)
    # rounds to 2 while Spark truncates to 1 (divergence catalog §5.2)
    bucket = F.concat(F.substring("t", 1, 12), F.lit(":"),
                      F.floor(F.length("t") / 40).cast("string"))
    capped = (norm.withColumn("bucket", bucket)
              .withColumn("rn", F.row_number().over(
                  Window.partitionBy("bucket").orderBy("doc_id")))
              .filter(F.col("rn") <= 16))
    a = capped.select(F.col("doc_id").alias("doc_a"),
                      F.col("t").alias("ta"), "bucket")
    b = capped.select(F.col("doc_id").alias("doc_b"),
                      F.col("t").alias("tb"), "bucket")
    dist = F.levenshtein("ta", "tb")
    return (a.join(b, "bucket")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .filter(dist * 5 <= F.greatest(F.length("ta"),
                                           F.length("tb")))
            .select("doc_a", "doc_b",
                    dist.cast("bigint").alias("edit_dist")))


@register(
    "llm_chat_template",
    oracle="""
    WITH turns AS (
        SELECT source, doc_id, substring(text, 1, 60) AS turn_text,
               row_number() OVER (PARTITION BY source ORDER BY doc_id)
                   AS rn
        FROM documents WHERE text IS NOT NULL
    ),
    capped AS (
        SELECT source, doc_id, turn_text, rn,
               CASE WHEN rn % 2 = 1 THEN 'user' ELSE 'assistant' END
                   AS role
        FROM turns WHERE rn <= 6
    )
    SELECT source,
           string_agg('<|' || role || '|>' || turn_text, '' ORDER BY rn)
               AS rendered,
           CAST(count(*) AS BIGINT) AS n_turns,
           CAST(sum(length(turn_text)) AS BIGINT) AS n_chars_text
    FROM capped GROUP BY source
    """,
)
def llm_chat_template(spark, d):
    """Chat-template rendering: per-source conversations are assembled
    from ordered documents (first 6 turns by doc_id), roles alternate
    user/assistant, and the training string is the ordered concatenation
    of '<|role|>text' markers — the flatten-to-training-text step every
    SFT pipeline runs.  listagg WITHIN GROUP gives the ordered
    aggregation (string_agg ORDER BY in DuckDB); the concat payload per
    group is bounded by the turn cap x 60-char truncation, so the
    exchange carries one short string per conversation, never the
    corpus.  At scale, conversation assembly is one hash partition by
    conversation key + one ordered aggregate — no collect, no Python."""
    turns = (T(spark, d, "documents")
             .filter(F.col("text").isNotNull())
             .select("source", "doc_id",
                     F.substring("text", 1, 60).alias("turn_text"))
             .withColumn("rn", F.row_number().over(
                 Window.partitionBy("source").orderBy("doc_id")))
             .filter(F.col("rn") <= 6)
             .withColumn("role",
                         F.when(F.col("rn") % 2 == 1, "user")
                         .otherwise("assistant")))
    turns.createOrReplaceTempView("chat_turns_v")
    return spark.sql("""
        SELECT source,
               listagg('<|' || role || '|>' || turn_text)
                   WITHIN GROUP (ORDER BY rn) AS rendered,
               count(*) AS n_turns,
               sum(length(turn_text)) AS n_chars_text
        FROM chat_turns_v GROUP BY source
    """)


# --- incremental ANN maintenance (r10 verdict task 4) -----------------------

_EMB_TBL_TPL: dict[str, str] = {}


def _embeddings_icelite(spark, d):
    """The embeddings corpus as a 2-append-snapshot icelite table:
    snapshot 1 holds vec_id % 4 != 0 (the indexed base corpus),
    snapshot 2 appends the rest (the newly ingested batch).  Built once
    per (process, sf_dir) and read-only thereafter — no registered
    query mutates it, so runs can share the template directory the way
    _fresh_table shares its hardlink source."""
    import os

    from ..scratch import scratch_dir
    from ..tables.icelite import IceliteCatalog, IceliteTable

    tpl = _EMB_TBL_TPL.get(d)
    if tpl is not None and not os.path.isdir(tpl):
        # scratch cleaned mid-process: treat as a miss and rebuild
        # rather than fail with an opaque read error (r11 advice,
        # mirroring _staged_input's re-validation)
        _EMB_TBL_TPL.pop(d, None)
        tpl = None
    if tpl is None:
        tpl = scratch_dir("icelite_emb_")
        cat = IceliteCatalog(spark, tpl)
        emb = T(spark, d, "embeddings")
        t = cat.create_table("db.embeddings", emb.schema)
        t.insert(emb.filter(F.col("vec_id") % 4 != 0))
        t.insert(emb.filter(F.col("vec_id") % 4 == 0))
        _EMB_TBL_TPL[d] = tpl
    return IceliteTable(spark, os.path.join(tpl, "db", "embeddings"))


def _cosine_prep(df):
    """vec_id/embedding -> (vec_id, e:array<double>, norm), NULL and
    zero-norm vectors excluded (cosine undefined) — the shared entry
    shape of every cosine arm, kept identical to llm_similarity_topk so
    the merged incremental result stays hash-equal to the one-shot
    brute force."""
    return (df.select("vec_id",
                      F.col("embedding").cast("array<double>").alias("e"))
            .filter(F.col("e").isNotNull())
            .withColumn("norm", F.sqrt(F.aggregate(
                F.transform("e", lambda x: x * x),
                F.lit(0.0), lambda a, x: a + x)))
            .filter(F.col("norm") > 0))


def _cosine_topk10(q, cand):
    """Broadcast query set × prepped candidates → per-query top-10 by
    (4dp-rounded cosine desc, cid asc) — the shared ranking arm of
    llm_similarity_topk and llm_similarity_incremental.  The
    incremental merge is hash-equal to the one-shot brute force ONLY
    while both arms rank with byte-identical expressions, so both
    queries call this one function instead of keeping copies that
    could drift (r11 review)."""
    c = cand.select(F.col("vec_id").alias("cid"), F.col("e").alias("ce"),
                    F.col("norm").alias("cnorm"))
    pairs = F.broadcast(q).crossJoin(c).filter(F.col("qid") != F.col("cid"))
    dotted = pairs.withColumn(
        "dot", F.aggregate(F.zip_with("qe", "ce", lambda x, y: x * y),
                           F.lit(0.0), lambda a, x: a + x))
    sims = dotted.select(
        "qid", "cid",
        (F.round(F.col("dot") / (F.col("qnorm") * F.col("cnorm")), 4)
         + F.lit(0.0)).alias("cosine"))
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(),
                                          F.col("cid").asc())
    return (sims.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 10).select("qid", "cid", "cosine"))


@register("llm_similarity_incremental", oracle=_COSINE_ORACLE)
def llm_similarity_incremental(spark, d):
    """Incremental top-k maintenance: the brute-force cosine top-10
    (llm_similarity_topk's exact semantics) is first computed over
    snapshot 1 of an icelite embeddings table, then REFRESHED for the
    newly appended batch using ONLY read_changes(1) — the files
    snapshot 2 added — by unioning the stored prior top-10 with the
    delta-only top-10 and re-ranking.  Per-arm top-10 under the same
    total order (cosine desc, cid asc) makes the merge exact: the
    global top-10 is always contained in the union of the arms' top-10s.
    The refreshed result must hash-equal the from-scratch top-10 over
    the whole corpus (the oracle).  At 100 TB this is the O(delta) index
    maintenance path every embedding store needs: the base corpus is
    never rescanned on ingest (tests/test_plans.py pins via inputFiles()
    that the refresh arm reads zero snapshot-1 files), and the merge
    shuffles |queries| x 20 rows, not the corpus."""
    t = _embeddings_icelite(spark, d)
    q = (_cosine_prep(T(spark, d, "embeddings"))
         .filter(F.col("vec_id") < 5)
         .select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"),
                 F.col("norm").alias("qnorm")))

    prior = _cosine_topk10(q, _cosine_prep(t.read(version=1)))
    fresh = _cosine_topk10(q, _cosine_prep(t.read_changes(from_version=1)))
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("cid").asc())
    return (prior.unionByName(fresh)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 10).select("qid", "cid", "cosine"))


# --- Bloom-filter ingest dedup (r11) ----------------------------------------

_BLOOM_M = 4096   # bits; FP rate at fixture fill (~3k set bits) ~ (0.75)^3
_BLOOM_WINDOWS = (1, 9, 17)  # three independent 32-bit md5 windows


def _duck_md5_window(col: str, offset: int) -> str:
    """DuckDB SQL for the 32-bit integer held in 8 hex chars of
    md5(col) starting at 1-based `offset` — the cross-engine twin of
    Spark's conv(substring(md5(col), offset, 8), 16, 10).  The 0x-cast
    form (verified equal to conv by execution) replaces an 8-term
    strpos polynomial (r11 review: llm_global_shuffle's oracle already
    used this shape)."""
    return f"CAST(concat('0x', substr(md5({col}), {offset}, 8)) AS BIGINT)"


_BLOOM_ORACLE = f"""
WITH pos AS (
    SELECT doc_id, doc_id % 10 <> 0 AS in_base, unnest([
        {", ".join(f"{_duck_md5_window('text', o)} % {_BLOOM_M}"
                   for o in _BLOOM_WINDOWS)}
    ]) AS bit
    FROM documents WHERE text IS NOT NULL
),
base_bits AS (SELECT DISTINCT bit FROM pos WHERE in_base),
hits AS (
    SELECT doc_id, CAST(count(*) AS BIGINT) AS k_hits
    FROM pos JOIN base_bits USING (bit) GROUP BY doc_id
)
SELECT d.doc_id, COALESCE(k_hits, 0) = {len(_BLOOM_WINDOWS)} AS maybe_dup
FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
LEFT JOIN hits USING (doc_id)
"""


@register("llm_dedup_bloom", oracle=_BLOOM_ORACLE)
def llm_dedup_bloom(spark, d):
    """Bloom-filter ingest prefilter — the membership test every
    streaming dedup pipeline runs BEFORE any expensive verification: a
    4096-bit Bloom filter (k=3, deterministic md5-window hashes)
    is built over the base corpus's text, and each incoming doc (here:
    the full fixture replayed, so ~90% are true dupes of the base and
    the doc_id%10==0 tail is genuinely new) is flagged maybe_dup iff
    ALL three of its bit positions are set.  No false negatives by
    construction (a true dupe hashes to set bits), false positives are
    the documented trade (FP odds at this fill ~40%; m scales with
    corpus size in production).  Deterministic md5 bits make the whole
    filter REPLAYABLE IN SQL, so unlike a real bitset this registered
    form is hash-oracled end to end.

    Scale shape: the filter itself is an aggregate DISTINCT over at
    most m=4096 bit values — bounded by the filter WIDTH (not the
    corpus) by pigeonhole — so Spark auto-broadcasts it (no hint
    needed, no OOM possible); the incoming batch is touched once, 3
    generated ints per doc, zero raw-text shuffle.  At 100 TB the same
    plan holds with m sized to the corpus (e.g. 2^33 bits = 1 GiB
    bitmap aggregated via bitmap_or_agg; exact verification of the
    maybe_dup survivors is llm_dedup_incremental's inverted index)."""
    docs = (T(spark, d, "documents")
            .filter(F.col("text").isNotNull()))
    h = F.md5("text")
    bits = F.array(*[
        (F.conv(F.substring(h, o, 8), 16, 10).cast("long")
         % _BLOOM_M).alias(f"p{i}")
        for i, o in enumerate(_BLOOM_WINDOWS)])
    pos = docs.select("doc_id", (F.col("doc_id") % 10 != 0).alias("in_base"),
                      F.explode(bits).alias("bit"))
    base_bits = pos.filter("in_base").select("bit").distinct()
    hits = (pos.join(base_bits, "bit")
            .groupBy("doc_id").agg(F.count("*").alias("k_hits")))
    return (docs.select("doc_id").join(hits, "doc_id", "left")
            .select("doc_id",
                    (F.coalesce("k_hits", F.lit(0))
                     == len(_BLOOM_WINDOWS)).alias("maybe_dup")))


# --- DSIR-style importance resampling (r11) ---------------------------------

_DSIR_ORACLE = f"""
WITH f AS (
    SELECT doc_id, n_chars,
           CAST(floor(len(string_split(text, ' ')) / 15.0) AS INT) AS fb,
           {_duck_md5_window('text', 17)} AS u32
    FROM documents WHERE text IS NOT NULL
),
b AS (
    SELECT fb, CAST(count(*) AS BIGINT) AS r_cnt,
           CAST(sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS BIGINT)
               AS t_cnt
    FROM f GROUP BY fb
),
w AS (
    SELECT fb, r_cnt, t_cnt,
           SUM(r_cnt) OVER () AS r_tot, SUM(t_cnt) OVER () AS t_tot
    FROM b
)
SELECT f.doc_id, f.fb,
       CAST(f.u32 AS HUGEINT) * w.r_cnt * w.t_tot
           < CAST(4294967296 AS HUGEINT) * w.t_cnt * w.r_tot AS accept
FROM f JOIN w USING (fb)
"""


@register("llm_importance_resampling", oracle=_DSIR_ORACLE)
def llm_importance_resampling(spark, d):
    """DSIR-style importance resampling (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): select
    raw-corpus docs whose FEATURES look like a target set's, by
    accepting each doc with probability min(1, p_target(f)/p_raw(f))
    of its feature bucket.  Feature = token-count bucket (floor(n/15),
    7 buckets at every fixture SF — probed non-degenerate: weights
    span 0, partial, and capped-1); target = docs with n_chars >= 300,
    so the resample shifts mass toward long-doc buckets.  Acceptance
    u < w uses the 32-bit md5(text) window as u — deterministic,
    content-keyed (a re-ingested doc gets the same verdict), and the
    comparison is INTEGER cross-multiplied (u32*r_cnt*t_tot <
    2^32*t_cnt*r_tot), so both engines decide ties identically with
    zero float divides.  The three-way product is computed in WIDE
    integers (decimal(38,0) here, HUGEINT in the oracle): in int64 it
    would wrap silently at ~46k docs in one bucket (4.3e9·N² vs 2^63 —
    Spark non-ANSI wraps where DuckDB errors, the worst divergence
    class; r11 review corrected an earlier ~1e8 claim).

    Scale shape: one groupBy over the feature bucket (≤7 rows), totals
    via an unpartitioned window over THAT 7-row aggregate (never the
    corpus), bucket weights auto-broadcast back onto the single corpus
    pass.  Zero raw-text shuffle; the only corpus-wide work is the
    token count and one md5."""
    docs = (T(spark, d, "documents")
            .filter(F.col("text").isNotNull())
            .select("doc_id", "n_chars",
                    F.floor(F.size(F.split("text", " ")) / 15.0)
                    .cast("int").alias("fb"),
                    F.conv(F.substring(F.md5("text"), 17, 8), 16, 10)
                    .cast("long").alias("u32")))
    b = docs.groupBy("fb").agg(
        F.count("*").alias("r_cnt"),
        F.count_if(F.col("n_chars") >= 300).alias("t_cnt"))
    wall = Window.partitionBy()
    w = b.select("fb", "r_cnt", "t_cnt",
                 F.sum("r_cnt").over(wall).alias("r_tot"),
                 F.sum("t_cnt").over(wall).alias("t_tot"))
    joined = docs.join(w, "fb")
    wide = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    accept = (wide(F.col("u32")) * F.col("r_cnt") * F.col("t_tot")
              < wide(F.lit(4294967296)) * F.col("t_cnt") * F.col("r_tot"))
    return joined.select("doc_id", F.col("fb").cast("int").alias("fb"),
                         accept.alias("accept"))


# --- SemDeDup: cluster-then-dedup (r11) -------------------------------------

_SEMDEDUP_ORACLE = """
WITH q AS (
    SELECT vec_id,
           list_transform(embedding,
                          x -> CAST(floor(CAST(x AS DOUBLE) * 64)
                                    AS BIGINT)) AS q
    FROM embeddings WHERE embedding IS NOT NULL
), c AS (
    SELECT vec_id AS cid, q AS cq FROM q ORDER BY vec_id LIMIT 4
), dist AS (
    SELECT q.vec_id, c.cid,
           list_sum(list_transform(generate_series(1, 64),
                    i -> (q.q[i] - c.cq[i]) * (q.q[i] - c.cq[i])))
               AS dist2
    FROM q CROSS JOIN c
), asg AS (
    SELECT vec_id, cid AS cluster FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY dist2, cid) AS rn
        FROM dist) WHERE rn = 1
), pairs AS (
    SELECT b.vec_id AS dup_id
    FROM asg a JOIN asg b ON a.cluster = b.cluster
                         AND a.vec_id < b.vec_id
    JOIN q qa ON qa.vec_id = a.vec_id
    JOIN q qb ON qb.vec_id = b.vec_id
    WHERE list_sum(list_transform(generate_series(1, 64),
                                  i -> qa.q[i] * qb.q[i])) > 0
      AND list_sum(list_transform(generate_series(1, 64),
                                  i -> qa.q[i] * qb.q[i]))
          * list_sum(list_transform(generate_series(1, 64),
                                    i -> qa.q[i] * qb.q[i])) * 10000
          >= 1600 * list_sum(list_transform(qa.q, x -> x * x))
                  * list_sum(list_transform(qb.q, x -> x * x))
)
SELECT asg.vec_id, CAST(cluster AS BIGINT) AS cluster,
       asg.vec_id IN (SELECT dup_id FROM pairs) AS is_dup
FROM asg
"""


@register("llm_semdedup", oracle=_SEMDEDUP_ORACLE)
def llm_semdedup(spark, d):
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the
    embedding space, then mark within-cluster semantic near-duplicates
    — a vector is a dup iff a LOWER-id vector in ITS OWN cluster has
    cosine ≥ 0.40 (keep-first, the llm_dedup_near rule).  Clustering
    bounds the quadratic term: pairs are only formed inside a cluster,
    never across the corpus — exactly why the published method scales
    where all-pairs cosine cannot.  Threshold probed non-degenerate on
    the fixtures (26/403 dup pairs at sf0.01/0.1; τ=0.45 leaves single
    digits, τ=0.30 sweeps in 400+).

    Exactness: vectors quantize to floor(64·x) ints (the cluster-assign
    discipline) and cosine ≥ τ is decided as dot>0 AND
    dot²·10⁴ ≥ τ²10⁴·|a|²·|b|² — all int64 (|q|≤2^7, dims 64 →
    dot² ≤ 2^36·10⁴), zero float divides, both engines decide ties
    identically.

    Scale shape: assignment is the zero-exchange literal-centroid scan;
    pairs use the llm_dedup_embedding BLOCKED kernel inside each
    cluster — members sub-block by vec_id%8, unordered block pairs
    join on the cluster key (equi, then blk_a<=blk_b filter), and each
    block pair runs ONE numpy int64 gemm in mapInPandas (a per-pair
    Catalyst HOF fold measured 6x slower at sf0.1, and a bare
    cluster-key join capped parallelism at k=4 tasks — the 144
    block-pair rows repartition across all cores).  Per-task memory is
    two blocks, never a cluster; k and the block count tune both
    (SemDeDup runs k in the tens of thousands at web scale, so
    clusters stay small).  The dup flag rejoins by vec_id."""
    import numpy as np

    asg = _quantized_cluster_assign(spark, d)
    blocked = (asg.groupBy(
        "cluster", F.pmod("vec_id", F.lit(8)).cast("int").alias("blk"))
        .agg(F.collect_list(F.struct("vec_id", "q")).alias("vecs")))
    a = blocked.select(F.col("cluster").alias("cl"),
                       F.col("blk").alias("blk_a"),
                       F.col("vecs").alias("va"))
    b = blocked.select(F.col("cluster").alias("cl"),
                       F.col("blk").alias("blk_b"),
                       F.col("vecs").alias("vb"))
    bp = (a.join(b, "cl").filter(F.col("blk_a") <= F.col("blk_b"))
          .repartition(32))

    def block_dups(batches):
        for pdf in batches:
            out = [np.array([], dtype=np.int64)]
            for va, vb in zip(pdf["va"], pdf["vb"]):
                ia = np.array([r["vec_id"] for r in va], dtype=np.int64)
                ib = np.array([r["vec_id"] for r in vb], dtype=np.int64)
                ma = np.array([r["q"] for r in va], dtype=np.int64)
                mb = np.array([r["q"] for r in vb], dtype=np.int64)
                # the int64 exactness of dot*dot*10000 below relies on
                # |q| < 2^7 (embeddings bounded near [-2,2] after the
                # <<6 quantization); enforce it rather than silently
                # wrap on an out-of-band fixture (r11 advice)
                for m in (ma, mb):
                    if m.size and np.abs(m).max() >= (1 << 7):
                        raise ValueError(
                            "semdedup quantized component out of the "
                            "int64-exact band (|q| >= 2^7)")
                dot = ma @ mb.T  # exact: int64 gemm, |dot| <= 64*2^14
                na, nb = (ma * ma).sum(1), (mb * mb).sum(1)
                sim = (dot > 0) & (dot * dot * 10000
                                   >= 1600 * na[:, None] * nb[None, :])
                ii, jj = np.nonzero(sim)
                # dup = the HIGHER id of each similar pair; same-block
                # matrices hold both orderings, cross-block each pair
                # once — taking both masks covers both layouts (the
                # overlap dedups in the distinct below)
                out.append(ib[jj][ia[ii] < ib[jj]])
                out.append(ia[ii][ia[ii] > ib[jj]])
            yield pd.DataFrame({"vec_id": np.concatenate(out)})

    dups = (bp.mapInPandas(block_dups, "vec_id bigint").distinct()
            .withColumn("is_dup", F.lit(True)))
    return (asg.select("vec_id", "cluster").join(dups, "vec_id", "left")
            .select("vec_id", "cluster",
                    F.coalesce("is_dup", F.lit(False)).alias("is_dup")))


# --- Product Quantization ANN (r11) -----------------------------------------

# unit-normalized 6-bit quantization: both engines compute the same IEEE
# doubles for norm/divide (left-to-right sums over the same array), so
# floor lands identically — the determinism argument every round() oracle
# in this file already relies on
_PQ_QV = """list_transform(embedding,
    x -> CAST(floor(CAST(x AS DOUBLE) * 64
              / sqrt(list_sum(list_transform(embedding,
                     y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))))
         AS BIGINT))"""

_PQ_ORACLE = f"""
WITH raw AS (
    SELECT vec_id, {_PQ_QV} AS qv,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
    FROM embeddings
    WHERE embedding IS NOT NULL
      AND list_sum(list_transform(embedding,
                   y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) > 0
), cb AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, qv AS cv
    FROM raw ORDER BY vec_id LIMIT 8
), sub AS (SELECT unnest(generate_series(0, 7)) AS s),
codes AS (
    SELECT v.vec_id, sub.s,
           CAST(MIN(
               list_sum(list_transform(generate_series(1, 8),
                        t -> (v.qv[sub.s * 8 + t] - cb.cv[sub.s * 8 + t])
                           * (v.qv[sub.s * 8 + t] - cb.cv[sub.s * 8 + t])))
               * 8 + cb.j) % 8 AS BIGINT) AS code
    FROM raw v CROSS JOIN sub CROSS JOIN cb
    GROUP BY v.vec_id, sub.s
), adc AS (
    SELECT qr.vec_id AS qid, c.vec_id AS cid,
           SUM(list_sum(list_transform(generate_series(1, 8),
                    t -> (qr.qv[c.s * 8 + t] - cb.cv[c.s * 8 + t])
                       * (qr.qv[c.s * 8 + t] - cb.cv[c.s * 8 + t]))))
               AS pq_dist2
    FROM (SELECT * FROM raw WHERE vec_id < 5) qr
    JOIN codes c ON c.vec_id <> qr.vec_id
    JOIN cb ON cb.j = c.code
    GROUP BY qr.vec_id, c.vec_id
), shortlist AS (
    SELECT qid, cid FROM (
        SELECT qid, cid,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY pq_dist2, cid) AS rn
        FROM adc)
    WHERE rn <= greatest(100, CAST(ceil(
        (SELECT count(*) FROM raw) / 10.0) AS BIGINT))
), rerank AS (
    SELECT s.qid, s.cid,
           round(list_sum(list_transform(generate_series(1, 64),
                          i -> a.e[i] * b.e[i]))
                 / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
                    * sqrt(list_sum(list_transform(b.e, x -> x * x)))), 4)
               + 0 AS cosine
    FROM shortlist s
    JOIN raw a ON a.vec_id = s.qid
    JOIN raw b ON b.vec_id = s.cid
)
SELECT qid, cid, cosine FROM (
    SELECT qid, cid, cosine,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cosine DESC, cid) AS rn
    FROM rerank) WHERE rn <= 10
"""


def _pq_qv_udf():
    """Vectorized 6-bit quantizer for _pq_raw (r16 optimization round):
    floor(x * 64 / sqrt(sum x^2)) per element, computed on whole Arrow
    batches.  Bit-identical to the interpreted higher-order-function
    form the oracle replays — the norm is a SEQUENTIAL left-fold
    (np.cumsum's running sum, matching F.aggregate's fold order; a
    pairwise np.sum would round differently) and floor/divide/sqrt are
    elementwise IEEE doubles either way; equality over every fixture
    vector was asserted before the swap.  The HOF form evaluated
    interpreted (no codegen) and _pq_raw appears under many subtrees of
    one ANN plan, so its per-row cost multiplied — measured 2.4x per
    evaluation at fixture scale, and at 100 TB this is the §4.2
    batch-native shape (the semdedup gemm discipline)."""
    @F.pandas_udf("array<bigint>")
    def qv_of(emb: pd.Series) -> pd.Series:
        import numpy as np

        if len(emb) == 0:
            return pd.Series([], dtype=object)
        arrs = emb.to_numpy()
        # Defensive domain guard (r17; r16 advisor): np.stack raises on
        # RAGGED rows and np.floor(nan/inf).astype(int64) is platform-
        # dependent UB — neither occurs on the certified fixed-dim
        # finite fixtures, but NaN embeddings PASS the n2 > 0 filter
        # (Spark orders NaN above 0), so such rows would reach this
        # kernel on a dirty corpus.  Ragged batches fall back to per-row
        # processing (same math); any row with a non-finite element or
        # norm yields NULL qv — deterministic, never UB.  (The oracle
        # has no defined answer for them either: DuckDB's CAST(NaN AS
        # BIGINT) errors, so NULL here is a defined engine behavior on
        # an input outside the declared domain, not a parity surface.)
        lens = {len(a) if a is not None else -1 for a in arrs}
        if len(lens) == 1 and -1 not in lens:
            X = np.asarray(
                np.stack(arrs), dtype=np.float64)
            n2 = np.cumsum(X * X, axis=1)[:, -1]
            ok = np.isfinite(X).all(axis=1) & np.isfinite(n2) & (n2 > 0)
            if ok.all():
                qv = np.floor(X * 64.0 / np.sqrt(n2)[:, None]) \
                    .astype(np.int64)
                return pd.Series(list(qv))
            safe = np.where(ok[:, None], X, 1.0)
            sn2 = np.cumsum(safe * safe, axis=1)[:, -1]
            qv = np.floor(safe * 64.0 / np.sqrt(sn2)[:, None]) \
                .astype(np.int64)
            return pd.Series([q if k else None
                              for q, k in zip(qv, ok)])

        def row_qv(a):
            if a is None:
                return None
            x = np.asarray(a, dtype=np.float64)
            n2 = np.cumsum(x * x)[-1] if len(x) else 0.0
            if not (np.isfinite(x).all() and np.isfinite(n2) and n2 > 0):
                return None
            return np.floor(x * 64.0 / np.sqrt(n2)).astype(np.int64)
        return pd.Series([row_qv(a) for a in arrs])
    return qv_of


def _pq_raw(spark, d):
    """Shared PQ-family input (llm_similarity_pq / llm_similarity_ivfadc):
    (vec_id, e = double vector, qv = unit-normalized 6-bit integer
    quantization) over non-null, non-zero-norm embeddings — the ONE
    definition both operators' oracles replay (_PQ_QV), so a scale or
    filter change cannot silently diverge them.  qv rides the
    vectorized Arrow kernel (_pq_qv_udf, value-identical to the HOF
    replay); the zero-norm filter stays an engine-side expression so
    the excluded rows match the oracle's n2 > 0 predicate exactly."""
    norm2 = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda a, x: a + x)
    return (T(spark, d, "embeddings").filter(F.col("embedding").isNotNull())
            .withColumn("n2", norm2).filter(F.col("n2") > 0)
            .select("vec_id",
                    F.col("embedding").cast("array<double>").alias("e"),
                    _pq_qv_udf()(F.col("embedding").cast("array<double>"))
                    .alias("qv")))


def _pq_subspaces(df, idcol: str):
    """(id, s, sv): one row per 8-dim subspace slice of qv."""
    return df.select(
        F.col("vec_id").alias(idcol),
        F.posexplode(F.array(*[F.slice("qv", s * 8 + 1, 8)
                               for s in range(8)])).alias("s", "sv"))


def _pq_codes_ckpt(raw):
    """Materialize the (vec_id, qv) code frame ONCE per ANN build (r17;
    r16 verdict task 1).  Every PQ/IVFADC plan references the quantized
    codes under MANY subtrees — coarse-centroid collect, cell
    assignment, probe arm, codebook, candidate encode, query LUT — and
    each reference re-ran the parquet scan plus the Arrow quantizer
    kernel: llm_similarity_ivfadc_residual's r16 plan held 36 scans /
    58 exchanges / 8 ArrowEvalPython nodes for ONE query.  This is the
    guide §2.4 duplicated-work defect; the fix is the §5/§8 discipline
    the LSH family already uses — eagerly localCheckpoint the
    lightweight frame (codes are THE index artifact a real IVFPQ build
    materializes once; the embeddings themselves are never cached) and
    derive every qv consumer from the checkpoint blocks.  The exact
    re-rank still reads its vectors from parquet — with qv out of its
    projection the scan carries no Python node (column pruning removes
    the quantizer entirely).  The checkpoint lives inside the timed
    query body: every bench/oracle invocation recomputes it from the
    parquet inputs."""
    return raw.select("vec_id", "qv").localCheckpoint(eager=True)


@register("llm_similarity_pq", oracle=_PQ_ORACLE)
def llm_similarity_pq(spark, d):
    """ANN scale path #4 — Product Quantization with refine (Jégou et
    al. 2011; the faiss PQ / IVFADC-refine shape): unit-normalized
    vectors quantize to 6-bit ints and split into 8 subspaces of 8
    dims; each subspace gets an 8-entry codebook (sub-vectors of the 8
    lowest-id vectors — deterministic, the cluster-assign centroid
    discipline), collapsing the CORPUS to 8 codes = 24 bits per vector.
    Queries rank candidates by Asymmetric Distance Computation — one
    8x8 table of exact integer sub-distances per query, 8 LUT adds per
    candidate instead of 64 multiplies — keep a shortlist of
    max(100, ceil(n/10)) candidates (scaled with corpus size, r11
    verdict task 6: the fixed top-100 floor read recall 0.64 at sf0.1
    where 100 is only 5% of the corpus; the scaled shortlist restores
    the 0.8 band while ADC still prunes 90%), then re-rank JUST the
    shortlist by exact cosine and emit the top-10.  Every stage is deterministic (integer encode with
    ties-to-lowest-code, integer ADC, 4dp-rounded re-rank with cid
    tiebreak), so unlike the rows-only IVF entry the whole pipeline is
    hash-oracled.  Recall vs the full exact top-10 is pinned in
    tests/test_llm_dedup.py (random near-orthogonal fixtures are PQ's
    worst case; real embedding corpora cluster).

    Scale shape: the codebook is DATA broadcast onto an exploded
    (vector, subspace) relation — one tiny equi-join, not a literal
    expression tree (the literal-inlined first cut compiled a 64-fold
    tree costing ~5 s of planning alone); the per-query LUT (8x8 = 64
    rows/query) broadcasts onto the corpus codes as a (s, code)
    equi-join, so per-candidate ADC work is 8 integer lookups — the
    memory-bandwidth shape that scans billions of codes; the exact
    re-rank touches 100 rows per query, never the corpus.  At 100 TB
    codebooks come from sampled k-means (256 codes = 8 bits/subspace),
    codes live in a slim column, and an IVF coarse stage prunes before
    ADC (llm_similarity_ivfadc — which shares _pq_raw/_pq_subspaces
    with this operator)."""
    raw = _pq_raw(spark, d)
    # (vec_id, qv) codes materialized once — every qv consumer below
    # (codebook, corpus encode, query LUT, shortlist-scale count) used
    # to re-run the scan + Arrow quantizer kernel (r17; see
    # _pq_codes_ckpt)
    qvf = _pq_codes_ckpt(raw)
    _subspaces = _pq_subspaces

    # codebook as DATA, not literals (the literal-inlined form compiled
    # a 64-fold expression tree that cost ~5 s of planning alone):
    # entry j of subspace s = sub-vector of the j-th lowest-id vector
    wj = Window.orderBy("vec_id")  # 8 rows: trivial single-partition sort
    cb = _subspaces(
        qvf.orderBy("vec_id").limit(8)
           .withColumn("j", F.row_number().over(wj) - 1)
           .withColumn("vec_id", F.col("j")), "j") \
        .select("j", "s", F.col("sv").alias("cv"))

    # exact integer L2^2 of every (vector-subspace, codebook-entry) pair
    d2 = F.aggregate(F.zip_with("sv", "cv", lambda a, b: (a - b) * (a - b)),
                     F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    corpus_d2 = (_subspaces(qvf, "cid").join(F.broadcast(cb), "s")
                 .select("cid", "s", "j", d2.alias("d2")))
    # encode: argmin entry per (vector, subspace), ties -> lowest j
    codes = (corpus_d2.groupBy("cid", "s")
             .agg(F.min(F.struct("d2", "j"))["j"].alias("code")))

    # query-side ADC lookup table, long form: (qid, s, j, d2)
    lut = (_subspaces(qvf.filter(F.col("vec_id") < 5), "qid")
           .join(F.broadcast(cb), "s")
           .select("qid", "s", "j", d2.alias("d2")))

    # ADC: 8 integer lookups per (query, candidate) via one equi-join
    adc = (codes.join(F.broadcast(lut),
                      (codes["s"] == lut["s"]) & (codes["code"] == lut["j"]))
           .filter(F.col("qid") != F.col("cid"))
           .groupBy("qid", "cid").agg(F.sum("d2").alias("pq_dist2")))
    # shortlist scales with corpus size (one bounded driver scalar —
    # at production the corpus cardinality is a known table stat);
    # counted off the checkpointed codes, not a fresh scan
    k_short = max(100, -(-qvf.count() // 10))
    w_adc = Window.partitionBy("qid").orderBy(F.col("pq_dist2").asc(),
                                              F.col("cid").asc())
    shortlist = (adc.withColumn("rn", F.row_number().over(w_adc))
                 .filter(F.col("rn") <= k_short).select("qid", "cid"))

    qe = raw.select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"))
    ce = raw.select(F.col("vec_id").alias("cid"), F.col("e").alias("ce"))
    dot = F.aggregate(F.zip_with("qe", "ce", lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)

    def nrm(c):
        return F.sqrt(F.aggregate(F.transform(c, lambda x: x * x),
                                  F.lit(0.0), lambda a, x: a + x))

    rerank = (F.broadcast(shortlist).join(qe, "qid").join(ce, "cid")
              .select("qid", "cid",
                      (F.round(dot / (nrm("qe") * nrm("ce")), 4)
                       + F.lit(0.0)).alias("cosine")))
    w_fin = Window.partitionBy("qid").orderBy(F.col("cosine").desc(),
                                              F.col("cid").asc())
    return (rerank.withColumn("rn", F.row_number().over(w_fin))
            .filter(F.col("rn") <= 10).select("qid", "cid", "cosine"))


# --- Kneser-Ney smoothed bigram scoring (r11) -------------------------------

_KN_ORACLE = """
WITH tok AS (
    SELECT doc_id, w[i] AS cur, w[i+1] AS nxt
    FROM (SELECT doc_id, string_split(text, ' ') AS w,
                 unnest(generate_series(1,
                        len(string_split(text, ' ')) - 1)) AS i
          FROM documents
          WHERE len(string_split(text, ' ')) >= 2)
), big AS (
    SELECT cur, nxt, CAST(count(*) AS DOUBLE) AS c2
    FROM tok GROUP BY cur, nxt
), uni AS (
    SELECT cur, CAST(sum(c2) AS DOUBLE) AS c1,
           CAST(count(*) AS DOUBLE) AS n_follow
    FROM big GROUP BY cur
), cont AS (
    SELECT nxt, CAST(count(*) AS DOUBLE) AS n_prec FROM big GROUP BY nxt
), tot AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM big)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(CAST(round(
           ln((c2 - 0.75) / c1
              + ((0.75 * n_follow) / c1) * (n_prec / t)) * 1000000)
           AS BIGINT)) AS BIGINT) AS kn_logprob_fp6
FROM tok JOIN big USING (cur, nxt) JOIN uni USING (cur)
         JOIN cont USING (nxt) CROSS JOIN tot
GROUP BY doc_id
"""


@register("llm_bigram_kneser_ney", oracle=_KN_ORACLE)
def llm_bigram_kneser_ney(spark, d):
    """Kneser-Ney smoothed bigram scoring (Kneser & Ney 1995; the
    standard n-gram LM smoothing, and the model behind KenLM-style
    perplexity filters): P(nxt|cur) = max(c(cur,nxt)-D, 0)/c(cur) +
    D·N1+(cur·)/c(cur) · N1+(·nxt)/|bigram types|, with absolute
    discount D=0.75 and the CONTINUATION probability replacing the raw
    unigram in the backoff — the insight that makes KN the default
    (how many contexts a word follows, not how often it occurs).
    Scoring the corpus's own text means every bigram is observed
    (c2 ≥ 1 > D), so the discounted term never clamps.  Per-doc totals
    accumulate as FIXED-POINT micro-nats (the llm_bigram_logprob
    discipline): both engines build the identical arithmetic expression
    over the same integer counts, round each pair's ln to 1e-6, and sum
    BIGINTs — order-independent, zero reassociation risk.

    Scale shape: bigram counts shuffle on the pair; the conditional
    join on the predecessor and the continuation join on the successor
    both stay shuffle-based (vocabulary scales with the corpus — no
    broadcast hint by policy); only the 1-row type-count broadcasts."""
    docs = (T(spark, d, "documents")
            .select("doc_id", F.split("text", " ").alias("w"))
            .filter(F.size("w") >= 2))
    tok = docs.select(
        "doc_id",
        F.explode(F.transform(
            F.sequence(F.lit(1), F.size("w") - 1),
            lambda i: F.struct(
                F.element_at(F.col("w"), i).alias("cur"),
                F.element_at(F.col("w"), i + 1).alias("nxt")))).alias("p")
    ).select("doc_id", "p.cur", "p.nxt")
    # the bigram-type counts feed FOUR consumers (uni, cont, tot and the
    # scoring join) — each re-ran the corpus explode + pair aggregation
    # without the checkpoint (guide §2.4/§5); count tables are exactly
    # what an n-gram LM pipeline materializes
    big = (tok.groupBy("cur", "nxt").agg(
        F.count("*").cast("double").alias("c2"))
        .localCheckpoint(eager=True))
    uni = big.groupBy("cur").agg(
        F.sum("c2").cast("double").alias("c1"),
        F.count("*").cast("double").alias("n_follow"))
    cont = big.groupBy("nxt").agg(
        F.count("*").cast("double").alias("n_prec"))
    tot = big.agg(F.count("*").cast("double").alias("t"))
    lp = F.log((F.col("c2") - 0.75) / F.col("c1")
               + ((0.75 * F.col("n_follow")) / F.col("c1"))
               * (F.col("n_prec") / F.col("t")))
    return (tok.join(big, ["cur", "nxt"]).join(uni, "cur")
            .join(cont, "nxt").join(F.broadcast(tot))
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_bigrams"),
                 F.sum(F.round(lp * 1e6).cast("bigint"))
                 .alias("kn_logprob_fp6")))


# --- end-to-end pipeline composition (r11) ----------------------------------

_PIPE_ORACLE = f"""
WITH raw AS (
    SELECT doc_id, text,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
    FROM documents WHERE text IS NOT NULL AND doc_id >= 50
), q AS (
    SELECT * FROM raw WHERE nt BETWEEN 15 AND 90
), dd AS (
    SELECT doc_id, text, nt FROM (
        SELECT *, min(doc_id) OVER (PARTITION BY
            md5(trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')))
        ) AS keep FROM q) WHERE doc_id = keep
), ev AS (
    SELECT DISTINCT array_to_string(list_slice(w, i, i + 7), ' ') AS sh
    FROM (SELECT string_split(text, ' ') AS w FROM documents
          WHERE text IS NOT NULL AND doc_id < 50
            AND len(string_split(text, ' ')) >= 8),
         unnest(generate_series(1, len(w) - 7)) AS t(i)
), contam AS (
    SELECT DISTINCT doc_id
    FROM (SELECT doc_id, string_split(text, ' ') AS w
          FROM dd WHERE nt >= 8),
         unnest(generate_series(1, len(w) - 7)) AS t(i)
    JOIN ev ON array_to_string(list_slice(w, i, i + 7), ' ') = ev.sh
), dc AS (
    SELECT * FROM dd WHERE doc_id NOT IN (SELECT doc_id FROM contam)
), tr AS (
    SELECT * FROM dc
    WHERE {_duck_md5_window('text', 1)} % 1000 < 900
)
SELECT 'a_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nt) AS BIGINT) AS n_tokens FROM raw
UNION ALL SELECT 'b_quality', CAST(count(*) AS BIGINT),
       CAST(sum(nt) AS BIGINT) FROM q
UNION ALL SELECT 'c_dedup', CAST(count(*) AS BIGINT),
       CAST(sum(nt) AS BIGINT) FROM dd
UNION ALL SELECT 'd_decontaminated', CAST(count(*) AS BIGINT),
       CAST(sum(nt) AS BIGINT) FROM dc
UNION ALL SELECT 'e_train', CAST(count(*) AS BIGINT),
       CAST(sum(nt) AS BIGINT) FROM tr
"""


@register("llm_pipeline_end_to_end", oracle=_PIPE_ORACLE)
def llm_pipeline_end_to_end(spark, d):
    """End-to-end training-data pipeline COMPOSITION — the proof the
    individual operators chain into the thing a user actually runs:
    raw corpus (eval docs excluded) → length-gate quality filter
    (llm_quality_gopher's core bounds) → normalized exact dedup
    keep-first (llm_dedup_exact_normalized's digest) → benchmark
    decontamination (llm_decontaminate's 8-gram rule against eval docs
    0-49) → 90% train split (llm_train_test_split's md5 bucket).  The
    output is the per-stage funnel (docs, tokens surviving each stage)
    — the dataset-card accounting a pipeline run reports — with every
    stage's rule deterministic, so the WHOLE chain hash-replays in SQL.

    Scale shape: one corpus scan feeds the chain; the only shuffles are
    the dedup digest window and the shingle equi-join (raw text never
    shuffles — digests and 8-gram strings do); the eval shingle set is
    tiny and auto-broadcasts (no hint: it follows a grouped distinct
    the lint can't bound); stage counts are scalar aggregates.  Each
    stage's standalone operator documents its own 100 TB story — this
    query pins that composing them changes nothing."""
    raw = (T(spark, d, "documents")
           .filter(F.col("text").isNotNull() & (F.col("doc_id") >= 50))
           .select("doc_id", "text",
                   F.size(F.split("text", " ")).cast("bigint").alias("nt")))
    q = raw.filter(F.col("nt").between(15, 90))
    h = F.md5(F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", "")))
    wdup = Window.partitionBy(h)
    # the deduped stage feeds its own funnel row, the contamination
    # probe AND every later stage — without the checkpoint the dedup
    # window re-ran four times per funnel (guide §2.4/§5); a real
    # pipeline materializes each stage's output, which is exactly what
    # the checkpoint does
    dd = (q.withColumn("keep", F.min("doc_id").over(wdup))
          .filter(F.col("doc_id") == F.col("keep"))
          .drop("keep")
          .localCheckpoint(eager=True))

    def _shingles(df):
        # w staged as a COLUMN before the lambda (raw split(text) in a
        # higher-order lambda re-evaluates per element — O(tokens^2)
        # per doc, the llm_winnow_fingerprint finding)
        return (df.select("doc_id", F.split("text", " ").alias("w"))
                .filter(F.size("w") >= 8)
                .select("doc_id", F.explode(F.transform(
                    F.sequence(F.lit(0), F.size("w") - 8),
                    lambda i: F.concat_ws(" ", F.slice("w", i + 1, 8))))
                 .alias("sh")))

    ev = (_shingles(T(spark, d, "documents")
                    .filter(F.col("text").isNotNull()
                            & (F.col("doc_id") < 50)))
          .select("sh").distinct())
    contam = (_shingles(dd).join(ev, "sh").select("doc_id").distinct())
    dc = (dd.join(contam, "doc_id", "left_anti")
          .localCheckpoint(eager=True))
    bucket = (F.conv(F.substring(F.md5("text"), 1, 8), 16, 10)
              .cast("bigint") % 1000)
    tr = dc.filter(bucket < 900)

    def _stage(df, name):
        return df.agg(F.lit(name).alias("stage"),
                      F.count("*").cast("bigint").alias("n_docs"),
                      F.sum("nt").cast("bigint").alias("n_tokens"))

    return (_stage(raw, "a_raw")
            .unionByName(_stage(q, "b_quality"))
            .unionByName(_stage(dd, "c_dedup"))
            .unionByName(_stage(dc, "d_decontaminated"))
            .unionByName(_stage(tr, "e_train")))


# the CTE chain shared by llm_dedup_embedding_lsh (pair output) and
# llm_dedup_embedding_lsh_canonical (connected-components output): the
# oracle replay of bucketing, Hamming-1 probing, candidate generation
# and exact-cosine verification — ONE definition so the two replays can
# never drift (r16).
_DEDUP_LSH_CTES = f"""nz AS (
        SELECT vec_id, embedding FROM embeddings
        WHERE embedding IS NOT NULL
          AND len(list_filter(embedding, x -> x <> 0)) > 0
    ), w AS ({_LSH_W_SQL}
    ), proj AS (
        SELECT n.vec_id, w.t, w.b,
               sum(w.wv * CAST(n.embedding[w.i + 1] AS DOUBLE)) AS s
        FROM nz n, w
        GROUP BY n.vec_id, w.t, w.b
    ), sig AS (
        SELECT vec_id, t,
               CAST(sum(CASE WHEN s >= 0
                             THEN (CAST(1 AS BIGINT) << b)
                             ELSE 0 END) AS BIGINT) AS bucket
        FROM proj GROUP BY vec_id, t
    ), ap AS (
        SELECT vec_id, t,
               CASE WHEN j < 0 THEN bucket
                    ELSE xor(bucket, (CAST(1 AS BIGINT) << j)) END AS bucket
        FROM sig,
             (SELECT unnest(generate_series(-1, {_LSH_BITS - 1})) AS j)
    ), cand AS (
        SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
        FROM ap a JOIN sig b
          ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    ), pos AS (
        SELECT cand.va, cand.vb, qa.embedding AS ae, qb.embedding AS be,
               unnest(generate_series(1, 64)) AS i
        FROM cand JOIN nz qa ON qa.vec_id = cand.va
                  JOIN nz qb ON qb.vec_id = cand.vb
    ), dots AS (
        SELECT va, vb,
               sum(CAST(ae[i] AS DOUBLE) * CAST(be[i] AS DOUBLE)) AS dot,
               sum(CAST(ae[i] AS DOUBLE) * CAST(ae[i] AS DOUBLE)) AS aa,
               sum(CAST(be[i] AS DOUBLE) * CAST(be[i] AS DOUBLE)) AS bb
        FROM pos GROUP BY va, vb
    )"""

_DEDUP_LSH_ORACLE = f"""
    WITH {_DEDUP_LSH_CTES}
    SELECT va AS vec_a, vb AS vec_b,
           round(dot / (sqrt(aa) * sqrt(bb)), 4) + 0 AS cosine
    FROM dots
    WHERE round(dot / (sqrt(aa) * sqrt(bb)), 4) >= 0.45
"""


@register("llm_dedup_embedding_lsh", oracle=_DEDUP_LSH_ORACLE)
def llm_dedup_embedding_lsh(spark, d, threshold: float = 0.45):
    """Embedding-cosine near-dup, LSH-bucketed — the 100 TB scale form
    of llm_dedup_embedding (r11 verdict task 3: the exact all-pairs
    blocked gemm was the one declared operator whose candidate set grew
    O(n^2); this replaces it with the sign-projection prefilter and
    keeps the all-pairs form as the recall baseline at test scale).

    Candidates = pairs co-bucketed in ANY of the 8 deterministic LSH
    tables, with Hamming-1 multi-probe on one side of the self-join —
    the same hyperplanes AND probe policy as llm_similarity_lsh (ONE
    shared signature kernel so the two queries can never drift); each
    candidate is then verified with the exact rounded cosine at the
    same 0.45 threshold.  The oracle replays bucketing, probing,
    candidate generation and verification verbatim in SQL, so the hash
    pins the whole pipeline.  Recall vs the exact baseline is a corpus
    property — the fixture's near-random vectors are sign-LSH's worst
    case, band pinned in tests/test_llm_dedup.py (0.65-0.71 observed
    across sf0.001-0.1); precision is 1.0 by construction — every
    emitted pair passed the exact check.

    100 TB shape: signatures ride the scan projection (one Arrow-batch
    gemm, no fit step, no driver state); the candidate join is a
    (t, bucket) equi-self-join — never a cross join (plan-pinned) —
    whose collision fraction is ~(bits+1)*tables/2^bits of all pairs,
    independent of n, and shrinks as bits grow with log(corpus); the
    verify is one vectorized per-batch numpy pass over candidate pairs
    only.

    Hot-bucket guard (r14): the r14 10x dataset rehearsal measured the
    mass-duplicate hazard this docstring used to merely name — a
    replica-heavy corpus puts m near-identical vectors in the SAME
    bucket of EVERY table, so candidates grew ~m^2 per bucket (58x
    wall, 92x shuffle at 10x data).  Buckets larger than DEDUP_DF_CAP
    now get the llm_dedup_minhash STAR treatment: every probing vector
    pairs with the bucket's min-id representative only — O(|bucket|)
    per bucket; for a SINGLE-cluster hot bucket connectivity is
    preserved for downstream connected-components, while a MIXED hot
    bucket (two distinct dup clusters colliding) loses its non-min
    cluster's intra edges to failed verifies — the r15 counters
    (star_candidate_pairs vs star_pairs_kept, see the in-code note)
    make that trade measurable per run alongside the starred-bucket
    count (DEDUP_OBSERVATIONS['llm_dedup_embedding_lsh']).  The guard carries
    NO posting lists: per-bucket size + min-id come from a plain
    partial aggregate (at most tables * 2^bits rows) broadcast to both
    probe arms, so hot-bucket members never ride an agg buffer or the
    wire (the collect_list draft did both — r14 review).  On the driver
    fixtures the cap never fires — pytest-pinned — so the exact-oracle
    hash contract is unchanged; re-measured after the guard, the 10x
    rehearsal corpus dropped 161.8 -> ~22-32 s across host conditions
    (546 of 1871 buckets starred), scaling back to ~linear in n at a
    ~1.2x fixture-scale cost (3.7 vs 3.05 s ledger)."""
    import numpy as np

    emb = (T(spark, d, "embeddings")
           .select("vec_id",
                   F.col("embedding").cast("array<double>").alias("e"))
           .filter(F.col("e").isNotNull()))
    nz = emb.filter(F.exists("e", lambda x: x != 0))

    # signatures materialized ONCE: sigl feeds three subtrees (probe arm,
    # bucket stats, build arm), and without the checkpoint each one
    # re-ran the full scan + signature gemm — two redundant corpus
    # passes at every scale (r16 optimization round).  The frame is the
    # §8 lightweight proxy: (vec_id, t, bucket) = tables x ~24 bytes per
    # vector, never the embeddings themselves.
    sigl = (nz.select("vec_id", _lsh_buckets_udf()("e").alias("bk"))
            .select("vec_id", F.posexplode("bk").alias("t", "bucket"))
            .localCheckpoint(eager=True))
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << j))
          for j in range(_LSH_BITS)])
    a = sigl.select("t", F.explode(probes).alias("bucket"),
                    F.col("vec_id").alias("va"))
    # per-bucket SIZE + min-id representative via a plain partial
    # aggregate — no collect_list anywhere, so no unbounded posting
    # array in an agg buffer and no m-element array copied onto every
    # probe row (r14 review: the first guard draft carried the full ids
    # list through the join, keeping the O(m^2) bytes it claimed to
    # remove).  Under-cap buckets keep the ORIGINAL (t,bucket)
    # equi-self-join restricted by the stats; over-cap buckets join to
    # the 1-row representative instead.
    obs = Observation()
    DEDUP_OBSERVATIONS["llm_dedup_embedding_lsh"] = obs
    stats = (sigl.groupBy("t", "bucket")
             .agg(F.count("*").alias("bsz"), F.min("vec_id").alias("rep"))
             .observe(obs,
                      F.count(F.when(F.col("bsz") > DEDUP_DF_CAP, 1))
                       .alias("starred_hot_buckets"),
                      F.count("*").alias("distinct_buckets")))
    # stats has at most tables * 2^bits rows (2048 here) — a broadcast
    # dim, so neither probe side pays an extra shuffle for the guard;
    # at production bit counts (~log2(n/target_bucket)) it stays MBs
    # through bits ~ 16, beyond which the hint should be dropped and
    # AQE left to pick the join side
    b = sigl.select("t", "bucket", F.col("vec_id").alias("vb"))
    b_sized = b.join(F.broadcast(stats), ["t", "bucket"])
    under = (a.join(b_sized.filter(F.col("bsz") <= DEDUP_DF_CAP)
                    .select("t", "bucket", "vb"), ["t", "bucket"])
             .select("va", "vb"))
    over = (a.join(F.broadcast(stats.filter(F.col("bsz") > DEDUP_DF_CAP)
                               .select("t", "bucket", "rep")),
                   ["t", "bucket"])
            .select("va", F.col("rep").alias("vb")))
    # star pairs stay tagged so the operational counters below can see
    # them; max(star) replaces the bare distinct (same exchange — a
    # pair reachable through both an under-cap and a starred bucket
    # must not emit twice)
    cand = (under.withColumn("star", F.lit(False))
            .unionByName(over.withColumn("star", F.lit(True)))
            .filter(F.col("va") != F.col("vb"))
            .select(F.least("va", "vb").alias("va"),
                    F.greatest("va", "vb").alias("vb"), "star")
            .groupBy("va", "vb").agg(F.max("star").alias("star")))

    ea = nz.select(F.col("vec_id").alias("va"), F.col("e").alias("ea"))
    eb = nz.select(F.col("vec_id").alias("vb"), F.col("e").alias("eb"))
    # MIXED-CLUSTER LIMIT of the star arm (r14 advisor, documented +
    # counted): an over-cap bucket holding TWO distinct dup clusters
    # (different directions colliding in one LSH bucket) pairs the
    # non-min cluster's members only with the OTHER cluster's min-id
    # rep — those star pairs fail the cosine verify and the bucket
    # contributes no intra-cluster edges for them; recovery relies on
    # the cluster surfacing in some other table's bucket (8 tables ×
    # Hamming-1 probes make a full 8-way collision of two distinct
    # directions vanishingly rare, but it is a trade, not a theorem).
    # The counters make it visible operationally: star_candidate_pairs
    # (pre-verify) minus star_pairs_kept (post-verify) = verify-failed
    # star pairs — a LARGE gap on a starred corpus is exactly the
    # mixed-hot-bucket signature that says "raise DEDUP_DF_CAP or add
    # bits for this corpus".
    star_obs = Observation()
    DEDUP_OBSERVATIONS["llm_dedup_embedding_lsh_star"] = star_obs
    paired = (cand.join(ea, "va").join(eb, "vb")
              .observe(star_obs,
                       F.count(F.when(F.col("star"), 1))
                        .alias("star_candidate_pairs")))

    def verify(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ma = np.stack(pdf["ea"].to_numpy())
            mb = np.stack(pdf["eb"].to_numpy())
            dot = (ma * mb).sum(1)
            cos = np.round(dot / (np.linalg.norm(ma, axis=1)
                                  * np.linalg.norm(mb, axis=1)), 4)
            keep = cos >= threshold
            yield pd.DataFrame({"vec_a": pdf["va"].to_numpy()[keep],
                                "vec_b": pdf["vb"].to_numpy()[keep],
                                "cosine": cos[keep],
                                "star": pdf["star"].to_numpy()[keep]})

    kept_obs = Observation()
    DEDUP_OBSERVATIONS["llm_dedup_embedding_lsh_star_kept"] = kept_obs
    return (paired.mapInPandas(
                verify,
                "vec_a bigint, vec_b bigint, cosine double, star boolean")
            .observe(kept_obs,
                     F.count(F.when(F.col("star"), 1))
                      .alias("star_pairs_kept"))
            .drop("star"))


@register(
    "llm_dedup_embedding_lsh_canonical",
    oracle=f"""
    WITH RECURSIVE {_DEDUP_LSH_CTES},
    pairs AS (
        SELECT va, vb FROM dots
        WHERE round(dot / (sqrt(aa) * sqrt(bb)), 4) >= 0.45
    ),
    bidir AS (
        SELECT va AS src, vb AS dst FROM pairs
        UNION ALL SELECT vb, va FROM pairs
    ),
    walk(node, lbl) AS (
        SELECT vec_id, vec_id FROM nz
        UNION
        SELECT b.dst, w.lbl FROM walk w JOIN bidir b ON b.src = w.node
        WHERE w.lbl < b.dst
    )
    SELECT node AS vec_id, min(lbl) AS canonical_id,
           CAST(min(lbl) <> node AS BOOLEAN) AS is_duplicate
    FROM walk GROUP BY node
    """,
)
def llm_dedup_embedding_lsh_canonical(spark, d, max_iter: int = 20):
    """LINEAR-OUTPUT embedding dedup at LSH scale: the LSH-verified
    cosine pairs collapsed to a (vec_id, canonical_id) keep/drop
    mapping via connected components — O(vectors) output regardless of
    how mass-duplicated the corpus is.  This is the query the r16 100x
    rehearsal receipt names as the production path for replica-heavy
    corpora: llm_dedup_embedding_lsh's pair output is quadratic in
    clone-chain length BY SEMANTICS (~5.6M true pairs at 100x staged
    clones), while this canonical mapping stays one row per vector no
    matter what.  Composition of two certified pieces — the emb-LSH
    edge build (bucketing + Hamming-1 probing + exact verify, ONE
    shared CTE replay `_DEDUP_LSH_CTES`) and the min-label propagation
    loop shared with llm_dedup_clusters (`_min_label_propagation`).

    Scale shape: the edge build is the emb-LSH plan verbatim
    (equi-self-join on (t, bucket), hot-bucket star guard, vectorized
    verify) and localCheckpoints once so each CC round scans a short
    in-storage frame; the loop runs on the dup SUBGRAPH only (isolated
    vectors never enter it — attached by ONE closing left join), one
    shuffle per round on frames that are O(dup vectors); rounds =
    cluster diameter, and the star guard keeps hot buckets' edges
    star-shaped (diameter 2) so mass-dup corpora CONVERGE FASTER.  The
    edge build and the loop run through :func:`_canonical_components`,
    so the caller's conf is never touched.

    Oracle scope (r16 review): the SQL replay generates the GUARD-FREE
    candidate set — like llm_dedup_embedding_lsh's own oracle — so the
    hash contract rests on the cap never firing on the driver fixtures
    (starred_hot_buckets == 0, pinned for THIS op in
    tests/test_llm_dedup.py's union-find test, not just for the pair
    op).  When the cap fires on a real mass-dup corpus the mixed-bucket
    edge loss documented on llm_dedup_embedding_lsh applies at CLUSTER
    granularity here (a dropped spoke-spoke edge can split a
    component); the star counters make it observable per run."""
    return _canonical_components(
        spark, d, "vec_id",
        lambda s: llm_dedup_embedding_lsh(s, d).select("vec_a", "vec_b"),
        lambda s: (T(s, d, "embeddings")
                   .select("vec_id", F.col("embedding")
                           .cast("array<double>").alias("e"))
                   .filter(F.col("e").isNotNull())
                   .filter(F.exists("e", lambda x: x != 0))
                   .select("vec_id")),
        max_iter)


@register(
    "llm_containment_dedup",
    oracle="""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ), pos AS (
        SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM tok
    ), sh AS (
        SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
        FROM pos
    ), cnt AS (
        SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), ok AS (
        SELECT shingle FROM sh GROUP BY shingle HAVING count(*) BETWEEN 2 AND 64
    ), inter AS (
        SELECT a.doc_id AS doc_inner, b.doc_id AS doc_outer, count(*) AS common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        JOIN ok ON ok.shingle = a.shingle
        GROUP BY 1, 2
    )
    SELECT doc_inner, doc_outer,
           round(CAST(common AS DOUBLE) / ci.n, 4) AS containment
    FROM inter
    JOIN cnt ci ON ci.doc_id = doc_inner
    WHERE CAST(common AS DOUBLE) / ci.n >= 0.8
    """,
)
def llm_containment_dedup(spark, d):
    """DIRECTED containment dedup (r12): shingle containment
    |sh(A) ∩ sh(B)| / |sh(A)| >= 0.8 flags A as (near-)contained in B —
    the asymmetric relation Jaccard misses (a paragraph quoted inside a
    long page scores high containment but low Jaccard; real pipelines
    drop the contained side, not both).  Mutual containment (exact
    dups) emits both directions.  Candidate generation is the SAME
    one-shuffle shingle inverted index as llm_dedup_near — posting
    lists capped at DEDUP_DF_CAP before pair expansion (cap mirrored in
    the oracle's ok CTE; drop counts observable via
    DEDUP_OBSERVATIONS['llm_containment_dedup']) — the only change is
    ORDERED pair expansion and the inner-side denominator.  The fixture
    corpus separates the arms cleanly (containments jump 0.27 -> 0.90
    across sfs, probed before registration), so the 0.8 threshold sits
    in a gap, never on a rounding boundary."""
    docs = T(spark, d, "documents").select(
        "doc_id", F.split("text", " ").alias("w"))
    docs = docs.filter(F.size("w") >= 3)
    # generator input INLINE — see llm_dedup_near (staged references
    # trigger inferred-filter expression duplication)
    sh = docs.select("doc_id", F.explode(_shingle_array()).alias("shingle"))
    # per-doc count as the aggregate-over-explode form — r17 revert of
    # the r16 narrow rewrite, same rationale as llm_dedup_near's cnt
    # (the old exchange already carried 16 B/doc of partial counts; the
    # narrow form re-evaluated the shingle expression and read slower)
    cnt = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    obs = Observation()
    DEDUP_OBSERVATIONS["llm_containment_dedup"] = obs
    posts = (sh.groupBy("shingle").agg(F.collect_list("doc_id").alias("ids"))
             .observe(obs,
                      F.count(F.when(F.size("ids") > DEDUP_DF_CAP, 1))
                       .alias("dropped_hot_shingles"),
                      F.count("*").alias("distinct_shingles"))
             .filter(F.size("ids").between(2, DEDUP_DF_CAP)))
    inter = (posts
             .select(F.explode("ids").alias("doc_inner"), "ids")
             .select("doc_inner", F.explode("ids").alias("doc_outer"))
             .filter(F.col("doc_inner") != F.col("doc_outer"))
             .groupBy("doc_inner", "doc_outer")
             .agg(F.count("*").alias("common")))
    ci = cnt.select(F.col("doc_id").alias("doc_inner"),
                    F.col("n").alias("n_inner"))
    cont = (inter.join(ci, "doc_inner")
            .withColumn("containment_raw",
                        F.col("common").cast("double") / F.col("n_inner")))
    return (cont.filter(F.col("containment_raw") >= 0.8)
            .select("doc_inner", "doc_outer",
                    F.round("containment_raw", 4).alias("containment")))


_MD5_32_DUCK = " + ".join(
    f"(strpos('0123456789abcdef', substr(md5(text),{i},1))-1)*{16 ** (8 - i)}"
    for i in range(1, 9))


@register(
    "llm_shard_manifest",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, n_chars,
               len(string_split(text, ' ')) AS ws_tokens,
               ({_MD5_32_DUCK}) AS h32
        FROM documents
    )
    SELECT h32 % 16 AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ws_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(sum(h32) AS BIGINT) AS content_checksum,
           min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
    FROM h GROUP BY 1
    """,
)
def llm_shard_manifest(spark, d, n_shards: int = 16):
    """Deterministic training-shard manifest (r12): every document is
    assigned shard = content-hash % 16 (md5(text) prefix — the same
    content-keyed discipline as llm_train_test_split, so exact
    duplicates co-locate and re-ingesting never moves a doc), and the
    manifest reports per shard what a training-job reader needs to
    verify before it trusts the shard: doc count, whitespace-token and
    char totals (batch budgeting), an order-independent content
    checksum (sum of 32-bit content hashes — commutative, so any
    engine/partitioning reproduces it), and the doc-id range.

    Scale shape: one narrow map over the scan (hash, token count) into
    one partial-aggregated shuffle of 16 groups — the manifest for a
    100 TB corpus costs a single pass and shuffles bytes proportional
    to shards, not rows.  Content-keyed sharding also balances by
    construction: the hash is uniform, so shard skew measures true
    content skew, not key pathology."""
    docs = T(spark, d, "documents")
    h32 = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("bigint")
    return (docs
            .select("doc_id", "n_chars",
                    F.size(F.split("text", " ")).alias("ws_tokens"),
                    h32.alias("h32"))
            .groupBy((F.col("h32") % n_shards).alias("shard"))
            .agg(F.count("*").alias("n_docs"),
                 F.sum("ws_tokens").cast("bigint").alias("total_tokens"),
                 F.sum("n_chars").cast("bigint").alias("total_chars"),
                 F.sum("h32").cast("bigint").alias("content_checksum"),
                 F.min("doc_id").alias("min_doc_id"),
                 F.max("doc_id").alias("max_doc_id")))


@register(
    "llm_span_corruption",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS t,
               len(string_split(text, ' ')) AS n,
               ({_MD5_32_DUCK}) AS h32
        FROM documents
        WHERE len(string_split(text, ' ')) >= 8
    ), sp AS (
        SELECT doc_id, t, n, CAST(h32 % (n - 3) AS BIGINT) AS start
        FROM tok
    )
    SELECT doc_id, start AS span_start,
           array_to_string(
               list_concat(list_concat(t[1:start], ['<extra_id_0>']),
                           t[start+4:n]), ' ') AS input_text,
           '<extra_id_0> ' || array_to_string(t[start+1:start+3], ' ')
               AS target_text,
           CAST(n - 3 + 1 AS BIGINT) AS n_input_tokens
    FROM sp
    """,
)
def llm_span_corruption(spark, d, span_len: int = 3):
    """T5/UL2-style span-corruption pairs (r12): each document (>= 8
    tokens) yields one (input, target) training pair — a 3-token span
    at a CONTENT-KEYED position (md5(text) % (n - span_len), the same
    hash discipline as llm_train_test_split, so re-ingesting never
    moves a document's span and exact duplicates corrupt identically)
    is replaced by the <extra_id_0> sentinel in the input, and the
    target is the sentinel + the masked span.  Single-span (UL2
    R-denoiser shape); multi-span is this op iterated with
    <extra_id_k> sentinels.

    Scale shape: a pure narrow map over the scan — split, one hash,
    two array slices, re-join — whole-stage codegen end to end, no
    shuffle, no UDF.  The oracle rebuilds the identical pair in SQL
    (DuckDB 1-based inclusive list slices vs Spark's slice(start,
    length) is exactly the off-by-one a hash mismatch would catch)."""
    docs = T(spark, d, "documents")
    t = F.split("text", " ")
    docs = (docs.withColumn("t", t).withColumn("n", F.size("t"))
            .filter(F.col("n") >= 8))
    h32 = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("bigint")
    sp = docs.withColumn("start", (h32 % (F.col("n") - span_len))
                         .cast("bigint"))
    prefix = F.slice("t", F.lit(1), F.col("start"))
    span = F.slice("t", F.col("start") + 1, F.lit(span_len))
    suffix = F.slice("t", F.col("start") + span_len + 1,
                     F.col("n") - F.col("start") - span_len)
    return sp.select(
        "doc_id",
        F.col("start").alias("span_start"),
        F.array_join(F.concat(prefix, F.array(F.lit("<extra_id_0>")),
                              suffix), " ").alias("input_text"),
        F.concat(F.lit("<extra_id_0> "),
                 F.array_join(span, " ")).alias("target_text"),
        (F.col("n") - span_len + 1).cast("bigint").alias("n_input_tokens"))


@register(
    "llm_curriculum_order",
    oracle=f"""
    WITH diff AS (
        SELECT doc_id, lang,
               CAST(n_chars AS DOUBLE) / len(string_split(text, ' '))
                   AS difficulty,
               ({_MD5_32_DUCK}) AS h32
        FROM documents
        WHERE text IS NOT NULL AND lang IS NOT NULL
          AND n_chars IS NOT NULL
    ), ph AS (
        SELECT doc_id, lang, difficulty, h32,
               ntile(4) OVER (PARTITION BY lang
                              ORDER BY difficulty, doc_id) AS phase
        FROM diff
    )
    SELECT doc_id, lang, CAST(phase AS BIGINT) AS phase,
           CAST(row_number() OVER (PARTITION BY lang, phase
                                   ORDER BY h32, doc_id) AS BIGINT) AS seq,
           round(difficulty, 4) + 0 AS difficulty
    FROM ph
    """,
)
def llm_curriculum_order(spark, d):
    """Curriculum ordering (r12): the training-schedule builder —
    within each language, documents are split easy->hard into 4
    curriculum phases by a difficulty proxy (mean word length =
    n_chars / whitespace tokens, the cheap signal that tracks syntactic
    complexity), and WITHIN a phase the stream order is a deterministic
    content-keyed shuffle (md5 hash, the llm_global_shuffle discipline)
    so consecutive batches decorrelate from ingest/source order without
    any RNG.  Output is the complete schedule: (phase, seq) is the
    exact position every doc trains at, reproducible across re-runs and
    engines.

    Scale shape: one narrow difficulty map, then two windows over the
    same lang partitioning (ntile, then per-phase row_number) — a
    single shuffle on lang; at 100 TB the phase boundaries come from
    approx_percentile and the seq from a per-shard rank + offset merge
    (the agg_histogram_equidepth scale path), keeping every partition
    sort local."""
    # NULL text/lang/n_chars rows are untrainable AND would diverge the
    # ntile cross-engine (Spark orders NULL difficulty FIRST, DuckDB
    # LAST — the events_max_concurrency lesson): filter on both sides
    docs = (T(spark, d, "documents")
            .filter(F.col("text").isNotNull() & F.col("lang").isNotNull()
                    & F.col("n_chars").isNotNull()))
    from pyspark.sql import Window
    diff = docs.select(
        "doc_id", "lang",
        (F.col("n_chars").cast("double")
         / F.size(F.split("text", " "))).alias("difficulty"),
        F.conv(F.substring(F.md5("text"), 1, 8), 16, 10)
            .cast("bigint").alias("h32"))
    ph = diff.withColumn("phase", F.ntile(4).over(
        Window.partitionBy("lang").orderBy("difficulty", "doc_id"))
        .cast("bigint"))
    seq = F.row_number().over(
        Window.partitionBy("lang", "phase").orderBy("h32", "doc_id"))
    return ph.select("doc_id", "lang", "phase",
                     seq.cast("bigint").alias("seq"),
                     (F.round("difficulty", 4) + F.lit(0.0))
                     .alias("difficulty"))


# --- IVFADC: IVF coarse pruning + PQ ADC + exact refine (r12) ----------------

_IVFADC_ORACLE = f"""
WITH raw AS (
    SELECT vec_id, {_PQ_QV} AS qv,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
    FROM embeddings
    WHERE embedding IS NOT NULL
      AND list_sum(list_transform(embedding,
                   y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) > 0
), co AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k, qv AS kv
    FROM raw ORDER BY vec_id LIMIT 16
), cd AS (
    SELECT r.vec_id, co.k,
           list_sum(list_transform(generate_series(1, 64),
                    i -> (r.qv[i] - co.kv[i]) * (r.qv[i] - co.kv[i])))
               AS d2
    FROM raw r CROSS JOIN co
), casg AS (
    SELECT vec_id, k AS cell FROM (
        SELECT vec_id, k,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2, k) AS rn
        FROM cd) WHERE rn = 1
), probe AS (
    SELECT vec_id AS qid, k AS cell FROM (
        SELECT vec_id, k,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY d2, k) AS rn
        FROM cd WHERE vec_id < 5) WHERE rn <= 2
), cand AS (
    SELECT p.qid, a.vec_id AS cid
    FROM probe p JOIN casg a ON a.cell = p.cell AND a.vec_id <> p.qid
), cb AS (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS j, qv AS cv
    FROM raw ORDER BY vec_id LIMIT 8
), sub AS (SELECT unnest(generate_series(0, 7)) AS s),
codes AS (
    SELECT v.vec_id, sub.s,
           CAST(MIN(
               list_sum(list_transform(generate_series(1, 8),
                        t -> (v.qv[sub.s * 8 + t] - cb.cv[sub.s * 8 + t])
                           * (v.qv[sub.s * 8 + t] - cb.cv[sub.s * 8 + t])))
               * 8 + cb.j) % 8 AS BIGINT) AS code
    FROM raw v CROSS JOIN sub CROSS JOIN cb
    GROUP BY v.vec_id, sub.s
), adc AS (
    SELECT cand.qid, cand.cid,
           SUM(list_sum(list_transform(generate_series(1, 8),
                    t -> (qr.qv[cs.s * 8 + t] - cb.cv[cs.s * 8 + t])
                       * (qr.qv[cs.s * 8 + t] - cb.cv[cs.s * 8 + t]))))
               AS pq_dist2
    FROM cand
    JOIN raw qr ON qr.vec_id = cand.qid
    JOIN codes cs ON cs.vec_id = cand.cid
    JOIN cb ON cb.j = cs.code
    GROUP BY cand.qid, cand.cid
), shortlist AS (
    SELECT qid, cid FROM (
        SELECT qid, cid,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY pq_dist2, cid) AS rn
        FROM adc) WHERE rn <= 50
), rerank AS (
    SELECT s.qid, s.cid,
           round(list_sum(list_transform(generate_series(1, 64),
                          i -> a.e[i] * b.e[i]))
                 / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
                    * sqrt(list_sum(list_transform(b.e, x -> x * x)))), 4)
               + 0 AS cosine
    FROM shortlist s
    JOIN raw a ON a.vec_id = s.qid
    JOIN raw b ON b.vec_id = s.cid
)
SELECT qid, cid, cosine FROM (
    SELECT qid, cid, cosine,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cosine DESC, cid) AS rn
    FROM rerank) WHERE rn <= 10
"""


def ivfadc_trained_centroids(raw, k=16, iters=5, sample_n=2048):
    """Sampled k-means coarse quantizer for llm_similarity_ivfadc (r13,
    r12 verdict task 5): Lloyd over the first sample_n qv rows (the
    bounded deterministic sample discipline of ivf_centroids) with
    diversity-filtered seeding, rounded back to int64 so the ADC stage's
    integer L2² math and ties-to-lowest-cell ordering are unchanged.
    The DECLARED fixture query keeps its lowest-id seeding — that
    choice is what its hash oracle replays in SQL — while a production
    index trains once and passes the result via the centroids
    parameter; the clustered-corpus recall contrast (trained >= 0.9
    where lowest-id collapses) is pinned in tests/test_llm_dedup.py."""
    import numpy as np

    sample = raw.orderBy("vec_id").limit(sample_n).select("qv").collect()
    if not sample:
        return None
    X = np.array([list(r["qv"]) for r in sample], dtype=np.float64)
    # Lloyd runs in the raw integer qv space the ADC stage measures
    # distances in (_lloyd_train's cosine=False arm normalizes rows
    # only for the diversity filter)
    return np.rint(_lloyd_train(X, k, iters, cosine=False)).astype(np.int64)


@register("llm_similarity_ivfadc", oracle=_IVFADC_ORACLE)
def llm_similarity_ivfadc(spark, d, centroids=None, nprobe=2,
                          shortlist=50, by_residual=False, _pq=None):
    """ANN scale path #5 — IVFADC (r12; the composition
    llm_similarity_pq's docstring promises): an IVF coarse quantizer
    (16 cells, centroids = the 16 lowest-id unit-normalized quantized
    vectors, argmin integer L2² with ties-to-lowest-cell) prunes the
    corpus BEFORE any per-candidate work — each query probes its
    nprobe=2 nearest cells, so ADC touches ~nprobe/k of the codes
    instead of all of them — then PQ Asymmetric Distance ranks the
    probed candidates (8 LUT adds each), a top-50 shortlist re-ranks by
    exact cosine, and the top-10 emit.  This is faiss's IVFPQ layout
    with by_residual=false by default (codes encode the vectors, not
    the cell residuals; the residual arm — faiss's production default,
    r15 — is the by_residual parameter, declared through
    llm_similarity_ivfadc_residual).  Every stage is integer or
    4dp-rounded with explicit tiebreaks, so unlike the band-verdict
    llm_similarity_ivf entry the whole pipeline is hash-oracled; recall
    vs the exact top-10 is pinned in tests/test_llm_dedup.py (random
    near-orthogonal vectors are the worst case for BOTH stages).

    Scale shape: the coarse assignment is the zero-exchange
    literal-centroid scan (16 bounded driver rows, the
    _quantized_cluster_assign discipline); probing explodes 5 queries ×
    2 cells; candidates come from ONE equi-join on the cell id (never a
    cross join); ADC is the codebook/LUT equi-join pair from
    llm_similarity_pq restricted to candidates.  At 100 TB the cell
    count grows to ~sqrt(n) so each posting list stays bounded, and the
    coarse centroids come from sampled k-means — pass
    ivfadc_trained_centroids(raw) via the centroids parameter (r13);
    the declared fixture query keeps lowest-id seeding because that is
    the choice its hash oracle replays in SQL, and the trained path's
    recall advantage on clustered corpora is pytest-pinned.

    r17 (r16 verdict task 1): the (vec_id, qv) code frame and the
    (vec_id, cell) assignment are each eagerly localCheckpointed once
    and every qv/cell consumer derives from the checkpoint blocks —
    see _pq_codes_ckpt.  Compositions that already built the frames
    (trained/residual/scaled train their centroids from the same codes)
    pass them via ``_pq=(raw, qvf)`` so the corpus is quantized exactly
    once per query."""
    if _pq is not None:
        raw, qvf = _pq
    else:
        raw = _pq_raw(spark, d)
        qvf = _pq_codes_ckpt(raw)

    # coarse centroids: 16 bounded driver rows, shipped to a vectorized
    # numpy kernel (the semdedup gemm discipline).  The literal-HOF
    # form (_quantized_cluster_assign's zip_with scan) is the right
    # shape at k=4 but interpreted per element — at k=16 x 64 dims it
    # measured 14 s of the 21 s sf0.1 run; one int64 numpy broadcast
    # computes the same exact integer L2² in milliseconds, and
    # per-task memory is batch x 16 x 64 int64, bounded by the Arrow
    # batch size.  argmin / stable argsort tie to the LOWEST cell,
    # mirroring the oracle's (d2, k) ordering.
    import numpy as np
    if centroids is None:
        # declared-query default: the 16 lowest-id qv rows — the choice
        # the hash oracle replays verbatim in SQL.  At scale pass
        # ivfadc_trained_centroids(raw) instead (sampled k-means);
        # lowest-id seeding has no recall guarantee on clustered
        # distributions (r12 verdict task 5, pinned in tests).
        cents = qvf.orderBy("vec_id").limit(16).select("qv").collect()
        cmat = np.array([list(c["qv"]) for c in cents], dtype=np.int64)
    else:
        cmat = np.asarray(centroids, dtype=np.int64)
    # a corpus smaller than the probe budget has fewer cells than
    # nprobe: argsort[:, :nprobe] then yields k probes per query while
    # np.repeat emits nprobe ids — a length-mismatch crash on 1-3-row
    # corpora (r16; the _ivf_ann clamp, mirrored — found probing the
    # scaled composition at tiny n)
    nprobe = min(nprobe, len(cmat))

    def _cell_d2(pdf):
        q = np.array(pdf["qv"].tolist(), dtype=np.int64)
        return ((q[:, None, :] - cmat[None, :, :]) ** 2).sum(2)

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"],
                "cell": _cell_d2(pdf).argmin(1).astype("int64")})

    def probe_fn(batches, nprobe=nprobe):
        for pdf in batches:
            if not len(pdf):
                continue
            order = np.argsort(_cell_d2(pdf), axis=1,
                               kind="stable")[:, :nprobe]
            yield pd.DataFrame({
                "qid": np.repeat(pdf["vec_id"].to_numpy(), nprobe),
                "cell": order.ravel().astype("int64")})

    # the assignment is itself a checkpointed proxy (16 B/row): cand is
    # consumed twice (probed-id semi-join + the ADC join) and the
    # residual arm reads cells in two more subtrees — without the
    # checkpoint each consumer re-ran the Python assignment kernel
    casg = (qvf.mapInPandas(assign, "vec_id bigint, cell bigint")
            .localCheckpoint(eager=True))
    probe = (qvf.filter(F.col("vec_id") < 5)
             .mapInPandas(probe_fn, "qid bigint, cell bigint"))
    cand = (casg.join(F.broadcast(probe), "cell")
            .filter(F.col("vec_id") != F.col("qid"))
            .select("qid", F.col("vec_id").alias("cid"), "cell"))

    _subspaces = _pq_subspaces
    wj = Window.orderBy("vec_id")
    d2 = F.aggregate(F.zip_with("sv", "cv", lambda a, b: (a - b) * (a - b)),
                     F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    # encode only vectors some query actually probes — the query-time
    # view (an IVFPQ index precomputes all codes ONCE at build; this
    # query is build+probe in one plan, so encoding the unprobed 14/16
    # of the corpus would be pure waste)
    cand_ids = cand.select("cid").distinct()
    probed = qvf.join(cand_ids, qvf["vec_id"] == cand_ids["cid"],
                      "left_semi")
    if by_residual:
        # faiss by_residual=true (r15; r14 verdict task 6): PQ codes
        # encode the RESIDUAL qv - centroid[cell] instead of the raw
        # vector.  Residuals cluster around zero with the coarse
        # structure removed, so the 8-codeword codebook spends its
        # entire budget on intra-cell variation — the accuracy step
        # every production IVFPQ deploys.  Same plan shape: the 16
        # centroids become a broadcast 16-row dim joined on cell; the
        # LUT gains a cell key (a query's residual is PER PROBED CELL,
        # the defining asymmetry of residual ADC) but stays
        # queries x nprobe x 8 x 8 rows — broadcast-bounded.
        cent_df = spark.createDataFrame(
            [(int(i), [int(x) for x in cmat[i]])
             for i in range(len(cmat))],
            "cell bigint, cent array<bigint>")
        rsub = F.zip_with("qv", "cent", lambda a, b: a - b)
        cb = _subspaces(
            qvf.orderBy("vec_id").limit(8)
               .join(casg, "vec_id")
               .join(F.broadcast(cent_df), "cell")
               .withColumn("qv", rsub)
               .withColumn("j", F.row_number().over(wj) - 1)
               .withColumn("vec_id", F.col("j")), "j") \
            .select("j", "s", F.col("sv").alias("cv"))
        codes = (_subspaces(probed.join(casg, "vec_id")
                            .join(F.broadcast(cent_df), "cell")
                            .withColumn("qv", rsub), "cid")
                 .join(F.broadcast(cb), "s")
                 .select("cid", "s", "j", d2.alias("d2"))
                 .groupBy("cid", "s")
                 .agg(F.min(F.struct("d2", "j"))["j"].alias("code")))
        lut_src = (probe
                   .join(qvf.select(F.col("vec_id").alias("qid"), "qv"),
                         "qid")
                   .join(F.broadcast(cent_df), "cell")
                   .withColumn("rqv", F.zip_with(
                       "qv", "cent", lambda a, b: a - b)))
        lut_r = (lut_src.select(
                     F.col("qid").alias("lqid"),
                     F.col("cell").alias("lcell"),
                     F.posexplode(F.array(*[F.slice("rqv", s * 8 + 1, 8)
                                            for s in range(8)]))
                     .alias("s", "sv"))
                 .join(F.broadcast(cb), "s")
                 .select("lqid", "lcell", F.col("s").alias("ls"), "j",
                         d2.alias("d2")))
        adc = (cand.join(codes, "cid")
               .join(F.broadcast(lut_r),
                     (F.col("qid") == F.col("lqid"))
                     & (F.col("cell") == F.col("lcell"))
                     & (F.col("s") == F.col("ls"))
                     & (F.col("code") == F.col("j")))
               .groupBy("qid", "cid").agg(F.sum("d2").alias("pq_dist2")))
    else:
        cb = _subspaces(
            qvf.orderBy("vec_id").limit(8)
               .withColumn("j", F.row_number().over(wj) - 1)
               .withColumn("vec_id", F.col("j")), "j") \
            .select("j", "s", F.col("sv").alias("cv"))
        codes = (_subspaces(probed, "cid").join(F.broadcast(cb), "s")
                 .select("cid", "s", "j", d2.alias("d2"))
                 .groupBy("cid", "s")
                 .agg(F.min(F.struct("d2", "j"))["j"].alias("code")))
        lut = (_subspaces(qvf.filter(F.col("vec_id") < 5), "qid")
               .join(F.broadcast(cb), "s")
               .select("qid", "s", "j", d2.alias("d2")))

        lut_r = lut.select(F.col("qid").alias("lqid"),
                           F.col("s").alias("ls"), "j", "d2")
        adc = (cand.join(codes, "cid")
               .join(F.broadcast(lut_r),
                     (F.col("qid") == F.col("lqid"))
                     & (F.col("s") == F.col("ls"))
                     & (F.col("code") == F.col("j")))
               .groupBy("qid", "cid").agg(F.sum("d2").alias("pq_dist2")))
    w_adc = Window.partitionBy("qid").orderBy(F.col("pq_dist2").asc(),
                                              F.col("cid").asc())
    shortlist = (adc.withColumn("rn", F.row_number().over(w_adc))
                 .filter(F.col("rn") <= shortlist).select("qid", "cid"))

    qe = raw.select(F.col("vec_id").alias("qid"), F.col("e").alias("qe"))
    ce = raw.select(F.col("vec_id").alias("cid"), F.col("e").alias("ce"))
    dot = F.aggregate(F.zip_with("qe", "ce", lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)

    def nrm(c):
        return F.sqrt(F.aggregate(F.transform(c, lambda x: x * x),
                                  F.lit(0.0), lambda a, x: a + x))

    rerank = (F.broadcast(shortlist).join(qe, "qid").join(ce, "cid")
              .select("qid", "cid",
                      (F.round(dot / (nrm("qe") * nrm("ce")), 4)
                       + F.lit(0.0)).alias("cosine")))
    w_fin = Window.partitionBy("qid").orderBy(F.col("cosine").desc(),
                                              F.col("cid").asc())
    return (rerank.withColumn("rn", F.row_number().over(w_fin))
            .filter(F.col("rn") <= 10).select("qid", "cid", "cosine"))


# --- Hybrid retrieval: BM25 + PRF-embedding fusion via RRF (r12) -------------

_RRF_ORACLE = """
    WITH q(qid, tok) AS (VALUES
        (0, 'join'), (0, 'hash'), (0, 'row'),
        (1, 'fast'), (1, 'vector'), (1, 'scan'),
        (2, 'customer'), (2, 'order'), (2, 'data')),
    docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    dl AS (SELECT doc_id, len(w) AS dl FROM docs),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    tok AS (SELECT doc_id, unnest(w) AS tok FROM docs),
    tfq AS (
        SELECT doc_id, tok, count(*) AS tf
        FROM tok JOIN (SELECT DISTINCT tok FROM q) USING (tok)
        GROUP BY 1, 2),
    dfq AS (SELECT tok, count(*) AS df FROM tfq GROUP BY tok),
    scored AS (
        SELECT q.qid, t.doc_id,
               sum(CAST(round(
                   ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                   * t.tf * 2.2
                   / (t.tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))
                   * 1000000) AS BIGINT)) AS sf
        FROM tfq t
        JOIN q ON q.tok = t.tok
        JOIN dfq ON dfq.tok = t.tok
        JOIN dl ON dl.doc_id = t.doc_id
        CROSS JOIN stats
        GROUP BY 1, 2),
    lex AS (
        SELECT qid, doc_id, rn AS lex_rank FROM (
            SELECT qid, doc_id, sf,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY sf DESC, doc_id) AS rn
            FROM scored) WHERE rn <= 20),
    vlong AS (
        SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings CROSS JOIN generate_series(1, 64) t(i)
        WHERE embedding IS NOT NULL),
    vnorm AS (
        SELECT vec_id, sqrt(sum(v * v)) AS nv FROM vlong GROUP BY vec_id),
    cent AS (
        SELECT l.qid, vl.i, avg(vl.v) AS c
        FROM lex l JOIN vlong vl ON vl.vec_id = l.doc_id
        WHERE l.lex_rank <= 3
        GROUP BY l.qid, vl.i),
    cnorm AS (SELECT qid, sqrt(sum(c * c)) AS nc FROM cent GROUP BY qid),
    dots AS (
        SELECT cent.qid, vl.vec_id, sum(cent.c * vl.v) AS dot
        FROM cent JOIN vlong vl ON vl.i = cent.i
        GROUP BY cent.qid, vl.vec_id),
    sem AS (
        SELECT qid, vec_id AS doc_id, rn AS sem_rank FROM (
            SELECT d.qid, d.vec_id,
                   row_number() OVER (
                       PARTITION BY d.qid
                       ORDER BY round(d.dot / (cn.nc * vn.nv), 4) DESC,
                                d.vec_id) AS rn
            FROM dots d JOIN cnorm cn ON cn.qid = d.qid
                        JOIN vnorm vn ON vn.vec_id = d.vec_id
            WHERE cn.nc > 0 AND vn.nv > 0) WHERE rn <= 20),
    fused AS (
        SELECT coalesce(l.qid, s.qid) AS qid,
               coalesce(l.doc_id, s.doc_id) AS doc_id,
               l.lex_rank, s.sem_rank,
               coalesce(CAST(round(1000000.0 / (60 + l.lex_rank))
                             AS BIGINT), 0)
               + coalesce(CAST(round(1000000.0 / (60 + s.sem_rank))
                               AS BIGINT), 0) AS rrf_fp
        FROM lex l FULL OUTER JOIN sem s
          ON l.qid = s.qid AND l.doc_id = s.doc_id)
    SELECT qid, doc_id, rrf_fp,
           CAST(lex_rank AS BIGINT) AS lex_rank,
           CAST(sem_rank AS BIGINT) AS sem_rank
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                       ORDER BY rrf_fp DESC, doc_id) AS rn
          FROM fused) WHERE rn <= 10
"""


@register("llm_hybrid_retrieval_rrf", oracle=_RRF_ORACLE)
def llm_hybrid_retrieval_rrf(spark, d):
    """Hybrid retrieval with Reciprocal Rank Fusion (r12; Cormack et
    al. 2009 — the fusion every production RAG/curation stack runs):
    the LEXICAL arm is llm_bm25_topk's scoring widened to top-20; the
    SEMANTIC arm has no query embedding (no text encoder offline), so
    it derives one by PSEUDO-RELEVANCE FEEDBACK — the centroid of the
    BM25 top-3 docs' embeddings (Rocchio's classic trick, and exactly
    how blind feedback bootstraps dense retrieval) — and ranks the
    corpus by 4dp-rounded cosine.  Fusion: RRF = Σ 1/(60+rank) over
    both lists as fixed-point micro-units (round(1e6/(60+r)) — integer
    addition, order-independent), top-10 per query with doc_id
    tiebreaks; per-arm ranks ride along so a user sees WHY a doc won
    (lexical-only, semantic-only, or both).

    Scale shape: BM25's keep-list discipline bounds the lexical arm
    (only query-term postings shuffle); the PRF centroid is 3 rows per
    query; the semantic scan is one pass over the embedding column in
    LONG form (qid × dim join keys — at 100 TB this arm becomes any of
    ANN paths #1-5, same fusion); the fuse is a 40-rows-per-query
    full outer join."""
    from pyspark.sql import Window

    k1, b = 1.2, 0.75
    qterms = spark.createDataFrame(
        [(qid, t) for qid, terms in _BM25_QUERY_TERMS for t in terms],
        "qid int, tok string")
    docs = T(spark, d, "documents").select(
        "doc_id", F.split("text", " ").alias("w"))
    dl = docs.select("doc_id", F.size("w").alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    terms = sorted({t for _qid, ts in _BM25_QUERY_TERMS for t in ts})
    tok = docs.select(
        "doc_id",
        F.explode(F.filter("w", lambda x: x.isin(terms))).alias("tok"))
    tfq = tok.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    dfq = tfq.groupBy("tok").agg(F.count("*").alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1.0)
    term_score = (idf * F.col("tf") * (k1 + 1)
                  / (F.col("tf") + k1 * ((1 - b) + b * F.col("dl")
                                         / F.col("avgdl"))))
    scored = (tfq.join(F.broadcast(qterms), "tok")
              .join(dfq, "tok").join(dl, "doc_id")
              .join(F.broadcast(stats))
              .withColumn("sfix",
                          F.round(term_score * 1000000).cast("bigint"))
              .groupBy("qid", "doc_id").agg(F.sum("sfix").alias("sf")))
    w_lex = Window.partitionBy("qid").orderBy(F.col("sf").desc(), "doc_id")
    # lex (<=20 rows/query) feeds the PRF centroid AND the fusion join;
    # vlong (corpus x dim long form) feeds vnorm, the centroid and the
    # dot pass.  Without the checkpoints each consumer re-ran the whole
    # upstream pipeline — the r17 plan read 32 parquet scans / 82
    # exchanges / 20 Generates for ONE query (guide §2.4/§5, the same
    # fan-out defect class as the r16/r17 ANN-family fix).  Values are
    # untouched: the checkpoint stores the exact rows each subtree
    # already produced.
    lex = (scored.withColumn("lex_rank",
                             F.row_number().over(w_lex).cast("bigint"))
           .filter(F.col("lex_rank") <= 20).select("qid", "doc_id",
                                                   "lex_rank")
           .localCheckpoint(eager=True))

    vlong = (T(spark, d, "embeddings")
             .filter(F.col("embedding").isNotNull())
             .select("vec_id", F.posexplode(
                 F.col("embedding").cast("array<double>"))
                 .alias("i0", "v"))
             .select("vec_id", (F.col("i0") + 1).alias("i"), "v")
             .localCheckpoint(eager=True))
    vnorm = vlong.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("nv"))
    cent = (lex.filter(F.col("lex_rank") <= 3)
            .join(vlong, lex["doc_id"] == vlong["vec_id"])
            .groupBy("qid", "i").agg(F.avg("v").alias("c")))
    cnorm = cent.groupBy("qid").agg(
        F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nc"))
    dots = (vlong.join(F.broadcast(cent), "i")
            .groupBy("qid", "vec_id")
            .agg(F.sum(F.col("c") * F.col("v")).alias("dot")))
    w_sem = Window.partitionBy("qid").orderBy(
        F.round(F.col("dot") / (F.col("nc") * F.col("nv")), 4).desc(),
        "vec_id")
    sem = (dots.join(F.broadcast(cnorm), "qid").join(vnorm, "vec_id")
           .filter((F.col("nc") > 0) & (F.col("nv") > 0))
           .withColumn("sem_rank",
                       F.row_number().over(w_sem).cast("bigint"))
           .filter(F.col("sem_rank") <= 20)
           .select("qid", F.col("vec_id").alias("doc_id"), "sem_rank"))

    fp = lambda r: F.coalesce(  # noqa: E731
        F.round(F.lit(1000000.0) / (60 + r)).cast("bigint"), F.lit(0))
    fused = (lex.join(sem, ["qid", "doc_id"], "full_outer")
             .withColumn("rrf_fp", fp(F.col("lex_rank"))
                         + fp(F.col("sem_rank"))))
    w_fin = Window.partitionBy("qid").orderBy(F.col("rrf_fp").desc(),
                                              "doc_id")
    return (fused.withColumn("rn", F.row_number().over(w_fin))
            .filter(F.col("rn") <= 10)
            .select("qid", "doc_id", "rrf_fp", "lex_rank", "sem_rank"))


@register(
    "llm_decontaminate_semantic",
    oracle="""
    WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n
        FROM embeddings
        WHERE embedding IS NOT NULL
          AND list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) > 0
    ), hits AS (
        SELECT t.vec_id, ev.vec_id AS eval_id,
               round(list_sum(list_transform(generate_series(1, 64),
                              i -> t.v[i] * ev.v[i])) / (t.n * ev.n), 4)
                   AS cosine
        FROM e t JOIN e ev ON ev.vec_id < 20 AND t.vec_id >= 20
    ), flagged AS (
        SELECT vec_id,
               CAST(count(*) FILTER (WHERE cosine >= 0.35) AS BIGINT)
                   AS n_eval_hits,
               max(cosine) AS max_cosine
        FROM hits GROUP BY vec_id
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN f.n_eval_hits > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           round(max(f.max_cosine), 4) + 0 AS worst_cosine
    FROM flagged f JOIN documents d ON d.doc_id = f.vec_id
    GROUP BY d.source
    """,
)
def llm_decontaminate_semantic(spark, d):
    """SEMANTIC decontamination (r12; the embedding analog of
    llm_decontaminate's 8-gram check, the second arm serious eval
    hygiene runs — n-grams miss paraphrases, embeddings catch them):
    every training doc's embedding (vec_id >= 20, vec_id == doc_id by
    fixture contract) is scored against the EVAL SET's embeddings
    (vec_id < 20), and a per-source contamination report counts docs
    with any eval cosine >= 0.35 plus the worst offender.  Threshold
    probed non-degenerate on the fixtures (hits exist at 0.35; 0.45
    leaves zero).

    Scale shape: the eval set is tiny BY DEFINITION (benchmarks are
    thousands of rows, the corpus is billions), so the eval vectors
    broadcast and the corpus streams past in place — one narrow pass,
    per-doc flags partial-aggregate into the per-source report; the
    same shape as llm_decontaminate's broadcast semi-join, with
    ANN paths #1-5 as the prefilter when the eval set itself grows."""
    from pyspark.sql import Window  # noqa: F401  (module convention)

    norm2 = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda a, x: a + x)
    e = (T(spark, d, "embeddings").filter(F.col("embedding").isNotNull())
         .withColumn("n2", norm2).filter(F.col("n2") > 0)
         .select("vec_id",
                 F.col("embedding").cast("array<double>").alias("v"),
                 F.sqrt("n2").alias("n")))
    ev = (e.filter(F.col("vec_id") < 20)
          .select(F.col("vec_id").alias("eval_id"),
                  F.col("v").alias("evv"), F.col("n").alias("evn")))
    tr = e.filter(F.col("vec_id") >= 20)
    dot = F.aggregate(F.zip_with("v", "evv", lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    hits = (tr.join(F.broadcast(ev))
            .select("vec_id",
                    F.round(dot / (F.col("n") * F.col("evn")), 4)
                    .alias("cosine")))
    flagged = (hits.groupBy("vec_id")
               .agg(F.count_if(F.col("cosine") >= 0.35).cast("bigint")
                    .alias("n_eval_hits"),
                    F.max("cosine").alias("max_cosine")))
    docs = T(spark, d, "documents").select("doc_id", "source")
    return (flagged.join(docs, flagged["vec_id"] == docs["doc_id"])
            .groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.when(F.col("n_eval_hits") > 0, 1).otherwise(0))
                 .cast("bigint").alias("n_contaminated"),
                 (F.round(F.max("max_cosine"), 4) + F.lit(0.0))
                 .alias("worst_cosine")))


@register(
    "llm_weighted_sample",
    oracle=f"""
    WITH u AS (
        SELECT doc_id, source, n_chars,
               (({_MD5_32_DUCK}) + 1.0) / 4294967296.0 AS u
        FROM documents
        WHERE text IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0
    ), keyed AS (
        SELECT doc_id, source, n_chars,
               round(ln(u) / n_chars, 12) AS k
        FROM u
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS weight
    FROM (SELECT *, row_number() OVER (ORDER BY k DESC, doc_id) AS rn
          FROM keyed)
    WHERE rn <= 100
    """,
)
def llm_weighted_sample(spark, d):
    """Weighted sampling without replacement (r12; Efraimidis &
    Spirakis 2006 A-Res — THE distributed weighted-sample algorithm):
    each doc draws a uniform u and competes with key u^(1/w) (here the
    monotone-equivalent ln(u)/w, weight = n_chars, so longer docs are
    proportionally likelier); the global top-k BY KEY is exactly a
    weighted sample without replacement.  RNG-free: u derives from the
    content hash ((h32+1)/2^32 ∈ (0,1], the llm_train_test_split
    discipline), so the sample is reproducible across engines and
    re-ingests.  Keys round to 12 dp before ranking — doc key spacing
    is ~1e-5 while libm ln() may differ in the last ulp cross-engine,
    so the rounding kills rank flips without ever merging real
    distinctions; doc_id breaks exact ties.

    Scale shape: one narrow map (hash, ln, divide) + a global top-k —
    which Spark executes as per-partition top-k then a k-row merge
    (TakeOrderedAndProject), the A-Res paper's own distributed
    reduction; nothing corpus-sized shuffles."""
    docs = (T(spark, d, "documents")
            .filter(F.col("text").isNotNull() & F.col("n_chars").isNotNull()
                    & (F.col("n_chars") > 0)))
    u = ((F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("double")
          + 1.0) / F.lit(4294967296.0))
    keyed = docs.select(
        "doc_id", "source", "n_chars",
        F.round(F.log(u) / F.col("n_chars"), 12).alias("k"))
    return (keyed.orderBy(F.col("k").desc(), "doc_id").limit(100)
            .select("doc_id", "source",
                    F.col("n_chars").cast("bigint").alias("weight")))


@register(
    "llm_code_detect",
    oracle="""
    WITH aug AS (
        -- deterministic in-plan fixture staging: the prose-only corpus
        -- gets a code tail injected on doc_id%3==0 so both arms of the
        -- router are populated (replayed identically here and in Spark)
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                    THEN text || ' def f(x): return {x: 1};'
                    ELSE text END AS t
        FROM documents WHERE text IS NOT NULL
    ), feat AS (
        SELECT doc_id,
               length(t) AS n,
               length(t) - length(regexp_replace(t, '[{}();:=\\[\\]]', '',
                                                 'g')) AS n_sym,
               CASE WHEN regexp_matches(t, '\\b(def|return|var|function)\\b')
                    THEN 1 ELSE 0 END AS kw_hit
        FROM aug
    )
    SELECT doc_id, CAST(n_sym AS BIGINT) AS n_sym,
           CAST(n_sym AS DOUBLE) / nullif(n, 0) AS sym_ratio,
           CAST(kw_hit AS BIGINT) AS kw_hit,
           CASE WHEN n_sym * 100 >= n OR kw_hit = 1
                THEN 'code' ELSE 'prose' END AS route
    FROM feat
    """,
)
def llm_code_detect(spark, d):
    """Code-vs-prose routing (r12): the corpus-curation gate that sends
    code to a code pipeline (different dedup granularity, different
    quality rules) and prose to the text one.  Heuristic features every
    production router starts with: structural-symbol density
    ({}();:=[] count / length, an exact integer ratio — unrounded per
    §5.3) and a keyword hit (def/return/var/function at word
    boundaries).  Route = code when symbols reach 1% (integer
    cross-multiplication, no float threshold) or a keyword fires.
    The fixture corpus is prose-only, so a code tail is injected
    IN-PLAN on doc_id%3==0 — a deterministic augmentation both engines
    replay, keeping both router arms populated (the non-degeneracy
    discipline).

    Scale shape: pure narrow map in whole-stage codegen — regexp count
    + length per row, no shuffle, no UDF."""
    docs = T(spark, d, "documents").filter(F.col("text").isNotNull())
    t = F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.col("text"), F.lit(" def f(x): return {x: 1};"))
               ).otherwise(F.col("text"))
    feat = docs.select(
        "doc_id",
        F.length(t).alias("n"),
        (F.length(t) - F.length(F.regexp_replace(t, r"[{}();:=\[\]]", "")))
        .alias("n_sym"),
        F.when(t.rlike(r"\b(def|return|var|function)\b"), 1).otherwise(0)
        .alias("kw_hit"))
    return feat.select(
        "doc_id", "n_sym",
        # nullif: zero-length docs have no defined symbol ratio (hit by
        # the empty-string rows in the nulls mirror fixture)
        (F.col("n_sym").cast("double") / F.nullif(F.col("n"), F.lit(0)))
        .alias("sym_ratio"),
        "kw_hit",
        F.when((F.col("n_sym") * 100 >= F.col("n")) | (F.col("kw_hit") == 1),
               "code").otherwise("prose").alias("route"))


@register(
    "llm_kmv_source_jaccard",
    oracle="""
    WITH tok AS (
        SELECT source, string_split(text, ' ') AS w FROM documents
        WHERE text IS NOT NULL AND len(string_split(text, ' ')) >= 3
    ), sh AS (
        SELECT DISTINCT source,
               CAST(concat('0x', substring(md5(w[i] || ' ' || w[i+1] || ' '
                    || w[i+2]), 1, 15)) AS BIGINT) AS hv
        FROM (SELECT source, w,
                     unnest(generate_series(1, len(w) - 2)) AS i FROM tok)
    ), sk AS (
        SELECT source, hv
        FROM (SELECT source, hv,
                     row_number() OVER (PARTITION BY source ORDER BY hv)
                         AS r FROM sh)
        WHERE r <= 32
    ), pairs AS (
        SELECT a.source AS s1, b.source AS s2
        FROM (SELECT DISTINCT source FROM sk) a
        JOIN (SELECT DISTINCT source FROM sk) b ON a.source < b.source
    ), tagged AS (
        SELECT p.s1, p.s2, s.hv, 1 AS in1, 0 AS in2
        FROM pairs p JOIN sk s ON s.source = p.s1
        UNION ALL
        SELECT p.s1, p.s2, s.hv, 0, 1
        FROM pairs p JOIN sk s ON s.source = p.s2
    ), u AS (
        SELECT s1, s2, hv, max(in1) AS in1, max(in2) AS in2
        FROM tagged GROUP BY s1, s2, hv
    ), unionk AS (
        SELECT s1, s2, in1, in2
        FROM (SELECT s1, s2, in1, in2,
                     row_number() OVER (PARTITION BY s1, s2 ORDER BY hv)
                         AS r FROM u)
        WHERE r <= 32
    )
    SELECT s1, s2,
           CAST(sum(in1 * in2) AS BIGINT) AS both_in_k,
           CAST(count(*) AS BIGINT) AS k_union,
           CAST(sum(in1 * in2) AS DOUBLE) / count(*) AS jaccard_est
    FROM unionk GROUP BY s1, s2
    """,
)
def llm_kmv_source_jaccard(spark, d):
    """KMV-sketch Jaccard similarity between every source pair (r12):
    the SKETCH scale path of llm_source_overlap_matrix — per source,
    keep the k=32 smallest md5 hashes of its distinct word-3-gram
    shingles (a K-Minimum-Values sketch; deterministic, mergeable,
    O(k) per source); for a pair, merge-sort the two sketches to the
    union's k smallest and estimate J = |both present in union-k| / k
    (Beyer et al. 2007).  The estimate is an exact integer ratio —
    unrounded per §5.3 — and identical cross-engine because the hash
    IS the sample.

    Scale shape: the corpus collapses to |sources| x k sketch rows in
    one shuffle (the ONLY pass over data); pair expansion and the
    union ranking run on sketches alone — at 100 TB with 10^5 sources
    that is 3.2M rows, laptop-sized.  The pair tagging is TWO
    broadcast equi-joins (never an IN-predicate nested loop)."""
    tok = (T(spark, d, "documents")
           .filter(F.col("text").isNotNull())
           .select("source", F.split("text", " ").alias("w"))
           .filter(F.size("w") >= 3))
    pos = tok.select(
        "source",
        F.explode(F.expr(
            "transform(sequence(1, size(w) - 2),"
            " i -> concat(w[i-1], ' ', w[i], ' ', w[i+1]))")).alias("g"))
    sh = pos.select(
        "source",
        F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("bigint")
        .alias("hv")).distinct()
    wk = Window.partitionBy("source").orderBy("hv")
    # the |sources| x k sketch is the ONLY pass over data and feeds
    # THREE subtrees (source list + both pair-tag arms); checkpointing
    # it keeps that pass single (the plan read 12 scans / 36 exchanges
    # before — guide §2.4/§5) and the frame is laptop-sized by
    # construction at any corpus scale.
    sk = (sh.withColumn("r", F.row_number().over(wk))
          .filter(F.col("r") <= 32).drop("r")
          .localCheckpoint(eager=True))
    srcs = sk.select("source").distinct()
    pairs = (srcs.select(F.col("source").alias("s1"))
             .join(srcs.select(F.col("source").alias("s2")),
                   F.col("s1") < F.col("s2")))
    tagged = (F.broadcast(pairs)
              .join(sk, F.col("source") == F.col("s1"))
              .select("s1", "s2", "hv", F.lit(1).alias("in1"),
                      F.lit(0).alias("in2"))
              .unionAll(
                  F.broadcast(pairs)
                  .join(sk, F.col("source") == F.col("s2"))
                  .select("s1", "s2", "hv", F.lit(0).alias("in1"),
                          F.lit(1).alias("in2"))))
    u = (tagged.groupBy("s1", "s2", "hv")
         .agg(F.max("in1").alias("in1"), F.max("in2").alias("in2")))
    wu = Window.partitionBy("s1", "s2").orderBy("hv")
    unionk = (u.withColumn("r", F.row_number().over(wu))
              .filter(F.col("r") <= 32))
    return (unionk.groupBy("s1", "s2")
            .agg(F.sum(F.col("in1") * F.col("in2")).alias("both_in_k"),
                 F.count("*").alias("k_union"),
                 (F.sum(F.col("in1") * F.col("in2")).cast("double")
                  / F.count("*")).alias("jaccard_est")))


@register(
    "llm_fim_pairs",
    oracle="""
    WITH tok AS (
        SELECT doc_id, string_split(text, ' ') AS w,
               len(string_split(text, ' ')) AS n
        FROM documents WHERE text IS NOT NULL
    ), cuts AS (
        SELECT doc_id, w, n,
               1 + CAST(concat('0x', substring(md5(array_to_string(w, ' ')
                    || 'a'), 1, 8)) AS BIGINT) % (n - 2) AS a
        FROM tok WHERE n >= 4
    ), cuts2 AS (
        SELECT doc_id, w, n, a,
               a + 1 + CAST(concat('0x', substring(md5(array_to_string(w,
                    ' ') || 'b'), 1, 8)) AS BIGINT) % (n - a - 1) AS b
        FROM cuts
    )
    SELECT doc_id,
           '<PRE>' || array_to_string(w[1:a], ' ')
               || '<SUF>' || array_to_string(w[b+1:n], ' ')
               || '<MID>' || array_to_string(w[a+1:b], ' ') AS psm,
           CAST(b - a AS BIGINT) AS n_middle
    FROM cuts2
    """,
)
def llm_fim_pairs(spark, d):
    """Fill-in-the-middle training pairs (r12; Bavarian et al. 2022 —
    the OpenAI FIM recipe): split each document at two CONTENT-KEYED
    token positions (md5 of the text + salt, the llm_train_test_split
    discipline — re-ingestion never moves a cut) into
    prefix/middle/suffix and emit the PSM-ordered training string
    ``<PRE>prefix<SUF>suffix<MID>middle`` — the transformation that
    teaches a causal LM to infill.  Cut invariants 0 < a < b < n hold
    by construction (a in [1, n-2], b in [a+1, n-1]); docs under 4
    tokens are filtered.  Companion of llm_span_corruption (T5-style
    denoising); this is the decoder-only variant.

    Scale shape: pure narrow map — split, two hashes, three slices,
    concat; whole-stage codegen, no shuffle, no UDF."""
    tok = (T(spark, d, "documents")
           .filter(F.col("text").isNotNull())
           .select("doc_id", F.split("text", " ").alias("w"))
           .withColumn("n", F.size("w"))
           .filter(F.col("n") >= 4))
    h = lambda salt: F.conv(F.substring(F.md5(
        F.concat(F.concat_ws(" ", "w"), F.lit(salt))), 1, 8), 16, 10
        ).cast("bigint")
    cuts = tok.withColumn("a", 1 + h("a") % (F.col("n") - 2))
    cuts2 = cuts.withColumn(
        "b", F.col("a") + 1 + h("b") % (F.col("n") - F.col("a") - 1))
    return cuts2.select(
        "doc_id",
        F.concat(F.lit("<PRE>"),
                 F.concat_ws(" ", F.slice("w", 1, F.col("a"))),
                 F.lit("<SUF>"),
                 F.concat_ws(" ", F.expr("slice(w, b + 1, n - b)")),
                 F.lit("<MID>"),
                 F.concat_ws(" ", F.expr("slice(w, a + 1, b - a)")))
        .alias("psm"),
        (F.col("b") - F.col("a")).cast("bigint").alias("n_middle"))


@register(
    "llm_char_entropy",
    oracle="""
    WITH aug AS (
        -- in-plan non-degeneracy staging (the llm_code_detect
        -- discipline): every 11th doc becomes a single-character run,
        -- the zero-entropy gibberish arm the filter exists to catch
        SELECT doc_id,
               CASE WHEN doc_id % 11 = 0 THEN repeat('z', 40)
                    ELSE text END AS t
        FROM documents WHERE text IS NOT NULL
    ), ch AS (
        SELECT doc_id, unnest(string_split_regex(t, '')) AS c FROM aug
    ), freq AS (
        SELECT doc_id, c, count(*) AS k FROM ch WHERE c <> ''
        GROUP BY doc_id, c
    ), probs AS (
        SELECT doc_id, k,
               k * 1.0 / sum(k) OVER (PARTITION BY doc_id) AS p
        FROM freq
    ), ent AS (
        SELECT doc_id,
               round(-sum(p * ln(p)), 4) + 0 AS entropy_nats,
               CAST(sum(k) AS BIGINT) AS n_chars_counted
        FROM probs GROUP BY doc_id
    )
    SELECT doc_id, n_chars_counted, entropy_nats,
           entropy_nats < 1.5 AS low_entropy
    FROM ent
    """,
)
def llm_char_entropy(spark, d):
    """Character-entropy quality filter (r12): Shannon entropy (nats)
    of each document's character distribution — the cheap screen that
    catches single-character runs, base64 spills and
    keyboard-mash/gibberish that word-level heuristics miss (Gopher's
    repetition rules are its cousins).  Docs under 1.5 nats flag
    ``low_entropy``; every 11th doc is rewritten IN-PLAN to a
    zero-entropy run so both arms stay populated (the llm_code_detect
    non-degeneracy discipline).  The entropy sum accumulates ≤
    |alphabet| float terms — rounded 4dp per §5.3; the flag reads the
    ROUNDED value so both engines decide from the same number.

    Scale shape: explode to (doc, char) collapses IN-STAGE via
    partial hash aggregation to at most docs x alphabet rows before
    the only shuffle — exchange volume is alphabet-bounded per doc,
    never corpus characters; the window + entropy fold then run inside
    each doc's partition.  (A mapInPandas per-doc counter is the
    zero-shuffle alternative; the explode form stays whole-stage
    codegen and oracle-replayable.)"""
    aug = (T(spark, d, "documents")
           .filter(F.col("text").isNotNull())
           .select("doc_id",
                   F.when(F.col("doc_id") % 11 == 0, F.repeat(F.lit("z"), 40))
                   .otherwise(F.col("text")).alias("t")))
    ch = aug.select("doc_id",
                    F.explode(F.split("t", "")).alias("c")).filter("c <> ''")
    freq = ch.groupBy("doc_id", "c").agg(F.count("*").alias("k"))
    wd = Window.partitionBy("doc_id")
    p = F.col("k") * 1.0 / F.sum("k").over(wd)
    ent = (freq
           .withColumn("term", p * F.log(p))
           .groupBy("doc_id")
           .agg((F.round(-F.sum("term"), 4) + F.lit(0.0))
                .alias("entropy_nats"),
                F.sum("k").cast("bigint").alias("n_chars_counted")))
    return ent.select("doc_id", "n_chars_counted", "entropy_nats",
                      (F.col("entropy_nats") < 1.5).alias("low_entropy"))


@register(
    "llm_topic_labels",
    oracle="""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                              x -> CAST(floor(CAST(x AS DOUBLE) * 64)
                                        AS BIGINT)) AS q
        FROM embeddings WHERE embedding IS NOT NULL
    ), c AS (
        SELECT vec_id AS cid, q AS cq FROM q ORDER BY vec_id LIMIT 4
    ), dist AS (
        SELECT q.vec_id, c.cid,
               list_sum(list_transform(generate_series(1, 64),
                        i -> (q.q[i] - c.cq[i]) * (q.q[i] - c.cq[i])))
                   AS dist2
        FROM q CROSS JOIN c
    ), assign AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist2, cid) AS rn
            FROM dist
        ) WHERE rn = 1
    ), tok AS (
        SELECT a.cid, t.tk
        FROM assign a
        JOIN documents d ON d.doc_id = a.vec_id
        JOIN LATERAL (SELECT unnest(string_split(d.text, ' ')) AS tk) t
          ON true
        WHERE d.text IS NOT NULL AND t.tk <> ''
    ), tf AS (
        SELECT cid, tk, count(*) AS tf FROM tok GROUP BY cid, tk
    ), df AS (
        SELECT tk, count(*) AS df FROM (
            SELECT DISTINCT cid, tk FROM tok
        ) GROUP BY tk
    ), scored AS (
        SELECT tf.cid, tf.tk, tf.tf, df.df,
               tf.tf * 1000000 // df.df AS score
        FROM tf JOIN df USING (tk)
    )
    SELECT cid AS cluster_id, tk AS token,
           CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS clusters_with,
           CAST(rank AS BIGINT) AS rank
    FROM (
        SELECT cid, tk, tf, df,
               row_number() OVER (PARTITION BY cid
                                  ORDER BY score DESC, tk) AS rank
        FROM scored
    ) WHERE rank <= 3
    """,
)
def llm_topic_labels(spark, d):
    """Cluster topic labeling (r12): after semantic clustering, name
    each cluster by its 3 most DISTINCTIVE tokens — term frequency
    within the cluster scaled by the inverse of how many clusters the
    token appears in at all (cluster-level tf-idf, the readout every
    embedding-clustering pipeline prints next to its cluster ids).
    Assignment reuses the llm_semantic_cluster_assign kernel: first-4
    quantized vectors as centroids, exact int64 L2 — deterministic, so
    the oracle replays it verbatim.  The distinctiveness score is
    integer cross-multiplied (tf * 1e6 // df), zero float ties; the
    top-3 cut carries a token tiebreak.

    Scale shape: assignment is a broadcast of k centroids (zero
    exchange for the corpus side); token stats are two partial-agg
    shuffles (cluster x token, then token); the ranking window runs on
    cluster-x-vocab rows — nothing downstream scales with the corpus."""
    emb = T(spark, d, "embeddings").filter(F.col("embedding").isNotNull())
    q = emb.select(
        "vec_id",
        F.expr("transform(embedding,"
               " x -> CAST(floor(CAST(x AS DOUBLE) * 64) AS BIGINT))")
        .alias("q"))
    cents = (q.orderBy("vec_id").limit(4)
             .select(F.col("vec_id").alias("cid"), F.col("q").alias("cq")))
    dist = (q.join(F.broadcast(cents))
            .select("vec_id", "cid",
                    F.expr("aggregate(zip_with(q, cq, (a, b) ->"
                           " (a - b) * (a - b)), 0L, (s, x) -> s + x)")
                    .alias("dist2")))
    wv = Window.partitionBy("vec_id").orderBy("dist2", "cid")
    assign = (dist.withColumn("rn", F.row_number().over(wv))
              .filter("rn = 1").select("vec_id", "cid"))
    docs = (T(spark, d, "documents")
            .filter(F.col("text").isNotNull())
            .select("doc_id", "text"))
    tok = (assign.join(docs, assign.vec_id == docs.doc_id)
           .select("cid", F.explode(F.split("text", " ")).alias("tk"))
           .filter("tk <> ''"))
    # tf rows are unique by (cid, tk) by construction, so the df count
    # over distinct (cid, tk) pairs equals a count of tf rows per tk —
    # deriving df from the CHECKPOINTED tf removes the second
    # assignment-join + corpus-explode pass (guide §2.4/§5); values are
    # identical by construction and hash-verified
    tf = (tok.groupBy("cid", "tk").agg(F.count("*").alias("tf"))
          .localCheckpoint(eager=True))
    df_ = tf.groupBy("tk").agg(F.count("*").alias("df"))
    scored = (tf.join(df_, "tk")
              .withColumn("score", F.expr("tf * 1000000 div df")))
    wc = Window.partitionBy("cid").orderBy(F.col("score").desc(), "tk")
    return (scored.withColumn("rank", F.row_number().over(wc))
            .filter(F.col("rank") <= 3)
            .select(F.col("cid").alias("cluster_id"),
                    F.col("tk").alias("token"),
                    F.col("tf").cast("bigint").alias("tf"),
                    F.col("df").cast("bigint").alias("clusters_with"),
                    F.col("rank").cast("bigint").alias("rank")))


@register(
    "llm_epoch_schedule",
    oracle="""
    WITH tok AS (
        SELECT source,
               sum(len(string_split(text, ' '))) AS tokens
        FROM documents WHERE text IS NOT NULL
        GROUP BY source
    ), q AS (
        -- temperature-0.5 mixture weight as FIXED-POINT sqrt: IEEE
        -- sqrt is correctly rounded, so floor(sqrt(t)*1000) is
        -- bit-identical cross-engine
        SELECT source, tokens,
               CAST(floor(sqrt(tokens) * 1000) AS BIGINT) AS w
        FROM tok
    ), tot AS (
        SELECT sum(w) AS wq, 3 * sum(tokens) // 2 AS budget FROM q
    )
    SELECT source, CAST(tokens AS BIGINT) AS tokens,
           CAST(w AS BIGINT) AS weight,
           CAST(budget * w // wq AS BIGINT) AS alloc_tokens,
           CAST(budget * w // wq AS DOUBLE) / tokens AS epochs,
           CAST(budget * w // wq AS DOUBLE) / tokens > 4.0 AS over_cap
    FROM q, tot
    """,
)
def llm_epoch_schedule(spark, d):
    """Training-mixture epoch planner (r12): given a token budget (1.5x
    the corpus here, derived in-plan) and temperature-0.5 mixture
    weights (w_s = sqrt(tokens_s) — upweights small sources, the
    standard tempered-sampling recipe), allocate budget tokens per
    source and report the implied EPOCH count — the number every
    data-curation review reads to spot sources that would repeat past
    the memorization threshold (flagged at 4 epochs).  All arithmetic
    is engine-exact: token counts are integers, the weight is
    fixed-point over IEEE's correctly-rounded sqrt, allocations are
    integer floor-division shares, and the epoch figure is ONE exact
    int/int division (unrounded, §5.3).

    Scale shape: one partial-agg shuffle to sources x 1 row, a 1-row
    total broadcast back — planner cost is independent of corpus size
    beyond the single token-count pass."""
    tok = (T(spark, d, "documents")
           .filter(F.col("text").isNotNull())
           .groupBy("source")
           .agg(F.sum(F.size(F.split("text", " "))).alias("tokens")))
    q = tok.withColumn(
        "w", F.floor(F.sqrt("tokens") * 1000).cast("bigint"))
    tot = q.agg(F.sum("w").alias("wq"),
                F.expr("3 * sum(tokens) div 2").alias("budget"))
    alloc = F.expr("budget * w div wq")
    return (q.join(F.broadcast(tot))
            .select("source", F.col("tokens").cast("bigint").alias("tokens"),
                    F.col("w").cast("bigint").alias("weight"),
                    alloc.cast("bigint").alias("alloc_tokens"),
                    (alloc.cast("double") / F.col("tokens")).alias("epochs"),
                    (alloc.cast("double") / F.col("tokens") > 4.0)
                    .alias("over_cap")))


@register(
    "llm_dataset_diff",
    oracle="""
    WITH v1 AS (
        SELECT doc_id, md5(text) AS h FROM documents WHERE text IS NOT NULL
    ), v2 AS (
        -- the next corpus version, derived in-plan: every 17th doc
        -- dropped, every remaining 13th re-crawled (content changed),
        -- every 19th spawning a NEW doc id
        SELECT doc_id,
               md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2'
                        ELSE text END) AS h
        FROM documents WHERE text IS NOT NULL AND doc_id % 17 <> 0
        UNION ALL
        SELECT -doc_id - 1, md5(text || ' new')
        FROM documents WHERE text IS NOT NULL AND doc_id % 19 = 0
    )
    SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
           CASE WHEN v1.doc_id IS NULL THEN 'added'
                WHEN v2.doc_id IS NULL THEN 'removed'
                WHEN v1.h <> v2.h THEN 'modified'
                ELSE 'unchanged' END AS status
    FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    """,
)
def llm_dataset_diff(spark, d):
    """Dataset version diff (r12): the corpus-versioning readout —
    which documents were added, removed, modified or untouched between
    two crawl snapshots, detected by id alignment + content-hash
    comparison (never by comparing text bytes across the wire).  The
    v2 snapshot is derived IN-PLAN from v1 by deterministic rules
    (drop %17, modify %13, add %19 under new ids) so both engines
    replay the same pair of versions — the llm_code_detect staging
    discipline.  Added ids live OUTSIDE the natural key space
    (-doc_id-1, always negative vs the non-negative v1 ids; r13 fix
    per advice — a '+1e6' offset collides with genuine v1 ids once
    the corpus exceeds 1e6 docs and silently reclassifies rows).  This is the diff an incremental training pipeline
    feeds to its dedup/tokenize stages so unchanged docs are never
    reprocessed.

    Scale shape: two narrow hash projections + ONE full-outer hash
    join on doc_id; at 100 TB both sides co-partition on id (zero
    extra exchange on a bucketed layout), and 'unchanged' rows exit
    the pipeline immediately after this join."""
    v1 = (T(spark, d, "documents")
          .filter(F.col("text").isNotNull())
          .select("doc_id", F.md5("text").alias("h")))
    base = T(spark, d, "documents").filter(F.col("text").isNotNull())
    v2 = (base.filter(F.col("doc_id") % 17 != 0)
          .select("doc_id",
                  F.md5(F.when(F.col("doc_id") % 13 == 0,
                               F.concat(F.col("text"), F.lit(" v2")))
                        .otherwise(F.col("text"))).alias("h"))
          .unionAll(
              base.filter(F.col("doc_id") % 19 == 0)
              .select((-F.col("doc_id") - 1).alias("doc_id"),
                      F.md5(F.concat(F.col("text"), F.lit(" new")))
                      .alias("h"))))
    j = v1.alias("a").join(v2.alias("b"),
                           F.col("a.doc_id") == F.col("b.doc_id"),
                           "full_outer")
    return j.select(
        F.coalesce(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id"),
        F.when(F.col("a.doc_id").isNull(), "added")
        .when(F.col("b.doc_id").isNull(), "removed")
        .when(F.col("a.h") != F.col("b.h"), "modified")
        .otherwise("unchanged").alias("status"))


@register(
    "llm_rag_context_assembly",
    oracle=f"""
    WITH base AS ({_BM25_ORACLE}),
    dl2 AS (SELECT doc_id, len(string_split(text, ' ')) AS dl
            FROM documents),
    r AS (
        SELECT b.qid, b.doc_id, dl2.dl,
               row_number() OVER (PARTITION BY b.qid
                                  ORDER BY b.bm25 DESC, b.doc_id) AS rank
        FROM base b JOIN dl2 USING (doc_id)
    ), c AS (
        SELECT *, sum(dl) OVER (PARTITION BY qid ORDER BY rank) AS cum
        FROM r
    )
    SELECT qid,
           CAST(count(*) FILTER (cum <= 600) AS BIGINT) AS n_docs,
           CAST(coalesce(sum(dl) FILTER (cum <= 600), 0) AS BIGINT)
               AS total_tokens,
           coalesce(string_agg(CASE WHEN cum <= 600
                               THEN CAST(doc_id AS VARCHAR) END, ','
                               ORDER BY rank), '') AS context_ids,
           count(*) FILTER (cum > 600) > 0 AS truncated
    FROM c GROUP BY qid
    """,
)
def llm_rag_context_assembly(spark, d):
    """RAG context assembly (r12): for each query, retrieve the BM25
    top-10 (the llm_bm25_topk scorer, composed as a declared-operator
    building block) and PACK documents into the prompt in rank order
    under a 600-token context budget — the include-while-it-fits
    prefix rule every retrieval-augmented pipeline applies between
    retriever and LLM.  Emits per query the included doc count, the
    token total, the ordered context id list (the prompt recipe) and
    whether the budget truncated the retrieval.  Token counts are
    integers and the cut is a running-sum threshold — engine-exact.

    Scale shape: retrieval cost is llm_bm25_topk's (query-term
    keep-list broadcast, postings-only shuffle); packing adds one
    window over qid x 10 rows — nothing corpus-sized.  At serve time
    the same plan runs per query batch with the corpus side bucketed
    by term."""
    from pyspark.sql import Window

    base = llm_bm25_topk(spark, d)
    dl2 = (T(spark, d, "documents")
           .select("doc_id", F.size(F.split("text", " ")).alias("dl")))
    wq = Window.partitionBy("qid").orderBy(F.col("bm25").desc(), "doc_id")
    r = (base.join(dl2, "doc_id")
         .withColumn("rank", F.row_number().over(wq)))
    c = r.withColumn("cum", F.sum("dl").over(
        Window.partitionBy("qid").orderBy("rank")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    inc = F.col("cum") <= 600
    return (c.groupBy("qid")
            .agg(F.count(F.when(inc, 1)).alias("n_docs"),
                 F.coalesce(F.sum(F.when(inc, F.col("dl"))), F.lit(0))
                 .cast("bigint").alias("total_tokens"),
                 F.coalesce(
                     F.array_join(F.transform(
                         F.array_sort(F.collect_list(
                             F.when(inc, F.struct(
                                 "rank",
                                 F.col("doc_id").cast("string")
                                 .alias("did"))))),
                         lambda x: x["did"]), ","), F.lit(""))
                 .alias("context_ids"),
                 (F.count(F.when(F.col("cum") > 600, 1)) > 0)
                 .alias("truncated")))


@register(
    "llm_judge_agreement",
    oracle="""
    WITH j AS (
        SELECT doc_id,
               len(string_split(text, ' ')) BETWEEN 20 AND 120 AS a,
               length(replace(text, ' ', '')) * 10
                   <= 45 * len(string_split(text, ' ')) AS b
        FROM documents WHERE text IS NOT NULL
    ), c AS (
        SELECT CAST(count(*) FILTER (a AND b) AS BIGINT) AS yy,
               CAST(count(*) FILTER (a AND NOT b) AS BIGINT) AS yn,
               CAST(count(*) FILTER (NOT a AND b) AS BIGINT) AS ny,
               CAST(count(*) FILTER (NOT a AND NOT b) AS BIGINT) AS nn,
               CAST(count(*) AS BIGINT) AS n
        FROM j
    )
    SELECT yy, yn, ny, nn,
           CAST(yy + nn AS DOUBLE) / nullif(n, 0) AS observed_agreement,
           CAST((yy + yn) * (yy + ny) + (ny + nn) * (yn + nn) AS DOUBLE)
               / nullif(n * n, 0) AS expected_agreement,
           round((CAST(yy + nn AS DOUBLE) / nullif(n, 0)
                  - CAST((yy + yn) * (yy + ny) + (ny + nn) * (yn + nn)
                         AS DOUBLE) / nullif(n * n, 0))
                 / nullif(1.0 - CAST((yy + yn) * (yy + ny)
                                     + (ny + nn) * (yn + nn)
                               AS DOUBLE) / nullif(n * n, 0), 0.0), 4) + 0
               AS kappa
    FROM c
    """,
)
def llm_judge_agreement(spark, d):
    """Inter-judge agreement (r12; Cohen's kappa): two independent
    quality judges — a length-band rule (20..120 words, the Gopher
    shape) and a mean-word-length rule (<= 4.5 chars/word, integer
    cross-multiplied; thresholds probed so all four confusion cells
    are populated: 15/28/236/221 at sf0.01) — scored over the corpus, with the 2x2 confusion counts,
    observed and chance agreement, and kappa = (p_o - p_e)/(1 - p_e).
    This is the calibration readout every LLM-as-judge or
    multi-annotator labeling pipeline computes before trusting a
    single judge's labels.  All four cells are exact integers;
    p_o and p_e are exact single divisions (unrounded, §5.3); only
    kappa, a quotient of differences of those, rounds (4dp).

    Scale shape: two narrow boolean maps in the scan projection, then
    a 1-row groupBy-less reduce with map-side partials — judge
    agreement over 100 TB costs one pass."""
    j = (T(spark, d, "documents")
         .filter(F.col("text").isNotNull())
         .select(
             F.size(F.split("text", " ")).between(20, 120).alias("a"),
             (F.length(F.regexp_replace("text", " ", "")) * 10
              <= 45 * F.size(F.split("text", " "))).alias("b")))
    c = j.agg(
        F.count(F.when(F.col("a") & F.col("b"), 1)).alias("yy"),
        F.count(F.when(F.col("a") & ~F.col("b"), 1)).alias("yn"),
        F.count(F.when(~F.col("a") & F.col("b"), 1)).alias("ny"),
        F.count(F.when(~F.col("a") & ~F.col("b"), 1)).alias("nn"),
        F.count("*").alias("n"))
    # nullif guards: an empty slice (n=0) or perfect chance agreement
    # (pe=1) has no defined kappa — NULL, never a zero-division error
    po = ((F.col("yy") + F.col("nn")).cast("double")
          / F.nullif(F.col("n"), F.lit(0)))
    pe = (((F.col("yy") + F.col("yn")) * (F.col("yy") + F.col("ny"))
           + (F.col("ny") + F.col("nn")) * (F.col("yn") + F.col("nn"))
           ).cast("double")
          / F.nullif(F.col("n") * F.col("n"), F.lit(0)))
    return c.select(
        "yy", "yn", "ny", "nn",
        po.alias("observed_agreement"),
        pe.alias("expected_agreement"),
        (F.round((po - pe) / F.nullif(F.lit(1.0) - pe, F.lit(0.0)), 4)
         + F.lit(0.0)).alias("kappa"))


@register(
    "llm_safety_keyword_filter",
    oracle="""
    WITH aug AS (
        -- non-degeneracy staging (the llm_code_detect discipline):
        -- every 9th doc gets an OBFUSCATED blocklist term appended,
        -- every 13th a plain one
        SELECT doc_id,
               CASE WHEN doc_id % 9 = 0 THEN text || ' uns4f3_t3rm'
                    WHEN doc_id % 13 = 0 THEN text || ' unsafe_term'
                    ELSE text END AS t
        FROM documents WHERE text IS NOT NULL
    ), norm AS (
        -- leet-fold BEFORE matching: 0->o 1->i 3->e 4->a 5->s 7->t
        SELECT doc_id, t,
               translate(lower(t), '013457', 'oieast') AS folded
        FROM aug
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(folded,
                '\\b(unsafe_term|banned_phrase)\\b')) AS BIGINT) AS n_hits,
           len(regexp_extract_all(folded,
                '\\b(unsafe_term|banned_phrase)\\b')) > 0 AS blocked,
           regexp_matches(t, '\\b(unsafe_term|banned_phrase)\\b')
               AS plain_hit
    FROM norm
    """,
)
def llm_safety_keyword_filter(spark, d):
    """Safety blocklist filter with obfuscation folding (r12): the
    corpus-safety gate that catches not just a blocklisted term but
    its leet-speak disguises — the text is case-folded and
    digit-substitution-normalized (0→o 1→i 3→e 4→a 5→s 7→t, one
    ``translate`` in codegen) BEFORE word-boundary matching, so
    'UnS4f3_T3rm' hits the same rule as 'unsafe_term'.  Emits the hit
    count, the block verdict, and whether a PLAIN (unfolded) match
    would also have fired — the delta between the two columns is
    exactly the obfuscated traffic a naive filter misses (every 9th
    doc here, planted in-plan; every 13th carries the plain term).

    Scale shape: narrow map — translate + regexp over the scan, no
    shuffle, no UDF; a production blocklist of 10^4 terms compiles to
    one alternation or an Aho-Corasick mapInPandas, same plan shape."""
    docs = T(spark, d, "documents").filter(F.col("text").isNotNull())
    t = (F.when(F.col("doc_id") % 9 == 0,
                F.concat(F.col("text"), F.lit(" uns4f3_t3rm")))
         .when(F.col("doc_id") % 13 == 0,
               F.concat(F.col("text"), F.lit(" unsafe_term")))
         .otherwise(F.col("text")))
    pat = r"\b(unsafe_term|banned_phrase)\b"
    # inside a SQL string literal the regex backslashes need their own
    # escaping ('\b' would parse as a backspace character)
    pat_sql = pat.replace("\\", "\\\\")
    hits = F.size(F.expr(
        f"regexp_extract_all(translate(lower(CASE WHEN doc_id % 9 = 0 "
        f"THEN concat(text, ' uns4f3_t3rm') WHEN doc_id % 13 = 0 "
        f"THEN concat(text, ' unsafe_term') ELSE text END), "
        f"'013457', 'oieast'), '{pat_sql}', 0)"))
    return docs.select(
        "doc_id",
        hits.cast("bigint").alias("n_hits"),
        (hits > 0).alias("blocked"),
        t.rlike(pat).alias("plain_hit"))


@register("llm_similarity_ivfadc_trained",
          oracle=_ANN_VERDICT_ORACLE_FMT.format(exact=_COSINE_ORACLE))
def llm_similarity_ivfadc_trained(spark, d):
    """ANN scale path #5, PRODUCTION quantizer (r14; r13 verdict task 2):
    llm_similarity_ivfadc with its coarse cells TRAINED by sampled
    k-means (ivfadc_trained_centroids: bounded deterministic sample,
    diversity-filtered seeding, 5 Lloyd rounds in the integer qv space)
    instead of the declared fixture query's lowest-id seeding.  This is
    the path a real index build runs — lowest-id seeding has NO recall
    guarantee on clustered corpora (it shatters the cluster the first
    ids share while real clusters collapse into giant cells; the >= 0.9
    trained vs <= 0.6 lowest-id contrast is pinned on an adversarial
    clustered corpus in tests/test_llm_dedup.py) — declared here so the
    driver certifies the trained pipeline end-to-end every round, not
    just under pytest.

    Declared as its BAND-VERDICT form (r15; r14 verdict task 1): the
    Lloyd means are data-dependent floats no one-pass ANSI SQL can
    replay, but the verdict output doesn't need them — the exact
    brute-force side is replayable and ``recall_ok`` = recall@10 >=
    0.6 carries the ANN's accuracy into the hash (see
    _ann_recall_verdict).  Production probe budget: nprobe=4 of 16
    cells and an ADC shortlist of 200 (the declared fixture ivfadc
    keeps nprobe=2/50 because its oracle replays those literals) —
    with the 8-codeword demonstration PQ codebook the ADC stage, not
    the coarse quantizer, is the recall bottleneck on random
    near-orthogonal vectors (nprobe=6 alone still bottomed at 0.2),
    and the wider shortlist fixes exactly that: measured per-query
    minimum 0.7 / mean >= 0.84 across all three fixture scales.
    Floor 0.6 leaves the regeneration margin; the >= 0.9 clustered
    floor stays pinned in pytest through the same composition.

    Scale shape: identical to llm_similarity_ivfadc — training touches
    only sample_n driver rows (the faiss recipe), assignment is one
    Arrow-batched numpy pass against a 16x64 broadcast matrix, probing
    explodes queries x nprobe cells, candidates come from ONE equi-join
    on the cell id, and ADC + exact re-rank touch candidates only
    (shortlist 200 of the probed ~quarter of the corpus)."""
    raw = _pq_raw(spark, d)
    qvf = _pq_codes_ckpt(raw)
    ann = llm_similarity_ivfadc(
        spark, d, centroids=ivfadc_trained_centroids(qvf),
        nprobe=4, shortlist=200, _pq=(raw, qvf))
    return _ann_recall_verdict(spark, d, ann, floor=0.6)


@register("llm_similarity_ivfadc_residual",
          oracle=_ANN_VERDICT_ORACLE_FMT.format(exact=_COSINE_ORACLE))
def llm_similarity_ivfadc_residual(spark, d):
    """ANN scale path #6 — IVFADC with RESIDUAL encoding (r15; r14
    verdict task 6): llm_similarity_ivfadc_trained's composition with
    by_residual=true — PQ codes encode qv − centroid[cell] instead of
    the raw vector, the accuracy step every production IVFPQ deploys
    (faiss's default).  Residuals cluster around zero with the coarse
    structure removed, so the codebook's 8 codewords spend their whole
    budget on intra-cell variation; the LUT gains a probed-cell key
    (a query's residual differs per probed cell — the defining
    asymmetry of residual ADC) but stays queries × nprobe × 8 × 8
    rows, broadcast-bounded.

    Measured where ADC is decisive (clustered corpus, shortlist=10 so
    the exact re-rank cannot hide PQ mis-ranking): residual 0.62 mean
    recall vs non-residual 0.20 — the contrast pinned in
    tests/test_llm_dedup.py.  Declared at the production budget
    (nprobe=4, shortlist=200): fixture per-query minimum 0.7 / mean
    0.82-0.92 across all three scales; recall_ok floor 0.6 (the
    band-verdict form — see _ann_recall_verdict)."""
    raw = _pq_raw(spark, d)
    qvf = _pq_codes_ckpt(raw)
    ann = llm_similarity_ivfadc(
        spark, d, centroids=ivfadc_trained_centroids(qvf),
        nprobe=4, shortlist=200, by_residual=True, _pq=(raw, qvf))
    return _ann_recall_verdict(spark, d, ann, floor=0.6)


def _scaled_ivfadc_geometry(n: int):
    """Corpus-scaled trained-ADC geometry — ONE definition shared by
    llm_similarity_ivfadc_scaled and tests/test_llm_dedup.py's recall
    pin (r16 review: the test recomputed the formula and would have
    silently certified a stale geometry after any future clamp change).
    k = clamp(ceil(sqrt(n)), 16, n, train_cap/40), sample_n =
    clamp(40k, 2048, train_cap), nprobe = max(4, ceil(k/4)): the
    4-probe FLOOR means the documented ~quarter scan fraction holds for
    k >= 16 and deliberately widens on sub-16-cell corpora (probing
    under 4 of <16 arbitrary Voronoi shards has no recall guarantee;
    the cell-count clamp inside llm_similarity_ivfadc bounds it).

    Precondition n >= 1 — callers route the empty corpus to the
    trained form's empty verdict BEFORE computing a geometry (r16
    review: fail typed here rather than as math.isqrt's opaque
    domain error for any future caller that forgets the guard)."""
    import math

    if n < 1:
        raise ValueError("scaled IVFADC geometry needs n >= 1 "
                         "(empty corpus handled by the caller)")
    train_cap = 65536
    k = min(max(16, math.isqrt(n - 1) + 1), n, train_cap // 40)
    sample_n = min(max(2048, 40 * k), train_cap)
    nprobe = max(4, -(-k // 4))
    return k, sample_n, nprobe


@register("llm_similarity_ivfadc_scaled",
          oracle=_ANN_VERDICT_ORACLE_FMT.format(exact=_COSINE_ORACLE))
def llm_similarity_ivfadc_scaled(spark, d):
    """ANN scale path #7 — TRAINED centroids AT the corpus-scaled cell
    count (r16; r15 verdict task 7): the composition a production
    IVFADC index build actually runs.  llm_similarity_ivf_scaled makes
    the "k ~ sqrt(n) cells" geometry executable and
    llm_similarity_ivfadc_trained makes the sampled-k-means quantizer
    executable — this entry composes them: k = clamp(ceil(sqrt(n)),
    16, n) coarse cells trained by ivfadc_trained_centroids (bounded
    deterministic sample that SCALES WITH k — the faiss ~40
    points-per-centroid floor, capped at 65536 driver rows = k
    saturating honestly at 1638), nprobe = max(4, ceil(k/4)) derived
    from the FINAL k (the trained fixture form's 4-of-16 scan
    fraction, so each query touches a constant ~quarter of the corpus
    while per-cell posting lists shrink as 1/sqrt(n); the 4-probe
    floor widens the fraction only on sub-16-cell corpora — see
    _scaled_ivfadc_geometry), ADC shortlist 200, exact re-rank on the
    shortlist only.

    Declared as its BAND-VERDICT form (see _ann_recall_verdict): exact
    brute-force side replayed by the oracle + ``recall_ok`` = recall@10
    >= 0.6 computed from the ANN result.  Measured at the scaled
    trained geometry: per-query minimum 0.8 / mean 0.88-0.92 across
    all three fixture scales (k=23/np=6 at ~500 vectors, k=45/np=12 at
    ~2000) — floor 0.6 keeps the sibling queries' regeneration margin;
    the clustered-corpus contrast (trained-at-scaled-k holds where
    lowest-id seeding collapses) is pinned in tests/test_llm_dedup.py.

    Scale shape: ONE bounded count picks k; training touches only
    sample_n driver rows; assignment is one Arrow-batched numpy pass
    against the k x 64 broadcast matrix; probing explodes queries x
    nprobe cells; candidates come from ONE equi-join on the cell id;
    ADC + exact re-rank touch candidates only.  Beyond the 65536-row
    training cap a production build trains k-means distributedly (the
    _quantized_cluster_assign / mapInPandas stages are already
    cluster-side); the cap is a driver-memory bound, not a plan-shape
    one."""
    raw = _pq_raw(spark, d)
    qvf = _pq_codes_ckpt(raw)
    # the bounded corpus count reads the checkpointed codes (same rows
    # as raw — the n2 > 0 filter is upstream of the checkpoint), not a
    # second parquet scan + quantizer pass
    n = qvf.count()
    if n == 0:  # empty corpus: same empty verdict as the trained form
        return llm_similarity_ivfadc_trained(spark, d)
    k, sample_n, nprobe = _scaled_ivfadc_geometry(n)
    ann = llm_similarity_ivfadc(
        spark, d,
        centroids=ivfadc_trained_centroids(qvf, k=k, sample_n=sample_n),
        nprobe=nprobe, shortlist=200, _pq=(raw, qvf))
    return _ann_recall_verdict(spark, d, ann, floor=0.6)
