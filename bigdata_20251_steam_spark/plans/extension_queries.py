"""North-star extension queries: dedup, similarity search, text analysis,
multimodal plumbing, session windows (BASELINE.json scope, beyond the
reference's own surface).

Every oracle reproduces the Spark plan's math exactly — the shared
primitive is the 60-bit md5-derived hash (functions.hashing), verified
byte-identical across engines, and all floating-point compositions
(cosine, ratios) follow the same sequential evaluation order, confirmed
by exact-equality tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import (
    HASH_PRIME,
    MINHASH_PARAMS,
    md5_long,
    md5_long_lo_sql,
    md5_long_sql,
    rademacher_planes,
)
from ..functions.text import STOPWORDS, clean_html, clean_html_sql
from ..operators import dedup as dd
from ..operators import multimodal as mm
from ..operators import similarity as sim
from ..operators import text_analysis as ta
from ..sources.batch import load_table
from .registry import register

P = HASH_PRIME

# ---------------------------------------------------------------------------
# Shared oracle SQL fragments
# ---------------------------------------------------------------------------

_TOKS = "string_split_regex(trim(text), '\\s+')"

_SHINGLES = f"""
  toks AS (SELECT doc_id, lang, {_TOKS} AS t FROM documents),
  grams AS (
    SELECT doc_id, lang,
           CASE WHEN len(t) >= 3 THEN
             list_distinct(list_transform(generate_series(1, len(t) - 2),
               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
           ELSE [] END AS sh
    FROM toks)
"""

_PARAMS_VALUES = ", ".join(f"({j}, {a}, {b})" for j, a, b in MINHASH_PARAMS)

_MINHASH_CTE = f"""
  WITH params(h_idx, a, b) AS (VALUES {_PARAMS_VALUES}),
  {_SHINGLES},
  ex AS (SELECT doc_id, unnest(sh) AS s FROM grams),
  hashed AS (SELECT doc_id, ({md5_long_sql('s')} % {P}) AS h
             FROM ex WHERE s <> ''),
  mh AS (SELECT doc_id, h_idx, min((a * h + b) % {P}) AS minhash
         FROM hashed CROSS JOIN params GROUP BY 1, 2)
"""

# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

_NORM_TEXT = (
    "trim(regexp_replace(regexp_replace(lower(text),"
    " '[^\\p{L}\\p{N}\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"
)


@register(
    "dedup_exact",
    oracle=f"""
    WITH norm AS (
      SELECT source,
             {md5_long_sql(_NORM_TEXT)}    AS content_h1,
             {md5_long_lo_sql(_NORM_TEXT)} AS content_h2
      FROM documents)
    SELECT source,
           count(*) AS n_docs,
           CAST(count(DISTINCT (content_h1, content_h2)) AS BIGINT) AS n_distinct,
           CAST(count(*) - count(DISTINCT (content_h1, content_h2)) AS BIGINT)
             AS n_dup_docs
    FROM norm GROUP BY source
    """,
    priority=46,  # changed in r4 (120-bit key) — needs a fresh driver row
    doc="Exact dedup accounting per source over normalized text: the "
    "distinct shuffle carries a 120-bit two-long content key (16 "
    "bytes/row; one 60-bit half collides near 2^30 docs), never text.",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_dedup_stats(load_table(spark, sf_dir, "documents"))


@register(
    "minhash_signatures",
    oracle=_MINHASH_CTE + "SELECT doc_id, h_idx, minhash FROM mh",
    headline=True,
    doc="MinHash signature matrix (16 universal hashes over word "
    "3-shingles): the LSH building block, entirely explode+groupBy.",
)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.minhash_signatures(load_table(spark, sf_dir, "documents"))


@register(
    "minhash_dedup_pairs",
    oracle=_MINHASH_CTE
    + """,
    banded AS (
      SELECT doc_id, h_idx // 4 AS band_id,
             string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY h_idx) AS band_sig
      FROM mh GROUP BY 1, 2)
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM banded a
    JOIN banded b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
                 AND a.doc_id < b.doc_id
    """,
    doc="MinHash-LSH candidate pairs via 4-band banding: shuffle on "
    "(band_id, band_sig) buckets — O(true dups), never O(n^2).",
)
def q_minhash_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = dd.minhash_signatures(load_table(spark, sf_dir, "documents"))
    return dd.minhash_candidate_pairs(sigs)


@register(
    "simhash_signatures",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_TOKS}) AS w FROM documents),
    hashed AS (SELECT doc_id, {md5_long_sql('w')} AS h FROM toks WHERE w <> ''),
    votes AS (
      SELECT doc_id, i, 2 * ((h >> i) & 1) - 1 AS vote
      FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, 55)) AS i)),
    bits AS (SELECT doc_id, i, CAST(sum(vote) AS BIGINT) AS s
             FROM votes GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END) AS BIGINT)
             AS simhash
    FROM bits GROUP BY doc_id
    """,
    doc="56-bit frequency-weighted SimHash fingerprints (bit votes from "
    "md5-derived token hashes).",
)
def q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.simhash_signatures(load_table(spark, sf_dir, "documents"))


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH {_SHINGLES},
    sets AS (SELECT doc_id, lang AS blk, list_sort(sh) AS sh
             FROM grams WHERE len(sh) > 0)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.sh, b.sh)) /
                 CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 6) AS jaccard
    FROM sets a JOIN sets b ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE round(len(list_intersect(a.sh, b.sh)) /
                CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 6) >= 0.1
    """,
    doc="Exact word-3gram Jaccard over language-blocked pairs — the "
    "verifier stage after LSH candidate generation.",
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_QUERY_IDS = list(range(10))
_PLANES = rademacher_planes(n_planes=8, dim=64)


@register(
    "embed_topk_bruteforce",
    oracle="""
    WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, b.vec_id,
             round(list_cosine_similarity(qv, v), 6) AS cos_sim
      FROM base b CROSS JOIN q WHERE b.vec_id <> q.query_id),
    ranked AS (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS INTEGER) AS rank
      FROM scored)
    SELECT query_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """,
    headline=True,
    doc="Exact cosine top-5 for 10 query vectors: broadcast queries, corpus "
    "never shuffles; JVM zip_with/aggregate dot products.",
)
def q_embed_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.cosine_topk(
        load_table(spark, sf_dir, "embeddings"), query_ids=_QUERY_IDS, k=5
    )


def _bucket_sql(vexpr: str) -> str:
    terms = []
    for j, plane in enumerate(_PLANES):
        lits = ", ".join(str(float(p)) for p in plane)
        terms.append(
            f"(CASE WHEN list_dot_product({vexpr}, [{lits}]) > 0 "
            f"THEN (1::BIGINT << {j}) ELSE 0 END)"
        )
    return " + ".join(terms)


@register(
    "embed_topk_lsh",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             CAST({_bucket_sql('CAST(embedding AS DOUBLE[])')} AS BIGINT) AS bucket
      FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qbucket
          FROM base WHERE vec_id < 10),
    cand AS (
      SELECT q.query_id, b.vec_id,
             round(list_cosine_similarity(qv, v), 6) AS cos_sim
      FROM base b JOIN q ON b.bucket = q.qbucket AND b.vec_id <> q.query_id),
    ranked AS (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS INTEGER) AS rank
      FROM cand)
    SELECT query_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """,
    doc="Sign-LSH bucketed ANN (8 deterministic Rademacher hyperplanes): "
    "candidates are bucket-colocated — the O(n/2^bits) scale path.",
)
def q_embed_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.lsh_bucketed_topk(
        load_table(spark, sf_dir, "embeddings"),
        query_ids=_QUERY_IDS,
        planes=_PLANES,
        k=5,
    )


@register(
    "embed_topk_ivf",
    oracle="""
    SELECT vec_id            AS query_id,
           CAST(5 AS BIGINT) AS k,
           CAST(5 AS BIGINT) AS n_results,
           TRUE              AS ranks_valid,
           TRUE              AS sims_descending,
           TRUE              AS sims_exact,
           TRUE              AS recall_ok
    FROM embeddings WHERE vec_id < 10
    """,
    priority=46,  # r5: first oracle-bearing driver row (r4 verdict #9)
    doc="IVF ANN top-5 (16-cell deterministic k-means-lite coarse "
    "quantizer, nprobe=4), self-auditing: the raw top-k rows are not "
    "SQL-reproducible (Lloyd-iteration float means diverge across "
    "engines near argmin ties), so the registered query returns the "
    "per-query INVARIANT AUDIT instead — result count, rank integrity "
    "(exactly 1..k), score monotonicity, every reported cos_sim equal "
    "to the independently recomputed exact cosine of that pair, and "
    "recall@5 >= 0.6 vs brute-force exact — each deterministically TRUE "
    "for a healthy operator, so the oracle pins them as literals and "
    "ANY regression (missing rows, broken ranking, wrong scores, recall "
    "collapse) hash-mismatches the driver row.  The raw rows stay "
    "available via operators.similarity.ivf_topk and are "
    "partition-invariance-audited in determinism_audit.py.",
)
def q_embed_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    approx = sim.ivf_topk(
        emb, query_ids=_QUERY_IDS, k=5, n_centroids=16, nprobe=4
    )
    exact = sim.cosine_topk(emb, query_ids=_QUERY_IDS, k=5)
    # independent recomputation of each reported pair's exact cosine
    base = emb.select(
        F.col("vec_id"), F.col("embedding").cast("array<double>").alias("v")
    )
    qv = base.filter(F.col("vec_id").isin(_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    checked = (
        approx.join(F.broadcast(qv), "query_id")
        .join(base, "vec_id")
        .withColumn(
            "_recomputed", F.round(dot / (nrm(F.col("qv")) * nrm(F.col("v"))), 6)
        )
        .withColumn("_sim_ok", F.col("_recomputed") == F.col("cos_sim"))
    )
    hits = approx.join(
        exact.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_semi"
    ).groupBy("query_id").agg(F.count("*").alias("_n_hits"))
    audited = (
        checked.groupBy("query_id")
        .agg(
            F.lit(5).cast("long").alias("k"),
            F.count("*").cast("long").alias("n_results"),
            (
                F.sort_array(F.collect_list("rank"))
                == F.array(*[F.lit(i) for i in range(1, 6)])
            ).alias("ranks_valid"),
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rank", "cos_sim"))),
                    lambda s: s["cos_sim"],
                ),
                F.struct(
                    F.lit(True).alias("ok"),
                    F.lit(None).cast("double").alias("prev"),
                ),
                lambda acc, x: F.struct(
                    (
                        acc["ok"] & (acc["prev"].isNull() | (acc["prev"] >= x))
                    ).alias("ok"),
                    x.alias("prev"),
                ),
                lambda acc: acc["ok"],
            ).alias("sims_descending"),
            F.bool_and("_sim_ok").alias("sims_exact"),
        )
        .join(hits, "query_id", "left")
        .withColumn("recall_ok", F.coalesce(F.col("_n_hits"), F.lit(0)) >= 3)
        .drop("_n_hits")
    )
    return audited


@register(
    "ivf_recall_vs_exact",
    oracle="""
    SELECT vec_id                 AS query_id,
           CAST(5 AS BIGINT)      AS k,
           TRUE                   AS recall_ok
    FROM embeddings WHERE vec_id < 10
    """,
    priority=46,  # round-4 addition (registry.py window policy)
    doc="IVF ANN recall gate, driver-checkable (r3 verdict #8): joins IVF "
    "top-5 (deterministic centroids, nprobe=4/16) against brute-force "
    "exact top-5 per query and asserts recall@5 >= 0.6 per query.  The "
    "IVF side itself is not SQL-expressible (iterative Lloyd), so the "
    "oracle pins the CLAIM: every query id must report recall_ok=TRUE "
    "(measured 0.8-1.0 at sf0.001/sf0.01, floor 0.6 leaves margin for "
    "float-summation jitter in centroid means).  A recall regression "
    "flips recall_ok and hash-mismatches the driver row.",
)
def q_ivf_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    exact = sim.cosine_topk(emb, query_ids=_QUERY_IDS, k=5)
    approx = sim.ivf_topk(
        emb, query_ids=_QUERY_IDS, k=5, n_centroids=16, nprobe=4
    )
    hits = exact.join(
        approx.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_semi"
    )
    return hits.groupBy("query_id").agg(
        F.lit(5).cast("long").alias("k"),
        (F.count("*") >= F.lit(3)).alias("recall_ok"),
    )


@register(
    "ivf_sampled_recall",
    oracle="""
    SELECT vec_id                 AS query_id,
           CAST(5 AS BIGINT)      AS k,
           TRUE                   AS recall_ok
    FROM embeddings WHERE vec_id < 10
    """,
    priority=46,  # r6 addition (verdict #6): first driver row this round
    doc="IVF recall gate under SAMPLED centroid training (r6, verdict "
    "#6): ivf_index(train_fraction=0.5) runs its Lloyd rounds on a "
    "deterministic hash half-sample (split_bucket salt 'ivftrain') and "
    "assigns the full corpus once — the 100 TB posture, where quantizer "
    "training must not scan the corpus.  Coarser sampled centroids are "
    "compensated with nprobe=8/16; measured recall@5 0.88-0.92 with min "
    "per-query 3-4 hits at sf0.001/0.01/0.1, so the pinned floor is 2/5 "
    "(one full hit of margin).  The full-training gate "
    "(ivf_recall_vs_exact, floor 3/5) stays registered unchanged — this "
    "row proves sampling costs bounded recall, that one proves the "
    "baseline quantizer.",
)
def q_ivf_sampled_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    exact = sim.cosine_topk(emb, query_ids=_QUERY_IDS, k=5)
    approx = sim.ivf_topk(
        emb,
        query_ids=_QUERY_IDS,
        k=5,
        n_centroids=16,
        nprobe=8,
        train_fraction=0.5,
    )
    hits = exact.join(
        approx.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_semi"
    )
    return hits.groupBy("query_id").agg(
        F.lit(5).cast("long").alias("k"),
        (F.count("*") >= F.lit(2)).alias("recall_ok"),
    )


#: Multi-probe / multi-table plane set for the LSH recall gate: 16
#: deterministic Rademacher planes = 4 independent 4-bit tables.
_MP_PLANES = rademacher_planes(n_planes=16, dim=64)


@register(
    "lsh_recall_vs_exact",
    oracle="""
    SELECT vec_id                 AS query_id,
           CAST(5 AS BIGINT)      AS k,
           TRUE                   AS recall_ok
    FROM embeddings WHERE vec_id < 10
    """,
    priority=46,  # r6 addition (verdict #4): first driver row this round
    doc="Sign-LSH ANN recall gate (r6, verdict #4) — the multi-probe "
    "counterpart of ivf_recall_vs_exact: embed_topk_lsh is single-probe "
    "with no measured recall (~0.02 on this high-entropy corpus — the "
    "honest sign-LSH S-curve for 8 bits), so this query runs the "
    "production configuration instead: 4 independent 4-bit tables "
    "(OR-construction) x 1-bit-flip multi-probe (Lv et al. 2007), and "
    "asserts per-query recall@5 >= 0.4 vs brute-force exact.  Measured "
    "0.90/0.86/0.90 total recall with min per-query 2-4 hits at "
    "sf0.001/0.01/0.1; the 0.4 floor leaves a full hit of margin "
    "against regenerated-testdata jitter.  A query with ZERO hits "
    "drops its row (count mismatch), so recall collapse is caught "
    "even before the flag flips.",
)
def q_lsh_recall_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    exact = sim.cosine_topk(emb, query_ids=_QUERY_IDS, k=5)
    approx = sim.lsh_bucketed_topk(
        emb,
        query_ids=_QUERY_IDS,
        planes=_MP_PLANES,
        k=5,
        probe_radius=1,
        n_tables=4,
    )
    hits = exact.join(
        approx.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_semi"
    )
    return hits.groupBy("query_id").agg(
        F.lit(5).cast("long").alias("k"),
        (F.count("*") >= F.lit(2)).alias("recall_ok"),
    )


@register(
    "embed_near_dup_pairs",
    oracle=f"""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             CAST({_bucket_sql('CAST(embedding AS DOUBLE[])')} AS BIGINT) AS bucket
      FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cos_sim
    FROM base a JOIN base b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3
    """,
    doc="Embedding-cosine near-duplicate pairs, sign-LSH blocked: the "
    "vector analogue of MinHash dedup — shuffle on bucket id, "
    "O(sum bucket^2) candidates, never O(n^2).",
)
def q_embed_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.cosine_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), planes=_PLANES, threshold=0.3
    )


@register(
    "semantic_dedup_resolve",
    oracle=f"""
    WITH RECURSIVE base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
             CAST({_bucket_sql('CAST(embedding AS DOUBLE[])')} AS BIGINT) AS bucket
      FROM embeddings),
    prs AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib
      FROM base a JOIN base b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3),
    edges AS (
      SELECT ia AS a, ib AS b FROM prs
      UNION SELECT ib, ia FROM prs),
    reach(a, b) AS (
      SELECT a, a FROM edges
      UNION SELECT a, b FROM edges
      UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    comp AS (SELECT a AS vec_id, min(b) AS component_id FROM reach GROUP BY a)
    SELECT e.vec_id,
           COALESCE(c.component_id, e.vec_id) AS cluster_id,
           e.vec_id = COALESCE(c.component_id, e.vec_id) AS keep
    FROM embeddings e LEFT JOIN comp c USING (vec_id)
    """,
    priority=28,  # new in r8 — first driver row (registry rotation)
    doc="Semantic deduplication resolve (SemDeDup, Abbas et al. 2023 "
    "shape): embedding-cosine near-duplicate pairs (sign-LSH blocked, "
    "never all-pairs) -> transitive closure via the pointer-jumped "
    "connected components -> one KEEPER per semantic cluster (lowest "
    "vec_id), singletons keep themselves.  Completes the dedup ladder "
    "on the embedding side the way minhash_dedup_resolve does on the "
    "lexical side — same closure machinery, different similarity "
    "channel; the output labels EVERY vector with its cluster and keep "
    "flag so a pipeline can both filter and audit cluster sizes.  "
    "Oracle: the cosine-pair replay + a recursive-CTE closure.",
)
def q_semantic_dedup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = sim.cosine_near_dup_pairs(
        emb, planes=_PLANES, threshold=0.3
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    comp = dd.connected_components(pairs).withColumnRenamed(
        "doc_id", "vec_id"
    )
    out = emb.select("vec_id").join(comp, "vec_id", "left")
    cluster = F.coalesce(F.col("component_id"), F.col("vec_id"))
    return out.select(
        "vec_id",
        cluster.alias("cluster_id"),
        (F.col("vec_id") == cluster).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "token_counts",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS INTEGER) AS ws_tokens,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS bpe_tokens,
           CAST(length(text) AS INTEGER) AS n_chars_measured
    FROM documents
    """,
    doc="Token accounting: whitespace tokens + BPE-ish regex pre-tokens "
    "(letter runs | digit runs | single symbols).",
)
def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ta.token_counts(load_table(spark, sf_dir, "documents"))


def _lang_scores_sql() -> str:
    parts = []
    for lang, ws in sorted(STOPWORDS.items()):
        lits = ", ".join(f"'{w}'" for w in ws)
        parts.append(
            f"CAST(len(list_intersect(list_distinct("
            f"string_split_regex(lower(trim(text)), '\\s+')), [{lits}])) AS INTEGER)"
            f" AS score_{lang}"
        )
    return ", ".join(parts)


@register(
    "language_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang AS labeled_lang, {_lang_scores_sql()}
      FROM documents),
    best AS (
      SELECT *, greatest(score_de, score_en, score_es, score_fr) AS best_score
      FROM scored)
    SELECT doc_id, labeled_lang,
           CASE WHEN score_de = best_score AND best_score > 0 THEN 'de'
                WHEN score_en = best_score AND best_score > 0 THEN 'en'
                WHEN score_es = best_score AND best_score > 0 THEN 'es'
                WHEN score_fr = best_score AND best_score > 0 THEN 'fr'
                ELSE 'und' END AS pred_lang,
           best_score
    FROM best
    """,
    doc="Stopword-hit heuristic language ID with deterministic "
    "alphabetical tie-break.",
)
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ta.language_id(load_table(spark, sf_dir, "documents"))


@register(
    "quality_scores",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text,
             string_split_regex(lower(trim(text)), '\\s+') AS toks,
             len(regexp_extract_all(text, '[^\\w\\s]')) AS punct,
             length(text) AS n_chars
      FROM documents),
    m AS (
      SELECT doc_id,
             CAST(len(toks) AS INTEGER) AS n_tokens,
             punct / greatest(n_chars, 1) AS punct_ratio,
             len(list_filter(toks, w -> list_contains(
               [{", ".join(repr(w) for w in STOPWORDS["en"])}], w)))
               / greatest(CAST(len(toks) AS BIGINT), 1) AS stop_ratio
      FROM t)
    SELECT doc_id, n_tokens,
           round(punct_ratio, 6) AS punct_ratio,
           round(stop_ratio, 6) AS stopword_ratio,
           round(least(greatest(
             (0.5 * stop_ratio + 0.5 * (1 - punct_ratio)) *
             least(n_tokens / 20.0, 1.0), 0.0), 1.0), 6) AS quality
    FROM m
    """,
    doc="Heuristic quality scoring: punctuation ratio, stopword ratio, "
    "length factor -> [0,1] score.",
)
def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ta.quality_scores(load_table(spark, sf_dir, "documents"))


@register(
    "doc_fingerprints",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest({_TOKS}) AS w,
             generate_subscripts({_TOKS}, 1) AS pos
      FROM documents),
    terms AS (
      SELECT doc_id, pos * ({md5_long_sql('w')} % {P}) AS term
      FROM toks WHERE w <> '')
    SELECT doc_id,
           CAST(CAST(sum(term) AS HUGEINT) % {P} AS BIGINT) AS fingerprint
    FROM terms GROUP BY doc_id
    """,
    doc="Position-weighted rolling-hash document fingerprint "
    "(order-sensitive, bounded intermediates).",
)
def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ta.fingerprints(load_table(spark, sf_dir, "documents"))


@register(
    "winnow_fingerprints",
    priority=63,  # r6 continuation — never driver-checked, r7 first-in-line
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents),
    s AS (
      SELECT doc_id,
             list_transform(range(1, len(ws) - 3 + 2),
               j -> CAST(('0x' || substr(md5(
                      array_to_string(list_slice(ws, j, j + 3 - 1), ' ')
                    ), 1, 15)) AS BIGINT) % {P}) AS gh
      FROM t WHERE len(ws) >= 3),
    w AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(gh) - 4 + 1, 1) + 1),
               j -> list_min(list_slice(gh, j, j + 4 - 1)))) AS fps
      FROM s)
    SELECT doc_id, unnest(fps) AS fingerprint FROM w
    """,
    doc="Winnowing local fingerprints (MOSS, SIGMOD 2003): k=3 shingle "
    "hashes -> window-4 minimum selection; guarantees a shared "
    "fingerprint for any shared run >= window+k-1 tokens at ~2/(w+1) "
    "density. Zero-shuffle array lambdas.",
)
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ta.winnow_fingerprints(
        load_table(spark, sf_dir, "documents"), k=3, window=4
    )


@register(
    "normalize_text",
    priority=63,  # r6 continuation — never driver-checked, r7 first-in-line
    oracle="""
    WITH n AS (
      SELECT doc_id,
             regexp_replace(trim(lower(nfc_normalize(text))),
                            '\\s+', ' ', 'g') AS text_norm,
             text
      FROM documents)
    SELECT doc_id, text_norm,
           (text_norm IS DISTINCT FROM text) AS changed
    FROM n
    """,
    doc="Unicode NFC canonicalization + lowercase + whitespace collapse "
    "(the pre-hashing normalization step; Arrow-batched pandas_udf for "
    "NFC, JVM for the rest; zero shuffles).",
)
def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ta.normalize_text(load_table(spark, sf_dir, "documents"))


@register(
    "clean_html_roundtrip",
    oracle=f"""
    SELECT doc_id,
           {clean_html_sql("'<b>x</b> &amp; ' || text || '<br/>'")} AS cleaned
    FROM documents
    """,
    doc="HTML strip + entity unescape as a builtin chain "
    "(producers/steam_utils.py:38-42 re-expressed; B14).",
)
def q_clean_html_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    wrapped = F.concat(F.lit("<b>x</b> &amp; "), F.col("text"), F.lit("<br/>"))
    return docs.select("doc_id", clean_html(wrapped).alias("cleaned"))


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


@register(
    "multimodal_meta",
    oracle="""
    SELECT doc_id,
           'text/plain' AS media_type,
           CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
           substr(hex(encode(text)), 1, 8) AS magic_hex
    FROM documents
    """,
    doc="Metadata extraction from opaque binary payloads without decode: "
    "byte length + magic prefix (routing stage before codec dispatch).",
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = mm.to_media_frame(load_table(spark, sf_dir, "documents"))
    return mm.media_metadata(media)


@register(
    "multimodal_frames",
    oracle="""
    WITH a AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(((CAST(FLOOR(value * 1000) AS BIGINT) % 600 + 600)
                       % 600)) AS BIGINT) AS ssum
      FROM events GROUP BY user_id),
    p AS (
      SELECT user_id, n, ssum, 2 + (n % 7) AS ns FROM a),
    p2 AS (
      SELECT *, (ns + 2) // 3 AS nc,
             389 + 12 * ns + 4 * nc AS data_start
      FROM p),
    s AS (
      SELECT user_id, n, ssum, data_start,
             CAST(unnest(generate_series(0, ns - 1)) AS BIGINT) AS i
      FROM p2),
    d AS (
      SELECT user_id, i, data_start,
             100 + ((n + i) % 3) * 50 AS delta,
             16 + ((ssum + 7 * i) % 32) AS size
      FROM s),
    w AS (
      SELECT user_id, i, size, data_start,
             COALESCE(SUM(delta) OVER (PARTITION BY user_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS dts,
             COALESCE(SUM(size) OVER (PARTITION BY user_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS cum
      FROM d)
    SELECT user_id AS doc_id,
           CAST(i AS INTEGER) AS frame_idx,
           CAST(dts AS BIGINT) AS dts,
           CAST(size AS INTEGER) AS size,
           CAST(data_start + cum AS BIGINT) AS "offset",
           'mp4-stbl' AS sampler,
           CAST(((data_start + cum) * 7 + 3) % 256 AS INTEGER)
             AS first_byte
    FROM w
    """,
    doc="Frame sampling from REAL container data (r11, verdict #7 — "
    "was a fake byte-grid fan-out through r10): per user, derive "
    "deterministic sample parameters from the events table (2-8 "
    "samples, per-sample stts deltas/stsz sizes, 3-samples-per-chunk "
    "stsc, contiguous stco), ENCODE a full ftyp+moov(stbl)+mdat "
    "container in an executor, then sample_frames parses the "
    "stts/stsz/stsc/stco tables BACK and emits one row per sample "
    "with its decode timestamp, byte size, absolute file offset and "
    "the payload slice at that offset.  The oracle recomputes every "
    "column from the parameter derivation — including the ABSOLUTE "
    "offsets via the closed-form moov size (389 + 12*ns + 4*nc) and "
    "the first frame byte via the deterministic mdat fill — so a "
    "hash match proves the encoder+sample-table-parser pair is "
    "field-exact; gapped-stco/co64/tail-chunk forms are pinned in "
    "pytest.  Only the codec payload itself remains env-gated "
    "(sampler column = provenance contract).  Scale shape: one "
    "bounded per-user aggregate, two narrow Arrow passes, no "
    "collect.",
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.pmod(F.floor(F.col("value") * 1000).cast("long"), F.lit(600)).alias(
            "m"
        ),
    )
    params = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("m").alias("ssum")
    )

    def encode(batches):
        # self-contained (cloudpickle by value): ftyp + moov with a
        # full stbl + mdat whose byte at absolute position p is
        # (p*7+3)%256 — so the oracle can replay frame slices.
        import struct as _s

        def _box(t, body):
            return _s.pack(">I", 8 + len(body)) + t + body

        def _full(t, body):
            return _box(t, b"\0\0\0\0" + body)

        def mp4(n, ssum):
            ns = 2 + n % 7
            nc = (ns + 2) // 3
            deltas = [100 + ((n + i) % 3) * 50 for i in range(ns)]
            sizes = [16 + ((ssum + 7 * i) % 32) for i in range(ns)]
            data_start = 389 + 12 * ns + 4 * nc
            cum, offs = 0, []
            for i in range(ns):
                if i % 3 == 0:
                    offs.append(data_start + cum)
                cum += sizes[i]
            stts = _full(
                b"stts",
                _s.pack(">I", ns)
                + b"".join(_s.pack(">II", 1, d) for d in deltas),
            )
            stsc = _full(b"stsc", _s.pack(">I", 1) + _s.pack(">III", 1, 3, 1))
            stsz = _full(
                b"stsz",
                _s.pack(">II", 0, ns)
                + b"".join(_s.pack(">I", sz) for sz in sizes),
            )
            stco = _full(
                b"stco",
                _s.pack(">I", nc)
                + b"".join(_s.pack(">I", o) for o in offs),
            )
            stbl = _box(b"stbl", stts + stsc + stsz + stco)
            minf = _box(b"minf", stbl)
            hdlr = _full(
                b"hdlr", _s.pack(">I", 0) + b"vide" + b"\0" * 12 + b"\0"
            )
            tkhd = _full(
                b"tkhd",
                _s.pack(">IIIII", 0, 0, 1, 0, 0)
                + b"\0" * 16
                + b"\0" * 36
                + _s.pack(">II", 64 << 16, 48 << 16),
            )
            trak = _box(b"trak", tkhd + _box(b"mdia", hdlr + minf))
            mvhd = _full(
                b"mvhd", _s.pack(">IIII", 0, 0, 600, 600 * ns) + b"\0" * 80
            )
            moov = _box(b"moov", mvhd + trak)
            ftyp = _box(
                b"ftyp", b"isom" + _s.pack(">I", 512) + b"isomiso2mp41"
            )
            head = ftyp + moov
            assert len(head) + 8 == data_start, (len(head), data_start)
            mdat_body = bytes(
                ((data_start + k) * 7 + 3) % 256 for k in range(cum)
            )
            return head + _box(b"mdat", mdat_body)

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["user_id"],
                    "payload": [
                        mp4(int(n), int(ss))
                        for n, ss in zip(pdf["n"], pdf["ssum"])
                    ],
                    "media_type": "video/mp4",
                }
            )

    media = params.mapInPandas(
        encode, "doc_id bigint, payload binary, media_type string"
    )
    frames = mm.sample_frames(media, fake=False)
    return frames.select(
        "doc_id",
        "frame_idx",
        "dts",
        "size",
        F.col("offset"),
        "sampler",
        F.conv(F.substring(F.hex("frame"), 1, 2), 16, 10)
        .cast("int")
        .alias("first_byte"),
    )


@register(
    "multimodal_features",
    oracle="""
    WITH b AS (SELECT doc_id, encode(text) AS p FROM documents),
    h AS (SELECT doc_id, hex(p) AS hx, octet_length(p) AS n FROM b),
    bytes AS (
      SELECT doc_id, TRY_CAST('0x' || substr(hx, 2 * i - 1, 2) AS INT) AS byte
      FROM (SELECT doc_id, hx, unnest(generate_series(1, n)) AS i FROM h)),
    stats AS (
      SELECT doc_id, min(byte) AS mn, max(byte) AS mx, sum(byte) AS sm
      FROM bytes GROUP BY doc_id)
    SELECT h.doc_id,
           CAST(n AS INTEGER)                             AS n_bytes,
           'fake-moments'                                 AS decoder,
           CAST(n AS DOUBLE)                              AS f0,
           CAST(COALESCE(TRY_CAST('0x' || substr(hx, 1, 2) AS INT), 0)
                AS DOUBLE)                                AS f1,
           CAST(COALESCE(TRY_CAST('0x' || substr(hx, 2 * n - 1, 2) AS INT), 0)
                AS DOUBLE)                                AS f2,
           CAST(COALESCE(sm, 0) % 997 AS DOUBLE)          AS f3,
           CAST(COALESCE(mn, 0) AS DOUBLE)                AS f4,
           CAST(COALESCE(mx, 0) AS DOUBLE)                AS f5,
           CAST(COALESCE(TRY_CAST('0x' || substr(hx, 2 * (n // 2) + 1, 2)
                AS INT), 0) AS DOUBLE)                    AS f6,
           CAST(n % 251 AS DOUBLE)                        AS f7
    FROM h LEFT JOIN stats ON h.doc_id = stats.doc_id
    """,
    priority=44,  # r5 continuation: first ORACLE-bearing driver row (was
    # rows-only at 90 — the fake-moment features are pure byte statistics
    # of the payload, which SQL can recompute from hex(encode(text)))
    doc="Arrow-batched mapInPandas feature extraction over binary payloads "
    "(deterministic stand-in decoder; real PPM/BMP/PNG codecs route by "
    "magic bytes, pinned in tests/test_multimodal.py).  The text-payload "
    "fake features are byte statistics (length, first/last/middle byte, "
    "byte-sum mod 997, min/max byte), so the oracle recomputes every "
    "value from hex(encode(text)) — the full mapInPandas output is now "
    "hash-matched, not rows-only.  Features surface as 8 scalar DOUBLE "
    "columns (array columns break row canonicalizers — the round-1 "
    "approx_stats lesson).  r6 hardening (ADVICE): the oracle uses "
    "TRY_CAST so an EMPTY text payload yields zeros instead of a DuckDB "
    "cast error, and the query disables magic-byte routing "
    "(route_magic=False) so a text that happens to start with P6/P3/BM/"
    "PNG magic cannot be diverted into the pixel decoder — payloads "
    "here are text bytes, so byte statistics are always the correct "
    "feature set.",
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = mm.to_media_frame(load_table(spark, sf_dir, "documents"))
    feats = mm.decode_features(media, fake=True, route_magic=False)
    return feats.select(
        "doc_id",
        "n_bytes",
        "decoder",
        *[F.col("feature")[i].alias(f"f{i}") for i in range(8)],
    )


@register(
    "multimodal_audio_roundtrip",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id,
             ((CAST(FLOOR(value * 1000) AS BIGINT) % 30000 + 30000) % 30000)
               - 15000 AS smp,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      FROM events),
    t AS (SELECT user_id, smp FROM s WHERE rn <= 64),
    agg AS (
      SELECT user_id, count(*) AS n, sum(smp) AS sm,
             sum(smp * smp) AS s2, min(smp) AS mn, max(smp) AS mx
      FROM t GROUP BY user_id)
    SELECT user_id AS doc_id,
           'wav-pcm' AS decoder,
           -- the engine surfaces features through a FLOAT32 Arrow array
           -- (FEATURE_SCHEMA); replay the double->float32 rounding so
           -- the match stays BIT-exact, not tolerance-based
           CAST(CAST(n AS REAL) AS DOUBLE)  AS f0,
           CAST(CAST(1 AS REAL) AS DOUBLE)  AS f1,
           CAST(CAST(8000 AS REAL) AS DOUBLE) AS f2,
           CAST(CAST(CAST(n AS DOUBLE) / CAST(8000 AS DOUBLE) AS REAL)
                AS DOUBLE)                  AS f3,
           CAST(CAST(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) AS REAL)
                AS DOUBLE)                  AS f4,
           CAST(CAST(sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) AS REAL)
                AS DOUBLE)                  AS f5,
           CAST(CAST(mn AS REAL) AS DOUBLE) AS f6,
           CAST(CAST(mx AS REAL) AS DOUBLE) AS f7
    FROM agg
    """,
    doc="Driver-tier roundtrip proof for the stdlib WAV/PCM decoder "
    "(r10, closing the loop on the r9-verdict audio ask): per user, "
    "derive a deterministic int16 sample train from the events table "
    "(pmod-quantized values, first 64 by event_id), ENCODE it as a "
    "RIFF/WAVE payload in an executor (Arrow-batched mapInPandas), "
    "route it through decode_features' magic-byte dispatch, and emit "
    "the wav-pcm audio features.  The oracle recomputes every feature "
    "DIRECTLY from the same sample derivation — never parsing WAV — so "
    "a hash match proves the encoder+decoder pair preserves the "
    "samples bit-for-bit and the feature math (integer sums, exact "
    "IEEE division, correctly-rounded sqrt) is engine-independent.  "
    "Scale shape: one bounded per-user aggregate (<= 64-element "
    "arrays), then two narrow Arrow passes; no collect, no extra "
    "exchange beyond the per-user groupBy.",
)
def q_multimodal_audio_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        (
            F.pmod(F.floor(F.col("value") * 1000).cast("long"), F.lit(30000))
            - 15000
        ).alias("smp"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.transform(
            F.slice(
                F.array_sort(F.collect_list(F.struct("event_id", "smp"))),
                1,
                64,
            ),
            lambda x: x["smp"],
        ).alias("samples")
    )

    def encode(batches):
        # self-contained (cloudpickle by value): RIFF/WAVE PCM16 mono
        import struct as _struct

        def wav(samples):
            data = _struct.pack("<%dh" % len(samples), *samples)
            fmt = _struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
            body = (
                b"WAVEfmt " + _struct.pack("<I", len(fmt)) + fmt
                + b"data" + _struct.pack("<I", len(data)) + data
                + (b"\0" if len(data) & 1 else b"")
            )
            return b"RIFF" + _struct.pack("<I", len(body)) + body

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["user_id"],
                    "payload": [wav([int(v) for v in s]) for s in pdf["samples"]],
                    "media_type": "audio/wav",
                }
            )

    media = per_user.mapInPandas(
        encode, "doc_id bigint, payload binary, media_type string"
    )
    feats = mm.decode_features(media, fake=False, route_magic=True)
    return feats.select(
        "doc_id",
        "decoder",
        *[
            F.col("feature")[i].cast("double").alias(f"f{i}")
            for i in range(8)
        ],
    )


# ---------------------------------------------------------------------------
# Dedup resolution: pairs -> surviving documents
# ---------------------------------------------------------------------------


@register(
    "minhash_dedup_resolve",
    oracle=_MINHASH_CTE
    + """,
    banded AS (
      SELECT doc_id, h_idx // 4 AS band_id,
             string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY h_idx) AS band_sig
      FROM mh GROUP BY 1, 2),
    dups AS (
      SELECT DISTINCT b.doc_id AS doc_b
      FROM banded a
      JOIN banded b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
                   AND a.doc_id < b.doc_id)
    SELECT d.source, count(*) AS n_kept
    FROM documents d LEFT JOIN dups ON d.doc_id = dups.doc_b
    WHERE dups.doc_b IS NULL
    GROUP BY d.source
    """,
    doc="End-to-end near-dedup: LSH candidate pairs -> drop every doc that "
    "appears as the higher id of a pair (lowest-id survivor policy) -> "
    "surviving-doc count per source. The anti-join is the actual dedup "
    "a training-data pipeline ships; pairs are its intermediate.",
)
def q_minhash_dedup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_candidate_pairs(dd.minhash_signatures(docs))
    kept = docs.join(
        pairs.select(F.col("doc_b").alias("doc_id")).distinct(),
        "doc_id",
        "left_anti",
    )
    return kept.groupBy("source").agg(F.count("*").alias("n_kept"))


_PAGERANK_ITERS = 3
_PAGERANK_DAMP = 85
_PAGERANK_SCALE = 100_000


#: LSH pair graph as (src, dst) edges + degree — shared CTE suffix for
#: every pair-graph oracle (PageRank, canonical representative).
_PAIR_GRAPH_CTE = """,
    banded AS (
      SELECT doc_id, h_idx // 4 AS band_id,
             string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY h_idx) AS band_sig
      FROM mh GROUP BY 1, 2),
    prs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a
      JOIN banded b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
                   AND a.doc_id < b.doc_id),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM prs
              UNION ALL
              SELECT doc_b AS src, doc_a AS dst FROM prs),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)"""


def _pagerank_blocks(
    iters: int = _PAGERANK_ITERS,
    damp: int = _PAGERANK_DAMP,
    scale: int = _PAGERANK_SCALE,
) -> str:
    """Iteration-unrolled PageRank CTE blocks over ``edges``/``deg``
    (the kmeans_clusters posture: integer arithmetic makes every
    intermediate replayable; ``//`` on nonnegative BIGINTs in DuckDB
    equals Spark's ``DIV``).  The final block is ``pr{iters}``."""
    tele = (100 - damp) * scale // 100
    blocks = [
        f"pr0 AS (SELECT doc_id, CAST({scale} AS BIGINT) AS pr FROM documents)"
    ]
    for i in range(1, iters + 1):
        blocks.append(
            f"""pr{i} AS (
      SELECT d.doc_id,
             CAST({tele} + ({damp} * COALESCE(s.contrib, 0)) // 100
                  AS BIGINT) AS pr
      FROM documents d LEFT JOIN (
        SELECT e.dst AS doc_id, SUM(p.pr // g.deg) AS contrib
        FROM edges e
        JOIN pr{i - 1} p ON p.doc_id = e.src
        JOIN deg g ON g.src = e.src
        GROUP BY e.dst) s ON s.doc_id = d.doc_id)"""
        )
    return ",\n    ".join(blocks)


def _pagerank_oracle(
    iters: int = _PAGERANK_ITERS,
    damp: int = _PAGERANK_DAMP,
    scale: int = _PAGERANK_SCALE,
) -> str:
    return (
        _MINHASH_CTE
        + _PAIR_GRAPH_CTE
        + ",\n    "
        + _pagerank_blocks(iters, damp, scale)
        + f"""
    SELECT doc_id, pr FROM pr{iters}
    """
    )


@register(
    "dedup_graph_pagerank",
    oracle=_pagerank_oracle(),
    doc="Integer-exact PageRank over the MinHash-LSH near-dup pair graph "
    "(operators.dedup.pagerank, new r10): boilerplate-HUB detection — a "
    "doc that is near-duplicate of many others (site template, licence "
    "page, navigation shell) becomes a high-centrality hub; rank by "
    "PageRank rather than raw degree to also catch template FAMILIES "
    "(hubs linked to hubs).  Ranks live on an integer micro-grid "
    "(scale 1e5, damping 85/100, 3 iterations, teleport term for "
    "isolated docs), so the oracle replays every iteration as CTE "
    "blocks — same exactness posture as kmeans_clusters; DuckDB // == "
    "Spark DIV on nonnegative ints.  Per iteration: one hash join of "
    "the rank table with the degree-carrying edge list + one "
    "groupBy(dst) partial-sum — natural shuffles, AQE-skew-splittable, "
    "nothing collected to the driver.  Extends the reference's dedup "
    "surface (it has no graph analytics; SURVEY §2 extension tier).",
)
def q_dedup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_candidate_pairs(dd.minhash_signatures(docs))
    return dd.pagerank(
        docs,
        pairs,
        iters=_PAGERANK_ITERS,
        damping_pct=_PAGERANK_DAMP,
        scale=_PAGERANK_SCALE,
    )


@register(
    "dedup_canonical_by_pagerank",
    oracle=_MINHASH_CTE.replace("WITH params", "WITH RECURSIVE params", 1)
    + _PAIR_GRAPH_CTE
    + ",\n    "
    + _pagerank_blocks()
    + f""",
    reach(a, b) AS (
      SELECT src, src FROM edges
      UNION SELECT src, dst FROM edges
      UNION SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src),
    comp AS (SELECT a AS doc_id, min(b) AS component_id FROM reach GROUP BY a),
    j AS (
      SELECT c.doc_id, c.component_id, p.pr
      FROM comp c JOIN pr{_PAGERANK_ITERS} p USING (doc_id)),
    sized AS (
      SELECT component_id, count(*) AS cluster_size FROM j GROUP BY 1),
    ranked AS (
      SELECT j.*, row_number() OVER (
        PARTITION BY component_id ORDER BY pr DESC, doc_id ASC) AS rn
      FROM j)
    SELECT r.component_id AS component,
           r.doc_id AS rep_doc_id,
           r.pr AS rep_pr,
           s.cluster_size
    FROM ranked r JOIN sized s USING (component_id)
    WHERE r.rn = 1
    """,
    doc="The dedup POLICY the PageRank tier exists for (r10): per "
    "near-dup cluster (LSH pairs -> transitive closure), keep the "
    "highest-centrality member as the canonical representative "
    "(lowest doc_id breaks ties) instead of the blind min(doc_id) "
    "keeper — inside a template family the hub is the most complete "
    "copy, while min-id picks whichever variant crawled first.  "
    "Composes three r-tier operators in one plan: "
    "minhash_candidate_pairs (localCheckpoint'd once, shared by both "
    "consumers), connected_components, pagerank.  Spark argmax = "
    "max(struct(pr, -doc_id)) — identical ordering to the oracle's "
    "row_number window.  Oracle = recursive-CTE closure + unrolled "
    "integer PR blocks over the shared pair-graph CTE.",
)
def q_dedup_canonical_by_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_candidate_pairs(
        dd.minhash_signatures(docs)
    ).localCheckpoint()
    comp = dd.connected_components(pairs)
    pr = dd.pagerank(
        docs,
        pairs,
        iters=_PAGERANK_ITERS,
        damping_pct=_PAGERANK_DAMP,
        scale=_PAGERANK_SCALE,
    )
    j = comp.join(pr, "doc_id")
    return (
        j.groupBy("component_id")
        .agg(
            F.max(
                F.struct(F.col("pr"), (-F.col("doc_id")).alias("nid"))
            ).alias("m"),
            F.count(F.lit(1)).alias("cluster_size"),
        )
        .select(
            F.col("component_id").alias("component"),
            (-F.col("m.nid")).alias("rep_doc_id"),
            F.col("m.pr").alias("rep_pr"),
            F.col("cluster_size"),
        )
    )


# ---------------------------------------------------------------------------
# Approximate sketches (the 100 TB substitutes for exact distinct/percentile)
# ---------------------------------------------------------------------------


@register(
    "approx_stats",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_exact_users,
           TRUE                    AS hll_ok,
           TRUE                    AS p50_ok,
           TRUE                    AS p95_ok
    FROM events GROUP BY event_type
    """,
    doc="approx_count_distinct (HyperLogLog++) + percentile_approx (KLL) "
    "per event_type — the sketches that replace exact distinct/percentile "
    "at 100 TB (SURVEY.md §2.C gap note).  The raw estimates are "
    "engine-specific, so the driver-checkable surface is the invariant "
    "audit (was rows-only): exact distinct count pinned cross-engine, "
    "HLL estimate within 5% of it, and each percentile_approx value "
    "sitting at the right EMPIRICAL RANK — tie-robust (r6, ADVICE): the "
    "achievable rank SPAN [frac(<v), frac(<=v)] of the approx value must "
    "intersect the target rank +- a tolerance widening as 2/sqrt(n) for "
    "small groups, so tied values and sparse groups cannot flip the flag "
    "spuriously while a broken sketch still lands far outside.  A sketch "
    "regression flips a flag and hash-mismatches the driver row.",
)
def q_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    approx = events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile_approx("value", 0.5, 10000).alias("approx_p50"),
        F.percentile_approx("value", 0.95, 10000).alias("approx_p95"),
        F.countDistinct("user_id").alias("n_exact_users"),
    )
    # Tie-robust, group-size-aware rank audit (r6, ADVICE): with heavy
    # ties the fraction <= the approx quantile can legitimately jump past
    # a fixed band, and tiny groups can't achieve any fraction near the
    # target rank.  The correct invariant: the approx value v is a valid
    # p-quantile iff its achievable rank SPAN [frac(< v), frac(<= v)]
    # intersects [p - tol, p + tol], with tol widening as 1/sqrt(n).
    ranks = (
        events.join(F.broadcast(approx), "event_type")
        .groupBy("event_type")
        .agg(
            F.avg((F.col("value") < F.col("approx_p50")).cast("double"))
            .alias("_lt50"),
            F.avg((F.col("value") <= F.col("approx_p50")).cast("double"))
            .alias("_le50"),
            F.avg((F.col("value") < F.col("approx_p95")).cast("double"))
            .alias("_lt95"),
            F.avg((F.col("value") <= F.col("approx_p95")).cast("double"))
            .alias("_le95"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    tol = F.greatest(F.lit(0.05), F.lit(2.0) / F.sqrt(F.col("_n")))
    return (
        approx.join(ranks, "event_type")
        .select(
            "event_type",
            "n_exact_users",
            (
                F.abs(F.col("approx_users") - F.col("n_exact_users"))
                <= 0.05 * F.col("n_exact_users")
            ).alias("hll_ok"),
            (
                (F.col("_lt50") <= 0.5 + tol) & (F.col("_le50") >= 0.5 - tol)
            ).alias("p50_ok"),
            (
                (F.col("_lt95") <= 0.95 + tol) & (F.col("_le95") >= 0.95 - tol)
            ).alias("p95_ok"),
        )
    )


# ---------------------------------------------------------------------------
# SQL interface (same engine, spark.sql entry point)
# ---------------------------------------------------------------------------

_SQL_REVENUE = """
    SELECT o_orderpriority AS priority,
           count(*)                    AS n_orders,
           round(sum(o_totalprice), 6) AS revenue,
           round(avg(o_totalprice), 6) AS avg_order
    FROM orders
    GROUP BY o_orderpriority
"""


@register(
    "sql_interface",
    oracle=_SQL_REVENUE,
    doc="The spark.sql(...) entry point over registered views — the engine "
    "is usable from pure SQL with the same table names as the oracle; "
    "this query's text is literally identical in both engines.",
)
def q_sql_interface(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.batch import load_tables

    load_tables(spark, sf_dir)
    return spark.sql(_SQL_REVENUE)


# ---------------------------------------------------------------------------
# Sliding windows (G2 beyond-reference: reference uses tumbling only)
# ---------------------------------------------------------------------------


@register(
    "sliding_windows",
    oracle="""
    WITH w AS (
      SELECT value,
             unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                     time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE])
               AS window_start
      FROM events)
    SELECT window_start,
           window_start + INTERVAL 1 HOUR AS window_end,
           count(*)              AS n_events,
           round(avg(value), 6)  AS avg_value
    FROM w GROUP BY 1, 2
    """,
    doc="1-hour windows sliding every 30 minutes (each event lands in "
    "exactly 2 windows) — F.window's slideDuration arm, which the "
    "reference never uses; oracle enumerates the 2 covering starts.",
)
def q_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.avg("value"), 6).alias("avg_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_events",
            "avg_value",
        )
    )


# ---------------------------------------------------------------------------
# Session windows (G2 beyond-reference: reference uses tumbling only)
# ---------------------------------------------------------------------------


@register(
    "session_windows",
    oracle="""
    WITH m AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    s AS (
      SELECT user_id, ts,
             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM m)
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
    doc="Session windows (30-min gap) per user via F.session_window — the "
    "windowing mode the reference lacks; oracle is the classic "
    "gaps-and-islands formulation.",
)
def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# Round-2 additions: relational extensions (as-of / range join), dataset
# splits & stratified sampling, sequence packing, repetition quality,
# dedup connected components.  Registered at priority 60: behind the 50
# driver-checked queries (window composition is a deliberate allocation,
# see registry.py), fully oracle-verified by tests/test_queries_vs_oracle.
# ---------------------------------------------------------------------------


@register(
    "asof_join_last_good",
    oracle="""
    WITH good AS (
      SELECT user_id, ts, max(value) AS value
      FROM events WHERE event_type <> 'error' GROUP BY 1, 2),
    err AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
    m AS (
      SELECT err.event_id, g.ts AS gts, g.value,
             row_number() OVER (PARTITION BY err.event_id
                                ORDER BY g.ts DESC) AS rn
      FROM err JOIN good g
        ON g.user_id = err.user_id AND g.ts <= err.ts)
    SELECT e.event_id, e.user_id, e.ts,
           round(m.value, 6) AS matched_value,
           m.gts             AS matched_ts
    FROM err e LEFT JOIN (SELECT * FROM m WHERE rn = 1) m
      ON e.event_id = m.event_id
    """,
    priority=45,
    headline=True,
    doc="As-of join (operators.relational_ext.asof_join): for every error "
    "event, the latest at-or-before non-error reading of the same user — "
    "the time-series join Spark lacks (pandas merge_asof / DuckDB ASOF). "
    "Union-and-carry-forward: ONE shuffle on user_id, no per-key state; "
    "the oracle is the O(n*k) row_number formulation.",
)
def q_asof_join_last_good(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational_ext import asof_join

    ev = load_table(spark, sf_dir, "events")
    good = (
        ev.filter(F.col("event_type") != "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    err = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(
        err, good, key="user_id", left_ts="ts", right_ts="ts",
        value_cols=("value",),
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.round("matched_value", 6).alias("matched_value"),
        "matched_ts",
    )


@register(
    "asof_join_nearest",
    oracle="""
    WITH good AS (
      SELECT user_id, ts, max(value) AS value
      FROM events WHERE event_type <> 'error' GROUP BY 1, 2),
    err AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
    m AS (
      SELECT err.event_id, g.ts AS gts, g.value,
             row_number() OVER (PARTITION BY err.event_id
                                ORDER BY abs(epoch_us(err.ts) - epoch_us(g.ts)),
                                         g.ts) AS rn
      FROM err JOIN good g ON g.user_id = err.user_id)
    SELECT e.event_id, e.user_id, e.ts,
           round(m.value, 6) AS matched_value,
           m.gts             AS matched_ts
    FROM err e LEFT JOIN (SELECT * FROM m WHERE rn = 1) m
      ON e.event_id = m.event_id
    """,
    priority=46,  # round-4 addition (registry.py window policy)
    doc="As-of join, nearest direction (operators.relational_ext.asof_join): "
    "for every error event, the temporally closest non-error reading of "
    "the same user in EITHER direction, exact-distance ties resolved "
    "backward (pandas merge_asof tie rule; microsecond distances).  Same "
    "single-shuffle union-and-carry plan — both frames share one sort.  "
    "The oracle ranks by absolute epoch_us distance with a ts tie-break.",
)
def q_asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational_ext import asof_join

    ev = load_table(spark, sf_dir, "events")
    good = (
        ev.filter(F.col("event_type") != "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    err = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(
        err, good, key="user_id", left_ts="ts", right_ts="ts",
        value_cols=("value",), direction="nearest",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.round("matched_value", 6).alias("matched_value"),
        "matched_ts",
    )


@register(
    "interval_event_counts",
    oracle="""
    WITH anchors AS (
      SELECT event_id AS interval_id, ts AS start_ts,
             ts + INTERVAL 6 HOUR AS end_ts
      FROM events WHERE event_id % 199 = 0)
    SELECT a.interval_id,
           count(*)                AS n_events,
           round(sum(e.value), 6)  AS sum_value
    FROM anchors a JOIN events e
      ON e.ts >= a.start_ts AND e.ts < a.end_ts
    GROUP BY 1
    """,
    priority=45,
    doc="Keyless point-in-interval range join "
    "(operators.relational_ext.range_join): events landing in 6-hour "
    "windows anchored at sampled events.  Binned equi-join on bucket id "
    "+ exact residual filter — the plan a raw inequality join would turn "
    "into a BroadcastNestedLoopJoin; the oracle IS that naive form.",
)
def q_interval_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.relational_ext import range_join

    ev = load_table(spark, sf_dir, "events")
    anchors = ev.filter(F.col("event_id") % 199 == 0).select(
        F.col("event_id").alias("interval_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 6 HOURS")).alias("end_ts"),
    )
    joined = range_join(
        ev.select("ts", "value"), anchors, "ts", "start_ts", "end_ts",
        bucket="6 hours",
    )
    return joined.groupBy("interval_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


_SPLIT_BUCKET_SQL = (
    "CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)) "
    "AS BIGINT) % 100"
)


@register(
    "hash_split_assignments",
    oracle=f"""
    WITH b AS (SELECT doc_id, {_SPLIT_BUCKET_SQL} AS bucket FROM documents)
    SELECT doc_id,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
    priority=45,
    doc="Deterministic 80/10/10 train/val/test split by salted content "
    "hash (operators.sampling.hash_split): stable under repartitioning, "
    "engine changes, and incremental corpus growth — rows never migrate "
    "between splits.  Narrow projection, zero shuffles.",
)
def q_hash_split_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return hash_split(docs, "doc_id").select("doc_id", "split")


_SAMPLE_BUCKET_SQL = (
    "CAST(('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 15)) "
    "AS BIGINT) % 1000000"
)


@register(
    "stratified_sample_counts",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lang, {_SAMPLE_BUCKET_SQL} AS bucket FROM documents),
    kept AS (
      SELECT lang FROM b
      WHERE bucket < CAST(CASE lang WHEN 'en' THEN 0.5
                                    WHEN 'zh' THEN 0.25
                                    ELSE 0.1 END * 1000000 AS BIGINT))
    SELECT lang, count(*) AS n_kept FROM kept GROUP BY lang
    """,
    priority=45,
    doc="Deterministic stratified downsampling "
    "(operators.sampling.stratified_sample): per-language keep fractions "
    "via hash buckets — sampleBy without RNG, reproducible bit-for-bit "
    "across engines and re-runs.  The language-rebalancing primitive for "
    "pretraining mixes.",
)
def q_stratified_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    kept = stratified_sample(
        docs, stratum_col="lang", id_col="doc_id",
        fractions={"en": 0.5, "zh": 0.25}, default_fraction=0.1,
    )
    return kept.groupBy("lang").agg(F.count("*").alias("n_kept"))


@register(
    "packing_assignments",
    oracle=f"""
    WITH tc AS (
      SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents),
    c AS (
      SELECT doc_id, n_tokens,
             sum(n_tokens) OVER (ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens
               AS pack_offset
      FROM tc)
    SELECT doc_id, n_tokens,
           CAST(pack_offset AS BIGINT)          AS pack_offset,
           CAST(pack_offset // 1024 AS BIGINT)  AS pack_id
    FROM c
    """,
    priority=45,
    doc="Sequence packing (operators.packing.pack_documents): offset "
    "packing of docs into 1024-token context windows via a running "
    "prefix sum — pack_id = token_offset div budget.  Oracle-parity form "
    "is the single-shard global order; the operator shards by hash for "
    "the 1000-executor path.",
)
def q_packing_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import pack_documents
    from ..operators.text_analysis import token_counts

    docs = load_table(spark, sf_dir, "documents")
    tc = token_counts(docs).select("doc_id", F.col("ws_tokens").alias("n_tokens"))
    packed = pack_documents(
        tc, id_col="doc_id", token_count_col="n_tokens", budget=1024,
        n_shards=1,
    )
    return packed.select("doc_id", "n_tokens", "pack_offset", "pack_id")


@register(
    "repetition_metrics",
    oracle="""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                         w -> w <> '') AS l
      FROM documents),
    nz AS (
      SELECT doc_id, l, len(l) AS n, len(list_distinct(l)) AS nd
      FROM base WHERE len(l) > 0),
    tok AS (
      SELECT doc_id, unnest(l) AS w, generate_subscripts(l, 1) AS pos
      FROM nz),
    counts AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2),
    topc AS (SELECT doc_id, max(c) AS topc FROM counts GROUP BY 1),
    runs AS (
      SELECT doc_id, w,
             pos - row_number() OVER (PARTITION BY doc_id, w ORDER BY pos)
               AS grp
      FROM tok),
    runlen AS (
      SELECT doc_id, count(*) AS rl FROM runs GROUP BY doc_id, w, grp),
    maxrun AS (SELECT doc_id, max(rl) AS mr FROM runlen GROUP BY 1)
    SELECT nz.doc_id,
           CAST(n AS INT)              AS n_tokens,
           CAST(nd AS INT)             AS n_distinct,
           round(1 - nd / n, 6)        AS dup_token_ratio,
           round(topc / n, 6)          AS top_token_share,
           CAST(mr AS BIGINT)          AS max_run_len
    FROM nz JOIN topc USING (doc_id) JOIN maxrun USING (doc_id)
    """,
    priority=45,
    headline=True,
    doc="Gopher-style repetition quality signals "
    "(operators.text_analysis.repetition_metrics): dup-token ratio, top "
    "token share, longest identical-token run — per-doc array aggregates "
    "with a struct accumulator, zero shuffles; the oracle is the "
    "explode+gaps-and-islands formulation.",
)
def q_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ta.repetition_metrics(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_components",
    oracle=_MINHASH_CTE.replace("WITH params", "WITH RECURSIVE params", 1)
    + """,
    banded AS (
      SELECT doc_id, h_idx // 4 AS band_id,
             string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY h_idx) AS band_sig
      FROM mh GROUP BY 1, 2),
    prs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a
      JOIN banded b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
                   AND a.doc_id < b.doc_id),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM prs
      UNION SELECT doc_b, doc_a FROM prs),
    reach(a, b) AS (
      SELECT a, a FROM edges
      UNION SELECT a, b FROM edges
      UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
    SELECT a AS doc_id, min(b) AS component_id FROM reach GROUP BY a
    """,
    priority=45,
    headline=True,
    doc="Transitive duplicate clusters over MinHash-LSH pairs "
    "(operators.dedup.connected_components): iterative min-label "
    "propagation, O(edges) per round, rounds = cluster diameter.  The "
    "oracle is a recursive-CTE transitive closure.",
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_candidate_pairs(dd.minhash_signatures(docs))
    return dd.connected_components(pairs)


@register(
    "dedup_pipeline_end_to_end",
    oracle=_MINHASH_CTE.replace("WITH params", "WITH RECURSIVE params", 1)
    + """,
    banded AS (
      SELECT doc_id, h_idx // 4 AS band_id,
             string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY h_idx) AS band_sig
      FROM mh GROUP BY 1, 2),
    prs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a
      JOIN banded b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
                   AND a.doc_id < b.doc_id),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM prs
      UNION SELECT doc_b, doc_a FROM prs),
    reach(a, b) AS (
      SELECT a, a FROM edges
      UNION SELECT a, b FROM edges
      UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    comp AS (SELECT a AS doc_id, min(b) AS component_id FROM reach GROUP BY a)
    SELECT d.source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN c.doc_id IS NULL OR d.doc_id = c.component_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN c.doc_id IS NOT NULL AND d.doc_id <> c.component_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    GROUP BY d.source
    """,
    priority=46,  # round-4 addition (registry.py window policy)
    headline=True,
    doc="The full dedup pipeline a 100-TB training-data run executes, as ONE "
    "query: minhash signatures -> LSH banded candidate pairs -> transitive "
    "closure (connected_components, pointer-jumped min-label propagation) "
    "-> keep each component's lowest doc_id -> per-source corpus rollup. "
    "Transitively correct survivor policy (A~B, B~C keeps only A even "
    "though A,C never pair), unlike pair-local resolve. component_id IS "
    "the component min by construction, so survivorship is a comparison, "
    "not another aggregation; singletons never enter the closure. Oracle "
    "is the recursive-CTE closure over the same banding.",
)
def q_dedup_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_candidate_pairs(dd.minhash_signatures(docs))
    comp = dd.connected_components(pairs)
    labeled = docs.select("doc_id", "source").join(comp, "doc_id", "left")
    kept = F.col("component_id").isNull() | (
        F.col("doc_id") == F.col("component_id")
    )
    return labeled.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(~kept, 1).otherwise(0)).alias("n_dropped"),
    )


#: Pinned base/delta cut for the incremental-closure IVM proof: docs
#: with ``doc_id % 8 == 0`` (~12.5%) arrive as the "daily delta", the
#: rest are the already-closed corpus.
_IDC_DELTA_MOD = 8


@register(
    "incremental_dedup_components",
    oracle=_MINHASH_CTE.replace("WITH params", "WITH RECURSIVE params", 1)
    + """,
    banded AS (
      SELECT doc_id, h_idx // 4 AS band_id,
             string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY h_idx) AS band_sig
      FROM mh GROUP BY 1, 2),
    prs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a
      JOIN banded b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
                   AND a.doc_id < b.doc_id),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM prs
      UNION SELECT doc_b, doc_a FROM prs),
    reach(a, b) AS (
      SELECT a, a FROM edges
      UNION SELECT a, b FROM edges
      UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
    SELECT a AS doc_id, min(b) AS component_id FROM reach GROUP BY a
    """,
    priority=80,  # entered via _R15_ROTATION (new registration tier)
    # not a bench headliner: the in-query base-state computation (two
    # closures back to back) is fixed job-scheduling floor that would
    # dominate the suite; scale evidence is the SCALING.md r15 anchor
    # (delta-bounded cost) instead
    doc="Incremental near-dup closure (r15, r14 verdict #4): the corpus "
    f"splits at doc_id % {_IDC_DELTA_MOD} == 0 into an already-closed "
    "base (labels = connected_components over its LSH pairs — the "
    "state a 100 TB deployment persists between ingests, computed "
    "in-query here exactly like incremental_rollup_merge computes its "
    "base state) and a delta batch.  The delta's new edges come from "
    "banding ONLY the delta against the persisted band table "
    "(incremental_minhash_pairs), project onto existing component "
    "labels, and the resulting SUPER-GRAPH — bounded by delta edges, "
    "never the corpus graph — is closed and broadcast-relabeled onto "
    "the base labels (incremental_components).  The oracle is the "
    "FULL-corpus recursive-CTE closure (dedup_components' oracle "
    "verbatim): the hash match IS the merged-equals-full-recompute "
    "proof, the IVM pattern incremental_rollup_merge established.",
)
def q_incremental_dedup_components(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % _IDC_DELTA_MOD != 0)
    delta = docs.filter(F.col("doc_id") % _IDC_DELTA_MOD == 0)
    # the band table is the persisted state in a real deployment;
    # materialize it ONCE here (localCheckpoint) — it feeds both the
    # base pair enumeration and the delta bucket join, and without the
    # cut each consumer would re-run the whole signature pipeline
    base_banded = dd.band_signatures(
        dd.minhash_signatures(base)
    ).localCheckpoint()
    base_labels = dd.connected_components(
        dd.banded_candidate_pairs(base_banded)
    )
    new_edges = dd.incremental_minhash_pairs(
        dd.minhash_signatures(delta), base_banded
    )
    return dd.incremental_components(base_labels, new_edges)


@register(
    "incremental_dedup_bucketed",
    oracle=_MINHASH_CTE.replace("WITH params", "WITH RECURSIVE params", 1)
    + """,
    banded AS (
      SELECT doc_id, h_idx // 4 AS band_id,
             string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY h_idx) AS band_sig
      FROM mh GROUP BY 1, 2),
    prs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a
      JOIN banded b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
                   AND a.doc_id < b.doc_id),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM prs
      UNION SELECT doc_b, doc_a FROM prs),
    reach(a, b) AS (
      SELECT a, a FROM edges
      UNION SELECT a, b FROM edges
      UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
    SELECT a AS doc_id, min(b) AS component_id FROM reach GROUP BY a
    """,
    priority=80,  # enters via the r16 rotation (new registration tier)
    doc="Incremental near-dup closure over a BUCKETED band state "
    "(r16 — incremental_dedup_components' probe re-expressed against "
    "a band table persisted with write_bucketed on (band_id, "
    "band_sig), making the 'each batch touches only the buckets its "
    "delta bands hash to' claim executable and driver-checked).  The "
    "state is NEVER exchanged: the delta-touched restriction is a "
    "broadcast semi-join, the per-bucket stats aggregate reuses the "
    "at-rest bucketing with zero shuffle, and the delta x state pair "
    "join sort-merges against the pre-sorted bucket files with only "
    "the (tiny) delta shuffling to meet them — plan claims "
    "pytest-pinned (test_incremental_pairs_bucketed: stats aggregate "
    "exchange-free; probe plan exactly one shuffle fewer than over a "
    "plain parquet copy of the same state; state scanned once).  "
    "Oracle: the FULL-corpus recursive-CTE closure, identical to "
    "incremental_dedup_components — the hash match proves the "
    "bucketed probe's edge set and merged labels equal the unbucketed "
    "path's exactly.  The per-run catalog table is dropped (and its "
    "warehouse dir removed) after the bounded label set materializes.",
)
def q_incremental_dedup_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import os
    import shutil
    import uuid

    from ..sinks.bucketing import write_bucketed

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % _IDC_DELTA_MOD != 0)
    delta = docs.filter(F.col("doc_id") % _IDC_DELTA_MOD == 0)
    tbl = f"band_state_{uuid.uuid4().hex[:8]}"
    write_bucketed(
        dd.band_signatures(dd.minhash_signatures(base)),
        tbl,
        ["band_id", "band_sig"],
        16,
    )
    try:
        base_labels = dd.connected_components(
            dd.banded_candidate_pairs(spark.table(tbl))
        )
        edges = dd.incremental_minhash_pairs_bucketed(
            spark, tbl, dd.minhash_signatures(delta)
        )
        # materialize the bounded label set BEFORE the catalog table
        # drops (O(docs-with-duplicates) rows)
        return dd.incremental_components(base_labels, edges).localCheckpoint()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        wh = spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).replace("file:", "")
        shutil.rmtree(os.path.join(wh, tbl), ignore_errors=True)


#: Pinned removal cut for the retraction IVM proof: docs with
#: ``doc_id % 7 == 0`` (~14%) arrive as the "takedown batch"; at
#: sf0.01 that retracts 8 of the 51 labeled docs across 8 components,
#: including 2 component MINIMA (the relabel-on-min-removal path).
_RETRACT_MOD = 7


@register(
    "dedup_retraction",
    oracle=_MINHASH_CTE.replace("WITH params", "WITH RECURSIVE params", 1)
    .replace(
        "FROM documents", f"FROM documents WHERE doc_id % {_RETRACT_MOD} <> 0", 1
    )
    + """,
    banded AS (
      SELECT doc_id, h_idx // 4 AS band_id,
             string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY h_idx) AS band_sig
      FROM mh GROUP BY 1, 2),
    prs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a
      JOIN banded b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
                   AND a.doc_id < b.doc_id),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM prs
      UNION SELECT doc_b, doc_a FROM prs),
    reach(a, b) AS (
      SELECT a, a FROM edges
      UNION SELECT a, b FROM edges
      UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
    SELECT a AS doc_id, min(b) AS component_id FROM reach GROUP BY a
    """,
    priority=80,  # enters via the r16 rotation (new registration tier)
    doc="Near-dup closure RETRACTION (r16, r15 verdict #2 — the DELETE "
    "side of the IVM story: the insert direction landed in r15 as "
    "incremental_dedup_components; until now a takedown or TTL event "
    "on a 100 TB corpus meant re-closing the whole dedup graph).  The "
    "full corpus closes once into the two persisted state artifacts "
    f"(band table + component labels); a takedown batch (doc_id % "
    f"{_RETRACT_MOD} == 0) then retracts via retract_components: the "
    "touched components (one broadcast semi-join), their surviving "
    "members, and a re-closure over ONLY those survivors' band rows — "
    "bounded by the touched components' member count, never the "
    "corpus graph; untouched components pass through verbatim and the "
    "band state shrinks by anti-join (retract_band_table).  The "
    "oracle is the FULL recursive-CTE closure over corpus-minus-"
    "removed: the hash match proves retract == full recompute on the "
    "surviving corpus, exactly (components split or shrink but never "
    "merge under retraction; a survivor whose last duplicate partner "
    "was removed drops out of the labels — both paths exercised at "
    "sf0.01 and the bridge-doc SPLIT is pytest-pinned).",
)
def q_dedup_retraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # the band table + labels are the persisted state in a real
    # deployment; materialize the banding ONCE (localCheckpoint) — it
    # feeds both the base closure and the survivor re-closure
    banded = dd.band_signatures(dd.minhash_signatures(docs)).localCheckpoint()
    labels = dd.connected_components(dd.banded_candidate_pairs(banded))
    removed = docs.filter(
        F.col("doc_id") % _RETRACT_MOD == 0
    ).select("doc_id")
    return dd.retract_components(labels, banded, removed)


@register(
    "tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                                w -> w <> '')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf * (ln((n + 1.0) / (df + 1.0)) + 1.0), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term ASC) AS rank
      FROM scored)
    SELECT doc_id, CAST(rank AS INT) AS rank, term, tfidf
    FROM ranked WHERE rank <= 3
    """,
    priority=45,
    doc="Top-3 characteristic terms per doc by smoothed TF-IDF "
    "(operators.text_analysis.tfidf_top_terms): explode+groupBy term "
    "frequencies, re-aggregated document frequencies, broadcast corpus "
    "size, rank on the ROUNDED score (raw ln() is 1-ulp "
    "engine-dependent) with term tie-break.",
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ta.tfidf_top_terms(load_table(spark, sf_dir, "documents"))


_INC_BUCKET_SQL = (
    "CAST(('0x' || substr(md5('inc:' || CAST(doc_id AS VARCHAR)), 1, 15)) "
    "AS BIGINT) % 100"
)


@register(
    "incremental_dedup_status",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, text, {_INC_BUCKET_SQL} AS bucket FROM documents),
    corpus AS (
      SELECT DISTINCT {md5_long_sql(_NORM_TEXT)}    AS content_h1,
                      {md5_long_lo_sql(_NORM_TEXT)} AS content_h2
      FROM b WHERE bucket < 80),
    batch AS (
      SELECT doc_id, {md5_long_sql(_NORM_TEXT)}    AS content_h1,
                     {md5_long_lo_sql(_NORM_TEXT)} AS content_h2
      FROM b WHERE bucket >= 80),
    m AS (
      SELECT doc_id,
             min(doc_id) OVER (PARTITION BY content_h1, content_h2) AS min_id,
             EXISTS (SELECT 1 FROM corpus c
                     WHERE c.content_h1 = batch.content_h1
                       AND c.content_h2 = batch.content_h2) AS in_corpus
      FROM batch)
    SELECT doc_id,
           CASE WHEN in_corpus THEN 'dup_of_corpus'
                WHEN doc_id > min_id THEN 'dup_in_batch'
                ELSE 'kept' END AS status
    FROM m
    """,
    priority=45,
    doc="Ingest-time incremental dedup (operators.dedup.incremental_dedup): "
    "a hash-derived 'new batch' (20% of docs) labeled against the "
    "'existing corpus' (80%) — dup_of_corpus via a longs-only semi-join "
    "against distinct corpus hashes, dup_in_batch via lowest-id window "
    "min, corpus precedence on both.  The persistent corpus hash set is "
    "the exact analogue of an ingest bloom filter.",
)
def q_incremental_dedup_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import split_bucket

    docs = load_table(spark, sf_dir, "documents")
    b = split_bucket(F.col("doc_id"), 100, salt="inc")
    corpus = docs.filter(b < 80)
    new_batch = docs.filter(b >= 80)
    return dd.incremental_dedup(new_batch, corpus)


@register(
    "embed_quantize",
    oracle="""
    WITH base AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings WHERE vec_id < 50),
    s AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS m
      FROM base),
    sc AS (
      SELECT vec_id, v,
             CASE WHEN m > 0 THEN 127.0 / m ELSE 1.0 END AS scale
      FROM s),
    ex AS (
      SELECT vec_id, scale,
             unnest(v) AS x, generate_subscripts(v, 1) - 1 AS pos
      FROM sc)
    SELECT vec_id, pos,
           round(scale, 6)                  AS scale,
           CAST(round(x * scale) AS INT)    AS qval
    FROM ex
    """,
    priority=45,
    doc="Symmetric per-vector int8 quantization "
    "(operators.similarity.quantize_embeddings): q = round(x * 127 / "
    "max|x|) — the 4-8x storage compression for ANN corpora.  Emitted "
    "exploded to scalar columns (vec_id, pos, scale, qval): array-typed "
    "result columns break row canonicalizers (the round-1 approx_stats "
    "lesson).  Both engines round half-away-from-zero.",
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    q = sim.quantize_embeddings(emb)
    return q.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.posexplode("q").alias("pos", "qval"),
    ).select("vec_id", "pos", "scale", "qval")


# ---------------------------------------------------------------------------
# Relational-algebra family completion: pivot, cube, moving windows,
# set operations (priority 60, pytest-oracle-verified)
# ---------------------------------------------------------------------------


@register(
    "pivot_event_matrix",
    oracle="""
    SELECT user_id,
           CAST(count(*) FILTER (event_type = 'click')    AS BIGINT) AS click,
           CAST(count(*) FILTER (event_type = 'error')    AS BIGINT) AS error,
           CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(count(*) FILTER (event_type = 'signup')   AS BIGINT) AS signup,
           CAST(count(*) FILTER (event_type = 'view')     AS BIGINT) AS view
    FROM events GROUP BY user_id
    """,
    priority=45,
    doc="Pivot (long->wide): per-user event-type count matrix via "
    "groupBy().pivot() with the value list PINNED — an unpinned pivot "
    "runs an extra distinct-scan job to discover columns and makes the "
    "output schema data-dependent, both wrong at 100 TB.  Oracle is the "
    "equivalent FILTER aggregate.",
)
def q_pivot_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        events.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves null where a (user, type) pair never occurred
    return out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types]
    )


@register(
    "cube_orders",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL')   AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*)                         AS n,
           round(sum(o_totalprice), 6)      AS revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    priority=45,
    doc="CUBE grouping sets (all 2^k margin combinations — completes the "
    "grouping-sets family next to rollup_orders).  Spark expands the "
    "cube map-side: one shuffle regardless of the number of grouping "
    "sets.",
)
def q_cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 6).alias("revenue"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "revenue",
        )
    )


@register(
    "moving_avg_daily",
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', ts) AS day, round(sum(value), 6) AS day_value
      FROM events GROUP BY 1),
    m AS (SELECT day, day_value,
                 CAST(round(day_value * 1000000) AS BIGINT) AS micro
          FROM d)
    SELECT day, day_value,
           round(CAST(sum(micro) OVER w AS BIGINT)
                 / count(*) OVER w / 1000000.0, 6) AS ma7,
           round(day_value - lag(day_value, 1) OVER (ORDER BY day), 6)
             AS delta_1d
    FROM m
    WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    priority=45,
    doc="Moving-frame analytics: 7-day trailing average + day-over-day "
    "delta via ROWS window frames and lag() — the dashboard-trend family "
    "(lag/lead/sliding frames) the Mongo layer faked client-side.  One "
    "shuffle to ~30 day rows; the frame scan is O(days).  ma7 averages "
    "ALREADY-ROUNDED day values, where exact .5e-6 ties are common (a "
    "2-element frame of 6dp values ties 50% of the time), so the frame "
    "average uses the exact integer micro-unit sum — the same "
    "order/association-proof composition as peak_activity.",
)
def q_moving_avg_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    d = events.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.round(F.sum("value"), 6).alias("day_value")
    ).withColumn("micro", F.round(F.col("day_value") * 1000000).cast("long"))
    w = Window.orderBy("day")
    frame = w.rowsBetween(-6, 0)
    return d.select(
        "day",
        "day_value",
        F.round(
            F.sum("micro").over(frame)
            / F.count("*").over(frame)
            / F.lit(1000000.0),
            6,
        ).alias("ma7"),
        F.round(
            F.col("day_value") - F.lag("day_value", 1).over(w), 6
        ).alias("delta_1d"),
    )


@register(
    "set_ops_users",
    oracle="""
    WITH clickers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
    buyers AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
    in_both AS (SELECT user_id FROM clickers INTERSECT SELECT user_id FROM buyers),
    only_click AS (SELECT user_id FROM clickers EXCEPT SELECT user_id FROM buyers)
    SELECT 'click_and_buy' AS cohort, CAST(count(*) AS BIGINT) AS n FROM in_both
    UNION ALL
    SELECT 'click_no_buy' AS cohort, CAST(count(*) AS BIGINT) AS n FROM only_click
    """,
    priority=45,
    doc="Set operations (INTERSECT / EXCEPT — completes §2.D's 'set ops' "
    "row beyond semi/anti joins): cohort sizes from distinct-user sets. "
    "Both plan as hash aggregates + joins, no row explosion.",
)
def q_set_ops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    clickers = events.filter(F.col("event_type") == "click").select("user_id").distinct()
    buyers = events.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    both = clickers.intersect(buyers).agg(F.count("*").alias("n")).select(
        F.lit("click_and_buy").alias("cohort"), "n"
    )
    only = clickers.exceptAll(buyers).agg(F.count("*").alias("n")).select(
        F.lit("click_no_buy").alias("cohort"), "n"
    )
    return both.unionByName(only)


@register(
    "udtf_sentences",
    oracle=r"""
    WITH parts AS (
      SELECT doc_id,
             trim(unnest(string_split(text, '.')), ' ' || chr(9) || chr(10)
                  || chr(13) || chr(12) || chr(11)) AS s,
             generate_subscripts(string_split(text, '.'), 1) AS ord
      FROM documents),
    nonempty AS (
      SELECT doc_id, s,
             row_number() OVER (PARTITION BY doc_id ORDER BY ord)
               AS sentence_idx
      FROM parts WHERE s <> '')
    SELECT doc_id, CAST(sentence_idx AS INT) AS sentence_idx, s AS sentence
    FROM nonempty
    """,
    priority=45,
    doc="Python UDTF (operators.text_analysis.sentences): lateral-join "
    "table function emitting 0..n sentence rows per document — the 4th "
    "UDF shape (SURVEY.md §2.H) beside pandas_udf / mapInPandas / "
    "applyInPandasWithState.  Deliberately-portable split rule so the "
    "unnest WITH ORDINALITY oracle reproduces it exactly.",
)
def q_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ta.sentences(load_table(spark, sf_dir, "documents"))


@register(
    "user_value_quartiles",
    oracle="""
    WITH u AS (
      SELECT user_id, round(sum(value), 6) AS total_value
      FROM events GROUP BY user_id)
    SELECT user_id, total_value,
           CAST(ntile(4) OVER (ORDER BY total_value DESC, user_id ASC)
                AS INT) AS quartile
    FROM u
    """,
    priority=45,
    doc="ntile(4) quartile assignment over per-user totals — completes "
    "the ranking-function family (row_number/rank in daily_user_rank, "
    "lag in moving_avg_daily).  r9 de-hazarding: this was the repo's "
    "last UNBOUNDED partition-less window (ntile over one task holding "
    "every user); the ntile is now re-derived arithmetically from "
    "ranking.banded_percent_rank's exact global rank (constant group, "
    "per-task rows bounded at ~n/64) via the exact ntile bucket-size "
    "rule — first (n mod k) buckets take ceil(n/k) rows — so the "
    "output is bit-identical to the window function (the unchanged "
    "oracle IS ntile) with no single-task term.",
)
def q_user_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranking import banded_percent_rank

    events = load_table(spark, sf_dir, "events")
    u = events.groupBy("user_id").agg(
        F.round(F.sum("value"), 6).alias("total_value")
    )
    ranked = banded_percent_rank(
        u.withColumn("_g", F.lit(1)),
        "_g",
        "total_value",
        "user_id",
        n_bands=64,
        n_groups=1,
    )
    # exact ntile(k): base = n // k rows per bucket, the first n % k
    # buckets take one extra; _rank is 1-based under the same
    # (total_value DESC, user_id ASC) order as the window form
    k = 4
    r, n = F.col("_rank"), F.col("_n")
    base = F.floor(n / k).cast("long")
    rem = (n % k).cast("long")
    head = rem * (base + 1)
    quartile = (
        F.when(r <= head, F.ceil(r / (base + 1)))
        .otherwise(rem + F.ceil((r - head) / base))
        .cast("int")
    )
    return ranked.select(
        "user_id", "total_value", quartile.alias("quartile")
    )


@register(
    "packed_sequences",
    oracle=f"""
    WITH tc AS (
      SELECT doc_id, text, len({_TOKS}) AS n FROM documents),
    c AS (
      SELECT doc_id, text, n,
             sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n AS off
      FROM tc)
    SELECT CAST(0 AS INT)                AS shard,
           CAST(off // 1024 AS BIGINT)   AS pack_id,
           count(*)                      AS n_docs,
           CAST(sum(n) AS BIGINT)        AS total_tokens,
           string_agg(text, '<|doc|>' ORDER BY doc_id) AS packed_text
    FROM c GROUP BY 2
    """,
    priority=45,
    doc="Materialized packed training sequences "
    "(operators.packing.materialize_packs): pack assignment -> "
    "deterministic in-pack ordering (sorted struct array, because "
    "collect_list has no ordering guarantee) -> separator-joined "
    "context-window text with doc/token accounting.  The end-to-end "
    "form of sequence packing; oracle via string_agg ORDER BY.",
)
def q_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import materialize_packs
    from ..operators.text_analysis import token_counts

    docs = load_table(spark, sf_dir, "documents")
    tc = token_counts(docs).select(
        "doc_id", F.col("ws_tokens").alias("n_tokens")
    ).join(docs.select("doc_id", "text"), "doc_id")
    return materialize_packs(
        tc, id_col="doc_id", token_count_col="n_tokens", text_col="text",
        budget=1024, n_shards=1,
    )


# ---------------------------------------------------------------------------
# Round-4 additions: PII redaction + decontamination (priority 46)
# ---------------------------------------------------------------------------

from ..operators.text_analysis import PII_PATTERNS  # noqa: E402

_PII_INJECT_SQL = (
    "text"
    " || CASE WHEN doc_id % 5 = 0 THEN ' mail-' || CAST(doc_id AS VARCHAR)"
    " || '@ex.org' ELSE '' END"
    " || CASE WHEN doc_id % 7 = 0 THEN ' from 192.168.'"
    " || CAST(doc_id % 254 AS VARCHAR) || '.7' ELSE '' END"
    " || CASE WHEN doc_id % 11 = 0 THEN ' call +1-555-'"
    " || CAST(1000 + doc_id % 9000 AS VARCHAR) ELSE '' END"
)


def _pii_oracle_sql() -> str:
    """Sequential count-then-redact stages mirroring redact_pii exactly."""
    (_, email_re, email_tok), (_, ipv4_re, ipv4_tok), (_, phone_re, phone_tok) = (
        PII_PATTERNS
    )
    return (
        "WITH inj AS (SELECT doc_id, " + _PII_INJECT_SQL + " AS t FROM documents),\n"
        "s1 AS (SELECT doc_id,"
        " len(regexp_extract_all(t, '" + email_re + "')) AS n_email,"
        " regexp_replace(t, '" + email_re + "', '" + email_tok + "', 'g') AS t"
        " FROM inj),\n"
        "s2 AS (SELECT doc_id, n_email,"
        " len(regexp_extract_all(t, '" + ipv4_re + "')) AS n_ipv4,"
        " regexp_replace(t, '" + ipv4_re + "', '" + ipv4_tok + "', 'g') AS t"
        " FROM s1),\n"
        "s3 AS (SELECT doc_id, n_email, n_ipv4,"
        " len(regexp_extract_all(t, '" + phone_re + "')) AS n_phone,"
        " regexp_replace(t, '" + phone_re + "', '" + phone_tok + "', 'g') AS t"
        " FROM s2)\n"
        "SELECT doc_id, CAST(n_email AS BIGINT) AS n_email,"
        " CAST(n_ipv4 AS BIGINT) AS n_ipv4,"
        " CAST(n_phone AS BIGINT) AS n_phone, "
        + md5_long_sql("t")
        + " AS redacted_hash FROM s3"
    )


@register(
    "pii_redaction",
    oracle=_pii_oracle_sql(),
    priority=46,  # round-4 addition (registry.py window policy)
    doc="PII scrub accounting (operators.text_analysis.redact_pii): "
    "deterministic synthetic emails/IPv4s/phones are injected keyed on "
    "doc_id (the testdata has no organic PII), then the sequential "
    "count-and-redact chain runs — pure JVM regexp_count/regexp_replace, "
    "scan-speed, patterns restricted to the Java-RE2 common subset so "
    "the DuckDB oracle reproduces matches exactly.  redacted_hash pins "
    "the full redacted text without shipping it.",
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    inj = F.col("text")
    inj = F.when(
        d % 5 == 0,
        F.concat(inj, F.lit(" mail-"), d.cast("string"), F.lit("@ex.org")),
    ).otherwise(inj)
    inj = F.when(
        d % 7 == 0,
        F.concat(
            inj, F.lit(" from 192.168."), (d % 254).cast("string"), F.lit(".7")
        ),
    ).otherwise(inj)
    inj = F.when(
        d % 11 == 0,
        F.concat(inj, F.lit(" call +1-555-"), (1000 + d % 9000).cast("string")),
    ).otherwise(inj)
    red = ta.redact_pii(docs.withColumn("text", inj))
    return red.select(
        "doc_id",
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        F.col("n_phone").cast("long").alias("n_phone"),
        md5_long(F.col("redacted_text")).alias("redacted_hash"),
    )


@register(
    "cross_split_contamination",
    oracle=f"""
    WITH {_SHINGLES},
    b AS (SELECT doc_id, {_SPLIT_BUCKET_SQL} AS bucket FROM documents),
    lab AS (
      SELECT doc_id, CASE WHEN bucket < 80 THEN 'train'
                          WHEN bucket < 90 THEN 'val'
                          ELSE 'test' END AS split
      FROM b),
    g AS (SELECT doc_id, unnest(sh) AS s FROM grams),
    hg AS (SELECT g.doc_id, {md5_long_sql('s')} AS h FROM g),
    train AS (
      SELECT DISTINCT h FROM hg JOIN lab USING (doc_id)
      WHERE split = 'train'),
    test AS (
      SELECT hg.doc_id, hg.h FROM hg JOIN lab USING (doc_id)
      WHERE split = 'test')
    SELECT t.doc_id,
           count(*) AS n_grams,
           CAST(sum(CASE WHEN tr.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated,
           round(sum(CASE WHEN tr.h IS NOT NULL THEN 1 ELSE 0 END)
                 / count(*), 6) AS contamination_ratio
    FROM test t LEFT JOIN train tr ON t.h = tr.h
    GROUP BY t.doc_id
    """,
    priority=46,  # round-4 addition (registry.py window policy)
    doc="Train->test n-gram decontamination signal "
    "(operators.text_analysis.cross_split_contamination): per test-split "
    "doc, the fraction of its distinct word 3-grams that occur anywhere "
    "in the train split.  Grams travel as 60-bit longs; the train side "
    "reduces to a DISTINCT hash set BEFORE the join (never broadcast — "
    "it is the big side at corpus scale).",
)
def q_cross_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ta.cross_split_contamination(load_table(spark, sf_dir, "documents"))


@register(
    "api_source_reviews",
    oracle="""
    WITH src AS (
      SELECT user_id % 20                         AS app_id,
             event_id,
             event_type <> 'error'                AS voted_up,
             value,
             CAST(floor(epoch(ts)) AS BIGINT)     AS epoch_s,
             row_number() OVER (PARTITION BY user_id % 20
                                ORDER BY event_id) AS rn
      FROM events)
    SELECT app_id,
           event_id                                           AS review_id,
           '7656119' || lpad(CAST(event_id AS VARCHAR), 10, '0')
                                                              AS author_steamid,
           event_id % 5000                                    AS playtime_at_review,
           event_id % 90000                                   AS playtime_forever,
           'english'                                          AS language,
           voted_up,
           event_id % 100                                     AS votes_up,
           value                                              AS weighted_vote_score,
           epoch_s                                            AS timestamp_created,
           'rev ' || CAST(event_id AS VARCHAR)                AS review_text
    FROM src WHERE rn <= 300
    """,
    priority=46,  # round-4 addition: closes SURVEY.md section 2.A8
    doc="Cursor-paginated API source (sources/paged_api.py), closing A8 — "
    "the reference's driver-side HTTP review crawl "
    "(producers/steam_utils.py:128-173) re-expressed as a Spark Python "
    "DataSource: ONE input partition per app id, so per-app cursor "
    "chains page in parallel across executors; nested author structs "
    "flatten and HTML strips inside the reader.  Hermetic fixture "
    "transport (API-response-shaped JSON pages staged deterministically "
    "from events); the oracle recomputes the expected records in SQL, "
    "INCLUDING the max_pages=3 x per_page=100 per-app cap (rn <= 300).",
)
def q_api_source_reviews(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.paged_api import ensure_review_fixtures, register_paged_api

    out = ensure_review_fixtures(spark, sf_dir, n_apps=20, per_page=100)
    register_paged_api(spark)
    return (
        spark.read.format("paged_api")
        .option("appids", ",".join(str(i) for i in range(20)))
        .option("fixture_dir", out)
        .option("max_pages", 3)
        .load()
    )


# ---------------------------------------------------------------------------
# Round-5 additions: training-data prep (chunking, epoch shuffle, sketches)
# ---------------------------------------------------------------------------

_CHUNK, _STRIDE = 32, 24


@register(
    "doc_chunks",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS} AS t FROM documents
      WHERE length(trim(text)) > 0),
    starts AS (
      SELECT doc_id, t,
             unnest(generate_series(1, greatest(len(t), 1), {_STRIDE}))
               AS start
      FROM toks)
    SELECT doc_id,
           CAST((start - 1) / {_STRIDE} AS INTEGER)  AS chunk_id,
           CAST(len(list_slice(t, start, start + {_CHUNK} - 1))
                AS INTEGER)                          AS n_tokens,
           array_to_string(
             list_slice(t, start, start + {_CHUNK} - 1), ' ') AS chunk_text
    FROM starts
    """,
    priority=47,  # round-5 addition: first driver row this round
    headline=True,  # representative explode/amplification shape for bench
    doc="LLM-pretraining context-window chunking "
    "(operators.text_analysis.chunk_documents): each doc becomes "
    "overlapping 32-token windows at stride 24 via tokenize -> sequence "
    "of offsets -> explode -> slice/array_join — all JVM built-ins fused "
    "into the scan, zero shuffles, output rows bounded by "
    "corpus_tokens/stride regardless of per-doc skew.",
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ta.chunk_documents(
        load_table(spark, sf_dir, "documents"),
        chunk_size=_CHUNK, stride=_STRIDE,
    )


_SHUF_KEY_SQL = (
    "CAST(('0x' || substr(md5('shuffle:{e}:' || CAST(doc_id AS VARCHAR)), "
    "1, 15)) AS BIGINT)"
)


@register(
    "epoch_shuffle_order",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, 0 AS epoch, {_SHUF_KEY_SQL.format(e=0)} AS shuffle_key
      FROM documents
      UNION ALL
      SELECT doc_id, 1 AS epoch, {_SHUF_KEY_SQL.format(e=1)} AS shuffle_key
      FROM documents),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY epoch ORDER BY shuffle_key, doc_id) AS position
      FROM keyed)
    SELECT epoch, CAST(position AS BIGINT) AS position, doc_id, shuffle_key
    FROM ranked WHERE position <= 100
    """,
    priority=47,  # round-5 addition
    doc="Deterministic per-epoch training-order shuffle "
    "(operators.sampling.epoch_shuffle): the global order is a pure "
    "function of (salt, epoch, doc_id) — reproducible across re-runs, "
    "engines, and preemption, unlike orderBy(rand()).  At scale the "
    "operator materializes the order as a sampled range exchange + local "
    "sort (repartitionByRange on the uniform 60-bit key => balanced "
    "shards, no single-node sort); the query surfaces the first 100 "
    "positions of epochs 0 and 1 as a top-k, not a global sort.",
)
def q_epoch_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..operators.sampling import epoch_shuffle

    docs = load_table(spark, sf_dir, "documents")
    keyed = None
    for e in (0, 1):
        k = epoch_shuffle(docs, "doc_id", epoch=e).select(
            F.lit(e).alias("epoch"), "doc_id", "shuffle_key"
        )
        keyed = k if keyed is None else keyed.unionByName(k)
    w = Window.partitionBy("epoch").orderBy("shuffle_key", "doc_id")
    return (
        keyed.withColumn("position", F.row_number().over(w).cast("long"))
        .filter(F.col("position") <= 100)
        .select("epoch", "position", "doc_id", "shuffle_key")
    )


@register(
    "hll_user_rollup",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS n_exact,
           TRUE                    AS est_ok,
           TRUE                    AS merge_consistent
    FROM events GROUP BY event_type
    """,
    priority=47,  # round-5 addition
    doc="Self-auditing mergeable-HLL distinct rollup "
    "(operators.sketches.hll_distinct_rollup over DataSketches "
    "hll_sketch_agg/hll_union_agg): per-event-type distinct users as a "
    "fixed-size sketch whose groupBy shuffles O(groups x 2^lg_k) bytes "
    "with map-side partials — vs exact countDistinct shuffling every "
    "distinct value.  The estimates are engine-specific, so the oracle "
    "pins the INVARIANTS: estimate within 5% of exact per group, and "
    "union-of-group-sketches == direct whole-column sketch (the "
    "mergeability that lets 1000 executors sketch independently and "
    "combine losslessly).  Either regressing flips a flag and "
    "hash-mismatches the driver row.",
)
def q_hll_user_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import hll_distinct_rollup

    events = load_table(spark, sf_dir, "events")
    return hll_distinct_rollup(
        events, group_col="event_type", value_col="user_id", lg_k=14
    )


_GS_KEY_SQL = (
    "CAST(('0x' || substr(md5('groupsample:' || CAST(doc_id AS VARCHAR)), "
    "1, 15)) AS BIGINT)"
)


@register(
    "source_capped_sample",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source ORDER BY {_GS_KEY_SQL}, doc_id) AS rk
      FROM documents)
    SELECT source, count(*) AS n_kept,
           CAST(min(doc_id) AS BIGINT) AS min_doc,
           CAST(max(doc_id) AS BIGINT) AS max_doc
    FROM ranked WHERE rk <= 40 GROUP BY source
    """,
    priority=47,  # round-5 continuation addition: first driver row
    doc="Deterministic per-source document cap "
    "(operators.sampling.sample_n_per_group): no source contributes more "
    "than 40 docs, survivors chosen by salted-hash rank — the "
    "pretraining-mix capping primitive, reproducible across engines and "
    "re-runs (sampleBy cannot cap counts; rand() cannot reproduce).  "
    "min/max surviving ids are pinned so the oracle checks WHICH rows "
    "survive, not just how many.  r6: runs with the hot-group two-phase "
    "prefilter ENABLED (hot_threshold=500, a production-shaped setting; "
    "test-sf sources sit below it so the guard plan executes cold), so "
    "the driver hash-proves the two-phase code path against the "
    "single-phase oracle; active-prefilter parity is pinned by the "
    "pathological skew fixture in tests/test_extensions_unit.py.",
)
def q_source_capped_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import sample_n_per_group

    docs = load_table(spark, sf_dir, "documents")
    kept = sample_n_per_group(
        docs, group_col="source", id_col="doc_id", n=40, hot_threshold=500
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


_TB_KEY_SQL = (
    "CAST(('0x' || substr(md5('tokbudget:' || CAST(doc_id AS VARCHAR)), "
    "1, 15)) AS BIGINT)"
)


@register(
    "token_budget_sample",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
             {_TB_KEY_SQL} AS k
      FROM documents),
    c AS (
      SELECT doc_id, source, n_tokens,
             sum(n_tokens) OVER (
               PARTITION BY source ORDER BY k, doc_id
               ROWS UNBOUNDED PRECEDING) AS cum
      FROM t)
    SELECT source,
           count(*)                      AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS kept_tokens,
           CAST(min(doc_id) AS BIGINT)   AS min_doc,
           CAST(max(doc_id) AS BIGINT)   AS max_doc
    FROM c WHERE cum <= 2000 GROUP BY source
    """,
    priority=47,  # round-5 continuation addition: first driver row
    doc="Per-source TOKEN-budget sampling "
    "(operators.sampling.token_budget_sample): pretraining mixes are "
    "specified in tokens, not documents — keep the largest salted-hash "
    "prefix of each source whose running token total stays within 2000.  "
    "Deterministic across engines/re-runs/partitionings; kept_tokens + "
    "surviving min/max ids pin WHICH prefix survived, not just its "
    "size.  r6: runs with the hot-group two-phase prefilter ENABLED "
    "(hot_threshold=500, production-shaped; cold at test sf), so the "
    "driver hash-proves the two-phase code path against the "
    "single-phase oracle; active-prefilter parity is pinned by the "
    "skew fixture test.",
)
def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import token_budget_sample

    docs = load_table(spark, sf_dir, "documents")
    kept = token_budget_sample(
        docs,
        group_col="source",
        id_col="doc_id",
        budget_tokens=2000,
        hot_threshold=500,
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("kept_tokens"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


# ---------------------------------------------------------------------------
# Round-6 curation additions: segment-level dedup + quality-quantile filter
# ---------------------------------------------------------------------------


@register(
    "segment_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
      FROM documents),
    valid AS (SELECT * FROM toks WHERE len(ws) > 0 AND ws[1] <> ''),
    segs AS (
      SELECT doc_id,
             CAST((s - 1) // 10 AS INTEGER) AS seg_idx,
             array_to_string(list_slice(ws, s, s + 9), ' ') AS seg
      FROM (SELECT doc_id, ws,
                   unnest(generate_series(1, len(ws), 10)) AS s
            FROM valid)),
    ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
      FROM segs),
    counts AS (SELECT doc_id, count(*) AS n_segments FROM segs GROUP BY doc_id),
    rebuilt AS (
      SELECT doc_id,
             string_agg(seg, ' ' ORDER BY seg_idx) AS cleaned,
             count(*) AS n_kept
      FROM ranked WHERE rn = 1 GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(rebuilt.cleaned, '')                    AS cleaned,
           CAST(COALESCE(counts.n_segments, 0) AS INTEGER)  AS n_segments,
           CAST(COALESCE(rebuilt.n_kept, 0) AS INTEGER)     AS n_kept
    FROM documents d
    LEFT JOIN counts  ON d.doc_id = counts.doc_id
    LEFT JOIN rebuilt ON d.doc_id = rebuilt.doc_id
    """,
    headline=True,  # r6: segment shuffle + reassembly is a new heavy shape
    priority=46,  # r6 addition: first driver row this round
    doc="Corpus-wide segment-level exact dedup "
    "(operators.dedup.dedupe_segments): the line/paragraph-dedup family "
    "(C4 three-sentence rule, RefinedWeb line dedup) over deterministic "
    "10-token segments — every segment keeps only its first occurrence "
    "(min (doc_id, seg_idx)) corpus-wide, docs are reassembled from "
    "survivors in original order.  Removes boilerplate shared across "
    "documents without dropping whole docs.  Spark windows over the "
    "segment's 120-bit content key (16-byte shuffle keys); the oracle "
    "partitions by the segment string itself — identical grouping, so "
    "the full rebuilt text is hash-checked.",
)
def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.dedupe_segments(
        load_table(spark, sf_dir, "documents"), seg_tokens=10
    )


_EN_STOP_SQL = ", ".join(repr(w) for w in STOPWORDS["en"])


@register(
    "quality_quantile_filter",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             string_split_regex(lower(trim(text)), '\\s+') AS toks,
             len(regexp_extract_all(text, '[^\\w\\s]')) AS punct,
             length(text) AS n_chars
      FROM documents),
    m AS (
      SELECT doc_id, source,
             CAST(len(toks) AS INTEGER) AS n_tokens,
             punct / greatest(n_chars, 1) AS punct_ratio,
             len(list_filter(toks, w -> list_contains([{_EN_STOP_SQL}], w)))
               / greatest(CAST(len(toks) AS BIGINT), 1) AS stop_ratio
      FROM t),
    q AS (
      SELECT doc_id, source,
             round(least(greatest(
               (0.5 * stop_ratio + 0.5 * (1 - punct_ratio)) *
               least(n_tokens / 20.0, 1.0), 0.0), 1.0), 6) AS quality
      FROM m),
    r AS (
      SELECT doc_id, source, quality,
             round(percent_rank() OVER (
               PARTITION BY source
               ORDER BY quality DESC, doc_id ASC), 6) AS pct_rank
      FROM q)
    SELECT doc_id, source, quality, pct_rank,
           pct_rank <= 0.5 AS kept
    FROM r
    """,
    priority=46,  # r6 addition: first driver row this round
    doc="Per-source quality-QUANTILE filter "
    "(operators.text_analysis.quality_quantile_filter): keep the top "
    "half of each source by heuristic quality — quantile thresholds "
    "preserve the mix's source composition where an absolute cut drops "
    "whole low-register sources (the classifier-score filtering shape).  "
    "Deterministic total order (quality desc, doc_id) makes "
    "percent_rank exact cross-engine; emits the kept flag for every "
    "doc so one pass serves survivors and audit.",
)
def q_quality_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hot_threshold below the 25-doc source size on purpose: the driver
    # row proves the BANDED rank path (ranking.banded_percent_rank)
    # reproduces percent_rank bit-for-bit, not just the single window
    return ta.quality_quantile_filter(
        load_table(spark, sf_dir, "documents"),
        keep_fraction=0.5,
        hot_threshold=10,
        n_bands=4,
    )


@register(
    "curriculum_order",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             string_split_regex(lower(trim(text)), '\\s+') AS toks,
             len(regexp_extract_all(text, '[^\\w\\s]')) AS punct,
             length(text) AS n_chars
      FROM documents),
    m AS (
      SELECT doc_id, source,
             CAST(len(toks) AS INTEGER) AS n_tokens,
             punct / greatest(n_chars, 1) AS punct_ratio,
             len(list_filter(toks, w -> list_contains([{_EN_STOP_SQL}], w)))
               / greatest(CAST(len(toks) AS BIGINT), 1) AS stop_ratio
      FROM t),
    q AS (
      SELECT doc_id, source,
             round(least(greatest(
               (0.5 * stop_ratio + 0.5 * (1 - punct_ratio)) *
               least(n_tokens / 20.0, 1.0), 0.0), 1.0), 6) AS quality
      FROM m)
    SELECT doc_id, source, quality,
           CAST(least(CAST(floor(percent_rank() OVER (
             PARTITION BY source
             ORDER BY quality DESC, doc_id ASC) * 10) AS INTEGER), 9)
             AS INTEGER) AS bin,
           CAST(('0x' || substr(md5('curriculum:0:' ||
             CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS shuffle_key
    FROM q
    """,
    priority=46,  # r6 addition: first driver row this round
    doc="Curriculum training order "
    "(operators.sampling.curriculum_order): per-source quality-decile "
    "bins (bin 0 = cleanest; per-source binning keeps the mix's source "
    "composition inside every stage) + deterministic salted within-bin "
    "shuffle key — stages consumed in quality order, docs inside a "
    "stage in reproducible hash order, epoch param reshuffles within "
    "stages without re-binning.  The order columns are DATA (range-"
    "partition on (bin, shuffle_key) materializes the order with no "
    "single-node sort), so the driver hash-checks the entire schedule.",
)
def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import curriculum_order

    # banded hot-group path exercised on purpose (see
    # q_quality_quantile_filter)
    return curriculum_order(
        load_table(spark, sf_dir, "documents"),
        n_bins=10,
        epoch=0,
        hot_threshold=10,
        n_bands=4,
    )


@register(
    "quality_threshold_filter",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             string_split_regex(lower(trim(text)), '\\s+') AS toks,
             len(regexp_extract_all(text, '[^\\w\\s]')) AS punct,
             length(text) AS n_chars
      FROM documents),
    m AS (
      SELECT doc_id, source,
             CAST(len(toks) AS INTEGER) AS n_tokens,
             punct / greatest(n_chars, 1) AS punct_ratio,
             len(list_filter(toks, w -> list_contains([{_EN_STOP_SQL}], w)))
               / greatest(CAST(len(toks) AS BIGINT), 1) AS stop_ratio
      FROM t),
    q AS (
      SELECT doc_id, source,
             round(least(greatest(
               (0.5 * stop_ratio + 0.5 * (1 - punct_ratio)) *
               least(n_tokens / 20.0, 1.0), 0.0), 1.0), 6) AS quality
      FROM m),
    r AS (
      SELECT doc_id, source, quality,
             round(percent_rank() OVER (
               PARTITION BY source
               ORDER BY quality DESC, doc_id ASC), 6) AS pct_rank
      FROM q)
    SELECT doc_id, source, quality
    FROM r WHERE pct_rank <= 0.4
    """,
    priority=30,  # new in r7 — first driver row (registry _R7_ROTATION)
    doc="Survivors-only per-source quality-quantile filter "
    "(operators.text_analysis.quality_threshold_filter) — the two-phase "
    "hot-group form (r6 verdict #2): per-source cutoff estimated with "
    "percentile_approx(quality, 1 - keep - margin), candidates "
    "prefiltered at the cutoff (a PREFIX of the (quality DESC, doc_id) "
    "order, so exactness is unconditional once the candidate count "
    "covers ceil(keep*(n-1))+1; short groups fall back to full-group "
    "ranking), survivors exact-ranked through the banded window "
    "splitter.  hot_threshold deliberately below the source size so "
    "the DRIVER row checks the prefilter+banded path against the plain "
    "percent_rank oracle, not the single-window plan.",
)
def q_quality_threshold_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ta.quality_threshold_filter(
        load_table(spark, sf_dir, "documents"),
        keep_fraction=0.4,
        hot_threshold=10,
        margin=0.05,
        n_bands=4,
    )


_INTRA_DOC_K = 3

_INTRA_DOC_ORACLE = f"""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x <> '') AS l
      FROM documents
    ),
    tok AS (
      SELECT doc_id, unnest(l) AS t, generate_subscripts(l, 1) AS pos
      FROM base
    ),
    gram_pos AS (
      SELECT doc_id, l,
             unnest(range(1, len(l) - {_INTRA_DOC_K} + 2)) AS pos
      FROM base
    ),
    gram AS (
      SELECT doc_id, pos,
             array_to_string(l[pos:pos + {_INTRA_DOC_K - 1}], ' ') AS h
      FROM gram_pos
    ),
    rep AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               row_number() OVER (
                 PARTITION BY doc_id, h ORDER BY pos) AS rn
        FROM gram)
      WHERE rn > 1
    ),
    drop_pos AS (
      SELECT DISTINCT doc_id, pos + d AS pos
      FROM (SELECT doc_id, pos,
                   unnest(range(0, {_INTRA_DOC_K})) AS d FROM rep)
    ),
    kept AS (
      SELECT t.doc_id, t.pos, t.t
      FROM tok t LEFT JOIN drop_pos d
        ON t.doc_id = d.doc_id AND t.pos = d.pos
      WHERE d.pos IS NULL
    ),
    agg AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(t, ' ' ORDER BY pos) AS text_clean
      FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(COALESCE(len(b.l), 0) AS INTEGER) AS n_tokens,
           CAST(COALESCE(len(b.l), 0) - COALESCE(a.n_kept, 0) AS INTEGER)
             AS n_dropped,
           COALESCE(a.text_clean, '') AS text_clean
    FROM base b LEFT JOIN agg a USING (doc_id)
"""


@register(
    "intra_doc_dedup",
    oracle=_INTRA_DOC_ORACLE,
    headline=True,  # bench promotion (r6 verdict #6 / r7 additions)
    priority=30,  # new in r7 — first driver row (registry _R7_ROTATION)
    doc="Within-document repeated-span removal "
    "(operators.text_analysis.strip_repeated_spans, r6 verdict #5): the "
    "Lee et al. intra-doc dedup case — a k-gram starting at an earlier "
    "position marks every later occurrence as a repeat, all token "
    "positions covered by a repeat are dropped, and text_clean rebuilds "
    "the survivors.  Zero-shuffle array lambdas: repeat detection is "
    "sort-adjacent-compare-resort (no quadratic earlier-gram scan), "
    "coverage probes <=k position-aligned flags via O(1) element_at.  "
    "The oracle replays the semantics relationally (row_number over "
    "(doc, gram) for first-occurrence, range-unnest for coverage, "
    "ordered string_agg for reconstruction) — every count and "
    "reconstructed string hash-pins.",
)
def q_intra_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ta.strip_repeated_spans(
        load_table(spark, sf_dir, "documents"), k=_INTRA_DOC_K
    )


_CROSS_DOC_K = 5

_CROSS_DOC_SPANS_ORACLE = f"""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x <> '') AS l
      FROM documents
    ),
    tok AS (
      SELECT doc_id, unnest(l) AS t, generate_subscripts(l, 1) AS pos
      FROM base
    ),
    gram_pos AS (
      SELECT doc_id, l,
             unnest(range(1, len(l) - {_CROSS_DOC_K} + 2)) AS pos
      FROM base
    ),
    gram AS (
      SELECT doc_id, pos,
             array_to_string(l[pos:pos + {_CROSS_DOC_K - 1}], ' ') AS h
      FROM gram_pos
    ),
    rep AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               row_number() OVER (
                 PARTITION BY h ORDER BY doc_id, pos) AS rn
        FROM gram)
      WHERE rn > 1
    ),
    drop_pos AS (
      SELECT DISTINCT doc_id, pos + d AS pos
      FROM (SELECT doc_id, pos,
                   unnest(range(0, {_CROSS_DOC_K})) AS d FROM rep)
    ),
    kept AS (
      SELECT t.doc_id, t.pos, t.t
      FROM tok t LEFT JOIN drop_pos d
        ON t.doc_id = d.doc_id AND t.pos = d.pos
      WHERE d.pos IS NULL
    ),
    agg AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(t, ' ' ORDER BY pos) AS text_clean
      FROM kept GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(COALESCE(len(b.l), 0) AS INTEGER) AS n_tokens,
           CAST(COALESCE(len(b.l), 0) - COALESCE(a.n_kept, 0) AS INTEGER)
             AS n_dropped,
           COALESCE(a.text_clean, '') AS text_clean
    FROM base b LEFT JOIN agg a USING (doc_id)
"""


@register(
    "cross_doc_span_dedup",
    oracle=_CROSS_DOC_SPANS_ORACLE,
    headline=True,
    priority=28,  # new in r8 — first driver row (registry rotation)
    doc="Corpus-wide repeated-span removal "
    "(operators.text_analysis.strip_cross_doc_spans, new r8): the full "
    "Lee et al. ExactSubstr case at k-gram granularity — a k-gram is a "
    "repeat iff the same token sequence occurs at an earlier (doc_id, "
    "pos) ANYWHERE in the corpus; the canonical first occurrence "
    "survives, every cross-document echo's covered positions are "
    "dropped, text_clean rebuilds the survivors.  Completes the dedup "
    "ladder: whole-doc (dedup_exact) -> segment (segment_dedup) -> "
    "within-doc span (intra_doc_dedup) -> cross-doc span (this).  "
    "First-occurrence flagging is a min(struct) aggregate keyed by an "
    "independently-seeded 128-bit xxhash64 pair of the token slice "
    "(r9 hot-gram guard: map-side partials collapse a boilerplate "
    "gram before the exchange; gram text never shuffles) + a "
    "repeats-only doc regroup; rebuild is zero-shuffle "
    "array lambdas with the sparse-to-dense sort-merge alignment (no "
    "per-position membership scan).  The oracle replays it relationally "
    "— global row_number over gram text, range-unnest coverage, ordered "
    "string_agg reconstruction — so the driver hash-pins every "
    "reconstructed document.",
)
def q_cross_doc_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ta.strip_cross_doc_spans(
        load_table(spark, sf_dir, "documents"), k=_CROSS_DOC_K
    )


#: Pinned NB classifier weights (r8) — integer micro-nat log-odds per
#: md5-hashed word bucket.  Classifiers are ARTIFACTS (the BPE-merges
#: posture): trained once, shipped, outliving their training corpus.
#: Provenance: operators.classifier.train_nb_weights(documents@sf0.001,
#: positive = doc_id % 7 == 3, n_buckets=256, alpha=0.5) — deterministic
#: (exact integer counts, one math.log pass, 1e-6 quantization);
#: re-derivation is pinned by tests (test_nb_weights_provenance).
_NB_BUCKETS = 256
_NB_WEIGHTS: list[tuple[int, int]] = [
    (4, 117418), (7, -37208), (9, -25396), (17, -187820), (23, -132244),
    (34, 8592), (36, -59833), (46, -18526), (52, -60376), (74, 63036),
    (81, 97743), (82, 30498), (93, 131214), (105, -202867), (106, 71491),
    (109, -213457), (115, -36807), (151, -94609), (152, 34086),
    (158, -215763), (161, -57960), (162, 94466), (180, -8910),
    (186, -140901), (191, 81624), (192, 91508), (217, 35688),
    (226, 32588), (233, -16176), (234, -264222), (236, -174763),
]


def _card_tail_sql(src: str) -> str:
    """The per-source dataset-card SQL chain over a CTE named ``src``
    carrying (doc_id, source, lang, text) — the single source of the
    card oracle, shared by the dataset_card query and the curation v2
    capstone so the two cannot drift (r8 review)."""
    return f"""
    q AS (
      SELECT doc_id, source, lang, text,
             CASE WHEN text IS NULL THEN 0
                  ELSE len(list_filter({_TOKS}, x -> x <> '')) END AS n_toks
      FROM {src}),
    qq AS (
      SELECT doc_id, source, lang, n_toks,
             CASE WHEN text IS NULL THEN 1 ELSE 0 END AS tnull,
             CAST(round(round(least(greatest(
               (0.5 * (len(list_filter(string_split_regex(lower(trim(text)),
                         '\\s+'), w -> list_contains([{_EN_STOP_SQL}], w)))
                  / greatest(CAST(len(string_split_regex(lower(trim(text)),
                         '\\s+')) AS BIGINT), 1))
                + 0.5 * (1 - len(regexp_extract_all(text, '[^\\w\\s]'))
                  / greatest(length(text), 1)))
               * least(len(string_split_regex(lower(trim(text)), '\\s+'))
                       / 20.0, 1.0), 0.0), 1.0), 6) * 1000000)
               AS BIGINT) AS q_micro
      FROM q),
    per_source AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(tnull) AS BIGINT) AS n_null_text,
             CAST(sum(n_toks) AS BIGINT) AS total_tokens,
             CAST(sum(COALESCE(q_micro, 0)) AS BIGINT) AS q_sum,
             CAST(count(q_micro) AS BIGINT) AS q_n,
             CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
      FROM qq GROUP BY source),
    lang_counts AS (
      SELECT source, lang, count(*) AS c FROM qq
      WHERE lang IS NOT NULL GROUP BY source, lang),
    top AS (
      SELECT source, lang AS top_lang FROM (
        SELECT source, lang,
               row_number() OVER (PARTITION BY source
                                  ORDER BY c DESC, lang ASC) AS rn
        FROM lang_counts) t WHERE rn = 1)
    SELECT p.source, p.n_docs, p.n_null_text, p.total_tokens,
           CASE WHEN p.q_n > 0
                THEN round(CAST(p.q_sum AS DOUBLE) / 1000000.0 / p.q_n, 6)
           END AS avg_quality,
           p.n_langs, t.top_lang
    FROM per_source p LEFT JOIN top t USING (source)
    """


def _nb_score_sql() -> tuple[str, str]:
    """``(n_words_sql, score_sql)`` for the pinned NB table — shared by
    the score, sweep and capstone oracles (r8 review)."""
    from ..operators.classifier import nb_oracle_score_sql

    total = nb_oracle_score_sql(_NB_WEIGHTS, _NB_BUCKETS)
    n_words = "COALESCE(len(regexp_extract_all(lower(text), '[a-z]+')), 0)"
    score = f"round(CAST({total} AS DOUBLE) / 1000000.0 / {n_words}, 6)"
    return n_words, score


def _curation_v2_oracle() -> str:
    _, nb_score = _nb_score_sql()
    # the cross-doc span CTE chain, verbatim from the stage-1 oracle
    span_ctes = _CROSS_DOC_SPANS_ORACLE.split("SELECT b.doc_id")[0].rstrip()
    span_ctes = span_ctes.rstrip().rstrip(",")
    return f"""{span_ctes},
    cleaned AS (
      SELECT b.doc_id, d.source, d.lang,
             COALESCE(a.text_clean, '') AS text
      FROM base b
      JOIN documents d USING (doc_id)
      LEFT JOIN agg a USING (doc_id)),
    gm AS (
      SELECT doc_id, source, lang, text,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x <> '') AS toks,
             len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS symbols
      FROM cleaned),
    gr AS (
      SELECT doc_id, source, lang, text, symbols,
             len(toks) AS n,
             list_sum(list_transform(toks, w -> length(w))) AS len_sum,
             len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
               AS alpha,
             len(list_filter(toks,
                   w -> list_contains([{_EN_STOP_SQL}], lower(w))))
               AS n_stop
      FROM gm),
    surv AS (
      SELECT doc_id, source, lang, text FROM gr
      WHERE n > 0
        AND n BETWEEN 30 AND 100000
        AND round(CAST(len_sum AS DOUBLE) / n, 6) BETWEEN 3.0 AND 10.0
        AND round(CAST(symbols AS DOUBLE) / n, 6) < 0.1
        AND round(CAST(alpha AS DOUBLE) / n, 6) >= 0.8
        AND n_stop >= 1
        AND {nb_score} >= -0.04),
    {_card_tail_sql("surv")}
    """


@register(
    "curation_v2_end_to_end",
    oracle=_curation_v2_oracle(),
    headline=True,
    priority=28,  # new in r8 — first driver row (registry rotation)
    doc="The round-8 curation capstone: corpus-wide repeated-span "
    "removal (cross_doc_span_dedup, k=5) -> the published Gopher rule "
    "gate on the CLEANED text (word-count/mean-length/symbol/alpha/"
    "stopword rules at capstone thresholds) -> learned NB "
    "reference-likeness gate (pinned micro-nat weights, score >= "
    "-0.04) -> per-source dataset card over the survivors — the "
    "sibling of curation_pipeline_end_to_end built from this round's "
    "operator tier, demonstrating the new stages COMPOSE in one lazy "
    "plan (the span removal's two bounded exchanges, then scan-fused "
    "gate projections, then the card's group-key aggregate; both "
    "filter gates are inline column expressions, never semi-joins "
    "back onto the cleaned corpus — the accidental-recompute shape).  "
    "The oracle replays all four stages in one SQL chain, pinning "
    "WHICH documents survive and every card aggregate.",
)
def q_curation_v2_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classifier import nb_score_column
    from ..operators.core import evaluation_barrier
    from ..operators.profiling import dataset_card

    docs = load_table(spark, sf_dir, "documents")
    # the barrier pins text_clean to ONE evaluation per row: without it
    # the gate filter pushes below the span-dedup projections and
    # inlines the whole rebuild expression at every metric reference
    # (measured ~100x blowup) — see operators.core.evaluation_barrier
    cleaned = evaluation_barrier(
        docs.select("doc_id", "source", "lang").join(
            ta.strip_cross_doc_spans(docs, k=_CROSS_DOC_K).select(
                "doc_id", F.col("text_clean").alias("text")
            ),
            "doc_id",
        )
    )
    _, gopher_keep = ta.gopher_columns(
        F.col("text"), min_words=30, max_words=100_000, min_stopwords=1
    )
    nb_words, nb_total = nb_score_column(
        _NB_WEIGHTS, _NB_BUCKETS, F.col("text")
    )
    nb_score = F.when(
        nb_words > 0, F.round(nb_total / F.lit(1_000_000.0) / nb_words, 6)
    )
    surv = cleaned.filter(gopher_keep & (nb_score >= F.lit(-0.04)))
    return dataset_card(surv)


#: Pinned BPE merges table (r7, r6 verdict #3).  Tokenizers are
#: ARTIFACTS: trained once, shipped, and outliving the corpus they were
#: trained on (GPT-2's vocab.json posture) — so the registered query
#: encodes under this fixed table and the DuckDB oracle replays the
#: encoder exactly via bpe_oracle_word_expr's generated nested-replace
#: chain.  Provenance: train_bpe_merges(documents@sf0.001, n_merges=40,
#: max_words=5000) — deterministic (ties break lexicographically), so
#: anyone can re-derive it; training itself is pinned by hand-fixture
#: pytest (tests/test_extensions_unit.py::test_bpe_training_hand_fixture).
_BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"), ("s", "t"),
    ("l", "u"), ("a", "r"), ("p", "ar"), ("m", "er"), ("a", "t"),
    ("a", "n"), ("c", "an"), ("s", "can"), ("c", "o"), ("co", "lu"),
    ("colu", "m"), ("colum", "n"), ("d", "ow"), ("in", "dow"),
    ("w", "indow"), ("d", "er"), ("or", "der"), ("or", "t"),
    ("s", "ort"), ("par", "t"), ("u", "p"), ("a", "g"), ("ag", "g"),
    ("a", "lu"), ("alu", "e"), ("v", "alue"), ("in", "e"),
    ("l", "ine"), ("e", "y"), ("k", "ey"), ("j", "o"), ("jo", "in"),
    ("g", "e"), ("mer", "ge"), ("er", "y"),
]


def _bpe_oracle() -> str:
    from ..operators.bpe import bpe_oracle_word_expr

    word_expr = bpe_oracle_word_expr(_BPE_MERGES)
    n_words = "COALESCE(len(regexp_extract_all(lower(text), '[a-z]+')), 0)"
    pieces = (
        "COALESCE(list_sum(list_transform("
        f"regexp_extract_all(lower(text), '[a-z]+'), w -> {word_expr})), 0)"
    )
    return f"""
    SELECT doc_id,
           CAST({n_words} AS INTEGER) AS n_words,
           CAST({pieces} AS BIGINT) AS bpe_pieces,
           CASE WHEN {n_words} > 0
                THEN round(CAST({pieces} AS DOUBLE) / {n_words}, 6)
           END AS pieces_per_word
    FROM documents
    """


@register(
    "bpe_token_counts",
    oracle=_bpe_oracle(),
    headline=True,  # bench promotion (r6 verdict #6 / r7 additions)
    priority=30,  # new in r7 — first driver row (registry _R7_ROTATION)
    doc="Learned-subword token accounting (operators/bpe.py, r6 verdict "
    "#3): per-document BPE piece counts under the pinned 40-merge table "
    "trained deterministically from the corpus (Sennrich word-frequency "
    "BPE: one vocab-bounded aggregate, driver-side merge loop over the "
    "tiny freq dict — the unigram-LM collect posture).  Encoding runs "
    "as an Arrow-batched pandas_udf narrow map (zero shuffles, merges "
    "broadcast as closure kilobytes); the oracle replays the encoder "
    "EXACTLY in SQL — characters bracket-serialized, each merge a "
    "sequential replace() in rank order, bit-identical to merge_pass — "
    "so the driver hash-checks the tokenizer itself, not just row "
    "counts.",
)
def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_piece_counts

    return bpe_piece_counts(
        load_table(spark, sf_dir, "documents"), _BPE_MERGES
    )


def _bpe_packed_oracle() -> str:
    from ..operators.bpe import bpe_oracle_word_expr

    word_expr = bpe_oracle_word_expr(_BPE_MERGES)
    pieces = (
        "COALESCE(list_sum(list_transform("
        f"regexp_extract_all(lower(text), '[a-z]+'), w -> {word_expr})), 0)"
    )
    return f"""
    WITH pc AS (
      SELECT doc_id, text, CAST({pieces} AS BIGINT) AS n FROM documents),
    c AS (
      SELECT doc_id, text, n,
             sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n AS off
      FROM pc)
    SELECT CAST(0 AS INT)               AS shard,
           CAST(off // 512 AS BIGINT)   AS pack_id,
           count(*)                     AS n_docs,
           CAST(sum(n) AS BIGINT)       AS total_tokens,
           string_agg(text, '<|doc|>' ORDER BY doc_id) AS packed_text
    FROM c GROUP BY 2
    """


@register(
    "bpe_packed_sequences",
    oracle=_bpe_packed_oracle(),
    priority=30,  # new in r8 — first driver row (registry rotation)
    doc="Packing denominated in LEARNED tokens (r7 verdict #4): "
    "operators.packing.materialize_packs with the per-doc count fed by "
    "operators.bpe.bpe_piece_count_column under the pinned 40-merge "
    "table — pack capacity in deployed-tokenizer subword tokens, the "
    "budget a context window actually enforces, instead of the "
    "whitespace proxy of the packed_sequences sibling.  The plan stays "
    "the sibling's ONE (shard, pack_id) shuffle; the piece count rides "
    "the scan as an Arrow-batched pandas_udf column (merges are closure "
    "kilobytes).  The oracle replays the ENTIRE path in SQL — "
    "nested-replace BPE encoding per word, prefix-sum offset packing, "
    "string_agg ORDER BY materialization — so the driver hash-checks "
    "tokenizer, assignment and packed text together.",
)
def q_bpe_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_piece_count_column
    from ..operators.packing import materialize_packs

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        bpe_piece_count_column(_BPE_MERGES, F.col("text")).alias("n"),
    )
    return materialize_packs(
        docs, id_col="doc_id", token_count_col="n", text_col="text",
        budget=512, n_shards=1,
    )


def _nb_oracle() -> str:
    n_words, score = _nb_score_sql()
    return f"""
    SELECT doc_id,
           CAST({n_words} AS INTEGER) AS n_words,
           CASE WHEN {n_words} > 0 THEN {score} END AS score,
           CASE WHEN {n_words} > 0 THEN {score} > 0 END AS pred
    FROM documents
    """


@register(
    "nb_classifier_scores",
    oracle=_nb_oracle(),
    headline=True,  # promoted r10 (r9 verdict #6)
    priority=28,  # new in r8 — first driver row (registry rotation)
    doc="Model-based quality classification "
    "(operators/classifier.py, new r8): hashed Naive-Bayes log-odds "
    "scoring — the learned does-this-look-like-the-reference-corpus "
    "tier (CCNet / fastText CommonCrawl-filter shape) that the "
    "heuristic quality_scores family does not cover.  Training is ONE "
    "bucket-bounded aggregate (shuffle <= n_buckets rows, the CMS "
    "posture) + a driver-side log-odds pass over <= 256 count rows; "
    "the registered query scores under the PINNED integer micro-nat "
    "weights table (classifiers are shipped artifacts, the BPE-merges "
    "posture), so scoring is a zero-shuffle scan-fused projection and "
    "the integer sums make per-doc scores bit-exact across engines "
    "regardless of aggregation order — the oracle replays the full "
    "lookup-sum-divide-round chain via a dense list literal.",
)
def q_nb_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classifier import nb_quality_scores

    return nb_quality_scores(
        load_table(spark, sf_dir, "documents"), _NB_WEIGHTS, _NB_BUCKETS
    )


_NB_SWEEP = [-0.06, -0.05, -0.04, -0.03, -0.02, -0.01, 0.0]


def _nb_sweep_oracle() -> str:
    n_words, score = _nb_score_sql()
    th = ", ".join(str(t) for t in _NB_SWEEP)
    return f"""
    WITH s AS (
      SELECT CASE WHEN {n_words} > 0 THEN {score} END AS sc,
             CAST({n_words} AS BIGINT) AS w
      FROM documents),
    f AS (SELECT sc, w, unnest([{th}]) AS threshold FROM s)
    SELECT threshold,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN sc IS NOT NULL AND sc >= threshold
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           round(CAST(sum(CASE WHEN sc IS NOT NULL AND sc >= threshold
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS frac_keep,
           CAST(sum(CASE WHEN sc IS NOT NULL AND sc >= threshold
                         THEN w ELSE 0 END) AS BIGINT) AS kept_weight
    FROM f GROUP BY threshold
    """


@register(
    "nb_threshold_sweep",
    oracle=_nb_sweep_oracle(),
    priority=28,  # new in r8 — first driver row (registry rotation)
    doc="Keep-rate curve for the NB classifier gate "
    "(operators.profiling.threshold_sweep): for each candidate cutoff, "
    "how many documents and how much token mass survive — the policy-"
    "tuning report a curation run consults before pinning a threshold "
    "(the capstone's -0.04 came from exactly this curve).  One pass, "
    "thresholds-bounded exchange; integer counts + one rounded "
    "division keep it exact cross-engine.",
)
def q_nb_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classifier import nb_quality_scores
    from ..operators.profiling import threshold_sweep

    scores = nb_quality_scores(
        load_table(spark, sf_dir, "documents"), _NB_WEIGHTS, _NB_BUCKETS
    )
    return threshold_sweep(
        scores, "score", _NB_SWEEP, weight_col="n_words"
    )


@register(
    "gopher_quality_filter",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter({_TOKS}, x -> x <> '') AS toks,
             len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS symbols
      FROM documents),
    m AS (
      SELECT doc_id, toks, symbols, len(toks) AS n,
             list_sum(list_transform(toks, w -> length(w))) AS len_sum,
             len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]')))
               AS alpha,
             len(list_filter(toks,
                   w -> list_contains([{_EN_STOP_SQL}], lower(w))))
               AS n_stop
      FROM t),
    r AS (
      SELECT doc_id, n,
             CASE WHEN n > 0 THEN round(CAST(len_sum AS DOUBLE) / n, 6) END
               AS mean_word_len,
             CASE WHEN n > 0 THEN round(CAST(symbols AS DOUBLE) / n, 6) END
               AS symbol_ratio,
             CASE WHEN n > 0 THEN round(CAST(alpha AS DOUBLE) / n, 6) END
               AS alpha_word_frac,
             CASE WHEN n > 0 THEN n_stop END AS n_stopwords
      FROM m)
    SELECT doc_id,
           CAST(COALESCE(n, 0) AS INTEGER) AS n_words,
           mean_word_len, symbol_ratio, alpha_word_frac,
           CAST(n_stopwords AS INTEGER) AS n_stopwords,
           COALESCE(n > 0
             AND n BETWEEN 50 AND 100000
             AND mean_word_len BETWEEN 3.0 AND 10.0
             AND symbol_ratio < 0.1
             AND alpha_word_frac >= 0.8
             AND n_stopwords >= 2, FALSE) AS keep
    FROM r
    """,
    priority=28,  # new in r8 — first driver row (registry rotation)
    doc="The published Gopher document-quality rules "
    "(operators.text_analysis.gopher_quality_filter, Rae et al. 2021 "
    "SSA1.1): word-count bounds, mean-word-length band, symbol-to-word "
    "ratio, alphabetic-word fraction, minimum stopword hits — the "
    "citable rule set real curation stacks start from, emitted with "
    "per-rule metrics AND the keep flag so one pass serves survivors "
    "and audit.  Zero shuffles (scan-fused array lambdas + regexp "
    "counts); integer counts divided once and 6dp-rounded pin every "
    "ratio cross-engine.",
)
def q_gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ta.gopher_quality_filter(load_table(spark, sf_dir, "documents"))


#: Demo blocklist: curated artifact, pinned like the NB weights / BPE
#: merges (real lists are toxicity/spam lexicons; these two corpus
#: words make the gate bind at test scale).
_BLOCKLIST = ["dup", "slow"]

_BLOCKLIST_SQL = ", ".join(repr(w) for w in sorted(set(_BLOCKLIST)))


@register(
    "blocklist_filter",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents),
    h AS (
      SELECT doc_id,
             list_filter(toks, w -> list_contains([{_BLOCKLIST_SQL}], w))
               AS hits
      FROM t)
    SELECT doc_id,
           CAST(COALESCE(len(hits), 0) AS INTEGER) AS n_hits,
           COALESCE(array_to_string(list_sort(list_distinct(hits)), ','),
                    '') AS hit_terms,
           COALESCE(len(hits), 0) = 0 AS keep
    FROM h
    """,
    priority=28,  # new in r8 — first driver row (registry rotation)
    doc="Token-level blocklist screening "
    "(operators.text_analysis.blocklist_filter): the bad-terms curation "
    "stage — exact case-insensitive token match against a pinned "
    "curated list (toxicity/spam lexicon posture), emitting hit count, "
    "sorted matched terms and the keep gate so one pass serves "
    "survivors and the review queue.  Zero-shuffle array lambdas; the "
    "list rides as an array literal; >10k lists are directed to the "
    "Bloom path with a loud error.",
)
def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ta.blocklist_filter(
        load_table(spark, sf_dir, "documents"), _BLOCKLIST
    )


@register(
    "dataset_card",
    oracle="WITH " + _card_tail_sql("documents"),
    priority=28,  # new in r8 — first driver row (registry rotation)
    doc="One-pass per-source dataset card: the summary artifact a "
    "curation run publishes next to its shards — doc count, NULL-text "
    "count, whitespace-token mass, mean heuristic quality, language "
    "cardinality and modal language (deterministic lexicographic "
    "tie-break).  The quality mean sums 6dp-rounded per-doc scores as "
    "INTEGER micro-units (order-free exact arithmetic — the unigram-LM "
    "/ NB-classifier convention), so the cross-engine hash pins every "
    "aggregate; one group-key exchange plus a languages-bounded modal "
    "aggregate.",
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profiling import dataset_card

    return dataset_card(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Round-6 continuation 4: unigram LM scoring, temperature mix, Bloom filter
# ---------------------------------------------------------------------------


@register(
    "unigram_lm_scores",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         w -> w <> '') AS ws
      FROM documents),
    dw AS (SELECT doc_id, unnest(ws) AS w FROM toks),
    counts AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM dw GROUP BY w),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM counts),
    vocab AS (SELECT w, CAST(floor(log10(c / n) * 1e9) AS BIGINT) AS lp
              FROM counts, tot ORDER BY c DESC, w LIMIT 16),
    oov AS (SELECT CAST(floor(log10(0.5 / n) * 1e9) AS BIGINT) AS lp
            FROM tot),
    scored AS (
      SELECT dw.doc_id,
             CAST(sum(coalesce(v.lp, o.lp)) AS BIGINT)  AS s,
             CAST(count(*) AS BIGINT)                    AS nt,
             CAST(sum(CASE WHEN v.lp IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT)                             AS n_oov
      FROM dw LEFT JOIN vocab v USING (w) CROSS JOIN oov o
      GROUP BY dw.doc_id)
    SELECT d.doc_id,
           CAST(coalesce(sc.nt, 0) AS INTEGER)            AS n_tokens,
           round(CAST(sc.s AS DOUBLE) / sc.nt / 1e9, 6)   AS avg_logp10,
           round(sc.n_oov / sc.nt, 6)                     AS oov_ratio
    FROM documents d LEFT JOIN scored sc USING (doc_id)
    """,
    headline=True,  # bench promotion (r6 verdict #6 / r7 additions)
    priority=63,  # r6 continuation-4 addition: r7 first-in-line
    doc="Corpus-trained unigram LM quality scoring "
    "(operators.text_analysis.unigram_lm_scores, the CCNet shape one "
    "step up from heuristics): fit word frequencies over a top-16 "
    "vocabulary, score each doc by mean per-token log10 probability "
    "with a smoothed OOV floor.  Cross-engine exactness via integer "
    "nano-log10 quantization: per-word log-probs become BIGINTs, the "
    "per-doc sum is exact long arithmetic (order-independent), and "
    "only the final mean divides once — no float-accumulation-order "
    "flake.  Pass 1 shuffles only the vocabulary (map-side partials); "
    "pass 2 is a zero-shuffle projection with the vocab inlined "
    "most-frequent-first.",
)
def q_unigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ta.unigram_lm_scores(
        load_table(spark, sf_dir, "documents"), vocab_size=16, oov_alpha=0.5
    )


#: Pinned Stupid-Backoff bigram LM (r9, r8 advice) — integer nano-log10
#: tables.  LMs are ARTIFACTS (the NB-weights/BPE-merges posture):
#: trained once, shipped, outliving their training corpus — and pinning
#: removes the one cross-engine fragility the r8 oracle had, which
#: RETRAINED the model through DuckDB's libm log10 (a last-ulp
#: difference inside floor(log10(x)*1e9) could flip a table entry by
#: one nano-log10 unit).  Provenance:
#: operators.text_analysis.train_bigram_lm(documents@sf0.001,
#: vocab_size=16, bigram_size=24, oov_alpha=0.5, backoff=0.4) —
#: deterministic (exact integer counts, one math.log10 pass);
#: re-derivation pinned by tests (test_bigram_lm_provenance).
_BIGRAM_LM: dict = {
    "uni_lp": {
        "scan": -1453215760, "column": -1455872003, "window": -1456761041,
        "order": -1457206242, "sort": -1457651901, "part": -1462584571,
        "agg": -1467117958, "value": -1468487253, "line": -1470319722,
        "key": -1470779050, "join": -1474935009, "merge": -1475399247,
        "group": -1475863982, "query": -1475863982, "a": -1477261177,
        "vector": -1477261177,
    },
    "back_lp": {
        "scan": -1851155768, "column": -1853812012, "window": -1854701049,
        "order": -1855146251, "sort": -1855591910, "part": -1860524580,
        "agg": -1865057966, "value": -1866427262, "line": -1868259730,
        "key": -1868719058, "join": -1872875018, "merge": -1873339256,
        "group": -1873803991, "query": -1873803991, "a": -1875201186,
        "vector": -1875201186,
    },
    "pair_lp": {
        "order fast": -1281434440, "order order": -1316906758,
        "agg part": -1316335069, "part filter": -1320868456,
        "scan a": -1330237267, "window join": -1326691986,
        "join column": -1318063335, "line agg": -1322678623,
        "line group": -1322678623, "order scan": -1335792102,
        "group merge": -1326894200, "order sort": -1345551940,
        "agg hash": -1345624446, "agg table": -1345624446,
        "column line": -1356870400, "key order": -1341963353,
        "query filter": -1336878421, "join merge": -1348026559,
        "key data": -1352182519, "order the": -1365755326,
        "part the": -1360376997, "scan merge": -1369745809,
        "vector part": -1345700391, "window slow": -1366200528,
    },
    "oov_first": -4747240854,
    "oov_back": -5145180863,
}


def _sq(s: str) -> str:
    """SQL single-quote a string literal."""
    return "'" + s.replace("'", "''") + "'"


def _bigram_lm_oracle() -> str:
    """Oracle scoring the documents with the PINNED tables — pure
    integer lookups + exact long arithmetic, no retraining, no libm."""
    uni_rows = ",\n             ".join(
        f"({_sq(w)}, {_BIGRAM_LM['uni_lp'][w]}, {_BIGRAM_LM['back_lp'][w]})"
        for w in _BIGRAM_LM["uni_lp"]
    )
    bg_rows = ",\n           ".join(
        f"({_sq(k.split(' ')[0])}, {_sq(k.split(' ')[1])}, {lp})"
        for k, lp in _BIGRAM_LM["pair_lp"].items()
    )
    return f"""
    WITH uni(w, lp_uni, lp_back) AS (
      VALUES {uni_rows}),
    bg(ctx, cur, lp) AS (
      VALUES {bg_rows}),
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         w -> w <> '') AS ws
      FROM documents),
    dw AS (SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS pos
           FROM toks),
    pos_lp AS (
      SELECT dw.doc_id, dw.pos,
             CASE WHEN dw.pos = 1
                  THEN coalesce(u.lp_uni, {_BIGRAM_LM["oov_first"]})
                  ELSE coalesce(b.lp, u.lp_back, {_BIGRAM_LM["oov_back"]})
             END AS lp,
             CASE WHEN dw.pos > 1 AND b.lp IS NOT NULL
                  THEN 1 ELSE 0 END AS hit
      FROM dw
      LEFT JOIN dw prev
        ON prev.doc_id = dw.doc_id AND prev.pos = dw.pos - 1
      LEFT JOIN bg b
        ON dw.pos > 1 AND b.ctx = prev.w AND b.cur = dw.w
      LEFT JOIN uni u ON u.w = dw.w),
    sc AS (SELECT doc_id, CAST(sum(lp) AS BIGINT) AS s,
                  CAST(count(*) AS BIGINT) AS nt,
                  CAST(sum(hit) AS BIGINT) AS hits
           FROM pos_lp GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(sc.nt, 0) AS INTEGER)          AS n_tokens,
           round(CAST(sc.s AS DOUBLE) / sc.nt / 1e9, 6) AS avg_logp10,
           CASE WHEN sc.nt >= 2
                THEN round(CAST(sc.hits AS DOUBLE) / (sc.nt - 1), 6)
           END AS bigram_hit_ratio
    FROM documents d LEFT JOIN sc USING (doc_id)
    """


@register(
    "bigram_lm_scores",
    oracle=_bigram_lm_oracle(),
    priority=28,  # r8 registration; r9: code changed (pinned model)
    doc="Bigram LM scoring with Stupid Backoff "
    "(operators.text_analysis.bigram_lm_scores, Brants et al. 2007): "
    "one modeling step from the unigram scorer toward CCNet's KenLM — "
    "P(cur|ctx) from a top-24 bigram table (contexts restricted to the "
    "top-16 vocabulary so the conditional's denominator is available "
    "and the table bounded), backoff 0.4x unigram, OOV floor; emits "
    "the bigram hit ratio as a fluency signal.  The model is a PINNED "
    "integer nano-log10 artifact (_BIGRAM_LM, provenance-tested like "
    "the NB weights), so scoring is a fully lazy zero-shuffle "
    "projection with both tables as map literals, per-doc sums exact "
    "long arithmetic (order-free), and the oracle scores with the "
    "IDENTICAL literals — no cross-engine libm dependence (r8 "
    "advice).",
)
def q_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ta.bigram_lm_scores(
        load_table(spark, sf_dir, "documents"), model=_BIGRAM_LM
    )



@register(
    "temperature_mix_sample",
    oracle=f"""
    WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n
               FROM documents GROUP BY source),
    t AS (SELECT sum(pow(n, 0.5)) AS tw FROM c),
    r AS (SELECT source, n,
                 CAST(floor(least(1.0, 250.0 * pow(n, 0.5) / tw / n)
                      * 1152921504606846976) AS BIGINT) AS thr
          FROM c, t),
    kept AS (
      SELECT d.source, d.doc_id
      FROM documents d JOIN r USING (source)
      WHERE {md5_long_sql("('temper:' || CAST(doc_id AS VARCHAR))")} < thr),
    k AS (SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
                 min(doc_id) AS min_doc, max(doc_id) AS max_doc
          FROM kept GROUP BY source)
    SELECT c.source, c.n AS n_before,
           coalesce(k.n_kept, 0)        AS n_kept,
           CAST(k.min_doc AS BIGINT)    AS min_doc,
           CAST(k.max_doc AS BIGINT)    AS max_doc
    FROM c LEFT JOIN k USING (source)
    """,
    priority=63,  # r6 continuation-4 addition: r7 first-in-line
    doc="Temperature-weighted source rebalancing "
    "(operators.sampling.temperature_resample): the multinomial-alpha "
    "pretraining mix (mBERT/XLM-R/Gopher family) — source i keeps rows "
    "at rate min(1, target * n_i^0.5 / sum_j n_j^0.5 / n_i) via the "
    "deterministic salted-hash threshold, up-sampling small sources "
    "without letting giants dominate.  Corpus never shuffles: one tiny "
    "per-source count, rate arithmetic on that frame, broadcast join "
    "back + narrow filter.  min/max surviving ids pin WHICH rows "
    "survive per source; sources with zero survivors still emit a row "
    "(left join from counts).",
)
def q_temperature_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import temperature_resample

    docs = load_table(spark, sf_dir, "documents")
    kept = temperature_resample(
        docs, group_col="source", id_col="doc_id", target_rows=250, alpha=0.5
    )
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_before"))
    agg = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("_nk"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )
    return counts.join(agg, "source", "left").select(
        "source",
        "n_before",
        F.coalesce(F.col("_nk"), F.lit(0).cast("long")).alias("n_kept"),
        "min_doc",
        "max_doc",
    )


@register(
    "temperature_mix_report",
    oracle=f"""
    WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n
               FROM documents GROUP BY source),
    t AS (SELECT sum(pow(n, 0.5)) AS tw FROM c),
    r AS (SELECT source, n,
                 round(least(1.0, 250.0 * pow(n, 0.5) / tw / n), 6)
                   AS target_rate,
                 CAST(floor(least(1.0, 250.0 * pow(n, 0.5) / tw / n)
                      * 1152921504606846976) AS BIGINT) AS thr
          FROM c, t),
    k AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_kept
          FROM documents d JOIN r USING (source)
          WHERE {md5_long_sql("('temper:' || CAST(doc_id AS VARCHAR))")} < thr
          GROUP BY d.source)
    SELECT r.source, r.n AS n_docs,
           coalesce(k.n_kept, 0) AS n_kept,
           r.target_rate,
           round(CAST(coalesce(k.n_kept, 0) AS DOUBLE) / r.n, 6)
             AS achieved_rate
    FROM r LEFT JOIN k USING (source)
    """,
    priority=28,  # new in r8 — first driver row (registry rotation)
    doc="Achieved-vs-target mix audit "
    "(operators.sampling.temperature_mix_report): per source, the rate "
    "the temperature mix PROMISES (min(1, target*n^alpha/sum/n)) next "
    "to the rate the hash threshold actually DELIVERED — the report a "
    "run publishes beside its shards, computed under the exact "
    "thresholds temperature_mix_sample uses (same salt, same key "
    "arithmetic).  Corpus never shuffles; one conditional aggregate.",
)
def q_temperature_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import temperature_mix_report

    return temperature_mix_report(
        load_table(spark, sf_dir, "documents"),
        group_col="source",
        id_col="doc_id",
        target_rows=250,
        alpha=0.5,
    )


_BLOOM_M, _BLOOM_K = 8192, 3


def _bloom_oracle_sql() -> str:
    from ..operators.sketches import bloom_positions_sql

    build_pos = bloom_positions_sql("text", _BLOOM_M, _BLOOM_K, "bloom")
    probe_pos = bloom_positions_sql("d.text", _BLOOM_M, _BLOOM_K, "bloom")
    hit = " AND ".join(
        f"(coalesce(f{i}.bits, 0) & (1::BIGINT << CAST(({probe_pos[i]}) % 63 "
        f"AS INTEGER))) = (1::BIGINT << CAST(({probe_pos[i]}) % 63 AS INTEGER))"
        for i in range(_BLOOM_K)
    )
    joins = "\n      ".join(
        f"LEFT JOIN filt f{i} ON f{i}.word_idx = ({probe_pos[i]}) // 63"
        for i in range(_BLOOM_K)
    )
    return f"""
    WITH bench AS (SELECT DISTINCT text FROM documents
                   WHERE doc_id % 10 = 7 AND text IS NOT NULL),
    pos AS (SELECT unnest([{", ".join(build_pos)}]) AS p FROM bench),
    filt AS (SELECT p // 63 AS word_idx,
                    bit_or(1::BIGINT << CAST(p % 63 AS INTEGER)) AS bits
             FROM pos GROUP BY p // 63),
    probe AS (
      SELECT d.doc_id, d.source,
             d.text IS NOT NULL
               AND d.text IN (SELECT text FROM bench)       AS member,
             d.text IS NOT NULL AND {hit}                   AS flagged
      FROM documents d
      {joins})
    SELECT source,
           CAST(count(*) AS BIGINT)                          AS n_docs,
           CAST(sum(CASE WHEN member THEN 1 ELSE 0 END)
                AS BIGINT)                                   AS n_members,
           CAST(sum(CASE WHEN flagged THEN 1 ELSE 0 END)
                AS BIGINT)                                   AS n_flagged,
           CAST(sum(CASE WHEN flagged AND NOT member THEN 1 ELSE 0 END)
                AS BIGINT)                                   AS n_false_pos,
           bool_and(flagged OR NOT member)                   AS no_false_neg
    FROM probe GROUP BY source
    """


@register(
    "bloom_decontaminate",
    oracle=_bloom_oracle_sql(),
    headline=True,  # bench promotion (r6 verdict #6 / r7 additions)
    priority=63,  # r6 continuation-4 addition: r7 first-in-line
    doc="Bloom-filter benchmark decontamination "
    "(operators.sketches.bloom_build/bloom_might_contain): the "
    "membership sketch as a (word_idx, bits) TABLE of 63-bit words — "
    "built with a bit_or groupBy bounded by the filter size (the "
    "shuffle carries at most m/63 rows regardless of corpus size), "
    "probed with k broadcast joins so the probe corpus never shuffles, "
    "merged across shards/days by bit_or union.  Every bit position is "
    "the deterministic md5_long, so the oracle rebuilds the filter "
    "BIT-FOR-BIT and the driver checks exact flag counts, not just "
    "invariants: per source, flagged/member/false-positive counts plus "
    "the no-false-negative guarantee.  63-bit words because DuckDB "
    "raises on the 1<<63 overflow the JVM wraps.",
)
def q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import bloom_build, bloom_might_contain

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(
        (F.col("doc_id") % 10 == 7) & F.col("text").isNotNull()
    ).select("text").distinct()
    filt = bloom_build(bench, "text", m_bits=_BLOOM_M, k=_BLOOM_K)
    probed = bloom_might_contain(
        filt, docs, "text", m_bits=_BLOOM_M, k=_BLOOM_K
    )
    members = bench.withColumn("_m", F.lit(True))
    out = (
        probed.join(F.broadcast(members), "text", "left")
        .withColumn(
            "member", F.col("text").isNotNull() & F.coalesce("_m", F.lit(False))
        )
        .withColumn(
            "flagged", F.col("text").isNotNull() & F.col("might_contain")
        )
    )
    return out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("member"), 1).otherwise(0)).alias("n_members"),
        F.sum(F.when(F.col("flagged"), 1).otherwise(0)).alias("n_flagged"),
        F.sum(
            F.when(F.col("flagged") & ~F.col("member"), 1).otherwise(0)
        ).alias("n_false_pos"),
        F.every(F.col("flagged") | ~F.col("member")).alias("no_false_neg"),
    )


_CMS_W, _CMS_D = 16, 3


def _cms_oracle_sql() -> str:
    def h(d: int, expr: str) -> str:
        return (
            md5_long_sql(f"('cms:{d}:' || CAST({expr} AS VARCHAR))")
            + f" % {_CMS_W}"
        )

    unions = "\n        UNION ALL ".join(
        f"SELECT {d} AS d, {h(d, 'w')} AS col FROM occ" for d in range(_CMS_D)
    )
    joins = "\n      ".join(
        f"LEFT JOIN sk s{d} ON s{d}.d = {d} AND s{d}.col = {h(d, 'dw.w')}"
        for d in range(_CMS_D)
    )
    least = ", ".join(f"coalesce(s{d}.cnt, 0)" for d in range(_CMS_D))
    return f"""
    WITH toks AS (
      SELECT list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         w -> w <> '') AS ws
      FROM documents),
    occ AS (SELECT unnest(ws) AS w FROM toks),
    sk AS (
      SELECT d, col, CAST(count(*) AS BIGINT) AS cnt FROM (
        {unions})
      GROUP BY d, col),
    dw AS (SELECT w, CAST(count(*) AS BIGINT) AS c_true FROM occ GROUP BY w)
    SELECT dw.w AS word, dw.c_true,
           least({least}) AS est_count,
           least({least}) >= dw.c_true AS over_ok
    FROM dw
    {joins}
    """


@register(
    "cms_word_frequencies",
    oracle=_cms_oracle_sql(),
    priority=63,  # r6 continuation-4 addition: r7 first-in-line
    doc="Count-min-sketch token frequencies "
    "(operators.sketches.cms_build/cms_estimate): the frequency sibling "
    "of the Bloom (membership) and HLL (distinct) sketches — a "
    "depth x width counter table whose groupBy output is bounded by the "
    "sketch size regardless of corpus size, merged across shards by "
    "summing counters, probed as an inlined literal map (zero joins on "
    "the probe side).  Width deliberately tiny (16) so hash collisions "
    "REALLY occur and the one-sided overestimate property is exercised, "
    "not vacuous: the oracle rebuilds every counter exactly from the "
    "same md5 positions and checks estimates value-for-value plus the "
    "est >= true invariant per word.",
)
def q_cms_word_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import cms_build, cms_estimate

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda w: w != F.lit(""),
    )
    occ = docs.select(F.explode(toks).alias("w"))
    sk = cms_build(occ, "w", width=_CMS_W, depth=_CMS_D)
    dw = occ.groupBy("w").agg(F.count(F.lit(1)).alias("c_true"))
    est = cms_estimate(sk, dw, "w", width=_CMS_W, depth=_CMS_D)
    return est.select(
        F.col("w").alias("word"),
        "c_true",
        "est_count",
        (F.col("est_count") >= F.col("c_true")).alias("over_ok"),
    )


@register(
    "fuzzy_part_names",
    oracle="""
    WITH d AS (SELECT p_name, min(p_partkey) AS pid FROM part
               GROUP BY p_name)
    SELECT a.pid AS id_a, b.pid AS id_b,
           a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS lev_dist
    FROM d a JOIN d b
      ON split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
     AND a.pid < b.pid
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
    priority=63,  # r6 continuation-4 addition: r7 first-in-line
    doc="Blocked approximate-string matching "
    "(operators.dedup.fuzzy_string_pairs): the entity-resolution shape "
    "— near-identical product names at Levenshtein distance <= 3, "
    "blocked by the name's noun (its second word) so verification only "
    "runs within blocks, never all-pairs; pair generation reuses the "
    "triangle-salted blocked_self_join so parallelism is blocks x "
    "salt-cells, not #blocks.  levenshtein is a JVM built-in with a "
    "DuckDB twin, so every surviving pair and distance is checked "
    "exactly.",
)
def q_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(F.min("p_partkey").alias("pid"))
    return dd.fuzzy_string_pairs(
        names.withColumn("_blk", F.split(F.col("p_name"), " ").getItem(1)),
        id_col="pid",
        text_col="p_name",
        block_col="_blk",
        max_dist=3,
    )


@register(
    "key_skew_orders",
    oracle="""
    WITH c AS (SELECT o_custkey, CAST(count(*) AS BIGINT) AS n
               FROM orders GROUP BY o_custkey),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS tot,
                 CAST(count(*) AS BIGINT) AS n_keys FROM c),
    r AS (SELECT o_custkey, n,
                 row_number() OVER (ORDER BY n DESC, o_custkey ASC) AS rank
          FROM c)
    SELECT r.o_custkey, r.n,
           round(r.n / t.tot, 6) AS share,
           CAST(r.rank AS INTEGER) AS rank, t.n_keys
    FROM r, t WHERE r.rank <= 20
    """,
    priority=63,  # r6 continuation-4 addition: r7 first-in-line
    doc="Key-skew diagnostics (operators.joins.key_skew_stats): top-20 "
    "heaviest join keys with row count, share of table, rank, and "
    "distinct-key cardinality — the monitoring companion every skew "
    "mitigation in this engine (salted_join, sampler hot_threshold, "
    "LSH max_bucket) sizes itself against.  Distributed partial top-k "
    "(TakeOrdered): per-partition heaps, no single-task sort over the "
    "distinct-key frame; deterministic tie-break by key.",
)
def q_key_skew_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.joins import key_skew_stats

    return key_skew_stats(
        load_table(spark, sf_dir, "orders"), key_col="o_custkey", top_k=20
    )


def _curation_oracle_sql() -> str:
    from ..operators.sketches import bloom_positions_sql

    build_pos = bloom_positions_sql("text", _BLOOM_M, _BLOOM_K, "bloom")
    probe_pos = bloom_positions_sql("s1.text", _BLOOM_M, _BLOOM_K, "bloom")
    hit = " AND ".join(
        f"(coalesce(f{i}.bits, 0) & (1::BIGINT << CAST(({probe_pos[i]}) % 63 "
        f"AS INTEGER))) = (1::BIGINT << CAST(({probe_pos[i]}) % 63 AS INTEGER))"
        for i in range(_BLOOM_K)
    )
    joins = "\n           ".join(
        f"LEFT JOIN filt f{i} ON f{i}.word_idx = ({probe_pos[i]}) // 63"
        for i in range(_BLOOM_K)
    )
    temper_key = md5_long_sql("('temper:' || CAST(doc_id AS VARCHAR))")
    return f"""
    WITH base AS (SELECT doc_id, source, text FROM documents),
    keyed AS (
      SELECT doc_id, source, text,
             {md5_long_sql(_NORM_TEXT)}    AS h1,
             {md5_long_lo_sql(_NORM_TEXT)} AS h2
      FROM base),
    s1 AS (SELECT doc_id, source, text FROM (
             SELECT *, row_number() OVER (
               PARTITION BY h1, h2 ORDER BY doc_id) AS rn
             FROM keyed) t WHERE rn = 1),
    bench AS (SELECT DISTINCT text FROM documents
              WHERE doc_id % 10 = 7 AND text IS NOT NULL),
    pos AS (SELECT unnest([{", ".join(build_pos)}]) AS p FROM bench),
    filt AS (SELECT p // 63 AS word_idx,
                    bit_or(1::BIGINT << CAST(p % 63 AS INTEGER)) AS bits
             FROM pos GROUP BY p // 63),
    s2 AS (SELECT s1.doc_id, s1.source, s1.text
           FROM s1
           {joins}
           WHERE NOT (s1.text IS NOT NULL AND {hit})),
    qm AS (SELECT doc_id, source, text,
                  string_split_regex(lower(trim(text)), '\\s+') AS toks,
                  len(regexp_extract_all(text, '[^\\w\\s]')) AS punct,
                  length(text) AS n_chars
           FROM s2),
    q2 AS (SELECT doc_id, source, text,
                  CAST(len(toks) AS INTEGER) AS n_toks,
                  punct / greatest(n_chars, 1) AS punct_ratio,
                  len(list_filter(toks,
                        w -> list_contains([{_EN_STOP_SQL}], w)))
                    / greatest(CAST(len(toks) AS BIGINT), 1) AS stop_ratio
           FROM qm),
    q3 AS (SELECT doc_id, source, text,
                  round(least(greatest(
                    (0.5 * stop_ratio + 0.5 * (1 - punct_ratio)) *
                    least(n_toks / 20.0, 1.0), 0.0), 1.0), 6) AS quality
           FROM q2),
    s3 AS (SELECT doc_id, source, text FROM (
             SELECT *, round(percent_rank() OVER (
               PARTITION BY source
               ORDER BY quality DESC, doc_id ASC), 6) AS pr
             FROM q3) t WHERE pr <= 0.6),
    c4 AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM s3
           GROUP BY source),
    t4 AS (SELECT sum(pow(n, 0.5)) AS tw FROM c4),
    r4 AS (SELECT source,
                  CAST(floor(least(1.0, 120.0 * pow(n, 0.5) / tw / n)
                       * 1152921504606846976) AS BIGINT) AS thr
           FROM c4, t4),
    s4 AS (SELECT s3.doc_id, s3.source, s3.text
           FROM s3 JOIN r4 USING (source)
           WHERE {temper_key} < thr),
    tb AS (SELECT doc_id, source,
                  CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
                  {_TB_KEY_SQL} AS k
           FROM s4),
    s5 AS (SELECT doc_id, source, n_tokens FROM (
             SELECT *, sum(n_tokens) OVER (
               PARTITION BY source ORDER BY k, doc_id
               ROWS UNBOUNDED PRECEDING) AS cum
             FROM tb) t WHERE cum <= 400)
    SELECT b.source, b.n_raw,
           coalesce(a5.n_kept, 0)      AS n_kept,
           coalesce(a5.kept_tokens, 0) AS kept_tokens,
           CAST(a5.min_doc AS BIGINT)  AS min_doc,
           CAST(a5.max_doc AS BIGINT)  AS max_doc
    FROM (SELECT source, CAST(count(*) AS BIGINT) AS n_raw FROM base
          GROUP BY source) b
    LEFT JOIN (SELECT source,
                      CAST(count(*) AS BIGINT)      AS n_kept,
                      CAST(sum(n_tokens) AS BIGINT) AS kept_tokens,
                      min(doc_id) AS min_doc, max(doc_id) AS max_doc
               FROM s5 GROUP BY source) a5 USING (source)
    """


@register(
    "curation_pipeline_end_to_end",
    oracle=_curation_oracle_sql(),
    priority=63,  # r6 continuation-4 addition: r7 first-in-line
    headline=True,
    doc="The full pretraining-curation pipeline a 100-TB run executes, "
    "as ONE query composing five already-anchored operators in their "
    "production order: exact dedup (first-occurrence per 120-bit "
    "normalized-content key) -> Bloom benchmark decontamination (drop "
    "eval-set overlap at ingest; filter inlined, zero joins) -> "
    "per-source quality-quantile filter (top 60%, preserves mix "
    "composition) -> temperature mix resampling (alpha=0.5) -> "
    "per-source token budget.  Every stage is deterministic "
    "hash/rank arithmetic, so the oracle replays the ENTIRE pipeline "
    "in SQL and the driver pins the final per-source survivor counts, "
    "token mass, and min/max surviving doc ids — WHICH documents make "
    "it through all five stages, not just how many.  Parameters sized "
    "so every stage genuinely binds at test scale (dedup drops "
    "synthetic dups, the filter drops the benchmark decile + FPs, "
    "quality drops 40%, the mix roughly halves, the budget trims the "
    "tail; this synthetic corpus happens to hold no exact normalized "
    "dups, so stage 1 passes through here — its binding is pinned by "
    "the dedup fixtures).  Output stats scan the chain once (per-stage accounting "
    "lives in the stages' own registered queries — recomputing "
    "progressively longer prefixes for six count columns is exactly "
    "the accidental-recompute shape the r6 plan sweep removed).",
)
def q_curation_pipeline_end_to_end(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql.window import Window

    from ..functions.hashing import md5_long_lo
    from ..operators.sampling import temperature_resample, token_budget_sample
    from ..operators.sketches import bloom_build, bloom_might_contain
    from ..operators.text_analysis import quality_column

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    # stage 1: exact dedup — lowest doc_id survives per content key
    norm = dd.normalized_text(F.col("text"))
    keyed = docs.withColumn("_h1", md5_long(norm)).withColumn(
        "_h2", md5_long_lo(norm)
    )
    w1 = Window.partitionBy("_h1", "_h2").orderBy("doc_id")
    s1 = (
        keyed.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "source", "text")
    )
    # stage 2: benchmark decontamination (drop flagged; nulls unflaggable)
    bench = (
        docs.filter((F.col("doc_id") % 10 == 7) & F.col("text").isNotNull())
        .select("text")
        .distinct()
    )
    filt = bloom_build(bench, "text", m_bits=_BLOOM_M, k=_BLOOM_K)
    s2 = (
        bloom_might_contain(
            filt, s1, "text", m_bits=_BLOOM_M, k=_BLOOM_K, inline=True
        )
        .filter(~(F.col("text").isNotNull() & F.col("might_contain")))
        .drop("might_contain")
    )
    # stage 3: per-source quality quantile — keep the cleanest 60%.
    # Inlined (quality_column + the same rounded percent_rank as
    # quality_quantile_filter) rather than semi-joining that operator's
    # output back: the join would recompute the s1->s2 subtree a second
    # time AND add a doc_id exchange — the accidental-recompute shape
    # the r6 plan sweep removed.  Cross-form parity is pinned by
    # tests (test_curation_pipeline_stage3_matches_operator).
    w3 = Window.partitionBy("source").orderBy(
        F.col("_q").desc(), F.col("doc_id").asc()
    )
    s3 = (
        s2.withColumn("_q", quality_column(F.col("text")))
        .withColumn("_pr", F.round(F.percent_rank().over(w3), 6))
        .filter(F.col("_pr") <= 0.6)
        .select("doc_id", "source", "text")
    )
    # stage 4: temperature mix (alpha=0.5, target 120 rows)
    s4 = temperature_resample(
        s3, group_col="source", id_col="doc_id", target_rows=120, alpha=0.5
    )
    # stage 5: per-source token budget
    s5 = token_budget_sample(
        s4, group_col="source", id_col="doc_id", budget_tokens=400
    )
    raw = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_raw"))
    final = s5.groupBy("source").agg(
        F.count(F.lit(1)).alias("_nk"),
        F.sum("n_tokens").cast("long").alias("_kt"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )
    return raw.join(final, "source", "left").select(
        "source",
        "n_raw",
        F.coalesce(F.col("_nk"), F.lit(0).cast("long")).alias("n_kept"),
        F.coalesce(F.col("_kt"), F.lit(0).cast("long")).alias("kept_tokens"),
        "min_doc",
        "max_doc",
    )


# ---------------------------------------------------------------------------
# Column profiling (exact census)
# ---------------------------------------------------------------------------

_PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]

_PROFILE_ORACLE = """
    WITH m AS (
      SELECT 'doc_id' AS col_name, CAST(doc_id AS VARCHAR) AS val
      FROM documents
      UNION ALL SELECT 'text', text FROM documents
      UNION ALL SELECT 'lang', lang FROM documents
      UNION ALL SELECT 'source', source FROM documents
      UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM documents
    )
    SELECT col_name,
           CAST(count(*) AS BIGINT)                       AS n_rows,
           CAST(count(*) FILTER (val IS NULL) AS BIGINT)  AS n_nulls,
           CAST(count(DISTINCT val) AS BIGINT)            AS n_distinct,
           min(val)                                       AS min_val,
           max(val)                                       AS max_val,
           CAST(COALESCE(sum(length(val)), 0) AS BIGINT)  AS total_len
    FROM m GROUP BY col_name ORDER BY col_name
"""


@register(
    "profile_documents",
    oracle=_PROFILE_ORACLE,
    headline=True,  # bench promotion (r6 verdict #6 / r7 additions)
    priority=63,  # r6 late addition: r7 first-in-line, never driver-checked
    doc="Exact per-column census of the documents table via the "
    "melt-then-double-aggregate profiler (operators/profiling.py): "
    "null counts, exact distinct cardinality, lexicographic min/max "
    "and total string length per column, in one scan.  The melted "
    "(col_name, val) frame pre-aggregates map-side, so the first "
    "exchange carries one row per DISTINCT (column, value) pair — "
    "bounded for the enum-ish columns, full-distinct for text (the "
    "price of EXACT; the sketch sibling approx_stats is the 100-TB "
    "monitor).  Only integer/string columns are registered: their "
    "string canonicalization is byte-identical across engines, so the "
    "oracle pins every cell exactly.",
)
def q_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profiling import profile_columns

    docs = load_table(spark, sf_dir, "documents")
    return profile_columns(docs, _PROFILE_COLS)


_HISTOGRAM_ORACLE = """
    WITH s AS (
      SELECT CAST(min(value) AS DOUBLE) AS lo, CAST(max(value) AS DOUBLE) AS hi
      FROM events
      WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
    ),
    b AS (
      SELECT CASE WHEN hi = lo THEN 0
             ELSE least(CAST(floor((CAST(value AS DOUBLE) - lo)
                              / ((hi - lo) / 20.0)) AS BIGINT), 19)
             END AS bucket, lo, hi
      FROM events, s
      WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
    )
    SELECT CAST(bucket AS BIGINT)                  AS bucket,
           round(min(lo) + CAST(bucket AS DOUBLE)
                 * ((min(hi) - min(lo)) / 20.0), 6) AS bucket_lo,
           CAST(count(*) AS BIGINT)                AS n
    FROM b GROUP BY bucket ORDER BY bucket
"""


@register(
    "histogram_event_values",
    oracle=_HISTOGRAM_ORACLE,
    priority=63,  # r6 late addition: r7 first-in-line, never driver-checked
    doc="Exact 20-bin equi-width histogram of events.value "
    "(operators/profiling.py:value_histogram) — the distribution-SHAPE "
    "monitor beside approx_stats' rank points and profile_documents' "
    "string census (which excludes doubles by design).  Two scans: a "
    "global min/max aggregate broadcast as one row onto the bucketing "
    "pass; the only data exchange is the final groupBy(bucket), "
    "bounded by bins rows per partition regardless of input size.  The "
    "bucket index is the same IEEE-double expression on both engines, "
    "so every count and 6dp bucket bound pins exactly.",
)
def q_histogram_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.profiling import value_histogram

    events = load_table(spark, sf_dir, "events")
    hist = value_histogram(events, "value", bins=20)
    return hist.select(
        "bucket", F.round("bucket_lo", 6).alias("bucket_lo"), "n"
    )


# ---------------------------------------------------------------------------
# Round-9 additions: lexical retrieval (BM25) and the leakage-safe split
# ---------------------------------------------------------------------------

#: Pinned BM25 corpus statistics (r9) — integer micro-nat idf per query
#: term + micro avgdl.  Retrieval models are ARTIFACTS (the
#: NB-weights/bigram-LM posture): trained once, shipped; pinning keeps
#: every logarithm out of both engines at query time.  Provenance:
#: operators.retrieval.train_bm25_stats(documents@sf0.001,
#: terms=["scan","vector","customer","quantum"]) — deterministic (exact
#: integer df counts, one math.log pass, 1e-6 quantization);
#: re-derivation pinned by tests (test_bm25_provenance).  "quantum" has
#: zero document frequency by construction — the idf floor edge.
_BM25_MODEL: dict = {
    "n_docs": 500,
    "avgdl_micro": 55878000,
    "idf_micro": {
        "scan": 211485,
        "vector": 262065,
        "customer": 233930,
        "quantum": 6909753,
    },
}
_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_oracle() -> str:
    """Replays BM25 scoring with the PINNED statistics: identical float
    literals, identical association order — no log on either engine."""
    avgdl = _BM25_MODEL["avgdl_micro"]
    parts = []
    for t, u in _BM25_MODEL["idf_micro"].items():
        tf = (
            f"CAST(len(list_filter(ws, w -> w = {_sq(t)})) AS DOUBLE)"
        )
        parts.append(
            f"(({u} / 1000000.0) * ({tf} * {_BM25_K1 + 1.0!r})"
            f" / ({tf} + norm))"
        )
    score = "\n               + ".join(parts)
    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         w -> w <> '') AS ws
      FROM documents),
    scored AS (
      SELECT doc_id, ws, len(ws) AS dl,
             {_BM25_K1!r} * ({1.0 - _BM25_B!r}
               + {_BM25_B!r} * CAST(len(ws) AS DOUBLE)
                 / ({avgdl} / 1000000.0)) AS norm
      FROM toks)
    SELECT doc_id,
           CASE WHEN ws IS NULL THEN 0 ELSE dl END AS n_tokens,
           CASE WHEN ws IS NULL OR dl = 0 THEN 0.0
                ELSE round({score}, 6) END AS bm25
    FROM scored
    """


@register(
    "bm25_scores",
    oracle=_bm25_oracle(),
    headline=True,  # promoted r10 (r9 verdict #6)
    priority=31,  # new in r9 — first driver row (registry rotation)
    doc="Okapi BM25 lexical retrieval scoring "
    "(operators.retrieval.bm25_scores, Robertson & Zaragoza 2009): the "
    "lexical complement to the embedding ANN tier — every document "
    "scored against a fixed query-term bag for corpus slicing / weak "
    "supervision / RAG dataset construction.  The corpus-dependent "
    "half (per-term idf, avgdl) is a PINNED integer micro-nat artifact "
    "(_BM25_MODEL, provenance-tested like the NB weights; includes a "
    "zero-df term for the idf-floor edge), so scoring is a fully lazy "
    "single-scan zero-shuffle projection of array-lambda term "
    "frequencies against literal statistics, and the oracle replays "
    "the identical float expression — no logarithm evaluated on "
    "either engine at query time.",
)
def q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    return bm25_scores(docs, _BM25_MODEL, k1=_BM25_K1, b=_BM25_B)


@register(
    "leakage_safe_split",
    oracle=_MINHASH_CTE.replace("WITH params", "WITH RECURSIVE params", 1)
    + """,
    banded AS (
      SELECT doc_id, h_idx // 4 AS band_id,
             string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY h_idx) AS band_sig
      FROM mh GROUP BY 1, 2),
    prs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a
      JOIN banded b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
                   AND a.doc_id < b.doc_id),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM prs
      UNION SELECT doc_b, doc_a FROM prs),
    reach(a, b) AS (
      SELECT a, a FROM edges
      UNION SELECT a, b FROM edges
      UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    comp AS (SELECT a AS doc_id, min(b) AS component_id FROM reach GROUP BY a),
    assigned AS (
      SELECT d.doc_id,
             COALESCE(c.component_id, d.doc_id) AS rep_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
    bk AS (
      SELECT doc_id, rep_id,
             CAST(('0x' || substr(md5('split:' || CAST(rep_id AS VARCHAR)),
                                  1, 15)) AS BIGINT) % 100 AS bucket
      FROM assigned)
    SELECT doc_id, rep_id,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM bk
    """,
    headline=True,  # promoted r10 (r9 verdict #6)
    priority=31,  # new in r9 — first driver row (registry rotation)
    doc="Leakage-safe train/val/test split (r9): hash_split assigns by "
    "the NEAR-DUP CLUSTER REPRESENTATIVE, not the document id — near "
    "duplicates (minhash-LSH candidate pairs, transitively closed via "
    "connected_components) inherit one split, so a test document's "
    "paraphrase can never sit in train (the contamination channel a "
    "per-doc hash split leaves open; Lee et al. 2022 measure the "
    "resulting eval inflation).  Composes the existing machinery: LSH "
    "banded pairs -> pointer-jumped closure -> representative = "
    "component min (coalesce to own id for singletons) -> the standard "
    "salted 80/10/10 hash split on the representative.  Stability "
    "bonus: adding a near-dup of an existing doc lands it in the "
    "existing doc's split.  Oracle = recursive-CTE closure + the same "
    "md5 bucket arithmetic.",
)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_candidate_pairs(dd.minhash_signatures(docs))
    comp = dd.connected_components(pairs)
    assigned = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .withColumn(
            "rep_id", F.coalesce(F.col("component_id"), F.col("doc_id"))
        )
        .select("doc_id", "rep_id")
    )
    return hash_split(assigned, "rep_id").select("doc_id", "rep_id", "split")


_KMEANS_K = 4
_KMEANS_ITERS = 2


def _kmeans_oracle(k: int, iters: int) -> str:
    """Unrolled-CTE replay of integer-exact Lloyd's: one
    (distances -> argmin -> floored-mean -> coalesce) block per
    iteration, then the final assignment.  Every intermediate is
    integer (or one exact floored IEEE division), so the replay is
    bit-identical — the recursive-CTE closure posture extended to a
    fixed-iteration numeric algorithm."""
    head = f"""
    WITH qv AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
      FROM embeddings),
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, q
      FROM (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT {k}))"""
    parts = [head]
    prev = "c0"
    for t in range(1, iters + 1):
        parts.append(f""",
    d{t} AS (
      SELECT v.vec_id, v.q, c.c,
             list_sum(list_transform(range(1, 65),
               i -> (v.q[i]-c.q[i])*(v.q[i]-c.q[i]))) AS d
      FROM qv v CROSS JOIN {prev} c),
    a{t} AS (
      SELECT vec_id, q, c, d,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
      FROM d{t}),
    m{t} AS (
      SELECT c, generate_subscripts(q, 1) AS pos, unnest(q) AS x
      FROM a{t} WHERE rn = 1),
    s{t} AS (
      SELECT c, pos,
             CAST(floor(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT) AS v
      FROM m{t} GROUP BY c, pos),
    n{t} AS (SELECT c, list(v ORDER BY pos) AS q FROM s{t} GROUP BY c),
    c{t} AS (
      SELECT p.c, COALESCE(n.q, p.q) AS q
      FROM {prev} p LEFT JOIN n{t} n USING (c))""")
        prev = f"c{t}"
    parts.append(f""",
    df AS (
      SELECT v.vec_id, c.c,
             CAST(list_sum(list_transform(range(1, 65),
               i -> (v.q[i]-c.q[i])*(v.q[i]-c.q[i]))) AS BIGINT) AS d
      FROM qv v CROSS JOIN {prev} c),
    af AS (
      SELECT vec_id, c, d,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, c) AS rn
      FROM df)
    SELECT vec_id, CAST(c AS INTEGER) AS cluster, d AS sqdist
    FROM af WHERE rn = 1""")
    return "".join(parts)


@register(
    "kmeans_clusters",
    oracle=_kmeans_oracle(_KMEANS_K, _KMEANS_ITERS),
    # registered after the r9 window froze at 50 — enters the r10
    # driver window first per the new-registration rule (see the r10
    # rotation note in plans/registry.py); r9 coverage = the committed
    # full sweep + pytest.
    headline=True,  # promoted r10 (r9 verdict #6)
    priority=80,
    doc="Integer-exact Lloyd's k-means over quantized embeddings "
    "(operators.similarity.kmeans_exact, r9): ivf_index is the "
    "production float coarse quantizer (recall-gated — float means "
    "are accumulation-order dependent), but exact cross-engine "
    "ITERATIVE parity was only held by connected_components; this "
    "extends it to a fixed-iteration numeric algorithm.  Common-grid "
    "quantization round(x*1000), k-lowest-id init, integer squared-L2 "
    "argmin with ties to the lowest cluster, floor(sum/count) "
    "centroid updates (order-free integer sums; the one division is "
    "exact IEEE), emptied clusters keep their centroid.  Per "
    "iteration: a zero-shuffle assignment pass + a (k x dim)-bounded "
    "posexplode aggregate; only the k x dim integer centroid matrix "
    "reaches the driver (loud cap).  The oracle unrolls every "
    "iteration as CTE blocks and pins assignments, centroids and "
    "distances bit-for-bit.",
)
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import kmeans_exact

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_exact(emb, k=_KMEANS_K, iters=_KMEANS_ITERS)


#: Pinned DSIR artifacts (r10) — per-bucket importance log-ratios in
#: integer micro-nats over md5-hashed unigram+bigram features, plus the
#: stratified-Gumbel quantile table for the top-k resample.  Provenance:
#: operators.selection.train_dsir_model(documents@sf0.001,
#: target = lang == 'en', n_buckets=512, alpha=0.5) and
#: operators.selection.gumbel_micro_table(1024) — deterministic (exact
#: integer counts, one math.log pass, 1e-6 quantization); re-derivation
#: is pinned by tests (test_dsir_model_provenance).
_DSIR_BUCKETS = 512
_DSIR_STRATA = 1024
_DSIR_BUDGET = 150
_DSIR_MODEL: list[tuple[int, int]] = [
    (0, 186177), (1, 986296), (2, -112316), (3, 6706), (4, -1090), (5,
    986296), (6, -112316), (7, 165316), (8, 170810), (9, 23067), (10,
    -17329), (11, 40153), (12, -370497), (13, 62038), (14, 93946), (15,
    -27158), (16, -21344), (17, -13824), (18, 89135), (19, -30638), (20,
    -66853), (21, 986296), (22, 145096), (23, -48802), (24, -59672),
    (25, -350071), (26, 248698), (27, -407545), (28, 120130), (29,
    -28055), (30, 986296), (31, 66503), (32, 215591), (33, -231099),
    (34, 986296), (35, -389948), (36, 40249), (37, -231099), (38,
    -354877), (39, -248117), (40, 142716), (41, 188637), (42, 986296),
    (43, -145932), (44, 43035), (45, -61672), (46, 274800), (47, 87441),
    (48, -122520), (49, 23486), (50, -8326), (51, 205551), (52, -40162),
    (53, 371930), (54, 56400), (55, 20109), (56, 986296), (57, 986296),
    (58, 986296), (59, 986296), (60, 10917), (61, -80055), (62, 986296),
    (63, 124073), (64, 75526), (65, 74668), (66, 986296), (67, 278111),
    (68, -191008), (69, 13835), (70, -323625), (71, 154150), (72,
    42925), (73, 986296), (74, 65571), (75, 197839), (76, 54738), (77,
    -172484), (78, 12568), (79, 10917), (80, 986296), (81, -12232), (82,
    -50758), (83, 192345), (84, -259641), (85, 3756), (86, -95074), (87,
    -31870), (88, 986296), (89, 138999), (90, 57321), (91, 81391), (92,
    986296), (93, -33561), (94, -52597), (95, -653447), (96, -39556),
    (97, -30638), (98, 986296), (99, -391340), (100, 986296), (101,
    986296), (102, 58310), (103, 229970), (104, -27158), (105, 277149),
    (106, -174836), (107, -255417), (108, 986296), (109, -64075), (110,
    95573), (111, 142214), (112, -112316), (113, 277483), (114,
    -112316), (115, -209166), (116, 35681), (117, 15766), (118, 986296),
    (119, 62038), (120, 98993), (121, -30638), (122, 115943), (123,
    -112316), (124, -112316), (125, -147718), (126, 242718), (127,
    -237479), (128, 986296), (129, 986296), (130, -180138), (131,
    -171156), (132, -237479), (133, -195697), (134, 23486), (135,
    -21344), (136, 58310), (137, 44253), (138, -19225), (139, 986296),
    (140, 986296), (141, 213952), (142, 8521), (143, 986296), (144,
    986296), (145, 986296), (146, 60527), (147, 986296), (148, 986296),
    (149, 266242), (150, 986296), (151, 30404), (152, -104963), (153,
    197839), (154, 12068), (155, 986296), (156, -35355), (157, 224156),
    (158, 13835), (159, 201034), (160, 986296), (161, 24127), (162,
    -20093), (163, 986296), (164, 986296), (165, 76478), (166, 107746),
    (167, -795611), (168, 986296), (169, -28055), (170, -959614), (171,
    -155333), (172, 273347), (173, 986296), (174, -44493), (175,
    -66853), (176, -237479), (177, 102409), (178, -71326), (179, 19453),
    (180, 45476), (181, 10917), (182, 986296), (183, -37515), (184,
    106920), (185, 43337), (186, 43443), (187, -31627), (188, 986296),
    (189, -85287), (190, 475471), (191, -234605), (192, 30785), (193,
    105938), (194, -187823), (195, -112316), (196, 986296), (197,
    986296), (198, -12232), (199, -57955), (200, 986296), (201,
    -237479), (202, -12232), (203, 101611), (204, -35355), (205,
    -54160), (206, 986296), (207, 274800), (208, 189514), (209, 112401),
    (210, 248698), (211, 3603), (212, 98993), (213, -1090), (214,
    986296), (215, -130173), (216, 310541), (217, 31343), (218,
    -190481), (219, 229201), (220, -61672), (221, 96776), (222, 10538),
    (223, -155801), (224, 98993), (225, -185075), (226, 986296), (227,
    986296), (228, 186177), (229, 268857), (230, 986296), (231, -66853),
    (232, 103281), (233, -31627), (234, -57630), (235, -530051), (236,
    -443170), (237, 986296), (238, 90912), (239, 61090), (240, 62038),
    (241, -64230), (242, 986296), (243, -105122), (244, 986296), (245,
    986296), (246, 62038), (247, 62038), (248, 986296), (249, -198576),
    (250, 78739), (251, 15766), (252, 986296), (253, -258028), (254,
    24260), (255, -189277), (256, -130173), (257, 488458), (258,
    226210), (259, -350942), (260, -37715), (261, 138999), (262,
    986296), (263, 42945), (264, 81391), (265, -281137), (266, -171156),
    (267, 986296), (268, 171259), (269, -289247), (270, 986296), (271,
    315128), (272, 253409), (273, 234880), (274, -155801), (275,
    -22368), (276, -152094), (277, 986296), (278, 114458), (279,
    182249), (280, -80055), (281, 37697), (282, -128445), (283,
    -147718), (284, 310541), (285, -298033), (286, -180138), (287,
    46898), (288, -133938), (289, 1443), (290, -17879), (291, -138633),
    (292, 986296), (293, -112316), (294, 90912), (295, 986296), (296,
    367257), (297, -112316), (298, -94133), (299, 138999), (300,
    -380580), (301, -206503), (302, -10518), (303, -149703), (304,
    986296), (305, 7229), (306, -112316), (307, -94133), (308, -180138),
    (309, 986296), (310, 239082), (311, 986296), (312, 177838), (313,
    986296), (314, -92215), (315, 348499), (316, 14066), (317, 986296),
    (318, -363630), (319, 986296), (320, -13714), (321, 986296), (322,
    -45064), (323, 2919), (324, 10917), (325, 302628), (326, -270540),
    (327, 96776), (328, 986296), (329, -31627), (330, -34795), (331,
    124073), (332, 986296), (333, 10917), (334, -123552), (335, 80588),
    (336, 84280), (337, -28523), (338, 57408), (339, -164960), (340,
    197839), (341, -223541), (342, 986296), (343, -339089), (344,
    221324), (345, 127635), (346, 190734), (347, -15354), (348, 986296),
    (349, 145992), (350, -35355), (351, 76478), (352, -214970), (353,
    177838), (354, 360591), (355, 986296), (356, 986296), (357, 377232),
    (358, 167269), (359, 24118), (360, 278965), (361, 1893), (362,
    -34549), (363, 89808), (364, -286669), (365, 85044), (366, 405267),
    (367, -150782), (368, 35108), (369, -104797), (370, 986296), (371,
    -25182), (372, -470065), (373, 36104), (374, -21344), (375, 383300),
    (376, -22601), (377, -48802), (378, 986296), (379, 152864), (380,
    -307104), (381, 78739), (382, -149357), (383, -76598), (384,
    986296), (385, -26426), (386, 13835), (387, 986296), (388, 151102),
    (389, 9974), (390, 986296), (391, 986296), (392, -255417), (393,
    -80055), (394, -112316), (395, 141831), (396, 10917), (397, -76598),
    (398, 151102), (399, -160518), (400, -102316), (401, -223541), (402,
    -181909), (403, -95366), (404, -214445), (405, 126914), (406,
    -33844), (407, 986296), (408, -57817), (409, 80588), (410, 256206),
    (411, 44253), (412, 158230), (413, -212903), (414, -139436), (415,
    986296), (416, -198576), (417, 217163), (418, -26549), (419,
    190734), (420, -95922), (421, 48027), (422, -86673), (423, 131306),
    (424, -666627), (425, -82010), (426, -286669), (427, -45064), (428,
    -140889), (429, 89135), (430, -63010), (431, 27040), (432, 97239),
    (433, -136269), (434, 986296), (435, 986296), (436, -187823), (437,
    558852), (438, 321859), (439, -121931), (440, -167886), (441,
    241128), (442, 77441), (443, 986296), (444, 66503), (445, 22720),
    (446, 96619), (447, 677), (448, 257217), (449, -75275), (450,
    -18129), (451, 252694), (452, 986296), (453, 11554), (454, 986296),
    (455, 73935), (456, -159662), (457, 108578), (458, 83429), (459,
    194838), (460, -155801), (461, 986296), (462, -187823), (463,
    38915), (464, -39556), (465, 77441), (466, 311841), (467, 119078),
    (468, -180138), (469, 986296), (470, -259641), (471, -414597), (472,
    403691), (473, -146802), (474, -14894), (475, -159494), (476,
    -13714), (477, -77530), (478, -173874), (479, -243652), (480,
    234880), (481, 212108), (482, -12232), (483, -56357), (484,
    -173874), (485, -70293), (486, -12232), (487, -112316), (488,
    -354877), (489, -52507), (490, -203288), (491, 191896), (492,
    11189), (493, -146802), (494, 188438), (495, 121831), (496, 204022),
    (497, -56357), (498, 180671), (499, 107746), (500, -194329), (501,
    480), (502, 19453), (503, 52831), (504, 197839), (505, 986296),
    (506, 201715), (507, 986296), (508, -79255), (509, 150729), (510,
    -32728), (511, -77530),
]

_DSIR_GUMBEL: list[int] = [
    -2031382, -1875795, -1794286, -1736724, -1691459, -1653785,
    -1621301, -1592611, -1566824, -1543337, -1521720, -1501658,
    -1482909, -1465286, -1448641, -1432852, -1417820, -1403464,
    -1389714, -1376511, -1363805, -1351553, -1339715, -1328260,
    -1317158, -1306383, -1295912, -1285724, -1275801, -1266125,
    -1256682, -1247459, -1238441, -1229619, -1220981, -1212518,
    -1204221, -1196081, -1188091, -1180245, -1172535, -1164955,
    -1157500, -1150164, -1142943, -1135831, -1128824, -1121919,
    -1115111, -1108397, -1101773, -1095237, -1088784, -1082412,
    -1076118, -1069900, -1063756, -1057682, -1051676, -1045737,
    -1039863, -1034051, -1028299, -1022606, -1016971, -1011391,
    -1005864, -1000391, -994968, -989595, -984270, -978993, -973761,
    -968574, -963431, -958330, -953271, -948252, -943273, -938332,
    -933429, -928563, -923732, -918937, -914177, -909450, -904755,
    -900093, -895463, -890863, -886294, -881754, -877243, -872761,
    -868306, -863879, -859479, -855104, -850756, -846432, -842133,
    -837859, -833608, -829381, -825177, -820995, -816836, -812698,
    -808582, -804486, -800411, -796357, -792322, -788307, -784311,
    -780334, -776376, -772436, -768514, -764610, -760723, -756853,
    -753000, -749164, -745344, -741540, -737752, -733980, -730223,
    -726481, -722754, -719041, -715344, -711660, -707990, -704334,
    -700692, -697063, -693448, -689845, -686256, -682679, -679114,
    -675562, -672022, -668494, -664977, -661473, -657979, -654498,
    -651027, -647567, -644118, -640680, -637253, -633836, -630429,
    -627032, -623646, -620269, -616902, -613545, -610197, -606859,
    -603529, -600210, -596899, -593597, -590304, -587019, -583743,
    -580476, -577217, -573966, -570724, -567489, -564263, -561044,
    -557833, -554630, -551434, -548246, -545066, -541892, -538726,
    -535567, -532415, -529270, -526132, -523001, -519876, -516758,
    -513647, -510542, -507444, -504352, -501266, -498186, -495112,
    -492045, -488983, -485928, -482878, -479834, -476795, -473763,
    -470735, -467714, -464698, -461687, -458681, -455681, -452686,
    -449696, -446711, -443731, -440756, -437786, -434821, -431860,
    -428904, -425953, -423007, -420065, -417128, -414195, -411266,
    -408342, -405422, -402507, -399595, -396688, -393785, -390886,
    -387991, -385100, -382213, -379329, -376450, -373574, -370702,
    -367834, -364970, -362109, -359251, -356397, -353547, -350700,
    -347856, -345016, -342179, -339346, -336515, -333688, -330864,
    -328044, -325226, -322411, -319599, -316791, -313985, -311182,
    -308382, -305585, -302790, -299999, -297210, -294423, -291640,
    -288859, -286081, -283305, -280531, -277761, -274992, -272226,
    -269463, -266702, -263943, -261186, -258432, -255680, -252930,
    -250182, -247437, -244693, -241952, -239213, -236476, -233740,
    -231007, -228276, -225546, -222819, -220093, -217369, -214647,
    -211927, -209208, -206492, -203776, -201063, -198351, -195641,
    -192932, -190225, -187520, -184816, -182113, -179412, -176712,
    -174014, -171317, -168622, -165928, -163235, -160543, -157853,
    -155164, -152476, -149789, -147104, -144419, -141736, -139054,
    -136373, -133693, -131014, -128336, -125659, -122983, -120308,
    -117634, -114960, -112288, -109616, -106946, -104276, -101606,
    -98938, -96270, -93603, -90937, -88272, -85607, -82942, -80279,
    -77616, -74953, -72291, -69630, -66969, -64308, -61648, -58989,
    -56330, -53671, -51013, -48355, -45697, -43040, -40383, -37727,
    -35070, -32414, -29758, -27103, -24447, -21792, -19137, -16482,
    -13827, -11172, -8517, -5863, -3208, -554, 2101, 4756, 7410, 10065,
    12720, 15374, 18029, 20684, 23340, 25995, 28651, 31306, 33962,
    36619, 39275, 41932, 44589, 47246, 49904, 52562, 55220, 57879,
    60538, 63198, 65858, 68518, 71179, 73840, 76502, 79165, 81828,
    84491, 87155, 89820, 92485, 95151, 97818, 100485, 103153, 105821,
    108491, 111161, 113832, 116503, 119175, 121849, 124523, 127197,
    129873, 132550, 135227, 137905, 140585, 143265, 145946, 148628,
    151311, 153996, 156681, 159367, 162054, 164743, 167432, 170123,
    172814, 175507, 178201, 180896, 183593, 186291, 188989, 191690,
    194391, 197094, 199798, 202503, 205210, 207918, 210627, 213338,
    216050, 218764, 221479, 224195, 226913, 229633, 232354, 235077,
    237801, 240527, 243254, 245983, 248713, 251445, 254179, 256915,
    259652, 262391, 265132, 267874, 270618, 273364, 276112, 278862,
    281613, 284366, 287122, 289879, 292638, 295399, 298161, 300926,
    303693, 306462, 309233, 312006, 314781, 317558, 320337, 323118,
    325902, 328687, 331475, 334265, 337057, 339851, 342648, 345447,
    348248, 351052, 353857, 356666, 359476, 362289, 365104, 367922,
    370742, 373565, 376390, 379218, 382048, 384881, 387716, 390554,
    393394, 396238, 399083, 401932, 404783, 407637, 410493, 413353,
    416215, 419080, 421947, 424818, 427691, 430567, 433447, 436329,
    439214, 442102, 444993, 447887, 450784, 453684, 456587, 459493,
    462402, 465315, 468230, 471149, 474071, 476996, 479925, 482856,
    485792, 488730, 491672, 494617, 497565, 500517, 503472, 506431,
    509393, 512359, 515328, 518301, 521278, 524258, 527241, 530228,
    533219, 536214, 539213, 542215, 545221, 548230, 551244, 554261,
    557283, 560308, 563337, 566370, 569407, 572448, 575493, 578542,
    581596, 584653, 587715, 590780, 593850, 596924, 600003, 603085,
    606172, 609264, 612359, 615459, 618564, 621673, 624786, 627904,
    631027, 634154, 637285, 640422, 643563, 646708, 649859, 653014,
    656173, 659338, 662508, 665682, 668861, 672046, 675235, 678429,
    681628, 684833, 688042, 691257, 694476, 697701, 700931, 704167,
    707407, 710653, 713905, 717162, 720424, 723692, 726965, 730244,
    733528, 736818, 740114, 743415, 746722, 750035, 753353, 756678,
    760008, 763344, 766687, 770035, 773389, 776749, 780116, 783488,
    786867, 790252, 793643, 797041, 800445, 803855, 807272, 810695,
    814124, 817561, 821004, 824453, 827909, 831372, 834842, 838319,
    841802, 845293, 848790, 852294, 855806, 859324, 862850, 866383,
    869923, 873470, 877025, 880587, 884157, 887734, 891319, 894911,
    898511, 902118, 905734, 909357, 912988, 916627, 920274, 923929,
    927592, 931263, 934942, 938629, 942325, 946029, 949742, 953463,
    957193, 960931, 964678, 968433, 972198, 975971, 979753, 983544,
    987344, 991153, 994971, 998798, 1002635, 1006481, 1010337, 1014202,
    1018076, 1021960, 1025854, 1029757, 1033671, 1037594, 1041527,
    1045470, 1049424, 1053387, 1057361, 1061345, 1065340, 1069345,
    1073360, 1077387, 1081424, 1085471, 1089530, 1093599, 1097680,
    1101772, 1105875, 1109989, 1114115, 1118252, 1122400, 1126561,
    1130733, 1134917, 1139112, 1143320, 1147540, 1151772, 1156016,
    1160273, 1164542, 1168824, 1173118, 1177426, 1181746, 1186079,
    1190425, 1194784, 1199157, 1203543, 1207942, 1212356, 1216782,
    1221223, 1225678, 1230146, 1234629, 1239126, 1243638, 1248164,
    1252705, 1257261, 1261831, 1266416, 1271017, 1275633, 1280264,
    1284911, 1289574, 1294252, 1298946, 1303657, 1308383, 1313126,
    1317886, 1322662, 1327454, 1332264, 1337091, 1341935, 1346797,
    1351676, 1356573, 1361487, 1366420, 1371371, 1376340, 1381328,
    1386334, 1391360, 1396404, 1401468, 1406551, 1411653, 1416776,
    1421918, 1427081, 1432263, 1437467, 1442691, 1447936, 1453202,
    1458489, 1463798, 1469129, 1474482, 1479856, 1485254, 1490674,
    1496116, 1501582, 1507071, 1512584, 1518121, 1523681, 1529266,
    1534875, 1540510, 1546169, 1551853, 1557563, 1563299, 1569062,
    1574850, 1580665, 1586508, 1592377, 1598274, 1604199, 1610152,
    1616134, 1622144, 1628184, 1634253, 1640351, 1646480, 1652640,
    1658830, 1665051, 1671304, 1677589, 1683906, 1690256, 1696639,
    1703055, 1709505, 1715990, 1722509, 1729063, 1735653, 1742278,
    1748940, 1755639, 1762375, 1769150, 1775962, 1782813, 1789703,
    1796634, 1803604, 1810615, 1817668, 1824762, 1831899, 1839080,
    1846303, 1853571, 1860884, 1868242, 1875646, 1883097, 1890595,
    1898142, 1905737, 1913381, 1921076, 1928822, 1936619, 1944468,
    1952371, 1960327, 1968339, 1976406, 1984529, 1992710, 2000949,
    2009247, 2017605, 2026024, 2034506, 2043050, 2051658, 2060331,
    2069071, 2077877, 2086752, 2095697, 2104712, 2113799, 2122960,
    2132194, 2141505, 2150893, 2160359, 2169905, 2179533, 2189244,
    2199039, 2208920, 2218888, 2228947, 2239096, 2249338, 2259675,
    2270108, 2280640, 2291273, 2302008, 2312847, 2323794, 2334850,
    2346017, 2357299, 2368697, 2380213, 2391852, 2403614, 2415504,
    2427524, 2439678, 2451967, 2464397, 2476969, 2489687, 2502556,
    2515579, 2528759, 2542102, 2555610, 2569289, 2583142, 2597176,
    2611394, 2625802, 2640405, 2655209, 2670219, 2685442, 2700885,
    2716553, 2732453, 2748594, 2764982, 2781626, 2798533, 2815714,
    2833176, 2850931, 2868987, 2887356, 2906050, 2925080, 2944459,
    2964200, 2984318, 3004828, 3025745, 3047088, 3068873, 3091120,
    3113850, 3137085, 3160848, 3185164, 3210061, 3235567, 3261713,
    3288535, 3316067, 3344349, 3373425, 3403341, 3434149, 3465903,
    3498664, 3532501, 3567488, 3603705, 3641246, 3680211, 3720715,
    3762886, 3806868, 3852828, 3900953, 3951459, 4004599, 4060665,
    4120000, 4183015, 4250201, 4322154, 4399608, 4483483, 4574948,
    4675523, 4787241, 4912895, 5056487, 5224032, 5425193, 5676997,
    6013959, 6525274, 7624375,
]


def _dsir_oracle() -> str:
    from ..operators.selection import dsir_oracle_weight_sql, feature_sql

    w = dsir_oracle_weight_sql(_DSIR_MODEL, _DSIR_BUCKETS)
    glst = "[" + ", ".join(str(v) for v in _DSIR_GUMBEL) + "]"
    stratum = (
        "CAST(('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), "
        f"1, 15)) AS BIGINT) % {_DSIR_STRATA}"
    )
    return f"""
    WITH s AS (
      SELECT doc_id,
             CAST(len({feature_sql('text')}) AS INT) AS n_feats,
             {w} AS w_micro
      FROM documents WHERE text IS NOT NULL),
    k AS (
      SELECT doc_id, n_feats, w_micro,
             w_micro + ({glst})[{stratum} + 1] AS key_micro
      FROM s),
    r AS (
      SELECT doc_id, n_feats,
             round(CAST(w_micro AS DOUBLE) / 1000000.0, 6) AS logw,
             CAST(key_micro AS BIGINT) AS key_micro,
             CAST(row_number() OVER (ORDER BY key_micro DESC, doc_id ASC)
                  AS BIGINT) AS sel_rank
      FROM k)
    SELECT doc_id, n_feats, logw, key_micro, sel_rank
    FROM r WHERE sel_rank <= {_DSIR_BUDGET}
    """


@register(
    "dsir_selection",
    oracle=_dsir_oracle(),
    # new r10 registration — enters the r10 driver window first (see
    # the rotation note in plans/registry.py; it displaces the
    # nb_classifier_scores fill, its hashed-scoring sibling).
    priority=80,
    doc="DSIR importance resampling (operators/selection.py, r10; Xie "
    "et al., NeurIPS 2023): the generative data-selection tier next "
    "to the discriminative NB gate — hashed unigram+bigram models of "
    "the TARGET distribution (pinned provenance: lang='en' @ sf0.001) "
    "vs the RAW corpus, per-document log importance ratio as an "
    "order-free integer micro-nat sum under the pinned dense "
    "lambda-table literal, then a WITHOUT-replacement weighted sample "
    "of a fixed budget via Gumbel-top-k — noise from a pinned "
    "1024-stratum Gumbel quantile table indexed by md5(doc_id), so "
    "both engines replay the sample bit-for-bit with zero runtime "
    "libm/randomness.  Scoring is a zero-shuffle scan-fused "
    "projection; the budget cut is the exact banded global rank "
    "(constant group, per-task rows ~n/64) — no driver-side top-k, "
    "no partition-less window, so the selection survives a "
    "billion-row budget.",
)
def q_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.selection import dsir_select

    return dsir_select(
        load_table(spark, sf_dir, "documents"),
        _DSIR_MODEL,
        budget=_DSIR_BUDGET,
        n_buckets=_DSIR_BUCKETS,
        gumbel=_DSIR_GUMBEL,
    )


#: Pinned PQ codebooks (r10) — 8 subspaces x 16 codes x 8 dims of
#: integer-exact Lloyd centroids on the common round(x*1000) grid.
#: Provenance: operators.similarity.pq_train(embeddings@sf0.001, m=8,
#: k_sub=16, iters=2, scale=1000) — deterministic (lowest-id init,
#: integer argmin ties-to-lowest-code, floor(sum/count) updates);
#: re-derivation pinned by tests (test_pq_codebooks_provenance).
_PQ_M = 8
_PQ_KSUB = 16
_PQ_SHORTLIST = 50
_PQ_CODEBOOKS: list[list[list[int]]] = [
    [[-92, -47, -58, 9, 22, -131, -93, 41], [-1, 113, -19, -19, -63, -79,
     -37, -38], [35, -19, 144, 76, -121, -31, -51, -60], [64, 128, -16, -46,
     77, -163, 19, -300], [54, 4, 105, -30, 100, -19, -79, 67], [-69, 93,
     53, 71, 46, 134, -19, -150], [84, -41, -1, -107, -72, -197, 191, -61],
     [106, 88, 37, 151, 36, -98, 46, -121], [27, -107, -47, 110, 121, -10,
     -24, -87], [15, -112, -84, 83, -134, -31, 15, -65], [-222, 70, -132,
     -67, -39, 48, 56, 54], [-154, 116, 159, -23, -3, -111, -76, 31], [-20,
     -90, 76, -138, 24, 32, 60, 3], [86, 62, -105, 7, 28, 49, 85, 71],
     [-123, 1, 31, -83, -18, 157, 200, -196], [-16, -64, -12, 34, -75, 138,
     -48, 96]],
    [[62, -82, -105, -25, 126, 41, -51, 11], [-21, -43, -32, -121, -56,
     -169, 82, 1], [-295, -52, -28, 76, 69, -23, 39, -23], [-2, -58, -126,
     18, -121, 3, -1, -130], [-18, -27, 142, -45, -164, -24, 60, 31], [-106,
     -58, -135, -68, -38, 40, 27, 64], [0, 203, -73, -28, 6, 73, 21, 13],
     [34, -89, 34, 66, 99, 17, 174, 5], [125, 169, -59, 131, -7, -61, -65,
     149], [-46, -16, 85, 21, 22, -135, -67, -114], [-277, 63, 68, -29, -48,
     4, -79, 46], [63, 49, 31, 33, -98, 67, -69, -77], [-73, -1, 113, -38,
     136, 85, -7, -31], [33, 18, 68, 23, 102, 23, -103, 110], [137, -122,
     -41, -95, -61, 69, 24, 58], [160, 11, -275, -13, 116, -79, -156,
     -174]],
    [[64, 18, 35, 63, 30, -155, 116, 2], [-40, -67, -98, -78, -50, 17, 38,
     -213], [-40, 132, -99, -40, -50, -78, 46, 99], [-42, 63, 85, -85, -5,
     -104, -138, -48], [-96, -168, -82, -39, -191, -69, 43, 46], [-87, 46,
     136, -43, -37, 43, 76, 91], [13, 34, -37, -85, 122, 74, 50, -28], [137,
     -40, -11, -132, -73, -34, -8, 2], [31, 46, -8, 73, -174, 28, -11,
     -132], [113, -65, 63, -45, 24, 189, -32, 3], [75, 4, -138, 220, -31,
     -6, 33, 46], [123, -134, 28, 4, 86, -8, -63, 135], [7, -50, -17, 99,
     61, -79, -68, -149], [-35, -60, 26, 150, -26, 94, 138, -37], [-195,
     110, -16, -34, 180, -46, -21, -6], [-95, 49, -42, 70, 18, 65, -105,
     40]],
    [[62, 117, -26, -103, -12, 144, -228, 13], [6, -10, -135, -79, 60, -22,
     -88, -20], [63, 80, -27, 48, 61, 1, 66, 188], [-59, -92, -18, -128, 94,
     65, 86, 73], [10, -88, 96, 4, 70, -97, 15, -67], [-101, 115, 54, -84,
     -39, -75, -12, -137], [32, -11, 113, -55, -40, 84, -22, 180], [-36, 55,
     66, 75, -18, 62, 105, 36], [-95, 161, -64, -26, 48, -47, -94, 78], [22,
     99, 12, -164, -214, -110, 88, -25], [83, 46, -104, 162, -9, -56, -47,
     -64], [-27, -5, 18, -49, -44, 176, -11, -182], [252, 16, 193, -36, -70,
     -107, -265, -71], [-85, -55, 145, 69, 3, 148, -161, 44], [-65, -53,
     -54, 54, -116, 13, -15, 45], [154, -137, -64, -26, -72, -84, -5, -13]],
    [[-7, -64, -2, 83, 35, -111, -4, 149], [-13, 98, 90, -182, 12, -94, -19,
     -104], [-40, -65, -83, 79, 47, 76, 103, -106], [-75, -66, -3, -139, 15,
     -35, 55, 129], [-92, 50, -29, 49, -98, 47, -141, 63], [-50, -87, 127,
     -148, 124, 91, 55, 18], [166, -29, -1, -29, -8, 21, -121, -38], [-55,
     -57, -77, -79, 26, 131, -83, -63], [-35, 136, -152, -11, 144, 109, 51,
     -8], [-13, -5, 229, 33, 126, -61, 68, 35], [46, 130, -23, -72, -16,
     108, 24, 88], [-58, 32, 150, -34, -126, 45, 85, -23], [30, -28, -68,
     82, -77, 33, 85, 75], [89, 31, -142, -50, -155, -82, 41, -64], [1, 55,
     35, 82, 13, -130, -55, -47], [20, -114, -37, 162, 111, -27, -53, -40]],
    [[125, -122, 97, -90, -7, -64, 68, -3], [41, -120, 57, -125, -152, -9,
     -2, 116], [156, 72, -38, -36, 82, 22, -77, 68], [-85, -167, 67, -77,
     -15, 4, 56, -33], [58, -52, 131, 70, -48, 117, -104, -57], [188, -77,
     40, 204, -24, -82, 73, 25], [-32, 26, -13, 54, 139, 97, 65, -61],
     [-168, 119, 98, -92, -10, 139, 10, 63], [-45, 168, -28, 3, -68, -74,
     91, 61], [-96, -87, -73, 53, -52, 69, -69, -60], [-59, -4, 60, 78, 78,
     -128, -89, 69], [1, -149, -75, 71, 71, -95, 70, 99], [-48, -24, -57,
     -133, -3, -154, -8, 44], [34, -4, -100, 15, -134, 33, 86, -69], [6, 46,
     -37, 17, -137, -54, -238, 28], [10, 156, 84, -26, 10, -63, -26, -136]],
    [[-37, 43, -50, 196, -30, -58, 90, 64], [-2, 85, 21, 6, -18, 222, -91,
     -138], [-116, -87, 80, -7, 30, 40, -101, 58], [-121, 79, 111, 4, -12,
     -93, 74, 51], [-138, 55, -160, -104, 90, 166, -15, 3], [2, -184, 49,
     59, -95, 15, 61, -85], [74, -90, -90, 83, 148, -83, 17, -59], [19, -24,
     -174, -28, -90, 65, 53, 17], [72, 47, -56, -138, 65, -27, -114, 13],
     [-27, 128, 16, 57, -26, -25, -73, 131], [41, -64, 58, 0, 59, 81, 44,
     140], [-65, -29, -27, -67, 98, 6, 169, -39], [-52, 14, 22, -24, 36,
     -13, -38, -129], [-113, -63, 183, -15, -70, 132, 168, 75], [189, 1, 30,
     37, -13, -29, 32, -18], [25, 52, 24, -21, -185, -6, -36, -102]],
    [[-8, 32, -11, 171, -43, -2, -186, 100], [20, -96, 7, -10, -58, 14, 44,
     -82], [63, 138, -89, 0, -3, -81, 64, -26], [-28, -107, -70, 65, 21,
     -129, 41, 60], [94, -82, -86, 60, 28, 135, -113, -44], [39, 66, 156, 4,
     -70, 25, -29, 103], [125, -34, 156, -124, -41, -20, 124, -39], [100,
     -209, -45, -120, -51, -16, 51, 28], [-9, 12, 96, 199, 21, 12, 87, -31],
     [-188, 24, 108, -70, -18, -81, 13, -62], [54, 2, 28, -115, 44, -80,
     -190, 148], [-13, 86, -41, -20, -3, 64, 15, -188], [-26, -8, -108, -7,
     -171, 91, -63, 80], [-29, -42, 11, -63, 146, 81, 61, 77], [-49, 34,
     -54, 60, 111, -117, -152, -104], [-15, 107, -38, -23, 47, 172, -97,
     27]],
]


def _pq_oracle(k: int = 5) -> str:
    """Full relational replay of pq_search: encode (argmin per
    subspace) -> decode -> ADC shortlist -> exact integer re-rank.
    Integer end-to-end on the same grid as the kmeans oracle, so the
    replay is bit-identical."""
    m, sub = _PQ_M, 64 // _PQ_M
    cb = [
        "[" + ", ".join(
            "[" + ", ".join(str(v) for v in c) + "]" for c in _PQ_CODEBOOKS[s]
        ) + "]"
        for s in range(m)
    ]
    d_cols = ", ".join(
        f"""list_transform({cb[s]}, c -> list_sum(list_transform(
            range(1, {sub + 1}), j -> (q[{s * sub}+j]-c[j])*(q[{s * sub}+j]-c[j])))) AS d{s}"""
        for s in range(m)
    )
    recon = " || ".join(
        f"{cb[s]}[list_indexof(d{s}, list_min(d{s}))]" for s in range(m)
    )
    return f"""
    WITH qv AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
      FROM embeddings),
    d AS (SELECT vec_id, q, {d_cols} FROM qv),
    dec AS (SELECT vec_id, ({recon}) AS r FROM d),
    qs AS (SELECT vec_id AS query_id, q AS qq FROM qv WHERE vec_id < 10),
    adc AS (
      SELECT s.query_id, b.vec_id,
             list_sum(list_transform(range(1, 65),
               i -> (s.qq[i]-b.r[i])*(s.qq[i]-b.r[i]))) AS adc_d
      FROM dec b CROSS JOIN qs s WHERE b.vec_id <> s.query_id),
    sl AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_d, vec_id) AS rn
        FROM adc) t WHERE rn <= {_PQ_SHORTLIST}),
    ex AS (
      SELECT sl.query_id, sl.vec_id,
             CAST(list_sum(list_transform(range(1, 65),
               i -> (s.qq[i]-v.q[i])*(s.qq[i]-v.q[i]))) AS BIGINT) AS sqdist
      FROM sl
      JOIN qv v ON v.vec_id = sl.vec_id
      JOIN qs s ON s.query_id = sl.query_id),
    rr AS (
      SELECT query_id, vec_id, sqdist,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY sqdist, vec_id) AS INT) AS rank
      FROM ex)
    SELECT query_id, vec_id, sqdist, rank FROM rr WHERE rank <= {k}
    """


@register(
    "pq_search_rerank",
    oracle=_pq_oracle(),
    # new r10 registration — enters the r10 driver window first (see
    # the rotation note in plans/registry.py; it displaces the
    # q1_pricing_summary fill, whose scan-agg family keeps in-window
    # siblings and a bench-headliner row).
    priority=80,
    doc="Product-quantization search with exact re-ranking "
    "(operators/similarity.py pq_train/pq_encode/pq_topk/pq_search, "
    "r10; Jégou, Douze & Schmid, TPAMI 2011): the ANN tier's "
    "compression path — vectors encode to m=8 sub-codes (4 bits each "
    "under the PINNED integer codebooks; a 100 TB float corpus "
    "becomes ~1.5 TB of codes), the scan ranks asymmetric distances "
    "against the literal-decoded reconstructions, the best "
    "shortlist=50 per query re-rank under the exact integer grid "
    "distance (pure ADC plateaus ~0.35 recall on unclusterable "
    "embeddings; shortlist re-rank measures 0.90, floor pinned in "
    "pytest — the deployed IVFADC+R shape).  Integer-exact Lloyd "
    "training per subspace (ONE bounded job per iteration, "
    "m*k*subdim-cell exchange+collect, loud cap); encode/ADC are "
    "zero-shuffle scan-fused projections; the corpus never shuffles "
    "in either search stage (queries and the candidate shortlist "
    "broadcast); both top-k cuts are the salted two-stage rank.  The "
    "oracle replays encode, decode, ADC shortlist and re-rank "
    "relationally, bit-for-bit.",
)
def q_pq_search_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.pq_search(
        load_table(spark, sf_dir, "embeddings"),
        _PQ_CODEBOOKS,
        query_ids=_QUERY_IDS,
        k=5,
        shortlist=_PQ_SHORTLIST,
    )


@register(
    "multimodal_video_meta_roundtrip",
    oracle="""
    WITH a AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(((CAST(FLOOR(value * 1000) AS BIGINT) % 600 + 600)
                       % 600)) AS BIGINT) AS ssum
      FROM events GROUP BY user_id),
    p AS (
      SELECT user_id, n, ssum,
             600 * n + ssum                        AS dur,
             16 * (1 + (n % 64))                   AS w,
             16 * (1 + (ssum % 48))                AS h,
             ((user_id % 2) + 2) % 2               AS has_audio
      FROM a)
    SELECT user_id AS doc_id,
           'mp4-meta' AS decoder,
           -- features surface through a FLOAT32 Arrow array; replay the
           -- double->float32 rounding so the match stays BIT-exact
           CAST(CAST(CAST(dur AS DOUBLE) / CAST(600 AS DOUBLE) AS REAL)
                AS DOUBLE)                         AS f0,
           CAST(CAST(600 AS REAL) AS DOUBLE)       AS f1,
           CAST(CAST(dur AS REAL) AS DOUBLE)       AS f2,
           CAST(CAST(1 + has_audio AS REAL) AS DOUBLE) AS f3,
           CAST(CAST(1 AS REAL) AS DOUBLE)         AS f4,
           CAST(CAST(has_audio AS REAL) AS DOUBLE) AS f5,
           CAST(CAST(w AS REAL) AS DOUBLE)         AS f6,
           CAST(CAST(h AS REAL) AS DOUBLE)         AS f7
    FROM p
    """,
    doc="Driver-tier roundtrip proof for the stdlib ISO BMFF (MP4) "
    "container parser (r10, the video sibling of "
    "multimodal_audio_roundtrip): per user, derive deterministic "
    "container parameters from the events table (duration units, "
    "16.16 track dimensions, a parity-keyed audio track), ENCODE a "
    "minimal ftyp+moov box tree in an executor (Arrow-batched "
    "mapInPandas), route it through decode_features' magic-byte "
    "dispatch, and emit the mp4-meta features.  The oracle recomputes "
    "every feature DIRECTLY from the parameter derivation — never "
    "touching a box — so a hash match proves the encoder+parser pair "
    "is field-exact (timescale, 64-bit-safe duration, fixed-point "
    "dimensions, handler-type track split) and fake=False pins the "
    "routing.  Scale shape: one bounded per-user aggregate, then two "
    "narrow Arrow passes; no collect.",
)
def q_multimodal_video_meta_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.pmod(F.floor(F.col("value") * 1000).cast("long"), F.lit(600)).alias(
            "m"
        ),
    )
    params = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"), F.sum("m").alias("ssum")
    ).select(
        "user_id",
        (F.lit(600) * F.col("n") + F.col("ssum")).alias("dur"),
        (F.lit(16) * (F.lit(1) + F.pmod(F.col("n"), F.lit(64)))).alias("w"),
        (F.lit(16) * (F.lit(1) + F.pmod(F.col("ssum"), F.lit(48)))).alias(
            "h"
        ),
        F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("has_audio"),
    )

    def encode(batches):
        # self-contained (cloudpickle by value): minimal ftyp+moov tree
        import struct as _s

        def _box(t, body):
            return _s.pack(">I", 8 + len(body)) + t + body

        def _full(t, body):
            return _box(t, b"\0\0\0\0" + body)

        def _trak(handler, w, h):
            tkhd = _full(
                b"tkhd",
                _s.pack(">IIIII", 0, 0, 1, 0, 0)
                + b"\0" * 16
                + b"\0" * 36
                + _s.pack(">II", w << 16, h << 16),
            )
            hdlr = _full(
                b"hdlr", _s.pack(">I", 0) + handler + b"\0" * 12 + b"\0"
            )
            return _box(b"trak", tkhd + _box(b"mdia", hdlr))

        def mp4(dur, w, h, has_audio):
            ftyp = _box(
                b"ftyp", b"isom" + _s.pack(">I", 512) + b"isomiso2mp41"
            )
            mvhd = _full(
                b"mvhd", _s.pack(">IIII", 0, 0, 600, dur) + b"\0" * 80
            )
            tracks = _trak(b"vide", w, h)
            if has_audio:
                tracks += _trak(b"soun", 0, 0)
            return ftyp + _box(b"moov", mvhd + tracks)

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["user_id"],
                    "payload": [
                        mp4(int(d), int(w), int(h), int(a))
                        for d, w, h, a in zip(
                            pdf["dur"], pdf["w"], pdf["h"], pdf["has_audio"]
                        )
                    ],
                    "media_type": "video/mp4",
                }
            )

    media = params.mapInPandas(
        encode, "doc_id bigint, payload binary, media_type string"
    )
    feats = mm.decode_features(media, fake=False, route_magic=True)
    return feats.select(
        "doc_id",
        "decoder",
        *[
            F.col("feature")[i].cast("double").alias(f"f{i}")
            for i in range(8)
        ],
    )


@register(
    "hard_negative_pairs",
    oracle=_MINHASH_CTE.replace("WITH params", "WITH RECURSIVE params", 1)
    + """,
    banded AS (
      SELECT doc_id, h_idx // 4 AS band_id,
             string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY h_idx) AS band_sig
      FROM mh GROUP BY 1, 2),
    prs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a
      JOIN banded b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
                   AND a.doc_id < b.doc_id),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM prs
      UNION SELECT doc_b, doc_a FROM prs),
    reach(a, b) AS (
      SELECT a, a FROM edges
      UNION SELECT a, b FROM edges
      UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    comp AS (SELECT a AS doc_id, min(b) AS component_id FROM reach GROUP BY a),
    rp AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
             COALESCE(c.component_id, e.vec_id) AS rep
      FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.doc_id),
    qs AS (SELECT vec_id AS query_id, v AS qv, rep AS qrep
           FROM rp WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, b.vec_id,
             round(list_cosine_similarity(qv, v), 6) AS cos_sim
      FROM rp b CROSS JOIN qs q
      WHERE b.vec_id <> q.query_id AND b.rep <> q.qrep),
    ranked AS (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS INTEGER)
        AS rank
      FROM scored)
    SELECT query_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= 5
    """,
    # new r10 registration — enters the r10 driver window first (see
    # the rotation note in plans/registry.py; it displaces the
    # q5_region_revenue fill, whose join family keeps key_skew_orders
    # in-window at 25 plus q5's own bench-headliner row).
    priority=80,
    doc="Hard-negative mining for contrastive training pairs "
    "(operators/similarity.py:hard_negative_topk, r10; the DPR / "
    "SimCSE recipe): per query document, the top-5 highest-cosine "
    "candidates AFTER excluding the query's own near-dup cluster — "
    "high-similarity candidates make the hardest negatives, but a "
    "near-duplicate of the query is a FALSE negative (semantically "
    "the positive), which untreated poisons the contrastive loss.  "
    "Composes the engine's tiers across both modalities: documents "
    "-> minhash LSH pairs -> pointer-jumped closure -> cluster "
    "representative joins the EMBEDDINGS side (one corpus equi join, "
    "AQE-splittable), queries + reps broadcast, salted two-stage "
    "top-k cut.  Oracle = the recursive-CTE closure + "
    "list_cosine_similarity rank replay.",
)
def q_hard_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import hard_negative_topk

    docs = load_table(spark, sf_dir, "documents")
    pairs = dd.minhash_candidate_pairs(dd.minhash_signatures(docs))
    comp = dd.connected_components(pairs)
    reps = (
        docs.select("doc_id")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component_id"), F.col("doc_id")).alias("rep"),
        )
    )
    return hard_negative_topk(
        load_table(spark, sf_dir, "embeddings"), reps, query_ids=_QUERY_IDS
    )


_LOGREG_B = 64
_LOGREG_ITERS = 2


def _logreg_oracle() -> str:
    """Unrolled-CTE replay of integer-exact logistic GD: one
    (sigmoid-lookup -> error -> bucket gradient -> truncated-division
    update) block per iteration from all-zero init, then the final
    scoring pass over ALL documents.  Every intermediate is an integer
    (DuckDB's truncating // replicated driver-side), so the replay is
    bit-identical — the kmeans unrolled-iteration posture extended to
    a gradient method."""
    from ..operators.classifier import (
        SIGMOID_CLAMP_MICRO,
        SIGMOID_STEP_MICRO,
        sigmoid_micro_table,
    )

    lst = "[" + ", ".join(str(v) for v in sigmoid_micro_table()) + "]"

    def lookup(z: str) -> str:
        zc = (
            f"least(greatest({z}, -{SIGMOID_CLAMP_MICRO}), "
            f"{SIGMOID_CLAMP_MICRO})"
        )
        return (
            f"({lst})[CAST((({zc}) + {SIGMOID_CLAMP_MICRO}) "
            f"// {SIGMOID_STEP_MICRO} AS INT) + 1]"
        )

    bucket = f"CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % {_LOGREG_B}"
    parts = [
        f"""
    WITH tok AS (
      SELECT doc_id, CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END AS y,
             regexp_extract_all(lower(text), '[a-z]+') AS ws
      FROM documents WHERE text IS NOT NULL),
    x AS (
      SELECT doc_id, {bucket} AS b, CAST(count(*) AS BIGINT) AS c
      FROM tok, unnest(ws) AS u(w) GROUP BY 1, 2),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
    z1 AS (SELECT doc_id, y, CAST(0 AS BIGINT) AS z FROM tok)"""
    ]
    for t in range(1, _LOGREG_ITERS + 1):
        prev_w = "0" if t == 1 else f"w{t-1}.w"
        join_w = "" if t == 1 else f" JOIN w{t-1} USING (b)"
        prev_b = "0" if t == 1 else f"(SELECT bias FROM b{t-1})"
        parts.append(f""",
    e{t} AS (SELECT doc_id, y,
                    CAST({lookup('z')} - y * 1000000 AS BIGINT) AS e
             FROM z{t}),
    g{t} AS (SELECT x.b, CAST(sum(e{t}.e * x.c) AS BIGINT) AS g
             FROM e{t} JOIN x USING (doc_id) GROUP BY x.b),
    w{t} AS (SELECT b, CAST({prev_w} - ((1 * g) // (2 * nn.n)) AS BIGINT)
                    AS w
             FROM g{t}{join_w} CROSS JOIN nn),
    b{t} AS (SELECT CAST({prev_b} - ((1 * (SELECT sum(e) FROM e{t}))
                    // (2 * nn.n)) AS BIGINT) AS bias FROM nn)""")
        if t < _LOGREG_ITERS:
            parts.append(f""",
    z{t + 1} AS (
      SELECT t.doc_id, t.y,
             CAST((SELECT bias FROM b{t})
                  + COALESCE(sum(x.c * w{t}.w), 0) AS BIGINT) AS z
      FROM tok t
      LEFT JOIN x ON x.doc_id = t.doc_id
      LEFT JOIN w{t} ON w{t}.b = x.b
      GROUP BY t.doc_id, t.y)""")
    T = _LOGREG_ITERS
    parts.append(f""",
    score AS (
      SELECT d.doc_id,
             CAST((SELECT bias FROM b{T})
                  + COALESCE(sum(x.c * w{T}.w), 0) AS BIGINT) AS z_micro
      FROM documents d
      LEFT JOIN x ON x.doc_id = d.doc_id
      LEFT JOIN w{T} ON w{T}.b = x.b
      GROUP BY d.doc_id)
    SELECT doc_id, z_micro,
           CAST({lookup('z_micro')} AS BIGINT) AS p_micro,
           {lookup('z_micro')} > 500000 AS pred
    FROM score""")
    return "".join(parts)


@register(
    "logreg_quality_scores",
    oracle=_logreg_oracle(),
    # new r10 registration — enters the r10 driver window first (see
    # the rotation note in plans/registry.py; nb_threshold_sweep
    # yields its promoted fill slot back — its classifier family now
    # holds TWO in-window rows via this query and dsir_selection).
    priority=80,
    doc="Integer-exact logistic regression, trained in-query "
    "(operators/classifier.py:train_logreg, r10): the TRAINED "
    "iterative tier next to the closed-form NB log-odds — hashed "
    "bag-of-words logit in integer micro-nats, the sigmoid as a "
    "pinned 1025-entry quantile table (no runtime libm), full-batch "
    "gradient descent from all-zero init with truncating-integer-"
    "division updates (DuckDB's native // semantics replicated "
    "driver-side), so every weight of every iteration is "
    "bit-identical across engines.  Per iteration: one zero-shuffle "
    "error scan + ONE bucket-bounded gradient aggregate (exchange "
    "<= n_buckets+1 rows, map-side partials); only the <= n_buckets "
    "gradient rows reach the driver.  Scoring is the NB zero-shuffle "
    "scan-fused contract.  The oracle unrolls both iterations as CTE "
    "blocks — the kmeans unrolled-iteration posture extended to a "
    "gradient method.  At 100 TB: train on a deterministic hash "
    "sample (the ivf/pq posture).",
)
def q_logreg_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classifier import logreg_scores, train_logreg

    docs = load_table(spark, sf_dir, "documents")
    w, b = train_logreg(
        docs,
        positive=(F.col("doc_id") % 7 == 3),
        n_buckets=_LOGREG_B,
        iters=_LOGREG_ITERS,
        lr_num=1,
        lr_den=2,
    )
    return logreg_scores(docs, w, b, n_buckets=_LOGREG_B)


@register(
    "dedup_quality_report",
    oracle=_MINHASH_CTE
    + f""",
    banded AS (
      SELECT doc_id, h_idx // 4 AS band_id,
             string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY h_idx) AS band_sig
      FROM mh GROUP BY 1, 2),
    prs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a
      JOIN banded b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
                   AND a.doc_id < b.doc_id),
    sets AS (
      SELECT doc_id,
             list_transform(sh,
               s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS hs
      FROM grams),
    ver AS (
      SELECT p.doc_a, p.doc_b,
             len(list_intersect(a.hs, b.hs)) AS inter,
             len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs)) AS un
      FROM prs p
      JOIN sets a ON a.doc_id = p.doc_a
      JOIN sets b ON b.doc_id = p.doc_b),
    verj AS (
      SELECT CASE WHEN un > 0
                  THEN round(inter / CAST(un AS DOUBLE), 6)
                  ELSE 0.0 END AS j
      FROM ver),
    vagg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_candidates,
             CAST(sum(CASE WHEN j >= 0.1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_weak,
             CAST(sum(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_strong
      FROM verj),
    tsets AS (SELECT doc_id, lang AS blk, list_sort(sh) AS sh
              FROM grams WHERE len(sh) > 0),
    truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM tsets a JOIN tsets b ON a.blk = b.blk AND a.doc_id < b.doc_id
      WHERE round(len(list_intersect(a.sh, b.sh)) /
                  CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE), 6)
            >= 0.5),
    tagg AS (SELECT CAST(count(*) AS BIGINT) AS n_truth_strong FROM truth),
    hagg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_hit_strong
      FROM truth t JOIN prs p
        ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b)
    SELECT n_candidates, n_weak, n_strong,
           CASE WHEN n_candidates > 0
                THEN round(n_weak / CAST(n_candidates AS DOUBLE), 6) END
             AS precision_weak,
           CASE WHEN n_candidates > 0
                THEN round(n_strong / CAST(n_candidates AS DOUBLE), 6) END
             AS precision_strong,
           n_truth_strong, n_hit_strong,
           CASE WHEN n_truth_strong > 0
                THEN round(n_hit_strong / CAST(n_truth_strong AS DOUBLE), 6)
             END AS recall_strong
    FROM vagg CROSS JOIN tagg CROSS JOIN hagg
    """,
    # new r10 registration — enters the r10 driver window first (see
    # the rotation note in plans/registry.py; it displaces the
    # asof_join_nearest fill — the as-of family keeps its bench
    # headliner + scaling-probe coverage via asof_join_last_good).
    priority=80,
    doc="Dedup-policy evaluation report "
    "(operators/dedup.py:dedup_quality_report, r10): measures the LSH "
    "banding against exact Jaccard on BOTH sides of the S-curve — "
    "candidate precision (every LSH pair re-verified with the exact "
    "shingle-set Jaccard, bucketed at J>=0.1 worth-verifying and "
    "J>=0.5 design-target) and strong-pair recall (the exact blocked "
    "J>=0.5 set as truth; (1/4)^(1/4)~0.707 banding makes strong "
    "pairs near-certain candidates, so a recall drop flags a "
    "banding/tokenization regression).  This is the report a pipeline "
    "consults before trusting a dedup threshold, the operator-level "
    "analogue of nb_threshold_sweep.  Candidates stay O(true dups); "
    "verification ships shingle arrays once per candidate; aggregates "
    "are single-row (the whitelisted 1-row crossJoin shape).",
)
def q_dedup_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.dedup_quality_report(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# IVFADC search (r11): coarse routing composed with residual PQ
# ---------------------------------------------------------------------------

#: Provenance: operators.similarity.kmeans_train(embeddings@sf0.001,
#: k=16, iters=2, scale=1000) for the coarse centroids and
#: operators.similarity.ivfadc_train(embeddings@sf0.001, cents, m=8,
#: k_sub=16, iters=2, scale=1000) for the residual codebooks — both
#: deterministic (lowest-id init, integer argmin ties-to-lowest,
#: floor(sum/count) updates); re-derivation pinned by
#: tests (test_ivfadc_artifacts_provenance).
_IVFADC_NPROBE = 4
_IVFADC_CENTS: list[list[int]] = [
    [-17, -57, -8, 47, -34, -82, -67, -28, -4, 30, -41, -23, 26, -2,
     9, -7, 49, -11, 14, -8, 4, -56, 49, -34, -40, 17, -41, -26, 6,
     27, -77, 35, 26, 5, -17, 73, 11, -68, -30, 19, -29, -4, 88, -26,
     35, 3, 32, -65, -18, 74, -3, 34, -27, -81, 53, 85, -18, 35, -43,
     56, -5, -29, -121, 43],
    [-31, 35, -33, -8, -50, -64, -7, -8, -16, -68, -23, -69, -24, 8,
     65, 21, -11, -3, -34, -8, -25, -58, -7, -117, 25, -12, -19, -41,
     -41, 26, -50, -27, -5, 79, 17, -66, 33, -57, -28, -16, 65, -27,
     26, -3, -29, -76, 2, 52, 0, 23, -30, -14, 27, 96, -21, -79, -39,
     -26, 1, 45, 8, -7, 0, -28],
    [-23, -9, 65, 3, -32, -2, -75, -8, -72, -6, -8, 32, 27, -17, 34,
     8, 26, 56, -25, -52, -48, -20, 1, 83, -5, 35, 30, -6, 13, 18, 2,
     105, 46, -19, -18, 1, -2, 24, 15, -25, 78, 45, -18, 3, 8, -64,
     -36, 18, -26, -21, 76, 37, 15, 11, 2, 30, 40, 10, -48, -51, 9, 6,
     -7, -38],
    [32, 29, 25, -24, 18, -34, 17, -109, 15, -11, -22, -8, -65, -14,
     -78, -23, -32, 51, 49, -41, -7, -33, -6, 6, -18, -41, -28, 1, 31,
     -23, 54, 14, -22, -37, 36, -19, 0, -58, 11, 51, -19, -136, 14,
     -35, 5, -10, 32, -72, -12, 15, 22, 18, -14, 6, 73, 9, -5, -12,
     50, 43, -30, -46, 54, 14],
    [10, -31, -6, -1, 22, 14, -8, 91, -31, -40, 51, -31, -30, -14, 6,
     -19, -19, -91, -52, -20, -99, -25, 37, 15, 23, -44, 17, 6, 11, 7,
     -31, -36, -38, 6, -6, 11, -26, 24, -38, 26, 28, -38, 34, 18, -24,
     58, -49, -45, -61, 8, -23, -74, 48, 9, -15, -16, 17, -65, -48, 0,
     -13, 62, -56, -40],
    [-32, 58, 27, 78, 26, 17, -4, -83, -92, -32, -14, -52, -24, 26,
     58, 9, -95, -41, 28, -37, -10, 43, -7, 2, -60, -14, 16, -90, 21,
     -93, -21, -90, -19, -18, 49, -99, 21, 15, 24, 17, 78, -61, 16,
     104, -19, -16, -17, 20, 19, -60, 16, 18, -43, 39, -2, -35, 60,
     38, -12, 31, -52, -36, 1, 29],
    [87, -32, -34, -29, -25, -84, 20, 9, -11, 88, -23, -6, 15, 10,
     -22, 13, 10, -23, -10, -53, 89, 27, 14, -2, 21, 6, 18, -11, -16,
     28, 7, 52, 55, -16, 17, 23, -21, 50, -68, -21, 7, -40, -39, 2,
     33, 24, 27, -13, 32, -38, -75, -3, 87, 16, 20, -19, 74, -18, 55,
     -21, -23, 5, 31, 9],
    [54, -5, 32, 97, 54, -12, -22, -55, 39, -46, 21, 8, 42, 2, 51, 25,
     41, -14, -35, -40, -39, 0, 14, -9, -31, -6, 36, 30, 37, 6, 41,
     21, 8, -43, 14, 12, 44, -12, -37, -20, -112, 44, 11, -34, 1, 38,
     -2, -23, 7, -12, -63, -20, -42, 4, 20, 16, 45, -81, -43, -28,
     -32, -3, -9, -4],
    [-30, -49, -46, 41, 18, -3, 7, -23, 49, 133, -42, 45, -19, 24, 14,
     56, 15, 44, -26, -9, -29, -10, 22, -50, -16, 52, -35, 22, -54,
     -13, -46, -6, -43, 59, -22, 8, 49, 51, -11, -15, -35, 92, -17,
     23, -15, -11, -1, -4, -6, 87, -16, -60, -1, -6, -71, -15, -28,
     42, 88, 15, -10, 5, 40, 36],
    [38, -7, 15, 5, -35, 2, 4, 18, -32, 30, 38, -30, 15, -69, -36,
     -67, 22, -19, 26, 36, -3, 43, -18, -22, 24, 53, 8, -65, -93, -63,
     47, -19, 5, -5, 84, 14, 58, 2, 29, 78, -2, -19, -18, 2, -2, 67,
     -20, -3, -20, 68, 2, 34, 0, 29, -13, 22, -58, -43, -10, -51, 27,
     -50, 50, -9],
    [-84, 51, -16, -9, -23, 22, -8, 77, -126, 0, -15, -13, -14, 57,
     -17, 3, 73, -26, -60, 54, 13, 30, 56, 22, 53, 10, -71, 85, -27,
     -43, -11, -7, -7, 15, -3, 16, -11, 97, -5, 9, -33, 19, 49, 51,
     -16, -79, -19, -3, 12, -62, 62, 22, 12, 48, 90, 23, 37, 29, 5,
     -70, 48, 2, -76, 66],
    [-50, 92, 65, 7, -14, -38, -13, 20, -21, 22, 15, 2, -33, 30, -46,
     -58, 24, -35, 32, -15, 35, -5, -24, 17, -57, 0, 35, -42, -30, 52,
     -39, -70, -28, 28, 9, -4, -86, -24, 5, -35, -19, -66, -35, -21,
     57, -66, -9, 32, 11, -38, -44, -43, 27, -9, -8, -6, -46, 32, -53,
     -18, 11, 35, 58, -64],
    [-42, -38, 1, -30, 50, 36, 79, 14, -65, -47, 97, 15, 101, 45, 1,
     4, 10, -29, 29, 54, 13, -11, -19, -80, 39, 17, -31, -31, 30, -36,
     -42, 2, 0, -8, -31, 3, -29, 49, 17, 53, -20, -46, 21, -36, -4,
     -95, -5, 29, -3, 23, 23, -32, 59, 11, -6, -22, 42, 18, -57, 31,
     -70, 37, -45, 52],
    [2, -3, -69, 45, -41, 34, 67, 45, 34, -51, 20, 3, 2, -46, 5, 14,
     5, 7, 11, 27, -58, 28, 22, -20, -19, -36, 32, 26, 45, 56, -3, -9,
     33, -10, -111, -6, -71, -29, 6, 0, -18, 21, -31, -3, -61, 32, 73,
     -32, -35, -72, 90, -14, -41, 5, 43, 32, -50, 47, 103, 32, 34, 11,
     45, 26],
    [-48, -22, 22, -69, -6, 53, 39, -98, 12, -52, 40, -50, -39, 30,
     59, 27, -81, 36, -13, 30, 39, -2, -24, -45, 6, -46, 28, 12, -22,
     36, -18, 28, -27, 30, -49, 38, 13, -40, -35, 3, 6, 27, -32, 22,
     -89, -4, -21, 37, 114, -42, -3, 46, 0, -31, 3, -21, -4, 33, -70,
     38, 18, -20, -41, -49],
    [55, -17, -70, 14, 18, 98, -90, 44, 75, -34, -34, 9, 14, 30, -10,
     -59, -20, 47, -3, -8, 9, 29, -31, 72, 12, -38, -69, 100, 2, -106,
     -27, -35, 71, 24, -13, 16, 42, 10, 1, 14, 8, 75, 35, 36, 34, -50,
     15, 49, -10, 51, -27, 23, -87, 0, -1, -26, 22, 19, -9, -48, 38,
     57, -61, 23],
]

_IVFADC_CODEBOOKS: list[list[list[int]]] = [
    [
        [-99, 10, -78, -79, -1, -99, -35, 92],
        [36, 84, -33, 20, -98, -44, -56, 5],
        [29, -53, 77, 125, -139, 54, -35, -78],
        [-24, 281, -27, -28, -18, -219, -34, -298],
        [65, 23, 116, -39, 94, -25, -144, 45],
        [-71, 5, 28, 5, 45, 135, -60, -98],
        [114, -78, -17, -55, -54, -145, 122, -6],
        [-27, -13, 21, 175, 10, -29, 80, -94],
        [76, -82, -28, 66, 127, -22, -35, -81],
        [-2, -102, -148, 62, -81, -44, -52, -43],
        [-124, 18, -177, -48, -3, 58, 102, -10],
        [-131, 70, 86, 32, 84, -99, 11, 20],
        [30, -68, 50, -179, -34, 7, -3, 1],
        [113, 101, -56, -11, 66, 67, 61, 63],
        [-49, 60, 135, -21, -71, 43, 62, -179],
        [-65, -61, 76, 20, -39, 70, 42, 130],
    ],
    [
        [89, -65, -59, -6, 91, 152, -76, 28],
        [-35, -56, -2, -96, -39, -169, 34, 22],
        [-225, 0, -43, 79, 54, 4, 53, -13],
        [32, -59, -73, -16, -100, 35, 12, -129],
        [-18, 19, 125, -49, -151, -16, 79, 30],
        [-91, -64, -167, -42, -36, -50, 6, 53],
        [-18, 163, -62, 13, -15, 68, 56, 6],
        [57, -66, 20, 64, 80, 7, 160, -9],
        [99, 73, -23, 61, 56, -94, -42, 163],
        [2, -12, 73, 17, 14, -108, -55, -103],
        [-184, 26, 113, -11, -62, 59, -104, 124],
        [53, 41, 33, 63, -104, 40, -92, -23],
        [-30, 38, 76, -47, 152, 64, -15, -2],
        [58, 114, 26, 17, 123, 88, -172, 48],
        [137, -75, -60, -127, -31, -4, 12, 94],
        [89, -60, -204, 49, 92, -40, -104, -42],
    ],
    [
        [62, 4, -6, 96, -47, -77, 160, 23],
        [20, -86, -41, -78, -24, 14, 83, -169],
        [-72, 103, -91, 2, -23, -95, 0, 69],
        [-2, 69, 44, -31, -4, -95, -153, -113],
        [-75, -146, -41, -65, -92, -82, 50, 29],
        [-42, 67, 138, -20, 18, -15, 26, 135],
        [-35, 100, -116, -39, 2, 75, 15, -115],
        [105, 1, 25, -121, -94, -79, -43, 19],
        [51, 0, 2, 45, -179, 98, 14, -51],
        [125, -36, 27, -46, 59, 152, -17, 23],
        [-7, 109, -81, 233, -12, -47, 17, -6],
        [126, -138, -36, 31, 45, 7, -86, 110],
        [15, -43, -2, 54, 131, -115, -18, -76],
        [-55, -40, 70, 134, 70, 108, 98, -25],
        [-49, 53, -7, -103, 146, 49, -43, 48],
        [-138, -48, -2, 59, -94, 63, -82, -54],
    ],
    [
        [97, 128, -38, -74, -3, 117, -204, 7],
        [-24, -7, -103, -9, 145, -59, -65, -16],
        [87, 99, -21, 61, 79, 30, 94, 97],
        [-39, -93, -6, -104, 84, 51, 79, 94],
        [3, -83, 114, 4, 42, -115, 21, -44],
        [-70, 152, 65, -71, -14, -24, -1, -121],
        [27, -36, 84, 35, 10, 42, -57, 193],
        [-42, 41, 91, 47, -31, 91, 100, 24],
        [-39, 148, -25, 49, -65, -10, -84, 27],
        [-17, 127, -54, -129, -119, -72, 101, 49],
        [77, -45, -114, 99, -13, -19, -11, -110],
        [-22, 20, -29, -20, -31, 171, -45, -113],
        [100, 74, 186, 16, -115, -28, -195, -203],
        [-82, -53, 170, 13, -69, 126, -170, 25],
        [-110, -34, -74, 36, -100, -18, 32, 53],
        [142, -104, -6, -103, -79, -42, 17, -5],
    ],
    [
        [0, -66, -19, 54, 39, -87, -10, 155],
        [41, -85, 7, -127, -31, -95, -104, -74],
        [-7, -8, -58, 87, 145, 50, 54, -89],
        [-99, -74, -8, -110, -49, -37, 75, 81],
        [-78, 30, 11, 47, -53, 14, -144, 55],
        [-113, -41, 81, -76, 112, 63, 80, -17],
        [153, -10, -25, -1, 52, 33, -95, -33],
        [-44, -34, 3, -93, -11, 191, -1, -84],
        [-21, 50, -158, -105, 73, 106, 22, 35],
        [-72, 33, 200, -4, 163, -100, -18, -14],
        [54, 136, -24, -59, -31, 18, 58, 88],
        [-19, 18, 188, -32, -71, 16, 74, 28],
        [37, 5, -59, 107, -90, 62, 77, -17],
        [39, 30, -106, -39, -156, -82, 32, -56],
        [45, 96, 66, 63, 3, -111, -25, -74],
        [-48, -143, 18, 169, 56, -34, -1, -25],
    ],
    [
        [143, -132, 67, -106, -1, -55, 84, 64],
        [5, -131, 50, -147, -140, -5, -46, 94],
        [100, 101, -73, 9, 71, 93, -104, 48],
        [-36, -93, 97, -37, -26, 33, 72, -17],
        [30, -47, 85, 104, -112, 140, -58, 7],
        [117, -21, 67, 178, -20, -51, -2, -18],
        [-43, 79, 5, 61, 149, 29, 53, -68],
        [-57, 122, 109, -47, 33, 97, 29, 87],
        [16, 135, -1, -15, -70, -69, 131, 26],
        [-132, -81, -84, 62, -51, 12, -33, -32],
        [-45, -60, 2, 26, 118, 6, -115, 120],
        [51, -108, -76, 60, 101, 38, 122, 32],
        [-22, 24, -79, -147, 40, -83, -4, 15],
        [68, -14, -135, 22, -136, 29, 43, -16],
        [4, -26, 20, -29, -75, -81, -222, -40],
        [17, 131, 43, -44, -15, -80, -52, -143],
    ],
    [
        [-61, 13, -73, 151, -38, -52, -3, 76],
        [-21, 84, 5, 112, -18, 76, -83, -164],
        [-90, -22, 72, 28, 30, 82, -141, 29],
        [1, 17, 84, -98, -26, -190, -56, 30],
        [-124, 89, -93, -44, 14, 148, 38, 40],
        [-8, -165, 33, 85, -45, -6, 76, -67],
        [19, -107, -64, 80, 97, -160, 31, -71],
        [5, -26, -157, -35, -66, 61, 56, 22],
        [74, -5, -56, -133, 114, -4, -78, -4],
        [-26, 138, 52, -29, -22, -48, -79, 93],
        [21, -53, 42, 9, 78, 60, -2, 171],
        [-82, -11, 28, -39, 110, -11, 137, -51],
        [-91, -30, 8, -12, -5, -70, -39, -125],
        [-93, 17, 120, 66, -37, 130, 124, 99],
        [154, 35, 21, 17, -45, 36, 69, 0],
        [62, 12, 49, -8, -156, -16, -52, -123],
    ],
    [
        [-37, -18, -40, 176, -32, 33, -82, 107],
        [93, -59, -16, -29, -79, 14, 97, -38],
        [25, 148, -68, 13, 20, -100, 62, -38],
        [-54, -104, -92, 9, 20, -99, -5, 4],
        [99, -33, -17, 101, 16, 44, -90, -95],
        [1, 40, 133, -28, 22, 68, -70, 147],
        [87, 91, 127, -73, -86, 11, 88, 25],
        [55, -169, 13, -120, -61, 3, 41, 62],
        [15, -63, 64, 174, 53, -28, 96, -10],
        [-137, 15, 112, -78, -17, -12, -13, -53],
        [-25, 4, 23, -45, 51, -132, -122, 183],
        [19, 60, 20, -24, -8, 17, -2, -185],
        [-52, -16, -92, -27, -143, 79, -66, 62],
        [23, -33, -38, -48, 119, 94, 72, 77],
        [-48, 15, 22, 45, 137, -114, -118, -90],
        [-34, 91, 12, 94, -47, 125, -104, -42],
    ],
]

def _ivfadc_oracle(k: int = 5, cand_filter: str = "") -> str:
    """Full relational replay of ivfadc_search: coarse assignment
    (argmin over the pinned centroids) -> residual -> residual-PQ
    encode -> decode -> probe-set routing (nprobe nearest cells per
    query) -> residual ADC over probed cells only -> exact integer
    re-rank.  Integer end-to-end on the kmeans grid, so the replay is
    bit-identical — the coarse ROUTING is hash-checked, not just
    recall-claimed.  ``cand_filter`` (r13, filtered search): extra SQL
    ANDed onto the candidate side of the ADC join — the pre-filter
    semantics replay (candidates restricted, queries unrestricted)."""
    m, sub = _PQ_M, 64 // _PQ_M
    cents = "[" + ", ".join(
        "[" + ", ".join(str(v) for v in c) + "]" for c in _IVFADC_CENTS
    ) + "]"
    n_cells = len(_IVFADC_CENTS)
    cb = [
        "[" + ", ".join(
            "[" + ", ".join(str(v) for v in c) + "]"
            for c in _IVFADC_CODEBOOKS[s]
        ) + "]"
        for s in range(m)
    ]
    d_cols = ", ".join(
        f"""list_transform({cb[s]}, c -> list_sum(list_transform(
            range(1, {sub + 1}), j -> (r[{s * sub}+j]-c[j])*(r[{s * sub}+j]-c[j])))) AS d{s}"""
        for s in range(m)
    )
    recon = " || ".join(
        f"{cb[s]}[list_indexof(d{s}, list_min(d{s}))]" for s in range(m)
    )
    return f"""
    WITH qv AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
      FROM embeddings),
    asg AS (
      SELECT vec_id, q,
             list_transform({cents}, c -> list_sum(list_transform(
               range(1, 65), i -> (q[i]-c[i])*(q[i]-c[i])))) AS dc
      FROM qv),
    cl AS (
      SELECT vec_id, q, dc,
             CAST(list_indexof(dc, list_min(dc)) AS INT) AS cell
      FROM asg),
    res AS (
      SELECT vec_id, cell,
             list_transform(range(1, 65),
               i -> q[i] - list_extract(list_extract({cents}, cell), i)) AS r
      FROM cl),
    d AS (SELECT vec_id, cell, r, {d_cols} FROM res),
    dec AS (SELECT vec_id, cell, ({recon}) AS rr FROM d),
    qs AS (SELECT vec_id AS query_id, q AS qq, dc FROM cl
           WHERE vec_id < 10),
    pr AS (
      SELECT query_id, j FROM (
        SELECT query_id, j,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dc[CAST(j AS INT)], j) AS rn
        FROM qs, range(1, {n_cells + 1}) t(j)) z
      WHERE rn <= {_IVFADC_NPROBE}),
    qres AS (
      SELECT p.query_id, CAST(p.j AS INT) AS cell,
             list_transform(range(1, 65),
               i -> s.qq[i]
                    - list_extract(list_extract({cents}, CAST(p.j AS INT)), i)
             ) AS qr,
             s.qq
      FROM pr p JOIN qs s ON s.query_id = p.query_id),
    adc AS (
      SELECT s.query_id, b.vec_id,
             list_sum(list_transform(range(1, 65),
               i -> (s.qr[i]-b.rr[i])*(s.qr[i]-b.rr[i]))) AS adc_d
      FROM dec b JOIN qres s ON s.cell = b.cell
      WHERE b.vec_id <> s.query_id{cand_filter}),
    sl AS (
      SELECT query_id, vec_id FROM (
        SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_d, vec_id) AS rn
        FROM adc) t WHERE rn <= {_PQ_SHORTLIST}),
    ex AS (
      SELECT sl.query_id, sl.vec_id,
             CAST(list_sum(list_transform(range(1, 65),
               i -> (s.qq[i]-v.q[i])*(s.qq[i]-v.q[i]))) AS BIGINT) AS sqdist
      FROM sl
      JOIN qv v ON v.vec_id = sl.vec_id
      JOIN (SELECT DISTINCT query_id, qq FROM qres) s
        ON s.query_id = sl.query_id),
    rr AS (
      SELECT query_id, vec_id, sqdist,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY sqdist, vec_id) AS INT) AS rank
      FROM ex)
    SELECT query_id, vec_id, sqdist, rank FROM rr WHERE rank <= {k}
    """


@register(
    "ivfadc_search",
    oracle=_ivfadc_oracle(),
    # new r11 registration — enters the r11 driver window first per
    # the registry invariant (see the rotation note in
    # plans/registry.py; the displaced fill is itemized there).
    priority=80,
    headline=True,  # new heavy ANN shape -> bench + shuffle-audit row
    doc="IVFADC search with exact re-ranking "
    "(operators/similarity.py kmeans_train/ivfadc_train/ivfadc_search, "
    "r11; Jégou, Douze & Schmid, TPAMI 2011 §V-VI — the deployed "
    "billion-vector shape, closing the r10 verdict's composition "
    "gap): vectors assign to their nearest of 16 PINNED integer "
    "coarse centroids and store (cell, m=8 residual PQ codes); each "
    "query ranks the cells and scans ONLY its nprobe=4 nearest — "
    "stage 1 reads ~nprobe/K of the codes instead of all n "
    "(pq_search_rerank's flat ADC), which at 100 TB becomes parquet "
    "PARTITION PRUNING when the index is stored partitioned by cell; "
    "ADC runs residual-vs-reconstruction, the shortlist=50 re-rank "
    "is the exact integer grid distance.  Integer end-to-end: coarse "
    "assignment, probe sets, codes, ADC and re-rank all replay "
    "relationally in the oracle, so the ROUTING is hash-checked "
    "(recall floor 0.90/overall, 3/5 per query, pinned in pytest). "
    "Corpus never shuffles in any stage; queries + probe lists "
    "broadcast; both top-k cuts are the salted two-stage rank.",
)
def q_ivfadc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.ivfadc_search(
        load_table(spark, sf_dir, "embeddings"),
        _IVFADC_CENTS,
        _IVFADC_CODEBOOKS,
        query_ids=_QUERY_IDS,
        k=5,
        nprobe=_IVFADC_NPROBE,
        shortlist=_PQ_SHORTLIST,
    )


def _staged_ivfadc_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write-once staging of the cluster-partitioned IVFADC index for
    ``sf_dir`` (r12, r11 verdict #5): :func:`~..operators.similarity.
    write_ivfadc_index` lands the encode output one directory per
    coarse cell, keyed by (sf_dir, content fingerprint) exactly like
    the streaming staging dirs, so every probe query against the same
    testdata reuses the layout instead of re-encoding."""
    import os
    import tempfile

    # runtime import: streaming_queries imports _IVFADC_* from THIS
    # module at load time, so the reverse import must not be top-level
    from .streaming_queries import _evict_stale, _fingerprint

    tag = sf_dir.strip("/").replace("/", "_")
    emb = load_table(spark, sf_dir, "embeddings")
    # fingerprint the VECTOR VALUES, not just id + dim (ADVICE r12,
    # medium): same-shape regenerated testdata (sequential ids, fixed
    # dim 64) must not reuse an index encoded from old vectors —
    # xxhash64 over the raw array folds every element in, literal seed
    # first for pair independence
    fp = _fingerprint(
        emb, "vec_id", F.xxhash64(F.lit(1), F.col("embedding"))
    )
    out = os.path.join(tempfile.gettempdir(), f"ivfadc_idx_{tag}_{fp}")
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        _evict_stale(f"ivfadc_idx_{tag}_", os.path.basename(out))
        sim.write_ivfadc_index(
            sim.ivfadc_encode(emb, _IVFADC_CENTS, _IVFADC_CODEBOOKS), out
        )
    return out


@register(
    "ivfadc_pruned_search",
    oracle=_ivfadc_oracle(),
    # new r12 registration — enters the r12 driver window first per
    # the registry invariant (rotation note in plans/registry.py).
    priority=80,
    headline=True,  # benched NEXT TO ivfadc_search: the stored-index
    # probe must show the in-plan encode cost disappearing (measured
    # ~3.5x cheaper at every scale multiple, SCALING.md r12)
    doc="IVFADC search against the STORED cluster-partitioned index "
    "(operators/similarity.py:write_ivfadc_index + "
    "ivfadc_search_pruned, r12 — the r11 verdict's #5 made "
    "executable): ivfadc_encode's (vec_id, cluster, codes) frame "
    "lands PARTITIONED BY cluster (one directory per coarse cell, "
    "staged once per sf_dir fingerprint), and the probe computes its "
    "query batch's probe lists driver-side (bounded collect, loud "
    "cap) whose UNION becomes a static cluster IN (...) predicate — "
    "parquet partition discovery turns it into directory-level "
    "pruning, so stage 1 LISTS AND READS only ~|union probes|/K of "
    "the index files (the inverted-list walk as partition pruning; "
    "PartitionFilters + corrupted-non-probed-partition proof in "
    "tests/test_stateful_storage.py).  Same oracle as ivfadc_search: "
    "the stored-index path must replay the full relational "
    "composition bit-for-bit, proving the store->read->decode "
    "roundtrip loses nothing.",
)
def q_ivfadc_pruned_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx_dir = _staged_ivfadc_index_dir(spark, sf_dir)
    return sim.ivfadc_search_pruned(
        spark,
        idx_dir,
        load_table(spark, sf_dir, "embeddings"),
        _IVFADC_CENTS,
        _IVFADC_CODEBOOKS,
        query_ids=_QUERY_IDS,
        k=5,
        nprobe=_IVFADC_NPROBE,
        shortlist=_PQ_SHORTLIST,
    )


#: Pinned takedown cut for the tombstone-delete proof: vectors with
#: ``vec_id % 10 == 7`` (~10%) are deleted.  vec_id 7 is also a QUERY
#: id — pre-filter semantics keep it querying while its stored vector
#: disappears from every candidate set.
_TOMB_MOD, _TOMB_REM = 10, 7


@register(
    "index_tombstone_delete",
    oracle=f"""
    WITH base AS ({_ivfadc_oracle(
        k=5, cand_filter=f" AND b.vec_id % {_TOMB_MOD} <> {_TOMB_REM}"
    )})
    SELECT p.phase, b.query_id, b.vec_id, b.sqdist, b.rank
    FROM base b CROSS JOIN (VALUES ('tombstoned'), ('purged')) p(phase)
    """,
    priority=80,  # enters via the r16 rotation (new registration tier)
    doc="IVFADC tombstone DELETE lifecycle (r16, r15 verdict #3 — the "
    "delete side the index lifecycle lacked: upsert/compact/retrain "
    "existed, a takedown meant a rebuild).  The per-run store encodes "
    f"once; a takedown batch (vec_id % {_TOMB_MOD} == {_TOMB_REM}) "
    "lands as APPEND-ONLY markers under the store's _tombstones "
    "sibling (delete_from_ivfadc_index — zero index files touched, "
    "the LSM tombstone shape); phase 'tombstoned' probes the marked "
    "store (ivfadc_search_pruned auto-excludes marked ids via a "
    "broadcast anti-join, corpus never shuffles); compaction then "
    "PURGES — one column-pruned scan locates the touched cells, "
    "exactly those rewrite minus the marked rows (write-then-swap), "
    "markers clear — and phase 'purged' probes the bare survivors.  "
    "Both phases must equal the relational replay over the surviving "
    "candidate set (the oracle's cand_filter), proving delete-by-"
    "marker == purge-by-rewrite == fresh rebuild on corpus-minus-"
    "removed; the store-level equivalences (physical row purge, "
    "marker clearing, re-insert contract, crash-window idempotence) "
    "are pytest-pinned (test_ivfadc_tombstone_delete_probe_and_purge)."
    "  Bounded collects only: each probe returns |queries| x k rows.",
)
def q_index_tombstone_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from pyspark.sql import types as T

    emb = load_table(spark, sf_dir, "embeddings")
    work = tempfile.mkdtemp(prefix="idx_tombstone_")
    # try/finally (r17, ADVICE r16): a probe/compaction failure must
    # not leak the per-run store dir (the incremental_dedup_bucketed
    # cleanup convention)
    try:
        store = os.path.join(work, "index")
        sim.write_ivfadc_index(
            sim.ivfadc_encode(emb, _IVFADC_CENTS, _IVFADC_CODEBOOKS), store
        )
        sim.delete_from_ivfadc_index(
            spark,
            store,
            emb.filter(
                F.col("vec_id") % _TOMB_MOD == _TOMB_REM
            ).select("vec_id"),
        )
        kw = dict(
            query_ids=_QUERY_IDS, k=5, nprobe=_IVFADC_NPROBE,
            shortlist=_PQ_SHORTLIST,
        )
        probe = sim.ivfadc_search_pruned(
            spark, store, emb, _IVFADC_CENTS, _IVFADC_CODEBOOKS, **kw
        )
        # materialize BEFORE the compaction mutates the store (lazy
        # frames would otherwise re-probe the purged layout); bounded
        # |queries|*k
        tombstoned = probe.collect()
        sim.compact_ivfadc_index(spark, store)
        purged = sim.ivfadc_search_pruned(
            spark, store, emb, _IVFADC_CENTS, _IVFADC_CODEBOOKS, **kw
        ).collect()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    schema = T.StructType(
        [T.StructField("phase", T.StringType())] + list(probe.schema.fields)
    )
    return spark.createDataFrame(
        [("tombstoned", *r) for r in tombstoned]
        + [("purged", *r) for r in purged],
        schema,
    )


# ---------------------------------------------------------------------------
# Query-by-committee disagreement mining (r11)
# ---------------------------------------------------------------------------

#: Pinned QBC logistic-regression member (r11) — trained on the SAME
#: target as _NB_WEIGHTS so the committee is coherent.  Provenance:
#: operators.classifier.train_logreg(documents@sf0.001,
#: positive = doc_id % 7 == 3, n_buckets=64, iters=2) — integer-exact
#: GD (all-zero init, pinned sigmoid table, truncating division);
#: re-derivation pinned by tests (test_qbc_lr_provenance).
_QBC_LR_BUCKETS = 64
_QBC_LR_BIAS = -108218
_QBC_LR_W: dict[int, int] = {0: -183834, 4: -168815, 7: -213344, 9: -205329, 10: -189837, 17:
    -414124, 18: -207334, 23: -461159, 24: -205842, 25: -200831, 29:
    -161309, 30: -8512, 33: -218343, 34: -573468, 36: -220839, 41:
    -452670, 42: -447171, 44: -232323, 45: -243331, 46: -220362, 51:
    -219844, 52: -413138, 58: -239339, 63: -194346}
_QBC_TOP_N = 100


def _qbc_oracle() -> str:
    from ..operators.classifier import nb_oracle_score_sql

    nb = nb_oracle_score_sql(_NB_WEIGHTS, _NB_BUCKETS)
    dense = [0] * _QBC_LR_BUCKETS
    for k, v in _QBC_LR_W.items():
        dense[k] = v
    lst = "[" + ", ".join(str(v) for v in dense) + "]"
    bucket = (
        "CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % "
        + str(_QBC_LR_BUCKETS)
    )
    lr = (
        str(_QBC_LR_BIAS) + " + COALESCE(list_sum(list_transform("
        "regexp_extract_all(lower(text), '[a-z]+'), "
        "w -> (" + lst + ")[" + bucket + " + 1])), 0)"
    )
    return f"""
    WITH s AS (
      SELECT doc_id,
             COALESCE(len(regexp_extract_all(lower(text), '[a-z]+')), 0)
               AS n_words,
             CAST({nb} AS BIGINT) AS nb_micro,
             CAST({lr} AS BIGINT) AS lr_z_micro
      FROM documents WHERE text IS NOT NULL),
    d AS (
      SELECT doc_id, n_words, nb_micro, lr_z_micro,
             least(abs(nb_micro // n_words), abs(lr_z_micro // n_words))
               AS strength_micro
      FROM s
      WHERE n_words > 0
        AND (nb_micro > 0) <> (lr_z_micro > 0)),
    r AS (
      SELECT doc_id, n_words, nb_micro, lr_z_micro,
             CAST(strength_micro AS BIGINT) AS strength_micro,
             CAST(row_number() OVER (ORDER BY strength_micro DESC, doc_id)
                  AS INT) AS qbc_rank
      FROM d)
    SELECT * FROM r WHERE qbc_rank <= {_QBC_TOP_N}
    """


@register(
    "qbc_disagreement",
    oracle=_qbc_oracle(),
    # new r11 registration — enters the r11 driver window first per
    # the registry invariant (rotation note in plans/registry.py).
    priority=80,
    doc="Query-by-committee disagreement mining "
    "(operators/classifier.py:qbc_disagreement, r11; Seung, Opper & "
    "Sompolinsky 1992, Lewis & Gale 1994): the active-learning tier — "
    "the pinned NB log-odds table and the pinned GD-trained logistic "
    "regression (SAME training target, different inductive biases) "
    "score every document in ONE zero-shuffle scan-fused projection; "
    "documents where the members' signs disagree rank by the committee "
    "margin least(|nb|, |lr|) per token (truncating DIV, identical "
    "cross-engine), and the top-100 strongest disagreements are the "
    "send-to-annotation set a curation pipeline drains first.  The "
    "final cut is the banded exact global rank (constant group — no "
    "single-task window, no driver top-k).  Oracle: full relational "
    "replay of both scores, the disagreement set, the margin and the "
    "rank.",
)
def q_qbc_disagreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classifier import qbc_disagreement

    return qbc_disagreement(
        load_table(spark, sf_dir, "documents"),
        _NB_WEIGHTS,
        _NB_BUCKETS,
        _QBC_LR_W,
        _QBC_LR_BIAS,
        _QBC_LR_BUCKETS,
        top_n=_QBC_TOP_N,
    )


# ---------------------------------------------------------------------------
# Edit-distance verification of LSH candidates (r11)
# ---------------------------------------------------------------------------

_EDIT_VERIFY_CHARS = 1000
_EDIT_VERIFY_PCT = 80


@register(
    "dedup_edit_verify",
    oracle=_MINHASH_CTE
    + f""",
    banded AS (
      SELECT doc_id, h_idx // 4 AS band_id,
             string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY h_idx)
               AS band_sig
      FROM mh GROUP BY 1, 2),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM banded a
      JOIN banded b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
                   AND a.doc_id < b.doc_id),
    folded AS (
      SELECT doc_id,
             regexp_replace(substr(COALESCE(text, ''), 1,
               {_EDIT_VERIFY_CHARS}), '[^\\x00-\\x7F]', '?', 'g') AS t
      FROM documents),
    v AS (
      SELECT c.doc_a, c.doc_b,
             CAST(levenshtein(fa.t, fb.t) AS INTEGER) AS edit_dist,
             greatest(length(fa.t), length(fb.t), 1) AS den
      FROM cand c
      JOIN folded fa ON fa.doc_id = c.doc_a
      JOIN folded fb ON fb.doc_id = c.doc_b)
    SELECT doc_a, doc_b, edit_dist,
           CAST(100 - ((100 * edit_dist) // den) AS INTEGER) AS sim_pct,
           (100 - ((100 * edit_dist) // den)) >= {_EDIT_VERIFY_PCT}
             AS is_dup
    FROM v
    """,
    # new r11 registration — enters the r11 driver window first per
    # the registry invariant (rotation note in plans/registry.py).
    priority=80,
    doc="Edit-distance verification of LSH candidate pairs "
    "(operators/dedup.py:edit_distance_verify, r11): the third dedup "
    "verification metric next to exact shingle Jaccard "
    "(dedup_quality_report) and embedding cosine — Levenshtein "
    "similarity over the 1000-char ASCII-folded prefix, the gate "
    "eval-set decontamination uses when token-set metrics are too "
    "loose.  The fold is a DOCUMENTED cross-engine exactness "
    "projection (Spark levenshtein counts chars, DuckDB counts "
    "bytes; after the fold they agree exactly — pinned in pytest "
    "with unicode fixtures).  Candidates stay O(true dups) with the "
    "mega-bucket star guard; the verify is two narrow AQE-splittable "
    "equi join-backs; per-pair cost bounded at max_chars^2 "
    "regardless of corpus size.",
)
def q_dedup_edit_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.edit_distance_verify(
        load_table(spark, sf_dir, "documents"),
        max_chars=_EDIT_VERIFY_CHARS,
        threshold_pct=_EDIT_VERIFY_PCT,
    )


# ---------------------------------------------------------------------------
# Self-supervised prototypicality pruning (r11; Sorscher et al. 2022)
# ---------------------------------------------------------------------------

_SSP_KEEP_PCT = 70


def _ssp_oracle() -> str:
    cents = "[" + ", ".join(
        "[" + ", ".join(str(v) for v in c) + "]" for c in _IVFADC_CENTS
    ) + "]"
    return f"""
    WITH qv AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
      FROM embeddings),
    asg AS (
      SELECT vec_id,
             list_transform({cents}, c -> list_sum(list_transform(
               range(1, 65), i -> (q[i]-c[i])*(q[i]-c[i])))) AS dc
      FROM qv),
    cl AS (
      SELECT vec_id,
             CAST(list_indexof(dc, list_min(dc)) - 1 AS INT) AS cluster,
             CAST(list_min(dc) AS BIGINT) AS sqdist
      FROM asg),
    r AS (
      SELECT vec_id, cluster, sqdist,
             CAST(row_number() OVER (PARTITION BY cluster
                    ORDER BY sqdist DESC, vec_id) AS BIGINT) AS ssp_rank,
             CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT)
               AS n_cluster
      FROM cl)
    SELECT vec_id, cluster, sqdist, ssp_rank, n_cluster,
           ssp_rank <= ((n_cluster * {_SSP_KEEP_PCT} + 99) // 100) AS keep
    FROM r
    """


@register(
    "selfsup_prune",
    oracle=_ssp_oracle(),
    # new r11 registration — enters the r11 driver window first per
    # the registry invariant (rotation note in plans/registry.py).
    priority=80,
    doc="Self-supervised prototypicality pruning "
    "(operators/similarity.py:selfsup_prune, r11; Sorscher et al., "
    "NeurIPS 2022): the embedding-space data-pruning tier — each "
    "vector assigns to its nearest PINNED kmeans centroid with its "
    "integer squared distance (zero-shuffle scan-fused, no training "
    "jobs), then every CLUSTER keeps its hardest keep_pct=70% by "
    "distance rank (per-cluster ranking preserves cluster balance — "
    "the published method's key detail; at large data budgets the "
    "prototypical examples carry the least marginal signal).  The "
    "rank is the banded exact grouped rank, never a per-cluster "
    "single-task window (a cluster at 100 TB holds billions of "
    "rows); the keep cut is ceil(n*pct/100) in integer arithmetic.  "
    "Oracle: full relational replay of assignment, distance, "
    "per-cluster rank and the keep gate.",
)
def q_selfsup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.selfsup_prune(
        load_table(spark, sf_dir, "embeddings"),
        _IVFADC_CENTS,
        keep_pct=_SSP_KEEP_PCT,
    )


# ---------------------------------------------------------------------------
# MMR diversified retrieval (r12)
# ---------------------------------------------------------------------------

_MMR_SHORTLIST = 20
_MMR_K = 5


def _mmr_oracle(k: int = _MMR_K, shortlist: int = _MMR_SHORTLIST) -> str:
    """Unrolled relational replay of the MMR greedy (the logreg
    unrolled-GD oracle pattern): brute integer shortlist, then one CTE
    per selection step — step i excludes the selected set, scores
    qd - min pairwise sqdist to it, and row_number-picks the
    (score, vec_id) minimum per query."""

    def sq(a: str, b: str) -> str:
        return (
            "list_sum(list_transform(range(1, 65), "
            f"i -> ({a}[i]-{b}[i])*({a}[i]-{b}[i])))"
        )

    steps = [
        """sel1 AS (
      SELECT query_id, vec_id, v, qd, 1 AS mmr_rank FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY qd, vec_id) AS rn
        FROM shortlist) t
      WHERE rn = 1)"""
    ]
    for i in range(2, k + 1):
        prev = " UNION ALL ".join(
            f"SELECT query_id, vec_id, v, qd FROM sel{j}"
            for j in range(1, i)
        )
        # the redundancy minimum is a JOIN + GROUP BY, not a correlated
        # subquery: DuckDB lambdas (list_transform) cannot capture
        # correlated outer columns, but both sides of a join share one
        # scope
        steps.append(
            f"""selprev{i} AS ({prev}),
    sel{i} AS (
      SELECT query_id, vec_id, v, qd, {i} AS mmr_rank FROM (
        SELECT c2.*, row_number() OVER (PARTITION BY c2.query_id
                                        ORDER BY c2.qd - c2.md,
                                                 c2.vec_id) AS rn
        FROM (
          SELECT c.query_id, c.vec_id, any_value(c.v) AS v, c.qd,
                 min({sq('c.v', 's.v')}) AS md
          FROM shortlist c JOIN selprev{i} s
            ON s.query_id = c.query_id
          WHERE NOT EXISTS (SELECT 1 FROM selprev{i} s2
                            WHERE s2.query_id = c.query_id
                              AND s2.vec_id = c.vec_id)
          GROUP BY c.query_id, c.vec_id, c.qd) c2) t
      WHERE rn = 1)"""
        )
    union = " UNION ALL ".join(
        f"SELECT query_id, vec_id, qd, mmr_rank FROM sel{j}"
        for j in range(1, k + 1)
    )
    return f"""
    WITH qv AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
      FROM embeddings),
    qs AS (SELECT vec_id AS query_id, q AS qq FROM qv WHERE vec_id < 10),
    sc AS (
      SELECT s.query_id, b.vec_id, b.q AS v, {sq('b.q', 's.qq')} AS qd
      FROM qv b, qs s WHERE b.vec_id <> s.query_id),
    shortlist AS (
      SELECT query_id, vec_id, v, qd FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY qd, vec_id) AS rn
        FROM sc) z
      WHERE rn <= {shortlist}),
    {', '.join(steps)}
    SELECT query_id, vec_id, CAST(qd AS BIGINT) AS sqdist,
           CAST(mmr_rank AS INT) AS mmr_rank
    FROM ({union})
    """


@register(
    "mmr_diverse_topk",
    oracle=_mmr_oracle(),
    # new r12 registration — enters the r12 driver window first per
    # the registry invariant (it displaced the alphabetically-last
    # in-window stale name into the r13 overflow; see the rotation
    # note in plans/registry.py).
    priority=80,
    doc="MMR diversified retrieval "
    "(operators/similarity.py:mmr_diversify, r12; Carbonell & "
    "Goldstein, SIGIR 1998): the diversity re-rank between ANN top-k "
    "and the prompt — near-duplicate passages burn context tokens, so "
    "the selector greedily trades relevance against redundancy: "
    "rank 1 is the nearest shortlist candidate, step i minimizes "
    "qdist - min pairwise sqdist to the already-selected set "
    "(distance-form MMR at lambda=1/2, integer-exact, ties to the "
    "lower vec_id).  The greedy runs INSIDE one bounded "
    "groupBy(query_id) aggregation as k unrolled array-lambda steps "
    "over the collected shortlist — no join, no second shuffle, "
    "per-query state never leaves its row; at 100 TB queries scale, "
    "not shortlists.  Shortlist: brute integer-grid top-20 per query "
    "(broadcast 10-row query frame, salted two-stage rank).  Oracle: "
    "unrolled per-step relational replay (the logreg unrolled-GD "
    "pattern), hash-exact.",
)
def q_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    grid = sim._pq_quantized(emb, 1000, "vec_id", "embedding")
    qf = grid.filter(F.col("vec_id").isin(_QUERY_IDS)).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq")
    )
    scored = grid.join(
        F.broadcast(qf), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "vec_id",
        F.col("q").alias("v"),
        F.aggregate(
            F.zip_with(
                F.col("q"), F.col("qq"), lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("qdist"),
    )
    sl = sim._topk_per_query(
        scored, _MMR_SHORTLIST, "qdist", ascending=True
    ).select("query_id", "vec_id", "qdist", "v")
    return sim.mmr_diversify(sl, k=_MMR_K)


# ---------------------------------------------------------------------------
# Binary-signature Hamming prefilter + exact re-rank (r12)
# ---------------------------------------------------------------------------

_HAMMING_SHORTLIST = 50


def _hamming_oracle(k: int = 5, shortlist: int = _HAMMING_SHORTLIST) -> str:
    def sq(a: str, b: str) -> str:
        return (
            "list_sum(list_transform(range(1, 65), "
            f"i -> ({a}[i]-{b}[i])*({a}[i]-{b}[i])))"
        )

    def half(off: int) -> str:
        return (
            "CAST(list_sum(list_transform(range(1, 33), "
            f"j -> CASE WHEN q[j + {off}] > 0 THEN (1::BIGINT << (j - 1)) "
            "ELSE 0 END)) AS BIGINT)"
        )

    return f"""
    WITH qv AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
      FROM embeddings),
    sig AS (
      SELECT vec_id, q,
             {half(0)} AS sig_lo,
             {half(32)} AS sig_hi
      FROM qv),
    qs AS (
      SELECT vec_id AS query_id, q AS qq, sig_lo AS q_lo, sig_hi AS q_hi
      FROM sig WHERE vec_id < 10),
    sc AS (
      SELECT s.query_id, b.vec_id, b.q, s.qq,
             CAST(bit_count(xor(b.sig_lo, s.q_lo))
                  + bit_count(xor(b.sig_hi, s.q_hi)) AS INT) AS hamming
      FROM sig b, qs s WHERE b.vec_id <> s.query_id),
    sl AS (
      SELECT query_id, vec_id, q, qq, hamming FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY hamming, vec_id) AS rn
        FROM sc) z
      WHERE rn <= {shortlist}),
    ex AS (
      SELECT query_id, vec_id, hamming,
             CAST({sq('qq', 'q')} AS BIGINT) AS sqdist
      FROM sl),
    rr AS (
      SELECT query_id, vec_id, hamming, sqdist,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY sqdist, vec_id) AS INT)
               AS rank
      FROM ex)
    SELECT query_id, vec_id, hamming, sqdist, rank
    FROM rr WHERE rank <= {k}
    """


@register(
    "hamming_topk",
    oracle=_hamming_oracle(),
    # new r12 registration — enters the r12 driver window first per
    # the registry invariant (it displaced the then-alphabetically-last
    # in-window stale name into the r13 overflow; see the rotation
    # note in plans/registry.py).
    priority=80,
    headline=True,  # the cheapest ANN tier belongs in the bench: its
    # flat ~1.5 s row is the stage-0 cost floor the ladder amortizes to
    doc="Binary-signature ANN: Hamming stage-0 prefilter + exact "
    "re-rank (operators/similarity.py:_sign_signature_sql + "
    "hamming_topk_rerank, r12; Charikar hyperplane-LSH sign "
    "quantization, Goemans-Williamson angle bound) — the cheapest "
    "tier in the ANN ladder and the memory-resident prefilter "
    "billion-scale systems run FIRST: 8 bytes per vector (two packed "
    "32-bit sign halves on the shared integer grid), stage 0 reads "
    "ONLY those two longs per corpus row and computes "
    "bit_count(xor()) inside whole-stage codegen, arrays untouched "
    "until the 50-deep shortlist, which then re-ranks under the "
    "exact integer grid distance.  Corpus never shuffles; both cuts "
    "are the salted two-stage rank.  Output schema matches the "
    "pq/ivfadc tiers plus the stage-0 hamming column, so the ladder "
    "is drop-in comparable.  Oracle: full relational replay of "
    "packing, XOR+popcount, shortlist and re-rank (DuckDB bit_count "
    "verified two's-complement-identical to the JVM's).",
)
def q_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.hamming_topk_rerank(
        load_table(spark, sf_dir, "embeddings"),
        query_ids=_QUERY_IDS,
        k=5,
        shortlist=_HAMMING_SHORTLIST,
    )


# ---------------------------------------------------------------------------
# NB classifier calibration / reliability report (r12)
# ---------------------------------------------------------------------------

_CAL_BINS = 10


def _nb_calibration_oracle(n_bins: int = _CAL_BINS) -> str:
    from ..operators.classifier import nb_oracle_score_sql

    nb = nb_oracle_score_sql(_NB_WEIGHTS, _NB_BUCKETS)
    return f"""
    WITH s AS (
      SELECT doc_id,
             COALESCE(len(regexp_extract_all(lower(text), '[a-z]+')), 0)
               AS n_words,
             CAST({nb} AS BIGINT) AS nb_micro,
             CASE WHEN doc_id % 7 = 3 THEN 1 ELSE 0 END AS label
      FROM documents WHERE text IS NOT NULL),
    m AS (
      SELECT doc_id, label, nb_micro // n_words AS margin
      FROM s WHERE n_words > 0),
    r AS (
      SELECT label, margin,
             CAST(ntile({n_bins}) OVER (ORDER BY margin DESC, doc_id ASC)
                  AS INT) AS bin
      FROM m)
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(margin) // count(*) AS BIGINT) AS mean_margin_micro,
           CAST(min(margin) AS BIGINT) AS margin_min,
           CAST(max(margin) AS BIGINT) AS margin_max,
           CAST(sum(label) AS BIGINT) AS positives,
           CAST((1000000 * sum(label)) // count(*) AS BIGINT)
             AS pos_rate_micro
    FROM r GROUP BY bin
    """


@register(
    "nb_calibration_report",
    oracle=_nb_calibration_oracle(),
    # new r12 registration — enters the r12 driver window first per
    # the registry invariant (displacing the then-alphabetically-last
    # in-window stale name into the r13 overflow; see the rotation
    # note in plans/registry.py).
    priority=80,
    doc="Classifier reliability report "
    "(operators/classifier.py:nb_calibration_report, r12; Zadrozny & "
    "Elkan 2002's reliability table in the integer-exact idiom): the "
    "calibration check a score-gated curation pipeline owes its "
    "thresholds — bin the corpus into 10 equal-count bins by "
    "per-token NB margin (truncating DIV, identical cross-engine) "
    "and report each bin's n/mean/min/max margin, positives under "
    "the pinned training target (doc_id % 7 == 3 — the SAME label "
    "the committed NB and QBC-LR artifacts were trained on), and "
    "pos_rate_micro.  Bins are exact ntile(10) derived from the "
    "banded global rank (no single-task window — the "
    "user_value_quartiles de-hazarding); scoring is the zero-shuffle "
    "map-literal scan; the narrow scored frame persists around the "
    "rank (the qbc contract).  Oracle: ntile window replay — the "
    "arithmetic bucket rule must be bit-identical to the window "
    "function.",
)
def q_nb_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.classifier import nb_calibration_report

    return nb_calibration_report(
        load_table(spark, sf_dir, "documents"),
        _NB_WEIGHTS,
        _NB_BUCKETS,
        positive=(F.col("doc_id") % 7 == 3),
        n_bins=_CAL_BINS,
    )


# ---------------------------------------------------------------------------
# IVFADC quantization-distortion report (r12)
# ---------------------------------------------------------------------------


def _ivfadc_distortion_oracle() -> str:
    m, sub = _PQ_M, 64 // _PQ_M
    cents = "[" + ", ".join(
        "[" + ", ".join(str(v) for v in c) + "]" for c in _IVFADC_CENTS
    ) + "]"
    cb = [
        "[" + ", ".join(
            "[" + ", ".join(str(v) for v in c) + "]"
            for c in _IVFADC_CODEBOOKS[s]
        ) + "]"
        for s in range(m)
    ]
    d_cols = ", ".join(
        f"""list_transform({cb[s]}, c -> list_sum(list_transform(
            range(1, {sub + 1}), j -> (r[{s * sub}+j]-c[j])*(r[{s * sub}+j]-c[j])))) AS d{s}"""
        for s in range(m)
    )
    recon = " || ".join(
        f"{cb[s]}[list_indexof(d{s}, list_min(d{s}))]" for s in range(m)
    )
    return f"""
    WITH qv AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
      FROM embeddings),
    asg AS (
      SELECT vec_id, q,
             list_transform({cents}, c -> list_sum(list_transform(
               range(1, 65), i -> (q[i]-c[i])*(q[i]-c[i])))) AS dc
      FROM qv),
    cl AS (
      SELECT vec_id, q,
             CAST(list_indexof(dc, list_min(dc)) AS INT) AS cell
      FROM asg),
    res AS (
      SELECT vec_id, cell,
             list_transform(range(1, 65),
               i -> q[i] - list_extract(list_extract({cents}, cell), i)) AS r
      FROM cl),
    d AS (SELECT vec_id, cell, r, {d_cols} FROM res),
    dec AS (SELECT vec_id, cell, r, ({recon}) AS rr FROM d),
    e AS (
      SELECT cell,
             list_sum(list_transform(range(1, 65),
               i -> (r[i]-rr[i])*(r[i]-rr[i]))) AS err
      FROM dec)
    SELECT CAST(cell - 1 AS INTEGER) AS cluster,  -- 0-based like the plan
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(err) // count(*) AS BIGINT) AS mean_err,
           CAST(max(err) AS BIGINT) AS max_err,
           CAST(sum(err) AS BIGINT) AS total_err
    FROM e GROUP BY cell
    """


@register(
    "ivfadc_distortion_report",
    oracle=_ivfadc_distortion_oracle(),
    priority=80,
    headline=True,  # promoted r13: the pinned-artifact hoist cut this
    # from 11.8 s (r12, ~90% literal-compile) to ~2 s — benching it
    # keeps the index-maintenance read path's cost on the record
    # next to the search tiers it serves
    doc="IVFADC index-health report "
    "(operators/similarity.py:ivfadc_distortion_report, r12; the "
    "operational loop Jégou §V assumes): per coarse cell, the squared "
    "error between each vector's residual and its PQ reconstruction — "
    "n/mean/max/total per cell, mean = sum DIV n (truncating, "
    "identical cross-engine).  A cell whose distortion spikes says "
    "the PINNED codebooks no longer fit that region (drift since "
    "training) and recall there sags first — this report triggers "
    "retraining.  Scale shape: assign+encode+decode+error fuse into "
    "ONE zero-shuffle scan projection over literals; the only "
    "exchange is the K-key aggregate with map-side partials (the "
    "CMS/HLL bounded-shuffle posture).  Oracle: full relational "
    "replay of assignment, residual, per-subspace argmin encode, "
    "decode and the error aggregate.",
)
def q_ivfadc_distortion_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.ivfadc_distortion_report(
        load_table(spark, sf_dir, "embeddings"),
        _IVFADC_CENTS,
        _IVFADC_CODEBOOKS,
    )


# ---------------------------------------------------------------------------
# Metadata-filtered ANN over the stored index (r13)
# ---------------------------------------------------------------------------

def _staged_ivfadc_meta_index_dir(spark: SparkSession, sf_dir: str) -> str:
    """Write-once staging of the METADATA-BEARING cluster-partitioned
    IVFADC index for ``sf_dir`` (r13): the encode frame equi-joined to
    the documents table's ``lang`` column at BUILD time, landed one
    directory per coarse cell.  Metadata written next to the codes is
    what makes filtered search a SCAN-level predicate instead of a
    query-time corpus join — the vector-DB pre-filter layout.
    Fingerprint folds the vector values AND the lang values so any
    regeneration of either table is a cache miss."""
    import os
    import tempfile

    from .streaming_queries import _evict_stale, _fingerprint

    tag = sf_dir.strip("/").replace("/", "_")
    emb = load_table(spark, sf_dir, "embeddings")
    meta = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    joined_probe = emb.join(meta, "vec_id")
    fp = _fingerprint(
        joined_probe,
        "vec_id",
        F.xxhash64(F.lit(1), F.col("embedding")),
        F.xxhash64(F.lit(2), F.col("lang")),
    )
    out = os.path.join(tempfile.gettempdir(), f"ivfadc_meta_idx_{tag}_{fp}")
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        _evict_stale(f"ivfadc_meta_idx_{tag}_", os.path.basename(out))
        coded = sim.ivfadc_encode(emb, _IVFADC_CENTS, _IVFADC_CODEBOOKS)
        sim.write_ivfadc_index(coded.join(meta, "vec_id"), out)
    return out


@register(
    "ann_filtered_search",
    oracle=_ivfadc_oracle(
        cand_filter=(
            " AND b.vec_id IN (SELECT doc_id FROM documents "
            "WHERE lang = 'en')"
        )
    ),
    priority=80,
    headline=True,  # the filtered-probe cost belongs on the record
    # next to the unfiltered pruned probe it specializes
    doc="Metadata-filtered ANN over the stored index (r13) — the "
    "vector-DB pre-filter capability: top-k restricted to vectors "
    "whose document is lang='en', queries drawn from the full "
    "corpus.  The lang column is written NEXT TO the codes at index "
    "build (one equi join at write time, staged per content "
    "fingerprint), so the query-time filter is a parquet SCAN "
    "predicate (PushedFilters) composing with the probe's partition "
    "pruning — the corpus never shuffles for the filter, unlike a "
    "query-time semi-join against a corpus-sized allowed set.  "
    "Shortlist and re-rank operate entirely within the filtered "
    "candidate set (pre-filter semantics).  Oracle: the full IVFADC "
    "relational replay with the predicate ANDed onto the candidate "
    "side — hash-exact.",
)
def q_ann_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx_dir = _staged_ivfadc_meta_index_dir(spark, sf_dir)
    return sim.ivfadc_search_pruned(
        spark,
        idx_dir,
        load_table(spark, sf_dir, "embeddings"),
        _IVFADC_CENTS,
        _IVFADC_CODEBOOKS,
        query_ids=_QUERY_IDS,
        k=5,
        nprobe=_IVFADC_NPROBE,
        shortlist=_PQ_SHORTLIST,
        index_schema=(
            "vec_id bigint, codes array<int>, lang string, cluster int"
        ),
        extra_filter=F.col("lang") == "en",
    )


def _ivfadc_nprobe_sweep_oracle(
    nprobes=(1, 2, 4, 8), k: int = 5, shortlist: int = 50
) -> str:
    """Relational replay of ivfadc_nprobe_sweep: the _ivfadc_oracle
    composition with the probe stage crossed against the tier list,
    plus the exact brute-force top-k baseline and the per-tier hit
    aggregate — recall is REPLAYED, not trusted."""
    m, sub = _PQ_M, 64 // _PQ_M
    cents = "[" + ", ".join(
        "[" + ", ".join(str(v) for v in c) + "]" for c in _IVFADC_CENTS
    ) + "]"
    n_cells = len(_IVFADC_CENTS)
    cb = [
        "[" + ", ".join(
            "[" + ", ".join(str(v) for v in c) + "]"
            for c in _IVFADC_CODEBOOKS[s]
        ) + "]"
        for s in range(m)
    ]
    d_cols = ", ".join(
        f"""list_transform({cb[s]}, c -> list_sum(list_transform(
            range(1, {sub + 1}), j -> (r[{s * sub}+j]-c[j])*(r[{s * sub}+j]-c[j])))) AS d{s}"""
        for s in range(m)
    )
    recon = " || ".join(
        f"{cb[s]}[list_indexof(d{s}, list_min(d{s}))]" for s in range(m)
    )
    tiers = ", ".join(f"({int(n)})" for n in sorted(set(nprobes)))
    n_q = len(_QUERY_IDS)
    possible = n_q * k
    return f"""
    WITH qv AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
      FROM embeddings),
    asg AS (
      SELECT vec_id, q,
             list_transform({cents}, c -> list_sum(list_transform(
               range(1, 65), i -> (q[i]-c[i])*(q[i]-c[i])))) AS dc
      FROM qv),
    cl AS (
      SELECT vec_id, q, dc,
             CAST(list_indexof(dc, list_min(dc)) AS INT) AS cell
      FROM asg),
    res AS (
      SELECT vec_id, cell,
             list_transform(range(1, 65),
               i -> q[i] - list_extract(list_extract({cents}, cell), i)) AS r
      FROM cl),
    d AS (SELECT vec_id, cell, r, {d_cols} FROM res),
    dec AS (SELECT vec_id, cell, ({recon}) AS rr FROM d),
    qs AS (SELECT vec_id AS query_id, q AS qq, dc FROM cl
           WHERE vec_id < {n_q}),
    tiers(np) AS (VALUES {tiers}),
    pr AS (
      SELECT query_id, np, j FROM (
        SELECT query_id, t.np, j,
               row_number() OVER (PARTITION BY query_id, t.np
                                  ORDER BY dc[CAST(j AS INT)], j) AS rn
        FROM qs, range(1, {n_cells + 1}) r(j), tiers t) z
      WHERE rn <= np),
    qres AS (
      SELECT p.query_id, p.np, CAST(p.j AS INT) AS cell,
             list_transform(range(1, 65),
               i -> s.qq[i]
                    - list_extract(list_extract({cents}, CAST(p.j AS INT)), i)
             ) AS qr,
             s.qq
      FROM pr p JOIN qs s ON s.query_id = p.query_id),
    adc AS (
      SELECT s.query_id, s.np, b.vec_id,
             list_sum(list_transform(range(1, 65),
               i -> (s.qr[i]-b.rr[i])*(s.qr[i]-b.rr[i]))) AS adc_d
      FROM dec b JOIN qres s ON s.cell = b.cell
      WHERE b.vec_id <> s.query_id),
    sl AS (
      SELECT query_id, np, vec_id FROM (
        SELECT query_id, np, vec_id,
               row_number() OVER (PARTITION BY query_id, np
                                  ORDER BY adc_d, vec_id) AS rn
        FROM adc) t WHERE rn <= {shortlist}),
    ex AS (
      SELECT sl.query_id, sl.np, sl.vec_id,
             CAST(list_sum(list_transform(range(1, 65),
               i -> (s.qq[i]-v.q[i])*(s.qq[i]-v.q[i]))) AS BIGINT) AS sqdist
      FROM sl
      JOIN qv v ON v.vec_id = sl.vec_id
      JOIN (SELECT DISTINCT query_id, qq FROM qres) s
        ON s.query_id = sl.query_id),
    top AS (
      SELECT query_id, np, vec_id FROM (
        SELECT query_id, np, vec_id,
               row_number() OVER (PARTITION BY query_id, np
                                  ORDER BY sqdist, vec_id) AS rn
        FROM ex) t WHERE rn <= {k}),
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT s.query_id, b.vec_id,
               row_number() OVER (PARTITION BY s.query_id
                                  ORDER BY list_sum(list_transform(
                                    range(1, 65),
                                    i -> (s.qq[i]-b.q[i])*(s.qq[i]-b.q[i]))),
                                  b.vec_id) AS rn
        FROM qs s JOIN qv b ON b.vec_id <> s.query_id) t
      WHERE rn <= {k})
    SELECT CAST(t.np AS INT) AS nprobe,
           CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS hits,
           CAST({possible} AS BIGINT) AS possible,
           CAST((1000000 * SUM(CASE WHEN e.vec_id IS NOT NULL
                                    THEN 1 ELSE 0 END)) // {possible}
                AS BIGINT) AS recall_micro
    FROM top t
    LEFT JOIN exact e
      ON e.query_id = t.query_id AND e.vec_id = t.vec_id
    GROUP BY t.np
    """


@register(
    "ivfadc_nprobe_sweep",
    oracle=_ivfadc_nprobe_sweep_oracle(),
    priority=80,
    doc="IVFADC nprobe TUNING sweep "
    "(operators/similarity.py:ivfadc_nprobe_sweep, r13) — the "
    "operating-curve report an ANN deployment reads before pinning "
    "its probe width: recall@5 of the probe+shortlist+re-rank "
    "composition vs the exact integer top-5, per nprobe in "
    "{1,2,4,8}, in ONE query.  Every tier shares one decoded-snapshot "
    "scan (the query frame crosses the literal tier list and "
    "explodes); both top-k cuts are the salted rank over a combined "
    "(tier, query) key; the exact baseline is the embed_topk "
    "broadcast scan computed once.  Integer end-to-end — recall is "
    "REPLAYED relationally (routing, ADC, shortlist, re-rank, hit "
    "join), hash-exact, completing the index-ops story: build -> "
    "probe -> filter -> maintain -> retrain -> tune.",
)
def q_ivfadc_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sim.ivfadc_nprobe_sweep(
        load_table(spark, sf_dir, "embeddings"),
        _IVFADC_CENTS,
        _IVFADC_CODEBOOKS,
        query_ids=_QUERY_IDS,
        nprobes=(1, 2, 4, 8),
        k=5,
        shortlist=_PQ_SHORTLIST,
    )


# ---------------------------------------------------------------------------
# r14: quantile sketch, hybrid retrieval fusion, SCD2 change history
# ---------------------------------------------------------------------------

from ..operators import quantiles as qa  # noqa: E402
from ..operators.relational_ext import scd2_intervals  # noqa: E402
from ..operators.retrieval import rrf_fuse  # noqa: E402

_QSK_QS = [1, 5, 25, 50, 75, 90, 95, 99, 100]
_QSK_M = 16
_QSK_CENTS_SQL = "CAST(FLOOR(value * 1000) AS BIGINT)"


def _value_quantile_sketch_oracle() -> str:
    e_x, sub_x = qa.log_bucket_sql("c", _QSK_M)
    rep = qa.bucket_rep_sql("e", "sub", _QSK_M)
    qvals = ", ".join(f"({q})" for q in _QSK_QS)
    return f"""
    WITH vals AS (
      SELECT {_QSK_CENTS_SQL} AS c FROM events WHERE value IS NOT NULL),
    tot AS (SELECT count(*) AS n FROM vals),
    qs(q_pct) AS (VALUES {qvals}),
    tgt AS (SELECT CAST(q_pct AS INT) AS q_pct,
                   (q_pct * n + 99) // 100 AS r FROM qs, tot),
    ranked AS (SELECT c, row_number() OVER (ORDER BY c) AS rn FROM vals),
    exact AS (SELECT q_pct, c AS exact_mils FROM tgt
              JOIN ranked ON rn = r),
    bux AS (SELECT {e_x} AS e, {sub_x} AS sub, count(*) AS cnt
            FROM vals GROUP BY 1, 2),
    cum AS (SELECT e, sub, cnt,
                   sum(cnt) OVER (ORDER BY e, sub
                                  ROWS UNBOUNDED PRECEDING) AS cum
            FROM bux),
    hit AS (
      SELECT q_pct, e, sub FROM (
        SELECT t.q_pct, c2.e, c2.sub,
               row_number() OVER (PARTITION BY t.q_pct
                                  ORDER BY c2.e, c2.sub) AS pick
        FROM tgt t JOIN cum c2 ON c2.cum >= t.r) z
      WHERE pick = 1),
    sk AS (SELECT q_pct, {rep} AS sketch_mils FROM hit)
    SELECT e.q_pct, e.exact_mils, s.sketch_mils,
           ABS(e.exact_mils - s.sketch_mils) AS abs_err_mils
    FROM exact e JOIN sk s USING (q_pct)
    """


@register(
    "value_quantile_sketch",
    oracle=_value_quantile_sketch_oracle(),
    headline=True,
    priority=80,  # entered via _R14_ROTATION (new registration tier)
    doc="Log-bucket quantile sketch vs banded exact quantiles "
    "(operators/quantiles.py, r14): events.value quantized to integer "
    "mils (the FLOOR(value*1000) corpus convention), sketched into a "
    "DDSketch-flavored (e=floor(log2), m=16 sub-buckets) histogram — "
    "one map-side-combined aggregate whose exchange carries <= "
    "(48+1)*16+1 rows regardless of corpus size, MERGEABLE by "
    "count-sum (pytest pins shard-merge == whole-corpus) — and cut at "
    "9 quantiles; next to it the EXACT discrete quantiles computed "
    "WITHOUT a global sort by the prune-and-pick pattern: the sketch "
    "buckets double as range bands, cumulative counts locate the one "
    "bucket holding each target rank, and only that bucket's rows are "
    "re-ranked (window sized by bucket population, never the corpus). "
    "No float log anywhere — the exponent is a literal-folded integer "
    "CASE ladder, so Spark and DuckDB bucket bit-identically; every "
    "output column is integer (q_pct, exact_mils, sketch_mils, "
    "abs_err_mils), hash-exact.  The measured abs_err column IS the "
    "<=1/m relative-error contract, driver-checked.",
)
def q_value_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    mils = F.floor(F.col("value") * 1000).cast("long")
    # ONE checkpointed sketch (bounded <= (48+1)*16+1 rows) feeds both
    # the estimate branch and the exact prune-and-pick — the corpus is
    # scanned twice total (sketch + in-band read-back) instead of 8x
    # (optimization r17, guide §2.4; before/after plans in plans/r17/)
    sk = qa.quantile_sketch(ev, mils, m=_QSK_M).localCheckpoint()
    est = qa.sketch_quantiles(sk, _QSK_QS, m=_QSK_M, materialize=False)
    exact = qa.exact_quantiles_banded(
        ev, mils, _QSK_QS, m=_QSK_M, sketch=sk
    )
    return exact.join(est, "q_pct").select(
        "q_pct",
        F.col("exact_cents").alias("exact_mils"),
        F.col("sketch_cents").alias("sketch_mils"),
        F.abs(F.col("exact_cents") - F.col("sketch_cents")).alias(
            "abs_err_mils"
        ),
    )


#: Hybrid-retrieval query bags: query_id = the vec_id whose embedding
#: is the dense side; terms = the lexical side.  idf pinned from
#: train_bm25_stats(documents@sf0.001, union of bags) — same corpus
#: and convention as _BM25_MODEL (n_docs/avgdl identical by
#: construction, re-derivation pinned by test_hybrid_bm25_provenance).
_HYBRID_QUERIES: dict[int, list[str]] = {
    0: ["scan", "merge", "sort"],
    1: ["vector", "spark", "stream"],
    2: ["customer", "window", "batch"],
}
_HYBRID_IDF_MICRO: dict[str, int] = {
    "scan": 211485,
    "merge": 216430,
    "sort": 218911,
    "vector": 262065,
    "spark": 256890,
    "stream": 238987,
    "customer": 233930,
    "window": 206565,
    "batch": 259474,
}
_HYBRID_TIER_N = 20
_HYBRID_K = 10
_HYBRID_RRF_C = 60


def _hybrid_bm25_score_sql(terms: list[str]) -> str:
    """BM25 score expression over the oracle's ``scored`` CTE rows."""
    parts = []
    for t in terms:
        tf = f"CAST(len(list_filter(ws, w -> w = {_sq(t)})) AS DOUBLE)"
        u = _HYBRID_IDF_MICRO[t]
        parts.append(
            f"(({u} / 1000000.0) * ({tf} * {_BM25_K1 + 1.0!r})"
            f" / ({tf} + norm))"
        )
    return "\n             + ".join(parts)


def _hybrid_rrf_oracle() -> str:
    avgdl = _BM25_MODEL["avgdl_micro"]
    lex_selects = "\n      UNION ALL ".join(
        f"SELECT {qid} AS query_id, doc_id, "
        f"round({_hybrid_bm25_score_sql(terms)}, 6) AS bm25 FROM scored"
        for qid, terms in sorted(_HYBRID_QUERIES.items())
    )
    qids = ", ".join(str(q) for q in sorted(_HYBRID_QUERIES))
    return f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         w -> w <> '') AS ws
      FROM documents WHERE text IS NOT NULL),
    scored AS (
      SELECT doc_id, ws,
             {_BM25_K1!r} * ({1.0 - _BM25_B!r}
               + {_BM25_B!r} * CAST(len(ws) AS DOUBLE)
                 / ({avgdl} / 1000000.0)) AS norm
      FROM toks WHERE len(ws) > 0),
    lex AS (
      {lex_selects}),
    lexr AS (
      SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY bm25 DESC, doc_id ASC) AS INTEGER) AS rank
      FROM lex WHERE doc_id <> query_id),
    base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM base
          WHERE vec_id IN ({qids})),
    den AS (
      SELECT q.query_id, b.vec_id AS doc_id,
             round(list_cosine_similarity(qv, v), 6) AS cos
      FROM base b CROSS JOIN q WHERE b.vec_id <> q.query_id),
    denr AS (
      SELECT query_id, doc_id,
             CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, doc_id ASC) AS INTEGER) AS rank
      FROM den),
    contrib AS (
      SELECT query_id, doc_id,
             1000000000 // ({_HYBRID_RRF_C} + rank) AS rrf
      FROM lexr WHERE rank <= {_HYBRID_TIER_N}
      UNION ALL
      SELECT query_id, doc_id,
             1000000000 // ({_HYBRID_RRF_C} + rank)
      FROM denr WHERE rank <= {_HYBRID_TIER_N}),
    fused AS (
      SELECT query_id, doc_id, CAST(sum(rrf) AS BIGINT) AS rrf_micro
      FROM contrib GROUP BY 1, 2)
    SELECT query_id, doc_id, rrf_micro,
           CAST(row_number() OVER (PARTITION BY query_id
                  ORDER BY rrf_micro DESC, doc_id ASC) AS INTEGER) AS rank
    FROM fused
    QUALIFY rank <= {_HYBRID_K}
    """


@register(
    "hybrid_rrf_search",
    oracle=_hybrid_rrf_oracle(),
    headline=True,
    priority=80,  # entered via _R14_ROTATION (new registration tier)
    doc="Hybrid retrieval with reciprocal-rank fusion "
    "(operators/retrieval.py:rrf_fuse, Cormack et al. 2009 — the "
    "standard lexical+dense combiner behind RAG retrieval stacks): "
    "per hybrid query (a pinned term bag + the same id's embedding), "
    "tier 1 scores BM25 for ALL query bags in ONE corpus scan (the "
    "per-bag scores stack through an exploded struct array — no "
    "per-query re-scan) and top-20s per query via the salted "
    "two-stage rank; tier 2 is the exact-cosine top-20 (broadcast "
    "query frame, corpus never shuffles).  Fusion unions the tiers "
    "and sums 1e9 DIV (60+rank) integer micro-contributions per "
    "(query, doc) — missing-from-a-tier contributes 0, no join — then "
    "cuts the fused top-10.  Integer fusion scores and pinned idf "
    "micro-nats make every stage engine-exact; the oracle replays "
    "both tiers and the fusion relationally.  At 100 TB the corpus "
    "cost is the two tier scans (both pruned before fusion: fusion "
    "sees O(|queries| x 20 x 2) rows only).",
)
def q_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.retrieval import _toks
    from ..operators.similarity import _topk_per_query, cosine_topk

    docs = load_table(spark, sf_dir, "documents")
    toks = _toks(F.col("text"))
    base = docs.filter(F.col("text").isNotNull()).select(
        F.col("doc_id"), toks.alias("_toks")
    ).filter(F.size("_toks") > 0)
    avgdl = float(_BM25_MODEL["avgdl_micro"]) / 1e6
    # the per-(query, term) score array as ONE SQL string (optimization
    # r18, guide §4): the Column form built 9 F.filter lambdas + ~100
    # arithmetic Column nodes per construct, each a py4j round-trip;
    # the SQL text parses JVM-side in one call and analyzes to the same
    # operators (double literals via repr — exact round-trip — so the
    # float arithmetic order and values are bit-identical; parity held
    # by the unchanged oracle hash).
    dl_s = "CAST(size(_toks) AS DOUBLE)"
    norm_s = (
        f"{_BM25_K1!r}D * ({(1.0 - _BM25_B)!r}D + {_BM25_B!r}D "
        f"* {dl_s} / {avgdl!r}D)"
    )
    entries = []
    for qid, terms in sorted(_HYBRID_QUERIES.items()):
        score = None
        for t in terms:
            tf = f"CAST(size(filter(_toks, w -> w = {t!r})) AS DOUBLE)"
            part = (
                f"{float(_HYBRID_IDF_MICRO[t]) / 1e6!r}D"
                f" * ({tf} * {_BM25_K1 + 1.0!r}D) / ({tf} + {norm_s})"
            )
            score = part if score is None else f"{score} + {part}"
        entries.append(
            f"named_struct('query_id', {int(qid)}, "
            f"'bm25', round({score}, 6))"
        )
    lex_scored = (
        base.select(
            F.col("doc_id").alias("vec_id"),
            F.explode(F.expr("array(" + ",".join(entries) + ")")).alias("_q"),
        )
        .select(
            F.col("_q.query_id").alias("query_id"),
            "vec_id",
            F.col("_q.bm25").alias("bm25"),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    lex_rank = _topk_per_query(
        lex_scored, _HYBRID_TIER_N, order_col="bm25"
    ).select("query_id", F.col("vec_id").alias("doc_id"), "rank")
    dense_rank = cosine_topk(
        load_table(spark, sf_dir, "embeddings"),
        query_ids=sorted(_HYBRID_QUERIES),
        k=_HYBRID_TIER_N,
    ).select("query_id", F.col("vec_id").alias("doc_id"), "rank")
    return rrf_fuse(
        [lex_rank, dense_rank], k=_HYBRID_K, c=_HYBRID_RRF_C
    )


@register(
    "scd2_event_history",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS NOT DISTINCT FROM event_type
                       AND row_number() OVER w > 1
                  THEN 0 ELSE 1 END AS chg
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    i AS (
      SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS island
      FROM o),
    runs AS (
      SELECT user_id, island, min(event_type) AS event_type,
             min(ts) AS valid_from, CAST(count(*) AS BIGINT) AS n_obs
      FROM i GROUP BY 1, 2),
    fin AS (
      SELECT user_id, event_type, valid_from,
             lead(valid_from) OVER (PARTITION BY user_id
                                    ORDER BY island) AS valid_to,
             n_obs
      FROM runs)
    SELECT user_id, event_type, valid_from, valid_to,
           valid_to IS NULL AS is_current, n_obs
    FROM fin
    """,
    priority=80,  # entered via _R14_ROTATION (new registration tier)
    doc="SCD Type-2 change history "
    "(operators/relational_ext.py:scd2_intervals, r14): the "
    "dimension-history builder — each user's event-type run-lengths "
    "collapse into validity intervals (valid_from, valid_to, "
    "is_current, n_obs) via the gaps-and-islands formulation, the "
    "capability a warehouse gets from Delta/Hudi MERGE-with-history "
    "and core Spark lacks.  ONE exchange on user_id serves the "
    "change-flag lag, the island running sum AND the island groupBy "
    "(hashpartitioning(user_id) satisfies the (user_id, island) "
    "clustering); only the collapsed O(runs) frame shuffles again for "
    "the lead.  Total order within a key is (ts, event_id) — unique "
    "tie-break, so runs and the output are deterministic.  No per-key "
    "collect: a hot user's history never has to fit in one executor.",
)
def q_scd2_event_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = scd2_intervals(ev, "user_id", "event_type", "ts", "event_id")
    return out.select(
        F.col("key").alias("user_id"),
        F.col("attr").alias("event_type"),
        "valid_from",
        "valid_to",
        "is_current",
        "n_obs",
    )


_DQS_QS = [25, 50, 75, 95]


def _doclen_quantiles_oracle() -> str:
    e_x, sub_x = qa.log_bucket_sql("c", _QSK_M)
    rep = qa.bucket_rep_sql("e", "sub", _QSK_M)
    qvals = ", ".join(f"({q})" for q in _DQS_QS)
    return f"""
    WITH vals AS (
      SELECT source, CAST(n_chars AS BIGINT) AS c FROM documents
      WHERE n_chars IS NOT NULL),
    tot AS (SELECT source, count(*) AS n FROM vals GROUP BY 1),
    qs(q_pct) AS (VALUES {qvals}),
    tgt AS (SELECT source, CAST(q_pct AS INT) AS q_pct,
                   (q_pct * n + 99) // 100 AS r FROM qs, tot),
    ranked AS (SELECT source, c,
                      row_number() OVER (PARTITION BY source
                                         ORDER BY c) AS rn
               FROM vals),
    exact AS (SELECT t.source, t.q_pct, k.c AS exact_chars
              FROM tgt t JOIN ranked k
                ON k.source = t.source AND k.rn = t.r),
    bux AS (SELECT source, {e_x} AS e, {sub_x} AS sub, count(*) AS cnt
            FROM vals GROUP BY 1, 2, 3),
    cum AS (SELECT source, e, sub, cnt,
                   sum(cnt) OVER (PARTITION BY source ORDER BY e, sub
                                  ROWS UNBOUNDED PRECEDING) AS cum
            FROM bux),
    hit AS (
      SELECT source, q_pct, e, sub FROM (
        SELECT t.source, t.q_pct, c2.e, c2.sub,
               row_number() OVER (PARTITION BY t.source, t.q_pct
                                  ORDER BY c2.e, c2.sub) AS pick
        FROM tgt t JOIN cum c2
          ON c2.source = t.source AND c2.cum >= t.r) z
      WHERE pick = 1),
    sk AS (SELECT source, q_pct, {rep} AS sketch_chars FROM hit)
    SELECT e.source, e.q_pct, e.exact_chars, s.sketch_chars,
           ABS(e.exact_chars - s.sketch_chars) AS abs_err_chars
    FROM exact e JOIN sk s
      ON s.source = e.source AND s.q_pct = e.q_pct
    """


@register(
    "doclen_quantiles_by_source",
    oracle=_doclen_quantiles_oracle(),
    priority=80,  # entered via _R14_ROTATION (new registration tier)
    doc="GROUPED quantile telemetry (operators/quantiles.py with "
    "group_cols, r14): per-source document-length quartiles + p95 — "
    "the length-distribution cut a corpus profiler reads per "
    "ingestion source before mixing.  The grouped form keys the "
    "sketch by the low-cardinality dimension, so every frame stays "
    "bounded at |sources| x sketch rows; the bucket-locate join "
    "becomes EQUI on the group key (+ the non-equi rank residual as a "
    "join filter), and the exact prune-and-pick re-ranks within "
    "(source, quantile, bucket) window partitions — per-group exact "
    "quantiles WITHOUT per-group global sorts (the hot-group window "
    "hazard the banded-rank family exists to avoid).  All-integer "
    "output, hash-exact.",
)
def q_doclen_quantiles_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    chars = F.col("n_chars").cast("long")
    # one checkpointed sketch shared by both branches (r17, guide §2.4)
    sk = qa.quantile_sketch(
        docs, chars, m=_QSK_M, group_cols=("source",)
    ).localCheckpoint()
    est = qa.sketch_quantiles(
        sk, _DQS_QS, m=_QSK_M, group_cols=("source",), materialize=False
    )
    exact = qa.exact_quantiles_banded(
        docs, chars, _DQS_QS, m=_QSK_M, group_cols=("source",), sketch=sk
    )
    return exact.join(est, ["source", "q_pct"]).select(
        "source",
        "q_pct",
        F.col("exact_cents").alias("exact_chars"),
        F.col("sketch_cents").alias("sketch_chars"),
        F.abs(F.col("exact_cents") - F.col("sketch_cents")).alias(
            "abs_err_chars"
        ),
    )


def _doclen_quantiles_weighted_oracle() -> str:
    e_x, sub_x = qa.log_bucket_sql("c", _QSK_M)
    rep = qa.bucket_rep_sql("e", "sub", _QSK_M)
    qvals = ", ".join(f"({q})" for q in _DQS_QS)
    return f"""
    WITH vals AS (
      SELECT source, CAST(n_chars AS BIGINT) AS c,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS w
      FROM documents WHERE n_chars IS NOT NULL AND text IS NOT NULL),
    tot AS (SELECT source, sum(w) AS n FROM vals GROUP BY 1),
    qs(q_pct) AS (VALUES {qvals}),
    tgt AS (SELECT source, CAST(q_pct AS INT) AS q_pct,
                   (q_pct * n + 99) // 100 AS r FROM qs, tot),
    vhist AS (SELECT source, c, sum(w) AS w FROM vals GROUP BY 1, 2),
    vcum AS (SELECT source, c,
                    sum(w) OVER (PARTITION BY source ORDER BY c
                                 ROWS UNBOUNDED PRECEDING) AS cw
             FROM vhist),
    exact AS (SELECT t.source, t.q_pct, min(v.c) AS exact_chars_w
              FROM tgt t JOIN vcum v
                ON v.source = t.source AND v.cw >= t.r
              GROUP BY 1, 2),
    bux AS (SELECT source, {e_x} AS e, {sub_x} AS sub, sum(w) AS cnt
            FROM vals GROUP BY 1, 2, 3),
    cum AS (SELECT source, e, sub, cnt,
                   sum(cnt) OVER (PARTITION BY source ORDER BY e, sub
                                  ROWS UNBOUNDED PRECEDING) AS cum
            FROM bux),
    hit AS (
      SELECT source, q_pct, e, sub FROM (
        SELECT t.source, t.q_pct, c2.e, c2.sub,
               row_number() OVER (PARTITION BY t.source, t.q_pct
                                  ORDER BY c2.e, c2.sub) AS pick
        FROM tgt t JOIN cum c2
          ON c2.source = t.source AND c2.cum >= t.r) z
      WHERE pick = 1),
    sk AS (SELECT source, q_pct, {rep} AS sketch_chars_w FROM hit)
    SELECT e.source, e.q_pct, e.exact_chars_w, s.sketch_chars_w,
           ABS(e.exact_chars_w - s.sketch_chars_w) AS abs_err_chars
    FROM exact e JOIN sk s
      ON s.source = e.source AND s.q_pct = e.q_pct
    """


@register(
    "doclen_quantiles_weighted",
    oracle=_doclen_quantiles_weighted_oracle(),
    priority=80,  # entered via _R15_ROTATION (new registration tier)
    doc="TOKEN-MASS-WEIGHTED document-length quantiles per source "
    "(r15, r14 verdict #8): every count in the sketch, rank targets "
    "and exact prune-and-pick becomes a whitespace-token weight sum, "
    "so q_pct=50 answers 'the document length below which half the "
    "TOKENS live' — the cut a token-denominated training-budget "
    "planner actually consults (long docs dominate token mass; the "
    "unweighted median wildly understates it).  Exact + sketch + "
    "error columns, all-integer, same bounded plan shape as "
    "doclen_quantiles_by_source; the weighted sketch stays mergeable "
    "(weight sums add — pytest-pinned associativity).  r16 (r15 "
    "verdict #6): runs with the ABSOLUTE per-task bound enabled "
    "(max_band_rows=4096), so the adaptive re-slicing path — not "
    "just the lazy single-level plan — is what the oracle "
    "hash-checks; with real data the loop exits after its first "
    "bounded count, and the point-mass fixture that forces extra "
    "levels is pytest-pinned (test_exact_banded_adaptive_"
    "refinement_bound).  Negative token weights now fail loudly at "
    "scan time (_guarded_weight, ADVICE r15).",
)
def q_doclen_quantiles_weighted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    chars = F.col("n_chars").cast("long")
    toks = F.size(F.split(F.trim(F.col("text")), "\\s+")).cast("long")
    # one checkpointed weighted sketch shared by both branches (r17,
    # guide §2.4 — same weight/NULL conventions on both paths)
    sk = qa.quantile_sketch(
        docs, chars, m=_QSK_M, group_cols=("source",), weight_col=toks
    ).localCheckpoint()
    est = qa.sketch_quantiles(
        sk, _DQS_QS, m=_QSK_M, group_cols=("source",), materialize=False
    )
    exact = qa.exact_quantiles_banded(
        docs, chars, _DQS_QS, m=_QSK_M, group_cols=("source",),
        weight_col=toks, max_band_rows=4096, sketch=sk,
    )
    return exact.join(est, ["source", "q_pct"]).select(
        "source",
        "q_pct",
        F.col("exact_cents").alias("exact_chars_w"),
        F.col("sketch_cents").alias("sketch_chars_w"),
        F.abs(F.col("exact_cents") - F.col("sketch_cents")).alias(
            "abs_err_chars"
        ),
    )


_IVM_CUT = "2024-01-15 00:00:00"


def _incremental_rollup_oracle() -> str:
    e_x, sub_x = qa.log_bucket_sql("c", _QSK_M)
    rep = qa.bucket_rep_sql("e", "sub", _QSK_M)
    return f"""
    WITH vals AS (
      SELECT event_type, {_QSK_CENTS_SQL} AS c FROM events
      WHERE value IS NOT NULL),
    agg AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(c) AS BIGINT) AS sum_mils,
             min(c) AS min_mils, max(c) AS max_mils
      FROM vals GROUP BY 1),
    tot AS (SELECT event_type, count(*) AS n FROM vals GROUP BY 1),
    tgt AS (SELECT event_type, (50 * n + 99) // 100 AS r FROM tot),
    bux AS (SELECT event_type, {e_x} AS e, {sub_x} AS sub,
                   count(*) AS cnt
            FROM vals GROUP BY 1, 2, 3),
    cum AS (SELECT event_type, e, sub, cnt,
                   sum(cnt) OVER (PARTITION BY event_type
                                  ORDER BY e, sub
                                  ROWS UNBOUNDED PRECEDING) AS cum
            FROM bux),
    hit AS (
      SELECT event_type, e, sub FROM (
        SELECT t.event_type, c2.e, c2.sub,
               row_number() OVER (PARTITION BY t.event_type
                                  ORDER BY c2.e, c2.sub) AS pick
        FROM tgt t JOIN cum c2
          ON c2.event_type = t.event_type AND c2.cum >= t.r) z
      WHERE pick = 1),
    sk AS (SELECT event_type, {rep} AS p50_sketch_mils FROM hit)
    SELECT a.event_type, a.n_events, a.sum_mils, a.min_mils,
           a.max_mils, s.p50_sketch_mils
    FROM agg a JOIN sk s ON s.event_type = a.event_type
    """


@register(
    "incremental_rollup_merge",
    oracle=_incremental_rollup_oracle(),
    priority=80,  # entered via _R14_ROTATION (new registration tier)
    doc="Incremental-view-maintenance rollup (r14): the per-type "
    "daily-rollup state (count, sum, min, max, p50-sketch buckets) is "
    "computed SEPARATELY for the base slice (ts < "
    f"{_IVM_CUT}) and the delta slice, then MERGED state-to-state — "
    "counts/sums add, min/max fold, sketch buckets add via "
    "merge_sketches(group_cols) — and the p50 is cut from the MERGED "
    "buckets.  Because every state is a commutative monoid, merged == "
    "full recompute EXACTLY, and the oracle IS the full recompute: a "
    "hash match proves the maintenance path (a 100 TB rollup absorbs "
    "a day's delta without rescanning history — the mergeable-state "
    "contract the HLL/CMS/quantile sketches were built to serve, here "
    "driver-checked end-to-end).  All-integer output.",
)
def q_incremental_rollup_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .withColumn("_mils", F.floor(F.col("value") * 1000).cast("long"))
    )
    cut = F.lit(_IVM_CUT).cast("timestamp")
    # delta is the exact COMPLEMENT of base (ADVICE r14): a NULL ts
    # fails both `ts < cut` and `ts >= cut`, so naive two-predicate
    # routing would silently drop it from the merged state while the
    # oracle (which filters only on value) still counts it.  Routing
    # NULL ts into the delta keeps merged == full recompute for any
    # corpus, not just ts-non-null ones.
    base = ev.filter(F.col("ts") < cut)
    delta = ev.filter((F.col("ts") >= cut) | F.col("ts").isNull())

    def _state(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("_mils").alias("s"),
            F.min("_mils").alias("mn"),
            F.max("_mils").alias("mx"),
        )

    merged = (
        _state(base)
        .unionByName(_state(delta))
        .groupBy("event_type")
        .agg(
            F.sum("cnt").alias("n_events"),
            F.sum("s").alias("sum_mils"),
            F.min("mn").alias("min_mils"),
            F.max("mx").alias("max_mils"),
        )
    )
    mk = ("event_type",)
    msk = qa.merge_sketches(
        qa.quantile_sketch(base, F.col("_mils"), m=_QSK_M, group_cols=mk),
        qa.quantile_sketch(delta, F.col("_mils"), m=_QSK_M, group_cols=mk),
        group_cols=mk,
    )
    p50 = qa.sketch_quantiles(msk, [50], m=_QSK_M, group_cols=mk).select(
        "event_type", F.col("sketch_cents").alias("p50_sketch_mils")
    )
    return merged.join(p50, "event_type")


#: Pinned retraction cut for the rollup delete-side proof: every event
#: at or after this timestamp is "taken down" (a GDPR purge / bad-data
#: rollback of the last ~6 days — ~20% of rows, touching all 5 types).
_ROLLBACK_TS = "2024-01-25 00:00:00"


@register(
    "rollup_retraction",
    oracle=_incremental_rollup_oracle().replace(
        "WHERE value IS NOT NULL",
        "WHERE value IS NOT NULL AND (ts < TIMESTAMP "
        f"'{_ROLLBACK_TS}' OR ts IS NULL)",
        1,
    ),
    priority=80,  # enters via the r16 rotation (new registration tier)
    doc="Rollup-state RETRACTION (r16 — the delete side of "
    "incremental_rollup_merge, completing the IVM delete story across "
    "all three state families: rollup states here, component labels "
    "via dedup_retraction, index rows via index_tombstone_delete).  "
    f"Events at ts >= {_ROLLBACK_TS} are rolled back from the per-type "
    "state.  The INVERTIBLE parts subtract exactly — counts and sums "
    "are an abelian group, and sketch buckets retract via "
    "subtract_sketches (the delete direction of merge_sketches, with "
    "a loud over-retraction guard) — no rescan of history.  min/max "
    "are NOT invertible (retracting the minimum needs the runner-up), "
    "the classic deletable-aggregate gap: they re-derive with ONE "
    "bounded re-aggregation over the SURVIVING rows of exactly the "
    "touched groups (broadcast semi-join; at 100 TB the scan "
    "partition-prunes to the touched groups' dates).  Groups emptied "
    "by the retraction vanish.  The oracle is the full recompute "
    "over surviving events: the hash match proves subtract-plus-"
    "bounded-rederive == recompute, exactly.",
)
def q_rollup_retraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .withColumn("_mils", F.floor(F.col("value") * 1000).cast("long"))
    )
    cut = F.lit(_ROLLBACK_TS).cast("timestamp")
    removed = ev.filter(F.col("ts") >= cut)
    # exact complement: NULL ts never matches ts >= cut, so it SURVIVES
    # (the incremental_rollup_merge NULL-routing lesson, mirrored)
    surviving = ev.filter((F.col("ts") < cut) | F.col("ts").isNull())

    def _state(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("_mils").alias("s"),
            F.min("_mils").alias("mn"),
            F.max("_mils").alias("mx"),
        )

    # the full-corpus state is the in-query stand-in for the persisted
    # rollup artifact (the incremental_rollup_merge convention)
    state = _state(ev)
    # bounded (<= |event_type| rows) and referenced twice (the scalar
    # subtraction AND the touched-group semi-join) — checkpoint so the
    # removed-slice scan runs once (r17, guide §2.4)
    rstate = _state(removed).select(
        "event_type",
        F.col("cnt").alias("_rc"),
        F.col("s").alias("_rs"),
    ).localCheckpoint()
    scal = (
        state.join(rstate, "event_type", "left")
        .select(
            "event_type",
            (F.col("cnt") - F.coalesce("_rc", F.lit(0))).alias("n_events"),
            (F.col("s") - F.coalesce("_rs", F.lit(0))).alias("sum_mils"),
            "mn",
            "mx",
            F.col("_rc").isNotNull().alias("_touched"),
        )
        .filter(F.col("n_events") > 0)
    )
    # min/max re-derive over the surviving rows of TOUCHED groups only
    touched = rstate.select("event_type")
    mm = (
        surviving.join(F.broadcast(touched), "event_type")
        .groupBy("event_type")
        .agg(F.min("_mils").alias("_nmn"), F.max("_mils").alias("_nmx"))
    )
    scal = scal.join(mm, "event_type", "left").select(
        "event_type",
        "n_events",
        "sum_mils",
        F.when(F.col("_touched"), F.col("_nmn"))
        .otherwise(F.col("mn"))
        .alias("min_mils"),
        F.when(F.col("_touched"), F.col("_nmx"))
        .otherwise(F.col("mx"))
        .alias("max_mils"),
    )
    mk = ("event_type",)
    sk = qa.subtract_sketches(
        qa.quantile_sketch(ev, F.col("_mils"), m=_QSK_M, group_cols=mk),
        qa.quantile_sketch(
            removed, F.col("_mils"), m=_QSK_M, group_cols=mk
        ),
        group_cols=mk,
    )
    p50 = qa.sketch_quantiles(sk, [50], m=_QSK_M, group_cols=mk).select(
        "event_type", F.col("sketch_cents").alias("p50_sketch_mils")
    )
    return scal.join(p50, "event_type")


def _sketch_rollup_oracle() -> str:
    e_x, sub_x = qa.log_bucket_sql("c", _QSK_M)
    rep = qa.bucket_rep_sql("e", "sub", _QSK_M)
    return f"""
    WITH vals AS (
      SELECT CAST(time_bucket(INTERVAL 1 DAY, ts) AS TIMESTAMP) AS day,
             {_QSK_CENTS_SQL} AS c
      FROM events WHERE value IS NOT NULL),
    tot AS (SELECT day, count(*) AS n FROM vals GROUP BY 1),
    qs(q_pct) AS (VALUES (50), (95)),
    tgt AS (SELECT day, CAST(q_pct AS INT) AS q_pct,
                   (q_pct * n + 99) // 100 AS r FROM qs, tot),
    bux AS (SELECT day, {e_x} AS e, {sub_x} AS sub, count(*) AS cnt
            FROM vals GROUP BY 1, 2, 3),
    cum AS (SELECT day, e, sub, cnt,
                   sum(cnt) OVER (PARTITION BY day ORDER BY e, sub
                                  ROWS UNBOUNDED PRECEDING) AS cum
            FROM bux),
    hit AS (
      SELECT day, q_pct, e, sub FROM (
        SELECT t.day, t.q_pct, c2.e, c2.sub,
               row_number() OVER (PARTITION BY t.day, t.q_pct
                                  ORDER BY c2.e, c2.sub) AS pick
        FROM tgt t JOIN cum c2
          ON c2.day = t.day AND c2.cum >= t.r) z
      WHERE pick = 1)
    SELECT day, q_pct, {rep} AS sketch_mils FROM hit
    """


@register(
    "sketch_rollup_daily",
    oracle=_sketch_rollup_oracle(),
    priority=80,  # entered via _R14_ROTATION (new registration tier)
    doc="Sketch ROLLUP-ON-READ (r14): hourly quantile-sketch bucket "
    "counts — the exact frame streaming_quantile_sketch persists per "
    "window — re-keyed to day and MERGED by count-sum, then p50/p95 "
    "cut per day from the merged buckets.  This executes the claim "
    "the windowed sketch makes: daily/weekly percentile rollups come "
    "from stored per-window counters WITHOUT reprocessing raw events "
    "(at 100 TB the raw scan happens once at ingest; every subsequent "
    "granularity is an O(windows x sketch)-row aggregation).  The "
    "oracle computes the daily cut DIRECTLY from raw events — the "
    "hash match is the associativity proof that hour->day merging "
    "loses nothing.  All-integer output columns on a TIMESTAMP day "
    "key.",
)
def q_sketch_rollup_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .withColumn("hour", F.date_trunc("hour", F.col("ts")))
        .withColumn("_mils", F.floor(F.col("value") * 1000).cast("long"))
    )
    hourly = qa.quantile_sketch(
        ev, F.col("_mils"), m=_QSK_M, group_cols=("hour",)
    )
    daily = (
        hourly.withColumn("day", F.date_trunc("day", F.col("hour")))
        .groupBy("day", "e", "sub")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return qa.sketch_quantiles(
        daily, [50, 95], m=_QSK_M, group_cols=("day",)
    ).select("day", "q_pct", F.col("sketch_cents").alias("sketch_mils"))


# ---------------------------------------------------------------------------
# r17: takedown capstone — the delete story composed across all four
# state families (r16 verdict #2)
# ---------------------------------------------------------------------------

from .registry import QUERIES  # noqa: E402

#: The takedown event's user-side cut: user_id % 9 == 4 erases 17 of
#: the 150 sf0.01 users (1088 event rows, all 5 event types) and —
#: probed against the testdata before pinning, the r16 convention —
#: removes a per-type group extremum, so the rollup family exercises
#: its bounded min/max re-derive, not just the invertible subtracts.
#: The doc-side cut reuses _RETRACT_MOD (doc_id % 7 == 0): r16 probed
#: it to retract 8 of the 51 labeled sf0.01 docs including 2 component
#: minima (the relabel path) — so both content and activity erasure
#: hit their hard paths.
_TD_USER_MOD, _TD_USER_REM = 9, 4

#: The unified takedown output frame: one row set per state family,
#: family-specific columns, typed NULLs elsewhere (name, spark_type,
#: duckdb_type).  Both engines build the SAME wide schema so the
#: driver's sorted-column value hash covers every family at once.
_TD_COLS: list[tuple[str, str, str]] = [
    ("doc_id", "bigint", "BIGINT"),
    ("component_id", "bigint", "BIGINT"),
    ("query_id", "bigint", "BIGINT"),
    ("vec_id", "bigint", "BIGINT"),
    ("sqdist", "bigint", "BIGINT"),
    ("rank", "int", "INTEGER"),
    ("event_type", "string", "VARCHAR"),
    ("n_events", "bigint", "BIGINT"),
    ("sum_mils", "bigint", "BIGINT"),
    ("min_mils", "bigint", "BIGINT"),
    ("max_mils", "bigint", "BIGINT"),
    ("p50_sketch_mils", "bigint", "BIGINT"),
    ("user_id", "bigint", "BIGINT"),
    ("valid_from", "timestamp", "TIMESTAMP"),
    ("valid_to", "timestamp", "TIMESTAMP"),
    ("is_current", "boolean", "BOOLEAN"),
    ("n_obs", "bigint", "BIGINT"),
]


def _td_pad(df: DataFrame, family: str) -> DataFrame:
    """Project ``df`` onto the wide takedown schema: present columns
    keep their values (numerics cast to the pinned type), absent ones
    become typed NULLs."""
    cols = [F.lit(family).alias("family")]
    for name, styp, _ in _TD_COLS:
        if name in df.columns:
            c = F.col(name)
            if styp not in ("timestamp", "boolean"):
                c = c.cast(styp)
            cols.append(c.alias(name))
        else:
            cols.append(F.lit(None).cast(styp).alias(name))
    return df.select(*cols)


def _takedown_oracle() -> str:
    user_cut = (
        f"user_id % {_TD_USER_MOD} <> {_TD_USER_REM} OR user_id IS NULL"
    )
    branches = [
        (
            "dedup",
            QUERIES["dedup_retraction"].oracle,
            {"doc_id": "t.doc_id", "component_id": "t.component_id"},
        ),
        (
            "index",
            _ivfadc_oracle(
                k=5, cand_filter=f" AND b.vec_id % {_RETRACT_MOD} <> 0"
            ),
            {
                "query_id": "t.query_id",
                "vec_id": "t.vec_id",
                "sqdist": "t.sqdist",
                "rank": "t.rank",
            },
        ),
        (
            "rollup",
            _incremental_rollup_oracle().replace(
                "WHERE value IS NOT NULL",
                f"WHERE value IS NOT NULL AND ({user_cut})",
                1,
            ),
            {
                "event_type": "t.event_type",
                "n_events": "t.n_events",
                "sum_mils": "t.sum_mils",
                "min_mils": "t.min_mils",
                "max_mils": "t.max_mils",
                "p50_sketch_mils": "t.p50_sketch_mils",
            },
        ),
        (
            "scd2",
            QUERIES["scd2_event_history"].oracle.replace(
                "FROM events", f"FROM events WHERE {user_cut}", 1
            ),
            {
                "user_id": "t.user_id",
                "event_type": "t.event_type",
                "valid_from": "t.valid_from",
                "valid_to": "t.valid_to",
                "is_current": "t.is_current",
                "n_obs": "t.n_obs",
            },
        ),
    ]
    selects = []
    for family, subq, present in branches:
        exprs = [f"'{family}' AS family"]
        for name, _, dtyp in _TD_COLS:
            exprs.append(
                f"{present.get(name, f'CAST(NULL AS {dtyp})')} AS {name}"
            )
        selects.append(
            "SELECT " + ", ".join(exprs) + f" FROM ( {subq} ) t"
        )
    return " UNION ALL ".join(selects)


@register(
    "takedown_end_to_end",
    oracle=_takedown_oracle(),
    priority=80,  # enters via the r17 rotation (new registration tier)
    doc="TAKEDOWN CAPSTONE (r17, r16 verdict #2): ONE erasure event — "
    f"content (doc_id % {_RETRACT_MOD} == 0) and activity (user_id % "
    f"{_TD_USER_MOD} == {_TD_USER_REM}) — flows through the DELETE "
    "primitive of every persisted state family the engine maintains, "
    "in one registered query: (1) DEDUP — the band/label closure "
    "retracts via retract_components (touched components re-close "
    "over survivors only; 2 component minima removed, exercising the "
    "relabel path); (2) INDEX — the removed vec_ids land as LSM "
    "tombstones (delete_from_ivfadc_index), compaction PURGES exactly "
    "the touched cells, and the pruned probe runs over the bare "
    "survivors; (3) ROLLUP — per-type count/sum subtract exactly, "
    "sketch buckets retract via subtract_sketches, and the "
    "non-invertible min/max re-derive over surviving rows of touched "
    "groups only (the user cut was probed to remove a group extremum, "
    "so the re-derive actually fires); (4) SCD2 — the erased users' "
    "interval histories close out of the dimension state via one "
    "broadcast anti-join.  Every family's output lands in one wide "
    "frame (typed NULLs off-family), and the oracle is the UNION of "
    "each family's FULL RECOMPUTE over the surviving corpus: the hash "
    "match proves the four delete paths COMPOSE — one GDPR/TTL batch, "
    "four state families, zero full rebuilds.  Per-family costs are "
    "the delta-bounded terms their standalone siblings anchor "
    "(dedup_retraction / index_tombstone_delete / rollup_retraction "
    "SCALING.md entries); at 100 TB the only full scans are the ones "
    "a fresh state build would pay anyway, and each family's "
    "maintenance is O(delta)-bounded.",
)
def q_takedown_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from pyspark.sql import types as T

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    ev = load_table(spark, sf_dir, "events")
    removed_docs = docs.filter(
        F.col("doc_id") % _RETRACT_MOD == 0
    ).select("doc_id")

    # (1) dedup: persisted band/label state, retracted (the
    # dedup_retraction body — the capstone composes, not re-derives)
    banded = dd.band_signatures(
        dd.minhash_signatures(docs)
    ).localCheckpoint()
    labels = dd.connected_components(dd.banded_candidate_pairs(banded))
    fam_dedup = dd.retract_components(labels, banded, removed_docs)

    # (2) index: tombstone -> purge -> probe over the bare survivors
    work = tempfile.mkdtemp(prefix="takedown_idx_")
    try:
        store = os.path.join(work, "index")
        sim.write_ivfadc_index(
            sim.ivfadc_encode(emb, _IVFADC_CENTS, _IVFADC_CODEBOOKS), store
        )
        sim.delete_from_ivfadc_index(
            spark,
            store,
            emb.filter(F.col("vec_id") % _RETRACT_MOD == 0).select("vec_id"),
        )
        sim.compact_ivfadc_index(spark, store)
        probe = sim.ivfadc_search_pruned(
            spark,
            store,
            emb,
            _IVFADC_CENTS,
            _IVFADC_CODEBOOKS,
            query_ids=_QUERY_IDS,
            k=5,
            nprobe=_IVFADC_NPROBE,
            shortlist=_PQ_SHORTLIST,
        )
        idx_rows = probe.collect()  # bounded: |queries| x k
        idx_schema = probe.schema
    finally:
        shutil.rmtree(work, ignore_errors=True)
    fam_index = spark.createDataFrame(idx_rows, idx_schema)

    # (3) rollup: subtract + bounded re-derive (the rollup_retraction
    # body under the user cut)
    vals = (
        ev.filter(F.col("value").isNotNull())
        .withColumn("_mils", F.floor(F.col("value") * 1000).cast("long"))
    )
    user_removed = F.col("user_id") % _TD_USER_MOD == _TD_USER_REM
    removed_ev = vals.filter(user_removed)
    surviving_ev = vals.filter(~user_removed | F.col("user_id").isNull())

    def _state(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("_mils").alias("s"),
            F.min("_mils").alias("mn"),
            F.max("_mils").alias("mx"),
        )

    state = _state(vals)
    rstate = _state(removed_ev).select(
        "event_type",
        F.col("cnt").alias("_rc"),
        F.col("s").alias("_rs"),
    )
    scal = (
        state.join(rstate, "event_type", "left")
        .select(
            "event_type",
            (F.col("cnt") - F.coalesce("_rc", F.lit(0))).alias("n_events"),
            (F.col("s") - F.coalesce("_rs", F.lit(0))).alias("sum_mils"),
            "mn",
            "mx",
            F.col("_rc").isNotNull().alias("_touched"),
        )
        .filter(F.col("n_events") > 0)
    )
    touched = rstate.select("event_type")
    mm_ = (
        surviving_ev.join(F.broadcast(touched), "event_type")
        .groupBy("event_type")
        .agg(F.min("_mils").alias("_nmn"), F.max("_mils").alias("_nmx"))
    )
    scal = scal.join(mm_, "event_type", "left").select(
        "event_type",
        "n_events",
        "sum_mils",
        F.when(F.col("_touched"), F.col("_nmn"))
        .otherwise(F.col("mn"))
        .alias("min_mils"),
        F.when(F.col("_touched"), F.col("_nmx"))
        .otherwise(F.col("mx"))
        .alias("max_mils"),
    )
    mk = ("event_type",)
    sk = qa.subtract_sketches(
        qa.quantile_sketch(vals, F.col("_mils"), m=_QSK_M, group_cols=mk),
        qa.quantile_sketch(
            removed_ev, F.col("_mils"), m=_QSK_M, group_cols=mk
        ),
        group_cols=mk,
    )
    p50 = qa.sketch_quantiles(sk, [50], m=_QSK_M, group_cols=mk).select(
        "event_type", F.col("sketch_cents").alias("p50_sketch_mils")
    )
    fam_rollup = scal.join(p50, "event_type")

    # (4) scd2: interval close-out — the persisted dimension history
    # drops the erased users via one broadcast anti-join (per-user
    # islands are independent, so key-level delete == recompute on
    # survivors; the oracle proves it)
    hist = scd2_intervals(ev, "user_id", "event_type", "ts", "event_id")
    rm_users = (
        ev.filter(user_removed)
        .select(F.col("user_id").alias("key"))
        .distinct()
    )
    fam_scd2 = (
        hist.join(F.broadcast(rm_users), "key", "left_anti")
        .select(
            F.col("key").alias("user_id"),
            F.col("attr").alias("event_type"),
            "valid_from",
            "valid_to",
            "is_current",
            "n_obs",
        )
    )

    out = _td_pad(fam_dedup, "dedup")
    for fam, df in [
        ("index", fam_index),
        ("rollup", fam_rollup),
        ("scd2", fam_scd2),
    ]:
        out = out.unionByName(_td_pad(df, fam))
    return out


# ---------------------------------------------------------------------------
# r17: compressed-audio + video-frame decode roundtrips (r16 verdict
# "What's missing #4" — the heavy-codec fallbacks, now real tiers)
# ---------------------------------------------------------------------------


@register(
    "multimodal_g711_roundtrip",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id,
             ((CAST(FLOOR(value * 1000) AS BIGINT) % 256 + 256) % 256) AS b,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      FROM events),
    t AS (SELECT user_id, b FROM s WHERE rn <= 48),
    uval AS (
      SELECT user_id,
             CASE WHEN (255 - b) >= 128
                  THEN 132 - ((((255 - b) % 16) * 8 + 132)
                              * (1 << (((255 - b) // 16) % 8)))
                  ELSE ((((255 - b) % 16) * 8 + 132)
                        * (1 << (((255 - b) // 16) % 8))) - 132
             END AS v
      FROM t),
    aval AS (
      SELECT user_id, CASE WHEN a >= 128 THEN m ELSE -m END AS v FROM (
        SELECT user_id, a,
               CASE WHEN (a // 16) % 8 = 0 THEN (a % 16) * 16 + 8
                    WHEN (a // 16) % 8 = 1 THEN (a % 16) * 16 + 264
                    ELSE ((a % 16) * 16 + 264) * (1 << ((a // 16) % 8 - 1))
               END AS m
        FROM (SELECT user_id, xor(b, 85) AS a FROM t))),
    samp AS (
      SELECT user_id, 'wav-g711u' AS decoder, v FROM uval
      UNION ALL
      SELECT user_id, 'wav-g711a' AS decoder, v FROM aval),
    agg AS (
      SELECT user_id, decoder, count(*) AS n, sum(v) AS sm,
             sum(v * v) AS s2, min(v) AS mn, max(v) AS mx
      FROM samp GROUP BY 1, 2)
    SELECT user_id AS doc_id, decoder,
           CAST(CAST(n AS REAL) AS DOUBLE) AS f0,
           CAST(CAST(1 AS REAL) AS DOUBLE) AS f1,
           CAST(CAST(8000 AS REAL) AS DOUBLE) AS f2,
           CAST(CAST(CAST(n AS DOUBLE) / CAST(8000 AS DOUBLE) AS REAL)
                AS DOUBLE) AS f3,
           CAST(CAST(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) AS REAL)
                AS DOUBLE) AS f4,
           CAST(CAST(sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) AS REAL)
                AS DOUBLE) AS f5,
           CAST(CAST(mn AS REAL) AS DOUBLE) AS f6,
           CAST(CAST(mx AS REAL) AS DOUBLE) AS f7
    FROM agg
    """,
    doc="Roundtrip proof for BOTH r17 G.711 decode tiers (r16 verdict "
    "missing #4, compressed audio): per user, derive a deterministic "
    "byte train from the events table (pmod-256, first 48 by "
    "event_id), wrap it as TWO RIFF/WAVE payloads — format code 7 "
    "(mu-law) and 6 (A-law) — in one Arrow pass, route both through "
    "decode_features' magic dispatch (fake=False: any fallback "
    "raises), and emit the per-codec provenance + audio features.  "
    "The oracle re-expands every byte with the ITU integer formulas "
    "IN SQL (complement/segment/mantissa arithmetic — no codec, no "
    "float until the final REAL replay), so a hash match proves the "
    "decoder's expansion — already pinned byte-for-byte to audioop in "
    "pytest — survives the full engine path bit-exactly.  Scale "
    "shape: one bounded per-user aggregate, two narrow Arrow passes, "
    "no collect, no extra exchange beyond the per-user groupBy.",
)
def q_multimodal_g711_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.pmod(
            F.floor(F.col("value") * 1000).cast("long"), F.lit(256)
        ).alias("b"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.transform(
            F.slice(
                F.array_sort(F.collect_list(F.struct("event_id", "b"))),
                1,
                48,
            ),
            lambda x: x["b"],
        ).alias("bs")
    )

    def encode(batches):
        # self-contained (cloudpickle by value): raw G.711 bytes ARE
        # the WAV data chunk — the expansion itself is the decoder's
        import struct as _struct

        def wav(code, data):
            fmt = _struct.pack("<HHIIHH", code, 1, 8000, 8000, 1, 8)
            body = (
                b"WAVEfmt " + _struct.pack("<I", len(fmt)) + fmt
                + b"data" + _struct.pack("<I", len(data)) + data
                + (b"\0" if len(data) & 1 else b"")
            )
            return b"RIFF" + _struct.pack("<I", len(body)) + body

        for pdf in batches:
            out = {"doc_id": [], "payload": [], "media_type": []}
            for uid, bs in zip(pdf["user_id"], pdf["bs"]):
                data = bytes(int(v) for v in bs)
                for code in (7, 6):
                    out["doc_id"].append(uid)
                    out["payload"].append(wav(code, data))
                    out["media_type"].append("audio/wav")
            yield pd.DataFrame(out)

    media = per_user.mapInPandas(
        encode, "doc_id bigint, payload binary, media_type string"
    )
    feats = mm.decode_features(media, fake=False, route_magic=True)
    return feats.select(
        "doc_id",
        "decoder",
        *[
            F.col("feature")[i].cast("double").alias(f"f{i}")
            for i in range(8)
        ],
    )


@register(
    "multimodal_adpcm_roundtrip",
    oracle="""
    WITH RECURSIVE nib AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id)
               AS rn,
             ((CAST(FLOOR(value * 1000) AS BIGINT) % 16 + 16) % 16) AS nv
      FROM events QUALIFY rn <= 32),
    dec AS (
      SELECT user_id, 0 AS rn, 0 AS pred, 0 AS idx
      FROM (SELECT DISTINCT user_id FROM nib)
      UNION ALL
      SELECT user_id, rn,
             GREATEST(-32768, LEAST(32767,
                 pred0 + CASE WHEN nv >= 8 THEN -df ELSE df END)) AS pred,
             GREATEST(0, LEAST(88, idx0
                 + [-1,-1,-1,-1,2,4,6,8,
                    -1,-1,-1,-1,2,4,6,8][nv + 1])) AS idx
      FROM (
        SELECT user_id, rn, nv, pred0, idx0,
               (step // 8)
               + CASE WHEN nv % 2 = 1 THEN step // 4 ELSE 0 END
               + CASE WHEN (nv // 2) % 2 = 1 THEN step // 2 ELSE 0 END
               + CASE WHEN (nv // 4) % 2 = 1 THEN step ELSE 0 END AS df
        FROM (
          SELECT d.user_id, n.rn, n.nv, d.pred AS pred0, d.idx AS idx0,
                 [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,
                  41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,
                  173,190,209,230,253,279,307,337,371,408,449,494,544,
                  598,658,724,796,876,963,1060,1166,1282,1411,1552,
                  1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,
                  4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,
                  11487,12635,13899,15289,16818,18500,20350,22385,
                  24623,27086,29794,32767][d.idx + 1] AS step
          FROM dec d JOIN nib n
            ON n.user_id = d.user_id AND n.rn = d.rn + 1
        ) inner_step
      ) with_diff),
    agg AS (
      SELECT user_id, count(*) AS n, sum(pred) AS sm,
             sum(pred * pred) AS s2, min(pred) AS mn, max(pred) AS mx
      FROM dec GROUP BY 1)
    SELECT user_id AS doc_id,
           'wav-ima-adpcm' AS decoder,
           CAST(CAST(n AS REAL) AS DOUBLE) AS f0,
           CAST(CAST(1 AS REAL) AS DOUBLE) AS f1,
           CAST(CAST(8000 AS REAL) AS DOUBLE) AS f2,
           CAST(CAST(CAST(n AS DOUBLE) / CAST(8000 AS DOUBLE) AS REAL)
                AS DOUBLE) AS f3,
           CAST(CAST(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) AS REAL)
                AS DOUBLE) AS f4,
           CAST(CAST(sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) AS REAL)
                AS DOUBLE) AS f5,
           CAST(CAST(mn AS REAL) AS DOUBLE) AS f6,
           CAST(CAST(mx AS REAL) AS DOUBLE) AS f7
    FROM agg
    """,
    doc="Roundtrip proof for the r17 mono IMA/DVI ADPCM tier: per "
    "user, derive a deterministic NIBBLE train from the events table "
    "(pmod-16, first 32 by event_id), pack it as a single ADPCM "
    "block (pred=0/index=0 header, low nibble first, "
    "samples-per-block in the fmt extension), decode through the "
    "engine's magic dispatch (fake=False), and emit the audio "
    "features.  The oracle replays the ENTIRE stateful decode "
    "recurrence as a recursive CTE — the 89-entry step table and the "
    "index-delta table as SQL list literals, predictor clamping and "
    "index saturation per step — over the same nibble derivation, so "
    "a hash match proves the engine's ADPCM state machine is "
    "bit-identical to an independent relational replay (the nibble "
    "recurrence itself is additionally pinned to audioop in pytest).  "
    "This is the strongest oracle form in the multimodal family: a "
    "STATEFUL codec proven against pure SQL.  Scale shape: bounded "
    "per-user aggregate, two narrow Arrow passes, no collect.",
)
def q_multimodal_adpcm_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.pmod(
            F.floor(F.col("value") * 1000).cast("long"), F.lit(16)
        ).alias("nv"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.transform(
            F.slice(
                F.array_sort(F.collect_list(F.struct("event_id", "nv"))),
                1,
                32,
            ),
            lambda x: x["nv"],
        ).alias("nibs")
    )

    def encode(batches):
        import struct as _struct

        def wav(nibs):
            packed = bytearray()
            for i in range(0, len(nibs), 2):
                lo = nibs[i]
                hi = nibs[i + 1] if i + 1 < len(nibs) else 0
                packed.append((hi << 4) | lo)  # low nibble first
            data = _struct.pack("<hBB", 0, 0, 0) + bytes(packed)
            balign = len(data)
            spb = len(nibs) + 1  # header sample + one per nibble
            fmt = _struct.pack(
                "<HHIIHHHH", 0x11, 1, 8000, 4055, balign, 4, 2, spb
            )
            body = (
                b"WAVEfmt " + _struct.pack("<I", len(fmt)) + fmt
                + b"data" + _struct.pack("<I", len(data)) + data
                + (b"\0" if len(data) & 1 else b"")
            )
            return b"RIFF" + _struct.pack("<I", len(body)) + body

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["user_id"],
                    "payload": [
                        wav([int(v) for v in ns]) for ns in pdf["nibs"]
                    ],
                    "media_type": "audio/wav",
                }
            )

    media = per_user.mapInPandas(
        encode, "doc_id bigint, payload binary, media_type string"
    )
    feats = mm.decode_features(media, fake=False, route_magic=True)
    return feats.select(
        "doc_id",
        "decoder",
        *[
            F.col("feature")[i].cast("double").alias(f"f{i}")
            for i in range(8)
        ],
    )


@register(
    "multimodal_flac_roundtrip",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id,
             ((CAST(FLOOR(value * 1000) AS BIGINT) % 28000 + 28000)
               % 28000) - 14000 AS smp,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id)
               AS rn
      FROM events),
    t AS (SELECT user_id, smp FROM s WHERE rn <= 40),
    agg AS (
      SELECT user_id, count(*) AS n, sum(smp) AS sm,
             sum(smp * smp) AS s2, min(smp) AS mn, max(smp) AS mx
      FROM t GROUP BY user_id)
    SELECT user_id AS doc_id,
           'flac-pcm' AS decoder,
           CAST(CAST(n AS REAL) AS DOUBLE) AS f0,
           CAST(CAST(1 AS REAL) AS DOUBLE) AS f1,
           CAST(CAST(8000 AS REAL) AS DOUBLE) AS f2,
           CAST(CAST(CAST(n AS DOUBLE) / CAST(8000 AS DOUBLE) AS REAL)
                AS DOUBLE) AS f3,
           CAST(CAST(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) AS REAL)
                AS DOUBLE) AS f4,
           CAST(CAST(sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) AS REAL)
                AS DOUBLE) AS f5,
           CAST(CAST(mn AS REAL) AS DOUBLE) AS f6,
           CAST(CAST(mx AS REAL) AS DOUBLE) AS f7
    FROM agg
    """,
    doc="Roundtrip proof for the r17 pure-stdlib FLAC decoder: per "
    "user, derive a deterministic int16 train from the events table "
    "(pmod-quantized, first 40 by event_id), ENCODE it as a real "
    "FLAC stream in an executor — STREAMINFO, frame header with "
    "CRC-8, a FIXED order-2 predictor subframe (verbatim below 3 "
    "samples) with partitioned-Rice residuals, frame CRC-16 — then "
    "decode through the engine's magic dispatch (fake=False) and "
    "emit the audio features.  FLAC is LOSSLESS, so the oracle "
    "recomputes the features directly from the sample derivation "
    "without modeling the codec at all: the hash match proves "
    "encode->decode inverts bit-for-bit through the whole engine "
    "path (subframe reconstruction, Rice unary/remainder decode, "
    "both CRCs).  Every decoder branch beyond this one (LPC, all "
    "stereo decorrelations, method-1 Rice, escapes, wasted bits) is "
    "golden-pinned in pytest.  Scale shape: bounded per-user "
    "aggregate, two narrow Arrow passes, no collect.",
)
def q_multimodal_flac_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        (
            F.pmod(
                F.floor(F.col("value") * 1000).cast("long"), F.lit(28000)
            )
            - 14000
        ).alias("smp"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.transform(
            F.slice(
                F.array_sort(F.collect_list(F.struct("event_id", "smp"))),
                1,
                40,
            ),
            lambda x: x["smp"],
        ).alias("samples")
    )

    def encode(batches):
        # self-contained minimal FLAC encoder (mono 16-bit, one frame,
        # fixed order-2 + Rice method 0 / partition order 0)
        def crc8(data):
            c = 0
            for byte in data:
                c ^= byte
                for _ in range(8):
                    c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1) & 0xFF
            return c

        def crc16(data):
            c = 0
            for byte in data:
                c ^= byte << 8
                for _ in range(8):
                    c = (
                        ((c << 1) ^ 0x8005) & 0xFFFF
                        if c & 0x8000
                        else (c << 1) & 0xFFFF
                    )
            return c

        class W:
            def __init__(self):
                self.buf, self.acc, self.nb = bytearray(), 0, 0

            def w(self, val, n):
                self.acc = (self.acc << n) | (val & ((1 << n) - 1))
                self.nb += n
                while self.nb >= 8:
                    self.nb -= 8
                    self.buf.append((self.acc >> self.nb) & 0xFF)
                self.acc &= (1 << self.nb) - 1

            def align(self):
                if self.nb:
                    self.w(0, 8 - self.nb)

        def rice(w, resid):
            w.w(0, 2)  # method 0
            w.w(0, 4)  # partition order 0
            zig = [
                (e << 1) if e >= 0 else ((-e) << 1) - 1 for e in resid
            ]
            mx = max(zig, default=0)
            param = 0
            while (mx >> param) > 30 and param < 14:
                param += 1
            w.w(param, 4)
            for u in zig:
                for _ in range(u >> param):
                    w.w(0, 1)
                w.w(1, 1)
                if param:
                    w.w(u, param)

        def flac(samples):
            n = len(samples)
            si = W()
            si.w(n, 16)
            si.w(n, 16)
            si.w(0, 24)
            si.w(0, 24)
            si.w(8000, 20)
            si.w(0, 3)  # mono
            si.w(15, 5)  # 16-bit
            si.w(n, 36)
            si.align()
            body = bytes(si.buf) + b"\x00" * 16
            out = bytearray(b"fLaC")
            out += b"\x80" + len(body).to_bytes(3, "big") + body
            w = W()
            w.w(0x3FFE, 14)
            w.w(0, 2)
            w.w(7, 4)  # 16-bit blocksize field
            w.w(0, 4)  # rate from STREAMINFO
            w.w(0, 4)  # mono
            w.w(4, 3)  # 16-bit samples
            w.w(0, 1)
            w.w(0, 8)  # frame 0
            w.w(n - 1, 16)
            w.align()
            hdr = bytes(w.buf)
            frame = bytearray(hdr + bytes([crc8(hdr)]))
            w2 = W()
            w2.w(0, 1)
            if n >= 3:
                w2.w(10, 6)  # FIXED order 2
                w2.w(0, 1)
                w2.w(samples[0], 16)
                w2.w(samples[1], 16)
                rice(
                    w2,
                    [
                        samples[i] - 2 * samples[i - 1] + samples[i - 2]
                        for i in range(2, n)
                    ],
                )
            else:
                w2.w(1, 6)  # VERBATIM
                w2.w(0, 1)
                for v in samples:
                    w2.w(v, 16)
            w2.align()
            frame += bytes(w2.buf)
            c = crc16(bytes(frame))
            return bytes(out + frame + bytes([c >> 8, c & 0xFF]))

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["user_id"],
                    "payload": [
                        flac([int(v) for v in s]) for s in pdf["samples"]
                    ],
                    "media_type": "audio/flac",
                }
            )

    media = per_user.mapInPandas(
        encode, "doc_id bigint, payload binary, media_type string"
    )
    feats = mm.decode_features(media, fake=False, route_magic=True)
    return feats.select(
        "doc_id",
        "decoder",
        *[
            F.col("feature")[i].cast("double").alias(f"f{i}")
            for i in range(8)
        ],
    )


@register(
    "video_frame_decode",
    oracle="""
    WITH s AS (
      SELECT user_id,
             ((CAST(FLOOR(value * 1000) AS BIGINT) % 256 + 256) % 256)
               - 128 AS dc,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id)
               AS rn
      FROM events)
    SELECT user_id AS doc_id,
           CAST(rn - 1 AS INTEGER) AS frame_idx,
           CAST((rn - 1) * 100 AS BIGINT) AS dts,
           'mp4-stbl' AS sampler,
           'jpeg-pixel' AS decoder,
           CAST(CAST(8 AS REAL) AS DOUBLE) AS f0,
           CAST(CAST(8 AS REAL) AS DOUBLE) AS f1,
           CAST(CAST(64 AS REAL) AS DOUBLE) AS f2,
           CAST(CAST(128 + dc AS REAL) AS DOUBLE) AS f3,
           CAST(CAST(128 + dc AS REAL) AS DOUBLE) AS f4,
           CAST(CAST(128 + dc AS REAL) AS DOUBLE) AS f5,
           CAST(CAST(128 + dc AS REAL) AS DOUBLE) AS f6,
           CAST(CAST(128 + dc AS REAL) AS DOUBLE) AS f7
    FROM s WHERE rn <= 4
    """,
    doc="VIDEO FRAME DECODE end to end (r16 verdict missing #4, the "
    "video half — frame decode was fully fake-moments before r17): "
    "per user, derive up to 4 DC levels from the events table, "
    "encode each as a DC-only baseline JPEG (Q00=8 makes the flat "
    "IDCT block exactly 128+dc with zero rounding ambiguity), pack "
    "them as the samples of a single-track ISO BMFF container "
    "(ftyp+mdat+moov with a full stts/stsc/stsz/stco set) — an "
    "MJPEG-flavored track, the real archival/webcam format family — "
    "and run decode_frame_features(fake=False): the fused stbl "
    "slicer + JPEG pixel tier decodes every frame FOR REAL in one "
    "Arrow pass.  The oracle recomputes frame identity (index, stts "
    "dts) and all eight pixel statistics from the DC derivation "
    "alone, so a hash match proves container arithmetic + entropy "
    "decode + IDCT end to end.  Codec-packed tracks keep the loud "
    "fallback contract (pytest).  Scale shape: bounded per-user "
    "aggregate, two narrow Arrow passes, no collect, no shuffle "
    "beyond the per-user groupBy.",
)
def q_video_frame_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        (
            F.pmod(
                F.floor(F.col("value") * 1000).cast("long"), F.lit(256)
            )
            - 128
        ).alias("dc"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.transform(
            F.slice(
                F.array_sort(F.collect_list(F.struct("event_id", "dc"))),
                1,
                4,
            ),
            lambda x: x["dc"],
        ).alias("dcs")
    )

    def encode(batches):
        import struct as _struct

        def jpeg_dc(dc8):
            q = bytes([8] + [1] * 63)
            dqt = b"\xff\xdb" + _struct.pack(">H", 67) + b"\x00" + q
            sof = (
                b"\xff\xc0" + _struct.pack(">H", 11) + b"\x08"
                + _struct.pack(">HH", 8, 8) + b"\x01" + b"\x01\x11\x00"
            )
            counts = [0] * 16
            counts[3] = 12
            dht_dc = (
                b"\xff\xc4" + _struct.pack(">H", 31) + b"\x00"
                + bytes(counts) + bytes(range(12))
            )
            counts2 = [0] * 16
            counts2[1] = 1
            dht_ac = (
                b"\xff\xc4" + _struct.pack(">H", 20) + b"\x10"
                + bytes(counts2) + b"\x00"
            )
            sos = (
                b"\xff\xda" + _struct.pack(">H", 8) + b"\x01"
                + b"\x01\x00" + b"\x00\x3f\x00"
            )
            s = abs(dc8).bit_length()
            bits = [(s, 4)]
            if s:
                bits.append((dc8 if dc8 >= 0 else dc8 + (1 << s) - 1, s))
            bits.append((0, 2))
            acc, nb, out = 0, 0, bytearray()
            for v, n in bits:
                acc = (acc << n) | (v & ((1 << n) - 1))
                nb += n
                while nb >= 8:
                    nb -= 8
                    byte = (acc >> nb) & 0xFF
                    out.append(byte)
                    if byte == 0xFF:
                        out.append(0x00)
            if nb:
                pad = 8 - nb
                byte = ((acc << pad) | ((1 << pad) - 1)) & 0xFF
                out.append(byte)
                if byte == 0xFF:
                    out.append(0x00)
            return (
                b"\xff\xd8" + dqt + sof + dht_dc + dht_ac + sos
                + bytes(out) + b"\xff\xd9"
            )

        def box(t, payload):
            return _struct.pack(">I", 8 + len(payload)) + t + payload

        def mp4(jpegs):
            ftyp = box(b"ftyp", b"isom" + _struct.pack(">I", 0) + b"isom")
            mdat = box(b"mdat", b"".join(jpegs))
            base = len(ftyp) + 8
            n = len(jpegs)
            stts = box(
                b"stts",
                _struct.pack(">II", 0, 1) + _struct.pack(">II", n, 100),
            )
            stsc = box(
                b"stsc",
                _struct.pack(">II", 0, 1) + _struct.pack(">III", 1, n, 1),
            )
            stsz = box(
                b"stsz",
                _struct.pack(">III", 0, 0, n)
                + b"".join(_struct.pack(">I", len(j)) for j in jpegs),
            )
            stco = box(
                b"stco", _struct.pack(">II", 0, 1) + _struct.pack(">I", base)
            )
            stbl = box(b"stbl", stts + stsc + stsz + stco)
            hdlr = box(b"hdlr", bytes(8) + b"vide" + bytes(12) + b"mj\x00")
            mdia = box(b"mdia", hdlr + box(b"minf", stbl))
            tkhd = box(
                b"tkhd", bytes(80) + _struct.pack(">II", 8 << 16, 8 << 16)
            )
            trak = box(b"trak", tkhd + mdia)
            mvhd = box(
                b"mvhd",
                bytes(4)
                + _struct.pack(">IIII", 0, 0, 1000, n * 100)
                + bytes(80),
            )
            return ftyp + mdat + box(b"moov", mvhd + trak)

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["user_id"],
                    "payload": [
                        mp4([jpeg_dc(int(v)) for v in dcs])
                        for dcs in pdf["dcs"]
                    ],
                    "media_type": "video/mp4",
                }
            )

    media = per_user.mapInPandas(
        encode, "doc_id bigint, payload binary, media_type string"
    )
    feats = mm.decode_frame_features(media, fake=False)
    return feats.select(
        "doc_id",
        "frame_idx",
        "dts",
        "sampler",
        "decoder",
        *[
            F.col("feature")[i].cast("double").alias(f"f{i}")
            for i in range(8)
        ],
    )


@register(
    "multimodal_gif_roundtrip",
    oracle="""
    WITH s AS (
      SELECT user_id, event_id,
             ((CAST(FLOOR(value * 1000) AS BIGINT) % 256 + 256) % 256) AS v,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id)
               AS rn
      FROM events),
    t AS (SELECT user_id, v FROM s WHERE rn <= 24),
    agg AS (
      SELECT user_id, count(*) AS n, sum(v) AS sm,
             min(v) AS mn, max(v) AS mx
      FROM t GROUP BY user_id)
    SELECT user_id AS doc_id,
           'gif-pixel' AS decoder,
           CAST(CAST(n AS REAL) AS DOUBLE) AS f0,
           CAST(CAST(1 AS REAL) AS DOUBLE) AS f1,
           CAST(CAST(n AS REAL) AS DOUBLE) AS f2,
           CAST(CAST(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) AS REAL)
                AS DOUBLE) AS f3,
           CAST(CAST(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) AS REAL)
                AS DOUBLE) AS f4,
           CAST(CAST(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) AS REAL)
                AS DOUBLE) AS f5,
           CAST(CAST(mn AS REAL) AS DOUBLE) AS f6,
           CAST(CAST(mx AS REAL) AS DOUBLE) AS f7
    FROM agg
    """,
    doc="Roundtrip proof for the r17 GIF decode tier: per user, "
    "derive up to 24 grayscale levels from the events table, encode "
    "them as an n-x-1 GIF89a (256-entry grayscale table, clear-heavy "
    "LZW — a valid stream per the deferred-clear rules), route "
    "through decode_features' magic dispatch (fake=False), and emit "
    "the pixel features.  GIF is palette-lossless, so the oracle "
    "recomputes the statistics straight from the level derivation "
    "(grayscale makes mean_r=mean_g=mean_b=mean and luma==level "
    "exactly under the integer Rec.601 weights): a hash match proves "
    "LZW decode + palette lookup end to end.  Growing-width LZW, "
    "interlace, local tables and malformed-stream rejection are "
    "golden-pinned in pytest against an independent giflib-rule "
    "compressor.  Scale shape: bounded per-user aggregate, two "
    "narrow Arrow passes, no collect.",
)
def q_multimodal_gif_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.pmod(
            F.floor(F.col("value") * 1000).cast("long"), F.lit(256)
        ).alias("v"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.transform(
            F.slice(
                F.array_sort(F.collect_list(F.struct("event_id", "v"))),
                1,
                24,
            ),
            lambda x: x["v"],
        ).alias("vs")
    )

    def encode(batches):
        import struct as _struct

        def gif(levels):
            # n x 1 grayscale image, 256-entry global table (level ->
            # (level, level, level)), clear-code-heavy LZW (width
            # pinned at 9 bits)
            n = len(levels)
            table = bytes(c for v in range(256) for c in (v, v, v))
            out = bytearray(
                b"GIF89a"
                + _struct.pack("<HHBBB", n, 1, 0x87, 0, 0)
                + table
            )
            out += b"\x2c" + _struct.pack("<HHHHB", 0, 0, n, 1, 0)
            out.append(8)  # LZW min code size
            codes, cnt = [256], 0
            for v in levels:
                if cnt >= 254:
                    codes.append(256)
                    cnt = 0
                codes.append(v)
                cnt += 1
            codes.append(257)
            acc = nb = 0
            data = bytearray()
            for c in codes:
                acc |= c << nb
                nb += 9
                while nb >= 8:
                    data.append(acc & 0xFF)
                    acc >>= 8
                    nb -= 8
            if nb:
                data.append(acc & 0xFF)
            for i in range(0, len(data), 255):
                chunk = data[i : i + 255]
                out.append(len(chunk))
                out += chunk
            out += b"\x00\x3b"
            return bytes(out)

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["user_id"],
                    "payload": [
                        gif([int(v) for v in vs]) for vs in pdf["vs"]
                    ],
                    "media_type": "image/gif",
                }
            )

    media = per_user.mapInPandas(
        encode, "doc_id bigint, payload binary, media_type string"
    )
    feats = mm.decode_features(media, fake=False, route_magic=True)
    return feats.select(
        "doc_id",
        "decoder",
        *[
            F.col("feature")[i].cast("double").alias(f"f{i}")
            for i in range(8)
        ],
    )


@register(
    "multimodal_resize_roundtrip",
    oracle="""
    WITH s AS (
      SELECT user_id,
             ((CAST(FLOOR(value * 1000) AS BIGINT) % 256 + 256) % 256) AS v,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id)
               AS rn
      FROM events),
    arr AS (
      SELECT user_id, list(v ORDER BY rn) AS vs, count(*) AS n
      FROM s WHERE rn <= 24 GROUP BY user_id),
    px AS (
      SELECT user_id, vs[((xs.x * n) // 5) + 1] AS pv
      FROM arr, (SELECT unnest(generate_series(0, 4)) AS x) xs),
    agg AS (
      SELECT user_id, sum(pv) AS sm, min(pv) AS mn, max(pv) AS mx
      FROM px GROUP BY user_id)
    SELECT user_id AS doc_id,
           'ppm-bmp-pixel' AS decoder,
           CAST(CAST(5 AS REAL) AS DOUBLE) AS f0,
           CAST(CAST(3 AS REAL) AS DOUBLE) AS f1,
           CAST(CAST(15 AS REAL) AS DOUBLE) AS f2,
           CAST(CAST(CAST(sm AS DOUBLE) / CAST(5 AS DOUBLE) AS REAL)
                AS DOUBLE) AS f3,
           CAST(CAST(CAST(sm AS DOUBLE) / CAST(5 AS DOUBLE) AS REAL)
                AS DOUBLE) AS f4,
           CAST(CAST(CAST(sm AS DOUBLE) / CAST(5 AS DOUBLE) AS REAL)
                AS DOUBLE) AS f5,
           CAST(CAST(mn AS REAL) AS DOUBLE) AS f6,
           CAST(CAST(mx AS REAL) AS DOUBLE) AS f7
    FROM agg
    """,
    doc="Roundtrip proof for the r17 REAL image resize (the last fake "
    "in the brief's decode/feature/resize/frame-sample quartet): per "
    "user, derive up to 24 grayscale levels, encode an n-x-1 P6, run "
    "resize_media(fake=False) to 5x3 — decode, nearest-neighbor "
    "resample with the floor map src=(dst*src_dim)//dst_dim, "
    "re-encode P6 — then decode_features the RESIZED payload and "
    "emit its pixel stats.  The oracle replays the resample "
    "RELATIONALLY: a 5-element lateral picks vs[(x*n)//5] per target "
    "column (the 3 rows all map to source row 0, so the mean is "
    "sum/5 and min/max are over the 5 sampled levels) — a hash match "
    "proves decode -> index-arithmetic resample -> P6 re-encode -> "
    "re-decode end to end.  Golden pytest pins both-axis mapping and "
    "the GIF==PPM transcode identity.  Scale shape: bounded per-user "
    "aggregate, three narrow Arrow passes, no collect.",
)
def q_multimodal_resize_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.pmod(
            F.floor(F.col("value") * 1000).cast("long"), F.lit(256)
        ).alias("v"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.transform(
            F.slice(
                F.array_sort(F.collect_list(F.struct("event_id", "v"))),
                1,
                24,
            ),
            lambda x: x["v"],
        ).alias("vs")
    )

    def encode(batches):
        def p6(levels):
            return (
                b"P6\n%d 1\n255\n" % len(levels)
                + bytes(c for v in levels for c in (v, v, v))
            )

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["user_id"],
                    "payload": [
                        p6([int(v) for v in vs]) for vs in pdf["vs"]
                    ],
                    "media_type": "image/x-portable-pixmap",
                }
            )

    media = per_user.mapInPandas(
        encode, "doc_id bigint, payload binary, media_type string"
    )
    resized = mm.resize_media(media, width=5, height=3, fake=False)
    feats = mm.decode_features(
        resized.select("doc_id", "payload", "media_type"),
        fake=False,
        route_magic=True,
    )
    return feats.select(
        "doc_id",
        "decoder",
        *[
            F.col("feature")[i].cast("double").alias(f"f{i}")
            for i in range(8)
        ],
    )


@register(
    "multimodal_resample_roundtrip",
    oracle="""
    WITH s AS (
      SELECT user_id,
             ((CAST(FLOOR(value * 1000) AS BIGINT) % 256 + 256) % 256) AS b,
             row_number() OVER (PARTITION BY user_id ORDER BY event_id)
               AS rn
      FROM events),
    arr AS (
      SELECT user_id, list(b ORDER BY rn) AS bs, count(*) AS n,
             GREATEST(1, (count(*) * 3000) // 8000) AS n2
      FROM s WHERE rn <= 32 GROUP BY user_id),
    idx AS (
      SELECT user_id, n, n2, bs,
             unnest(generate_series(0, n2 - 1)) AS i
      FROM arr),
    v AS (
      SELECT user_id, n2,
             CASE WHEN (255 - b) >= 128
                  THEN 132 - ((((255 - b) % 16) * 8 + 132)
                              * (1 << (((255 - b) // 16) % 8)))
                  ELSE ((((255 - b) % 16) * 8 + 132)
                        * (1 << (((255 - b) // 16) % 8))) - 132
             END AS smp
      FROM (SELECT user_id, n2, bs[((i * n) // n2) + 1] AS b FROM idx)),
    agg AS (
      SELECT user_id, count(*) AS n, sum(smp) AS sm,
             sum(smp * smp) AS s2, min(smp) AS mn, max(smp) AS mx
      FROM v GROUP BY user_id)
    SELECT user_id AS doc_id,
           'wav-pcm' AS decoder,
           CAST(CAST(n AS REAL) AS DOUBLE) AS f0,
           CAST(CAST(1 AS REAL) AS DOUBLE) AS f1,
           CAST(CAST(3000 AS REAL) AS DOUBLE) AS f2,
           CAST(CAST(CAST(n AS DOUBLE) / CAST(3000 AS DOUBLE) AS REAL)
                AS DOUBLE) AS f3,
           CAST(CAST(CAST(sm AS DOUBLE) / CAST(n AS DOUBLE) AS REAL)
                AS DOUBLE) AS f4,
           CAST(CAST(sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) AS REAL)
                AS DOUBLE) AS f5,
           CAST(CAST(mn AS REAL) AS DOUBLE) AS f6,
           CAST(CAST(mx AS REAL) AS DOUBLE) AS f7
    FROM agg
    """,
    doc="Roundtrip proof for the r17 REAL audio resample: per user, "
    "derive up to 32 mu-law bytes, wrap them as a G.711 WAV at 8 kHz, "
    "run resample_audio(target_rate=3000) — decode (G.711 integer "
    "expansion), nearest-neighbor frame map n2=(n*3000)//8000 with "
    "src=(i*n)//n2, re-encode PCM16 — then decode_features the "
    "RESAMPLED payload (provenance flips to wav-pcm: the transcode "
    "leg is part of the proof) and emit its audio stats.  The oracle "
    "replays BOTH codec stages relationally: the index map as a "
    "correlated generate_series lateral over the byte list, the "
    "expansion as the ITU integer formula — a hash match proves "
    "decode -> resample -> PCM16 re-encode -> re-decode end to end.  "
    "Scale shape: bounded per-user aggregate, three narrow Arrow "
    "passes, no collect.",
)
def q_multimodal_resample_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.pmod(
            F.floor(F.col("value") * 1000).cast("long"), F.lit(256)
        ).alias("b"),
    )
    per_user = ev.groupBy("user_id").agg(
        F.transform(
            F.slice(
                F.array_sort(F.collect_list(F.struct("event_id", "b"))),
                1,
                32,
            ),
            lambda x: x["b"],
        ).alias("bs")
    )

    def encode(batches):
        import struct as _struct

        def wav(data):
            fmt = _struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8)
            body = (
                b"WAVEfmt " + _struct.pack("<I", len(fmt)) + fmt
                + b"data" + _struct.pack("<I", len(data)) + data
                + (b"\0" if len(data) & 1 else b"")
            )
            return b"RIFF" + _struct.pack("<I", len(body)) + body

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["user_id"],
                    "payload": [
                        wav(bytes(int(v) for v in bs))
                        for bs in pdf["bs"]
                    ],
                    "media_type": "audio/wav",
                }
            )

    media = per_user.mapInPandas(
        encode, "doc_id bigint, payload binary, media_type string"
    )
    resampled = mm.resample_audio(media, target_rate=3000)
    feats = mm.decode_features(
        resampled.select("doc_id", "payload", "media_type"),
        fake=False,
        route_magic=True,
    )
    return feats.select(
        "doc_id",
        "decoder",
        *[
            F.col("feature")[i].cast("double").alias(f"f{i}")
            for i in range(8)
        ],
    )
